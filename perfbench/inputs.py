"""Seeded input generation for the benchmark workloads.

Inputs are written as parquet files by the driver process itself
(pyarrow, no Spark job), so the program under test sees only files, as
a submitted job does.  Every row comes from ``mismo_spark.corpus``'s
per-entity generator, the same one ``make_corpus`` distributes: the
pages are byte-identical to ``make_corpus(spark, n, seed=seed)``.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mismo_spark.corpus import _entity_rows

# make_corpus's defaults
N_DOMAINS = 500
SKEW_EVERY = 1000
# fixed file count: the input layout must not depend on the host
N_FILES = 8

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("label_true", pa.int64()),
    ]
)

RECORDS_SCHEMA = pa.schema(
    [
        ("record_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("digest", pa.string()),
        ("label_true", pa.int64()),
    ]
)


def corpus_rows(n_entities: int, seed: int) -> list[tuple]:
    """(url, warc_ts, html, text, lang, label_true) for every page."""
    return [
        row
        for entity in range(n_entities)
        for row in _entity_rows(
            entity, seed=seed, n_domains=N_DOMAINS, skew_every=SKEW_EVERY
        )
    ]


def _table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {f.name: pa.array(c, f.type) for f, c in zip(schema, cols)}, schema=schema
    )


def write_pages(path: str, n_entities: int, seed: int) -> int:
    """Write the web-page corpus as ``N_FILES`` parquet files under
    ``path``; → page count."""
    rows = corpus_rows(n_entities, seed)
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            _table(rows[i * step : (i + 1) * step], PAGES_SCHEMA),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )
    return len(rows)


def digest(text: str) -> str:
    """Content fingerprint, as a crawler records it: a hash of the
    case- and whitespace-normalised page text."""
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    return hashlib.sha1(norm.encode()).hexdigest()[:16]


def write_recrawl(
    base_path: str,
    drops_dir: str,
    n_entities: int,
    seed: int,
    *,
    n_drops: int,
    new_per_drop: int,
    mirrors_per_drop: int,
) -> dict:
    """Split a crawl by ``warc_ts``: the oldest pages form the base,
    the newest ``n_drops * new_per_drop`` pages arrive as drops, one
    parquet file each, together with mirrored recrawls of base pages
    (same content under a mirror host, newer timestamp).

    Drop files get increasing mtimes, so a file stream reading one file
    per trigger takes them in drop order.  → sizes."""
    rows = sorted(corpus_rows(n_entities, seed), key=lambda r: (r[1], r[0]))
    n_new = n_drops * new_per_drop
    base, new = rows[:-n_new], rows[-n_new:]
    rng = np.random.RandomState(seed)

    def record(rid, url, ts, text, label):
        return (rid, url, ts, digest(text), label)

    base_records = [
        record(i, r[0], r[1], r[3], r[5]) for i, r in enumerate(base)
    ]
    os.makedirs(base_path, exist_ok=True)
    pq.write_table(
        _table(base_records, RECORDS_SCHEMA),
        os.path.join(base_path, "part-000.parquet"),
    )

    os.makedirs(drops_dir, exist_ok=True)
    next_id = len(base)
    last_ts = rows[-1][1]
    now = int(os.path.getmtime(base_path))
    drop_sizes = []
    for d in range(n_drops):
        drop = [
            record(next_id + i, r[0], r[1], r[3], r[5])
            for i, r in enumerate(new[d * new_per_drop : (d + 1) * new_per_drop])
        ]
        next_id += len(drop)
        for j in rng.choice(len(base), mirrors_per_drop, replace=False):
            url, _, _, text, _, label = base[j]
            mirror = url.replace("https://", f"https://mirror{d}.", 1)
            drop.append(record(next_id, mirror, last_ts, text, label))
            next_id += 1
        path = os.path.join(drops_dir, f"drop-{d:03d}.parquet")
        pq.write_table(_table(drop, RECORDS_SCHEMA), path)
        mtime = now - 10 * (n_drops - d)
        os.utime(path, (mtime, mtime))
        drop_sizes.append(len(drop))
    return {"base_records": len(base), "drop_records": drop_sizes}
