"""Round-2 additions: NameComparer levels, simhash contract +
signatures, md5 hash family, group_id null keys, typed
array_filter_isin_other, EM sampling, checkpoint invalidation."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mismo_spark.lib.name import (
    NameComparer,
    NameMatchLevel,
    are_aliases,
    name_match_level,
)


def _name_struct(prefix, given, middle, surname, suffix, nickname):
    return (prefix, given, middle, surname, suffix, nickname)


NAME_SCHEMA = (
    "struct<prefix:string,given:string,middle:string,"
    "surname:string,suffix:string,nickname:string>"
)


def test_name_match_levels(spark):
    """Level semantics of mismo/lib/name/_compare.py:53-107 — including
    the reference's case order (TYPO checked before INITIALS)."""
    base = _name_struct("", "ROBERT", "", "BAKER", "", "")
    cases = [
        # (right struct, expected level)
        (base, NameMatchLevel.EXACT),
        (_name_struct("MR", "ROBERT", "", "BAKER", "", ""), NameMatchLevel.GIVEN_SURNAME),
        (_name_struct("", "BOB", "", "BAKER", "", ""), NameMatchLevel.NICKNAMES),
        # DL 1 from ROBERT → TYPO
        (_name_struct("", "ROBRET", "", "BAKER", "", ""), NameMatchLevel.TYPO),
        # substring (>=3) of ROBERT, not a nickname → TYPO (checked
        # BEFORE INITIALS per the reference's case order)
        (_name_struct("", "ROBER", "", "BAKER", "", ""), NameMatchLevel.TYPO),
        # single initial → INITIALS (too far for typo, len 1 < 3 for substring)
        (_name_struct("", "R", "", "BAKER", "", ""), NameMatchLevel.INITIALS),
        (_name_struct("", "MARGARET", "", "BAKER", "", ""), NameMatchLevel.ELSE),
        (_name_struct("", None, "", "BAKER", "", ""), NameMatchLevel.NULL),
        (_name_struct("", "ROBERT", "", None, "", ""), NameMatchLevel.NULL),
        # different surname blocks every non-ELSE level except NULL
        (_name_struct("", "ROBERT", "", "SMITH", "", ""), NameMatchLevel.ELSE),
    ]
    df = spark.createDataFrame(
        [(i, base, r) for i, (r, _) in enumerate(cases)],
        f"i long, name_l {NAME_SCHEMA}, name_r {NAME_SCHEMA}",
    )
    out = NameComparer()(df).select("i", "name_l_vs_name_r").collect()
    got = {r["i"]: r["name_l_vs_name_r"] for r in out}
    for i, (_, expected) in enumerate(cases):
        assert got[i] == int(expected), f"case {i}: {got[i]} != {expected!r}"


def test_are_aliases(spark):
    df = spark.createDataFrame(
        [
            ("robert", "bob", True),
            ("bob", "robert", True),
            ("bob", "  ROBERT ", True),
            ("mary", "mary", True),
            ("robert", "mary", False),
            ("robert", "roberta", False),
        ],
        "a string, b string, expected boolean",
    )
    rows = df.select(
        "expected", are_aliases(F.col("a"), F.col("b")).alias("got")
    ).collect()
    for r in rows:
        assert r["got"] == r["expected"]


def test_name_match_level_column_fn(spark):
    """Direct column API parity with the class wrapper."""
    df = spark.createDataFrame(
        [(("", "WILLIAM", "", "SMITH", "", ""), ("", "BILL", "", "SMITH", "", ""))],
        f"l {NAME_SCHEMA}, r {NAME_SCHEMA}",
    )
    got = df.select(name_match_level(F.col("l"), F.col("r")).alias("lv")).head()["lv"]
    assert got == int(NameMatchLevel.NICKNAMES)


# ---------------------------------------------------------------------------
# simhash contract + signatures
# ---------------------------------------------------------------------------


def test_simhash_near_duplicates_raises_on_invalid_params(spark):
    df = spark.createDataFrame([(1, "a b c")], "record_id long, text string")
    from mismo_spark.dedupe import simhash_near_duplicates

    with pytest.raises(ValueError, match="pigeonhole|n_blocks"):
        simhash_near_duplicates(df, max_hamming=20, n_blocks=4)
    with pytest.raises(ValueError, match="divisible"):
        simhash_near_duplicates(df, max_hamming=6, n_blocks=7)


def test_simhash_near_duplicates_derives_n_blocks(spark):
    from mismo_spark.dedupe import simhash_near_duplicates

    df = spark.createDataFrame(
        [(1, "alpha bravo charlie delta"), (2, "alpha bravo charlie delta")],
        "record_id long, text string",
    )
    out = simhash_near_duplicates(df, max_hamming=7)  # n_blocks := 8
    got = {(r["record_id_l"], r["record_id_r"]): r["hamming"] for r in out.collect()}
    assert got == {(1, 2): 0}


def test_simhash_signatures_match_column_fn(spark):
    """explode→groupBy signatures == the F.aggregate column expression."""
    from mismo_spark.dedupe import simhash, simhash_signatures

    df = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo"),
            (2, "Alpha  bravo charlie DELTA echo"),
            (3, "totally different words here now"),
            (4, ""),
            (5, None),
        ],
        "record_id long, text string",
    )
    via_col = {
        r["record_id"]: r["sh"]
        for r in df.select(
            "record_id", simhash(F.col("text")).alias("sh")
        ).collect()
        if r["sh"] is not None
    }
    via_sig = {
        r["record_id"]: r["sh"] for r in simhash_signatures(df).collect()
    }
    assert via_sig == via_col
    assert 4 not in via_sig and 5 not in via_sig


def test_md5_hasher_lsh_finds_near_dups(spark):
    from mismo_spark.dedupe import minhash_near_duplicates

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely unrelated text about astronomy and stars"),
        ],
        "record_id long, text string",
    )
    out = minhash_near_duplicates(
        df, shingle_size=2, band_size=2, n_bands=16, min_jaccard=0.5, hasher="md5"
    )
    got = {(r["record_id_l"], r["record_id_r"]) for r in out.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


# ---------------------------------------------------------------------------
# group_id / arrays fixes
# ---------------------------------------------------------------------------


def test_group_id_null_keys(spark):
    from mismo_spark._util import group_id

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None), (5, "b")],
        "record_id long, k string",
    )
    out = group_id(df, ["k"]).collect()
    by_key: dict = {}
    for r in out:
        assert r["group_id"] is not None  # nulls get a real group code
        by_key.setdefault(r["k"], set()).add(r["group_id"])
    assert all(len(v) == 1 for v in by_key.values())
    assert len({next(iter(v)) for v in by_key.values()}) == 3


def test_array_filter_isin_other_long_elements(spark):
    from mismo_spark.arrays import array_filter_isin_other

    df = spark.createDataFrame(
        [(1, [10, 20, 30]), (2, [40]), (3, [])],
        "record_id long, xs array<bigint>",
    )
    other = spark.createDataFrame([(10,), (30,)], "v bigint")
    out = array_filter_isin_other(df, "xs", other, "v", result_name="kept")
    got = {r["record_id"]: r["kept"] for r in out.collect()}
    assert got == {1: [10, 30], 2: [], 3: []}


# ---------------------------------------------------------------------------
# similarity UDF batch wrapper
# ---------------------------------------------------------------------------


def test_apply_unique_dedup_and_nulls():
    from mismo_spark.text.similarity import _apply_unique, _jw_batch, _jaro_winkler

    calls = []

    def counting(a, b):
        calls.append(len(a))
        return _jw_batch(a, b)

    a = pd.Series(["abc", "abc", None, "xy", "abc"])
    b = pd.Series(["abd", "abd", "q", None, "abd"])
    out = _apply_unique(a, b, counting)
    assert calls == [1]  # 3 repeats of one unique pair computed once
    assert np.isnan(out[2]) and np.isnan(out[3])
    assert out[0] == pytest.approx(_jaro_winkler("abc", "abd"))
    assert out[0] == out[1] == out[4]


def test_jw_udf_matches_scalar(spark):
    from mismo_spark.text.similarity import _jaro_winkler, jaro_winkler_similarity

    rows = [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("", ""),
        ("", "a"),
        ("/doc/1/2", "/doc/1/3"),
        (None, "x"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(
        "a", "b", jaro_winkler_similarity(F.col("a"), F.col("b")).alias("jw")
    ).collect()
    for r in got:
        if r["a"] is None or r["b"] is None:
            assert np.isnan(r["jw"])
        else:
            assert r["jw"] == pytest.approx(_jaro_winkler(r["a"], r["b"]))


# ---------------------------------------------------------------------------
# EM sampling + checkpoint invalidation
# ---------------------------------------------------------------------------


def test_em_max_pairs_sampling(spark):
    """Sampled EM ≈ full EM, and the knob actually bounds the input."""
    from mismo_spark.pipeline import DedupePipeline

    n = 4000
    from mismo_spark.compare.enum import EnumComparer

    comparers = [
        EnumComparer("d0", [("hit", lambda df: df["d0"] == 0)]),
        EnumComparer("d1", [("hit", lambda df: df["d1"] == 0)]),
    ]
    compared = spark.range(n).select(
        F.col("id").alias("record_id_l"),
        (F.col("id") + n).alias("record_id_r"),
        (F.col("id") % 10 < 3).cast("int").alias("d0"),
        (F.xxhash64("id") % 4 == 0).cast("int").alias("d1"),
    )
    full = DedupePipeline(
        work_dir="/tmp/unused", checkpoint=False, comparers=comparers,
        em_max_pairs=10**9,
    )._train_weights(compared)
    sampled = DedupePipeline(
        work_dir="/tmp/unused", checkpoint=False, comparers=comparers,
        em_max_pairs=1000,
    )._train_weights(compared)
    for cw_f, cw_s in zip(full.comparers, sampled.comparers):
        for lw_f, lw_s in zip(cw_f.level_weights, cw_s.level_weights):
            assert lw_s.m == pytest.approx(lw_f.m, abs=0.08)
            assert lw_s.u == pytest.approx(lw_f.u, abs=0.08)


def test_checkpoint_fingerprint_chaining(spark, tmp_path, monkeypatch):
    """Changing an upstream param invalidates every downstream stage;
    changing only the threshold reuses 01-04 and the weights and
    recomputes 05+; changing the EM sample retrains the weights."""
    import json

    from mismo_spark.corpus import make_corpus
    from mismo_spark.pipeline import DedupePipeline

    trained = []
    train = DedupePipeline._train_weights

    def spy(self, compared):
        trained.append(self.em_max_pairs)
        return train(self, compared)

    monkeypatch.setattr(DedupePipeline, "_train_weights", spy)
    pages = make_corpus(spark, 60, seed=7, skew_every=0)
    wd = str(tmp_path / "wd")

    pipe1 = DedupePipeline(work_dir=wd, seed=7, lsh_n_bands=8)
    pipe1.run(spark, pages).count()
    m1 = json.load(open(f"{wd}/manifest.json"))["stages"]

    # threshold-only change: 01-04 fingerprints stable, 05/06 change
    pipe2 = DedupePipeline(work_dir=wd, seed=7, lsh_n_bands=8, threshold_odds=50.0)
    pipe2.run(spark, pages).count()
    m2 = json.load(open(f"{wd}/manifest.json"))["stages"]
    for st in ("01_records", "02_links", "03_compared", "04_scored"):
        assert m1[st]["fingerprint"] == m2[st]["fingerprint"]
    for st in ("05_matches", "06_components"):
        assert m1[st]["fingerprint"] != m2[st]["fingerprint"]
    # the weights are replayed from weights.json, not trained again
    assert m2["weights"] == m1["weights"]
    assert trained == [200_000]

    # EM sample change: the weights are trained again, 01-03 reused
    pipe_em = DedupePipeline(work_dir=wd, seed=7, lsh_n_bands=8, em_max_pairs=1000)
    pipe_em.run(spark, pages).count()
    m_em = json.load(open(f"{wd}/manifest.json"))["stages"]
    assert trained == [200_000, 1000]
    for st in ("01_records", "02_links", "03_compared"):
        assert m_em[st] == m1[st]
    assert m_em["weights"]["fingerprint"] != m1["weights"]["fingerprint"]

    # blocking change: 02 and EVERYTHING downstream invalidated
    pipe3 = DedupePipeline(work_dir=wd, seed=7, lsh_n_bands=16)
    pipe3.run(spark, pages).count()
    m3 = json.load(open(f"{wd}/manifest.json"))["stages"]
    assert m3["01_records"]["fingerprint"] == m1["01_records"]["fingerprint"]
    for st in ("02_links", "03_compared", "04_scored", "05_matches", "06_components"):
        assert m3[st]["fingerprint"] != m1[st]["fingerprint"]
