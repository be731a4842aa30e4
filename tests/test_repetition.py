"""textqa.repetition: Gopher-style within-document repetition signals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mismo_spark.textqa.repetition import (
    dup_line_char_fraction,
    dup_line_fraction,
    line_repetition_signals,
    ngram_repetition_signals,
)


def test_line_signals_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            # 4 non-blank lines, 'aa' twice: dup_line_frac = 1/4;
            # chars: aa(2×2) + bbb + cccc = 11, dup chars = (2-1)*2 = 2
            (1, "aa\nbbb\n\naa\ncccc"),
            # no duplicates
            (2, "x\ny\nz"),
            # all the same: 3 lines, 1 distinct -> 2/3; chars 2/3
            (3, "q\nq\nq"),
            (4, ""),  # no lines -> 0.0
            (5, None),  # null text -> nulls
        ],
        "record_id long, text string",
    )
    got = {
        r["record_id"]: (r["dup_line_frac"], r["dup_line_char_frac"])
        for r in line_repetition_signals(docs).collect()
    }
    assert got[1] == (0.25, pytest.approx(2 / 11))
    assert got[2] == (0.0, 0.0)
    assert got[3] == (pytest.approx(2 / 3), pytest.approx(2 / 3))
    assert got[4] == (0.0, 0.0)
    assert got[5] == (None, None)


def test_ngram_signals_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            # tokens: a b a b a -> 2-grams: 'a b'(2) 'b a'(2)
            # text_len = 9; top = 'a b' (lexicographic tie-break),
            # top_chars = 2*3=6 -> 6/9; dup: both grams c>=2 ->
            # (2*3 + 2*3)/9 = 12/9 -> capped 1.0
            (1, "a b a b a"),
            # all distinct 2-grams
            (2, "u v w x"),
            (3, "single"),  # < 2 tokens -> zeros
        ],
        "record_id long, text string",
    )
    got = {
        r["record_id"]: (r["top_ngram_char_frac"], r["dup_ngram_char_frac"])
        for r in ngram_repetition_signals(docs, n=2).collect()
    }
    assert got[1] == (pytest.approx(6 / 9), 1.0)
    assert got[2][1] == 0.0
    # 'u v' occurs once: 3/7
    assert got[2][0] == pytest.approx(3 / 7)
    assert got[3] == (0.0, 0.0)


def test_line_signals_shuffle_free(spark):
    """The line signals must stay a map-only plan — no Exchange."""
    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "c\nc")], "record_id long, text string"
    )
    plan = (
        line_repetition_signals(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_repetitive_beats_clean_on_real_docs(spark):
    """Sanity on the sf0.001 documents table: a doc made of one line
    repeated scores maximally repetitive under every signal."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(F.col("doc_id").alias("record_id"), "text").limit(50)
    spam = spark.createDataFrame(
        [(10_000_000, "buy now cheap\n" * 20)], "record_id long, text string"
    )
    both = docs.unionByName(spam)
    lines = {
        r["record_id"]: r["dup_line_frac"]
        for r in line_repetition_signals(both).collect()
    }
    assert lines[10_000_000] == pytest.approx(19 / 20)
    grams = {
        r["record_id"]: r["dup_ngram_char_frac"]
        for r in ngram_repetition_signals(both, n=2).collect()
    }
    assert grams[10_000_000] == 1.0


def test_multi_ngram_matches_single_n(spark):
    from mismo_spark.textqa.repetition import (
        multi_ngram_repetition_signals,
        ngram_repetition_signals,
    )

    rows = [
        (1, "a b a b a b c d"),
        (2, "x y z x y z x y z"),
        (3, "one two three four five six seven"),
        (4, ""),
        (5, "t"),
    ]
    df = spark.createDataFrame(rows, "record_id long, text string")
    multi = {
        r["record_id"]: r
        for r in multi_ngram_repetition_signals(
            df, top_ns=(2, 3), dup_ns=(2, 5), id_col="record_id"
        ).collect()
    }
    for n in (2, 3):
        single = {
            r["record_id"]: r
            for r in ngram_repetition_signals(df, n=n, id_col="record_id").collect()
        }
        for rid in single:
            assert multi[rid][f"top_{n}gram_char_frac"] == pytest.approx(
                single[rid]["top_ngram_char_frac"]
            ), (n, rid)
    single5 = {
        r["record_id"]: r
        for r in ngram_repetition_signals(df, n=5, id_col="record_id").collect()
    }
    for rid in single5:
        assert multi[rid]["dup_5gram_char_frac"] == pytest.approx(
            single5[rid]["dup_ngram_char_frac"]
        ), rid
    # dup_2gram also exposed and matches
    single2 = {
        r["record_id"]: r
        for r in ngram_repetition_signals(df, n=2, id_col="record_id").collect()
    }
    for rid in single2:
        assert multi[rid]["dup_2gram_char_frac"] == pytest.approx(
            single2[rid]["dup_ngram_char_frac"]
        ), rid

    with pytest.raises(ValueError, match="n values"):
        multi_ngram_repetition_signals(df, top_ns=(0,), dup_ns=())


def test_gopher_repetition_flags(spark):
    from mismo_spark.textqa.repetition import (
        GOPHER_REPETITION_THRESHOLDS,
        gopher_repetition_flags,
    )

    clean = (
        "The committee reviewed seventeen separate proposals during the "
        "morning session and assigned each one to a different working "
        "group for detailed evaluation before the final vote next week."
    )
    rows = [
        (1, clean),
        (2, "buy now " * 40),          # massive 2-gram repetition
        (3, None),                      # unknown -> fails
        (4, "alpha\nalpha\nalpha\nbeta"),  # dup lines
    ]
    df = spark.createDataFrame(rows, "record_id long, text string")
    out = {r["record_id"]: r for r in gopher_repetition_flags(df).collect()}
    assert out[1]["passes"] is True
    assert out[2]["passes"] is False
    assert out[2]["top_2gram_char_frac"] > GOPHER_REPETITION_THRESHOLDS[
        "top_2gram_char_frac"
    ]
    assert out[3]["passes"] is False
    assert out[4]["passes"] is False and out[4]["dup_line_frac"] == 0.5

    # a doc that fails EXACTLY the dup-line rule: short repeated lines
    # interleaved between long all-distinct lines (no token run ever
    # repeats, so every n-gram signal stays under threshold)
    import itertools

    words = iter(
        f"w{i}x{i * 7 % 13}" for i in itertools.count()
    )
    longs = [" ".join(next(words) for _ in range(10)) for _ in range(8)]
    lines = list(
        itertools.chain.from_iterable(zip(["ok bye"] * 6, longs[:6]))
    ) + longs[6:]
    df5 = spark.createDataFrame(
        [(5, "\n".join(lines))], "record_id long, text string"
    )
    strict = gopher_repetition_flags(df5).collect()[0]
    assert strict["passes"] is False
    assert strict["dup_line_frac"] > 0.3
    assert strict["top_2gram_char_frac"] <= 0.20
    assert strict["dup_5gram_char_frac"] <= 0.15
    # threshold override flips the verdict; unknown keys rejected
    loose = gopher_repetition_flags(df5, thresholds={"dup_line_frac": 0.9})
    assert loose.collect()[0]["passes"] is True
    with pytest.raises(ValueError, match="unknown"):
        gopher_repetition_flags(df, thresholds={"bogus": 1.0})


def test_paragraph_signals(spark):
    from mismo_spark.textqa.repetition import line_repetition_signals

    text = "para one here\n\npara one here\n\nunique second paragraph"
    df = spark.createDataFrame([(1, text)], "record_id long, text string")
    r = line_repetition_signals(df, paragraphs=True).collect()[0]
    # 3 paragraphs, one duplicated
    assert r["dup_paragraph_frac"] == pytest.approx(1 / 3)
    # dup chars 13 ("para one here" once over), total 13+13+23 = 49
    assert r["dup_paragraph_char_frac"] == pytest.approx(13 / 49)
    # line-level sees 3 distinct non-blank lines -> no dup lines?
    # no: the two identical "para one here" lines ARE dups at line level
    assert r["dup_line_frac"] == pytest.approx(1 / 3)


def test_ngram_signals_rowlocal_matches_bruteforce(spark):
    """The r6 shuffle-free (sorted-run-length) implementation must
    reproduce the per-(doc, gram)-count definition exactly: tie-break
    (count DESC, gram ASC), dup fraction capped at 1.0, <n tokens and
    NULL text give 0.0."""
    from collections import Counter

    from mismo_spark.text.features import tokenize as _tok
    from mismo_spark.textqa.repetition import ngram_repetition_signals

    rows = [
        (1, "a b a b a b"),                  # dominant repeated bigram
        (2, "x y z x y w x y"),              # ties between 'x y' runs
        (3, "single"),                       # < n tokens -> 0.0
        (4, ""),                             # empty -> 0.0
        (5, None),                           # NULL -> 0.0
        (6, "b a b a a b"),                  # tie on count: lexicographic
        (7, "q q q q"),                      # all-identical tokens
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.top_ngram_char_frac, r.dup_ngram_char_frac)
        for r in ngram_repetition_signals(
            df, n=2, id_col="id", text_col="text"
        ).collect()
    }
    toks = {
        r.id: r.t for r in df.select("id", _tok(df.text).alias("t")).collect()
    }
    assert len(got) == len(rows)
    for rid, text in rows:
        tk = toks[rid] or []
        grams = [" ".join(tk[i : i + 2]) for i in range(len(tk) - 1)]
        tl = len(" ".join(tk))
        if not grams or tl == 0:
            assert got[rid] == (0.0, 0.0), rid
            continue
        c = Counter(grams)
        top_g = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        exp_top = round(top_g[1] * len(top_g[0]) / tl, 9)
        exp_dup = round(
            min(sum(v * len(g) for g, v in c.items() if v >= 2) / tl, 1.0), 9
        )
        assert got[rid] == (exp_top, exp_dup), (rid, got[rid], exp_top, exp_dup)


# generous: the plan finishes in seconds; the failure it guards against
# (a filter on the output pushed into the higher-order-function chain,
# which re-evaluates the inlined chain per array element) never does
FILTER_DEADLINE_S = 180


def test_filter_on_dup_ngram_char_frac_finishes(spark):
    """``optimizer_barrier`` keeps a caller's filter on the output from
    being pushed into the run-length chain.  It relies on Catalyst
    treating ``shuffle`` as non-deterministic; if a Spark upgrade
    changes that, this filter hangs instead of returning, so it runs
    under an in-process deadline and its jobs are cancelled on expiry."""
    import random
    import threading

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(300):
        # a per-document vocabulary size spreads the signal over [0, 1]
        k = rng.randint(2, 40)
        rows.append((i, " ".join(rng.choice(vocab[:k]) for _ in range(60))))
    docs = spark.createDataFrame(rows, "record_id long, text string")
    signals = ngram_repetition_signals(docs, n=2)
    want = sorted(
        r["record_id"] for r in signals.collect() if r["dup_ngram_char_frac"] > 0.5
    )

    result: dict = {}

    def run():
        try:
            result["ids"] = sorted(
                r["record_id"]
                for r in signals.filter(F.col("dup_ngram_char_frac") > 0.5)
                .select("record_id")
                .collect()
            )
        except Exception as e:  # surfaced below, not lost in the thread
            result["error"] = e

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(FILTER_DEADLINE_S)
    if worker.is_alive():
        spark.sparkContext.cancelAllJobs()
        worker.join(30)
        pytest.fail(
            f"filter on dup_ngram_char_frac did not finish in {FILTER_DEADLINE_S}s"
        )
    assert "error" not in result, result.get("error")
    assert result["ids"] == want and 0 < len(want) < len(rows)
