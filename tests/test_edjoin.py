"""Edit-distance similarity join (Ed-Join q-gram prefix filtering):
brute-force parity on random mutated strings (the recall-1.0 guarantee
itself), short-string routing, the d=0 fast path, nulls, validation.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mismo_spark.text.edjoin import edit_distance_pairs


def _brute(rows, d):
    """Python reference: full quadratic Levenshtein."""

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ida, sa), (idb, sb) = rows[i], rows[j]
            if sa is None or sb is None:
                continue
            if lev(sa, sb) <= d:
                out.add((min(ida, idb), max(ida, idb)))
    return out


def _mutated_corpus(n=120, seed=5):
    rng = random.Random(seed)
    alpha = "abcdef"
    base = ["".join(rng.choice(alpha) for _ in range(rng.randint(4, 12)))
            for _ in range(n // 3)]
    rows = []
    for i in range(n):
        s = rng.choice(base)
        # random small mutations: substitute / insert / delete
        for _ in range(rng.randint(0, 2)):
            op = rng.choice("sid")
            p = rng.randrange(len(s)) if s else 0
            if op == "s" and s:
                s = s[:p] + rng.choice(alpha) + s[p + 1:]
            elif op == "i":
                s = s[:p] + rng.choice(alpha) + s[p:]
            elif s:
                s = s[:p] + s[p + 1:]
        rows.append((i, s))
    # edge strings exercising the short path
    rows += [(n, ""), (n + 1, "a"), (n + 2, "a"), (n + 3, "b"),
             (n + 4, "ab"), (n + 5, None)]
    return rows


@pytest.mark.parametrize("d,q", [(1, 2), (2, 2), (1, 3), (2, 3)])
def test_edit_distance_pairs_matches_bruteforce(spark, d, q):
    rows = _mutated_corpus()
    df = spark.createDataFrame(rows, "record_id long, name string")
    got = {
        (r["record_id_l"], r["record_id_r"])
        for r in edit_distance_pairs(
            df, "name", max_distance=d, q=q
        ).collect()
    }
    assert got == _brute(rows, d)


def test_edit_distance_pairs_distances_exact(spark):
    rows = [(0, "kitten"), (1, "sitten"), (2, "sitting"), (3, "kitten")]
    df = spark.createDataFrame(rows, "record_id long, name string")
    got = {
        (r["record_id_l"], r["record_id_r"]): r["distance"]
        for r in edit_distance_pairs(df, "name", max_distance=2).collect()
    }
    assert got == {(0, 1): 1, (0, 3): 0, (1, 3): 1, (1, 2): 2}


def test_edit_distance_zero_fast_path(spark):
    rows = [(0, "x"), (1, "x"), (2, "y"), (3, None)]
    df = spark.createDataFrame(rows, "record_id long, name string")
    got = edit_distance_pairs(df, "name", max_distance=0).collect()
    assert [(r["record_id_l"], r["record_id_r"], r["distance"])
            for r in got] == [(0, 1, 0)]


def test_edit_distance_validation(spark):
    df = spark.createDataFrame([(0, "x")], "record_id long, name string")
    with pytest.raises(ValueError, match="max_distance"):
        edit_distance_pairs(df, "name", max_distance=-1)
    with pytest.raises(ValueError, match="q must"):
        edit_distance_pairs(df, "name", max_distance=1, q=0)


def test_edit_distance_link_matches_bruteforce(spark):
    rows = _mutated_corpus(n=90, seed=9)
    left = [(i, s) for i, s in rows if i % 2 == 0]
    right = [(i, s) for i, s in rows if i % 2 == 1]
    lf = spark.createDataFrame(left, "record_id long, name string")
    rf = spark.createDataFrame(right, "record_id long, name string")
    from mismo_spark.text.edjoin import edit_distance_link

    for d in (1, 2):
        got = {
            (r["record_id_l"], r["record_id_r"])
            for r in edit_distance_link(
                lf, rf, "name", max_distance=d
            ).collect()
        }
        exp = set()
        full = _brute(left + right, d)
        for a, b in full:
            if a % 2 == 0 and b % 2 == 1:
                exp.add((a, b))
            elif a % 2 == 1 and b % 2 == 0:
                exp.add((b, a))
        assert got == exp


def test_edit_distance_linker_protocol(spark):
    from mismo_spark.linker.edit import EditDistanceLinker

    df = spark.createDataFrame(
        [(0, "kitten"), (1, "sitten"), (2, "apple"), (3, "kitten")],
        "record_id long, name string",
    )
    lk = EditDistanceLinker("name", max_distance=1)
    linkage = lk(df)
    got = {
        (r["record_id_l"], r["record_id_r"]): r["distance"]
        for r in linkage.links.collect()
    }
    assert got == {(0, 1): 1, (0, 3): 0, (1, 3): 1}
    # link task between two tables, per-side specs
    rf = spark.createDataFrame(
        [(100, "siten"), (101, "orange")], "record_id long, title string"
    )
    lk2 = EditDistanceLinker(("name", "title"), max_distance=2)
    linkage2 = lk2(df, rf)
    got2 = {
        (r["record_id_l"], r["record_id_r"])
        for r in linkage2.links.collect()
    }
    assert got2 == {(0, 100), (1, 100), (3, 100)}
    # links_with_both re-joins attributes for downstream comparison
    both = linkage2.links_with_both().columns
    assert "name_l" in both and "title_r" in both


def test_edit_distance_link_zero(spark):
    from mismo_spark.text.edjoin import edit_distance_link

    lf = spark.createDataFrame([(0, "x"), (1, "y")], "record_id long, name string")
    rf = spark.createDataFrame([(7, "x"), (8, "x")], "record_id long, name string")
    got = {
        (r["record_id_l"], r["record_id_r"])
        for r in edit_distance_link(lf, rf, "name", max_distance=0).collect()
    }
    assert got == {(0, 7), (0, 8)}


def test_low_gram_diversity_strings_recall(spark):
    """Regression: repetitive strings have few DISTINCT grams even when
    long ('aaaaaaaa' → 3 padded bigrams), so they can't use the prefix
    pigeonhole — the fallback must probe ALL lengths within ±d, not a
    cap derived from gram counts."""
    rows = [(0, "aaaaaaaa"), (1, "aaaaaa"), (2, "abababab"), (3, "ababab"),
            (4, "cdcdcdcd")]
    df = spark.createDataFrame(rows, "record_id long, name string")
    got = {
        (r["record_id_l"], r["record_id_r"]): r["distance"]
        for r in edit_distance_pairs(df, "name", max_distance=2).collect()
    }
    assert got == {(0, 1): 2, (2, 3): 2}
    # link form: same corpus split across two tables
    from mismo_spark.text.edjoin import edit_distance_link

    lf = spark.createDataFrame(rows[:2], "record_id long, name string")
    rf = spark.createDataFrame(rows[2:], "record_id long, name string")
    lf2 = spark.createDataFrame([(10, "ababab")], "record_id long, name string")
    got2 = {
        (r["record_id_l"], r["record_id_r"])
        for r in edit_distance_link(lf2, rf, "name", max_distance=2).collect()
    }
    assert got2 == {(10, 2), (10, 3)}


def test_bruteforce_parity_repetitive_corpus(spark):
    import random

    rng = random.Random(17)
    rows = []
    for i in range(60):
        ch = rng.choice("ab")
        rows.append((i, ch * rng.randint(1, 10)))
    for i in range(60, 90):
        rows.append((i, "".join(rng.choice("ab") for _ in range(rng.randint(2, 8)))))
    df = spark.createDataFrame(rows, "record_id long, name string")
    for d in (1, 2):
        got = {
            (r["record_id_l"], r["record_id_r"])
            for r in edit_distance_pairs(df, "name", max_distance=d).collect()
        }
        assert got == _brute(rows, d)


def test_auto_q(spark):
    from mismo_spark.text.edjoin import choose_q, edit_distance_pairs

    # low-diversity prose-like field, enough rows that q=2's ~1e3-type
    # gram space can't keep candidates linear -> auto picks q >= 3
    import random

    rng = random.Random(7)
    rows = [
        (i, "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(24)))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "record_id long, name string")
    assert choose_q(df.select("name"), max_distance=1) >= 3

    # tiny high-diversity table: q=2 already linear
    few = spark.createDataFrame(rows[:50], "record_id long, name string")
    assert choose_q(few.select("name"), max_distance=1) == 2

    # auto path returns the same pairs as any sound explicit q
    planted = rows + [(9001, rows[0][1][:-1] + "x")]
    pdf = spark.createDataFrame(planted, "record_id long, name string")
    got_auto = {
        (r["record_id_l"], r["record_id_r"])
        for r in edit_distance_pairs(pdf, "name", max_distance=1, q="auto").collect()
    }
    got_q2 = {
        (r["record_id_l"], r["record_id_r"])
        for r in edit_distance_pairs(pdf, "name", max_distance=1, q=2).collect()
    }
    assert got_auto == got_q2 and (rows[0][0], 9001) in got_auto

    with pytest.raises(ValueError, match="q must be"):
        edit_distance_pairs(pdf, "name", max_distance=1, q="bogus")


def test_choose_q_uses_true_length_on_repetitive_strings(spark):
    """q is capped at ceil(avg_len / 2), so avg_len must be the string
    length.  A 24-char string repeating a 3-char block has only 5
    distinct padded 2-grams; counting those as its length capped q at
    2, which cannot keep this 3000-row field's candidates linear."""
    import random
    import warnings

    from mismo_spark.text.edjoin import choose_q

    rng = random.Random(5)
    letters = "abcdefghijklmnopqrstuvwxyz"
    rows = [("".join(rng.choice(letters) for _ in range(3)) * 8,) for _ in range(3000)]
    df = spark.createDataFrame(rows, "name string")
    with warnings.catch_warnings():
        warnings.filterwarnings("error", message="choose_q")
        assert choose_q(df, max_distance=1) >= 3


def test_choose_q_empty_and_null(spark):
    from mismo_spark.text.edjoin import choose_q

    empty = spark.createDataFrame([], "name string")
    assert choose_q(empty, max_distance=1) == 2
    nulls = spark.createDataFrame([(None,), ("ab",)], "name string")
    assert choose_q(nulls, max_distance=1) == 2
