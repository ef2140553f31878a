"""Property and edge-case tests of the edit-distance fuzzy joins against
brute-force Python references."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from olake_spark.operators.fuzzy import editdist1_join


# ---------------------------------------------------------------------------
# editdist1_join degenerate shapes (empty / 1-char / unicode / dup texts)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
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


def _editdist1_reference(rows):
    out = set()
    for i, (ida, ta) in enumerate(rows):
        for idb, tb in rows[i + 1:]:
            lo, hi = min(ida, idb), max(ida, idb)
            if _lev(ta, tb) <= 1:
                out.add((lo, hi))
    return out


def _run_editdist1(spark, rows):
    df = spark.createDataFrame(rows, "id int, t string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in editdist1_join(df, "id", "t").collect()
    }
    want = _editdist1_reference(rows)
    assert {(a, b) for a, b, _ in got} == want
    by_id = dict(rows)
    for a, b, d in got:
        assert d == _lev(by_id[a], by_id[b])


def test_editdist1_empty_and_single_char(spark):
    _run_editdist1(
        spark,
        [(1, ""), (2, ""), (3, "a"), (4, "b"), (5, "ab"), (6, "x")],
    )


def test_editdist1_unicode_multibyte_is_codepoint_based(spark):
    # substring/length/levenshtein are all codepoint-based in Spark, so
    # "café"→"cafe" is ONE edit even though é is 2 UTF-8 bytes
    _run_editdist1(
        spark,
        [(1, "café"), (2, "cafe"), (3, "caf"), (4, "caffé"), (5, "日本"),
         (6, "日木"), (7, "日"), (8, "€")],
    )


def test_editdist1_duplicate_texts_distinct_ids(spark):
    rows = [(1, "same"), (2, "same"), (3, "same"), (4, "sane")]
    df = spark.createDataFrame(rows, "id int, t string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist1_join(df, "id", "t").collect()
    }
    assert got[(1, 2)] == got[(1, 3)] == got[(2, 3)] == 0
    assert got[(1, 4)] == got[(2, 4)] == got[(3, 4)] == 1
    assert len(got) == 6


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abé", min_size=0, max_size=4),
        min_size=2,
        max_size=15,
    )
)
def test_editdist1_matches_bruteforce_reference(spark, texts):
    _run_editdist1(spark, list(enumerate(texts)))


def test_editdist2_matches_bruteforce(spark):
    from olake_spark.operators.fuzzy import editdist2_join

    texts = ["abc", "abcd", "abcde", "xbcde", "abde", "a", "", "ab",
             "zzz", "azc", "café", "cafe", "ca", "日本語", "日本"]
    rows = list(enumerate(texts))
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist2_join(
            spark.createDataFrame(rows, "id int, t string"), "id", "t"
        ).collect()
    }
    want = {}
    for i, (ida, ta) in enumerate(rows):
        for idb, tb in rows[i + 1:]:
            d = _lev(ta, tb)
            if d <= 2:
                want[(min(ida, idb), max(ida, idb))] = d
    assert got == want
