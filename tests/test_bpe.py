"""Real merges-driven BPE: algorithm equivalence, edge cases, and the
mixture_by_tokens integration.

The equivalence test implements the CLASSIC GPT-2 merge loop (find the
min-rank adjacent pair, merge all its occurrences left-to-right, repeat)
independently and checks `encode_word`'s rank-ordered replace-all passes
produce identical tokens on randomized words — the property that makes
the nested-replace SQL oracle a faithful BPE.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from olake_spark.operators.bpe import (
    DEFAULT_MERGES,
    bpe_encode,
    encode_word,
    validate_merges,
)


def _gpt2_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference: classic min-rank merge loop (GPT-2 bpe())."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    syms = list(word)
    while len(syms) > 1:
        pairs = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
        best = min(pairs, key=lambda p: ranks.get(p, float("inf")))
        if best not in ranks:
            break
        a, b = best
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_default_merges_training_order_valid():
    validate_merges(DEFAULT_MERGES)


def test_validate_rejects_dangling_operand():
    with pytest.raises(ValueError, match="neither a char"):
        validate_merges([("ab", "c")])  # 'ab' never produced


def test_encode_word_known_cases():
    assert encode_word("the", DEFAULT_MERGES) == ["the"]
    assert encode_word("and", DEFAULT_MERGES) == ["and"]
    assert encode_word("x", DEFAULT_MERGES) == ["x"]
    assert encode_word("thththe", DEFAULT_MERGES) == ["th", "th", "the"]
    assert encode_word("...", DEFAULT_MERGES) == ["..."]
    # ('0','0') outranks ('2','0'): 2|000, then ('00','0') completes 000
    assert encode_word("2000", DEFAULT_MERGES) == ["2", "000"]
    # unknown chars stay single symbols
    assert encode_word("zq", DEFAULT_MERGES) == ["z", "q"]


def test_equivalence_with_gpt2_merge_loop():
    rng = random.Random(17)
    alphabet = "theandingorswcxz.-!0129 "
    for _ in range(400):
        word = "".join(
            rng.choice(alphabet.strip()) for _ in range(rng.randint(1, 16))
        )
        assert encode_word(word, DEFAULT_MERGES) == _gpt2_encode(
            word, DEFAULT_MERGES
        ), word
    # token concatenation always reconstructs the word (no loss)
    for word in ["thinking", "nationhood", "a-b-c", "19-2000...!!"]:
        assert "".join(encode_word(word, DEFAULT_MERGES)) == word


def test_bpe_encode_dataframe_with_null_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "the cat"), (2, ""), (3, None), (4, "the the the")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bpe_encode(df).collect()}
    assert out[1].n_pretokens == 2  # 'the', 'cat'
    assert out[1].n_bpe_tokens == 1 + 2  # the | c at
    expect = hashlib.md5(b"the c at").hexdigest()
    assert out[1].token_hash == expect
    empty_md5 = hashlib.md5(b"").hexdigest()
    for did in (2, 3):
        assert out[did].n_pretokens == 0
        assert out[did].n_bpe_tokens == 0
        assert out[did].token_hash == empty_md5
    assert out[4].n_bpe_tokens == 3
    expect = hashlib.md5(b"the the the").hexdigest()
    assert out[4].token_hash == expect


def test_mixture_by_tokens_consumes_real_counts(spark):
    from olake_spark.operators.sampling import mixture_by_tokens

    rows = [(i, "en", "the and that " * 50) for i in range(40)]
    rows += [(100 + i, "fr", "zq xv wk " * 50) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    counts = bpe_encode(df).select("doc_id", "n_bpe_tokens")
    with_counts = df.join(counts, "doc_id")
    out = mixture_by_tokens(
        with_counts, "doc_id", "lang", "text",
        {"en": 0.5, "fr": 0.5}, token_count_col="n_bpe_tokens",
    )
    # en docs are ~3 BPE tokens per 3 words, fr docs ~6 (unmergeable chars):
    # with REAL counts the en stratum is the budget-limiting one, so en is
    # kept whole and fr downsampled — the whitespace estimate (equal counts)
    # would keep both whole. Retained token mass per stratum ≈ equal.
    got = {r[0]: r[1] for r in
           out.groupBy("lang").sum("n_bpe_tokens").collect()}
    assert got["en"] == 40 * 150  # limiting stratum kept whole
    assert got["fr"] < 40 * 450  # fr genuinely downsampled
    # and the whitespace-count path (no token_count_col) keeps everything
    ws = mixture_by_tokens(
        with_counts, "doc_id", "lang", "text", {"en": 0.5, "fr": 0.5}
    )
    assert ws.count() == 80


def test_bpe_train_merges_learns_and_feeds_encode(spark):
    """The distributed trainer learns the corpus's most frequent pairs in
    rank order, its output is training-order valid by construction, and it
    plugs straight into bpe_encode(merges=...)."""
    from olake_spark.operators.bpe import bpe_train_merges, encode_word

    docs = spark.createDataFrame(
        [(0, "the cat and the hat"), (1, "the cat sat"), (2, "and the band ran")],
        "doc_id long, text string",
    )
    learned = [
        (r.a, r.b)
        for r in bpe_train_merges(docs, n_merges=3).orderBy("rank").collect()
    ]
    # differential vs the reference trainer (see /tmp probe): an/at/he
    assert learned == [("a", "n"), ("a", "t"), ("h", "e")]
    validate_merges(learned)
    assert encode_word("ant", learned) == ["an", "t"]
    assert encode_word("he", learned) == ["he"]


def test_pretokenizer_cross_engine_parity_on_nasty_whitespace(spark):
    """Java \\s includes VT (0x0B), RE2's does not, and Java '.' skips
    U+2028 - the explicit whitespace class and (?s) wrap must make Spark
    and DuckDB pretokenize/wrap these byte-for-byte identically."""
    import duckdb
    from pyspark.sql import functions as F

    from olake_spark.operators.bpe import SEP, encode_word
    from olake_spark.operators.quality import BPE_PRETOKEN_RE

    texts = ["!\x0b!", "a\u2028b", "x\u0085y", "tab\tsep", "nl\na", "v\x0b\x0bw"]
    srows = (
        spark.createDataFrame([(t,) for t in texts], "t string")
        .select("t", F.regexp_extract_all("t", F.lit(BPE_PRETOKEN_RE), 0).alias("p"))
        .collect()
    )
    con = duckdb.connect()
    for r in srows:
        duck = con.execute(
            "SELECT regexp_extract_all(?, ?)", [r.t, BPE_PRETOKEN_RE]
        ).fetchone()[0]
        assert list(r.p) == list(duck), repr(r.t)
    # trainer wrap parity: (?s)(.) wraps EVERY char incl. U+2028, matching
    # encode_word's python per-char wrap
    wrapped = (
        spark.createDataFrame([("a\u2028b",)], "pt string")
        .select(F.regexp_replace("pt", "(?s)(.)", SEP + "$1" + SEP).alias("s"))
        .first()
        .s
    )
    assert wrapped == "".join(SEP + c + SEP for c in "a\u2028b")
    assert encode_word("a\u2028b", []) == ["a", "\u2028", "b"]


def test_bpe_train_exhausted_corpus_raises_loudly(spark):
    # regression (r5 ADVICE): asking for more merges than the corpus has
    # adjacent pairs must raise at action time, not silently truncate
    import pytest
    from pyspark.sql.utils import PythonException

    from olake_spark.operators.bpe import bpe_train_merges

    df = spark.createDataFrame([(1, "ab")], "doc_id int, text string")
    with pytest.raises(Exception, match="exhausted"):
        bpe_train_merges(df, n_merges=4).collect()
