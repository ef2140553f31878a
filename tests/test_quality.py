"""Unit tests for corpus-quality operators (repetition stats, BPE token
estimate) and benchmark decontamination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olake_spark.operators.decontam import decontaminate, ngram_overlap
from olake_spark.operators.quality import (
    ngrams,
    repetition_stats,
    with_bpe_token_estimate,
    with_dup_token_frac,
)
from olake_spark.operators.text import tokens


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "a b c d e f g h"),                    # all distinct
        (1, "x y x y x y x y"),                    # one bigram dominates
        (2, "p q r p q r p q r p q r p q r"),      # repeated trigram phrase
        (3, "solo"),                               # shorter than any n-gram
        (4, "m m m m m m m m m m"),                # single repeated token
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",)], ["text"])
    out = df.select(ngrams(tokens(F.col("text")), 3).alias("g")).first()
    assert out["g"] == []


def test_ngrams_values(spark):
    df = spark.createDataFrame([("a b c d",)], ["text"])
    out = df.select(ngrams(tokens(F.col("text")), 2).alias("g")).first()
    assert out["g"] == ["a b", "b c", "c d"]


def test_dup_token_frac(docs):
    got = {
        r["doc_id"]: r["dup_token_frac"]
        for r in with_dup_token_frac(docs).collect()
    }
    assert got[0] == 0.0
    assert got[1] == pytest.approx(1 - 2 / 8)
    assert got[4] == pytest.approx(1 - 1 / 10)


def test_repetition_stats_coverage(docs):
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc 1: "x y" occurs 4x over 8 tokens -> top2 = 8/8 = 1.0
    assert out[1]["top2_frac"] == pytest.approx(1.0)
    # doc 0: no repeats -> top2 covers one bigram = 2/8
    assert out[0]["top2_frac"] == pytest.approx(2 / 8)
    assert out[0]["dup5_frac"] == 0.0
    # doc 2: "p q r p q" style 5-grams repeat; dup coverage > 1 is allowed
    assert out[2]["dup5_frac"] > 1.0
    # doc 3: shorter than every n -> all coverage 0, no NULLs
    assert out[3]["top2_frac"] == 0.0 and out[3]["dup5_frac"] == 0.0
    assert out[3]["n_tokens"] == 1


def test_bpe_estimate_splits_subwords(spark):
    df = spark.createDataFrame(
        [(0, "hello world"), (1, "can't stop-me v2.0"), (2, "abc123def")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in with_bpe_token_estimate(df).collect()}
    assert got[0] == 2
    # can | 't | stop | - | me | v | 2 | . | 0
    assert got[1] == 9
    # abc | 123 | def
    assert got[2] == 3


def test_ngram_overlap_counts(spark):
    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps"), (1, "totally unrelated words here now")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, "quick brown fox jumps high")], ["doc_id", "text"])
    got = {r["doc_id"]: r["n_shared_ngrams"] for r in
           ngram_overlap(corpus, bench, n=4).collect()}
    # shared 4-gram: "quick brown fox jumps"
    assert got[0] == 1
    assert got[1] == 0


def test_decontaminate_removes_flagged(spark):
    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps"), (1, "totally unrelated words here now")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, "quick brown fox jumps high")], ["doc_id", "text"])
    kept = decontaminate(corpus, bench, n=4)
    assert [r["doc_id"] for r in kept.collect()] == [1]


def test_decontaminate_no_broadcast_path(spark):
    corpus = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    bench = spark.createDataFrame([(9, "a b c d f")], ["doc_id", "text"])
    out = ngram_overlap(corpus, bench, n=4, broadcast_benchmark=False).collect()
    assert out[0]["n_shared_ngrams"] == 1  # shared "a b c d"; "b c d e" differs


def test_rare_token_ratio_flags_gibberish(spark):
    from olake_spark.operators.quality import rare_token_ratio

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the mat"),
            (3, "zxqv wklm pqrs zxqv"),  # gibberish: every token unique to doc 3
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in rare_token_ratio(docs, "doc_id", "text", min_df=2).collect()}
    assert out[3].rare_ratio_e6 == 1_000_000  # all tokens rare
    assert out[3].n_rare == 4
    # cat/dog are rare (df=1) but shared words are not
    assert 0 < out[1].rare_ratio_e6 < 500_000
    assert out[4].n_tokens == 0 and out[4].rare_ratio_e6 == 0


def test_unigram_info_exact_integer(spark):
    from olake_spark.operators.quality import unigram_info_score

    df = spark.createDataFrame(
        [(1, "the the the rare"), (2, "the the"), (3, ""), (4, "   ")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_info_score(df, "doc_id", "text").collect()}
    # corpus: the×5, rare×1 → T=6; info(the)=len(bin 6)-len(bin 5)=3-3=0,
    # info(rare)=3-1=2
    assert out[1]["n_tokens"] == 4 and out[1]["info_sum"] == 2
    assert out[1]["mean_info_e3"] == 500  # (1000*2) div 4
    assert out[2]["info_sum"] == 0 and out[2]["mean_info_e3"] == 0
    # docs with no tokens survive with zeros, never drop
    assert out[3]["n_tokens"] == 0 and out[3]["mean_info_e3"] == 0
    assert out[4]["n_tokens"] == 0


def test_unigram_info_partition_invariant(spark):
    from olake_spark.operators.quality import unigram_info_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = unigram_info_score(docs.repartition(1), "doc_id", "text").collect()
    b = unigram_info_score(docs.repartition(13), "doc_id", "text").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_gopher_rules_flags(spark):
    from olake_spark.operators.quality import gopher_quality_flags

    good = (
        "the quick brown foxes jumped over those lazy hounds with great "
        "delight and that chase went onward to become quite the legend " * 4
    )
    rows = [
        (1, good),                        # passes everything
        (2, "tiny doc"),                  # word count too low
        (3, "#### " * 60),                # symbol ratio + no alpha + no stops
        (4, ("a " * 60) + "the be"),      # mean word length < 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in
           gopher_quality_flags(df, "doc_id", "text").collect()}
    assert out[1]["passes_gopher"] is True
    assert out[2]["ok_word_count"] is False and out[2]["passes_gopher"] is False
    assert out[3]["ok_symbol_ratio"] is False
    assert out[3]["ok_alpha_words"] is False and out[3]["ok_stopwords"] is False
    assert out[4]["ok_mean_word_len"] is False
    # the verdict is the conjunction of its flags, never independent
    for d in out.values():
        flags = [d[k] for k in d if k.startswith("ok_")]
        assert d["passes_gopher"] == all(flags)


def test_script_stats_multilingual(spark):
    """Script counts/ratios/dominant on genuinely multi-script text."""
    from olake_spark.operators.text import with_script_stats

    df = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "Привет мир"),
            (3, "你好世界"),
            (4, "مرحبا بالعالم"),
            (5, "mixed 你好 text with 123 and Привет"),
            (6, ""),
            (7, None),
            (8, "1234567890"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in with_script_stats(df, "text").collect()}
    assert out[1].dominant_script == "latin" and out[1].n_latin == 10
    assert out[2].dominant_script == "cyrillic" and out[2].n_cyrillic == 9
    assert out[3].dominant_script == "cjk" and out[3].n_cjk == 4
    assert out[4].dominant_script == "arabic"
    assert out[5].n_cjk == 2 and out[5].n_cyrillic == 6 and out[5].n_digit == 3
    assert out[5].dominant_script == "latin"  # 'mixed text with and' wins
    assert out[6].dominant_script == "none" and out[6].n_chars_total == 0
    assert out[7].dominant_script == "none" and out[7].n_chars_total == 0
    assert out[8].dominant_script == "digit" and out[8].ratio_digit == 1.0


def test_source_quality_filter_flags_and_drops(spark):
    """A spammy source (all-duplicate content) and a junk source (pure
    punctuation) get flagged and dropped; a healthy source survives; a
    source below the support floor is never condemned."""
    from olake_spark.operators.quality import (
        source_quality_filter,
        source_quality_report,
    )

    good_text = [
        f"a perfectly reasonable document number {i} about data engineering"
        for i in range(12)
    ]
    rows = (
        [(i, good_text[i], "healthy") for i in range(12)]
        + [(100 + i, "identical spam payload repeated forever", "spammy")
           for i in range(12)]
        + [(200 + i, "!!! ??? ;;; ::: ,,, ... !!! ??? ;;;", "junk")
           for i in range(12)]
        + [(300 + i, "!!! ???", "tiny") for i in range(3)]  # below support floor
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    rep = {
        r.source: r
        for r in source_quality_report(
            df, min_docs=10, min_quality=0.5, max_dup_rate=0.2
        ).collect()
    }
    assert not rep["healthy"].flagged and rep["healthy"].dup_rate == 0.0
    assert rep["spammy"].flagged and rep["spammy"].dup_rate > 0.9
    assert rep["junk"].flagged and rep["junk"].mean_quality < 0.5
    assert not rep["tiny"].flagged  # n_docs < min_docs: no verdict

    kept = source_quality_filter(df, min_docs=10, min_quality=0.5, max_dup_rate=0.2)
    assert {r.source for r in kept.collect()} == {"healthy", "tiny"}


# -- source_quality_report NULL text ----------------------------------------


def test_source_quality_null_text_not_counted_as_dup(spark):
    from olake_spark.operators.quality import (
        source_quality_filter,
        source_quality_report,
    )

    rows = [(i, None, "nullsrc") for i in range(12)]
    rows += [(100 + i, f"unique document text number {i} " * 20, "goodsrc") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    rep = {
        r.source: r
        for r in source_quality_report(
            df, min_docs=10, min_quality=0.5, max_dup_rate=0.2
        ).collect()
    }
    ns = rep["nullsrc"]
    # 12 NULL-text docs share the '' fingerprint: 11/12 dup_rate, 0 quality,
    # and a DEFINITE verdict (previously flagged could be NULL)
    assert ns.n_docs == 12 and ns.sum_quality_micro == 0
    assert ns.flagged is True
    assert rep["goodsrc"].flagged is False
    kept = source_quality_filter(df, min_docs=10, min_quality=0.5, max_dup_rate=0.2)
    assert kept.count() == 12  # the all-NULL source is actually dropped now
