"""Registry entries for the text operators: tokenization, quality rules,
language id, BPE, packing, sampling, PII, TF-IDF/BM25, chunking and the
corpus censuses."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olake_spark.operators import dsir as _dsir
from olake_spark.operators import text as tx
from olake_spark.operators.quality import BPE_PRETOKEN_RE as _BPE_RE
from olake_spark.queries.core import register, table
from olake_spark.queries.fragments import (
    _BUCKET_SQL,
    _H60,
    _HS,
    _MIX_WEIGHTS,
    _NORM,
    _PACK_BUDGET,
    _PACK_SHARDS,
    _PUNCT_SQL,
    _TOKS,
    _stop_list,
)


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy audit before a dataset release
# ---------------------------------------------------------------------------

_KANON_ORACLE = """
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         floor(c_acctbal / 1000)::BIGINT AS bal_bucket
  FROM customer
)
SELECT c_nationkey, c_mktsegment,
       count(*)::BIGINT AS class_size,
       count(DISTINCT bal_bucket)::BIGINT AS sensitive_distinct,
       (count(*) >= 5) AS k_anonymous,
       (count(DISTINCT bal_bucket) >= 3) AS l_diverse
FROM q GROUP BY 1, 2
"""


@register("privacy_k_anonymity", _KANON_ORACLE)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity audit (operators/pii.k_anonymity_report)
    over the (nation, market-segment) quasi-identifier classes with the
    account-balance band as the sensitive attribute: one hash shuffle,
    both measures map-side combinable, output bounded by class
    cardinality — the release gate a privacy review runs before any
    training corpus ships."""
    from olake_spark.operators.pii import k_anonymity_report

    cust = table(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return k_anonymity_report(
        cust,
        quasi_identifiers=["c_nationkey", "c_mktsegment"],
        sensitive_col="bal_bucket",
        k=5,
        l_diversity=3,
    )


# GPT-2-style pretokenizer regex as a SQL literal (quotes doubled)
BPE_SQL_RE = _BPE_RE.replace("'", "''")


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    f"""
    SELECT doc_id, lang, len({_TOKS})::BIGINT AS n_tokens, length(text)::BIGINT AS n_chars
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "documents")
    return tx.with_token_count(df).select(
        "doc_id", "lang", "n_tokens", F.length("text").cast("long").alias("n_chars")
    )


@register(
    "text_quality_score",
    f"""
    WITH feat AS (
      SELECT doc_id,
             length(text)::DOUBLE AS n_chars,
             len({_TOKS})::DOUBLE AS n_tokens,
             (length(text) - length(regexp_replace(text, {_PUNCT_SQL}, '', 'g')))::DOUBLE AS n_punct,
             len(list_filter({_TOKS}, x -> list_contains({{stops}}, x)))::DOUBLE AS n_stop
      FROM documents
    ), ratios AS (
      SELECT doc_id, n_chars, n_tokens,
             CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stop_ratio,
             CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) / n_tokens ELSE 0.0 END AS mtl
      FROM feat
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stopword_ratio,
           round(mtl, 6) AS mean_token_len,
           round(CASE WHEN n_chars IS NULL THEN 0.0 ELSE
             (least(n_chars/500.0, 1.0) + (1.0 - punct_ratio) + (1.0 - stop_ratio)) / 3.0 END, 6)
             AS quality_score
    FROM ratios
    """.replace("{stops}", _stop_list()),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "documents")
    return tx.with_quality_features(df).select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len", "quality_score"
    )


def _langid_oracle() -> str:
    counts = {
        lang: "("
        + " + ".join(f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in ws)
        + ")"
        for lang, ws in tx.LANG_MARKERS.items()
    }
    langs = list(tx.LANG_MARKERS)
    whens = []
    for lang in langs:  # same strict-majority rule as the Spark operator
        others = " AND ".join(f"c_{lang} > c_{o}" for o in langs if o != lang)
        whens.append(f"WHEN c_{lang} > 0 AND {others} THEN '{lang}'")
    case = "CASE WHEN has_cjk THEN 'zh' " + " ".join(whens) + " ELSE 'und' END"
    sel = ", ".join(f"{sql} AS c_{lang}" for lang, sql in counts.items())
    return f"""
    WITH c AS (
      SELECT doc_id, regexp_matches(text, '[一-鿿]') AS has_cjk, {sel} FROM documents
    )
    SELECT lang_pred, count(*) AS n_docs
    FROM (SELECT doc_id, {case} AS lang_pred FROM c)
    GROUP BY lang_pred
    """


@register("text_lang_id", _langid_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "documents")
    return tx.with_lang_id(df).groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "doc_fingerprint",
    f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.with_fingerprint(table(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


@register(
    "sample_stratified",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_BUCKET_SQL.format(x="doc_id::VARCHAR")} <
      CASE lang WHEN 'en' THEN {int(0.5 * _HS)}
                WHEN 'fr' THEN {int(0.25 * _HS)}
                ELSE {int(0.1 * _HS)} END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language hash-threshold sampling (corpus rebalancing): keep 50%
    of en, 25% of fr, 10% of everything else — decided per row by a 60-bit
    md5 bucket, so the sample is stable under re-runs, retries, and any
    repartitioning (none of which holds for seed-based `sample()`)."""
    from olake_spark.operators.sampling import stratified_sample

    docs = table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "fr": 0.25}, default_fraction=0.1
    )
    return out.select("doc_id", "lang")


@register(
    "sample_reservoir_pergroup",
    f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_BUCKET_SQL.format(x="doc_id::VARCHAR")}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT lang, doc_id FROM ranked WHERE rn <= 7
    """,
)
def sample_reservoir_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir: exactly min(k, |group|) uniform
    rows per language — rank by key hash, keep the k smallest (one window
    shuffle on the group key)."""
    from olake_spark.operators.sampling import reservoir_per_group

    docs = table(spark, sf_dir, "documents")
    return reservoir_per_group(docs, ["lang"], "doc_id", k=7).select("lang", "doc_id")


@register(
    "sample_train_test_split",
    f"""
    SELECT CASE WHEN {_BUCKET_SQL.format(x="doc_id::VARCHAR || 'split'")} <
                     {int(0.2 * _HS)} THEN 'test' ELSE 'train' END AS split,
           lang, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 80/20 train/test assignment as a column (salted so the split
    is independent of any sampling done with the bare key), aggregated per
    language to show the split is unbiased across strata."""
    from olake_spark.operators.sampling import split_train_test

    docs = table(spark, sf_dir, "documents")
    return (
        split_train_test(docs, "doc_id", test_fraction=0.2)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------


def _pii_injected_sql() -> str:
    return """
    SELECT doc_id,
           text || CASE doc_id % 4
             WHEN 0 THEN ' contact user' || doc_id || '@example.com for details'
             WHEN 1 THEN ' server 10.0.' || (doc_id % 256)::VARCHAR || '.1 and 555-123-4567'
             WHEN 2 THEN ' ssn 123-45-6789 on file'
             ELSE '' END AS text
    FROM documents
    """


def _pii_counts_sql() -> str:
    from olake_spark.operators.pii import PII_PATTERNS

    cols = ", ".join(
        f"len(regexp_extract_all(text, '{pat}'))::INT AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    return cols


def _pii_redact_sql() -> str:
    from olake_spark.operators.pii import PII_PATTERNS

    expr = "text"
    for name, pat in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{pat}', '[{name.upper()}]', 'g')"
    return expr


@register(
    "pii_scan_redact",
    f"""
    WITH injected AS ({_pii_injected_sql()})
    SELECT doc_id, {_pii_counts_sql()}, {_pii_redact_sql()} AS redacted
    FROM injected
    """,
)
def pii_scan_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with synthetic identifiers injected
    deterministically (emails, dotted quads + phone, SSNs): per-pattern
    counts via one regexp pass each, then chained redaction to [TYPE]
    placeholders — identical regexes on both engines (dialect-portable
    subset: no lookarounds/backrefs)."""
    from olake_spark.operators.pii import pii_counts, redact_pii

    docs = table(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                            F.lit("@example.com for details")))
            .when(F.col("doc_id") % 4 == 1,
                  F.concat(F.lit(" server 10.0."), (F.col("doc_id") % 256).cast("string"),
                           F.lit(".1 and 555-123-4567")))
            .when(F.col("doc_id") % 4 == 2, F.lit(" ssn 123-45-6789 on file"))
            .otherwise(F.lit("")),
        ),
    )
    counted = pii_counts(injected, "text")
    redacted = redact_pii(counted, "text", out_col="redacted")
    n_cols = [F.col(f"n_{name}").cast("int").alias(f"n_{name}")
              for name in ["email", "ipv4", "ssn", "phone"]]
    return redacted.select("doc_id", *n_cols, "redacted")


# ---------------------------------------------------------------------------
# corpus quality: repetition stats, BPE-ish token estimate, decontamination
# ---------------------------------------------------------------------------


@register(
    "text_repetition_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), base AS (
      SELECT doc_id, len(t)::BIGINT AS n_tokens,
             round(CASE WHEN len(t) > 0
                        THEN 1.0 - len(list_distinct(t)) / len(t)::DOUBLE
                        ELSE 0.0 END, 6) AS dup_token_frac
      FROM toks
    ), grams AS (
      SELECT doc_id, n, array_to_string(t[i:i+n-1], ' ') AS gram
      FROM toks, (VALUES (2), (3), (5)) AS ns(n),
           unnest(generate_series(1, len(t) - n + 1)) AS u(i)
      WHERE len(t) >= n
    ), counts AS (
      SELECT doc_id, n, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
    ), per_doc AS (
      SELECT doc_id, n, max(cnt) AS max_cnt,
             sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
      FROM counts GROUP BY 1, 2
    ), piv AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 THEN max_cnt * 2 END) AS top2_tok,
             max(CASE WHEN n = 3 THEN max_cnt * 3 END) AS top3_tok,
             max(CASE WHEN n = 5 THEN dup_cnt * 5 END) AS dup5_tok
      FROM per_doc GROUP BY 1
    )
    SELECT b.doc_id, b.n_tokens, b.dup_token_frac,
           round(coalesce(top2_tok, 0) / b.n_tokens::DOUBLE, 6) AS top2_frac,
           round(coalesce(top3_tok, 0) / b.n_tokens::DOUBLE, 6) AS top3_frac,
           round(coalesce(dup5_tok, 0) / b.n_tokens::DOUBLE, 6) AS dup5_frac
    FROM base b LEFT JOIN piv USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-token
    fraction (per-row), top-2/3-gram token coverage, duplicated-5-gram token
    coverage. All shuffles keyed by the unique doc_id."""
    from olake_spark.operators.quality import repetition_stats

    docs = table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", top_ns=(2, 3), dup_ns=(5,))


_WS_RE = "[ \\t\\n\\r\\f\\x0B]+"  # explicit class: Java \s ∋ VT, RE2 \s ∌ VT


@register(
    "text_bpe_tokens",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_SQL_RE}'))::BIGINT
             AS n_bpe_tokens,
           len(string_split_regex(trim(text), '{_WS_RE}'))::BIGINT AS n_ws_tokens
    FROM documents
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-pretokenizer-regex token estimate vs whitespace token count —
    the cost-accounting pair a curation pipeline tracks per document. The
    oracle derives from the SAME module constant as the operator (drift
    impossible) and whitespace is the explicit cross-engine class."""
    from olake_spark.operators.quality import with_bpe_token_estimate

    docs = table(spark, sf_dir, "documents")
    df = with_bpe_token_estimate(docs)
    return df.select(
        "doc_id",
        "n_bpe_tokens",
        F.size(F.split(F.trim(F.col("text")), _WS_RE)).cast("long").alias("n_ws_tokens"),
    )


def _bpe_oracle() -> str:
    """Build the real-BPE oracle: the IDENTICAL rank-ordered replace-all
    algorithm as ``operators.bpe.encode_word``, expressed as one nested
    ``replace()`` chain over separator-wrapped symbol strings — no
    recursion, no UDF, runs on the DISTINCT pretoken set only."""
    from olake_spark.operators.bpe import DEFAULT_MERGES, SEP

    re_sql = BPE_SQL_RE  # pretokenizer regex, quotes doubled for SQL
    expr = "regexp_replace(pt, '(?s)(.)', chr(31)||'\\1'||chr(31), 'g')"
    for a, b in DEFAULT_MERGES:
        pat = SEP + a + SEP + SEP + b + SEP
        rep = SEP + a + b + SEP
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return f"""
    WITH docs_f AS (
      SELECT doc_id, replace(text, chr(31), '') AS t
      FROM documents WHERE doc_id % 3 = 0
    ), pre AS (
      SELECT doc_id, regexp_extract_all(t, '{re_sql}') AS pts FROM docs_f
    ), expl AS (
      SELECT doc_id, unnest(pts) AS pt, generate_subscripts(pts, 1) AS pos
      FROM pre
    ), dpt AS (
      SELECT DISTINCT pt FROM expl
    ), enc AS (
      SELECT pt, {expr} AS state FROM dpt
    ), tok AS (
      SELECT pt,
             len(string_split(substr(state, 2, length(state)-2),
                              chr(31)||chr(31)))::BIGINT AS n_toks,
             replace(replace(state, chr(31)||chr(31), ' '), chr(31), '') AS tok_str
      FROM enc
    ), per_doc AS (
      SELECT e.doc_id, count(*)::BIGINT AS n_pretokens,
             sum(t2.n_toks)::BIGINT AS n_bpe_tokens,
             md5(string_agg(t2.tok_str, ' ' ORDER BY e.pos)) AS token_hash
      FROM expl e JOIN tok t2 USING (pt) GROUP BY 1
    )
    SELECT d.doc_id, coalesce(p.n_pretokens, 0) AS n_pretokens,
           coalesce(p.n_bpe_tokens, 0) AS n_bpe_tokens,
           coalesce(p.token_hash, md5('')) AS token_hash
    FROM docs_f d LEFT JOIN per_doc p USING (doc_id)
    """


def _bpe_train_oracle(n_merges: int = 6) -> str:
    """Unrolled distributed-BPE-training oracle: per iteration, adjacent
    weighted pair counts over the wrapped symbol states, deterministic
    argmax (cnt desc, a, b), replace-everywhere — the same single lazy
    plan shape the Spark operator unrolls."""

    def it(i: int) -> str:
        return f"""
    p{i} AS (
      SELECT wt, syms[j] AS a, syms[j+1] AS b FROM (
        SELECT wt, syms, generate_subscripts(syms, 1) AS j FROM (
          SELECT wt, string_split(substr(state, 2, length(state)-2),
                                  chr(31)||chr(31)) AS syms
          FROM s{i-1})
      ) WHERE j < len(syms)
    ),
    b{i} AS (SELECT a, b, sum(wt)::BIGINT AS cnt FROM p{i}
             GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
    s{i} AS (SELECT replace(st.state,
                    chr(31)||bb.a||chr(31)||chr(31)||bb.b||chr(31),
                    chr(31)||bb.a||bb.b||chr(31)) AS state, st.wt
             FROM s{i-1} st CROSS JOIN b{i} bb)"""

    unions = "\n      UNION ALL ".join(
        f'SELECT {i - 1} AS "rank", a, b, cnt FROM b{i}'
        for i in range(1, n_merges + 1)
    )
    return f"""
    WITH docs_f AS (
      SELECT replace(text, chr(31), '') AS t
      FROM documents WHERE doc_id % 3 = 0
    ), pts AS (
      SELECT pt, count(*)::BIGINT AS wt FROM (
        SELECT unnest(regexp_extract_all(t, '{BPE_SQL_RE}')) AS pt FROM docs_f
      ) GROUP BY pt
    ),
    s0 AS (SELECT regexp_replace(pt, '(?s)(.)', chr(31)||'\\1'||chr(31), 'g') AS state, wt
           FROM pts),
    {','.join(it(i) for i in range(1, n_merges + 1))}
    SELECT * FROM (
      {unions}
    )
    """


@register("bpe_train_merges", _bpe_train_oracle(5))
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE TRAINING (operators/bpe.py bpe_train_merges): learn
    the corpus's top-5 merges as ONE lazy plan — each iteration's argmax
    is a 1-row broadcast cross join and the merge applies via replace()
    with column arguments, so the data-dependent loop unrolls without any
    driver round-trip (the quantized-k-means trick applied to tokenizer
    training). Training state is one row per DISTINCT pretoken weighted
    by corpus frequency: vocabulary cost, corpus-equivalent result."""
    from olake_spark.operators.bpe import bpe_train_merges

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return bpe_train_merges(docs, "doc_id", "text", n_merges=5)


@register("text_bpe_encode", _bpe_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL merges-driven BPE encoding (operators/bpe.py): per document,
    the exact pretoken count, true BPE token count, and an md5 over the
    full in-order token sequence — the oracle runs the identical
    rank-ordered merge algorithm in pure SQL, so a hash match proves
    token-for-token agreement. Encoding cost is per DISTINCT pretoken
    (vocabulary-sized), not per corpus row."""
    from olake_spark.operators.bpe import bpe_encode

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return bpe_encode(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# URL / domain curation + BM25 keyword scoring
# ---------------------------------------------------------------------------

_URL_INJECT_SQL = """
    SELECT doc_id,
           text || CASE doc_id % 5
             WHEN 0 THEN ' see https://spam' || (doc_id % 3)::VARCHAR
                         || '.junk.example/page' || doc_id::VARCHAR
             WHEN 1 THEN ' docs at http://docs.example.org/guide'
             WHEN 2 THEN ' cdn https://cdn' || (doc_id % 7)::VARCHAR
                         || '.assets-example.net/x and https://spam0.junk.example/x'
             ELSE '' END AS text
    FROM documents
"""


@register(
    "url_domain_stats",
    f"""
    WITH injected AS ({_URL_INJECT_SQL}),
    urls AS (
      SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\\s]+')) AS url
      FROM injected
    ), dom AS (
      SELECT doc_id, regexp_extract(url, 'https?://([^/\\s:]+)', 1) AS domain FROM urls
    )
    SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs,
           CASE WHEN regexp_matches(domain, '(^|\\.)junk\\.example$') THEN 1 ELSE 0 END
             AS blocked
    FROM dom GROUP BY domain
    """,
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL/document counts with a blocklist flag, over documents
    with synthetic URLs injected deterministically (same injection SQL shape
    as the PII query). Extraction is per-row regex; the only shuffle is the
    domain aggregation."""
    from olake_spark.operators.urls import domain_stats

    docs = table(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" see https://spam"), (F.col("doc_id") % 3).cast("string"),
                         F.lit(".junk.example/page"), F.col("doc_id").cast("string")),
            )
            .when(F.col("doc_id") % 5 == 1, F.lit(" docs at http://docs.example.org/guide"))
            .when(
                F.col("doc_id") % 5 == 2,
                F.concat(F.lit(" cdn https://cdn"), (F.col("doc_id") % 7).cast("string"),
                         F.lit(".assets-example.net/x and https://spam0.junk.example/x")),
            )
            .otherwise(F.lit("")),
        ),
    )
    stats = domain_stats(injected, "doc_id", "text")
    return stats.withColumn(
        "blocked",
        F.when(F.col("domain").rlike(r"(^|\.)junk\.example$"), F.lit(1)).otherwise(F.lit(0)),
    )


_BM25_TERMS = ["spark", "join", "filter", "window"]


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"len(regexp_extract_all(lower(text), '\\b{t}\\b'))::DOUBLE AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n             ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_{t}" for t in _BM25_TERMS
    )
    score = " + ".join(
        f"ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * (tf_{t} * 2.2) / (tf_{t} + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
        for t in _BM25_TERMS
    )
    tf_out = ", ".join(f"tf_{t}::BIGINT AS tf_{t}" for t in _BM25_TERMS)
    return f"""
    WITH base AS (
      SELECT doc_id, len({_TOKS})::DOUBLE AS dl,
             {tf_cols}
      FROM documents
    ), stats AS (
      SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
             {df_cols}
      FROM base
    )
    SELECT doc_id, dl::BIGINT AS dl, {tf_out},
           round(({score}) * 10000)::BIGINT AS bm25_e4
    FROM base, stats
    """


@register("bm25_keyword_scores", _bm25_oracle())
def bm25_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed seed-term set
    (k1=1.2, b=0.75): per-term tf in one scan, corpus stats as a 1-row
    broadcast, score as a pure column expression (scaled-int for the exact
    hash gate)."""
    from olake_spark.operators.bm25 import bm25_scores

    docs = table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, _BM25_TERMS, "doc_id", "text")
    return scored.withColumn(
        "bm25_e4", F.round(F.col("bm25") * 10000).cast("bigint")
    ).drop("bm25")


@register(
    "pack_sequences",
    f"""
    WITH tok AS (
      SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens,
             {_BUCKET_SQL.format(x="doc_id::VARCHAR || 'pack'")} AS h
      FROM documents
    ), cum AS (
      SELECT doc_id, n_tokens, (h % {_PACK_SHARDS})::INT AS shard,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY h % {_PACK_SHARDS} ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
      FROM tok
    )
    SELECT doc_id, n_tokens, shard,
           (cum_before // {_PACK_BUDGET})::BIGINT AS seq_in_shard,
           (cum_before % {_PACK_BUDGET})::BIGINT AS offset_in_seq,
           (cum_before % {_PACK_BUDGET} + n_tokens > {_PACK_BUDGET}) AS straddles
    FROM cum
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (GPT data-loader shape): documents
    are hash-shuffled into shards, laid head-to-tail, and cut every
    ``budget`` tokens; each doc's sequence index / offset / boundary-straddle
    flag falls out of one prefix-sum window per shard. No global sort, no
    stateful scan — scale is bounded by shard size, which the caller picks."""
    from olake_spark.operators.packing import pack_offsets

    docs = tx.with_token_count(table(spark, sf_dir, "documents"))
    return pack_offsets(
        docs, "doc_id", "n_tokens", budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    ).select("doc_id", "n_tokens", "shard", "seq_in_shard", "offset_in_seq", "straddles")


@register(
    "corpus_shuffle",
    f"""
    WITH t AS (
      SELECT doc_id, {_BUCKET_SQL.format(x="doc_id::VARCHAR || 'shuffle'")} AS h
      FROM documents
    )
    SELECT doc_id, (h % {_PACK_SHARDS})::INT AS shard,
           (ROW_NUMBER() OVER (
              PARTITION BY h % {_PACK_SHARDS} ORDER BY h, doc_id) - 1)::BIGINT
             AS pos_in_shard
    FROM t
    """,
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle: (shard, pos_in_shard) addresses decided
    only by the doc-id hash — reading shards in order replays the identical
    corpus order on any cluster size (resumable training epochs)."""
    from olake_spark.operators.packing import deterministic_shuffle

    docs = table(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, "doc_id", n_shards=_PACK_SHARDS).select(
        "doc_id", "shard", "pos_in_shard"
    )


def _mixture_oracle() -> str:
    values = ", ".join(f"('{s}', {w!r})" for s, w in _MIX_WEIGHTS.items())
    return f"""
    WITH wts(lang, wt) AS (VALUES {values}),
    counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), j AS (
      SELECT c.lang, c.n, w.wt FROM counts c JOIN wts w USING (lang)
    ), cap AS (SELECT min(n / wt) AS c FROM j),
    fr AS (
      SELECT lang, least(1.0, wt * (SELECT c FROM cap) / n) AS f FROM j
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN fr ON d.lang = fr.lang
    WHERE {_BUCKET_SQL.format(x="d.doc_id::VARCHAR || 'mix'")} <
          CAST(floor(f * {float(_HS)!r}) AS BIGINT)
    """


@register("mixture_weighted_sample", _mixture_oracle())
def mixture_weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample a multi-source corpus to target mixture weights: the
    largest achievable corpus keeps fraction min(1, w_s*C/n_s) per stratum
    (C = min n_s/w_s), decided per row by hash threshold. One tiny count
    agg + broadcast join — the scan side never shuffles."""
    from olake_spark.operators.sampling import mixture_weighted_sample

    docs = table(spark, sf_dir, "documents")
    return mixture_weighted_sample(docs, "doc_id", "lang", _MIX_WEIGHTS).select(
        "doc_id", "lang"
    )


@register(
    "text_rare_token_ratio",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ), dfreq AS (
      SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t
    ), rare AS (
      SELECT t FROM dfreq
      WHERE df < floor(0.78 * (SELECT count(*) FROM documents))
    ), rc AS (
      SELECT doc_id, count(*) AS n_rare FROM tok JOIN rare USING (t) GROUP BY doc_id
    )
    SELECT d.doc_id,
           len({_TOKS})::BIGINT AS n_tokens,
           COALESCE(rc.n_rare, 0)::BIGINT AS n_rare,
           CAST(CASE WHEN len({_TOKS}) > 0
                THEN round(COALESCE(rc.n_rare, 0) * 1000000.0 / len({_TOKS}), 0)
                ELSE 0.0 END AS BIGINT) AS rare_ratio_e6
    FROM documents d LEFT JOIN rc USING (doc_id)
    """,
)
def text_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token occurrence ratio per document (gibberish up, boilerplate
    down): document frequencies from one explode+distinct agg, then a LEFT
    SEMI join of occurrences against only the sub-threshold vocabulary —
    provably skew-free because every join key has df < threshold. The
    corpus-relative threshold rides a broadcast one-row count frame inside
    the plan — building this query triggers ZERO Spark actions (asserted in
    test_plans.py)."""
    from olake_spark.operators.quality import rare_token_ratio

    docs = table(spark, sf_dir, "documents")
    return rare_token_ratio(docs, "doc_id", "text", min_df_fraction=0.78)


@register(
    "text_unigram_info",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
    vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT count(*) AS tt FROM tok),
    scored AS (
      SELECT tok.doc_id, length(bin(tot.tt)) - length(bin(vocab.c)) AS info
      FROM tok JOIN vocab USING (w) CROSS JOIN tot
    ),
    agg AS (
      SELECT doc_id, sum(info)::BIGINT AS info_sum, count(*)::BIGINT AS n_tokens
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_tokens, 0)::BIGINT AS n_tokens,
           COALESCE(a.info_sum, 0)::BIGINT AS info_sum,
           CASE WHEN COALESCE(a.n_tokens, 0) > 0
                THEN (1000 * a.info_sum) // a.n_tokens ELSE 0 END::BIGINT
             AS mean_info_e3
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def text_unigram_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram surprisal (operators/quality.py
    unigram_info_score) — the model-free perplexity-filter stand-in:
    info(w) = floor(log2 T) - floor(log2 c_w), exact-integer arithmetic
    (length(bin(n)) - 1) so the score is bit-identical cross-engine under
    any partitioning. High mean = gibberish/OCR noise; near-zero =
    boilerplate."""
    from olake_spark.operators.quality import unigram_info_score

    docs = table(spark, sf_dir, "documents")
    return unigram_info_score(docs, "doc_id", "text")


@register(
    "leakage_safe_split",
    f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL.format(
               x="md5(" + _NORM + ") || 'content-split'")} <
               {int(0.2 * _HS)} THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed train/test split (operators/sampling.py
    split_by_fingerprint): the split key is md5 of normalized text, so
    byte-identical duplicates can never straddle the split — id-keyed
    splits leak n-1 copies of every duplicated document into eval."""
    from olake_spark.operators.sampling import split_by_fingerprint

    docs = table(spark, sf_dir, "documents")
    return split_by_fingerprint(docs, "text", 0.2).select("doc_id", "split")


def _mixture_tokens_oracle() -> str:
    values = ", ".join(f"('{s}', {w!r})" for s, w in _MIX_WEIGHTS.items())
    return f"""
    WITH wts(lang, wt) AS (VALUES {values}),
    counts AS (
      SELECT lang, sum(len({_TOKS}))::DOUBLE AS n FROM documents GROUP BY lang
    ), j AS (
      SELECT c.lang, c.n, w.wt FROM counts c JOIN wts w USING (lang)
    ), cap AS (SELECT min(n / wt) AS c FROM j),
    fr AS (
      SELECT lang, least(1.0, wt * (SELECT c FROM cap) / n) AS f FROM j
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN fr ON d.lang = fr.lang
    WHERE {_BUCKET_SQL.format(x="d.doc_id::VARCHAR || 'mixtok'")} <
          CAST(floor(f * {float(_HS)!r}) AS BIGINT)
    """


@register("mixture_token_weighted", _mixture_tokens_oracle())
def mixture_token_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (operators/sampling.py
    mixture_by_tokens) — what a pretraining mix actually targets: weights
    describe each source's share of the TOKEN stream, so long-document
    sources contribute fewer documents for the same share. Per-stratum
    token-mass aggregation + in-plan fraction arithmetic + broadcast join;
    the scan never shuffles."""
    from olake_spark.operators.sampling import mixture_by_tokens

    docs = table(spark, sf_dir, "documents")
    return mixture_by_tokens(docs, "doc_id", "lang", "text", _MIX_WEIGHTS).select(
        "doc_id", "lang"
    )


@register(
    "text_gopher_rules",
    f"""
    WITH t AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks)::BIGINT AS n_words,
             (length(norm) - (len(toks) - 1))::BIGINT AS char_sum,
             (length(norm) - length(replace(norm, '#', '')))::BIGINT AS hashes,
             ((length(norm) - length(replace(norm, '...', ''))) / 3)::BIGINT
               AS ellipses,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::BIGINT
               AS alpha_words,
             len(list_intersect(list_distinct(toks),
                 ['the','be','to','of','and','that','have','with']))::BIGINT
               AS stops
      FROM t
    )
    SELECT doc_id, n_words,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           (char_sum >= 3 * n_words AND char_sum <= 10 * n_words)
             AS ok_mean_word_len,
           (10 * (hashes + ellipses)) <= n_words AS ok_symbol_ratio,
           (5 * alpha_words) >= (4 * n_words) AS ok_alpha_words,
           stops >= 2 AS ok_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (char_sum >= 3 * n_words AND char_sum <= 10 * n_words)
            AND ((10 * (hashes + ellipses)) <= n_words)
            AND ((5 * alpha_words) >= (4 * n_words))
            AND (stops >= 2)) AS passes_gopher
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher corpus-filter rule set (operators/quality.py
    gopher_quality_flags): word-count bounds, mean word length, symbol
    ratio, alphabetic-word fraction, stop-word presence — every threshold
    an exact-integer comparison, so flags are bit-identical cross-engine."""
    from olake_spark.operators.quality import gopher_quality_flags

    docs = table(spark, sf_dir, "documents")
    return gopher_quality_flags(docs, "doc_id", "text")


_SRC_MIN_DOCS, _SRC_MIN_Q, _SRC_MAX_DUP = 10, 0.62, 0.05


@register(
    "source_quality_report",
    f"""
    WITH feat AS (
      SELECT source, text,
             length(text)::DOUBLE AS n_chars,
             len({{toks}})::DOUBLE AS n_tokens,
             (length(text) - length(regexp_replace(text, {_PUNCT_SQL}, '', 'g')))::DOUBLE AS n_punct,
             len(list_filter({{toks}}, x -> list_contains({{stops}}, x)))::DOUBLE AS n_stop
      FROM documents
    ), scored AS (
      SELECT source,
             coalesce(CAST(round(round(CASE WHEN n_chars IS NULL THEN 0.0 ELSE
                   (least(n_chars/500.0, 1.0)
                    + (1.0 - CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)
                    + (1.0 - CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END)) / 3.0 END,
                   6) * 1e6) AS BIGINT), 0) AS q,
             md5(coalesce({{norm}}, '')) AS fp
      FROM feat
    ), agg AS (
      SELECT source, count(*)::BIGINT AS n_docs, sum(q)::BIGINT AS sum_quality_micro,
             count(DISTINCT fp)::BIGINT AS nfp
      FROM scored GROUP BY source
    )
    SELECT source, n_docs, sum_quality_micro,
           round(sum_quality_micro / (n_docs * 1000000.0), 6) AS mean_quality,
           round((n_docs - nfp) / n_docs::DOUBLE, 6) AS dup_rate,
           (n_docs >= {_SRC_MIN_DOCS} AND (sum_quality_micro < {int(round(_SRC_MIN_Q * 1e6))} * n_docs
             OR (n_docs - nfp) * 1000000 > {int(round(_SRC_MAX_DUP * 1e6))} * n_docs)) AS flagged
    FROM agg
    """.replace("{toks}", _TOKS).replace("{stops}", _stop_list()).replace("{norm}", _NORM),
)
def source_quality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level corpus hygiene (operators/quality.py
    source_quality_report — the RefinedWeb/FineWeb domain-filtering
    pattern): per-source doc count, order-free exact-integer quality sum,
    exact-dup rate, and the flag decision (support floor + two cross-
    multiplied integer thresholds). Feeds source_quality_filter's
    anti-join."""
    from olake_spark.operators.quality import source_quality_report

    docs = table(spark, sf_dir, "documents")
    return source_quality_report(
        docs, "doc_id", "text", "source",
        min_docs=_SRC_MIN_DOCS, min_quality=_SRC_MIN_Q, max_dup_rate=_SRC_MAX_DUP,
    )


def _script_stats_oracle() -> str:
    from olake_spark.operators.text import SCRIPT_CLASSES

    counts = ", ".join(
        f"(length(text) - length(regexp_replace(text, '{re2}', '', 'g')))::BIGINT"
        f" AS n_{name}"
        for name, _, re2 in SCRIPT_CLASSES
    )
    names = [name for name, _, _ in SCRIPT_CLASSES]
    gr = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    ratios = ", ".join(
        f"CASE WHEN n_chars_total > 0 THEN round(n_{n} / n_chars_total::DOUBLE, 6)"
        f" ELSE 0.0 END AS ratio_{n}"
        for n in names
    )
    dominant = (
        "CASE WHEN " + gr + " = 0 THEN 'none' "
        + " ".join(f"WHEN n_{n} = {gr} THEN '{n}'" for n in names)
        + " END AS dominant_script"
    )
    return f"""
    WITH src AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    c AS (
      SELECT doc_id, length(text)::BIGINT AS n_chars_total, {counts}
      FROM src
    )
    SELECT doc_id, n_chars_total, {', '.join(f'n_{n}' for n in names)},
           {ratios}, {dominant}
    FROM c
    """


@register("text_script_stats", _script_stats_oracle())
def text_script_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profiling (operators/text.py with_script_stats):
    per-doc character counts/ratios for Latin/Cyrillic/CJK/Arabic/digit
    classes + dominant script — the script-level router multilingual
    corpora apply before any language model. Count-by-deletion keeps it
    pure codegen; the oracle renders the same ranges in RE2."""
    from olake_spark.operators.text import SCRIPT_CLASSES, with_script_stats

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    names = [n for n, _, _ in SCRIPT_CLASSES]
    return with_script_stats(docs, "text").select(
        "doc_id",
        "n_chars_total",
        *[f"n_{n}" for n in names],
        *[f"ratio_{n}" for n in names],
        "dominant_script",
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction + vocabulary coverage
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
      WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tf.term, tf, df, round(tf * ln(n_docs / df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)::INT AS rank
      FROM scored)
    WHERE rank <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction (operators/tfidf.py tfidf_top_terms): the 3 most
    characteristic terms per document by tf * ln(N/df). Rank ties break on
    the rounded score then term ascending — deterministic under any
    partitioning; N rides a 1-row broadcast so construction is lazy."""
    from olake_spark.operators.tfidf import tfidf_top_terms

    docs = table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", top_n=3)


@register(
    "vocab_coverage",
    f"""
    WITH counts AS (
      SELECT term, count(*)::BIGINT AS n_occurrences
      FROM (SELECT unnest({_TOKS}) AS term FROM documents)
      WHERE term <> '' GROUP BY term
    ),
    total AS (SELECT sum(n_occurrences)::DOUBLE AS tot FROM counts),
    top AS (SELECT * FROM counts ORDER BY n_occurrences DESC, term ASC LIMIT 40)
    SELECT term, n_occurrences,
      row_number() OVER (ORDER BY n_occurrences DESC, term ASC)::INT AS rank,
      round(sum(n_occurrences) OVER (
        ORDER BY n_occurrences DESC, term ASC ROWS UNBOUNDED PRECEDING) / tot, 6)
        AS coverage
    FROM top CROSS JOIN total
    """,
)
def vocab_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Zipf head (operators/tfidf.py vocab_coverage): top-40
    terms with cumulative token coverage — the pre-read for tokenizer vocab
    sizing and max_df dedup caps. The global order materializes only the
    top-k rows (TakeOrderedAndProject), never a full sort."""
    from olake_spark.operators.tfidf import vocab_coverage

    docs = table(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text", top_k=40)


# ---------------------------------------------------------------------------
# document chunking + duplicate-span exposure
# ---------------------------------------------------------------------------


@register(
    "chunk_documents",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 32 THEN 1
                  ELSE (len(toks) - 32 + 23) // 24 + 1 END AS nc
      FROM t
    ),
    e AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM c)
    SELECT doc_id, chunk_id::INT AS chunk_id,
           (chunk_id*24 + 1)::INT AS start_token,
           len(toks[(chunk_id*24 + 1) : (chunk_id*24 + 32)])::INT AS n_tokens,
           array_to_string(toks[(chunk_id*24 + 1) : (chunk_id*24 + 32)], ' ')
             AS chunk_text
    FROM e
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding preprocessing (operators/chunking.py chunk_documents):
    every document split into 32-token windows advancing 24 tokens, with
    chunk index and 1-based start-token provenance. Pure array built-ins,
    one explode, zero shuffle."""
    from olake_spark.operators.chunking import chunk_documents

    docs = table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", window=32, stride=24)


@register(
    "dup_span_stats",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pos AS (
      SELECT doc_id, array_to_string(toks[i : i+4], ' ') AS g
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t)
    ),
    gdf AS (
      SELECT g, count(*) AS gdf
      FROM (SELECT DISTINCT doc_id, g FROM pos) GROUP BY g
    ),
    per_doc AS (
      SELECT pos.doc_id, count(*)::BIGINT AS n_grams,
             sum((gdf >= 2)::INT)::BIGINT AS n_dup_grams
      FROM pos JOIN gdf USING (g) GROUP BY pos.doc_id
    )
    SELECT d.doc_id,
           coalesce(n_grams, 0)::BIGINT AS n_grams,
           coalesce(n_dup_grams, 0)::BIGINT AS n_dup_grams,
           round(coalesce(n_dup_grams, 0) / greatest(coalesce(n_grams, 0), 1), 6)
             AS dup_fraction
    FROM documents d LEFT JOIN per_doc ON per_doc.doc_id = d.doc_id
    """,
)
def dup_span_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span exposure (operators/quality.py
    dup_span_stats): fraction of each doc's word 5-gram positions whose
    gram recurs in another document — the exact-repeated-span signal that
    doc-level dedup cannot see. One explode + a vocabulary-sized gram-df
    join; the corpus never self-joins."""
    from olake_spark.operators.quality import dup_span_stats

    docs = table(spark, sf_dir, "documents")
    return dup_span_stats(docs, "doc_id", "text", k=5)


# ---------------------------------------------------------------------------
# model-based quality filtering (hashed bag-of-words linear classifier)
# ---------------------------------------------------------------------------


def _classifier_oracle() -> str:
    from olake_spark.operators.classifier import WEIGHT_SCALE, default_weights

    wl = "[" + ", ".join(str(w) for w in default_weights(256)) + "]"
    h = _H60.format(x="tok")
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    contrib AS (
      SELECT doc_id, ({wl})[(({h}) % 256 + 1)::INT] AS w
      FROM tok WHERE tok <> ''
    ),
    agg AS (
      SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(w)::BIGINT AS z
      FROM contrib GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(n_tokens, 0)::BIGINT AS n_tokens,
           coalesce(z, 0)::BIGINT AS logit_micro,
           round(1.0/(1.0 + exp(-(coalesce(z, 0) / {float(WEIGHT_SCALE)}))), 6) AS score,
           round(1.0/(1.0 + exp(-(coalesce(z, 0) / {float(WEIGHT_SCALE)}))), 6) >= 0.5
             AS keep
    FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
    """


@register("classify_quality_hashed_bow", _classifier_oracle())
def classify_quality_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (operators/classifier.py
    classify_quality): a linear classifier over 256 hashed bag-of-words
    buckets scores every document; keep = sigmoid >= 0.5. Weights are
    integer micro-units so the logit is an exact order-free integer sum —
    the decision boundary is engine-independent; the weight table is an
    array literal in the plan (no join, no Python)."""
    from olake_spark.operators.classifier import classify_quality, default_weights

    docs = table(spark, sf_dir, "documents")
    return classify_quality(docs, "doc_id", "text", default_weights(256))


# ---------------------------------------------------------------------------
# HTML -> visible text extraction
# ---------------------------------------------------------------------------

_HTML_WRAP_SQL = (
    "'<html><head><style>h1 {color: red}</style></head><body><h1>Doc &amp; ' || source"
    " || '</h1><p>' || substring(text, 1, 80)"
    " || '</p><br><div>tail &lt;x&gt;</div>"
    "<script type=\"text/javascript\">var x = 1 < 2;</script></body></html>'"
)


def _strip_html_sql(x: str) -> str:
    from olake_spark.operators.text import HTML_ENTITIES

    for tag in ("script", "style"):
        x = f"regexp_replace({x}, '(?is)<{tag}\\b[^>]*>.*?</{tag}\\s*>', ' ', 'g')"
    x = (
        f"regexp_replace({x}, '(?i)<br\\s*/?>|</(p|div|li|h[1-6]|tr|table|ul|ol)\\s*>',"
        " chr(10), 'g')"
    )
    x = f"regexp_replace({x}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, rep in HTML_ENTITIES:
        rep_sql = "''''" if rep == "'" else f"'{rep}'"
        x = f"regexp_replace({x}, '{ent}', {rep_sql}, 'g')"
    x = f"regexp_replace({x}, '&#(\\d+);', ' ', 'g')"
    x = f"regexp_replace({x}, '[ \\t\\r]+', ' ', 'g')"
    x = f"regexp_replace({x}, ' ?\\n ?', chr(10), 'g')"
    x = f"regexp_replace({x}, '\\n{{2,}}', chr(10), 'g')"
    x = f"regexp_replace({x}, '^\\n+|\\n+$', '', 'g')"
    return f"trim({x})"


@register(
    "html_text_extract",
    f"""
    WITH h AS (SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents)
    SELECT doc_id, {_strip_html_sql('html')} AS text
    FROM h
    """,
)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style visible-text extraction (operators/text.py strip_html):
    documents wrapped in a deterministic HTML shell (head/style, headings,
    entities, an inline script with a bare '<') are reduced back to their
    visible text as a pure codegen regex chain — script/style content
    dropped, block closers become line breaks (feeding line-level dedup),
    entities decoded, whitespace normalized. No parser, no Python."""
    from olake_spark.operators.text import strip_html

    docs = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><style>h1 {color: red}</style></head><body><h1>Doc &amp; '),
        F.col("source"),
        F.lit("</h1><p>"),
        F.substring(F.col("text"), 1, 80),
        F.lit('</p><br><div>tail &lt;x&gt;</div>'
              '<script type="text/javascript">var x = 1 < 2;</script></body></html>'),
    )
    return docs.select("doc_id", strip_html(html).alias("text"))


@register(
    "length_bucket_stats",
    """
    WITH b AS (
      SELECT doc_id, n_chars,
             ntile(8) OVER (ORDER BY n_chars ASC, doc_id ASC) AS bucket
      FROM documents
    )
    SELECT bucket, count(*)::BIGINT AS n,
           min(n_chars)::BIGINT AS min_len, max(n_chars)::BIGINT AS max_len,
           round((max(n_chars) * count(*) - sum(n_chars))
                 / (max(n_chars) * count(*)), 6) AS padding_frac
    FROM b GROUP BY bucket
    """,
)
def length_bucket_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile length-bucketing (operators/packing.py length_bucket_stats):
    8 equal-count buckets by document length with per-bucket padding waste
    — the batching layout that minimizes pad tokens for inference/eval.
    ntile ties break on the id, so bucket assignment is deterministic."""
    from olake_spark.operators.packing import length_bucket_stats

    docs = table(spark, sf_dir, "documents")
    return length_bucket_stats(docs, "doc_id", "n_chars", 8)


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py)
# ---------------------------------------------------------------------------

_DSIR_H = "('0x' || substring(md5(f),1,15))::BIGINT"
_DSIR_M = _dsir.DSIR_BUCKETS

_DSIR_ORACLE = f"""
    WITH norm AS (
      SELECT doc_id, lang,
             string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, lang, unnest(toks) AS t, generate_subscripts(toks, 1) AS i
      FROM norm
    ),
    feats AS (
      SELECT doc_id, lang, 'u|' || t AS f FROM pos WHERE t <> ''
      UNION ALL
      SELECT a.doc_id, a.lang, 'b|' || a.t || ' ' || b.t AS f
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      WHERE a.t <> ''
    ),
    bucketed AS (SELECT doc_id, lang, {_DSIR_H} % {_DSIR_M} AS bucket FROM feats),
    docb AS (
      SELECT doc_id, bucket, count(*)::BIGINT AS cnt
      FROM bucketed WHERE lang <> 'en' GROUP BY 1, 2
    ),
    rawb AS (SELECT bucket, sum(cnt)::BIGINT AS r_cnt FROM docb GROUP BY 1),
    tgtb AS (
      SELECT bucket, count(*)::BIGINT AS t_cnt
      FROM bucketed WHERE lang = 'en' GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT sum(r_cnt) FROM rawb)::BIGINT AS R,
             (SELECT coalesce(sum(t_cnt), 0) FROM tgtb)::BIGINT AS T
    ),
    ratio AS (
      SELECT rawb.bucket,
             round(ln(
               ((coalesce(tgtb.t_cnt, 0) + 1) * (tot.R + {_DSIR_M}))::DOUBLE
               / ((rawb.r_cnt + 1) * (tot.T + {_DSIR_M}))::DOUBLE
             ) * 1000000, 0)::BIGINT AS lr_micros
      FROM rawb LEFT JOIN tgtb ON rawb.bucket = tgtb.bucket CROSS JOIN tot
    ),
    scored AS (
      SELECT docb.doc_id, sum(cnt)::BIGINT AS n_features,
             sum(cnt * lr_micros)::BIGINT AS score_micros
      FROM docb JOIN ratio ON docb.bucket = ratio.bucket GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(s.n_features, 0)::BIGINT AS n_features,
           coalesce(s.score_micros, 0)::BIGINT AS score_micros,
           round(coalesce(s.score_micros, 0) / 1000000.0, 6) AS log_weight
    FROM (SELECT DISTINCT doc_id FROM documents WHERE lang <> 'en') d
    LEFT JOIN scored s ON d.doc_id = s.doc_id
    """


@register("dsir_importance_weights", _DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. NeurIPS'23) target-likeness scores for the raw
    pool (non-English docs) against the English target corpus: add-1
    smoothed bag-of-hashed-ngrams likelihood ratio, summed per doc in
    EXACT micro-unit integers (partition-order-free; the gate compares
    the integer state, log_weight is its rounded double form). Both
    corpus models are 1024-row tables built map-side and broadcast —
    at 100 TB the raw pool shuffles once (per-doc feature counts) and
    the model join never shuffles it again."""
    docs = table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("lang") != "en")
    target = docs.filter(F.col("lang") == "en")
    return _dsir.dsir_log_weights(raw, target, "doc_id", "text")


# ---------------------------------------------------------------------------
# Corpus bigram LM (operators/lm.py): the KenLM-shaped quality filter on
# exact-integer statistics
# ---------------------------------------------------------------------------

_BIGRAMS_SQL = (
    f"list_filter(list_transform(range(1, greatest(len({_TOKS})-1,1)+1), "
    f"i -> struct_pack(w1 := ({_TOKS})[i], w2 := ({_TOKS})[i+1])), "
    "p -> p.w2 IS NOT NULL)"
)

_LM_TOP_ORACLE = f"""
    WITH bg AS (
      SELECT unnest({_BIGRAMS_SQL}) AS p FROM documents
    ),
    cnts AS (
      SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS cnt FROM bg GROUP BY 1, 2
    )
    SELECT w1, w2, cnt FROM (
      SELECT *, row_number() OVER (ORDER BY cnt DESC, w1, w2) AS rn FROM cnts
    ) WHERE rn <= 25
    """


@register("text_bigram_lm_top", _LM_TOP_ORACLE)
def text_bigram_lm_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM training (operators/lm.py bigram_counts): one explode +
    one map-side-combinable groupBy over whitespace tokens; the model
    relation is vocabulary-sized (Zipf-bounded), never corpus-sized.
    Reported as the deterministic top-25 (cnt desc, then bigram) so the
    oracle pins the full count table through its head."""
    from pyspark.sql import Window as W

    from olake_spark.operators.lm import bigram_counts

    lm = bigram_counts(table(spark, sf_dir, "documents"))
    w = W.partitionBy().orderBy(F.col("cnt").desc(), "w1", "w2")
    return (
        lm.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("w1", "w2", "cnt")
    )


_LM_SCORE_ORACLE = f"""
    WITH bg AS (
      SELECT unnest({_BIGRAMS_SQL}) AS p FROM documents
    ),
    lm AS (
      SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS cnt FROM bg GROUP BY 1, 2
    ),
    occ AS (
      SELECT doc_id, p.w1 AS w1, p.w2 AS w2
      FROM (SELECT doc_id, unnest({_BIGRAMS_SQL}) AS p
            FROM documents WHERE doc_id < 120)
    ),
    j AS (
      SELECT o.doc_id, coalesce(lm.cnt, 0) AS c
      FROM occ o LEFT JOIN lm ON lm.w1 = o.w1 AND lm.w2 = o.w2
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_known,
           round(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) / count(*), 6)
             AS coverage,
           round(sum(c) / count(*), 4) AS avg_bigram_cnt
    FROM j GROUP BY doc_id
    """


@register("text_bigram_lm_score", _LM_SCORE_ORACLE)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-distribution scoring against the corpus bigram LM (operators/
    lm.py lm_coverage_score) — the CCNet/Gopher-style LM quality filter
    on EXACT integers: per doc, the share of bigram occurrences the LM
    saw >= 2 times and the mean observed count, integers divided once at
    the end (same IEEE double in any engine — no float log-prob sum
    whose addition order could flip a rounding). Corpus rows shuffle
    once on doc_id; the vocabulary-sized LM broadcasts."""
    from olake_spark.operators.lm import bigram_counts, lm_coverage_score

    docs = table(spark, sf_dir, "documents")
    lm = bigram_counts(docs)
    return lm_coverage_score(
        docs.filter(F.col("doc_id") < 120), lm, min_count=2
    )


@register(
    "text_zipf_slope",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
    counts AS (SELECT t, count(*) AS c FROM tok WHERE t <> '' GROUP BY t),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
      FROM counts QUALIFY r <= 1000
    ),
    m AS (
      SELECT count(*)::BIGINT AS v,
        sum(floor(ln(r::DOUBLE) * 1000000000)::BIGINT) AS sxn,
        sum(floor(ln(c::DOUBLE) * 1000000000)::BIGINT) AS syn,
        sum(floor(ln(r::DOUBLE) * ln(r::DOUBLE) * 1000000000)::BIGINT) AS sxxn,
        sum(floor(ln(r::DOUBLE) * ln(c::DOUBLE) * 1000000000)::BIGINT) AS sxyn
      FROM ranked
    ),
    f AS (
      SELECT v, v::DOUBLE AS n,
             sxn/1000000000.0 AS sx, syn/1000000000.0 AS sy,
             sxxn/1000000000.0 AS sxx, sxyn/1000000000.0 AS sxy
      FROM m
    ),
    g AS (
      SELECT v, n, sx, sy,
             n*sxx - sx*sx AS den, n*sxy - sx*sy AS num
      FROM f
    )
    SELECT v,
      CASE WHEN den > 0 THEN round(num/den, 6) END AS slope,
      CASE WHEN den > 0 THEN round((sy - (num/den)*sx)/n, 6) END AS intercept
    FROM g
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope of the corpus unigram distribution
    (operators/text.zipf_slope) — natural text sits near −1; templated
    or synthetic corpora drift, so the fit is a one-number generated-
    text / corpus-mix alarm. One token shuffle; the top-1000 ranking is
    vocabulary-sized; the regression moments are nano-floored BIGINT
    sums of per-token ln terms (order-free), finished by two closed-form
    divisions."""
    from olake_spark.operators.text import zipf_slope

    docs = table(spark, sf_dir, "documents")
    return zipf_slope(docs, "text", top_v=1000)


_TTR_ORACLE = r"""
WITH tok AS (
  SELECT source,
         unnest(string_split(
           regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS t
  FROM documents
),
per AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
agg AS (
  SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
  FROM per GROUP BY 1
)
SELECT source, n_tokens, n_types, n_hapax,
       round(n_types::DOUBLE / n_tokens::DOUBLE, 6) AS ttr,
       round(n_hapax::DOUBLE / n_types::DOUBLE, 6) AS hapax_share
FROM agg
"""


@register("documents_ttr_by_source", _TTR_ORACLE)
def documents_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + hapax share per document source — the corpus
    lexical-diversity census (low TTR → boilerplate/templated source;
    high hapax share → noisy OCR or genuinely diverse text). One
    explode + one (source, token) shuffle; counts exact, two divides."""
    from olake_spark.operators.dedup import normalize_text

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("_t"),
    )
    per = tok.groupBy("source", "_t").agg(F.count(F.lit(1)).alias("_c"))
    agg = per.groupBy("source").agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return agg.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_hapax").cast("long").alias("n_hapax"),
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("ttr"),
        F.round(
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double"),
            6,
        ).alias("hapax_share"),
    )


_HEAPS_ORACLE = f"""
WITH ids AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
base AS (
  SELECT CAST(((doc_id - lo) * 32) // (hi - lo + 1) AS INT) AS b,
         {_TOKS} AS l
  FROM documents, ids
),
tok AS (
  SELECT b, unnest(l) AS t FROM base
),
tok_ne AS (SELECT b, t FROM tok WHERE t <> ''),
first_seen AS (SELECT t, min(b) AS fb FROM tok_ne GROUP BY 1),
new_vocab AS (SELECT fb AS b, count(*)::HUGEINT AS nv FROM first_seen GROUP BY 1),
tok_mass AS (SELECT b, count(*)::HUGEINT AS nt FROM tok_ne GROUP BY 1),
docs_per AS (SELECT b, count(*)::HUGEINT AS nd FROM base GROUP BY 1),
per_bucket AS (
  SELECT d.b, coalesce(m.nt, 0) AS nt, coalesce(v.nv, 0) AS nv, d.nd
  FROM docs_per d
  LEFT JOIN tok_mass m ON m.b = d.b
  LEFT JOIN new_vocab v ON v.b = d.b
),
cum AS (
  SELECT b, nd,
         sum(nt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cn,
         sum(nv) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cv
  FROM per_bucket
),
pts AS (
  SELECT nd, cn, cv,
         floor(ln(cn::DOUBLE) * 1e9)::BIGINT AS x,
         floor(ln(cv::DOUBLE) * 1e9)::BIGINT AS y,
         floor(ln(cn::DOUBLE) * ln(cn::DOUBLE) * 1e9)::BIGINT AS xx,
         floor(ln(cn::DOUBLE) * ln(cv::DOUBLE) * 1e9)::BIGINT AS xy
  FROM cum WHERE cn > 0 AND cv > 0
),
agg AS (
  SELECT count(*)::HUGEINT AS n, sum(nd) AS docs,
         max(cn) AS toktot, max(cv) AS vocab,
         sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
         sum(xx)::HUGEINT AS sxx, sum(xy)::HUGEINT AS sxy
  FROM pts
),
fit AS (
  SELECT n, docs, toktot, vocab,
         (n * 1000000000 * sxx - sx * sx)::DOUBLE AS den,
         (n * 1000000000 * sxy - sx * sy)::DOUBLE AS num,
         sx, sy
  FROM agg
)
SELECT n::BIGINT AS n_buckets_used, docs::BIGINT AS n_docs,
       toktot::BIGINT AS n_tokens, vocab::BIGINT AS vocab,
       CASE WHEN n > 1 AND den > 0
            THEN round(num / den, 6) END AS heaps_beta,
       CASE WHEN n > 1 AND den > 0 THEN
         round(exp((sy::DOUBLE - (num / den) * sx::DOUBLE)
                   / n::DOUBLE / 1e9), 6)
       END AS heaps_k
FROM fit
"""


@register("documents_heaps_law", _HEAPS_ORACLE)
def documents_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit over the documents corpus in
    doc_id order (operators/text.heaps_law) — "is new data bringing new
    words?". 32 fixed id-range buckets via a 1-row (min, max)
    broadcast; token first-appearance buckets; the ln-ln OLS over the
    bucket relation with the loglog-elasticity nano discipline."""
    from olake_spark.operators.text import heaps_law

    return heaps_law(
        table(spark, sf_dir, "documents"), "doc_id", "text", buckets=32
    )


_FLESCH_ORACLE = """
WITH per_doc AS (
  SELECT lang,
         CASE WHEN trim(lower(text)) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
         END::BIGINT AS w,
         greatest(1, len(regexp_split_to_array(text, '[.!?]+')) - 1)
           ::BIGINT AS s,
         (len(regexp_split_to_array(lower(text), '[aeiouy]+')) - 1)
           ::BIGINT AS y
  FROM documents
),
staged AS (
  SELECT lang, (w > 0) AS ok,
         CASE WHEN w > 0
              THEN floor((w::DOUBLE / s::DOUBLE) * 1000000000)::BIGINT
              ELSE 0 END AS wps_n,
         CASE WHEN w > 0
              THEN floor((y::DOUBLE / w::DOUBLE) * 1000000000)::BIGINT
              ELSE 0 END AS spw_n,
         CASE WHEN w > 0
              THEN floor((206.835 - 1.015 * (w::DOUBLE / s::DOUBLE)
                          - 84.6 * (y::DOUBLE / w::DOUBLE))
                         * 1000000000)::BIGINT
              ELSE 0 END AS fre_n
  FROM per_doc
)
SELECT lang,
       sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_docs,
       sum(CASE WHEN ok THEN 0 ELSE 1 END)::BIGINT AS n_empty,
       round(sum(wps_n)::DOUBLE / 1000000000
             / sum(CASE WHEN ok THEN 1 ELSE 0 END)::DOUBLE, 6)
         AS avg_words_per_sentence,
       round(sum(spw_n)::DOUBLE / 1000000000
             / sum(CASE WHEN ok THEN 1 ELSE 0 END)::DOUBLE, 6)
         AS avg_syllables_per_word,
       round(sum(fre_n)::DOUBLE / 1000000000
             / sum(CASE WHEN ok THEN 1 ELSE 0 END)::DOUBLE, 6)
         AS avg_flesch
FROM staged GROUP BY lang
"""


@register("documents_flesch_by_lang", _FLESCH_ORACLE)
def documents_flesch_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease census per language
    (operators/quality.flesch_reading_ease) — readability screen with
    engine-portable word/sentence/vowel-run proxies; per-doc ratios
    nano-floored before the group sums."""
    from olake_spark.operators.quality import flesch_reading_ease

    return flesch_reading_ease(
        table(spark, sf_dir, "documents"), "doc_id", "text", by=["lang"]
    )


_NEYMAN_ORACLE = """
WITH per AS (
  SELECT s_nationkey,
         count(*)::HUGEINT AS n,
         sum(round(s_acctbal * 1000000)::BIGINT)::HUGEINT AS s,
         sum(round(s_acctbal * 1000000)::BIGINT::HUGEINT
             * round(s_acctbal * 1000000)::BIGINT) AS q
  FROM supplier WHERE s_acctbal IS NOT NULL GROUP BY 1
),
sdv AS (
  SELECT s_nationkey, n,
         coalesce(CASE WHEN n > 1 THEN
           sqrt((n*q - s*s)::DOUBLE / (n*(n-1))::DOUBLE) / 1e6 END, 0.0)
           AS sd
  FROM per
),
meas AS (
  SELECT s_nationkey, n, sd,
         round(n::DOUBLE * sd * 1000000)::HUGEINT AS m
  FROM sdv
),
frac AS (
  SELECT s_nationkey, n, sd,
         coalesce(1000.0 * (
           (CASE WHEN sum(m) OVER () > 0 THEN m ELSE n END)::DOUBLE
           / nullif(CASE WHEN sum(m) OVER () > 0 THEN sum(m) OVER ()
                         ELSE sum(n) OVER () END, 0)::DOUBLE), 0.0) AS f
  FROM meas
),
ranked AS (
  SELECT s_nationkey, n, sd, f,
         floor(f)::BIGINT AS base,
         row_number() OVER (ORDER BY f - floor(f) DESC, s_nationkey)
           AS rk,
         1000 - sum(floor(f)::BIGINT) OVER () AS leftn
  FROM frac
)
SELECT s_nationkey, n::BIGINT AS n_pop, round(sd, 6) AS sd,
       round(f, 6) AS alloc_frac,
       (base + CASE WHEN rk <= leftn THEN 1 ELSE 0 END)::BIGINT AS alloc_n
FROM ranked
"""


@register("supplier_neyman_allocation", _NEYMAN_ORACLE)
def supplier_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a 1000-unit sample budget across
    supplier nations by account-balance SD
    (operators/sampling.neyman_allocation) — n_h proportional to
    N_h*S_h, with the Hamilton largest-remainder integerization whose
    alloc_n column sums exactly to the budget."""
    from olake_spark.operators.sampling import neyman_allocation

    return neyman_allocation(
        table(spark, sf_dir, "supplier"), ["s_nationkey"], "s_acctbal",
        total_n=1000,
    )


# ---------------------------------------------------------------------------
# r11 post-close wave: richness/smoothing + paired/stratified tests +
# distribution distance + autocorrelation diagnostic
# ---------------------------------------------------------------------------

_CHAO1_ORACLE = """
WITH counts AS (
  SELECT user_id, date_trunc('day', ts) AS day, count(*)::BIGINT AS c
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
m AS (
  SELECT count(*)::BIGINT AS vocab, sum(c)::BIGINT AS n_tokens,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
  FROM counts
)
SELECT vocab, n_tokens, f1, f2,
       round(vocab::DOUBLE + (f1::DOUBLE * (f1::DOUBLE - 1.0))
             / (2.0 * (f2::DOUBLE + 1.0)), 6) AS chao1
FROM m
"""


@register("events_chao1_user_days", _CHAO1_ORACLE)
def events_chao1_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 capture-recapture estimate of the TRUE number of active
    user-days from sighting counts (operators/text.
    chao1_from_occurrences — the estimator is unit-agnostic): f1=1109 /
    f2=1158 singleton/doubleton user-days at sf0.01, so the estimate is
    a real extrapolation, not the degenerate vocab echo the templated
    `documents` corpus produces (31 token types, min count 26 — zero
    singletons; that near-vacuous fixture is exactly what the r11
    mod-sweep lesson says to avoid)."""
    from olake_spark.operators.text import chao1_from_occurrences

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    occ = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    return chao1_from_occurrences(occ, ["user_id", "day"])


_GT_ORACLE = """
WITH counts AS (
  SELECT user_id, date_trunc('day', ts) AS day, count(*)::BIGINT AS c
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
fof AS (
  SELECT c AS r, count(*)::BIGINT AS n_r FROM counts GROUP BY 1
)
SELECT a.r::BIGINT AS r, a.n_r,
       round((a.r + 1)::DOUBLE * b.n_r::DOUBLE / a.n_r::DOUBLE, 6) AS r_star
FROM fof a LEFT JOIN fof b ON b.r = a.r + 1
WHERE a.r <= 10
"""


@register("events_good_turing_user_days", _GT_ORACLE)
def events_good_turing_user_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Good–Turing adjusted sighting counts r* over the user-day
    frequency-of-frequencies (operators/text.
    good_turing_from_occurrences), r ≤ 10 — all ten rows populated at
    sf0.01 (the documents corpus's count floor of 26 made the text
    version an empty relation: a vacuous green)."""
    from olake_spark.operators.text import good_turing_from_occurrences

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    occ = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    return good_turing_from_occurrences(occ, ["user_id", "day"], max_r=10)
