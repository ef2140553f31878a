"""Merges-driven byte-pair-encoding tokenization (Sennrich et al. 2016;
the GPT-2 tokenizer shape: pretokenize with a regex, BPE-merge within each
pretoken).

Token counts are THE unit the mixture/packing operators budget by
(``mixture_by_tokens``, ``pack_sequences``); the regex estimate in
``quality.with_bpe_token_estimate`` is a lower bound. This module encodes
for real against a ranked merges table.

Merge semantics — chosen to be EXACTLY reproducible in ANSI SQL: merges
apply **in rank order, one left-to-right non-overlapping replace-all pass
each** over a separator-wrapped symbol string (every symbol wrapped in
``\\x1f``, so a pair pattern can only match at symbol boundaries). For a
training-order-valid merge list (each merge's operands are single
characters or outputs of strictly earlier merges — the only kind BPE
training produces), this is equivalent to the classic min-rank merge loop:
applying merge r can only create pairs involving r's output symbol, which
only later-ranked merges reference. The DuckDB oracle runs the identical
algorithm as a nested ``replace()`` chain — no recursion, no UDF.

Scale shape (the 100 TB story): encoding cost is paid per DISTINCT
pretoken (vocabulary-sized, Zipf-bounded), not per corpus row — the corpus
pass is regexp pretokenize + posexplode (no shuffle), the kernel runs over
the deduplicated pretoken set, and results join back by pretoken (AQE
broadcasts the vocabulary side at any realistic size) before one
map-side-combinable aggregation keyed by the unique doc id.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olake_spark.operators.quality import BPE_PRETOKEN_RE

from olake_spark import hybrid
from olake_spark.materialize import materialize

__all__ = [
    "DEFAULT_MERGES",
    "SEP",
    "encode_word",
    "encode_distinct_pretokens",
    "bpe_encode",
    "bpe_train_merges",
    "validate_merges",
]

SEP = "\x1f"  # unit separator: wraps every symbol; stripped from input text

# A fixed ~70-rank character-level merge table (training-order valid:
# every operand is a single char or the output of an earlier merge).
# Any deterministic ranked list IS a tokenizer; this one approximates
# English bigram frequency with a few multi-level merges and digit/punct
# runs so tests exercise 2nd/3rd-level behavior.
DEFAULT_MERGES: list[tuple[str, str]] = [
    # level 1: frequent English character bigrams
    ("t", "h"), ("i", "n"), ("a", "n"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("h", "e"), ("a", "t"), ("e", "n"), ("n", "d"),
    ("o", "r"), ("e", "s"), ("t", "i"), ("t", "e"), ("e", "d"),
    ("i", "s"), ("i", "t"), ("a", "l"), ("a", "r"), ("s", "t"),
    ("t", "o"), ("n", "t"), ("n", "g"), ("s", "e"), ("h", "a"),
    ("o", "u"), ("i", "o"), ("l", "e"), ("v", "e"), ("c", "o"),
    ("m", "e"), ("d", "e"), ("h", "i"), ("r", "i"), ("r", "o"),
    ("i", "c"), ("n", "e"), ("e", "a"), ("r", "a"), ("c", "e"),
    ("l", "i"), ("c", "h"), ("l", "l"), ("b", "e"), ("m", "a"),
    ("s", "i"), ("o", "m"), ("u", "r"), ("w", "h"), ("i", "d"),
    ("a", "s"), ("o", "f"),
    # digit runs
    ("0", "0"), ("1", "9"), ("2", "0"), ("00", "0"),
    # punctuation runs
    (".", "."), ("..", "."), ("-", "-"), ("!", "!"),
    # level 2+: operands produced by earlier merges
    ("th", "e"), ("an", "d"), ("in", "g"), ("io", "n"), ("ti", "on"),
    ("e", "nt"), ("er", "s"), ("th", "at"), ("the", "re"), ("ha", "t"),
    ("w", "as"), ("or", "e"), ("is", "h"), ("at", "ion"),
]


def validate_merges(merges: list[tuple[str, str]]) -> None:
    """Assert training-order validity: each operand is a single character
    or the output of a strictly earlier merge. This is what makes the
    rank-order replace-all pass equivalent to the min-rank merge loop."""
    produced: set[str] = set()
    for i, (a, b) in enumerate(merges):
        for op in (a, b):
            if len(op) > 1 and op not in produced:
                raise ValueError(
                    f"merge #{i} ({a!r},{b!r}): operand {op!r} is neither a "
                    "char nor an earlier merge's output"
                )
            if SEP in op:
                raise ValueError(f"merge operand contains the separator: {op!r}")
        produced.add(a + b)


def _wrap_word(word: str) -> str:
    return "".join(SEP + c + SEP for c in word)


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """BPE-encode one pretoken: rank-ordered replace-all passes over the
    wrapped symbol string. Mirrors the SQL oracle operation-for-operation
    (Python ``str.replace`` IS the left-to-right non-overlapping pass)."""
    s = _wrap_word(word)
    for a, b in merges:
        pat = SEP + a + SEP + SEP + b + SEP
        if pat in s:
            s = s.replace(pat, SEP + a + b + SEP)
    return s[1:-1].split(SEP + SEP) if s else []


def encode_distinct_pretokens(
    pretokens: DataFrame, merges: list[tuple[str, str]], pt_col: str = "pt"
) -> DataFrame:
    """Arrow-batched kernel over the DISTINCT pretoken set →
    ``(pt, n_toks, tok_str)``; ``tok_str`` is the space-joined token
    sequence (pretokens never contain whitespace, so the join is
    unambiguous). Merges ship with the closure — a list of ~100 pairs,
    far below broadcast thresholds."""
    ms = list(merges)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, tuple[int, str]] = {}
        for pdf in batches:
            out = []
            for pt in pdf[pt_col]:
                hit = cache.get(pt)
                if hit is None:
                    toks = encode_word(pt, ms)
                    hit = (len(toks), " ".join(toks))
                    cache[pt] = hit
                out.append((pt, hit[0], hit[1]))
            yield pd.DataFrame(out, columns=["pt", "n_toks", "tok_str"])

    return pretokens.mapInPandas(kernel, "pt string, n_toks long, tok_str string")


def _bpe_train_driver(pdf, n_merges: int) -> list:
    """Driver-side mirror of the unrolled training plan: the SAME
    recurrence on the collected (pretoken, weight) vocabulary — per round
    a weighted adjacent-pair count over the separator-wrapped state
    strings, the (cnt desc, a, b) argmax with ties in UTF-8 BYTE order
    (UTF8String's binary comparison, which plain ``str`` order only
    matches on the BMP), and a literal non-overlapping left-to-right
    ``str.replace`` — byte-for-byte what ``F.replace`` applies. Raises on
    corpus exhaustion like the plan's assert_true guard (at construct
    time rather than first action)."""
    items = [
        ["".join(SEP + ch + SEP for ch in pt), int(wt)]
        for pt, wt in zip(pdf["pt"], pdf["wt"])
    ]
    sep2 = SEP + SEP
    rows = []
    for i in range(n_merges):
        cnt: dict[tuple[str, str], int] = {}
        for state, wt in items:
            syms = state[1:-1].split(sep2) if state else [""]
            for j in range(len(syms) - 1):
                p = (syms[j], syms[j + 1])
                cnt[p] = cnt.get(p, 0) + wt
        if not cnt:
            raise RuntimeError(
                f"bpe_train_merges: corpus exhausted before merge {i} "
                "(no adjacent pairs left) — lower n_merges"
            )
        (a, b), c = min(
            cnt.items(),
            key=lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode()),
        )
        rows.append((i, a, b, c))
        pat = SEP + a + sep2 + b + SEP
        rep = SEP + a + b + SEP
        for it in items:
            it[0] = it[0].replace(pat, rep)
    return rows


def bpe_train_merges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 6,
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """DISTRIBUTED BPE TRAINING: learn the top ``n_merges`` merges from the
    corpus (Sennrich et al. 2016). Hybrid execution (README "Hybrid
    execution"): a vocabulary of at most ``driver_collect_max`` distinct
    pretokens (0 disables) trains via the exact Python mirror
    (``_bpe_train_driver``); past the cap it runs as ONE lazy plan — no
    driver-side argmax.

    Classic BPE training is a loop of "count adjacent symbol pairs, merge
    the most frequent everywhere"; the data-dependent step (which pair won)
    normally forces a driver round-trip per merge. Here each iteration's
    winner is a 1-row frame (groupBy + orderBy(cnt desc, a, b) + limit 1)
    CROSS-JOINED (broadcast, 1 row) back onto the symbol states, and the
    merge applies via ``F.replace`` with COLUMN arguments — so all
    ``n_merges`` iterations unroll into a single deferred plan, exactly
    reproducible by an unrolled SQL oracle (same trick as the quantized
    k-means family).

    Scale shape: training state is one row per DISTINCT pretoken with its
    corpus frequency (vocabulary-sized, Zipf-bounded) — pair counts are
    weighted by frequency so the result equals training over the raw
    corpus, at vocabulary cost.

    The lazy unroll is the ORACLE-VERIFIABLE form and is meant for small
    ``n_merges``: each ``best`` subtree feeds both the output union and
    the next state, so the plan doubles per iteration (Spark's
    ReuseExchange recovers most of the repeated aggregation work, but
    analysis cost grows ~2^K). Training a real vocabulary (30k+ merges)
    is a driver loop over the same two steps with the state DataFrame
    persisted per iteration — same distributed shape, one action per
    merge, no plan blowup.

    Output: (rank, a, b, cnt) — the learned ranked merge table, directly
    consumable by ``bpe_encode(merges=...)``. Ties break (cnt desc, a, b).
    """
    base = df.select(
        F.regexp_extract_all(
            F.regexp_replace(F.col(text_col), SEP, ""), F.lit(BPE_PRETOKEN_RE), 0
        ).alias("_pts"),
    )
    pts = (
        base.select(F.explode("_pts").alias("pt"))
        .groupBy("pt")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    fast = hybrid.run(
        "bpe.bpe_train_merges", pts, driver_collect_max,
        lambda got: _bpe_train_driver(got.pdf, int(n_merges)),
        "rank int, a string, b string, cnt long",
    )
    if fast is not None:
        return fast
    # (?s): Java '.' skips Unicode line terminators (U+2028/29, U+0085)
    # without DOTALL, while RE2's matches them — such chars are legal
    # inside symbol-run pretokens, and an unwrapped one would fuse into a
    # garbage symbol and diverge from the oracle and encode_word
    states = pts.select(
        F.regexp_replace(F.col("pt"), "(?s)(.)", SEP + "$1" + SEP).alias("state"),
        "wt",
    )
    winners = []
    for i in range(int(n_merges)):
        syms = F.split(
            F.expr("substring(state, 2, length(state) - 2)"), SEP + SEP
        )
        pairs = states.select(
            "wt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(syms) - 1, F.lit(1))),
                    # try_element_at: under ANSI mode a past-the-end index
                    # raises; single-symbol states have no pair and must
                    # yield NULL b (filtered) instead of an error
                    lambda j: F.struct(
                        F.element_at(syms, j).alias("a"),
                        F.try_element_at(syms, j + 1).alias("b"),
                    ),
                )
            ).alias("_p"),
        ).filter(F.col("_p.b").isNotNull()).select(
            F.col("_p.a").alias("a"), F.col("_p.b").alias("b"), "wt"
        )
        counts = pairs.groupBy("a", "b").agg(F.sum("wt").alias("cnt"))
        # fused argmax + lazy loud guard in ONE global agg: min_by over the
        # (-cnt, a, b) struct is the winner (max count, ties to the
        # lexicographically smallest pair), and the same agg's count(*)
        # ALWAYS yields one row — so if the corpus ran out of adjacent
        # pairs before n_merges iterations the assert fires at action time
        # instead of the crossJoin silently emptying `states` and
        # truncating the merge table
        checked = (
            counts.groupBy()
            .agg(
                F.count(F.lit(1)).alias("_nb"),
                F.min_by(
                    F.struct("a", "b", "cnt"),
                    F.struct((-F.col("cnt")).alias("_nc"), "a", "b"),
                ).alias("_w"),
            )
            .filter(
                F.assert_true(
                    F.col("_nb") > 0,
                    F.lit(
                        f"bpe_train_merges: corpus exhausted before merge {i} "
                        "(no adjacent pairs left) — lower n_merges"
                    ),
                ).isNull()
            )
            .select(
                F.col("_w.a").alias("a"),
                F.col("_w.b").alias("b"),
                F.col("_w.cnt").alias("cnt"),
            )
            # the 1-row winner feeds BOTH the output union and the next
            # state's crossJoin; unmaterialized, each consumer re-runs the
            # round's full pair-count aggregation over the vocabulary
            # (guide §2.1 — measured: the per-round pair count executed
            # twice, ~2x the whole operator's shuffle work). Lazy, so the
            # assert_true guard still fires at action time.
            .transform(materialize)
        )
        winners.append(checked.select(F.lit(i).alias("rank"), "a", "b", "cnt"))
        pat = F.concat(
            F.lit(SEP), F.col("_wa"), F.lit(SEP + SEP), F.col("_wb"), F.lit(SEP)
        )
        rep = F.concat(F.lit(SEP), F.col("_wa"), F.col("_wb"), F.lit(SEP))
        states = (
            states.crossJoin(
                F.broadcast(
                    checked.select(
                        F.col("a").alias("_wa"), F.col("b").alias("_wb")
                    )
                )
            )
            .select(F.replace(F.col("state"), pat, rep).alias("state"), "wt")
            # lazy lineage cut: materializes at FIRST action (guard stays
            # loud-at-action-time), then every later round reads the
            # vocabulary-sized checkpoint instead of re-deriving rounds
            # 0..i — plan growth linear in n_merges, not 2^K
            .transform(materialize)
        )
    out = winners[0]
    for w_df in winners[1:]:
        out = out.unionByName(w_df)
    return out


def bpe_encode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Per-document REAL BPE accounting:
    ``(id, n_pretokens, n_bpe_tokens, token_hash)`` where ``token_hash``
    is md5 of the full space-joined token sequence in document order — a
    hash match against the oracle proves the exact token-by-token output,
    not just counts. Docs with no pretokens (empty/NULL text) report
    0 / md5('').

    Dataflow: pretokenize (JVM regex, no shuffle) → posexplode → DISTINCT
    pretokens (vocabulary-sized) → Arrow kernel encodes each once → join
    back on pretoken → one aggregation keyed by the unique doc id. Token
    work is ∝ vocabulary, not corpus.
    """
    merges = DEFAULT_MERGES if merges is None else merges
    validate_merges(merges)
    base = df.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.regexp_replace(F.col(text_col), SEP, ""), F.lit(BPE_PRETOKEN_RE), 0
        ).alias("_pts"),
    )
    expl = base.select(id_col, F.posexplode("_pts").alias("_pos", "pt"))
    tok = encode_distinct_pretokens(expl.select("pt").distinct(), merges)
    per_doc = (
        expl.join(tok, "pt")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_pretokens"),
            F.sum("n_toks").alias("n_bpe_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("_pos", "tok_str"))
                        ),
                        lambda x: x["tok_str"],
                    ),
                    " ",
                )
            ).alias("token_hash"),
        )
    )
    return base.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_pretokens", F.lit(0)).alias("n_pretokens"),
        F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
        F.coalesce("token_hash", F.md5(F.lit(""))).alias("token_hash"),
    )
