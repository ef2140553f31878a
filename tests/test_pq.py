"""Product quantization: encode determinism, ADC arithmetic, training."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from olake_spark.operators import pq

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_stride_codebooks_shape(spark, emb):
    cb = pq.pq_stride_codebooks(emb)
    rows = cb.collect()
    n_codes = emb.filter(F.col("vec_id") % 97 == 0).count()
    assert len(rows) == n_codes * pq._M
    assert {r.sub for r in rows} == set(range(pq._M))
    assert all(len(r.cv) == pq._DIM // pq._M for r in rows)
    # quantized integral components
    assert all(float(x).is_integer() for r in rows[:8] for x in r.cv)


def test_encode_partitioning_invariant_and_exact(spark, emb):
    """Code assignment is an exact-integer argmin — identical under any
    partitioning, and equal to a driver-side recomputation."""
    cb = pq.pq_stride_codebooks(emb)
    a = {(r.vec_id, r.sub): r.code for r in pq.pq_encode(emb, cb).collect()}
    b = {
        (r.vec_id, r.sub): r.code
        for r in pq.pq_encode(emb.repartition(13), cb).collect()
    }
    assert a == b and len(a) == emb.count() * pq._M

    # driver-side recompute for a handful of vectors
    books = {}
    for r in cb.collect():
        books.setdefault(r.sub, []).append((r.code, [float(x) for x in r.cv]))
    sub_len = pq._DIM // pq._M
    for row in emb.limit(5).collect():
        qv = [math.floor(x * pq._SCALE) for x in row.embedding]
        for j in range(pq._M):
            sv = qv[j * sub_len : (j + 1) * sub_len]
            best = min(
                books[j],
                key=lambda cc: (sum((a - b) ** 2 for a, b in zip(sv, cc[1])), cc[0]),
            )[0]
            assert a[(row.vec_id, j)] == best


def test_adc_dot_is_exact_reconstructed_dot(spark, emb):
    """adc_dot must equal the exact integer dot of the quantized query
    against the RECONSTRUCTED (codebook-decoded) corpus vector — ADC's
    defining identity. Verified driver-side for every (query, neighbor)
    pair the top-k emits."""
    cb = pq.pq_stride_codebooks(emb)
    codes = pq.pq_encode(emb, cb).cache()
    queries = emb.filter(F.col("vec_id") < 3)
    out = pq.pq_topk(queries, codes, cb, k=4).collect()
    assert {r.query_id for r in out} == {0, 1, 2}
    assert all(1 <= r.rank <= 4 for r in out)

    books = {}
    for r in cb.collect():
        books.setdefault(r.sub, {})[r.code] = [float(x) for x in r.cv]
    code_map = {}
    for r in codes.collect():
        code_map.setdefault(r.vec_id, {})[r.sub] = r.code
    qvecs = {
        r.vec_id: [math.floor(x * pq._SCALE) for x in r.embedding]
        for r in queries.collect()
    }
    sub_len = pq._DIM // pq._M
    for r in out:
        q = qvecs[r.query_id]
        want = 0
        for j in range(pq._M):
            cv = books[j][code_map[r.neighbor_id][j]]
            qs = q[j * sub_len : (j + 1) * sub_len]
            want += sum(int(a) * int(b) for a, b in zip(qs, cv))
        assert r.adc_dot == want
    codes.unpersist()


def test_m_not_dividing_dim_raises(spark, emb):
    """m=3 over 64 dims would encode 3 slices of 21 and silently drop the
    64th component; every PQ entry point refuses instead."""
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_stride_codebooks(emb, m=3)
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_train_codebooks(emb, m=3)
    cb = pq.pq_stride_codebooks(emb)
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_encode(emb, cb, m=3)
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_topk(emb.limit(1), pq.pq_encode(emb, cb), cb, m=3)


def test_pq_family_scoring_stays_in_codegen(spark, emb, no_codegen_fallback):
    """Every PQ-family scorer runs with codegen fallback disabled, so a
    stage pushed out of whole-stage codegen (the 64 KB method limit)
    throws instead of silently running interpreted. Small inputs: the
    pin is about the generated code, not the data size. IVFADC's
    centroid term is an unrolled 64-term dot inside codegen."""
    from olake_spark.operators.similarity import stride_centroids

    sub = emb.filter(F.col("vec_id") < 200)
    q = sub.filter(F.col("vec_id") < 2)
    cents = stride_centroids(sub)
    cb = pq.pq_stride_codebooks(sub)
    codes = pq.pq_encode(sub, cb)
    cand = pq.pq_topk(q, codes, cb, k=6)
    assert cand.count() > 0
    assert pq.pq_refine(cand, sub, q, k=3).count() > 0
    assert pq.ivfpq_topk(q, pq.ivfpq_index(sub, cents, cb), cb, cents, k=5).count() > 0
    res = pq.ivf_residuals(sub, cents)
    rcb = pq.pq_stride_codebooks(res, vec_col="rv", scale=1)
    ridx = pq.pq_encode(res, rcb, vec_col="rv", scale=1, carry_cols=["_cell"])
    assert pq.ivfadc_topk(q, ridx, rcb, cents, k=5, nprobe=2).count() > 0
    stats = pq.sq8_stats(sub)
    assert pq.sq8_topk(q, pq.sq8_encode(sub, stats), stats, k=5).count() > 0


def test_trained_codebooks_reduce_quantization_error(spark, emb):
    """Trained (L2 k-means) codebooks must beat the stride codebooks on
    total squared reconstruction error — the objective k-means descends —
    and be partitioning-invariant like every exact-integer operator."""
    stride_cb = pq.pq_stride_codebooks(emb)
    trained_cb = pq.pq_train_codebooks(emb, k=8, iters=2)

    # partitioning invariance on a subset at 1 iteration: the property is
    # about exact-integer floor-mean updates, not training depth — the
    # full-depth/full-corpus run above already feeds the error assertion
    sub = emb.filter(F.col("vec_id") < 300)
    t1 = sorted(
        map(
            tuple,
            pq.pq_train_codebooks(sub, k=8, iters=1)
            .select("sub", "code", F.to_json("cv"))
            .collect(),
        )
    )
    t2 = sorted(
        map(
            tuple,
            pq.pq_train_codebooks(sub.repartition(7), k=8, iters=1)
            .select("sub", "code", F.to_json("cv"))
            .collect(),
        )
    )
    assert t1 == t2

    def total_err(cb) -> float:
        codes = pq.pq_encode(emb, cb)
        qv = pq._quantized("embedding", pq._SCALE)
        vs = pq._subvectors(emb, ["vec_id"], qv, pq._M, pq._DIM)
        joined = vs.join(codes, ["vec_id", "sub"]).join(cb, ["sub", "code"])
        return joined.agg(
            F.sum(pq._kernel("sqdist", pq._DIM // pq._M, "sv", "cv"))
        ).first()[0]

    assert total_err(trained_cb) < total_err(stride_cb)


def test_ivfpq_prunes_to_probed_cells(spark, emb):
    """IVF-PQ = PQ restricted to the query's probed cells: every emitted
    neighbor must live in one of the query's nprobe nearest cells, scores
    must equal the unpruned ADC scores for those neighbors, and raising
    nprobe can only widen the candidate pool."""
    from olake_spark.operators.similarity import ivf_assign, stride_centroids

    cents = stride_centroids(emb)
    cb = pq.pq_stride_codebooks(emb)
    idx = pq.ivfpq_index(emb, cents, cb).cache()
    queries = emb.filter(F.col("vec_id") < 3)

    out1 = pq.ivfpq_topk(queries, idx, cb, cents, k=50, nprobe=1).collect()
    out2 = pq.ivfpq_topk(queries, idx, cb, cents, k=50, nprobe=2).collect()
    assert len(out2) >= len(out1)

    cell_of = {r.vec_id: r._cell for r in idx.select("vec_id", "_cell").distinct().collect()}
    qcells = {}
    for r in ivf_assign(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")),
        cents, "query_id", "_qv", 64, nprobe=2,
    ).collect():
        qcells.setdefault(r.query_id, set()).add(r._cell)
    assert all(cell_of[r.neighbor_id] in qcells[r.query_id] for r in out2)

    # pruned scores equal the unpruned ADC scores on the surviving pairs.
    # adc_dot is per-pair (sum over subquantizer LUT entries), so scoring
    # only the surviving neighbors' codes is the same reference while
    # skipping the corpus-wide ADC join the assertion never reads.
    survivors = sorted({r.neighbor_id for r in out2})
    codes = idx.filter(F.col("vec_id").isin(survivors)).select(
        "vec_id", "sub", "code"
    )
    full = {
        (r.query_id, r.neighbor_id): r.adc_dot
        for r in pq.pq_topk(queries, codes, cb, k=10_000).collect()
    }
    assert all(full[(r.query_id, r.neighbor_id)] == r.adc_dot for r in out2)
    idx.unpersist()


def test_trained_ivfpq_pruning_parity(spark, emb):
    """The TRAINED composition (trained coarse centroids + trained
    codebooks) obeys the same pruning contract as the stride artifacts:
    probing every cell reproduces the unpruned trained-PQ ranking exactly,
    and nprobe is monotone in candidate coverage."""
    from olake_spark.operators.similarity import ivf_train_centroids

    cents = ivf_train_centroids(emb, k=8, iters=1, quantize_scale=10_000)
    cb = pq.pq_train_codebooks(emb, k=8, iters=1)
    idx = pq.ivfpq_index(emb, cents, cb).cache()
    queries = emb.filter(F.col("vec_id") < 3)

    out1 = pq.ivfpq_topk(queries, idx, cb, cents, k=50, nprobe=1).collect()
    out_all = pq.ivfpq_topk(queries, idx, cb, cents, k=50, nprobe=8).collect()
    assert len(out_all) >= len(out1)

    codes = idx.select("vec_id", "sub", "code")
    unpruned = {
        (r.query_id, r.neighbor_id): (r.rank, r.adc_dot)
        for r in pq.pq_topk(queries, codes, cb, k=50).collect()
    }
    pruned = {
        (r.query_id, r.neighbor_id): (r.rank, r.adc_dot) for r in out_all
    }
    assert pruned == unpruned  # all cells probed == no pruning at all
    idx.unpersist()


def test_sq8_codes_in_range_and_deterministic(spark, emb):
    stats = pq.sq8_stats(emb)
    srows = {r.i: (r.mn, r.span) for r in stats.collect()}
    assert set(srows) == set(range(pq._DIM))
    assert all(span >= 0 for _, span in srows.values())
    codes = pq.sq8_encode(emb, stats)
    a = {(r.vec_id, r.i): r.code for r in codes.collect()}
    b = {
        (r.vec_id, r.i): r.code
        for r in pq.sq8_encode(emb.repartition(13), stats).collect()
    }
    assert a == b and len(a) == emb.count() * pq._DIM
    assert all(0 <= c <= 255 and float(c).is_integer() for c in a.values())


def test_sq8_score_is_exact_dequantized_dot(spark, emb):
    """sq_score == 255 * dot(q, dequantized(c)) recomputed driver-side."""
    stats = pq.sq8_stats(emb)
    srows = {r.i: (float(r.mn), float(r.span)) for r in stats.collect()}
    codes = pq.sq8_encode(emb, stats)
    top = pq.sq8_topk(emb.filter(F.col("vec_id") < 2), codes, stats, k=3)
    code_map = {}
    for r in codes.filter(F.col("vec_id") < 50).collect():
        code_map.setdefault(r.vec_id, {})[r.i] = float(r.code)
    qvecs = {
        r.vec_id: [math.floor(x * pq._SCALE) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 2).collect()
    }
    checked = 0
    for r in top.collect():
        if r.neighbor_id not in code_map:
            continue
        q = qvecs[r.query_id]
        expect = sum(
            q[i] * (255.0 * srows[i][0] + srows[i][1] * code_map[r.neighbor_id][i])
            for i in range(pq._DIM)
        )
        assert r.sq_score == int(expect)
        checked += 1
    assert checked >= 1 or top.count() > 0


def test_sq8_zero_span_dimension_codes_to_zero(spark):
    rows = [(i, [float(i % 7), 0.5]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    stats = pq.sq8_stats(df)
    span_by_i = {r.i: r.span for r in stats.collect()}
    assert span_by_i[1] == 0
    codes = {(r.vec_id, r.i): r.code for r in pq.sq8_encode(df, stats).collect()}
    assert all(codes[(v, 1)] == 0 for v in range(10))


def test_ivfadc_score_is_centroid_dot_plus_residual_adc(spark, emb):
    """IVFADC exactness: with every cell probed, each emitted score must
    equal dot(q, centroid_cell(n)) + sum_sub LUT[code(n, sub)] computed
    independently from the collected artifacts — the Jegou residual
    decomposition on exact integers."""
    from olake_spark.operators.similarity import stride_centroids

    sub = emb.filter(F.col("vec_id") < 300)
    cents = stride_centroids(sub)
    n_cells = cents.count()
    res = pq.ivf_residuals(sub, cents).cache()
    cb = pq.pq_stride_codebooks(res, vec_col="rv", scale=1)
    codes = pq.pq_encode(res, cb, vec_col="rv", scale=1)
    idx = codes.join(res.select("vec_id", "_cell"), "vec_id")
    queries = sub.filter(F.col("vec_id") < 2)
    out = pq.ivfadc_topk(queries, idx, cb, cents, k=10_000, nprobe=n_cells)

    # independent reconstruction from collected artifacts
    qq = {
        r.vec_id: [math.floor(x * 10_000) for x in r.embedding]
        for r in queries.collect()
    }
    qc = {
        r._cent_id: [math.floor(x * 10_000) for x in r._cent_v]
        for r in cents.collect()
    }
    cell_of = {r.vec_id: r._cell for r in res.select("vec_id", "_cell").collect()}
    cv = {(r.sub, r.code): r.cv for r in cb.collect()}
    code_of = {}
    for r in codes.collect():
        code_of.setdefault(r.vec_id, {})[r.sub] = r.code
    got = {(r.query_id, r.neighbor_id): r.adc_dot for r in out.collect()}
    assert got, "no pairs scored"
    for (q, n), score in got.items():
        cell = cell_of[n]
        expect = sum(a * b for a, b in zip(qq[q], qc[cell]))
        for s in range(4):
            sl = qq[q][s * 16:(s + 1) * 16]
            expect += sum(a * b for a, b in zip(sl, cv[(s, code_of[n][s])]))
        assert score == int(expect), (q, n)
    res.unpersist()


def test_ivfadc_pruning_contract(spark, emb):
    """nprobe restricts neighbors to probed cells; scores are unchanged
    by pruning (same pairs score identically at higher nprobe)."""
    from olake_spark.operators.similarity import stride_centroids

    sub = emb.filter(F.col("vec_id") < 300)
    cents = stride_centroids(sub)
    n_cells = cents.count()
    res = pq.ivf_residuals(sub, cents).cache()
    cb = pq.pq_stride_codebooks(res, vec_col="rv", scale=1)
    codes = pq.pq_encode(res, cb, vec_col="rv", scale=1)
    idx = codes.join(res.select("vec_id", "_cell"), "vec_id")
    queries = sub.filter(F.col("vec_id") < 2)
    out1 = {
        (r.query_id, r.neighbor_id): r.adc_dot
        for r in pq.ivfadc_topk(queries, idx, cb, cents, k=10_000, nprobe=1).collect()
    }
    out_all = {
        (r.query_id, r.neighbor_id): r.adc_dot
        for r in pq.ivfadc_topk(
            queries, idx, cb, cents, k=10_000, nprobe=n_cells
        ).collect()
    }
    assert set(out1) <= set(out_all)
    assert all(out_all[p] == s for p, s in out1.items())
    res.unpersist()


def test_pq_refine_recovers_exact_ranking(spark, emb):
    """Refine invariants: (1) refined neighbors are a subset of the ADC
    candidate set; (2) exact_dot equals the exact quantized dot (driver
    recompute); (3) the refined order is the true quantized-MIPS order of
    the candidates — whenever the true top-k are all inside the candidate
    set, refine returns exactly the true top-k (the IndexRefineFlat
    contract)."""
    queries = emb.filter(F.col("vec_id") < 2)
    cb = pq.pq_stride_codebooks(emb)
    codes = pq.pq_encode(emb, cb)
    cand = pq.pq_topk(queries, codes, cb, k=12)
    out = pq.pq_refine(cand, emb, queries, k=4).collect()

    cand_ids = {(r.query_id, r.neighbor_id) for r in cand.collect()}
    assert {(r.query_id, r.neighbor_id) for r in out} <= cand_ids
    assert sorted({r.rank for r in out if r.query_id == out[0].query_id}) == [1, 2, 3, 4]

    # driver-side exact quantized dots over the whole corpus
    vecs = {
        r.vec_id: [math.floor(x * pq._SCALE) for x in r.embedding]
        for r in emb.collect()
    }
    for r in out:
        expect = sum(a * b for a, b in zip(vecs[r.query_id], vecs[r.neighbor_id]))
        assert r.exact_dot == expect

    # per query: refined order == exact order restricted to candidates
    for qid in {r.query_id for r in out}:
        cands_q = [n for (q, n) in cand_ids if q == qid]
        true_order = sorted(
            cands_q,
            key=lambda n: (-sum(a * b for a, b in zip(vecs[qid], vecs[n])), n),
        )[:4]
        got = [r.neighbor_id for r in sorted(
            (r for r in out if r.query_id == qid), key=lambda r: r.rank
        )]
        assert got == true_order
