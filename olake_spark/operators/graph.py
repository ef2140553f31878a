"""Iterative graph algorithms as fixed-iteration DataFrame dataflows —
integer PageRank, triangle counting, k-core peeling, and fixed-round
connected components (the convergence-loop/driver-DSU hybrid CC lives in
operators/dedup.py).

PageRank here is the Pregel dataflow expressed as K unrolled join+agg
rounds, with ALL arithmetic in integer micro-units (rank mass of 10^12
split by floor division, damping as ·85//100): every intermediate is an
exact BIGINT, so the result is partition-order-free and bit-identical in
the DuckDB oracle (K unrolled CTEs). Dangling nodes (no out-edges)
intentionally leak their mass — the standard simplification; they still
RECEIVE rank. Nodes with no in-edges hold the base term.

Scale shape per round: edges ⋈ ranks on src (hash, reusable
partitioning), ⋈ outdeg on src (same key — AQE coalesces), groupBy dst
with a map-side-combinable integer sum, left join back to the node set.
K is a constant (plan grows linearly in K); for 100+ iterations you'd
checkpoint every ~10 rounds to cut lineage, which ``checkpoint_every``
exposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olake_spark import hybrid
from olake_spark.materialize import materialize

__all__ = [
    "pagerank",
    "k_core",
    "personalized_pagerank",
    "connected_components_fixed",
    "clustering_coefficient",
]

TOTAL_MASS = 10**12
DAMP_NUM = 85  # damping 0.85 as the exact rational 85/100


def _pagerank_hybrid(op, e_raw, col, iters, cap, r0_of):
    """Driver mirror of the Pregel dataflow over the RAW projected edges
    (not the distinct/repartitioned loop relation, whose shuffles and
    checkpoint the fast path exists to skip; the cap applies to raw rows,
    the true transfer cost): ``iters`` rounds of floor-div mass split,
    integer contribution sum and damped base add on int64 arrays — the
    SAME exact-integer recurrence, bit-identical by construction (sums
    stay far under int64: total mass 10^12, ×85 ≤ 8.5·10^13).
    ``r0_of(node_ids)`` gives the initial mass. ``drop_duplicates`` is the
    dataflow's ``distinct()``. Ids carry no order contract here (unlike
    the CC hash-MIN labels), so hash-based ``pd.factorize`` indexes them:
    1.26 → 0.12 s against a sort-based ``np.unique`` on the 587k-edge /
    16k-node bench graph."""
    import numpy as np
    import pandas as pd

    def driver(got):
        e = got.pdf.drop_duplicates()
        codes, node_ids = pd.factorize(
            pd.concat([e["src"], e["dst"]], ignore_index=True)
        )
        src_idx, dst_idx = np.split(codes.astype(np.int64), [len(e)])
        n = len(node_ids)
        r0 = r0_of(node_ids)
        base = (15 * r0) // 100
        outdeg = np.bincount(src_idx, minlength=n).astype(np.int64)
        pr = r0
        for _ in range(iters):
            sums = np.zeros(n, dtype=np.int64)
            np.add.at(sums, dst_idx, pr[src_idx] // outdeg[src_idx])
            pr = base + (DAMP_NUM * sums) // 100
        return pd.DataFrame({"node": node_ids, col: pr})

    ntype = e_raw.schema["src"].dataType.simpleString()
    # NULL endpoints never join in the dataflow; numpy would index them
    return hybrid.run(
        op, e_raw, cap, driver, f"node {ntype}, {col} bigint",
        non_null=("src", "dst"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    checkpoint_every: int | None = None,
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """(node, pr) after ``iters`` exact-integer PageRank rounds.

    **Hybrid execution** (README "Hybrid execution"): up to
    ``driver_collect_max`` raw edges (0 disables) with non-null endpoints
    run the identical exact-integer recurrence in numpy on the driver.
    Larger graphs take the dataflow below, whose construction issues no
    driver-side collects (the node count enters via a 1-row broadcast,
    never an eager .count()); its lazy local checkpoints still
    materialize their upstream AQE shuffle stages when the plan is first
    built.
    """
    # Loop-invariant relations (edges, node set, outdegrees) materialize
    # ONCE via lazy local checkpoints: without them every unrolled round
    # re-embeds — and re-executes — the full edge-derivation subtree (the
    # r11 plan audit measured 88 parquet scans / 138 Exchanges with zero
    # ReusedExchange for 3 rounds over a join-derived edge list). Edges are
    # hash-partitioned on the per-round join key ``src`` before the
    # checkpoint, so each round's edges⋈ranks join and the outdeg
    # aggregation reuse that partitioning instead of re-shuffling the edge
    # relation (guide §2.4: establish the partitioning once).
    e_raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))

    def uniform_mass(node_ids):
        import numpy as np

        n = len(node_ids)
        return np.full(n, TOTAL_MASS // n if n else 0, dtype=np.int64)

    fast = _pagerank_hybrid(
        "graph.pagerank", e_raw, "pr", iters, driver_collect_max, uniform_mass
    )
    if fast is not None:
        return fast
    e = (
        e_raw.distinct()
        .repartition(F.col("src"))
        .transform(materialize)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ncnt = nodes.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    nodes = (
        nodes.crossJoin(F.broadcast(ncnt))
        .select(
            "node",
            F.expr(f"{TOTAL_MASS} div _n").alias("_r0"),
            F.expr(f"(15 * ({TOTAL_MASS} div _n)) div 100").alias("_base"),
        )
        .transform(materialize)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d")).transform(materialize)
    ranks = nodes.select("node", F.col("_r0").alias("pr"))
    for it in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), F.expr("pr div _d").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_cs"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.col("_base")
                + F.expr(f"({DAMP_NUM} * coalesce(_cs, 0L)) div 100")
            ).alias("pr"),
        )
        # each round's ranks feed the next round twice (contrib + the node
        # re-join); a lazy checkpoint per round keeps the plan linear in
        # ``iters``. checkpoint_every semantics: None (default) → every
        # round, the always-correct choice now that rounds materialize;
        # 0 → never (the pre-r11 reading, kept so a caller passing 0
        # gets the old behavior instead of a ZeroDivisionError); N → every
        # N rounds.
        if checkpoint_every is None or (
            checkpoint_every and (it + 1) % checkpoint_every == 0
        ):
            ranks = ranks.transform(materialize)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact per-node triangle counts via degree-ordered orientation —
    the classic trick that bounds wedge-join skew at O(sqrt(m)) out-degree
    (Schank/Wagner forward algorithm; Cohen's MapReduce formulation).

    A naive wedge join explodes on hub nodes (a degree-d node emits d^2
    wedges). Orienting every edge from the endpoint with LOWER
    (degree, id) rank to the higher one makes each triangle countable
    exactly once at its lowest-rank corner, and caps any node's oriented
    out-degree at O(sqrt(m)) — total wedge volume <= m^1.5 regardless of
    skew, the published bound. Three shuffles end to end (degree agg,
    wedge self-join on the pivot, closing-edge join); all exact BIGINT
    counts. Node ids must be mutually comparable (one primitive type).

    Returns (node, n_triangles) for every node of the simple undirected
    graph (self-loops and duplicate/reverse edges collapse first).
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    ranked = (
        e.join(deg.select(F.col("n").alias("a"), F.col("_d").alias("_da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("_d").alias("_db")), "b")
        .select(
            "a", "b",
            F.struct(F.col("_da").alias("d"), F.col("a").alias("i")).alias("_ra"),
            F.struct(F.col("_db").alias("d"), F.col("b").alias("i")).alias("_rb"),
        )
    )
    low_first = F.col("_ra") < F.col("_rb")
    o = ranked.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(low_first, F.col("_rb")).otherwise(F.col("_ra")).alias("_rv"),
    )
    w1, w2 = o.alias("_w1"), o.alias("_w2")
    wedges = w1.join(
        w2,
        (F.col("_w1.u") == F.col("_w2.u")) & (F.col("_w1._rv") < F.col("_w2._rv")),
    ).select(
        F.col("_w1.u").alias("p"), F.col("_w1.v").alias("x"), F.col("_w2.v").alias("y")
    )
    closed = wedges.join(
        o.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    )
    corners = (
        closed.select(F.col("p").alias("node"))
        .unionAll(closed.select(F.col("x").alias("node")))
        .unionAll(closed.select(F.col("y").alias("node")))
    )
    counts = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    all_nodes = deg.select(F.col("n").alias("node"))
    return all_nodes.join(counts, "node", "left").select(
        "node", F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles")
    )


def _undirected_hybrid(op, und, cap, mirror, schema):
    """Driver path for the fixed-round peel/label loops over the
    undirected (a, b) relation: integer ids (the loops compare and min
    them; any other id type takes the dataflow) indexed into the sorted
    node array. ``mirror(a_idx, b_idx, node_ids)`` returns the output
    columns by name; ``{t}`` in ``schema`` is the caller's id type."""
    import numpy as np
    import pandas as pd

    def driver(got):
        av = got.pdf["a"].to_numpy(dtype=np.int64)
        bv = got.pdf["b"].to_numpy(dtype=np.int64)
        node_ids = np.unique(np.concatenate([av, bv]))
        return pd.DataFrame(
            mirror(
                np.searchsorted(node_ids, av),
                np.searchsorted(node_ids, bv),
                node_ids,
            )
        )

    t = und.schema["a"].dataType.simpleString()
    return hybrid.run(
        op, und, cap, driver, schema.format(t=t), integer=("a", "b")
    )


def _kcore_rounds_np(a_idx, b_idx, node_ids, k: int, rounds: int):
    """Driver-side mirror of the distributed peel: exactly ``rounds``
    fixed peels over index arrays — the same recurrence (full degree
    count, then per-round subtraction of just-removed neighbors), exact
    int64 arithmetic, bit-identical by construction. Returns the
    survivors' (node, degree) columns."""
    import numpy as np

    n = len(node_ids)
    deg = np.bincount(a_idx, minlength=n)
    present = np.ones(n, dtype=bool)
    for _ in range(rounds - 1):
        removed = present & (deg < k)
        present &= deg >= k
        m = removed[b_idx] & present[a_idx]
        if m.any():
            deg = deg - np.bincount(a_idx[m], minlength=n)
    keep = present & (deg >= k)
    return {"node": node_ids[keep], "degree": deg[keep]}


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """Fixed-round k-core peeling: each round recomputes UNDIRECTED
    degrees over the surviving node set and removes nodes with degree
    < ``k`` (Matula-Beck peeling, unrolled).

    ``rounds`` is a FIXED contract, like pagerank's ``iters`` — the
    result after exactly R peels, bit-identical to R unrolled SQL CTEs
    (full convergence is a driver loop over the same body with a
    checkpoint per round; the fixture domains here stabilize within the
    configured R). Returns (node, degree) of the survivors — degree as
    measured in the FINAL round, i.e. within the (R−1)-peeled subgraph.

    Plan shape (frontier-based peeling, guide §2.3): round 1 is one
    map-side-combinable degree count over the full undirected edge
    relation; every later round only touches edges INCIDENT TO THE
    NODES REMOVED LAST ROUND — degree is linear, so a survivor's degree
    after a peel is its previous degree minus its count of just-removed
    neighbors. Each later round is therefore one join of the edge
    relation against the (shrinking, broadcast-sized) removed set plus
    a nodes-sized merge, instead of two full-edge semi-joins and a full
    recount; a stable round removes nothing and AQE collapses the
    empty-frontier join at runtime. Exact integer subtraction keeps the
    degrees bit-identical to the recount form (removed sets are
    disjoint across rounds, so no edge is ever subtracted twice). A
    lazy localCheckpoint per round keeps the unrolled plan linear.
    Self-loops are dropped (standard k-core convention); duplicate
    edges collapse.
    """
    if not isinstance(rounds, int) or isinstance(rounds, bool) or rounds < 1:
        raise ValueError(f"rounds must be an int >= 1, got {rounds!r}")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(a.alias("a"), b.alias("b"))
        .unionByName(edges.select(b.alias("a"), a.alias("b")))
        .filter(F.col("a") != F.col("b"))  # AFTER the union: both branches
        .distinct()
        # partition on the join/degree key once: distinct() leaves und
        # (a, b)-partitioned (guide §2.4: establish the loop partitioning
        # before the loop)
        .repartition(F.col("a"))
        .transform(materialize)
    )
    fast = _undirected_hybrid(
        "graph.k_core", und, driver_collect_max,
        lambda a_idx, b_idx, ids: _kcore_rounds_np(a_idx, b_idx, ids, k, rounds),
        "node {t}, degree bigint",
    )
    if fast is not None:
        return fast
    # round 1: alive_0 = every endpoint, so the recount form's two
    # semi-joins are identities — one full degree count suffices
    deg = (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .transform(materialize)
    )
    for _ in range(rounds - 1):
        removed = deg.filter(F.col("degree") < k).select(
            F.col("node").alias("b")
        )
        dropcnt = (
            und.join(removed, "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).alias("_drop"))
        )
        deg = (
            deg.filter(F.col("degree") >= k)
            .join(dropcnt, "node", "left")
            .select(
                "node",
                (
                    F.col("degree") - F.coalesce(F.col("_drop"), F.lit(0))
                ).alias("degree"),
            )
            .transform(materialize)
        )
    return deg.filter(F.col("degree") >= k).select("node", "degree")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iters: int = 3,
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """(node, ppr) — exact-integer PERSONALIZED PageRank: the teleport
    mass returns to the ``seeds`` set instead of spreading uniformly, so
    the stationary mass ranks nodes by proximity to the seeds — the
    "users like these" / related-items recommendation primitive
    (Haveliwala 2002, topic-sensitive PageRank).

    Same exact-arithmetic discipline as ``pagerank``: total mass 10^12
    split by floor division among seeds, damping as ·85//100, every
    intermediate a BIGINT — bit-identical to the unrolled SQL oracle
    under any partitioning. Non-seed dangling leakage is standard.

    Per round: edges ⋈ ranks on src (hash), ⋈ outdeg (same key),
    map-side-combinable integer sum by dst, left join back onto the
    node set with the SEED-ONLY base term. The seed relation is tiny by
    contract (a user's history / a query's context) and broadcasts.
    """
    # same loop-invariant materialization as ``pagerank``: edges (partitioned
    # on the per-round join key), the seeded node set, and outdegrees
    # checkpoint lazily once instead of re-executing per unrolled round
    e_raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    s = seeds.select(F.col(seed_col).alias("node")).distinct()

    def seed_mass(node_ids):
        import numpy as np

        # _k counts DISTINCT seed rows (NULL included, matching the
        # dataflow's count(1) over the distinct seed relation); a NULL
        # seed never joins a node, which the set-membership test mirrors
        seed_vals = hybrid.collect(s, driver_collect_max).pdf["node"].tolist()
        mass = TOTAL_MASS // len(seed_vals) if seed_vals else 0
        # v == v also drops a float NULL/NaN seed (Arrow surfaces a numeric
        # NULL as NaN)
        seed_set = {v for v in seed_vals if v is not None and v == v}
        in_seeds = np.fromiter(
            (v in seed_set for v in node_ids.tolist()), bool, len(node_ids)
        )
        return np.where(in_seeds, np.int64(mass), np.int64(0))

    fast = _pagerank_hybrid(
        "graph.personalized_pagerank", e_raw, "ppr", iters,
        driver_collect_max, seed_mass,
    )
    if fast is not None:
        return fast
    e = (
        e_raw.distinct()
        .repartition(F.col("src"))
        .transform(materialize)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    scnt = s.groupBy().agg(F.count(F.lit(1)).alias("_k"))
    seed_mass = s.crossJoin(F.broadcast(scnt)).select(
        "node", F.expr(f"{TOTAL_MASS} div _k").alias("_m")
    )
    nodes = (
        nodes.join(F.broadcast(seed_mass), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_m"), F.lit(0)).alias("_r0"),
            F.expr("(15 * coalesce(_m, 0L)) div 100").alias("_base"),
        )
        .transform(materialize)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d")).transform(materialize)
    ranks = nodes.select("node", F.col("_r0").alias("ppr"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), F.expr("ppr div _d").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_cs"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.col("_base")
                + F.expr(f"({DAMP_NUM} * coalesce(_cs, 0L)) div 100")
            ).alias("ppr"),
        ).transform(materialize)
    return ranks


def _fixed_round_labels_np(a_idx, b_idx, node_ids, rounds: int):
    """Driver-side mirror of the distributed loop: exactly ``rounds`` of
    (hash-min propagation, pointer jump) over index arrays — the SAME
    recurrence the dataflow computes, evaluated on int64 numpy arrays, so
    the result is bit-identical by construction (exact integer mins, no
    convergence assumption). ``a_idx``/``b_idx`` are the undirected edge
    endpoints as indices into the sorted ``node_ids``."""
    import numpy as np

    lab = node_ids.copy()
    for _ in range(rounds):
        prop = lab.copy()
        # min over incoming labels, both directions of every undirected edge
        np.minimum.at(prop, b_idx, lab[a_idx])
        np.minimum.at(prop, a_idx, lab[b_idx])
        # pointer jump: every node adopts its label's own label (labels are
        # always node ids, so the value→index lookup is exact)
        lab = prop[np.searchsorted(node_ids, prop)]
    return lab


def connected_components_fixed(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """(node, component) after exactly ``rounds`` of min-label
    propagation + pointer shortcutting — the fixed-round flavor of
    connected components, bit-identical to ``rounds`` unrolled SQL CTE
    pairs, like pagerank/k_core (the convergence-loop + driver-DSU
    hybrid lives in operators/dedup.connected_components).

    **Hybrid execution** (README "Hybrid execution"): up to
    ``driver_collect_max`` undirected edges (0 disables) with integer ids
    run the IDENTICAL fixed-round recurrence in numpy — unlike a
    union-find, no convergence contract is assumed. Larger graphs and
    other id types take the distributed frontier loop below.

    Per round: (1) hash-min propagation — every node adopts
    min(own label, labels of neighbors) via one join + one map-side-
    combinable min; (2) pointer shortcutting — every node adopts its
    label's own label (a labels-sized self-join), which halves the
    remaining chain depth, so rounds needed is about diameter/2 rather
    than diameter. Labels are always node ids, monotonically
    non-increasing, so the fixed-round result is the true component
    min-id once ``rounds`` covers the (shortcut-compressed) diameter —
    a contract the caller asserts per graph family, exactly as k_core's
    fixture does. For adversarially deep graphs at 100 TB, the known
    upgrade is edge-rewriting contraction (large-star/small-star,
    Kiveris et al. 2014), which shrinks the EDGE relation each round;
    this variant keeps the edge relation fixed but semi-joins it per
    round to the changed-label FRONTIER (result-preserving — see the
    loop comment), so converged regions stop paying the propagation
    join. The shape fits the short-diameter co-occurrence / near-dup
    graphs the pipeline actually feeds it.

    A lazy localCheckpoint after each hop keeps the unrolled plan
    linear in ``rounds`` (the self-join would otherwise double the
    lineage every round).
    """
    if not isinstance(rounds, int) or isinstance(rounds, bool) or rounds < 1:
        raise ValueError(f"rounds must be an int >= 1, got {rounds!r}")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(a.alias("a"), b.alias("b"))
        .unionByName(edges.select(b.alias("a"), a.alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # hash-partition on the per-round join key: distinct() leaves und
        # partitioned on (a, b), so every propagation round would re-shuffle
        # the edge relation — the largest relation in the loop (guide §2.4)
        .repartition(F.col("a"))
        .transform(materialize)
    )
    fast = _undirected_hybrid(
        "graph.connected_components_fixed", und, driver_collect_max,
        lambda a_idx, b_idx, ids: {
            "node": ids,
            "component": _fixed_round_labels_np(a_idx, b_idx, ids, rounds),
        },
        "node {t}, component {t}",
    )
    if fast is not None:
        return fast
    lab = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize)
    )
    # Frontier propagation (guide §2.3/§2.4): after round 1, only edges
    # whose SOURCE endpoint changed label last round can deliver a new
    # minimum. Proof sketch (labels are monotone non-increasing): for an
    # in-neighbor u of v with l_r(u) == l_{r-1}(u), round r already took
    # p_r(v) = min(..., l_{r-1}(u)) <= l_{r-1}(u), and the pointer jump
    # only lowers labels further, so l_r(v) <= l_r(u) — u's edge cannot
    # change round r+1's min. Semi-joining the edge relation to the
    # changed-label frontier therefore leaves every round's labels
    # BIT-IDENTICAL to the full-relation form (the oracle's unrolled CTE
    # pairs) while the per-round join shrinks with convergence; a stable
    # fixture round joins an empty frontier, which AQE collapses to an
    # empty relation at runtime. Construction stays action-free.
    frontier = None  # round 1: every node just adopted its own label
    for _ in range(rounds):
        active = (
            und
            if frontier is None
            else und.join(frontier.withColumnRenamed("node", "a"), "a", "left_semi")
        )
        neighbor = active.join(
            lab.withColumnRenamed("node", "a"), "a"
        ).select(F.col("b").alias("node"), "label")
        prop = (
            lab.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .transform(materialize)  # pointer jump reads it twice
        )
        ptr = prop.select(
            F.col("node").alias("label"), F.col("label").alias("_ll")
        )
        new_lab = (
            prop.join(ptr, "label")
            .select("node", F.col("_ll").alias("label"))
            .transform(materialize)
        )
        frontier = (
            new_lab.join(
                lab.select("node", F.col("label").alias("_prev")), "node"
            )
            .filter(F.col("label") < F.col("_prev"))
            .select("node")
        )
        lab = new_lab
    return lab.select("node", F.col("label").alias("component"))


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient cc = 2·T_v / (d_v·(d_v−1))
    — how close each node's neighborhood is to a clique, the
    community-structure probe built directly on
    :func:`triangle_count`'s degree-ordered exact triangles (same
    m^1.5 wedge bound; no new join shapes). Degree-1 nodes have no
    wedge to close → cc NULL, never 0/0.

    The cc double is 2.0·T/(d·(d−1)) — exact longs, one multiply, one
    divide, identical IEEE in any engine (round 6).

    Returns (node, degree, n_triangles, cc).
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_count(edges, src, dst)
    d = F.col("degree")
    t = F.col("n_triangles")
    return deg.join(tri, "node").select(
        "node",
        d.cast("long").alias("degree"),
        t.cast("long").alias("n_triangles"),
        F.when(
            d >= 2,
            F.round(
                (F.lit(2.0) * t.cast("double")) / (d * (d - 1)).cast("double"),
                6,
            ),
        ).alias("cc"),
    )
