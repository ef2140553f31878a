#!/usr/bin/env python
"""Cross-SF wall sweep — measure how registry queries GROW, not just run.

For each named query, times the full execution (build + count) at several
fixture scale factors in one warm engine session and reports the pairwise
log-log growth exponent between consecutive SFs:

    exponent = log(wall_hi / wall_lo) / log(sf_hi / sf_lo)

Reading: ~1.0 = linear in data (the 100 TB-safe shape), ≪1 = fixed-overhead
dominated at these tiny SFs (fine), ~2 = a quadratic term is live (candidate
join, pair relation) — compare against the operator's documented contract.
Two timed runs per (query, sf); the min is recorded (JIT/footer warm-up and
concurrent-load spikes inflate only the max).

Usage:
    python tools/sf_sweep.py q1 q2 ...            # specific queries
    python tools/sf_sweep.py --out SF_SWEEP.json q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["0.001", "0.01", "0.1"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", default=None)
    ap.add_argument("--sfs", default=",".join(SFS))
    args = ap.parse_args()
    sfs = args.sfs.split(",")

    from olake_spark.queries import QUERIES  # noqa: E402  (registers all)
    from olake_spark.session import get_spark

    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("sf_sweep", extra_conf={"spark.ui.enabled": "false"})
    # warm codegen/shuffle paths once
    from pyspark.sql import functions as F

    spark.range(100_000).withColumn("g", F.col("id") % 7).groupBy(
        "g"
    ).count().collect()

    results: dict[str, dict] = {}
    for name in args.names:
        walls: dict[str, float] = {}
        for sf in sfs:
            sf_dir = f"/root/testdata/sf{sf}"
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            walls[sf] = round(best, 3)
        exps = {}
        for lo, hi in zip(sfs, sfs[1:]):
            exps[f"{lo}->{hi}"] = round(
                math.log(walls[hi] / walls[lo])
                / math.log(float(hi) / float(lo)),
                3,
            )
        results[name] = {"wall_s": walls, "exponent": exps}
        print(f"{name}: {walls} exponents {exps}")

    if args.out:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            args.out,
        )
        # merge: a sweep of this round's additions must not drop the
        # recorded exponents of earlier rounds' queries
        merged: dict[str, dict] = {}
        try:
            with open(path) as fh:
                merged = json.load(fh).get("queries", {})
        except (OSError, json.JSONDecodeError):
            pass
        merged.update(results)
        # per-query walls are keyed by sf string, so mixed-axis entries
        # stay self-describing; the top-level axis is the union
        all_sfs = sorted(
            {sf for q in merged.values() for sf in q["wall_s"]}, key=float
        )
        with open(path, "w") as fh:
            json.dump({"sfs": all_sfs, "queries": merged}, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
