"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at a given scale
factor, runs the matching DuckDB ``oracle_sql()``, and compares row count,
column names, and values (order-insensitive, float-tolerant). Use while
iterating: ``python tools/check_correctness.py [sf_dir] [query ...]``.

Flags (place anywhere in argv):
  --vanilla  build a bare SparkSession (like the driver's harness) instead of
             ``get_spark`` — catches session-conf assumptions in queries().
  --exact    compare values as exact strings (like the driver's value hash)
             instead of float-tolerant — catches last-ulp rounding drift.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    sort_cols = list(df.columns)
    return df.sort_values(by=sort_cols, kind="mergesort").reset_index(drop=True)


def compare(
    spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, exact: bool = False
) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} oracle={dc}")
        return problems
    if problems:
        return problems
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if not exact and (
            np.issubdtype(np.asarray(av).dtype, np.floating)
            or np.issubdtype(np.asarray(bv).dtype, np.floating)
        ):
            av = np.asarray(av, dtype=np.float64)
            bv = np.asarray(bv, dtype=np.float64)
            ok = np.isclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            ok = np.asarray(av.astype(str) == bv.astype(str))
        if not ok.all():
            bad = int((~ok).sum())
            i = int(np.argmax(~ok))
            problems.append(
                f"col {c!r}: {bad} mismatched values, first at sorted row {i}: "
                f"spark={av[i]!r} oracle={bv[i]!r}"
            )
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    vanilla = "--vanilla" in argv
    exact = "--exact" in argv
    argv = [a for a in argv if not a.startswith("--")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    if vanilla:
        # Mimic the driver's harness: a bare session with no engine confs.
        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("check_correctness_vanilla")
            .getOrCreate()
        )
    else:
        from olake_spark.session import get_spark

        spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed, passed, skipped = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        if name not in oracles:
            skipped.append(name)
            print(f"SKIP {name}: no oracle (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        problems = compare(sdf, ddf, exact=exact)
        if problems:
            failed.append(name)
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"     {p}")
        else:
            passed.append(name)
            print(f"PASS {name} rows={len(sdf)} [{time.time()-t0:.1f}s]")

    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(skipped)} oracle-less")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
