"""Local stand-in for the driver's DuckDB oracle harness.

Runs every queries()[name] on Spark at --sf-dir, runs the matching
oracle_sql()[name] on DuckDB over the same parquet, and compares
row count, column-name set, and an order-insensitive value comparison
(columns sorted by name, rows sorted, exact equality on the resulting
cells). Exit code = number of failing queries.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    # check this checkout: the driver imports it through sys.path,
    # Spark's Python workers through PYTHONPATH (read when pyspark
    # launches its JVM)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import __spark_entry__ as entry_mod
    from blink_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.only or list(qs)
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} duck={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(odf.columns)}")
        if not problems:
            cs, co = canon(sdf), canon(odf)
            try:
                pd.testing.assert_frame_equal(
                    cs, co, check_dtype=False, check_exact=True
                )
            except AssertionError as e:
                diff_mask = None
                problems.append(f"values differ: {str(e).splitlines()[-1][:200]}")
                for col in cs.columns:
                    if not cs[col].equals(co[col]):
                        bad = (cs[col] != co[col])
                        idx = bad[bad].index[:3].tolist()
                        problems.append(
                            f"  col {col}: {int(bad.sum())} diffs, e.g. "
                            + "; ".join(
                                f"spark={cs[col][i]!r} duck={co[col][i]!r}" for i in idx
                            )
                        )
        if problems:
            print(f"FAIL {name} ({len(sdf)} rows, {time.time()-t0:.1f}s): " + " | ".join(problems))
            failures += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(names) - failures}/{len(names)} queries pass")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
