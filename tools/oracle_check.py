"""Local mirror of the driver's correctness gate: run every queries() entry
and its oracle_sql() side-by-side, compare row count + schema + order-
insensitive values.  Usage:

    python tools/oracle_check.py [--json OUT.json] [sf_dir] [query ...]

With --json, also writes a driver-format report (one object per query:
rows_match / schema_match / hash_match / spark_rows / oracle_rows / err)
— used to publish CORRECTNESS_FULL.json for the entries past the
driver's 50-query window.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    if len(spark_pdf) != len(duck_pdf):
        return f"ROWS {len(spark_pdf)} vs {len(duck_pdf)}"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"SCHEMA {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
            import numpy as np
            if not np.allclose(av.astype(float), bv.astype(float),
                               rtol=0, atol=0, equal_nan=True):
                bad = (av.astype(float) != bv.astype(float))
                i = bad[bad].index[0]
                return f"VALUES col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
        else:
            if not av.equals(bv.astype(av.dtype) if av.dtype != bv.dtype else bv):
                neq = av != bv
                i = neq[neq].index[0]
                return (f"VALUES col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
                        f" (dtypes {av.dtype}/{bv.dtype})")
    # dtype drift is a HARD FAILURE: the driver's hash canonicalization
    # distinguishes 123 (int64) from 123.0 (float64), so values-equal-
    # but-dtype-drifted entries fail the gate (r9's rollup_incremental
    # red row — DuckDB sum(BIGINT)→HUGEINT→pandas float64 vs Spark
    # int64).  Fix the oracle SQL (CAST the aggregate) instead.
    drift = [f"{c}:{a[c].dtype}/{b[c].dtype}" for c in a.columns
             if a[c].dtype != b[c].dtype]
    if drift:
        return f"DTYPE drift {drift} (values equal; driver hash would fail)"
    return "OK"


def main():
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import __spark_entry__ as entry
    from gqlite_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    report = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:28s} SPARK-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": None,
                            "oracle_rows": None,
                            "err": f"{type(e).__name__}: {str(e)[:300]}"}
            continue
        if name not in oracles:
            print(f"{name:28s} rows-only ({len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(sdf),
                            "oracle_rows": None, "err": None,
                            "mode": "rows-only"}
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"{name:28s} DUCK-ERROR {str(e)[:200]}")
            failures += 1
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(sdf),
                            "oracle_rows": None,
                            "err": f"oracle: {str(e)[:300]}"}
            continue
        verdict = compare(sdf, ddf)
        ok = verdict.startswith("OK")
        if not ok:
            failures += 1
        report[name] = {
            "rows_match": len(sdf) == len(ddf),
            "schema_match": not verdict.startswith("SCHEMA"),
            "hash_match": ok,
            "spark_rows": len(sdf), "oracle_rows": len(ddf), "err": None}
        print(f"{name:28s} {verdict[:160]}  ({len(sdf)} rows, "
              f"{time.time()-t0:.1f}s)")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    if json_out:
        import json
        import subprocess
        import time as _time
        # provenance: the sweep is re-run each round on the CLOSING tree,
        # and the results alone can be byte-identical across rounds —
        # record which commit actually produced this file (r15: the r14
        # VERDICT flagged that the committed sweeps predated the
        # optimization commits and the identical-output rerun was
        # indistinguishable in git history).  A sweep of an uncommitted
        # change to the engine is stamped with its parent commit plus
        # "dirty": true.
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

        def git(*args):
            return subprocess.run(["git", *args], capture_output=True,
                                  text=True, cwd=root).stdout.strip()
        try:
            tree = git("rev-parse", "HEAD")
            dirty = bool(git("status", "--porcelain", "--", "gqlite_spark",
                             "__spark_entry__.py"))
        except Exception:
            tree, dirty = None, False
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_queries": len(report),
                       "n_failures": failures, "tree": tree,
                       **({"dirty": True} if dirty else {}),
                       "generated_utc": _time.strftime(
                           "%Y-%m-%dT%H:%M:%SZ", _time.gmtime()),
                       "results": report}, f,
                      indent=1)
        print(f"wrote {json_out} ({len(report)} queries)")
    return failures


if __name__ == "__main__":
    sys.exit(1 if main() else 0)
