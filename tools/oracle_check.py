"""Local simulator of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given scale factor, then compares row count, column
names, and an order-insensitive value hash (columns sorted by name,
rows sorted by their string form). Exit code 1 if anything mismatches.

Usage: python tools/oracle_check.py SF_DIR [NAME ...]
       python tools/oracle_check.py SF_DIR --only NAME ...
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return f"{v:.6f}"
            return f"{v:.6f}"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(str(x) for x in v) + "]"
        return str(v)

    try:
        out = df.map(cell)
    except AttributeError:  # pandas < 2.1
        out = df.applymap(cell)
    return out.sort_values(by=list(out.columns), ignore_index=True) if len(out) else out


def value_hash(df: pd.DataFrame) -> str:
    n = normalize(df)
    payload = "\n".join(",".join(row) for row in n.itertuples(index=False))
    return hashlib.sha256(payload.encode()).hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="Compare every query on Spark with its DuckDB oracle."
    )
    ap.add_argument("sf_dir", help="directory holding the <table>.parquet files")
    ap.add_argument("names", nargs="*", metavar="NAME", help="queries to check (default: all)")
    ap.add_argument("--only", nargs="+", default=[], metavar="NAME", help="same as NAME ...")
    args = ap.parse_args(argv)
    if not os.path.isdir(args.sf_dir):
        ap.error(f"no data directory {args.sf_dir!r}")
    sf_dir = args.sf_dir
    only = set(args.names) | set(args.only)

    import __spark_entry__ as entry_mod
    from udacity_data_engineering_capstone_project_spark.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    # $SPARK_GRAFT_ANSI=true|false pins ANSI mode for the whole gate
    # (Spark 4 defaults to true; the gate is kept green under ANSI —
    # NOTES.md documents the overflow/cast rules that make that hold).
    ansi = os.environ.get("SPARK_GRAFT_ANSI")
    if ansi is not None:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    print(f"spark.sql.ansi.enabled={spark.conf.get('spark.sql.ansi.enabled')}")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = {}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        from udacity_data_engineering_capstone_project_spark.operators.similarity import (
            destroy_routing_broadcast,
        )

        t0 = time.time()
        q_df = None
        try:
            q_df = fn(spark, sf_dir)
            sdf = q_df.toPandas()
        except Exception as e:
            results[name] = {"status": "SPARK_ERROR", "error": str(e)[:500]}
            failed.append(name)
            print(f"[FAIL-spark] {name}: {str(e)[:300]}")
            continue
        finally:
            # post-action hook (ADVICE r11): release the broadcasts,
            # persists and checkpoints the query took in the root scope —
            # a 208-query gate otherwise accumulates them query by query
            if q_df is not None:
                destroy_routing_broadcast(q_df)
        spark_t = time.time() - t0
        if name not in oracles:
            results[name] = {
                "status": "ROWS_ONLY",
                "rows": len(sdf),
                "spark_sec": round(spark_t, 2),
            }
            print(f"[rows-only] {name}: {len(sdf)} rows ({spark_t:.1f}s)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:500]}
            failed.append(name)
            print(f"[FAIL-oracle] {name}: {str(e)[:300]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                ns, no = normalize(sdf), normalize(odf)
                diff = ns.compare(no) if ns.shape == no.shape else None
                if diff is not None and len(diff):
                    print(f"  first diffs for {name}:\n{diff.head(5)}")
                else:
                    print(f"  spark head:\n{ns.head(3)}\n  oracle head:\n{no.head(3)}")
        if problems:
            results[name] = {"status": "MISMATCH", "problems": problems}
            failed.append(name)
            print(f"[FAIL] {name}: {problems}")
        else:
            results[name] = {
                "status": "OK",
                "rows": len(sdf),
                "spark_sec": round(spark_t, 2),
            }
            print(f"[ok] {name}: {len(sdf)} rows ({spark_t:.1f}s)")

    print(json.dumps({"failed": failed, "n_ok": sum(1 for r in results.values() if r['status'] in ('OK', 'ROWS_ONLY'))}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
