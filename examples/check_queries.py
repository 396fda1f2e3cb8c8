"""Targeted oracle check: run the NAMED queries against their DuckDB
oracles (full_sweep.py's comparison verbatim) — the per-change gate the
optimization round uses before committing a touched operator.

Usage: python examples/check_queries.py [--sf-dir DIR] q1 q2 ...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from examples.full_sweep import TABLES, normalize, value_hash


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import duckdb

    from spark_ml_spatialjointransformer_spark.queries import QUERIES
    from spark_ml_spatialjointransformer_spark.session import local_session

    spark = local_session("check-queries")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )
    rc = 0
    for name in args.names:
        qd = QUERIES[name]
        df = qd.fn(spark, args.sf_dir)
        s_cols, s_rows = normalize(df.columns, [tuple(r) for r in df.collect()])
        cur = con.execute(qd.oracle)
        d_cols, d_rows = normalize([d[0] for d in cur.description], cur.fetchall())
        ok = (
            len(s_rows) == len(d_rows)
            and s_cols == d_cols
            and value_hash(s_rows) == value_hash(d_rows)
        )
        print(f"{name}: {'PASS' if ok else 'FAIL'} ({len(s_rows)} rows)", flush=True)
        rc |= 0 if ok else 1
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
