"""5x-replication scale spot-bench (SCALE.md standing cadence).

Builds a synthetic ~5x copy of the driver testdata by replicating the
three fact tables with shifted ids (documents: doc_id; embeddings:
vec_id; events: event_id + user_id) and symlinking the dimension tables
unchanged, then runs the requested registry queries at 1x and 5x
(best-of-3 warm, min) and prints one JSON line per query with the
log5 wall-growth exponent.

Because text/embedding payloads are copied verbatim, every document
gains 4 exact copies and every vector 4 exact duplicates — so dedup /
near-dup / graph queries face a constructed 25x PAIR potential at 5x
rows, the same pessimistic stress documented for t11/j35 in SCALE.md.

Usage: python examples/measure_scale.py q1 [q2 ...] [--sf /root/testdata/sf0.1]
                                        [--replicas 5]

--replicas 25 gives the deep-scale point (two decades above bench when
combined with the 5x row); exponents then report log_R(tR/t1).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.session import local_session

REPLICAS = 5  # overridable via --replicas
#: 25 × 400k stays below graph._ORIENT_KEY (1e7), so replicated vec_ids
#: remain valid for the packed (degree, id) triangle orientation key even
#: at the 25x deep-scale point (the guard fires otherwise — by design);
#: 400k ≡ 0 (mod 500) also preserves the `% 500 == 0` / `% 50 == 0`
#: seed/query-set conventions, so seed counts scale with the replicas
ID_OFFSET = 400_000

#: fact tables and the id columns each copy shifts by c * ID_OFFSET
FACT_SHIFTS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}

#: --with-dims adds the geo-bearing dimension tables (the spatial join
#: operands): shifted keys hash to NEW lon/lat positions (customers_geo /
#: suppliers_geo derive coordinates from the key), so the replicated
#: tables are genuinely denser point sets, not stacked copies — the right
#: stress for the grid-kNN queries.  Off by default: shifted custkeys
#: break orders→customer referential joins, which the fact-only replica
#: preserves.
DIM_SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def build_replica_dir(spark, sf_dir: str, with_dims: bool = False) -> str:
    shifts = dict(FACT_SHIFTS, **(DIM_SHIFTS if with_dims else {}))
    suffix = "_dims" if with_dims else ""
    dest = os.path.join(
        "/tmp",
        f"sjt_scale{REPLICAS}x_{os.path.basename(sf_dir.rstrip('/'))}{suffix}",
    )
    marker = os.path.join(dest, ".complete")
    if os.path.isfile(marker):
        return dest
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        out = os.path.join(dest, f"{t}.parquet")
        if t not in shifts:
            os.symlink(src, out)
            continue
        os.makedirs(out)
        base = spark.read.parquet(src)
        for c in range(REPLICAS):
            shifted = base
            for col in shifts[t]:
                shifted = shifted.withColumn(
                    col, F.col(col) + F.lit(c * ID_OFFSET)
                )
            tmp = os.path.join(out, f"__tmp{c}")
            shifted.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            os.replace(
                os.path.join(tmp, part), os.path.join(out, f"copy{c}.parquet")
            )
            shutil.rmtree(tmp, ignore_errors=True)
    open(marker, "w").close()
    return dest


def time_query(fn, spark, sf_dir: str, reps: int = 3) -> float:
    fn(spark, sf_dir).count()  # warm: plan + scan caches
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    global REPLICAS
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in argv:
        i = argv.index("--sf"); sf_dir = argv[i + 1]; del argv[i : i + 2]
    if "--replicas" in argv:
        i = argv.index("--replicas"); REPLICAS = int(argv[i + 1]); del argv[i : i + 2]
    with_dims = "--with-dims" in argv
    if with_dims:
        argv.remove("--with-dims")
    args = [a for a in argv if not a.startswith("--")]
    spark = local_session("sjt-scale-measure")

    from __spark_entry__ import queries

    q = queries()
    rep_dir = build_replica_dir(spark, sf_dir, with_dims=with_dims)
    import math

    for key in args:
        fn = q[key]
        t1 = time_query(fn, spark, sf_dir)
        t5 = time_query(fn, spark, rep_dir)
        exp = math.log(t5 / t1, REPLICAS) if t1 > 0 else None
        print(json.dumps({
            "query": key,
            "sf01_s": round(t1, 2),
            f"x{REPLICAS}_s": round(t5, 2),
            "exponent": round(exp, 2) if exp is not None else None,
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
