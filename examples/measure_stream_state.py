"""Streaming state-growth measurement for the two stateful flagships
(SCALE.md r9 directive): run e3's applyInPandasWithState running-totals
stream and e20's expression-gap session stream at sf0.1 and at a 5x
user-replicated copy, recording wall time and PEAK state-store rows/bytes
from the query progress feed.

Replication shifts user_id/event_id by a large per-copy offset and keeps
timestamps — per-user session structure is unchanged while distinct state
keys grow 5x, which is exactly the "state shards by user" claim under
test.  Each copy lands as its own parquet file, so maxFilesPerTrigger=1
replays the 5x run as 5 incremental triggers (state grows across
triggers like a live stream, not one giant batch).

Usage: python examples/measure_stream_state.py [sf_dir]
Prints one JSON line per (query, scale) with wall_s, peak_state_rows,
peak_state_bytes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.session import local_session

REPLICAS = 5
ID_OFFSET = 10_000_000


def build_replica(spark, src: str, dest: str) -> None:
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    base = spark.read.parquet(src)
    for c in range(REPLICAS):
        shifted = base.withColumn(
            "user_id", F.col("user_id") + F.lit(c * ID_OFFSET)
        ).withColumn("event_id", F.col("event_id") + F.lit(c * ID_OFFSET))
        tmp = os.path.join(dest, f"__tmp{c}")
        shifted.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), os.path.join(dest, f"copy{c}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)


def run_measured(spark, sdf, name: str, output_mode: str):
    """writeStream to a memory sink like streaming.windowed.run_to_memory,
    but keep the StreamingQuery so progress (state metrics) is readable."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(4, spark.sparkContext.defaultParallelism // 8)),
    )
    try:
        q = (
            sdf.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    t0 = time.perf_counter()
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        peak_rows = peak_bytes = 0
        for p in q.recentProgress:
            for op in p.get("stateOperators", []):
                peak_rows = max(peak_rows, op.get("numRowsTotal", 0))
                peak_bytes = max(peak_bytes, op.get("memoryUsedBytes", 0))
    finally:
        q.stop()
    return wall, peak_rows, peak_bytes


def e3_plan(spark, path: str):
    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        sessionized_counts_stream,
    )

    return sessionized_counts_stream(spark, path), "update"


def e20_plan(spark, path: str):
    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        events_stream,
    )

    gap = F.when(
        F.col("event_type") == "purchase", F.lit("5 minutes")
    ).otherwise(F.lit("30 minutes"))
    sdf = (
        events_stream(spark, path)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return sdf, "complete"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = local_session("sjt-state-measure")

    src = f"{sf_dir}/events.parquet"
    scratch = tempfile.mkdtemp(prefix="sjt_state_measure_")
    rep = os.path.join(scratch, "events_5x")
    build_replica(spark, src, rep)

    plans = {"e3_user_totals_stateful": e3_plan, "e20_dynamic_session_stream": e20_plan}
    for qname, mk in plans.items():
        for scale, path in (("1x", src), ("5x", rep)):
            best = None
            for rep_i in range(3):  # best-of-3 warm
                sdf, mode = mk(spark, path)
                wall, rows, nbytes = run_measured(
                    spark, sdf, f"m_{qname}_{scale}_{rep_i}", mode
                )
                if best is None or wall < best[0]:
                    best = (wall, rows, nbytes)
            print(
                json.dumps(
                    {
                        "query": qname,
                        "scale": scale,
                        "wall_s": round(best[0], 2),
                        "peak_state_rows": best[1],
                        "peak_state_bytes": best[2],
                    }
                )
            )
    shutil.rmtree(scratch)
    spark.stop()


if __name__ == "__main__":
    main()
