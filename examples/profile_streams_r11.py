"""Round-11 streaming profiler: capture StreamingQueryProgress durationMs
breakdowns (queryPlanning / addBatch / walCommit / stateOperators ...) for
the hot streaming queries, by monkeypatching run_to_memory so the query
functions run UNCHANGED (same plans, same sinks) while we keep the progress
events.

Usage: python examples/profile_streams_r11.py [e6 e17 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_ml_spatialjointransformer_spark.queries import QUERIES
from spark_ml_spatialjointransformer_spark.session import local_session
from spark_ml_spatialjointransformer_spark.streaming import windowed

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = "/root/testdata/sf0.001"

TARGETS = sys.argv[1:] or ["e6", "e14", "e15", "e17", "e22", "e23"]

captured: list[dict] = []

_orig_run_to_memory = windowed.run_to_memory


def run_to_memory_profiled(sdf, name, output_mode="complete"):
    spark = sdf.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndm = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    state_parts = max(4, spark.sparkContext.defaultParallelism // 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    t_start = time.perf_counter()
    try:
        q = (
            sdf.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndm
        )
    t_started = time.perf_counter()
    try:
        q.processAllAvailable()
    finally:
        t_done = time.perf_counter()
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
    t_stopped = time.perf_counter()
    captured.append(
        {
            "name": name,
            "start_s": round(t_started - t_start, 3),
            "process_s": round(t_done - t_started, 3),
            "stop_s": round(t_stopped - t_done, 3),
            "progress": progress,
        }
    )
    return spark.sql(f"SELECT * FROM {name}")


windowed.run_to_memory = run_to_memory_profiled


def main() -> None:
    spark = local_session("sjt-stream-profile")

    names = {
        t: next(n for n in QUERIES if n.startswith(t + "_")) for t in TARGETS
    }
    # warmup (uninstrumented timing, but instrumented capture is fine)
    for qn in names.values():
        try:
            QUERIES[qn].fn(spark, WARM_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:
            print(f"warmup {qn} failed: {e}", file=sys.stderr)
    captured.clear()

    for t, qn in names.items():
        captured.clear()
        t0 = time.perf_counter()
        QUERIES[qn].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
        print(f"\n=== {qn}: wall {wall:.2f}s ===")
        for cap in captured:
            print(
                f"  stream {cap['name']}: start={cap['start_s']}s "
                f"process={cap['process_s']}s stop={cap['stop_s']}s "
                f"triggers={len(cap['progress'])}"
            )
            for p in cap["progress"]:
                dm = p.get("durationMs", {})
                ops = [
                    {
                        "rows": so.get("numRowsTotal"),
                        "updated": so.get("numRowsUpdated"),
                        "commitMs": so.get("commitTimeMs"),
                        "parts": so.get("customMetrics", {}).get(
                            "loadedMapCacheHitCount"
                        ),
                    }
                    for so in p.get("stateOperators", [])
                ]
                print(
                    f"    batch {p.get('batchId')}: rowsIn={p.get('numInputRows')} "
                    f"durations={dm} stateOps={ops}"
                )
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
