"""Subset bench: bench.py's exact methodology (same session config, sf0.001
warmup, noop sink, min-of-converged-reps, session-state clearing between
reps) for a NAMED list of queries — the optimization round's fast
before/after gate.  Prints one JSON line.

Usage: python examples/bench_subset.py q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from spark_ml_spatialjointransformer_spark.queries import QUERIES
from spark_ml_spatialjointransformer_spark.session import local_session


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    spark = local_session("sjt-bench-subset")
    for name in names:
        try:
            bench.run(QUERIES[name].fn(spark, bench.WARMUP_SF_DIR))
        except Exception:
            pass
    baseline = bench.load_baseline(sf)
    out: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    for name in names:
        rr: list[float] = []
        while not bench.reps_converged(rr, baseline.get(name)):
            bench.clear_session_state(spark)
            t0 = time.perf_counter()
            bench.run(QUERIES[name].fn(spark, sf_dir))
            rr.append(round(time.perf_counter() - t0, 3))
        reps[name] = rr
        out[name] = min(rr)
    print(json.dumps({"queries": out, "reps": reps, "sf": sf,
                      "load_avg": [round(x, 1) for x in os.getloadavg()[:2]]}))
    spark.stop()


if __name__ == "__main__":
    main()
