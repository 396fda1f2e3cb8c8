"""Round-12 job census: run every registered query once at a small SF and
record how many Spark jobs it schedules (statusTracker per job group).
Queries whose job count is far above their exchange count are paying
serialized driver actions (collects, eager barriers, probe counts) — the
round-11 lesson says that is where local wall time hides.

Usage: python examples/job_census_r12.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_ml_spatialjointransformer_spark.queries import QUERIES
from spark_ml_spatialjointransformer_spark.session import local_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/job_census_r12.json"
    spark = local_session("sjt-job-census")
    from bench import clear_session_state

    sc = spark.sparkContext
    rows = []
    for name, qd in QUERIES.items():
        clear_session_state(spark)
        group = f"census:{name}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            qd.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            err = None
        except Exception as e:
            err = str(e)[:150]
        dt = round(time.perf_counter() - t0, 2)
        njobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
        rec = {"query": name, "jobs": njobs, "sec_sf001": dt}
        if err:
            rec["error"] = err
        rows.append(rec)

    rows.sort(key=lambda r: -r["jobs"])
    with open(out_path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    for r in rows[:45]:
        print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
