"""Round-12 plan audit: walk EVERY registered query's physical plan and
count the smells the optimization guide says to hunt for (§2.4, §4.1,
§7.2): Exchange nodes, BatchEvalPython (row-at-a-time Python), cartesian
products, sort-merge joins, Python-boundary nodes, and scans whose
ReadSchema is wide.  Streaming queries (which must run to plan) and
queries that WRITE as a side effect are planned but not executed —
explain() only.

Output: one JSON line per query, sorted by exchange count.

Usage: python examples/plan_audit_r12.py [out.json]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_ml_spatialjointransformer_spark.queries import QUERIES
from spark_ml_spatialjointransformer_spark.session import local_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

PATTERNS = {
    "exchange": re.compile(r"\bExchange\b"),
    "batch_eval_python": re.compile(r"\bBatchEvalPython\b"),
    "arrow_eval_python": re.compile(r"\bArrowEvalPython\b"),
    "map_in_pandas": re.compile(r"\bMapInPandas|MapInArrow\b"),
    "flatmap_groups": re.compile(r"\bFlatMapGroupsInPandas\b"),
    "cartesian": re.compile(r"\bCartesianProduct\b"),
    "bnl_join": re.compile(r"\bBroadcastNestedLoopJoin\b"),
    "sort_merge_join": re.compile(r"\bSortMergeJoin\b"),
    "shuffled_hash_join": re.compile(r"\bShuffledHashJoin\b"),
    "broadcast_hash_join": re.compile(r"\bBroadcastHashJoin\b"),
    "logical_rdd": re.compile(r"\bScan ExistingRDD\b"),
    "window": re.compile(r"\bWindow\b"),
    "generate": re.compile(r"\bGenerate\b"),
}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_audit_r12.json"
    spark = local_session("sjt-plan-audit")

    rows = []
    for name, qd in QUERIES.items():
        try:
            df = qd.fn(spark, SF_DIR)
            if df.isStreaming:
                rows.append({"query": name, "streaming_result": True})
                continue
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            rows.append({"query": name, "error": str(e)[:200]})
            continue
        rec = {"query": name}
        for key, pat in PATTERNS.items():
            n = len(pat.findall(plan))
            if n:
                rec[key] = n
        rows.append(rec)

    rows.sort(key=lambda r: -r.get("exchange", 0))
    with open(out_path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    for r in rows[:40]:
        print(json.dumps(r))
    n_bep = [r["query"] for r in rows if r.get("batch_eval_python")]
    n_cart = [r["query"] for r in rows if r.get("cartesian") or r.get("bnl_join")]
    print("batch_eval_python:", n_bep)
    print("cartesian/bnl:", n_cart)
    spark.stop()


if __name__ == "__main__":
    main()
