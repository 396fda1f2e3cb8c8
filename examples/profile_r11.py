"""Round-11 optimization profiler: decompose the most expensive bench
queries into named sub-stages and count scheduled Spark jobs per stage.

Methodology (spark_optimization_guide.md §1): same session config as
bench.py, warmup at sf0.001 first, noop sink for every timed action, job
groups so the statusTracker can attribute job counts to stages.  Output is
a JSON line per (query, stage) with seconds + n_jobs.

Usage: python examples/profile_r11.py [target ...]
Targets default to the full hot list.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.queries import QUERIES
from spark_ml_spatialjointransformer_spark.session import local_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = "/root/testdata/sf0.001"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Prof:
    def __init__(self, spark):
        self.spark = spark
        self.rows = []

    def stage(self, query: str, stage: str, thunk, reps: int = 2):
        """Run thunk (which must consume its DataFrame) reps times, record
        best seconds + job count of the best rep."""
        from bench import clear_session_state

        best, best_jobs = None, None
        for i in range(reps):
            clear_session_state(self.spark)
            group = f"{query}:{stage}:{i}"
            sc = self.spark.sparkContext
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            thunk()
            dt = time.perf_counter() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup(None, None)
            if best is None or dt < best:
                best, best_jobs = dt, jobs
        row = {"query": query, "stage": stage, "sec": round(best, 3), "jobs": best_jobs}
        self.rows.append(row)
        print(json.dumps(row), flush=True)


def main() -> None:
    targets = sys.argv[1:] or [
        "t9", "t11", "v2", "g1", "t62", "p17", "t55", "e3", "knn",
    ]
    spark = local_session("sjt-profile")
    p = Prof(spark)

    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        dedup_connected_components,
        minhash_signatures,
        minhash_lsh_pairs,
        neardup_pairs_lsh_verified,
    )
    from spark_ml_spatialjointransformer_spark.operators.similarity import (
        lsh_neardup_pairs,
        _quantized_base,
    )
    from spark_ml_spatialjointransformer_spark.operators._compat import barrier
    from spark_ml_spatialjointransformer_spark.sources.tables import load_table

    # warmup: run the full queries once at sf0.001 (codegen + python pool)
    warm_queries = {
        "t9": ["t9_dedup_keeper"],
        "t11": ["t11_dedup_closure"],
        "v2": ["v2_lsh_neardup"],
        "g1": ["g1_pagerank"],
        "t62": ["t62_capped_lsh_pairs"],
        "p17": ["p17_effective_tokens"],
        "t55": ["t55_quality_keeper"],
        "e3": ["e3_user_totals_stateful"],
        "knn": ["j18_knn3_partitioned", "f2_transformer_knn_partitioned"],
    }
    for t in targets:
        for q in warm_queries.get(t, []):
            try:
                noop(QUERIES[q].fn(spark, WARM_DIR))
            except Exception as e:
                print(f"warmup {q} failed: {e}", file=sys.stderr)

    docs = lambda: load_table(spark, SF_DIR, "documents")  # noqa: E731
    emb = lambda: load_table(spark, SF_DIR, "embeddings")  # noqa: E731

    if "t9" in targets:
        # stage 1: signature aggregation (with hashes) materialized
        def sig_only():
            sig = minhash_signatures(docs(), "doc_id", "text", 64, 3, with_hashes=True)
            noop(sig)
        p.stage("t9", "sig_agg_nobarrier", sig_only)

        def sig_barrier():
            sig = minhash_signatures(docs(), "doc_id", "text", 64, 3, with_hashes=True).transform(barrier)
            noop(sig)
        p.stage("t9", "sig_agg_barrier", sig_barrier)

        def cand_only():
            sig = minhash_signatures(docs(), "doc_id", "text", 64, 3, with_hashes=True).transform(barrier)
            cand = minhash_lsh_pairs(docs(), "doc_id", "text", k=64, bands=16, threshold=0.0, n=3, with_sizes=True, sig=sig)
            noop(cand)
        p.stage("t9", "cand_pairs", cand_only)

        def verified():
            noop(neardup_pairs_lsh_verified(docs(), "doc_id", "text", threshold=0.6))
        p.stage("t9", "verified_pairs", verified)

        p.stage("t9", "full_query", lambda: noop(QUERIES["t9_dedup_keeper"].fn(spark, SF_DIR)))

    if "t11" in targets:
        def t11_closure_only():
            pairs = neardup_pairs_lsh_verified(docs(), "doc_id", "text", threshold=0.6)
            noop(dedup_connected_components(pairs.select("id_a", "id_b"), docs().select("doc_id"), "doc_id"))
        p.stage("t11", "full_query", lambda: noop(QUERIES["t11_dedup_closure"].fn(spark, SF_DIR)))

    if "v2" in targets:
        def v2_base():
            noop(_quantized_base(emb(), "vec_id", "embedding", 64, 6, 2))
        p.stage("v2", "quantized_base", v2_base)

        def v2_base_barrier():
            pre = _quantized_base(emb(), "vec_id", "embedding", 64, 6, 2)
            noop(pre.select("*", F.posexplode("__buckets").alias("__band", "__bucket")).transform(barrier))
        p.stage("v2", "base_barrier", v2_base_barrier)

        p.stage("v2", "full_query", lambda: noop(QUERIES["v2_lsh_neardup"].fn(spark, SF_DIR)))

    if "g1" in targets:
        def g1_pairs():
            noop(lsh_neardup_pairs(emb(), "vec_id", "embedding", dim=64, threshold=0.3, n_planes=6, bands=2, quantized=True))
        p.stage("g1", "lsh_pairs", g1_pairs)
        p.stage("g1", "full_query", lambda: noop(QUERIES["g1_pagerank"].fn(spark, SF_DIR)))

    if "t62" in targets:
        p.stage("t62", "full_query", lambda: noop(QUERIES["t62_capped_lsh_pairs"].fn(spark, SF_DIR)))

    if "p17" in targets:
        p.stage("p17", "full_query", lambda: noop(QUERIES["p17_effective_tokens"].fn(spark, SF_DIR)))

    if "t55" in targets:
        p.stage("t55", "full_query", lambda: noop(QUERIES["t55_quality_keeper"].fn(spark, SF_DIR)))

    if "e3" in targets:
        p.stage("e3", "full_query", lambda: noop(QUERIES["e3_user_totals_stateful"].fn(spark, SF_DIR)))

    if "knn" in targets:
        p.stage("j18", "full_query", lambda: noop(QUERIES["j18_knn3_partitioned"].fn(spark, SF_DIR)))
        p.stage("f2", "full_query", lambda: noop(QUERIES["f2_transformer_knn_partitioned"].fn(spark, SF_DIR)))

    print(json.dumps({"profile": p.rows}))
    spark.stop()


if __name__ == "__main__":
    main()
