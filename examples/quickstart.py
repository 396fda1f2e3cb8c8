"""Quickstart: the engine's main surfaces in one runnable script.

    python examples/quickstart.py [sf_dir]

Walks through (1) the BroadcastSpatialJoin ML Transformer — the
reference-compatible API — then the beyond-reference pipeline operators:
(2) MinHash-LSH near-dup detection, (3) ANN over embeddings, and (4) a
deterministic sharded export.  Uses the driver testdata tables.
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark import BroadcastSpatialJoin
from spark_ml_spatialjointransformer_spark.operators.dedup import (
    dedup_assign_keeper,
    minhash_lsh_pairs,
)
from spark_ml_spatialjointransformer_spark.operators.similarity import lsh_topk
from spark_ml_spatialjointransformer_spark.operators.sink import write_sharded
from spark_ml_spatialjointransformer_spark.session import local_session
from spark_ml_spatialjointransformer_spark.sources.tables import (
    customers_geo,
    suppliers_geo,
)


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = local_session("sjt-quickstart")

    # -- 1. the ML Transformer (reference-compatible params) -------------
    suppliers_geo(spark, sf_dir).createOrReplaceTempView("suppliers")
    nearest = BroadcastSpatialJoin(
        dataset="suppliers",
        dataColumns="s_suppkey as nearest_supp, s_name",
        datasetPoint="lon, lat",
        inputPoint="lon, lat",
        predicate="nearest",
        broadcast="dataset",
        filter="s_acctbal > 0",
        distanceColumnAlias="dist_m",
        tieBreak="s_suppkey",
    )
    joined = nearest.transform(customers_geo(spark, sf_dir))
    print("1. nearest supplier per customer:")
    joined.select("c_custkey", "nearest_supp", "dist_m").show(3)

    # -- 2. near-duplicate detection (MinHash + LSH) ---------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=64, bands=16,
                              threshold=0.2)
    keepers = dedup_assign_keeper(
        pairs, docs.select("doc_id"), "doc_id"
    ).where("is_dup")
    print("2. near-duplicate docs (LSH):", keepers.count())

    # -- 3. approximate nearest neighbors over embeddings ----------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 500 == 0)
    topk = lsh_topk(emb, queries, "vec_id", "embedding", "vec_id",
                    "embedding", dim=64, k=5)
    print("3. ANN top-5 for one query vector:")
    topk.show(5)

    # -- 4. deterministic sharded export ---------------------------------
    scratch = tempfile.mkdtemp(prefix="sjt_quickstart_")
    out = os.path.join(scratch, "export")
    write_sharded(joined.select("c_custkey", "nearest_supp"), out,
                  "c_custkey", n_shards=4)
    n = spark.read.parquet(out).count()
    print(f"4. sharded export: {n} rows under {out}/__shard=*/")
    shutil.rmtree(scratch)

    # -- 5. distributed k-means over the embedding corpus ----------------
    from spark_ml_spatialjointransformer_spark.operators.similarity import kmeans_int

    clusters = kmeans_int(emb, "vec_id", "embedding", dim=64, k=8, iters=2)
    print("5. k-means cluster sizes:")
    clusters.groupBy("cluster").count().orderBy("cluster").show(8)

    # -- 6. graph analytics over the near-dup pair graph -----------------
    from spark_ml_spatialjointransformer_spark.operators.graph import (
        pagerank_int,
        triangles_per_node,
    )

    ranked = pagerank_int(pairs.select("id_a", "id_b"), "id_a", "id_b", iters=3)
    tri = triangles_per_node(pairs.select("id_a", "id_b"), "id_a", "id_b")
    print("6. near-dup graph: top-ranked node + triangle-bearing nodes:",
          ranked.orderBy(F.desc("pr_e6")).first(), tri.count())

    # -- 7. retrieval stack: filtered search + MMR diversification -------
    from spark_ml_spatialjointransformer_spark.queries import QUERIES

    print("7. filtered top-5 (lang='en') and MMR-diversified top-3:")
    QUERIES["v18_filtered_topk"].fn(spark, sf_dir).show(5)
    QUERIES["v17_mmr_rerank"].fn(spark, sf_dir).show(3)

    # -- 8. training-mix assembly under a per-source token budget --------
    fill = QUERIES["p11_token_budget_fill"].fn(spark, sf_dir)
    print("8. token-budget fill: docs admitted per source:")
    fill.groupBy("source").count().orderBy("source").show(5)

    # -- 9. corpus governance: keeper election, curriculum, k-anonymity --
    keep = QUERIES["t55_quality_keeper"].fn(spark, sf_dir)
    print("9. quality-aware dedup keepers: kept / dropped:")
    keep.groupBy("kept").count().orderBy("kept").show()
    cur = QUERIES["p15_curriculum_order"].fn(spark, sf_dir)
    print("   curriculum phases (easy -> hard), docs per phase:")
    cur.groupBy("phase").count().orderBy("phase").show()
    anon = QUERIES["p14_k_anonymity"].fn(spark, sf_dir)
    print("   k-anonymity: records needing suppression before export:",
          anon.where(F.col("suppressed") == 1).count())

    # -- 10. source-level governance: overlap, drift, dup flow ----------
    print("10. cross-source template containment (top pairs):")
    QUERIES["t57_source_overlap"].fn(spark, sf_dir).orderBy(
        F.desc("containment_e6")
    ).show(3)
    print("    vocabulary drift per source (highest TV):")
    QUERIES["t58_source_tv_drift"].fn(spark, sf_dir).orderBy(
        F.desc("tv_e6")
    ).show(3)
    print("    dedup absorption flow (who keeps whose content):")
    QUERIES["t59_dup_flow"].fn(spark, sf_dir).orderBy(
        F.desc("n_docs")
    ).show(3)

    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:2])
