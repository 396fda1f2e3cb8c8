"""Physical-plan assertions: the scale properties the engine promises must
be visible in the executed plan, not just implied by the code shape.

- nearest fast path: no join operator, no hash-partition shuffle, Arrow
  mapInPandas over the iterated side, scan pruned to the referenced columns;
- nearest with a condition the kernel cannot mask: the grid pass's cell
  join, never a nested loop;
- bbox predicate joins: broadcast hash join on grid-cell keys — never a
  nested loop or sort-merge — with the bbox window as the JVM residual, and
  each WKT's numbers extracted once;
- withindist point-point: zero Python in the plan (haversine is JVM expr);
- pre-join `filter` param reaches the parquet scan as a pushed filter.
"""

import pytest

from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.queries import QUERIES
from spark_ml_spatialjointransformer_spark.sources.tables import suppliers_geo

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_nearest_fast_path_has_no_join_no_hash_shuffle(spark):
    plan = plan_of(QUERIES["j7_nearest_supplier"].fn(spark, SF))
    assert "Join" not in plan  # no join operator of any kind
    assert "hashpartitioning" not in plan  # only the round-robin repartition
    assert "MapInPandas" in plan
    # column pruning flows through the kNN path: the customer scan reads
    # only the key the geo columns derive from
    assert "ReadSchema: struct<c_custkey:bigint>" in plan


def plans_run_by(spark, build):
    """The DataFrame ``build()`` returns, and its final executed plan plus
    the plan of every SQL execution its build ran (j22's lazy barrier
    executes the spatial join while the DataFrame is built, and the nearest
    grid pass collects its cell census; the final plan shows neither)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def execution(i: int):
        return store.executionsList(i, 1).apply(0)

    n = int(store.executionsCount())
    # by id, not by position: the store evicts its oldest executions
    mark = int(execution(n - 1).executionId()) if n else -1
    df = build()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = [plan_of(df)]
    i = int(store.executionsCount()) - 1
    while i >= 0 and int(execution(i).executionId()) > mark:
        plans.append(execution(i).physicalPlanDescription())
        i -= 1
    return df, "\n".join(plans)


#: bbox-predicate queries on the default broadcast strategy -> WKT sides
#: in the optimized plan (j22's join sits behind its barrier)
_BBOX_BROADCAST_QUERIES = {
    "j2_within_nation": 1,
    "j3_contains_nation": 1,
    "j4_intersects_rects": 2,
    "j5_overlaps_rects": 2,
    "f3_transformer_within_filtered": 1,
    "j22_within_left_outer": 0,
}


def test_bbox_predicates_plan_broadcast_hash_join(spark):
    """Every bbox predicate joins on grid-cell keys whatever the strategy:
    under the default one the cells broadcast into a BroadcastHashJoin,
    the exact DE-9IM refine is the only Python, and the regexp over a WKT
    column runs once per side (not again in each inferred null filter)."""
    for name, wkt_sides in _BBOX_BROADCAST_QUERIES.items():
        df, plan = plans_run_by(spark, lambda: QUERIES[name].fn(spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "ArrowEvalPython" in plan, name
        for py_op in (
            "BatchEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
        ):
            assert py_op not in plan, f"{name}: unexpected python stage {py_op}"
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert optimized.count("regexp_extract_all") <= wkt_sides, name


def test_nearest_unmaskable_condition_plans_no_nested_loop(spark):
    """j10's inputs with its condition in parentheses, which the broadcast
    kernel's parser rejects: the grid pass answers with j10's rows, and
    neither the final plan nor any SQL execution its build runs holds a
    BroadcastNestedLoopJoin."""
    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        spatial_join,
    )
    from spark_ml_spatialjointransformer_spark.plans.config import (
        PointColumns,
        SideConfig,
        SpatialJoinPlan,
    )
    from spark_ml_spatialjointransformer_spark.sources.tables import customers_geo

    cust = customers_geo(spark, SF).select("c_custkey", "c_nationkey", "lon", "lat")
    supp = suppliers_geo(spark, SF)
    point = SideConfig(point_columns=PointColumns("lon", "lat"))
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=point,
        input_side=point,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        condition="(left.s_nationkey != right.c_nationkey)",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
    )
    df, plans = plans_run_by(spark, lambda: spatial_join(cust, supp, plan))
    assert "BroadcastNestedLoopJoin" not in plans
    assert "SortMergeJoin" in plans  # the grid pass's cell join
    got = sorted(df.select("c_custkey", "supp_key", "dist_m").collect())
    j10 = sorted(QUERIES["j10_nearest_other_nation"].fn(spark, SF).collect())
    assert got == j10 and len(got) > 0


def test_withindist_point_point_is_pure_jvm(spark):
    plan = plan_of(QUERIES["j6_withindist_pairs"].fn(spark, SF))
    # the latitude-band equi-key makes this a hash join, not a nested loop
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    for py_op in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_op not in plan, f"unexpected python stage {py_op}"


def test_partitioned_strategy_shuffles_and_matches_broadcast(spark):
    """strategy='partitioned' must produce identical pairs through a real
    shuffled join (broadcast disabled), and reject non-withindist ops."""
    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        spatial_join,
    )
    from spark_ml_spatialjointransformer_spark.plans.config import (
        PointColumns,
        SideConfig,
        SpatialJoinPlan,
    )
    from spark_ml_spatialjointransformer_spark.sources.tables import (
        customers_geo,
        suppliers_geo,
    )

    cust = customers_geo(spark, SF).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, SF)
    base = dict(
        external_side=SideConfig(point_columns=PointColumns("lon", "lat")),
        input_side=SideConfig(point_columns=PointColumns("lon", "lat")),
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
    )
    bc = SpatialJoinPlan(predicate="withindist 400000", **base)
    pt = SpatialJoinPlan(predicate="withindist 400000", strategy="partitioned", **base)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spatial_join(cust, supp, pt)
        plan = plan_of(df)
        assert "BroadcastExchange" not in plan  # genuinely shuffled
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        got = sorted(tuple(r) for r in df.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    expected = sorted(tuple(r) for r in spatial_join(cust, supp, bc).collect())
    assert got == expected
    assert len(got) > 0

    # every predicate now has a partitioned strategy; the bbox predicates
    # get grid-cell equi-keys (tests/test_spatial_join.py proves equality
    # with broadcast disabled for each)


def test_filter_param_pushes_to_parquet_scan(spark):
    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        spatial_join,
    )
    from spark_ml_spatialjointransformer_spark.plans.config import (
        PointColumns,
        SideConfig,
        SpatialJoinPlan,
    )
    from spark_ml_spatialjointransformer_spark.sources.tables import customers_geo

    cust = customers_geo(spark, SF).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, SF)
    plan_cfg = SpatialJoinPlan(
        predicate="withindist 300000",
        external_side=SideConfig(point_columns=PointColumns("lon", "lat")),
        input_side=SideConfig(point_columns=PointColumns("lon", "lat")),
        data_columns=(("s_suppkey", "supp_key"),),
        filter="s_acctbal > 1000.0",
        broadcast_input=False,
        distance_kernel="haversine",
    )
    plan = plan_of(spatial_join(cust, supp, plan_cfg))
    assert "GreaterThan(s_acctbal,1000.0)" in plan  # filter reached the scan
    assert "ReadSchema: struct<s_suppkey:bigint,s_acctbal:double>" in plan
    # projection pruning: the supplier scan must not read s_name/s_address
    assert "s_name" not in plan


def test_neardup_lsh_verified_never_shuffles_shingle_strings(spark):
    """The scale contract of the t9/t11 pipeline: every exchange keys on
    ids, band keys, or signature longs — never on a shingle STRING column
    (the old exact tier's `s`/`__s` self-join key).  The exact-Jaccard
    refine must appear as the JVM array_intersect over carried hash
    arrays, not a string equi-join."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        neardup_pairs_lsh_verified,
    )
    from spark_ml_spatialjointransformer_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(neardup_pairs_lsh_verified(docs, "doc_id", "text", threshold=0.6))
    assert "hashpartitioning(s#" not in plan
    assert "hashpartitioning(__s#" not in plan
    assert "array_intersect" in plan
    # t9's full registry plan inherits the property
    plan9 = plan_of(QUERIES["t9_dedup_keeper"].fn(spark, SF))
    assert "hashpartitioning(s#" not in plan9
    assert "hashpartitioning(__s#" not in plan9


def test_partitioned_bbox_join_is_shuffled_hash(spark):
    """The partitioned bbox strategy must plan a shuffled equi-join on the
    grid-cell keys, not a nested loop, when broadcast is unavailable."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(QUERIES["j15_intersects_partitioned"].fn(spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bm25_is_single_scan_single_doc_shuffle(spark):
    """t19 must read the corpus ONCE (per-doc length and all query-term
    counts ride one materialized aggregate consumed by both the stats row
    and the scoring pass) and shuffle once on doc_id; corpus stats join
    back broadcast."""
    plan = plan_of(QUERIES["t19_bm25"].fn(spark, SF))
    # the corpus parquet appears at most once across the whole job: the
    # materialized per_doc aggregate (Scan ExistingRDD) feeds BOTH the
    # stats row and the scoring pass
    assert plan.count("Scan parquet") <= 1
    assert "Scan ExistingRDD" in plan
    assert "BroadcastExchange" in plan  # the one-row stats dim
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan  # pure codegen


def test_json_extract_aggregates_in_scan_pass(spark):
    """e8: one scan, one partial-aggregated exchange, no UDF."""
    plan = plan_of(QUERIES["e8_json_props"].fn(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "PythonUDF" not in plan
    assert plan.count("Exchange") <= 2  # partial agg + (AQE) final


def test_quality_filter_is_scan_speed(spark):
    """t20: no shuffle at all — pure per-row codegen over the scan."""
    plan = plan_of(QUERIES["t20_quality_filter"].fn(spark, SF))
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan


def test_chunk_dedup_and_novelty_shuffle_hashed_longs(spark):
    """t25/t27 scale contract: every exchange keys on the 60-bit chunk /
    trigram hash or ids — the chunk and trigram STRINGS never leave the
    scan stage (they are consumed by the hash expression in-place)."""
    plan25 = plan_of(QUERIES["t25_chunk_dedup"].fn(spark, SF))
    assert "hashpartitioning(chunk_h60" in plan25
    assert "PythonUDF" not in plan25
    plan27 = plan_of(QUERIES["t27_novelty"].fn(spark, SF))
    assert "hashpartitioning(g#" in plan27
    assert "PythonUDF" not in plan27


def test_image_resize_pipeline_has_no_shuffle(spark):
    """m3: synth -> decode -> resize -> re-encode -> stats is mapInPandas
    chained over the scan — partition-preserving, zero exchanges."""
    plan = plan_of(QUERIES["m3_image_resize"].fn(spark, SF))
    assert "Exchange" not in plan


def test_source_lift_broadcasts_vocab_dims(spark):
    """t26: the global word-frequency and corpus-total dims join back as
    broadcasts (Zipf: vocab aggregate is small); the only hash shuffles
    key on (source, word) / source."""
    plan = plan_of(QUERIES["t26_source_lift"].fn(spark, SF))
    assert "BroadcastExchange" in plan
    assert "PythonUDF" not in plan


def test_pii_scrub_is_scan_speed(spark):
    """t28: redaction is a pure per-row codegen map — no shuffle, no
    Python anywhere (regexp_replace + md5 are JVM expressions)."""
    plan = plan_of(QUERIES["t28_pii_scrub"].fn(spark, SF))
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan


def test_bpe_pairs_shuffles_only_distinct_pairs(spark):
    """t29: the pair count is map-side combined (partial_count before the
    exchange), so the shuffle carries one row per distinct pair; the
    top-k window runs after a single-partition exchange of the already-
    aggregated vocab table — never over corpus rows."""
    plan = plan_of(QUERIES["t29_bpe_pairs"].fn(spark, SF))
    assert "partial_count" in plan
    assert "hashpartitioning(pair" in plan
    assert "TakeOrderedAndProject" in plan  # distributed top-k, no rank window
    assert "PythonUDF" not in plan


def test_snapshot_diff_is_one_key_shuffle_merge(spark):
    """d6: both snapshots co-partition on the primary key into ONE
    sort-merge full outer join; the final aggregate is map-side combined."""
    plan = plan_of(QUERIES["d6_snapshot_diff"].fn(spark, SF))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "partial_count" in plan
    assert "PythonUDF" not in plan


def test_audio_stats_pipeline_has_no_shuffle(spark):
    """m4: synth -> WAV encode -> decode -> stats is chained mapInPandas
    over the scan — partition-preserving, zero exchanges; audio bytes
    never leave the executor."""
    plan = plan_of(QUERIES["m4_audio_stats"].fn(spark, SF))
    assert "Exchange" not in plan


def test_salted_agg_spreads_hot_keys_then_reaggregates(spark):
    """a6: the first exchange keys on (event_type, salt) — each hot key
    spread over 64 reducers — and only the second, tiny exchange keys on
    event_type alone.  Both stages map-side combine."""
    plan = plan_of(QUERIES["a6_skew_salted_agg"].fn(spark, SF))
    assert "hashpartitioning(event_type" in plan and "__salt" in plan
    assert "partial_count" in plan
    assert "PythonUDF" not in plan


def test_multimodal_pipeline_single_shard_shuffle(spark):
    """p4: the decode/resize/feature prefix is chained mapInPandas over
    the scan; the ONLY exchange is the final 16-way shard partition."""
    plan = plan_of(QUERIES["p4_multimodal_pipeline"].fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_partitioned_export_reread_prunes_partitions(spark):
    """p6: the one-type/one-week re-read resolves via PartitionFilters
    (directory pruning at planning time) on BOTH partition keys — the
    predicates never degrade to per-row-group PushedFilters, which is the
    difference between listing 7 directories and scanning the table."""
    df = QUERIES["p6_partitioned_export"].fn(spark, SF)
    plan = plan_of(df)
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_type" in pf and "day" in pf


def test_tpch_decorrelation_plan_shapes(spark):
    """VERDICT r6 item 6: Q17/Q18/Q21 (a17/a18/a19) are the classic
    plan-regression magnets — pin their decorrelated single-exchange
    SHAPES, not just exchange counts (test_plan_budgets covers counts).

    The assertion strips attribute ids and partition counts so it pins
    the partitioning KEYS: a refactor that makes a window spec or a
    groupBy stop sharing its exchange changes the key multiset and fails
    here even if the total count happens to stay equal."""
    import re

    def exchange_keys(plan: str) -> list[tuple[str, ...]]:
        out = []
        for args in re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan):
            cols = tuple(
                a.split("#")[0].strip()
                for a in args.split(",")
                if "#" in a  # drop the trailing numPartitions literal
            )
            out.append(cols)
        return sorted(out)

    # Q17 (a17): the scalar-subquery average decorrelates into a per-part
    # aggregate joined back on l_partkey — every shuffle is l_partkey-keyed
    # (combine + join-back), and the selective part list broadcasts
    plan = plan_of(QUERIES["a17_small_qty_revenue"].fn(spark, SF))
    assert exchange_keys(plan) == [("l_partkey",), ("l_partkey",)]
    assert "BroadcastHashJoin" in plan

    # Q18 (a18): aggregate-then-join — exactly ONE hash exchange (the
    # l_orderkey HAVING combine); both enrichment joins broadcast the tiny
    # survivor side, never sort-merge the facts
    plan = plan_of(QUERIES["a18_large_volume_customers"].fn(spark, SF))
    assert exchange_keys(plan) == [("l_orderkey",)]
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2

    # Q21 (a19): one (order, supplier) combine, ONE l_orderkey exchange
    # shared by all three decorrelated window functions, and the final
    # per-supplier count — the three windows must not insert their own
    plan = plan_of(QUERIES["a19_blocking_supplier"].fn(spark, SF))
    assert exchange_keys(plan) == [
        ("l_orderkey",),
        ("l_orderkey", "l_suppkey"),
        ("s_suppkey", "s_name"),
    ]
    assert "SortMergeJoin" not in plan
