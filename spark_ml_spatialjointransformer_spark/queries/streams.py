"""Query registry, streams family — split from the single-module registry (r11);
see ``queries/_core.py`` for the registration machinery and shared helpers."""

from __future__ import annotations

from spark_ml_spatialjointransformer_spark.queries._core import (
    DataFrame,
    F,
    SparkSession,
    _D1_ORACLE,
    _D25_ORACLE,
    _KMV_K,
    _NATION_RECT_CTE,
    _O_TS_SPARK,
    _SUM_VALUE_E4,
    _T22_ORACLE,
    _register,
    h60_sql,
    load_events,
    load_table,
    scratch_dir,
)

#: the Spark twin (identical expression text modulo nothing — Spark parses
#: the same SQL); used via F.expr inside .agg()
_SUM_VALUE_E4_SPARK = _SUM_VALUE_E4

_E1_ORACLE = f"""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
       event_type,
       count(*) AS n_events,
       {_SUM_VALUE_E4} AS sum_value_e4
FROM events
GROUP BY 1, 2
"""


@_register("e1_hourly_agg", _E1_ORACLE)
def e1_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the events table — the batch
    twin of streaming/windowed.py's readStream version (same plan shape)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(_SUM_VALUE_E4_SPARK).alias("sum_value_e4"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value_e4",
        )
    )


_E4_ORACLE = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
m AS (
  SELECT *, CASE WHEN prev IS NULL OR ts >= prev + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_s
  FROM o
),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       -- floor, not CAST: duckdb CAST(double AS BIGINT) rounds, while
       -- spark unix_timestamp truncates the sub-second part
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM s GROUP BY user_id, sid
"""


@_register("e4_session_windows", _E4_ORACLE)
def e4_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) via Spark's
    native ``session_window`` — cross-checked against the classic
    lag + cumulative-sum SQL formulation in DuckDB (two completely
    different sessionization algorithms must agree)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(_SUM_VALUE_E4_SPARK).alias("sum_value_e4"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "sum_value_e4",
        )
    )


@_register("e2_hourly_agg_stream", _E1_ORACLE)
def e2_hourly_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME hourly aggregation as e1 executed as a Structured Streaming
    plan (readStream file source → watermark → windowed agg → memory sink,
    run to completion) — checked against the identical batch oracle, proving
    stream/batch parity of the windowed operator."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        hourly_event_counts_stream,
        run_to_memory,
    )

    name = "q_e2_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return run_to_memory(
        hourly_event_counts_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="complete",
    )


_E3_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS total_value_e4
FROM events
GROUP BY user_id
"""


@_register("e3_user_totals_stateful", _E3_ORACLE)
def e3_user_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running totals, final state checked against the batch groupBy oracle."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        run_to_memory,
        sessionized_counts_stream,
    )

    name = "q_e3_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = run_to_memory(
        sessionized_counts_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="update",
    )
    # update mode re-emits a user on every trigger: keep the final emission
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_value_e4")
    )


_E5_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM events
GROUP BY event_type
"""


@_register("e5_stream_dedup", _E5_ORACLE)
def e5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the events source unioned with itself (every
    event delivered twice — the at-least-once replay scenario) through
    ``dropDuplicatesWithinWatermark`` on event_id; aggregating the deduped
    sink must reproduce the single-copy batch aggregate exactly."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        deduped_events_stream,
        run_to_memory,
    )

    name = "q_e5_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = run_to_memory(
        deduped_events_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="append",
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(_SUM_VALUE_E4_SPARK).alias("sum_value_e4"),
    )


_E7_ORACLE = f"""
WITH {_NATION_RECT_CTE},
ev AS (SELECT event_id,
              (user_id * 9973 % 3600) / 10.0 - 180.0 AS lon,
              (user_id * 7919 % 1200) / 10.0 - 60.0 AS lat
       FROM events)
SELECT n.n_nationkey AS nat_key, count(*) AS n_events
FROM ev JOIN n
  ON ev.lon > n.x0 AND ev.lon < n.x1 AND ev.lat > n.y0 AND ev.lat < n.y1
GROUP BY n.n_nationkey
"""


@_register("e7_spatial_join_stream", _E7_ORACLE)
def e7_spatial_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC spatial join: geolocated events stream joined `within`
    the static broadcast nation rectangles through the same spatial_join
    operator as the batch queries (stateless micro-batch joins, no
    watermark needed); the appended sink aggregated per nation must equal
    the batch point-in-rect join exactly."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        run_to_memory,
        spatial_join_stream,
    )

    name = "q_e7_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = run_to_memory(
        spatial_join_stream(spark, sf_dir), name, output_mode="append"
    )
    return out.groupBy("nat_key").agg(F.count(F.lit(1)).alias("n_events"))


_E6_ORACLE = """
SELECT a.user_id, count(*) AS n_pairs
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND b.ts >= a.ts - INTERVAL 2 MINUTE
 AND b.ts <= a.ts + INTERVAL 2 MINUTE
GROUP BY a.user_id
"""


@_register("e6_stream_stream_join", _E6_ORACLE)
def e6_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: same-user event pairs within ±2 minutes, run as
    two watermarked streams (state evicted by the time-interval bound);
    the appended pair stream aggregated per user must equal the batch
    self-join oracle exactly."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        event_pair_stream,
        run_to_memory,
    )

    name = "q_e6_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = run_to_memory(
        event_pair_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="append",
    )
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))

# ---------------------------------------------------------------------------
# semi-structured extraction, retrieval scoring, filtering, sharding
# ---------------------------------------------------------------------------

_E8_ORACLE = """
SELECT event_type,
       CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10.0e0)
            AS BIGINT) AS k_bucket,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM events
GROUP BY 1, 2
"""


@_register("e8_json_props", _E8_ORACLE)
def e8_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    ``props`` payload and aggregate on it — the log-analytics shape every
    event pipeline needs.  ``get_json_object`` evaluates JVM-side inside
    whole-stage codegen (no UDF); the path extraction, cast, bucketing, and
    partial aggregation all happen in one scan pass, so at scale this is a
    single map-side-combined shuffle of (type, bucket) longs.  The oracle
    runs DuckDB's json_extract_string over the same rows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            # floor-consistent with the oracle (`div` truncates, `//` floors;
            # they differ on negative k) — see streaming/windowed.py twin
            F.expr(
                "CAST(floor(CAST(get_json_object(props, '$.k') AS BIGINT)"
                " / 10.0e0) AS BIGINT)"
            ).alias("k_bucket"),
            "value",
        )
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(_SUM_VALUE_E4_SPARK).alias("sum_value_e4"),
        )
    )


@_register("e9_json_stream", _E8_ORACLE)
def e9_json_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e8's JSON-extraction aggregation executed as a Structured Streaming
    plan (readStream → get_json_object → stateful groupBy → memory sink,
    run to completion) — checked against the identical batch oracle,
    proving stream/batch parity of the semi-structured path."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        json_bucket_counts_stream,
        run_to_memory,
    )

    name = "q_e9_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return run_to_memory(
        json_bucket_counts_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="complete",
    )


_E10_ORACLE = f"""
SELECT CAST({h60_sql("CAST(event_id AS VARCHAR)")} % 8 AS INTEGER) AS shard,
       count(*) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events
GROUP BY 1
"""


@_register("e10_stream_ingest", _E10_ORACLE)
def e10_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the deterministic shard layout, verified
    through the filesystem: the events stream appends micro-batches to a
    parquet directory partitioned by the content-stable shard key
    (``h60(event_id) % 8`` — arrival batch can never move a row across
    shards), then the written files are read BACK and aggregated per
    shard.  The oracle recomputes shard membership from the raw table, so
    hash equality proves the ingest wrote every row exactly once into the
    correct shard.  Scale shape: foreachBatch reuses the batch sharded
    writer (one sort-within-partition, no extra shuffle per micro-batch);
    the readback aggregation is partition-pruned by the shard column."""
    import hashlib
    import shutil

    from spark_ml_spatialjointransformer_spark.streaming.ingest import (
        stream_to_sharded,
    )
    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        events_stream,
    )

    out_dir = scratch_dir(
        spark, "sjt_e10_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    q = stream_to_sharded(
        events_stream(spark, f"{sf_dir}/events.parquet"), out_dir,
        "event_id", 8,
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy(F.col("__shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
    )


#: stream twin of t30: the sketch's final state is trigger-order
#: independent, so the batch replay is the oracle.  n_seen counts every
#: trigram OCCURRENCE (the stream processes rows, not distincts).
_E11_ORACLE = f"""
WITH tok AS (SELECT source, string_split(trim(text), ' ') AS ts FROM documents),
occ AS (SELECT source, sum(CASE WHEN len(ts) >= 3 THEN len(ts) - 2 ELSE 0 END)
               AS n_seen
        FROM tok GROUP BY source),
tri AS (SELECT DISTINCT source,
               {h60_sql("array_to_string(ts[i : i + 2], ' ')")} AS g
        FROM tok, unnest(range(1, len(ts) - 1)) t(i)),
rk AS (SELECT source, g, row_number() OVER (PARTITION BY source ORDER BY g)
                AS rn
       FROM tri),
kth AS (SELECT source, g >> 7 AS hk53 FROM rk WHERE rn = {_KMV_K}),
est AS (SELECT source,
               ({_KMV_K} - 1) * 9007199254740992 // hk53 AS est_kmv
        FROM kth)
SELECT occ.source, CAST(occ.n_seen AS BIGINT) AS n_seen,
       CAST(est.est_kmv AS BIGINT) AS est_kmv
FROM occ JOIN est USING (source)
"""


@_register("e11_kmv_stream", _E11_ORACLE)
def e11_kmv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming COUNT(DISTINCT) via a stateful KMV sketch
    (applyInPandasWithState): per-source distinct-trigram estimate whose
    state is k longs per group regardless of stream length — the bounded-
    state property exact streaming distinct lacks.  The KMV union is
    order- and trigger-boundary-independent, so the final emission equals
    the batch sketch (t30) exactly, and the batch SQL replay is the
    oracle.  Scale shape: trigrams hash to longs before the keyed
    shuffle; the state store holds k longs + one counter per source."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        kmv_distinct_stream,
        run_to_memory,
    )

    name = "q_e11_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = run_to_memory(
        kmv_distinct_stream(spark, sf_dir), name, output_mode="update"
    )
    # update mode re-emits a source every trigger; n_seen is monotone, so
    # the final emission is the max-n_seen row per source
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.col("n_seen").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("source", "n_seen", "est_kmv")
    )


@_register("e12_session_stream", _E4_ORACLE)
def e12_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME gap-based sessionization as e4 executed as a Structured
    Streaming plan (native ``session_window`` state with cross-micro-batch
    session MERGING — an event arriving in a later trigger can bridge two
    previously-separate sessions) — checked against the identical batch
    lag+cumsum oracle, proving stream/batch parity of the session-window
    operator the way e2 proves it for tumbling windows."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        run_to_memory,
        session_window_counts_stream,
    )

    name = "q_e12_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return run_to_memory(
        session_window_counts_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="complete",
    )


@_register("e13_heavy_hitters_stream", _T22_ORACLE)
def e13_heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-language heavy hitters — the incremental twin of
    batch t22, checked against its oracle.  A stateful token-count map per
    language (applyInPandasWithState) re-emits the current top-3 each
    trigger with a monotone ``n_seen`` cursor; the final snapshot (max
    cursor per language) must equal the batch rank window.  State is
    vocab-bound like t22's aggregation; at 100 TB the exact map becomes a
    fixed-capacity space-saving summary with the same plan shape (see
    ``streaming/windowed.py:heavy_hitters_stream``)."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        heavy_hitters_stream,
        run_to_memory,
    )
    from pyspark.sql.window import Window

    name = "q_e13_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = run_to_memory(
        heavy_hitters_stream(spark, sf_dir), name, output_mode="update"
    )
    # update mode re-emits a language's top-3 every trigger: keep the
    # final emission (largest token cursor)
    w = Window.partitionBy("lang")
    return (
        out.withColumn("__mx", F.max("n_seen").over(w))
        .where(F.col("n_seen") == F.col("__mx"))
        .select("lang", "token", "cnt", F.col("rank").cast("int"))
    )


@_register("e14_asof_stream", _D1_ORACLE)
def e14_asof_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME point-in-time join as d1 executed as a STREAMING
    enrichment: events arrive on the stream and each picks the user's
    most recent order at event time from a broadcast dimension of per-key
    sorted arrays (vectorized searchsorted per micro-batch — stateless,
    zero shuffle, append mode).  Checked against d1's DuckDB native ASOF
    LEFT JOIN oracle: three algorithmically different implementations
    (union-merge window plan, searchsorted broadcast probe, merge join)
    must agree row-for-row.  See ``streaming/windowed.py:
    asof_enrich_stream`` for the scale contract."""
    import hashlib

    from pyspark.sql.window import Window

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        asof_enrich_stream,
        events_stream,
        run_to_memory,
    )

    w = Window.partitionBy("user_id", "o_ts").orderBy(F.col("o_orderkey").desc())
    od = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.expr(_O_TS_SPARK).alias("o_ts"),
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("total_e2"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            F.expr("unix_micros(CAST(o_ts AS TIMESTAMP))").alias("ts_us"),
            "o_orderkey",
            "total_e2",
        )
    )
    # the DataFrame goes straight in: asof_enrich_stream counts it
    # distributed-side and refuses to collect above its broadcast bound
    name = "q_e14_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    enriched = asof_enrich_stream(
        events_stream(spark, f"{sf_dir}/events.parquet"), od
    )
    return run_to_memory(enriched, name, output_mode="append")


#: e15: plain batch left join — the stream must reproduce it exactly,
#: including one row per multi-purchase match AND the NULL no-shows.
#: lag truncates each timestamp to whole seconds BEFORE subtracting
#: (Spark's cast-to-long), not after — both engines floor non-negative
#: epochs identically.
_E15_ORACLE = """
SELECT a.event_id, a.user_id, b.event_id AS purchase_id,
       epoch_us(b.ts) // 1000000 - epoch_us(a.ts) // 1000000 AS lag_s
FROM events a
LEFT JOIN events b
  ON a.user_id = b.user_id AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 120 MINUTE
WHERE a.event_type = 'click'
"""


@_register("e15_outer_join_stream", _E15_ORACLE)
def e15_outer_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: click→purchase conversion
    attribution where the no-conversion rows are emitted by WATERMARK
    STATE EVICTION — the streaming-only semantics e6's inner join never
    exercises (a no-show can only be declared once the watermark proves
    no match can still arrive).  Null emission is driven through real
    data batches by the flush-sentinel mechanism (see
    ``streaming/windowed.py:_flushed_events_dir`` for why the sentinels
    must pass the per-side scan filters and why this filter runs HERE,
    after materialization, not inside the streaming plan).  Checked
    against the plain batch LEFT JOIN oracle — matches, multi-matches,
    and NULL no-shows row-for-row."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        click_attribution_stream,
        run_to_memory,
    )

    name = "q_e15_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = run_to_memory(
        click_attribution_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="append",
    )
    return out.where(F.col("user_id") >= 0).select(
        "event_id",
        "user_id",
        F.col("p_id").alias("purchase_id"),
        (F.col("p_ts").cast("long") - F.col("ts").cast("long")).alias("lag_s"),
    )


#: e16's oracle materializes "each event belongs to BOTH windows that
#: cover it": window starts are the event's hour and the hour before —
#: always exactly two for a 2h/1h slide.
_E16_ORACLE = """
WITH e AS (SELECT event_type,
                  epoch_us(ts) // 3600000000 AS hr,
                  CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT) AS v_e4
           FROM events),
w AS (SELECT event_type, v_e4, (hr - k) * 3600 AS w_start_ts
      FROM e, unnest([0, 1]) t(k))
SELECT CAST(w_start_ts AS BIGINT) AS w_start_ts, event_type,
       count(*) AS n_events, CAST(sum(v_e4) AS BIGINT) AS sum_value_e4
FROM w GROUP BY 1, 2
"""


@_register("e16_sliding_stream", _E16_ORACLE)
def e16_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregation — 2-hour windows advancing
    hourly, so every event lands in exactly two overlapping windows: the
    moving-average shape e2's tumbling windows can't express, and the
    one window kind (beside tumbling e2 and session e12) the streaming
    family still lacked.  Run to completion against the batch oracle
    that materializes both covering windows per event, proving the
    incremental multi-window state updates equal the from-scratch
    answer.  Scale shape: state per (window, type) key bounded by
    window/slide = 2 live windows beyond the watermark; same shuffle
    keys as the batch twin."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        run_to_memory,
        sliding_event_counts_stream,
    )

    name = "q_e16_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return run_to_memory(
        sliding_event_counts_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="complete",
    )


_E17_ORACLE = """
SELECT (CAST(epoch_us(ts) // 1000000 AS BIGINT) // 21600) * 21600
         AS w6_start_ts,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT)
         AS sum_value_e4
FROM events
GROUP BY 1, 2
"""


@_register("e17_chained_windows_stream", _E17_ORACLE)
def e17_chained_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained time-window aggregations — hour windows rolled up into
    6-hour buckets by a SECOND streaming aggregation over ``window_time``
    in the same query (two stateful operators, append mode).  Checked
    against the batch oracle that buckets raw events at 6h directly:
    the two-stage incremental rollup must equal the single-stage
    from-scratch answer.  Sentinel-driven watermark flush; the sentinel
    buckets (which start strictly after the real data's max timestamp)
    are dropped after materialization."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        chained_window_counts_stream,
        run_to_memory,
    )

    max_ts = (
        load_events(spark, sf_dir)
        .agg(F.max(F.unix_timestamp(F.col("ts").cast("timestamp"))))
        .first()[0]
    )
    name = "q_e17_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = run_to_memory(
        chained_window_counts_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="append",
    )
    return out.where(F.col("w6_start_ts") <= F.lit(int(max_ts)))


_E18_ORACLE = """
WITH r AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT) AS value_e4,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts_us, event_id, event_type, value_e4
FROM r WHERE rn = 1
"""


@_register("e18_latest_state_stream", _E18_ORACLE)
def e18_latest_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE/upsert sink via ``foreachBatch``: maintain a
    "latest event per user" table across micro-batches with the
    write-new-snapshot-then-swap move that makes the sink idempotent
    under batch replay — the streaming twin of d9's batch MERGE and the
    e-family's exactly-once-sink pattern (every other e-query sinks to
    memory/append; real pipelines sink to keyed tables).  The per-batch
    reduce is an argmax (max_by on the unique (ts_us, event_id) order);
    max is associative, so the final table is independent of the
    micro-batch split — which is exactly what the batch argmax oracle
    checks.  See ``streaming/windowed.py:latest_state_upsert_stream``
    for the 100 TB shape (MERGE INTO a keyed transactional table)."""
    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        latest_state_upsert_stream,
    )

    return latest_state_upsert_stream(spark, f"{sf_dir}/events.parquet")


_E19_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT)
         AS sum_value_e4
FROM events WHERE user_id % 11 <> 0
GROUP BY event_type
"""


@_register("e19_bloom_stream", _E19_ORACLE)
def e19_bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination: Bloom-bitmap pre-prune (Arrow kernel
    over a broadcast 128 KiB bitmap) inside the micro-batch pipeline,
    with Bloom-positives confirmed by an exact stream-static join — the
    live twin of batch t31's prune-then-confirm contract, held to the
    plain batch anti-join oracle (Bloom false positives are cleared by
    the exact join; false negatives are impossible)."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        bloom_decontaminated_stream,
        run_to_memory,
    )

    name = "q_e19_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return run_to_memory(
        bloom_decontaminated_stream(spark, f"{sf_dir}/events.parquet"), name,
        output_mode="complete",
    )
#: d25: DYNAMIC-GAP sessionization — the inactivity gap depends on the
#: event (purchases close a session after 5 min, everything else 30 min),
#: the per-event-gap generalization of e4/e12's fixed 30-min windows and
#: the batch mirror of Spark's expression-gap ``session_window(ts, CASE
#: …)``.  Session extent is interval-union semantics: an event opens
#: [t, t+gap) and merges into the running session while t < the running
#: max of previous ends (half-open — t == prev_end starts a NEW session,
#: matching Spark's session-window overlap rule), so the break flag is a
#: cummax-vs-current comparison and session ids are the running sum of
#: breaks.  ONE user-keyed exchange serves the cummax, the break cumsum,
#: and the final (user, session) rollup — the variable-gap islands shape
#: with zero re-shuffles.


@_register("e20_dynamic_session_stream", _D25_ORACLE)
def e20_dynamic_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d25's dynamic-gap sessionization as a STREAMING plan: Spark's
    ``session_window`` with an EXPRESSION gap (5 min after a purchase,
    30 min otherwise — the gap is per-event, which no fixed-gap window
    expresses) — checked against the identical batch cummax/islands
    oracle, proving stream/batch parity of the expression-gap session
    operator the way e12 proves it for the fixed-gap one.  Session ids
    are assigned AFTER materialization (rank of session start per user,
    a batch window over one row per closed session): the stream's state
    never needs a global sequence, which is what keeps the operator
    shardable by user at scale."""
    import hashlib

    from pyspark.sql.window import Window

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        events_stream,
        run_to_memory,
    )

    # the gap expression must evaluate to CalendarIntervalType: string
    # literals coerce (the documented dynamic-gap form); INTERVAL literals
    # are DayTimeIntervalType and are rejected by the analyzer
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("5 minutes")
    ).otherwise(F.lit("30 minutes"))
    sdf = (
        events_stream(spark, f"{sf_dir}/events.parquet")
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = "q_e20_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t = run_to_memory(sdf, name, output_mode="complete")
    w = Window.partitionBy("user_id").orderBy(F.col("w.start"))
    return t.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("session_seq"),
        "n_events",
        F.expr("unix_micros(CAST(w.start AS TIMESTAMP))").alias("start_us"),
        F.expr("unix_micros(CAST(w.end AS TIMESTAMP))").alias("end_us"),
    )


_E21_ORACLE = """
WITH b AS (SELECT CAST(epoch(date_trunc('hour', ts))
                       - (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) % 21600)
                       AS BIGINT) AS win_ts,
                  CAST(floor(value * 100e0 + 0.5e0) AS BIGINT) AS cents,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
t AS (SELECT win_ts, cents, n,
             sum(n) OVER (PARTITION BY win_ts ORDER BY cents) AS cum,
             sum(n) OVER (PARTITION BY win_ts) AS total
      FROM b)
SELECT win_ts, CAST(max(total) AS BIGINT) AS n_events,
       CAST(min(CASE WHEN cum * 2 >= total THEN cents END) AS BIGINT)
         AS p50_cents,
       CAST(min(CASE WHEN cum * 20 >= total * 19 THEN cents END) AS BIGINT)
         AS p95_cents
FROM t GROUP BY win_ts
"""


@_register("e21_stream_histogram_quantiles", _E21_ORACLE)
def e21_stream_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT streaming quantiles via the histogram decomposition: the
    stream maintains a windowed value HISTOGRAM (6-hour tumbling window x
    integer cents bucket — a plain incremental count agg, watermark-
    bounded state, mergeable across partitions and micro-batches), and
    the exact p50/p95 are read off the materialized histogram with an
    integer cumulative-count rule (smallest bucket where 2*cum >= total /
    20*cum >= 19*total).  This is how production pipelines get
    percentile monitoring out of Structured Streaming without
    approximate sketches: quantiles are not incrementally mergeable,
    histograms are — so the stream does the mergeable part and the exact
    selection runs over one (window, bucket) row per pair, never raw
    events.  Integer buckets make the result engine-exact (no
    percentile_approx drift vs DuckDB).  Scale shape: state rows =
    distinct (window, bucket) pairs — bounded by the value domain, NOT
    the event count; the post-materialization window pass shuffles those
    same int rows once."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        events_stream,
        run_to_memory,
    )
    from pyspark.sql.window import Window

    sdf = (
        events_stream(spark, f"{sf_dir}/events.parquet")
        .withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", "6 hours").alias("w"),
            F.expr("CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)").alias(
                "cents"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "q_e21_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    hist = run_to_memory(sdf, name, output_mode="complete").select(
        F.unix_timestamp(F.col("w.start")).alias("win_ts"), "cents", "n"
    )
    wcum = Window.partitionBy("win_ts").orderBy("cents")
    wtot = Window.partitionBy("win_ts")
    t = hist.select(
        "win_ts",
        "cents",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wtot).alias("total"),
    )
    return t.groupBy("win_ts").agg(
        F.max("total").cast("bigint").alias("n_events"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("cents")))
        .cast("bigint")
        .alias("p50_cents"),
        F.min(
            F.when(F.col("cum") * 20 >= F.col("total") * 19, F.col("cents"))
        )
        .cast("bigint")
        .alias("p95_cents"),
    )


_E22_ORACLE = """
WITH b AS (SELECT user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400 AS win_ts,
                  event_id, ts
           FROM events),
r AS (SELECT user_id, win_ts, event_id,
             row_number() OVER (PARTITION BY user_id, win_ts
                                ORDER BY ts, event_id) AS rn
      FROM b)
SELECT user_id, win_ts, event_id, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 3
"""


@_register("e22_stream_throttle", _E22_ORACLE)
def e22_stream_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key rate limiter: admit the FIRST 3 events per
    (user, UTC day) in event-time order (p99 daily rate is 6 at sf0.01,
    so the cap genuinely cuts), drop the rest — the quota /
    sampling-cap operator that turns downstream per-event cost into
    O(keys·N) (dedupe-adjacent but ORDER-aware: e5 keeps distinct ids,
    this keeps a bounded prefix).  Custom stateful kernel
    (applyInPandasWithState, one int of state per live key) because no
    built-in streaming aggregate can emit a row-level admit/deny
    decision that depends on arrival history.  The batch oracle is the
    row_number()-over-window prefix — exact under the harness's
    one-trigger-per-key replay (caveat class of e20's no-watermark
    note).  Scale shape: state shards by (user, window) — one int64
    per key, evictable at window close via state TTL in production;
    only (id, ts) ints enter the group shuffle."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        run_to_memory,
        throttled_events_stream,
    )

    name = "q_e22_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return run_to_memory(
        throttled_events_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="append",
    ).select("user_id", "win_ts", "event_id", "rn")


_E23_ORACLE = """
WITH b AS (SELECT user_id, event_id, ts,
                  CAST(floor(value * 100e0 + 0.5e0) AS BIGINT) AS v_c
           FROM events),
r AS (SELECT user_id, event_id, v_c,
             count(*) OVER w AS n,
             sum(v_c) OVER w AS s,
             sum(v_c * v_c) OVER w AS q
      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT user_id, event_id, v_c, CAST(n AS BIGINT) AS n_prior
FROM r
WHERE n >= 5 AND (n * v_c - s) * (n * v_c - s) > 9 * (n * q - s * s)
"""


@_register("e23_stream_zscore", _E23_ORACLE)
def e23_stream_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key anomaly detection: flag an event whose value
    deviates from the RUNNING mean of that user's prior events by more
    than 3 sigma — the live data-quality monitor an ingestion pipeline
    runs ahead of training-data collection (e13 finds heavy KEYS, e21
    value HISTOGRAMS; this is the per-EVENT verdict against the key's
    own history, which no built-in streaming aggregate emits).  The
    verdict is integer-exact by cross-multiplication — (n*x - S)^2 >
    9*(n*Q - S^2) on value-cents — so the stateful kernel and the batch
    window oracle agree bit-for-bit (no float variance on either
    engine; flags ~3% of events at both sf0.01 and sf0.1).  Scale
    shape: state is THREE int64s per user (count, sum, sum-of-squares),
    O(users) forever with no eviction pressure; only (id, ts, cents)
    ints enter the group shuffle.  Ordered-replay caveat class of
    e20/e22 (see ``streaming/windowed.py:zscore_anomaly_stream``)."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        run_to_memory,
        zscore_anomaly_stream,
    )

    name = "q_e23_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return run_to_memory(
        zscore_anomaly_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="append",
    ).select("user_id", "event_id", "v_c", "n_prior")


_E24_ORACLE = """
WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
           WHERE event_type = 'view' GROUP BY user_id),
p AS (SELECT e.user_id, e.ts, e.event_id,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts)
SELECT p.user_id, p.event_id AS purchase_event,
       CAST((epoch_us(p.ts) - epoch_us(v.v_ts)) // 60000000 AS BIGINT)
         AS delay_min
FROM p JOIN v ON v.user_id = p.user_id
WHERE p.rn = 1
"""


@_register("e24_stream_funnel", _E24_ORACLE)
def e24_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered funnel: one append-mode row per user at the
    FIRST 'purchase' at-or-after their first 'view' — d5's conversion
    query moved to the trigger it becomes true (the real-time
    attribution/alerting half; append mode can never emit the
    non-converted, which stays d5's batch job).  The oracle is the
    batch replay over the same file: first view per user, first
    at-or-after purchase by (ts, event_id), whole-minute integer
    delay.  Scale shape: state is TWO int64s per user (first-view ts
    + emitted latch), O(users) forever — no window, no eviction; the
    kernel folds each trigger's rows in one vectorized pandas pass
    (``streaming/windowed.py:funnel_conversion_stream``)."""
    import hashlib

    from spark_ml_spatialjointransformer_spark.streaming.windowed import (
        funnel_conversion_stream,
        run_to_memory,
    )

    name = "q_e24_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return run_to_memory(
        funnel_conversion_stream(spark, f"{sf_dir}/events.parquet"),
        name,
        output_mode="append",
    ).select("user_id", "purchase_event", "delay_min")
