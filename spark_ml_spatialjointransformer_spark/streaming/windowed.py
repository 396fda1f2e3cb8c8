"""Structured Streaming operators over the events stream.

The batch twins of these plans live in queries.py (e1); here the same
logical shapes run as ``readStream`` plans with watermarks and state:

- `hourly_event_counts_stream` — tumbling-window aggregation with a
  watermark for late data;
- `sessionized_counts_stream` — custom stateful operator via
  ``applyInPandasWithState`` (running per-user aggregates);
- `run_to_memory` — drives any of them to completion against the static
  parquet (the local stand-in for kafka) and returns the result.

At scale these run against a real source (kafka/kinesis) with checkpointed
state in the cluster's DFS; the plan shapes are identical.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spark_ml_spatialjointransformer_spark.functions._serde import (
    ensure_udf_portability,
)
from spark_ml_spatialjointransformer_spark.operators._compat import scratch_dir


def _as_stream_dir(spark: SparkSession, path: str) -> str:
    """The streaming file source requires a directory; wrap a single parquet
    file in a symlink directory under the session's scratch root
    (read-only testdata can't be moved)."""
    import hashlib
    import os

    if os.path.isdir(path):
        return path
    d = scratch_dir(
        spark, f"sjt_stream_{hashlib.md5(path.encode()).hexdigest()[:12]}"
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return d


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """readStream over the events parquet (kafka stand-in).

    The streaming file source needs an explicit schema, and the driver's
    testdata has shipped ``ts`` as parquet TIMESTAMP(NANOS) in one round and
    timestamp[us] (TIMESTAMP_NTZ) in another — so instead of hard-coding a
    convention, probe the footer with one batch read (schema-only, no scan)
    and adapt, exactly like the batch loader (sources/tables.py).  Whatever
    the physical encoding, the stream exposes ``ts`` as a session-TZ
    TimestampType column (UTC-pinned sessions make every cast
    value-preserving), which watermarks/windows require."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    d = _as_stream_dir(spark, sf_dir)
    batch_schema = spark.read.parquet(d).schema
    raw = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", str(int(max_files_per_trigger)))
        .parquet(d)
    )
    ts_type = batch_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # legacy nanos-as-long encoding: truncate to micros
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window counts/sums per event_type with a 30-minute
    watermark (late rows beyond it are dropped; state is bounded)."""
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # per-row scale to BIGINT, then integer sum: deterministic across
            # micro-batch incremental state updates AND vs the batch oracle
            # (FP summation order differs between the two otherwise)
            F.expr(
                "CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("sum_value_e4"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value_e4",
        )
    )


def sliding_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING 2-hour windows advancing hourly (each event lands in exactly
    two overlapping windows — the moving-average shape tumbling windows
    can't express), per event_type, 30-minute watermark.  State per key is
    window/slide = 2 live windows per (hour, type), still bounded."""
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("sum_value_e4"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start_ts"),
            "event_type",
            "n_events",
            "sum_value_e4",
        )
    )


def chained_window_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED time-window aggregations (two stateful operators in one
    streaming query): tumbling 1-hour counts per event_type, then a
    second windowed aggregation that rolls the CLOSED hourly windows up
    into 6-hour buckets via ``window_time`` — the hierarchical-rollup
    shape (minute→hour→day dashboards) that pre-Spark-3.4 engines had to
    split across two queries with an intermediate sink.

    Multiple stateful operators require APPEND mode, and append only
    emits windows the watermark has closed — so the source directory
    carries `_flushed_events_dir`'s far-future sentinel files, whose
    rows land in windows of their own (callers drop every bucket that
    starts after the real data's max timestamp, AFTER materialization).
    Scale shape: the hourly stage's state is 1 live window per (hour,
    type); the rollup stage consumes ~type-cardinality rows per closed
    hour — its input is the first stage's OUTPUT volume, orders of
    magnitude below event volume, which is exactly why chaining beats
    re-aggregating raw events at a coarser grain."""
    d, n_data = _flushed_events_dir(spark, sf_dir)
    hourly = (
        events_stream(spark, d, max_files_per_trigger=n_data)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("s"),
        )
    )
    return (
        hourly.groupBy(
            F.window(F.window_time("w"), "6 hours").alias("w6"), "event_type"
        )
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("s").cast("long").alias("sum_value_e4"),
        )
        .select(
            F.unix_timestamp(F.col("w6.start")).alias("w6_start_ts"),
            "event_type",
            "n_events",
            "sum_value_e4",
        )
    )


_SESSION_STATE_SCHEMA = "n LONG, total_e4 LONG"
_SESSION_OUT_SCHEMA = "user_id LONG, n_events LONG, total_value_e4 LONG"


def _update_user_state(
    key: Tuple[int],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful kernel: running (count, scaled-int sum) per user across
    triggers.  Each value scales to int64 ONCE (floor(v*1e4+0.5) — the
    same IEEE op sequence the batch oracle uses) and the running total
    accumulates integers, so the final state is independent of trigger
    boundaries and batch order; a running double total would drift with
    the incremental summation order."""
    import numpy as np

    n, total_e4 = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        v = pdf["value"].to_numpy(dtype="float64")
        total_e4 += int(np.floor(v * 10000.0 + 0.5).astype("int64").sum())
    state.update((n, total_e4))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value_e4": [total_e4]}
    )


def sessionized_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event count and value sum, emitted in update mode on every trigger.

    The state store shards by user_id — the standard scale pattern for
    billions of keys (RocksDB-backed state at cluster scale)."""
    ensure_udf_portability()
    return (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def deduped_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: two readStream copies of the events source
    are unioned (every event arrives twice — the kafka at-least-once /
    replay scenario) and ``dropDuplicatesWithinWatermark`` keeps the first
    occurrence per ``event_id``.

    The watermark bounds the dedup state: an id is remembered only until
    the watermark passes its event time, so state is O(events per watermark
    window) instead of O(all history) — the property that makes streaming
    dedup viable at cluster scale (RocksDB-backed state).  The duplicate
    copies here arrive in the same trigger, well inside any watermark, so
    the dedup is exact and the batch DISTINCT oracle must match."""
    doubled = events_stream(spark, sf_dir).unionByName(events_stream(spark, sf_dir))
    return doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def event_pair_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self-join: unordered pairs of events from the same
    user within ±2 minutes of each other (co-occurrence mining — the
    session-stitching / attribution-join shape).

    Both sides carry a watermark, so the join state retains each event only
    while the other stream's watermark can still produce a match (the
    time-interval condition gives Spark the exact state-eviction bound) —
    O(events per interval) state, the property that makes stream-stream
    joins viable at scale.  ``a.event_id < b.event_id`` keeps each
    unordered pair exactly once.

    Both sides project to (user_id, event_id, ts) BEFORE the watermark:
    the join state store serializes whole input rows, so carrying the
    payload columns (props is a free-text string) through the buffered
    state would multiply state I/O by the payload width — at scale the
    projected state is 24 bytes/row regardless of event width."""
    cols = ("user_id", "event_id", "ts")
    a = (
        events_stream(spark, sf_dir).select(*cols).alias("a")
        .withWatermark("ts", "10 minutes")
    )
    b = (
        events_stream(spark, sf_dir).select(*cols).alias("b")
        .withWatermark("ts", "10 minutes")
    )
    return a.join(
        b,
        F.expr(
            "a.user_id = b.user_id AND a.event_id < b.event_id "
            "AND b.ts >= a.ts - INTERVAL 2 MINUTES "
            "AND b.ts <= a.ts + INTERVAL 2 MINUTES"
        ),
    ).select(F.col("a.user_id").alias("user_id"))


def json_bucket_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semi-structured extraction: pull the typed ``k`` field out
    of the JSON ``props`` payload per micro-batch (``get_json_object`` is
    stream-legal — stateless row expression) and maintain bucketed counts.
    The aggregation state is keyed on (event_type, k_bucket) — a few dozen
    groups regardless of stream volume, the cheapest stateful shape."""
    return (
        events_stream(spark, sf_dir)
        .select(
            "event_type",
            # floor-consistent bucketing: Spark's `div` truncates toward zero
            # while DuckDB's `//` floors — they disagree on negative k.  The
            # double division + floor is the same IEEE op sequence in both.
            F.expr(
                "CAST(floor(CAST(get_json_object(props, '$.k') AS BIGINT)"
                " / 10.0e0) AS BIGINT)"
            ).alias("k_bucket"),
            "value",
        )
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # per-row scale to BIGINT, then integer sum: deterministic across
            # micro-batch incremental state updates AND vs the batch oracle
            # (FP summation order differs between the two otherwise)
            F.expr(
                "CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("sum_value_e4"),
        )
    )


#: deterministic event geolocation: user_id → lon/lat (same spacing scheme
#: as the customer grid — a stand-in for a device-location column)
EVENT_LON_SQL = "(user_id * 9973 % 3600) / 10.0 - 180.0"
EVENT_LAT_SQL = "(user_id * 7919 % 1200) / 10.0 - 60.0"


def spatial_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC spatial join: the events stream, geolocated per user,
    joined `within` the static broadcast nation rectangles through the SAME
    spatial_join operator the batch queries use — the plan compiles
    unchanged because the broadcast side is static and the predicate path
    adds no per-row ids or stream-illegal expressions (stream-static inner
    joins are stateless: no watermark needed, each micro-batch joins
    against the broadcast table and emits).

    Output (streaming): (event_id, nat_key) append rows.
    """
    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        spatial_join,
    )
    from spark_ml_spatialjointransformer_spark.plans.config import (
        PointColumns,
        SideConfig,
        SpatialJoinPlan,
    )
    from spark_ml_spatialjointransformer_spark.sources.tables import nations_rect

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    pts = ev.select(
        "event_id",
        F.expr(EVENT_LON_SQL).alias("lon"),
        F.expr(EVENT_LAT_SQL).alias("lat"),
    )
    plan = SpatialJoinPlan(
        predicate="within",
        external_side=SideConfig(wkt_column="wkt"),
        input_side=SideConfig(point_columns=PointColumns("lon", "lat")),
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=False,  # the stream must be the iterated side
    )
    return spatial_join(pts, nations_rect(spark, sf_dir), plan).select(
        "event_id", "nat_key"
    )


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame over all currently-available input and
    return the materialized result (memory sink).

    State-partition sizing: a stateful operator's partition count binds to
    ``spark.sql.shuffle.partitions`` at FIRST query start (it persists in
    the checkpoint for the app's life), and every micro-batch pays a fixed
    per-partition state-store maintenance cost — so partitions should be
    sized to steady-state stream volume, not the batch session default.
    This local harness binds ``max(4, defaultParallelism // 8)`` for the
    query's duration (measured on the stream-stream join: 32 → 8 state
    partitions nearly halves wall time at sf0.1; an r8 interleaved A/B at
    8-vs-4 then took the outer join 7.1 → 5.5 s and the chained windows
    5.2 → 4.2 s best-of-3 with the stream-stream join unchanged — each
    state partition costs per-micro-batch store maintenance whether or
    not it holds data); cluster deployments set their own
    ``spark.sql.shuffle.partitions`` before the first start.

    No-data micro-batches are disabled for the query's duration: their
    only purpose is to apply a watermark advanced by the LAST data batch
    (emit closed windows / evict join state) when no further data will
    do it — but every append-mode query here routes watermark
    advancement through real data batches by construction
    (`_flushed_events_dir`'s ``n_data + 1`` far-future sentinels span
    two post-data triggers: the first advances the watermark, the second
    applies it), and update/complete-mode queries emit on data batches
    regardless.  The trailing no-data batch still paid the full
    per-batch price — incremental planning plus a state-store commit per
    (operator, partition): the r11 profile measured it at 1.08 s of
    e6's 4.4 s and 0.6-0.8 s of e15/e17 (`plans/r11/` notes).  On an
    endless production stream the same flag is a latency choice, not a
    correctness one; for a run-to-completion replay the batch is pure
    fixed cost.  Oracle-gated: the full e-family passes its DuckDB
    oracles at sf0.001 and sf0.01 with the flag off."""
    spark = sdf.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndm = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    state_parts = max(4, spark.sparkContext.defaultParallelism // 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            sdf.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        # the started query captured the conf; the batch session gets its
        # settings back immediately
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndm
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


# ---------------------------------------------------------------------------
# streaming KMV distinct-count sketch: bounded state (k longs per group)
# ---------------------------------------------------------------------------

#: must match queries._KMV_K so the stream's final state equals batch t30
KMV_K = 128
_KMV_STATE_SCHEMA = "ks ARRAY<LONG>, n_seen LONG"
_KMV_OUT_SCHEMA = "source STRING, n_seen LONG, est_kmv LONG"


def _update_kmv_state(
    key: Tuple[str],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful KMV kernel: state is the k smallest DISTINCT 60-bit hashes
    seen so far (plus a monotone processed-row counter).  The merge —
    k-smallest of (state ∪ batch) — is the standard KMV union, so the
    final state is independent of trigger boundaries and arrival order,
    and equals the batch sketch exactly.  State is k longs per group no
    matter how much data streams through: the bounded-state property that
    makes sketches the 100 TB answer to streaming COUNT(DISTINCT)."""
    if state.exists:
        ks, n_seen = list(state.get[0]), int(state.get[1])
    else:
        ks, n_seen = [], 0
    s = set(ks)
    for pdf in batches:
        vals = pdf["g"].to_numpy(dtype="int64")
        n_seen += len(vals)
        s.update(int(v) for v in vals)
        if len(s) > 4 * KMV_K:  # keep the working set bounded per batch
            s = set(sorted(s)[:KMV_K])
    ks = sorted(s)[:KMV_K]
    state.update((ks, n_seen))
    if len(ks) >= KMV_K:
        est = (KMV_K - 1) * (1 << 53) // (ks[KMV_K - 1] >> 7)
    else:
        est = len(ks)  # fewer than k distinct seen: the sketch IS exact
    yield pd.DataFrame(
        {"source": [key[0]], "n_seen": [n_seen], "est_kmv": [est]}
    )


def kmv_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-trigram estimate per source via a stateful KMV
    sketch (applyInPandasWithState).  Trigrams hash to 60-bit longs BEFORE
    the keyed shuffle (strings never enter the state store), and each
    group's state is k longs — a streaming COUNT(DISTINCT) whose memory
    is constant in stream length."""
    from spark_ml_spatialjointransformer_spark.functions.hashing import h60_col

    ensure_udf_portability()
    d = _as_stream_dir(spark, f"{sf_dir}/documents.parquet")
    batch_schema = spark.read.parquet(d).schema
    docs = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    toks = F.split(F.trim(F.col("text")), " ")
    tri = (
        docs.select("source", toks.alias("__ts"))
        .where(F.size("__ts") >= 3)
        .select(
            "source",
            F.explode(F.sequence(F.lit(1), F.size("__ts") - 2)).alias("i"),
            "__ts",
        )
        .select(
            "source",
            h60_col(F.concat_ws(" ", F.slice("__ts", F.col("i"), 3))).alias("g"),
        )
    )
    return tri.groupBy("source").applyInPandasWithState(
        _update_kmv_state,
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_window_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) as a STREAMING
    plan via Spark's native ``session_window`` — the incremental twin of
    batch e4.  The session-window state store keeps one open session per
    (user, session) and MERGES adjacent sessions when a new event bridges
    two previously-separate windows across micro-batches, which is exactly
    the semantics the batch lag+cumsum formulation computes in one pass.

    Scale shape: state shards by user_id; in production this runs in
    update/append mode with a watermark so closed sessions evict
    (state = open sessions only, not all history).  This harness drives
    the finite file stream in complete mode so the final state equals the
    batch answer and the e4 oracle must match bit-for-bit — per-row values
    scale to BIGINT before the sum, so incremental state merges cannot
    reorder an FP summation."""
    return (
        events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("sum_value_e4"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "sum_value_e4",
        )
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters: per-language top-3 tokens from stateful counts
# ---------------------------------------------------------------------------

_HH_STATE_SCHEMA = "toks ARRAY<STRING>, cnts ARRAY<LONG>, n_seen LONG"
_HH_OUT_SCHEMA = "lang STRING, token STRING, cnt LONG, rank INT, n_seen LONG"


def _update_hh_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        toks, cnts, n_seen = state.get
        counts = dict(zip(toks, cnts))
    else:
        counts, n_seen = {}, 0
    for pdf in pdfs:
        vc = pdf["w"].value_counts()  # vectorized; loop is vocab-sized
        n_seen += int(vc.sum())
        for tok, c in vc.items():
            counts[tok] = counts.get(tok, 0) + int(c)
    state.update((list(counts.keys()), list(counts.values()), n_seen))
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    yield pd.DataFrame(
        {
            "lang": [key[0]] * len(top),
            "token": [t for t, _ in top],
            "cnt": [c for _, c in top],
            "rank": list(range(1, len(top) + 1)),
            "n_seen": [n_seen] * len(top),
        }
    )


def heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-language heavy hitters (top-3 tokens, ties by token)
    via a stateful token-count map per language — the incremental twin of
    batch t22.  Each trigger re-emits the group's current top-3 with a
    monotone ``n_seen`` cursor so the caller keeps the final snapshot.

    State here is the EXACT per-language vocabulary map (vocab-bound, not
    corpus-bound — same bound as t22's aggregation).  At 100 TB the exact
    map becomes a space-saving/Misra-Gries summary with a fixed capacity:
    identical plan shape, bounded error, the standard streaming top-k
    trade; the fixture-scale exact map is what makes the batch oracle
    checkable."""
    ensure_udf_portability()
    d = _as_stream_dir(spark, f"{sf_dir}/documents.parquet")
    batch_schema = spark.read.parquet(d).schema
    docs = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    tok = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    return tok.groupBy("lang").applyInPandasWithState(
        _update_hh_state,
        outputStructType=_HH_OUT_SCHEMA,
        stateStructType=_HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: asof_enrich_stream ships (4 int64s per dim row) to every executor; at
#: 5M rows that is ~160 MiB of broadcast — the practical ceiling before
#: the batch union-merge as-of over micro-batch snapshots takes over.
ASOF_MAX_DIM_ROWS = 5_000_000


def asof_enrich_stream(
    events: DataFrame,
    dim_rows,
    out_schema: str = (
        "event_id LONG, user_id LONG, order_key LONG, total_e2 LONG"
    ),
    max_dim_rows: int = ASOF_MAX_DIM_ROWS,
) -> DataFrame:
    """Streaming point-in-time enrichment: each streamed event picks the
    dimension row with the greatest timestamp ≤ its own (per key) — the
    as-of lookup every online feature store performs at serving time.

    ``dim_rows`` is the already-deduplicated dimension — either a
    DataFrame with columns ``(user_id, ts_us, order_key, total_e2)`` or
    pre-collected driver rows of the same shape; it broadcasts as per-key
    sorted numpy arrays and every micro-batch resolves its events with a
    vectorized ``searchsorted`` per key — STATELESS (no state store at
    all: the dimension is static, so no watermark, no eviction, append
    mode), zero shuffle, partition-preserving.  The same memory contract
    as every broadcast dimension in this engine; a dimension too big to
    broadcast falls back to the batch union-merge as-of
    (operators/temporal.py) over micro-batch snapshots.

    The size guard is ENFORCED here, and stays driver-safe by
    construction when a DataFrame is passed: the transfer runs through
    ``limit(max_dim_rows + 1)`` — the limit executes distributed, so the
    driver never receives more than the bound plus one row no matter how
    big the dimension is, and one surplus row is proof of violation.
    (The previous shape — persist → count → collect — was equally safe
    but paid a second job plus the persist; r11 measured the count job
    alone at 1.4 s warm at sf0.1, more than the entire stream.)"""
    import numpy as np

    if isinstance(dim_rows, DataFrame):
        # Arrow transfer + columnar pack (r11): the old
        # `[tuple(r) for r in collect()]` built one Row object per
        # dimension row and the packing loop re-sorted a Python list per
        # key (guide §5: the driver should do almost no data work; §6:
        # Arrow for driver transfers).
        pdf = dim_rows.limit(max_dim_rows + 1).toPandas()
        if len(pdf) > max_dim_rows:
            raise ValueError(
                f"asof_enrich_stream: dimension exceeds the broadcast "
                f"bound of {max_dim_rows} rows. A dimension this large "
                "should not broadcast — run the batch union-merge as-of "
                "(operators/temporal.py:asof_join) over micro-batch "
                "snapshots instead."
            )
        arr = pdf.to_numpy(dtype=np.int64)
    else:
        if len(dim_rows) > max_dim_rows:
            raise ValueError(
                f"asof_enrich_stream: dimension has {len(dim_rows)} rows, "
                f"above the broadcast bound of {max_dim_rows}. A dimension "
                "this large should not broadcast — run the batch "
                "union-merge as-of (operators/temporal.py:asof_join) over "
                "micro-batch snapshots instead."
            )
        arr = np.array(list(dim_rows), dtype=np.int64).reshape(-1, 4)
    spark = events.sparkSession
    # sort by (uid, ts, okey, tot) — identical tie order to the former
    # per-user list sort — then broadcast FLAT contiguous columns plus a
    # sorted uid index (a dict of ~3 tiny arrays per key pickled in
    # O(keys) numpy-array overheads: 0.39 s vs 0.03 s flat at sf0.1)
    if len(arr):
        arr = arr[np.lexsort((arr[:, 3], arr[:, 2], arr[:, 1], arr[:, 0]))]
    uids, starts = np.unique(arr[:, 0], return_index=True)
    bounds = np.append(starts, len(arr))
    ts_c = np.ascontiguousarray(arr[:, 1])
    key_c = np.ascontiguousarray(arr[:, 2])
    tot_c = np.ascontiguousarray(arr[:, 3])
    bc = spark.sparkContext.broadcast((uids, bounds, ts_c, key_c, tot_c))

    def gen(batches):
        import numpy as np  # executor-side body

        d_uids, d_bounds, d_ts, d_key, d_tot = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf[["event_id", "user_id"]].copy()
            # nullable Int64, NOT NaN-filled float64: int64 keys above 2^53
            # would silently round through a double
            okey = np.zeros(len(pdf), dtype=np.int64)
            tot = np.zeros(len(pdf), dtype=np.int64)
            found = np.zeros(len(pdf), dtype=bool)
            ts = pdf["ts_us"].to_numpy(dtype=np.int64)
            uid = pdf["user_id"].to_numpy(dtype=np.int64)
            # sort-based grouping: the former `uid == u` mask per unique
            # user made each batch O(rows · users); sorting once makes it
            # O(rows log rows) with a cheap slice per present user (r11)
            order = np.lexsort((ts, uid))
            uid_s, ts_s = uid[order], ts[order]
            uq, ustart = np.unique(uid_s, return_index=True)
            uend = np.append(ustart[1:], len(uid_s))
            pos = np.searchsorted(d_uids, uq)
            pos_c = np.minimum(pos, max(len(d_uids) - 1, 0))
            present = (
                np.zeros(len(uq), dtype=bool)
                if len(d_uids) == 0
                else d_uids[pos_c] == uq
            )
            for j in np.nonzero(present)[0]:
                s, e = d_bounds[pos[j]], d_bounds[pos[j] + 1]
                idx = (
                    np.searchsorted(d_ts[s:e], ts_s[ustart[j]:uend[j]],
                                    side="right") - 1
                )
                hit = idx >= 0
                rows = order[ustart[j]:uend[j]][hit]
                okey[rows] = d_key[s:e][idx[hit]]
                tot[rows] = d_tot[s:e][idx[hit]]
                found[rows] = True
            miss = ~found
            out["order_key"] = pd.arrays.IntegerArray(okey, mask=miss.copy())
            out["total_e2"] = pd.arrays.IntegerArray(tot, mask=miss.copy())
            yield out

    ev = events.select(
        "event_id",
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("ts_us"),
    )
    return ev.mapInPandas(gen, out_schema)


# ---------------------------------------------------------------------------
# outer stream-stream join: watermark-driven NULL emission for no-shows
# ---------------------------------------------------------------------------


def _src_data_signature(path: str) -> tuple:
    import os

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    else:
        files = [path]
    return tuple(
        (f, st.st_size, st.st_mtime) for f in files for st in (os.stat(f),)
    )


def _flushed_events_dir(spark: SparkSession, path: str) -> "tuple[str, int]":
    """Build (once per session and source generation) a stream directory
    holding the events parquet plus ``n_data + 1`` tiny WATERMARK-FLUSH
    files; return (dir, number of data files).

    An outer stream-stream join only emits its NULL rows when the
    watermark passes a buffered row's last-possible-match time — on an
    endless production stream later traffic does that for free, but a
    replayed finite file would leave every no-show row stuck in the state
    store forever.  The flush files are that missing later traffic: one
    sentinel row PER JOIN-SIDE EVENT TYPE (the per-side ``event_type``
    filters push down into the parquet scan, so a sentinel of a type
    neither side reads would be pruned before it ever reached the
    watermark node — measured, not theoretical) with ``user_id = -1``
    (matches nothing) at max(ts)+1d, +2d, ...  All flush files are
    mtime-ordered after every data file, and there are ``n_data + 1`` of
    them so that with ``maxFilesPerTrigger = n_data`` they always span at
    least TWO post-data triggers: the first flush batch advances the
    watermark past everything, the second applies it (evicts state,
    emits the NULL rows) — null emission never depends on the engine
    scheduling a trailing no-data micro-batch (the run-to-completion
    harness disables those; r11).  For the single-data-file case this is
    the same two sentinels as before.

    A multi-file source (a Spark-written dataset directory) symlinks each
    part file individually: the caller must ingest ALL data files in the
    FIRST trigger (`maxFilesPerTrigger` = the returned count) — part
    files are row-sliced, not time-sliced, so replaying them across
    several triggers would late-drop whichever slices batch after the
    watermark first advances.

    The directory lives in the session's scratch root and is named by the
    source path and its data-file signature (every file's name, size and
    mtime): a regenerated source gets a fresh directory.  It is built
    under a temporary name and renamed into place, so an existing one is
    complete, and repeat calls (e15/e17) skip the max-ts scan job."""
    import hashlib
    import os
    import shutil
    import tempfile

    sig = _src_data_signature(path)
    key = hashlib.md5(repr((path, sig)).encode()).hexdigest()[:16]
    d = scratch_dir(spark, f"sjt_stream_oj_{key}")
    if os.path.isdir(d):
        return d, len(sig)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base = spark.read.parquet(path)
    schema = base.schema
    ts_long = isinstance(schema["ts"].dataType, T.LongType)
    mx = base.agg(F.max("ts")).first()[0]
    build = tempfile.mkdtemp(prefix=".build_", dir=os.path.dirname(d))
    for f, _, _ in sig:
        os.symlink(f, os.path.join(build, os.path.basename(f)))
    data_mtime = max(mtime for _, _, mtime in sig)
    day_ns = 86_400 * 10**9
    for i in range(1, len(sig) + 2):
        dest = os.path.join(build, f"flush{i}.parquet")
        if ts_long:  # legacy nanos-as-long encoding
            fts = int(mx) + i * day_ns
        else:
            from datetime import timedelta

            fts = mx + timedelta(days=i)
        rows = []
        for k, kind in enumerate(("click", "purchase")):
            vals = {
                "event_id": -(i * 2 + k),
                "ts": fts,
                "user_id": -1,
                "event_type": kind,
            }
            rows.append(tuple(vals.get(f.name) for f in schema.fields))
        tmp = dest + ".tmp"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        os.replace(os.path.join(tmp, part), dest)
        shutil.rmtree(tmp)
        # deterministic processing order: the file source batches by
        # mtime, so pin each flush file strictly AFTER every data file
        # (resolved through the symlinks) — flush-before-data would replay
        # the data against the sentinel-advanced watermark and late-drop
        # every real row
        os.utime(dest, (data_mtime + 10 * i, data_mtime + 10 * i))
    os.rename(build, d)
    return d, len(sig)


def click_attribution_stream(
    spark: SparkSession,
    path: str,
    window_minutes: int = 120,
    delay: str = "10 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click either pairs
    with the same user's purchase(s) within the next ``window_minutes``
    or — once the watermark proves no purchase can still arrive — emits
    exactly once with NULLs (the abandoned-session / no-conversion row
    that an inner join like e6 silently drops).

    The time bound gives Spark the state-eviction rule on BOTH sides
    (each side holds only ``window + delay`` of traffic), and the NULL
    rows are emitted by state eviction itself — the part of the outer
    join that is genuinely streaming-specific, exercised here via the
    flush-sentinel mechanism of `_flushed_events_dir` (callers filter
    the ``user_id < 0`` sentinel rows AFTER materialization: a filter
    inside the streaming plan would be pushed down into the scan and
    starve the watermark of the very rows that advance it).

    Both sides project to 24-byte rows before the watermark — the join
    state store serializes whole rows, so payload width is state I/O."""
    d, n_data = _flushed_events_dir(spark, path)
    raw = events_stream(spark, d, max_files_per_trigger=n_data)
    a = (
        raw.where(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
        .alias("a")
        .withWatermark("ts", delay)
    )
    b = (
        raw.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .alias("b")
        .withWatermark("p_ts", delay)
    )
    return a.join(
        b,
        F.expr(
            "user_id = p_user AND p_ts >= ts "
            f"AND p_ts <= ts + INTERVAL {int(window_minutes)} MINUTES"
        ),
        "leftOuter",
    )


def latest_state_upsert_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """foreachBatch idempotent MERGE sink: maintain a "latest event per
    user" state table across micro-batches — the streaming-upsert /
    CDC-apply pattern (the streaming twin of d9's batch MERGE).  Each
    micro-batch reduces to its per-user argmax (max_by on the unique
    (ts_us, event_id) order), full-outer-merges with the accumulated
    state, and writes a NEW versioned parquet snapshot; the version
    pointer only advances after a successful write, which is exactly the
    write-new-then-swap move that makes the sink idempotent under batch
    replay (a re-run of batch k rewrites v(k) identically and re-swaps —
    at-least-once delivery converges to the same table).  max is
    associative, so the final state is independent of how the input was
    split into micro-batches — the property the batch oracle checks.

    At 100 TB this is MERGE INTO a keyed table (Delta/Iceberg) per
    batch — state shuffles on user_id only; here the snapshot rewrite
    stands in for the transactional format the container lacks.

    Returns the FINAL state table as a batch DataFrame:
    (user_id, ts_us, event_id, event_type, value_e4).
    """
    import hashlib
    import shutil

    base = scratch_dir(
        spark, "sjt_upsert_" + hashlib.md5(events_path.encode()).hexdigest()[:12]
    )
    shutil.rmtree(base, ignore_errors=True)

    cols = ["user_id", "ts_us", "event_id", "event_type", "value_e4"]
    arg = F.struct("ts_us", "event_id", "event_type", "value_e4")

    def reduce_latest(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(F.max(arg).alias("__s")).select(
            "user_id", "__s.ts_us", "__s.event_id", "__s.event_type",
            "__s.value_e4",
        )

    current: list[str] = []  # [path of the live snapshot], empty before v0

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        upd = reduce_latest(batch_df)
        if current:
            state = batch_df.sparkSession.read.parquet(current[0])
            upd = reduce_latest(state.unionByName(upd))
        out = f"{base}/v{batch_id}"
        upd.write.mode("overwrite").parquet(out)
        current.clear()
        current.append(out)

    ev = events_stream(spark, events_path).select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("ts_us"),
        "event_id",
        "event_type",
        F.expr("CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)").alias(
            "value_e4"
        ),
    )
    q = ev.writeStream.outputMode("append").foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if not current:  # empty source: no batch ever fired
        return spark.createDataFrame([], "user_id LONG, ts_us LONG, "
                                         "event_id LONG, event_type STRING, "
                                         "value_e4 LONG")
    return spark.read.parquet(current[0]).select(*cols)


def bloom_decontaminated_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination with a Bloom pre-prune: events whose
    user_id sits on a denylist must be dropped from the live aggregate.
    The fast lane tests each micro-batch row against a broadcast 128 KiB
    Bloom bitmap (vectorized Arrow kernel — `operators/bloom.py`, the same
    filter the batch t31 path uses); definite non-members skip the join
    entirely, and only Bloom-positive rows (the denylist and its ~1% false
    positives) take the EXACT stream-static left join that confirms or
    clears them.  False negatives are impossible, so the stream's final
    per-type totals must equal the batch anti-join oracle hash-for-hash.

    Scale shape: the denylist collect is bounded by the user dimension
    (ids only, with an explicit guard) and builds a constant-size bitmap;
    the per-batch cost is one Arrow pass + a broadcast join probed by
    ~denylist-rate of the stream, not by the stream itself."""
    from spark_ml_spatialjointransformer_spark.operators.bloom import (
        bloom_member_col,
    )

    ensure_udf_portability()
    d = _as_stream_dir(spark, sf_dir)
    bad = (
        spark.read.parquet(d)
        .select("user_id")
        .where(F.col("user_id") % 11 == 0)
        .distinct()
    )
    bad_ids = [r[0] for r in bad.collect()]
    if len(bad_ids) > 2_000_000:  # ids-only dimension; loud past ~16 MB
        raise ValueError(
            f"bloom_decontaminated_stream: denylist {len(bad_ids)} ids "
            "exceeds the driver build bound — build the bitmap "
            "distributed (treeAggregate over partitions) instead"
        )
    member = bloom_member_col(spark, bad_ids)

    ev = events_stream(spark, sf_dir).withColumn(
        "__maybe", member(F.col("user_id"))
    )
    clean_fast = ev.where(~F.col("__maybe"))
    confirmed = (
        ev.where(F.col("__maybe"))
        .join(bad.withColumn("__bad", F.lit(1)), "user_id", "left_outer")
        .where(F.col("__bad").isNull())
        .drop("__bad")
    )
    kept = clean_fast.unionByName(confirmed)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT))"
            " AS BIGINT)"
        ).alias("sum_value_e4"),
    )


#: e22 throttle: admit at most N events per (user, UTC day)
THROTTLE_N = 3
_THROTTLE_OUT_SCHEMA = "user_id LONG, win_ts LONG, event_id LONG, rn LONG"
#: per-USER state: the newest window seen and its admitted count — keying
#: the state store by user (1.5k groups at sf0.1) instead of
#: (user, window) (46k groups) cut the query 40 s -> ~2 s: the cost of
#: applyInPandasWithState is per-GROUP Python invocation, not per-row,
#: so the key choice IS the performance knob (e3's lesson, re-measured)
_THROTTLE_STATE_SCHEMA = "win_ts LONG, n LONG"


def _throttle_first_n(
    key: Tuple[int],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful kernel: admit the first THROTTLE_N events per (user, UTC
    day), all of a user's windows vectorized in ONE pandas pass (sort by
    event time, per-window cumcount, cap) — the state carries only the
    NEWEST window's admitted count across triggers, because with
    event-time-ordered replay only that window can continue into the
    next trigger.  A trigger delivering rows for an already-closed
    OLDER window would restart that window's quota — the documented
    caveat class of e20's no-watermark note (the file-replay harness
    keeps each user's rows inside one trigger; production keys a TTL'd
    map state by window via transformWithState)."""
    win_last, n_last = state.get if state.exists else (-1, 0)
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = (
            pd.concat(chunks, ignore_index=True)
            .sort_values(["ts", "event_id"])
            .reset_index(drop=True)
        )
        carry = (pdf["win_ts"].to_numpy() == win_last) * n_last
        rn = pdf.groupby("win_ts").cumcount().to_numpy() + 1 + carry
        admit = rn <= THROTTLE_N
        lw = int(pdf["win_ts"].iloc[-1])
        in_lw = int((pdf["win_ts"].to_numpy() == lw).sum())
        n_new = min(THROTTLE_N, (n_last if win_last == lw else 0) + in_lw)
        state.update((lw, n_new))
        if admit.any():
            take = pdf.loc[admit]
            yield pd.DataFrame(
                {
                    "user_id": take["user_id"].to_numpy(),
                    "win_ts": take["win_ts"].to_numpy(),
                    "event_id": take["event_id"].to_numpy(),
                    "rn": rn[admit],
                }
            )
    else:
        state.update((win_last, n_last))


def throttled_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rate limiter: at most THROTTLE_N events per user per
    UTC day, first-come in event time, emitted in append mode —
    the per-key quota/sampling-cap operator every ingestion pipeline
    fronts its expensive stages with (downstream work becomes
    O(keys*N), not O(events)).

    State shards by USER — one (window, count) pair per user, NOT one
    entry per (user, window): the newest-window count is all that can
    carry across triggers under event-time-ordered replay, so state is
    O(users), windows expire implicitly as newer ones arrive, and the
    group count (= state-store key count = Python invocations per
    trigger) stays 30x smaller than the (user, window) keying this
    shipped with first (40 s -> ~2 s at sf0.1)."""
    ensure_udf_portability()
    ev = events_stream(spark, sf_dir).select(
        "user_id",
        F.expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT) * 86400").alias(
            "win_ts"
        ),
        "event_id",
        "ts",
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _throttle_first_n,
        outputStructType=_THROTTLE_OUT_SCHEMA,
        stateStructType=_THROTTLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: e23 anomaly gate: minimum PRIOR history before an event can be judged,
#: and the sigma multiple (3) squared for the integer comparison.
ZSCORE_MIN_N = 5
_ZSCORE_K2 = 9
_ZSCORE_OUT_SCHEMA = "user_id LONG, event_id LONG, v_c LONG, n_prior LONG"
#: per-USER running moments of admitted history: count, sum(cents),
#: sum(cents^2) — three int64s, the whole anomaly model
_ZSCORE_STATE_SCHEMA = "n LONG, s LONG, q LONG"


def _zscore_flag(
    key: Tuple[int],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful kernel: flag an event whose value-in-cents deviates from
    the running mean of the user's PRIOR events by more than 3 sigma,
    judged integer-exactly by cross-multiplication —
    (n*x - S)^2 > 9*(n*Q - S^2) with S/Q the prior sum / sum-of-squares
    — so the streaming verdict is bit-identical to the batch window
    formulation (no float variance anywhere).  Each trigger's rows sort
    by (ts, event_id) and fold onto the carried moments with one numpy
    prefix-sum pass; the state is exactly three int64s per user.
    Overflow bound: |n*x| must stay below ~3e9 (n = per-user event
    count, x = cents), i.e. ~54k events/user at this data's value
    range — past that, widen the comparison to DECIMAL(38) or split
    the history into decayed epochs."""
    import numpy as np

    n, s, q = state.get if state.exists else (0, 0, 0)
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = (
            pd.concat(chunks, ignore_index=True)
            .sort_values(["ts", "event_id"])
            .reset_index(drop=True)
        )
        v = pdf["v_c"].to_numpy(dtype="int64")
        cn = n + np.arange(len(v), dtype="int64")
        cs = s + np.concatenate(([0], np.cumsum(v)[:-1]))
        cq = q + np.concatenate(([0], np.cumsum(v * v)[:-1]))
        lhs = (cn * v - cs) ** 2
        rhs = _ZSCORE_K2 * (cn * cq - cs * cs)
        flag = (cn >= ZSCORE_MIN_N) & (lhs > rhs)
        state.update(
            (int(n + len(v)), int(s + v.sum()), int(q + (v * v).sum()))
        )
        if flag.any():
            take = pdf.loc[flag]
            yield pd.DataFrame(
                {
                    "user_id": take["user_id"].to_numpy(),
                    "event_id": take["event_id"].to_numpy(),
                    "v_c": take["v_c"].to_numpy(),
                    "n_prior": cn[flag],
                }
            )
    else:
        state.update((n, s, q))


def zscore_anomaly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detector: per-user running-moments (Welford-
    class, but integer cross-multiplied) 3-sigma flag over the event
    value stream — the quality-monitor operator an ingestion pipeline
    runs AHEAD of training-data collection (spot a sensor/source going
    wild the trigger it happens, not at batch close).  e13 finds heavy
    KEYS and e21 builds value HISTOGRAMS; this is the per-event verdict
    against each key's own history, which neither can express.

    State shards by user: three int64s (count, sum, sum-of-squares) —
    no window, no eviction problem, O(users) state forever.  Same
    event-time-ordered-replay caveat class as e20/e22: a trigger
    delivering rows older than already-folded history would judge them
    against moments that include their future; the file-replay harness
    keeps each user's rows in ts order, production fronts this with a
    watermarked sort or accepts the approximation (anomaly thresholds
    are heuristic by nature)."""
    ensure_udf_portability()
    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)").alias("v_c"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _zscore_flag,
        outputStructType=_ZSCORE_OUT_SCHEMA,
        stateStructType=_ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: e24 funnel: emitted once per user at the FIRST purchase at-or-after
#: the user's first view
_FUNNEL_OUT_SCHEMA = (
    "user_id LONG, purchase_event LONG, delay_min LONG"
)
#: per-USER state: earliest view ts (μs, -1 = none yet) and the
#: emitted-once latch — two int64s, O(users) forever
_FUNNEL_STATE_SCHEMA = "v_us LONG, done LONG"


def _funnel_convert(
    key: Tuple[int],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful kernel: ordered two-step funnel (view → purchase) judged
    per user as events arrive — the trigger a purchase lands AT OR
    AFTER the user's first view, emit ONE conversion row with the
    whole-minute delay and latch.  The view floor folds first (min
    over carried + this trigger's views), THEN purchases are screened
    against it with ``ts >= v_us`` regardless of their position in the
    trigger — so a purchase and its qualifying view landing in the
    same trigger convert exactly like the batch formulation
    (d5's ``e.ts >= v.v_ts``), including the equal-timestamp tie.
    Delay is integer microsecond arithmetic truncated to minutes
    (non-negative by the screen, so div/floor agree — d5's rule).
    Cross-trigger equal-ts ties share e20/e22/e23's ordered-replay
    caveat: a purchase replayed in an EARLIER trigger than its
    equal-ts view is judged before the view exists."""
    import numpy as np

    v_us, done = state.get if state.exists else (-1, 0)
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = (
            pd.concat(chunks, ignore_index=True)
            .sort_values(["t_us", "event_id"])
            .reset_index(drop=True)
        )
        is_v = (pdf["event_type"] == "view").to_numpy()
        if is_v.any():
            bv = int(pdf.loc[is_v, "t_us"].min())
            v_us = bv if v_us < 0 else min(v_us, bv)
        if not done and v_us >= 0:
            t = pdf["t_us"].to_numpy(dtype="int64")
            hit = (pdf["event_type"] == "purchase").to_numpy() & (t >= v_us)
            if hit.any():
                # first hit in (t_us, event_id) order — pdf is sorted
                i = int(np.flatnonzero(hit)[0])
                done = 1
                yield pd.DataFrame(
                    {
                        "user_id": [int(key[0])],
                        "purchase_event": [int(pdf["event_id"].iloc[i])],
                        "delay_min": [int((int(t[i]) - v_us) // 60_000_000)],
                    }
                )
    state.update((int(v_us), int(done)))


def funnel_conversion_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered-funnel detector: for every user, emit ONE row
    the moment their first 'purchase' at-or-after their first 'view'
    arrives — the real-time conversion/attribution operator whose
    batch twin is d5 (which also reports the non-converted; append
    mode can only ever emit the conversions, the streamable half).
    e12/e20 sessionize and e23 judges values; this is ORDER pattern
    matching across event types, which no built-in streaming
    aggregate expresses.

    State shards by user and is exactly two int64s (first-view ts +
    emitted latch) — O(users) forever, no window, no eviction
    pressure; only (type, id, μs) columns enter the group shuffle."""
    ensure_udf_portability()
    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _funnel_convert,
        outputStructType=_FUNNEL_OUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
