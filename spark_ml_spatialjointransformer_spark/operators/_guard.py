"""Small-input parallelism guard shared by the shuffle-heavy operators.

A tiny local parquet collapses to 1-2 input splits, serializing the
operator's Arrow UDF / explode stages on one core.  At cluster scale the
scan already yields >= defaultParallelism splits and the guard is a no-op.

The probe is SCHEMA/STATS-ONLY: it reads the optimized logical plan's size
estimate (driver-side Catalyst statistics — for a parquet relation this is
the file footprint scaled by column pruning) and compares it against what
``defaultParallelism`` splits of ``spark.sql.files.maxPartitionBytes`` would
hold.  No plan→RDD conversion ever happens at plan-build time (the previous
``df.rdd.getNumPartitions()`` probe forced one per query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: parquet's default maxPartitionBytes, used when the conf value does not
#: parse
_DEFAULT_MAX_SPLIT = 128 * 1024 * 1024


def _max_partition_bytes(spark) -> int:
    """``spark.sql.files.maxPartitionBytes`` through the PUBLIC conf API
    (Connect-portable; the value may carry a byte-unit suffix), falling
    back to the parquet default when unset/unparseable."""
    raw = str(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    ).strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3}
    try:
        if raw.endswith("b"):
            raw = raw[:-1]
        if raw and raw[-1] in units:
            return int(float(raw[:-1]) * units[raw[-1]])
        return int(raw)
    except ValueError:
        return _DEFAULT_MAX_SPLIT


def estimated_plan_bytes(df: DataFrame) -> int | None:
    """Driver-side Catalyst size estimate of ``df`` (optimized logical plan
    stats — for a parquet relation the file footprint scaled by pruning);
    ``None`` when no estimate is available (callers should assume BIG and
    take their distributed path — never the collect/broadcast one)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff its estimated scan
    size cannot produce that many input splits; identity otherwise, and
    when no estimate is available (assume big, do not add a shuffle)."""
    size = estimated_plan_bytes(df)
    if size is None:
        return df
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if size < par * _max_partition_bytes(spark):
        return df.repartition(par)
    return df
