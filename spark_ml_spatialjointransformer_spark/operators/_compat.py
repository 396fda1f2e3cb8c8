"""Backend-portability shims shared by the iterative/multi-reader operators.

The engine truncates plan lineage wherever (a) an iterative loop would
otherwise grow the logical plan each round (graph algorithms, kNN radius
expansion, Hash-Min closure) or (b) one expensive sub-plan (an LSH
signature UDF, a parsed-feature pass) is referenced by several downstream
readers and must compute once.  On classic Spark the cheapest barrier is
``DataFrame.localCheckpoint`` — executor-local block storage, no lineage.
Spark Connect sessions (and any backend where the call is unsupported)
raise instead; these wrappers fall back to ``persist()``, which has the
same compute-once / lineage-cut effect through the block manager at the
cost of keeping the lineage object graph alive.

Two hardening rules (round-11):

- Only UNSUPPORTED-operation errors trigger the fallback
  (``PySparkNotImplementedError`` / ``NotImplementedError`` /
  ``AttributeError`` for a missing method / ``AnalysisException`` from a
  Connect server that rejects the plan).  A *transient* classic-Spark
  failure — a job error during eager materialization, an executor loss
  (``Py4JJavaError``) — propagates to the caller instead of silently
  degrading to ``persist()`` and re-running the whole subtree, which
  would mask the original error and change memory behavior mid-run.
- The capability verdict is cached per session after the first
  unsupported error, so iterative loops do not pay a raise/except per
  round on Connect.

Used via ``df.transform(barrier)`` so operator code keeps its fluent
chains; ``barrier_eager`` additionally forces materialization (count) the
way ``localCheckpoint(eager=True)`` does — iterative algorithms use it to
pin a round's state, then call ``unbarrier`` on the PREVIOUS round's
state so the persist() fallback path does not accumulate one round of
blocks per iteration across a long run (on classic localCheckpoint the
call is a harmless no-op: checkpoint blocks are lifetime-managed by the
ContextCleaner, not the catalog cache).

``scratch_dir`` is the one place that decides where the engine's own
files (stream source directories, round-trip exports, bucketed tables)
live: under the SparkContext's files root, which Spark removes on
``spark.stop()``, so concurrent sessions on one host never share a path.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkFiles
from pyspark.errors import AnalysisException, PySparkNotImplementedError
from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)

#: error types that mean "this backend cannot localCheckpoint" — anything
#: else (Py4JJavaError job failures, KeyboardInterrupt, ...) propagates
_UNSUPPORTED = (
    PySparkNotImplementedError,
    NotImplementedError,
    AttributeError,
    AnalysisException,
)

#: sessions where localCheckpoint raised an unsupported-operation error;
#: keyed by id() — sessions are few and long-lived, and a stale entry
#: only costs an unnecessary (still correct) persist() fallback
_NO_LOCAL_CHECKPOINT: set[int] = set()


def _session_key(df: DataFrame) -> int:
    try:
        return id(df.sparkSession)
    except Exception:  # pragma: no cover — exotic wrappers without a session
        return 0


def barrier(df: DataFrame) -> DataFrame:
    """Lazy lineage barrier: ``localCheckpoint(eager=False)`` with a
    Connect-safe ``persist()`` fallback (unsupported errors only)."""
    key = _session_key(df)
    if key not in _NO_LOCAL_CHECKPOINT:
        try:
            return df.localCheckpoint(eager=False)
        except _UNSUPPORTED as e:
            _NO_LOCAL_CHECKPOINT.add(key)
            _log.info(
                "localCheckpoint unsupported on this backend (%s: %s); "
                "falling back to persist() for this session",
                type(e).__name__,
                e,
            )
    return df.persist()


def barrier_eager(df: DataFrame) -> DataFrame:
    """Eager lineage barrier: ``localCheckpoint(eager=True)`` with a
    Connect-safe ``persist() + count()`` fallback (unsupported errors
    only)."""
    key = _session_key(df)
    if key not in _NO_LOCAL_CHECKPOINT:
        try:
            return df.localCheckpoint(eager=True)
        except _UNSUPPORTED as e:
            _NO_LOCAL_CHECKPOINT.add(key)
            _log.info(
                "localCheckpoint unsupported on this backend (%s: %s); "
                "falling back to persist() for this session",
                type(e).__name__,
                e,
            )
    out = df.persist()
    out.count()
    return out


def unbarrier(df: DataFrame) -> DataFrame:
    """Release a SUPERSEDED barrier state inside an iterative loop.

    On the persist() fallback path this frees the round's blocks so a
    long loop holds at most the live round (plus the one being built)
    instead of every round since the start.  On the classic
    localCheckpoint path ``unpersist`` only touches the catalog cache —
    checkpoint blocks are owned by the ContextCleaner — so it is a
    harmless no-op.  Never raises: by the time a state is superseded its
    successor is already materialized, so cleanup failure is not an
    algorithm failure."""
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — cleanup must never kill the loop
        pass
    return df


def scratch_dir(spark: SparkSession, name: str) -> str:
    """Path ``name`` under ``spark``'s files root
    (``<spark.local.dir>/spark-<uuid>/userFiles-<uuid>`` on the driver).

    The root belongs to the session's SparkContext: no other session or
    process writes there, and Spark deletes it on ``spark.stop()``.  The
    caller creates the path.  Needs the driver's local filesystem, so a
    Spark Connect session raises here."""
    spark.sparkContext  # raises on Connect: no driver-local files root
    return os.path.join(SparkFiles.getRootDirectory(), name)
