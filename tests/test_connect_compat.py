"""Spark Connect portability: the operator suite must survive a session
where the classic JVM accessors are unavailable — ``localCheckpoint``
raising (older Connect clients), ``DataFrame._jdf`` absent (all Connect
clients), ``_jsparkSession`` conf internals absent.

The engine's ``_jdf`` probes (``_guard.estimated_plan_bytes``, the knn
stats probe, the condition pre-parser) are individually try/except-guarded
and tested here through a proxy that hides ``_jdf``.  ``localCheckpoint``
was the one UNGUARDED JVM dependency — every iterative/multi-reader
operator calls it through ``_compat.barrier`` now, which must fall back to
``persist()`` and return identical results.  (Blocking ``_jdf`` globally
on a classic session would break collect() itself, so the simulation
blocks exactly the surfaces our code touches.)
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import collect_sorted


@pytest.fixture(autouse=True)
def _reset_capability_cache():
    """_compat caches "this session cannot localCheckpoint" after the
    first unsupported error; the monkeypatched block below must not leak
    that verdict into the rest of the suite (the shared classic session
    CAN localCheckpoint once the patch is undone)."""
    from spark_ml_spatialjointransformer_spark.operators import _compat

    yield
    _compat._NO_LOCAL_CHECKPOINT.clear()


def _block_local_checkpoint(monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    def boom(self, *a, **k):
        raise NotImplementedError(
            "localCheckpoint() is not implemented on this backend"
        )

    monkeypatch.setattr(ClassicDF, "localCheckpoint", boom)


class _NoJvmProxy:
    """Forwards everything to a real DataFrame except ``_jdf``, which is
    absent — the attribute surface a Connect DataFrame presents to the
    stats probes."""

    def __init__(self, df):
        object.__setattr__(self, "_df", df)

    def __getattr__(self, name):
        if name == "_jdf":
            raise AttributeError("_jdf is unavailable on Spark Connect")
        return getattr(object.__getattribute__(self, "_df"), name)


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),
    (3, "the quick brown fox leaps over the lazy dog again and again"),
    (4, "completely unrelated text about spark catalyst optimizers"),
    (5, "another disjoint document mentioning adaptive query execution"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


class TestBarrierFallback:
    def test_barrier_falls_back_to_persist(self, spark, monkeypatch):
        from spark_ml_spatialjointransformer_spark.operators._compat import (
            barrier,
            barrier_eager,
        )

        _block_local_checkpoint(monkeypatch)
        df = spark.range(10)
        with pytest.raises(NotImplementedError):
            df.localCheckpoint(eager=False)
        assert barrier(df).count() == 10
        assert barrier_eager(df).count() == 10

    def test_capability_verdict_cached_per_session(self, spark, monkeypatch):
        """After ONE unsupported error the session is remembered as
        no-localCheckpoint: iterative loops must not pay a raise/except
        per round."""
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

        from spark_ml_spatialjointransformer_spark.operators._compat import (
            barrier,
        )

        calls = {"n": 0}

        def boom(self, *a, **k):
            calls["n"] += 1
            raise NotImplementedError("unsupported")

        monkeypatch.setattr(ClassicDF, "localCheckpoint", boom)
        df = spark.range(5)
        assert barrier(df).count() == 5
        assert barrier(df).count() == 5
        assert calls["n"] == 1  # second call skipped the probe entirely

    def test_transient_failure_propagates(self, spark, monkeypatch):
        """A job/executor failure during checkpoint is NOT a capability
        signal — degrading to persist() would silently re-run the whole
        subtree and mask the real error."""
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

        from spark_ml_spatialjointransformer_spark.operators import _compat

        def boom(self, *a, **k):
            raise RuntimeError("Job aborted due to stage failure")

        monkeypatch.setattr(ClassicDF, "localCheckpoint", boom)
        df = spark.range(5)
        with pytest.raises(RuntimeError, match="stage failure"):
            _compat.barrier(df)
        # and the session is NOT marked incapable by a transient error
        assert _compat._session_key(df) not in _compat._NO_LOCAL_CHECKPOINT

    def test_unbarrier_never_raises(self, spark, monkeypatch):
        from spark_ml_spatialjointransformer_spark.operators._compat import (
            unbarrier,
        )

        df = spark.range(3).persist()
        assert unbarrier(df) is df
        # and on a frame whose unpersist explodes, cleanup stays silent
        class Bad:
            def unpersist(self):
                raise RuntimeError("boom")

        unbarrier(Bad())

    def test_lsh_neardup_same_result_without_checkpoint(
        self, spark, monkeypatch
    ):
        from spark_ml_spatialjointransformer_spark.operators.dedup import (
            neardup_pairs_lsh_verified,
        )

        def run():
            return collect_sorted(
                neardup_pairs_lsh_verified(
                    _docs(spark), "doc_id", "text", threshold=0.6
                ).select("id_a", "id_b")
            )

        baseline = run()
        assert baseline  # near-dup docs present: non-empty premise
        _block_local_checkpoint(monkeypatch)
        assert run() == baseline

    def test_closure_same_result_without_checkpoint(self, spark, monkeypatch):
        from spark_ml_spatialjointransformer_spark.operators.dedup import (
            dedup_connected_components,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
        )

        def run():
            return collect_sorted(
                dedup_connected_components(pairs, ids, "doc_id")
            )

        baseline = run()
        _block_local_checkpoint(monkeypatch)
        assert run() == baseline

    def test_pagerank_same_result_without_checkpoint(self, spark, monkeypatch):
        from spark_ml_spatialjointransformer_spark.operators.graph import (
            pagerank_int,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "a long, b long"
        )

        def run():
            return collect_sorted(pagerank_int(pairs, "a", "b", iters=3))

        baseline = run()
        _block_local_checkpoint(monkeypatch)
        assert run() == baseline

    def test_kmeans_releases_superseded_centroids(self, spark, monkeypatch):
        """On the persist() fallback kmeans_int keeps only the quantized
        corpus and the last round's centroids cached, not one centroid
        table per round, and returns the same assignments."""
        from spark_ml_spatialjointransformer_spark.operators.similarity import (
            kmeans_int,
        )

        df = spark.createDataFrame(
            [(i, [0.01 * i, -0.02 * (i % 5)]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )

        def run():
            return collect_sorted(
                kmeans_int(df, "vec_id", "embedding", dim=2, k=3, iters=4)
            )

        baseline = run()
        _block_local_checkpoint(monkeypatch)
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        assert run() == baseline
        new = set(jsc.getPersistentRDDs().keySet()) - before
        try:
            assert len(new) <= 2, new
        finally:
            for rid in new:
                jsc.getPersistentRDDs().get(rid).unpersist(False)


class TestGuardDegradation:
    def test_stats_probe_returns_none_without_jdf(self, spark):
        from spark_ml_spatialjointransformer_spark.operators._guard import (
            ensure_min_parallelism,
            estimated_plan_bytes,
        )

        proxy = _NoJvmProxy(spark.range(100))
        assert estimated_plan_bytes(proxy) is None
        # unknown size: assume big, identity — and never raise
        assert ensure_min_parallelism(proxy).count() == 100

    def test_condition_validator_degrades_without_jsparksession(self, spark):
        """The config-time condition pre-parse reaches for
        ``_jsparkSession`` (classic-only); on Connect the reach raises and
        the validator must RETURN (the bad string still fails at analysis
        time) — exercised here down the actual fallback branch."""
        from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
            _validate_condition_syntax,
        )

        class _NoJvmSession:
            def __getattr__(self, name):
                if name == "_jsparkSession":
                    raise AttributeError(
                        "_jsparkSession is unavailable on Spark Connect"
                    )
                raise AttributeError(name)

        class _SessionProxy:
            def __init__(self, df):
                self._df = df
                self.sparkSession = _NoJvmSession()

            def __getattr__(self, name):
                return getattr(self._df, name)

        proxy = _SessionProxy(spark.range(1))
        # silently defers — even for garbage that the classic parser
        # would reject at config time
        _validate_condition_syntax(proxy, ")))not sql(((", ")))not sql(((")
        # and on classic, the same garbage IS rejected at config time
        with pytest.raises(ValueError, match="not parseable"):
            _validate_condition_syntax(
                spark.range(1), ")))not sql(((", ")))not sql((("
            )

    def test_max_partition_bytes_parses_units(self):
        from spark_ml_spatialjointransformer_spark.operators._guard import (
            _max_partition_bytes,
        )

        class FakeConf:
            def __init__(self, v):
                self.v = v

            def get(self, key, default=None):
                return self.v

        class FakeSpark:
            def __init__(self, v):
                self.conf = FakeConf(v)

        assert _max_partition_bytes(FakeSpark("134217728b")) == 128 * 1024**2
        assert _max_partition_bytes(FakeSpark("128m")) == 128 * 1024**2
        assert _max_partition_bytes(FakeSpark("1g")) == 1024**3
        assert _max_partition_bytes(FakeSpark("garbage")) == 128 * 1024**2
