"""UDF portability: serialize this package's kernel modules by value.

PySpark pickles module-level functions by reference; executors that don't
have this package on their PYTHONPATH (interactive sessions, notebooks,
spark-submit without --py-files) would fail with ModuleNotFoundError inside
every pandas_udf.  cloudpickle's ``register_pickle_by_value`` embeds the
kernel code in the serialized closure instead (a few KB per task — noise),
so the engine works anywhere the *driver* can import it.
"""

from __future__ import annotations

_registered = False


def ensure_udf_portability() -> None:
    global _registered
    if _registered:
        return
    try:
        from pyspark import cloudpickle

        from spark_ml_spatialjointransformer_spark.functions import (
            geodesic,
            geometry,
            hashing,
        )
        from spark_ml_spatialjointransformer_spark.operators import (
            bloom,
            dedup,
            fingerprint,
            multimodal,
            similarity,
        )
        from spark_ml_spatialjointransformer_spark.streaming import windowed
        from spark_ml_spatialjointransformer_spark import toolbox

        for mod in (geodesic, geometry, hashing, toolbox,
                    bloom, dedup, fingerprint, multimodal, similarity,
                    windowed):
            cloudpickle.register_pickle_by_value(mod)
        _registered = True
    except Exception:
        # best-effort: falls back to by-reference pickling (package must then
        # be importable on executors, like any PySpark library)
        _registered = True


def per_session(build):
    """Memoize a UDF factory per (arguments, active SparkContext).

    A UDF object pickles its function and creates its JVM handle on first
    use; reusing it across ``transform()`` calls skips both.  Keying on the
    context means a stopped session's handle is never reused."""
    import functools
    import weakref

    built: dict = {}

    @functools.wraps(build)
    def get(*args):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        hit = built.get(args)
        if hit is not None and hit[0]() is sc:
            return hit[1]
        udf = build(*args)
        built[args] = (weakref.ref(sc) if sc is not None else lambda: None, udf)
        return udf

    return get
