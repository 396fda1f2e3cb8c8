import contextlib
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_ml_spatialjointransformer_spark.session import local_session


@pytest.fixture(scope="session")
def spark():
    s = local_session("sjt-tests", cpus=4)
    yield s
    s.stop()


def collect_sorted(df):
    """Order-insensitive row comparison helper."""
    return sorted([tuple(r) for r in df.collect()], key=lambda t: tuple(map(str, t)))


@pytest.fixture
def py4j_commands(spark):
    """Count the Py4J commands this thread sends to the JVM inside a block::

        with py4j_commands() as n:
            t.transform(df)
        assert n.count <= 150

    A counting wrapper around the gateway client's ``send_command``.  Object
    releases (the ``m`` memory commands Py4J's finalizer sends when Python
    garbage-collects a JVM handle) depend on GC timing and are not counted,
    so the same build gives the same count on every run.  Spark Connect has
    no Py4J gateway: there the fixture skips."""
    from pyspark.sql.utils import is_remote

    if is_remote() or not hasattr(spark, "_jvm"):
        pytest.skip("Py4J commands are only counted on a classic session")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()

    class Count:
        count = 0

    @contextlib.contextmanager
    def counting():
        n = Count()

        def counted(command, *args, **kwargs):
            if threading.get_ident() == me and not command.startswith("m\n"):
                n.count += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        try:
            yield n
        finally:
            del client.send_command

    return counting
