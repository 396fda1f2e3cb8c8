"""The one session factory: every entry point builds its session through
it, and its defaults follow the machine unless the two variables say
otherwise."""

import os
from pathlib import Path

import pytest

from spark_ml_spatialjointransformer_spark import session

REPO = Path(__file__).resolve().parent.parent


def test_no_entry_point_builds_its_own_session():
    paths = [REPO / "bench.py", REPO / "tests" / "conftest.py", *(REPO / "examples").glob("*.py")]
    assert len(paths) > 10
    assert [p.name for p in paths if "SparkSession.builder" in p.read_text()] == []


def test_cpus_default_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3


@pytest.mark.parametrize(
    "phys_gb, heap", [(15.6, "3g"), (2, "1g"), (128, "32g"), (512, "32g")]
)
def test_heap_is_a_quarter_of_memory_capped(monkeypatch, phys_gb, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    pages = int(phys_gb * 1024**3) // 4096
    monkeypatch.setattr(
        session.os, "sysconf", lambda k: {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}[k]
    )
    assert session.default_heap() == heap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert session.default_heap() == "5g"


def test_the_test_session_is_the_factory_session(spark):
    conf = spark.sparkContext.getConf()
    assert spark.sparkContext.master == "local[4]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.driver.memory") == session.default_heap()


def test_bench_record_names_its_session(spark):
    import bench

    prov = bench.provenance(spark)
    assert prov["spark_master"] == "local[4]" and prov["shuffle_partitions"] == "4"
    assert prov["nproc"] == len(os.sched_getaffinity(0))
    assert prov["driver_heap"] == session.default_heap()
    assert set(prov) == {
        "git_sha", "nproc", "spark_master", "driver_heap", "shuffle_partitions", "spark"
    }
