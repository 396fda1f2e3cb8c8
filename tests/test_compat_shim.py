"""Drop-in compat: the reference's own pytest body, run unmodified against
the `me.valik` import shim.

The fixture setup and both test bodies below mirror reference
src/main/python/test/test_broadcast_spatial_join.py:23-65 — same views,
same transformer params, same expected frames — with only the harness
glue (`local_spark` fixture, pandas assert) supplied locally the way the
reference's test/__init__.py supplies it.  A user migrating from
`from me.valik import BroadcastSpatialJoin` changes ZERO lines.
"""

import builtins

import pytest

from me.valik import BroadcastSpatialJoin


def assert_frame_equal(expected_pdf, actual_pdf):
    """The reference's test/__init__.py pandas equality, order-insensitive."""
    import pandas as pd

    cols = list(expected_pdf.columns)
    e = expected_pdf[cols].sort_values(cols).reset_index(drop=True)
    a = actual_pdf[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(e, a, check_dtype=False)


def check(transformer, input_df, expected_df, select=False):
    actual = transformer.transform(input_df)
    if select:
        actual = actual.select(expected_df.schema.names)

    assert_frame_equal(expected_df.toPandas(), actual.toPandas())


@pytest.fixture(scope="class")
def bag(request, spark):
    local_spark = spark
    builtins.spark = local_spark

    poi = local_spark.createDataFrame(
        [("a", 1.1, 3.1), ("b", 2.1, 5.1)],
        ["poi_id", "lon", "lat"])
    poi.createOrReplaceTempView("poi")

    input = local_spark.createDataFrame(
        [(0, 1.0, 3.0), (2, 2.0, 5.0)],
        ["id", "lon", "lat"])

    expected = local_spark.createDataFrame(
        [(0, 1.0, 3.0, "a"), (2, 2.0, 5.0, "b")],
        ["id", "lon", "lat", "poi_id"])

    transformer = BroadcastSpatialJoin(
        dataset="poi", dataColumns="poi_id", datasetPoint="lon, lat", inputPoint="lon, lat"
    )

    return dict(
        transformer=transformer,
        input=input,
        expected=expected
    )


class TestBroadcastSpatialJoin(object):

    def test_simple_transform(self, bag):
        check(bag["transformer"], bag["input"], bag["expected"])

    def test_pipeline(self, bag, tmp_path):
        from pyspark.ml.pipeline import Pipeline
        # create and save and load
        pth = str(tmp_path / "spatial-join")
        new_p = Pipeline().setStages([bag["transformer"]])
        new_p.write().overwrite().save(pth)
        saved_p = Pipeline.load(pth)

        # check transformations
        inp = bag["input"]
        exp = bag["expected"]
        check(new_p.fit(inp), inp, exp)
        check(saved_p.fit(inp), inp, exp)


class TestImportPaths:
    def test_deep_path_is_same_class(self):
        from me.valik.spark.transformer import (
            BroadcastSpatialJoin as DeepImport,
        )
        from spark_ml_spatialjointransformer_spark import (
            BroadcastSpatialJoin as Native,
        )

        assert DeepImport is Native is BroadcastSpatialJoin


class TestBroadcastParamValidation:
    def test_typo_rejected_loudly(self, spark):
        """A typo like 'inpt' must raise, not silently flip the join
        direction and cardinality (reference trap: any non-'input'
        string means external, BroadcastSpatialJoin.scala:91-93)."""
        t = BroadcastSpatialJoin(
            dataset="poi", dataColumns="poi_id",
            datasetPoint="lon, lat", inputPoint="lon, lat",
            broadcast="inpt",
        )
        with pytest.raises(ValueError, match="broadcast must be"):
            t.transformSchema(
                spark.createDataFrame(
                    [(0, 1.0, 3.0)], ["id", "lon", "lat"]
                ).schema
            )

    @pytest.mark.parametrize("value", ["input", "external", "dataset"])
    def test_documented_values_accepted(self, spark, value):
        poi = spark.createDataFrame(
            [("a", 1.1, 3.1)], ["poi_id", "lon", "lat"])
        poi.createOrReplaceTempView("poi_bv")
        t = BroadcastSpatialJoin(
            dataset="poi_bv", dataColumns="poi_id",
            datasetPoint="lon, lat", inputPoint="lon, lat",
            broadcast=value,
        )
        df = spark.createDataFrame([(0, 1.0, 3.0)], ["id", "lon", "lat"])
        assert t.transform(df).count() == 1


class TestScratchDir:
    """The engine's own files live under the session's files root, which
    Spark deletes on stop(): concurrent sessions never share a path."""

    def test_under_session_files_root(self, spark):
        import os

        from pyspark import SparkFiles

        from spark_ml_spatialjointransformer_spark.operators._compat import (
            scratch_dir,
        )

        root = SparkFiles.getRootDirectory()
        a, b = scratch_dir(spark, "a"), scratch_dir(spark, "b")
        assert os.path.dirname(a) == root == os.path.dirname(b)
        assert a != b

    def test_package_has_no_fixed_tmp_paths(self):
        import pathlib

        import spark_ml_spatialjointransformer_spark as pkg

        hits = [
            f"{p}: {needle}"
            for p in pathlib.Path(pkg.__file__).parent.rglob("*.py")
            for needle in ("/tmp/", "gettempdir")
            if needle in p.read_text()
        ]
        assert hits == []
