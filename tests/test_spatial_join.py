"""Behavioral parity suite: mirrors the reference's 16 golden tests
(reference: src/test/scala/me/valik/spark/transformer/BroadcastSpatialJoinTest.scala).

Row comparison is order-insensitive (the reference compares ordered collects,
but row order is an artifact of its RDD execution, not a documented
contract)."""

import pytest

from pyspark.sql import types as T

from spark_ml_spatialjointransformer_spark import BroadcastSpatialJoin
from tests.conftest import collect_sorted

POI_SCHEMA = T.StructType(
    [
        T.StructField("poi_id", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("name", T.StringType()),
    ]
)
INPUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
)
WKT_POI_SCHEMA = T.StructType(
    [
        T.StructField("poi_id", T.StringType()),
        T.StructField("wkt", T.StringType()),
        T.StructField("name", T.StringType()),
    ]
)
WKT_INPUT_SCHEMA = T.StructType(
    [T.StructField("id", T.StringType()), T.StructField("wkt", T.StringType())]
)


def poi_df(spark, rows):
    rows = [r if len(r) == 4 else (*r, None) for r in rows]
    return spark.createDataFrame(rows, POI_SCHEMA)


def input_df(spark, rows):
    return spark.createDataFrame(rows, INPUT_SCHEMA)


def wkt_poi_df(spark, rows):
    rows = [r if len(r) == 3 else (*r, None) for r in rows]
    return spark.createDataFrame(rows, WKT_POI_SCHEMA)


def wkt_input_df(spark, rows):
    return spark.createDataFrame(rows, WKT_INPUT_SCHEMA)


def make_transformer(data, name="poi"):
    """Parity: BroadcastSpatialJoinTest.scala:615-622."""
    data.createOrReplaceTempView(name)
    return (
        BroadcastSpatialJoin()
        .setDataset(name)
        .setDatasetPoint("lon, lat")
        .setInputPoint("lon, lat")
        .setDataColumns("poi_id")
    )


SMOKE_INPUT = [("i1", 1.0, 1.0), ("i2", 2.0, 2.0)]
SMOKE_POI = [("d1", 1.1, 1.1), ("d2", 2.1, 2.1)]


def test_smoke(spark):
    """BroadcastSpatialJoinTest.scala:30-56."""
    t = make_transformer(poi_df(spark, SMOKE_POI))
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert out.columns == ["id", "lon", "lat", "poi_id"]
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1"),
        ("i2", 2.0, 2.0, "d2"),
    ]


def test_aliases(spark):
    """BroadcastSpatialJoinTest.scala:59-97."""
    poi = poi_df(spark, [("d1", 1.1, 1.1, "a"), ("d2", 2.1, 2.1, "b")])
    t = make_transformer(poi).setDataColumns("poi_id as poi_number, name as poi_name")
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert out.columns == ["id", "lon", "lat", "poi_number", "poi_name"]
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1", "a"),
        ("i2", 2.0, 2.0, "d2", "b"),
    ]

    t2 = make_transformer(poi).setDataColumns("poi_id as poi_number, name")
    out2 = t2.transform(input_df(spark, SMOKE_INPUT))
    assert out2.columns == ["id", "lon", "lat", "poi_number", "name"]


def test_distance_column_goldens(spark):
    """Pinned WGS84 geodesic goldens — BroadcastSpatialJoinTest.scala:100-127."""
    t = make_transformer(poi_df(spark, SMOKE_POI)).setDistColAlias("distance")
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert out.columns == ["id", "lon", "lat", "poi_id", "distance"]
    assert dict(out.schema["distance"].jsonValue().items())["type"] == "integer"
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1", 15689),
        ("i2", 2.0, 2.0, "d2", 15685),
    ]


def test_repartition(spark):
    """BroadcastSpatialJoinTest.scala:130-152 (external side repartitioned).

    The reference asserts output partition count == 4 — an artifact of its
    RDD flatMap execution.  Our contract: the external side is repartitioned
    to N before the join (visible in the plan), and results stay correct.
    """
    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        prepare_external,
    )

    poi = poi_df(
        spark,
        [("d1", 1.1, 1.1), ("d2", 2.1, 2.1), ("d3", 3.1, 3.1), ("d4", 4.1, 4.1)],
    )
    t = make_transformer(poi).setNumPartitions("4")
    plan = t._make_plan()
    assert prepare_external(poi, plan).rdd.getNumPartitions() == 4
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert out.count() == 4  # one row per external row (nearest, input broadcast)


def test_input_wkt_within(spark):
    """BroadcastSpatialJoinTest.scala:155-184: data point within input polygon."""
    inp = wkt_input_df(
        spark,
        [("i1", "POLYGON((1 1,2 1,1 2,1 1))"), ("i2", "POLYGON((2 1,2 2,1 2,2 1))")],
    )
    poi = poi_df(spark, [("d1", 1.4, 1.4), ("d2", 1.6, 1.6)])
    t = make_transformer(poi).setInputPoint("").setInputWKT("wkt").setPredicate("within")
    out = t.transform(inp)
    assert out.columns == ["id", "wkt", "poi_id"]
    assert collect_sorted(out) == [
        ("i1", "POLYGON((1 1,2 1,1 2,1 1))", "d1"),
        ("i2", "POLYGON((2 1,2 2,1 2,2 1))", "d2"),
    ]


def test_dataset_wkt_contains(spark):
    """BroadcastSpatialJoinTest.scala:186-216: data polygon contains input point."""
    inp = input_df(spark, [("i1", 1.4, 1.4), ("i2", 1.6, 1.6)])
    poi = wkt_poi_df(
        spark,
        [("d1", "POLYGON((1 1,2 1,1 2,1 1))"), ("d2", "POLYGON((2 1,2 2,1 2,2 1))")],
    )
    t = (
        make_transformer(poi)
        .setDatasetPoint("")
        .setDatasetWKT("wkt")
        .setPredicate("contains")
    )
    out = t.transform(inp)
    assert collect_sorted(out) == [
        ("i1", 1.4, 1.4, "d1"),
        ("i2", 1.6, 1.6, "d2"),
    ]


def test_join_selected_data_columns(spark):
    """BroadcastSpatialJoinTest.scala:219-255."""
    poi = poi_df(spark, [("d1", 1.1, 1.1, "a"), ("d2", 2.1, 2.1, "b")])
    t = make_transformer(poi).setDataColumns("poi_id, name")
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert out.columns == ["id", "lon", "lat", "poi_id", "name"]
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1", "a"),
        ("i2", 2.0, 2.0, "d2", "b"),
    ]

    t2 = make_transformer(poi).setDataColumns("name")
    out2 = t2.transform(input_df(spark, SMOKE_INPUT))
    assert out2.columns == ["id", "lon", "lat", "name"]
    assert collect_sorted(out2) == [
        ("i1", 1.0, 1.0, "a"),
        ("i2", 2.0, 2.0, "b"),
    ]


def test_withindist(spark):
    """BroadcastSpatialJoinTest.scala:258-285: 15700m radius keeps (i1,d1),(i2,d2)."""
    poi = poi_df(spark, [("d1", 1.1, 1.1), ("d2", 2.1, 2.1), ("d3", 2.101, 2.101)])
    t = make_transformer(poi).setPredicate("withindist 15700")
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1"),
        ("i2", 2.0, 2.0, "d2"),
    ]


def test_intersects(spark):
    """BroadcastSpatialJoinTest.scala:287-316: crossing linestrings."""
    inp = wkt_input_df(
        spark, [("i1", "LINESTRING(1 1,2 2)"), ("i2", "LINESTRING(2 2,3 3)")]
    )
    poi = wkt_poi_df(
        spark, [("d1", "LINESTRING(2 1,1 2)"), ("d2", "LINESTRING(3 2,2 3)")]
    )
    t = (
        make_transformer(poi)
        .setPredicate("intersects")
        .setInputPoint("")
        .setInputWKT("wkt")
        .setDatasetPoint("")
        .setDatasetWKT("wkt")
    )
    out = t.transform(inp)
    assert collect_sorted(out) == [
        ("i1", "LINESTRING(1 1,2 2)", "d1"),
        ("i2", "LINESTRING(2 2,3 3)", "d2"),
    ]


def test_overlaps(spark):
    """BroadcastSpatialJoinTest.scala:318-347: overlapping triangles."""
    inp = wkt_input_df(
        spark,
        [("i1", "POLYGON((2 4,2 2,4 2,2 4))"), ("i2", "POLYGON((12 4,12 2,14 2,12 4))")],
    )
    poi = wkt_poi_df(
        spark,
        [("d1", "POLYGON((3 1,3 3,1 3,3 1))"), ("d2", "POLYGON((13 1,13 3,11 3,13 1))")],
    )
    t = (
        make_transformer(poi)
        .setPredicate("overlaps")
        .setInputPoint("")
        .setInputWKT("wkt")
        .setDatasetPoint("")
        .setDatasetWKT("wkt")
    )
    out = t.transform(inp)
    assert collect_sorted(out) == [
        ("i1", "POLYGON((2 4,2 2,4 2,2 4))", "d1"),
        ("i2", "POLYGON((12 4,12 2,14 2,12 4))", "d2"),
    ]


def test_broadcast_dataset(spark):
    """BroadcastSpatialJoinTest.scala:349-379: one row per INPUT row."""
    inp = input_df(spark, [("i1", 1.0, 1.0), ("i2", 2.0, 2.0), ("i3", 3.0, 3.0)])
    poi = poi_df(spark, SMOKE_POI)
    t = make_transformer(poi).setBroadcast("dataset").setPredicate("nearest")
    out = t.transform(inp)
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1"),
        ("i2", 2.0, 2.0, "d2"),
        ("i3", 3.0, 3.0, "d2"),
    ]


def test_broadcast_input(spark):
    """BroadcastSpatialJoinTest.scala:382-411: one row per EXTERNAL row."""
    poi = poi_df(spark, [("d1", 1.1, 1.1), ("d2", 2.1, 2.1), ("d3", 3.1, 3.1)])
    t = make_transformer(poi).setBroadcast("input").setPredicate("nearest")
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1"),
        ("i2", 2.0, 2.0, "d2"),
        ("i2", 2.0, 2.0, "d3"),
    ]


def test_filter(spark):
    """BroadcastSpatialJoinTest.scala:413-457."""
    poi = poi_df(
        spark, [("d1", 1.1, 1.1, "a"), ("d2", 2.1, 2.1, "b"), ("d3", 3.1, 3.1, "c")]
    )
    t = make_transformer(poi).setDatasetFilter("name in ('a', 'b')")
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1"),
        ("i2", 2.0, 2.0, "d2"),
    ]

    out_nofilter = make_transformer(poi).transform(input_df(spark, SMOKE_INPUT))
    assert collect_sorted(out_nofilter) == [
        ("i1", 1.0, 1.0, "d1"),
        ("i2", 2.0, 2.0, "d2"),
        ("i2", 2.0, 2.0, "d3"),
    ]


def test_extra_condition(spark):
    """BroadcastSpatialJoinTest.scala:459-504: right.id != left.name reroutes d3."""
    poi = poi_df(
        spark, [("d1", 1.1, 1.1, "a"), ("d2", 2.1, 2.1, "b"), ("d3", 3.1, 3.1, "i2")]
    )
    t = make_transformer(poi).setJoinCondition("right.id != left.name")
    out = t.transform(input_df(spark, SMOKE_INPUT))
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, "d1"),
        ("i1", 1.0, 1.0, "d3"),
        ("i2", 2.0, 2.0, "d2"),
    ]


def test_extra_condition_between_ts(spark):
    """The other canonical condition string
    (BroadcastSpatialJoin.scala:513-521): right.fulldate_ts between
    left.start_ts and left.end_ts; right=input carries fulldate_ts (int),
    left=external carries start_ts/end_ts (long)."""
    inp = spark.createDataFrame(
        [("i1", 1.0, 1.0, 100), ("i2", 2.0, 2.0, 500)],
        "id string, lon double, lat double, fulldate_ts int",
    )
    poi = spark.createDataFrame(
        [("d1", 1.1, 1.1, 0, 200), ("d2", 2.1, 2.1, 0, 200), ("d3", 3.1, 3.1, 400, 600)],
        "poi_id string, lon double, lat double, start_ts long, end_ts long",
    )
    poi.createOrReplaceTempView("poi_ts")
    t = (
        BroadcastSpatialJoin()
        .setDataset("poi_ts")
        .setDatasetPoint("lon, lat")
        .setInputPoint("lon, lat")
        .setDataColumns("poi_id")
        .setJoinCondition("right.fulldate_ts between left.start_ts and left.end_ts")
    )
    out = t.transform(inp)
    # d1: candidates {i1}; d2: {i1} (i2 ts=500 > 200); d3: {i2}
    assert collect_sorted(out) == [
        ("i1", 1.0, 1.0, 100, "d1"),
        ("i1", 1.0, 1.0, 100, "d2"),
        ("i2", 2.0, 2.0, 500, "d3"),
    ]


def test_transform_schema(spark):
    """BroadcastSpatialJoinTest.scala:507-535: static schema == output schema."""
    poi = poi_df(spark, [("d1", 1.1, 1.1, "a"), ("d2", 2.1, 2.1, "b")])
    t = make_transformer(poi).setDataColumns("poi_id as poi_number, name as poi_name")
    inp = input_df(spark, SMOKE_INPUT)
    static = t.transformSchema(inp.schema)
    real = t.transform(inp).schema
    assert [f.name for f in static.fields] == [f.name for f in real.fields]
    assert [f.dataType for f in static.fields] == [f.dataType for f in real.fields]


def test_transform_schema_with_distance(spark):
    poi = poi_df(spark, SMOKE_POI)
    t = make_transformer(poi).setDistColAlias("dist_m")
    inp = input_df(spark, SMOKE_INPUT)
    static = t.transformSchema(inp.schema)
    assert static.fields[-1].name == "dist_m"
    assert static.fields[-1].dataType == T.IntegerType()
    real = t.transform(inp).schema
    assert [(f.name, f.dataType) for f in static.fields] == [
        (f.name, f.dataType) for f in real.fields
    ]


def test_pipeline_save_load(spark, tmp_path):
    """BroadcastSpatialJoinTest.scala:538-571 + the reference pytest
    (test_broadcast_spatial_join.py:52-64): Pipeline persistence round-trip."""
    from pyspark.ml import Pipeline, PipelineModel

    poi = poi_df(spark, SMOKE_POI)
    t = make_transformer(poi)
    inp = input_df(spark, SMOKE_INPUT)
    expected = [("i1", 1.0, 1.0, "d1"), ("i2", 2.0, 2.0, "d2")]

    pth = str(tmp_path / "spatial-join-pipeline")
    p = Pipeline(stages=[t])
    p.write().overwrite().save(pth)
    loaded = Pipeline.load(pth)

    assert collect_sorted(p.fit(inp).transform(inp)) == expected
    assert collect_sorted(loaded.fit(inp).transform(inp)) == expected

    # transformer-level save/load too
    tpth = str(tmp_path / "spatial-join-transformer")
    t.write().overwrite().save(tpth)
    t2 = BroadcastSpatialJoin.load(tpth)
    assert t2.getDataColumns() == "poi_id"
    assert collect_sorted(t2.transform(inp)) == expected


def test_param_validation(spark):
    poi = poi_df(spark, SMOKE_POI)
    poi.createOrReplaceTempView("poi")
    with pytest.raises(ValueError, match="one and only one"):
        BroadcastSpatialJoin(
            dataset="poi", dataColumns="poi_id", inputPoint="lon, lat"
        )._make_plan()
    with pytest.raises(ValueError, match="one and only one"):
        BroadcastSpatialJoin(
            dataset="poi",
            dataColumns="poi_id",
            datasetWKT="wkt",
            datasetPoint="lon, lat",
            inputPoint="lon, lat",
        )._make_plan()
    with pytest.raises(ValueError, match="lon, lat"):
        BroadcastSpatialJoin(
            dataset="poi", dataColumns="poi_id", datasetPoint="lon", inputPoint="lon, lat"
        )._make_plan()
    with pytest.raises(ValueError, match="dataset property"):
        BroadcastSpatialJoin(
            dataColumns="poi_id", datasetPoint="lon, lat", inputPoint="lon, lat"
        )._make_plan()
    with pytest.raises(ValueError, match="dataColumns"):
        BroadcastSpatialJoin(
            dataset="poi", datasetPoint="lon, lat", inputPoint="lon, lat"
        )._make_plan()


def test_nullable_name_carried(spark):
    """Nullable attribute columns flow through the join (PoiID.name:
    Option[String], BroadcastSpatialJoinTest.scala:578-583)."""
    poi = poi_df(spark, [("d1", 1.1, 1.1, None), ("d2", 2.1, 2.1, "b")])
    t = make_transformer(poi).setDataColumns("poi_id, name")
    out = t.transform(input_df(spark, SMOKE_INPUT))
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("i1", 1.0, 1.0, "d1", None), ("i2", 2.0, 2.0, "d2", "b")}


def test_null_geometry_dropped(spark):
    """Null/empty WKT and null points are dropped pre-join
    (DatasetGeometry.scala:40-42,64 — inner-join semantics)."""
    poi = wkt_poi_df(
        spark,
        [("d1", "POLYGON((1 1,2 1,1 2,1 1))"), ("d2", None), ("d3", "")],
    )
    inp = input_df(spark, [("i1", 1.4, 1.4), ("i2", None, 2.0)])
    t = (
        make_transformer(poi)
        .setDatasetPoint("")
        .setDatasetWKT("wkt")
        .setPredicate("contains")
    )
    out = t.transform(inp)
    assert collect_sorted(out) == [("i1", 1.4, 1.4, "d1")]


def test_withindist_zero_radius_rejected(spark):
    """'withindist' with no/zero radius parses to radius 0 (reference
    parity, SpatialJoin.scala:72-80) — joining at radius 0 is rejected at
    plan-compile time instead of exploding the bin sequence."""
    poi = poi_df(spark, [("d1", 1.1, 1.1)])
    for pred in ("withindist", "withindist 0"):
        t = make_transformer(poi).setPredicate(pred)
        with pytest.raises(Exception, match="positive radius"):
            t.transform(input_df(spark, SMOKE_INPUT)).collect()


def test_withindist_antimeridian_pair(spark):
    """Points straddling ±180° are ~222 km apart at the equator but 359.998
    apart in raw degrees — the cell column wraps mod 360°/w and the window
    compares the wrapped longitude difference, so the pair must survive
    with either side west of the antimeridian."""
    for x in (179.999, -179.999):
        poi = poi_df(spark, [("d1", x, 0.0), ("far", 0.0, 0.0)])
        inp = input_df(spark, [("i1", -x, 0.0)])
        t = make_transformer(poi).setPredicate("withindist 300000")
        out = t.transform(inp)
        assert collect_sorted(out) == [("i1", -x, 0.0, "d1")]


def test_withindist_huge_radius_lat_only_binning(spark):
    """A 4000 km radius: each broadcast row explodes only the few 40°-wide
    cells of its window, wrapping across ±180°, and must still match every
    true pair."""
    poi = poi_df(spark, [("d1", 170.0, 10.0), ("d2", -170.0, -10.0)])
    t = make_transformer(poi).setPredicate("withindist 4000000")
    out = t.transform(input_df(spark, [("i1", -175.0, 5.0)]))
    rows = {r[0:3] + (r[3],) for r in out.collect()}
    assert {r[3] for r in rows} == {"d1", "d2"}


@pytest.mark.parametrize("strategy", ["broadcast", "partitioned"])
@pytest.mark.parametrize("radius_m", [300_000, 10_000_000])
def test_withindist_off_globe_rows_match_nothing(spark, strategy, radius_m):
    """Centroids off the globe (latitude 100, 170, 5e6, NaN) on either side
    return no pair and do not inflate the cell join: a latitude range
    clamped at one end only would run backwards (Spark's ``sequence``
    counts down) and a negative cos φ would open the whole circle.  At
    10,000 km the haversine alone would pair (10, 100) with (-170, 89.9)."""
    nan = float("nan")
    poi = poi_df(spark, [
        ("d1", 10.0, 45.0), ("d2", 10.0, 89.9),
        ("g100", 10.0, 100.0), ("g170", 10.0, 170.0), ("g5e6", 10.0, 5e6),
        ("gnan", 10.0, nan),
    ])
    inp = input_df(spark, [
        ("i1", 10.5, 45.0), ("i2", -170.0, 89.9),
        ("j100", 10.0, 100.0), ("j170", 10.0, 170.0), ("j5e6", 10.0, 5e6),
        ("jnan", 10.0, nan),
    ])
    t = (
        make_transformer(poi)
        .setPredicate(f"withindist {radius_m}")
        .setDistanceKernel("haversine")
        .setJoinStrategy(strategy)
    )
    got = sorted((r.id, r.poi_id) for r in t.transform(inp).collect())
    valid = [("i1", "d1"), ("i1", "d2"), ("i2", "d1"), ("i2", "d2")]
    assert got == (valid if radius_m > 5e6 else [("i1", "d1"), ("i2", "d2")])


def test_withindist_cells_per_broadcast_row_bounded(spark):
    """Each broadcast row explodes at most 24 cells up to 40° latitude and
    123 at 80°, at any radius; an off-globe row explodes none."""
    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        _withindist_bins,
    )

    lats = [0.0, -40.0, 39.99, 80.0, -79.99, 170.0, -5e6, float("nan")]
    right = spark.createDataFrame(
        [(i, 179.9, lat) for i, lat in enumerate(lats)],
        "rid INT, __sjt_e_gx DOUBLE, __sjt_e_gy DOUBLE",
    )
    left = spark.createDataFrame([(0.0, 0.0)], "__sjt_i_gx DOUBLE, __sjt_i_gy DOUBLE")
    for km in (3, 300, 1_000, 4_000, 10_000, 20_000):
        _, cells, _ = _withindist_bins(left, right, "i", "e", km * 1000.0)
        n = dict(cells.groupBy("rid").count().collect())
        assert all(n.get(i, 0) <= (24 if abs(lat) <= 40 else 123)
                   for i, lat in enumerate(lats[:5])), (km, n)
        assert all(0 < n.get(i, 0) for i in range(5)), (km, n)
        assert all(i not in n for i in range(5, len(lats))), (km, n)


@pytest.mark.parametrize("strategy", ["broadcast", "partitioned"])
@pytest.mark.parametrize("kernel", ["geodesic", "haversine"])
def test_withindist_rounding_margin(spark, kernel, strategy):
    """The exact re-filter keeps ``round(d) <= r``, so a pair at r + 0.4 m
    stays and one at r + 0.6 m goes: the prefilter window must reach
    r + ½ m.  Pairs sit on one meridian north of 0° and 80°, placed by
    bisection on the kernel's own numpy twin."""
    from spark_ml_spatialjointransformer_spark.functions.geodesic import (
        haversine_np,
        vincenty_np,
    )

    dist = haversine_np if kernel == "haversine" else vincenty_np
    r, lon = 25_000, 10.0

    def lat_at(lat0, target):
        lo, hi = lat0, lat0 + 1.0
        for _ in range(100):
            mid = (lo + hi) / 2
            if float(dist(lon, lat0, lon, mid)) < target:
                lo = mid
            else:
                hi = mid
        return lo

    poi = poi_df(spark, [("eq", lon, 0.0), ("n80", lon, 80.0)])
    inp = input_df(spark, [
        (f"{name}+{off}", lon, lat_at(lat0, r + off))
        for name, lat0 in (("eq", 0.0), ("n80", 80.0))
        for off in (0.4, 0.6)
    ])
    t = (
        make_transformer(poi)
        .setPredicate(f"withindist {r}")
        .setDistanceKernel(kernel)
        .setJoinStrategy(strategy)
        .setDistColAlias("dist_m")
    )
    got = sorted((row.id, row.poi_id, row.dist_m) for row in t.transform(inp).collect())
    assert got == [("eq+0.4", "eq", r), ("n80+0.4", "n80", r)]


class TestPartitionedNearest:
    """operators/knn.py: big×big kNN without broadcast."""

    def _plans(self):
        from spark_ml_spatialjointransformer_spark.plans.config import (
            PointColumns,
            SideConfig,
            SpatialJoinPlan,
        )

        P = SideConfig(point_columns=PointColumns("lon", "lat"))
        mk = lambda strat: SpatialJoinPlan(  # noqa: E731
            predicate="nearest",
            external_side=P,
            input_side=P,
            data_columns=(("s_suppkey", "supp_key"),),
            distance_column="dist_m",
            broadcast_input=False,
            distance_kernel="haversine",
            tie_break=("s_suppkey",),
            strategy=strat,
        )
        return mk("broadcast"), mk("partitioned")

    def test_matches_broadcast_without_broadcast_joins(self, spark):
        """Hash-equal to the broadcast kNN even with broadcast joins
        DISABLED — the operator must not depend on either side fitting in
        memory (the whole point of the partitioned strategy)."""
        from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
            spatial_join,
        )
        from spark_ml_spatialjointransformer_spark.sources.tables import (
            customers_geo,
            suppliers_geo,
        )

        sf = "/root/testdata/sf0.001"
        cust = customers_geo(spark, sf).select("c_custkey", "lon", "lat")
        supp = suppliers_geo(spark, sf)
        bc_plan, part_plan = self._plans()
        expected = sorted(tuple(r) for r in spatial_join(cust, supp, bc_plan).collect())

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            got_df = spatial_join(cust, supp, part_plan)
            got = sorted(tuple(r) for r in got_df.collect())
            assert "BroadcastNestedLoop" not in got_df._jdf.queryExecution().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert got == expected
        assert len(got) == cust.count()  # cardinality == iterated side

    def test_one_pass_jobs_and_no_checkpoint(self, spark):
        """A k=3 partitioned call (build + collect) schedules at most 8
        Spark jobs and persists no checkpoint RDD: one census job, then
        one query whose only shuffles are the cell join's two sides."""
        from dataclasses import replace

        from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
            spatial_join,
        )
        from spark_ml_spatialjointransformer_spark.sources.tables import (
            customers_geo,
            suppliers_geo,
        )

        sf = "/root/testdata/sf0.001"
        cust = customers_geo(spark, sf).select("c_custkey", "lon", "lat")
        supp = suppliers_geo(spark, sf)
        plan = replace(self._plans()[1], k=3)
        sc = spark.sparkContext
        persisted = set(sc._jsc.getPersistentRDDs().keySet())
        sc.setJobGroup("knn-one-pass", "knn-one-pass")
        try:
            rows = spatial_join(cust, supp, plan).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(rows) == 3 * cust.count()
        jobs = sc.statusTracker().getJobIdsForGroup("knn-one-pass")
        assert 0 < len(jobs) <= 8, sorted(jobs)
        assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted

    def test_empty_right_side_yields_empty_inner_result(self, spark):
        """Inner-join semantics with ZERO right rows: the census finds no
        occupied right cell, the pair table is empty and so is the cell
        join — no error, no rows."""
        from pyspark.sql import functions as F

        from spark_ml_spatialjointransformer_spark.functions.geodesic import (
            haversine_sql,
        )
        from spark_ml_spatialjointransformer_spark.operators.knn import (
            partitioned_nearest,
        )

        def hav(*xy):
            return F.expr(haversine_sql(*xy, double_suffix="D"))

        L = spark.createDataFrame(
            [(1, 10.0, 20.0), (2, -30.0, 40.0)],
            "id long, lon double, lat double",
        )
        R = spark.createDataFrame([], "rid long, rlon double, rlat double")
        out = partitioned_nearest(
            L, R, ["id"], ("lon", "lat"), ["rid"], ("rlon", "rlat"),
            ["rid"], hav, "dist_m", ["id", "nrid"],
        )
        assert out.count() == 0
        assert out.columns == ["id", "nrid", "dist_m"]

    def test_wkt_external_side_matches_broadcast(self, spark):
        """A WKT external side takes the grid pass through the centroid
        columns every nearest route reads: nations as rectangles × customer
        points returns the broadcast kernel's rows, for k = 1 and k = 3 and
        both broadcast directions."""
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
            nations_rect,
        )
        from tests.test_plans import SF

        cust = customers_geo(spark, SF).select("c_custkey", "lon", "lat")
        nations = nations_rect(spark, SF)

        def run(strategy, broadcast_input, k):
            plan = SpatialJoinPlan(
                predicate="nearest",
                external_side=SideConfig(wkt_column="wkt"),
                input_side=SideConfig(point_columns=PointColumns("lon", "lat")),
                data_columns=(("n_nationkey", "nat_key"),),
                distance_column="dist_m",
                broadcast_input=broadcast_input,
                distance_kernel="haversine",
                # tie_break names broadcast-side columns
                tie_break=("c_custkey",) if broadcast_input else ("n_nationkey",),
                strategy=strategy,
                k=k,
            )
            return sorted(tuple(r) for r in spatial_join(cust, nations, plan).collect())

        for broadcast_input in (False, True):
            iterated = nations.count() if broadcast_input else cust.count()
            for k in (1, 3):
                expected = run("broadcast", broadcast_input, k)
                assert len(expected) == k * iterated
                got = run("partitioned", broadcast_input, k)
                assert got == expected, (broadcast_input, k)


def test_num_partitions_output_contract(spark):
    """Reference X1 contract (BroadcastSpatialJoinTest.scala:151): with
    numPartitions set, the OUTPUT has exactly N partitions — free when the
    broadcast plan iterates the repartitioned external side, via an
    explicit final repartition when the plan shuffles after the join."""
    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        spatial_join,
    )
    from spark_ml_spatialjointransformer_spark.plans.config import (
        PointColumns,
        SideConfig,
        SpatialJoinPlan,
    )

    P = SideConfig(point_columns=PointColumns("lon", "lat"))
    inp = input_df(spark, SMOKE_INPUT)
    poi = poi_df(spark, SMOKE_POI)
    base = dict(
        external_side=P, input_side=P, data_columns=(("poi_id", "poi"),),
        num_partitions=5, distance_kernel="haversine",
    )
    cases = [
        # (plan, note) — tie_break names BROADCAST-side columns
        (SpatialJoinPlan(predicate="nearest", broadcast_input=True,
                         tie_break=("id",), **base), "free: ext iterated"),
        (SpatialJoinPlan(predicate="withindist 500000", broadcast_input=True,
                         **base), "free: predicate join"),
        (SpatialJoinPlan(predicate="nearest", broadcast_input=False,
                         tie_break=("poi_id",), **base), "repartition: input side"),
        (SpatialJoinPlan(predicate="nearest", broadcast_input=True,
                         condition="left.poi_id != right.id",
                         tie_break=("id",), **base), "repartition: condition"),
        (SpatialJoinPlan(predicate="withindist 500000", broadcast_input=False,
                         strategy="partitioned", **base), "repartition: partitioned"),
    ]
    for plan, note in cases:
        out = spatial_join(inp, poi, plan)
        assert out.rdd.getNumPartitions() == 5, note


def test_invalid_condition_fails_at_plan_build(spark):
    """Garbage `condition` strings fail when the plan compiles (reference
    parity: IllegalArgumentException at config time,
    BroadcastSpatialJoin.scala:531), not when Catalyst analyzes the job."""
    poi = poi_df(spark, SMOKE_POI)
    t = make_transformer(poi).setJoinCondition("this is !! not sql ((")
    with pytest.raises(ValueError, match="invalid condition"):
        t.transform(input_df(spark, SMOKE_INPUT))


@pytest.mark.parametrize("predicate", ["within", "contains", "intersects", "overlaps"])
def test_partitioned_bbox_predicates_match_broadcast(spark, predicate):
    """strategy='partitioned' for the bbox predicates must reproduce the
    broadcast plan's pairs with broadcast joins disabled — grid-cell
    equi-keys instead of a nested loop, lifting the memory bound for every
    predicate in the family."""
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
        nations_rect,
        suppliers_rect,
    )

    sf = "/root/testdata/sf0.001"
    nations = nations_rect(spark, sf)
    if predicate in ("within", "contains"):
        inp = customers_geo(spark, sf).select("c_custkey", "lon", "lat")
        input_side = SideConfig(point_columns=PointColumns("lon", "lat"))
        broadcast_input = predicate == "contains"
    else:
        inp = suppliers_rect(spark, sf).select("s_suppkey", "wkt")
        input_side = SideConfig(wkt_column="wkt")
        broadcast_input = False

    def run(strategy):
        plan = SpatialJoinPlan(
            predicate=predicate,
            external_side=SideConfig(wkt_column="wkt"),
            input_side=input_side,
            data_columns=(("n_nationkey", "nat_key"),),
            broadcast_input=broadcast_input,
            strategy=strategy,
        )
        return sorted(tuple(r) for r in spatial_join(inp, nations, plan).collect())

    expected = run("broadcast")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = run("partitioned")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == expected
    assert len(got) > 0


@pytest.mark.parametrize(
    "condition",
    [
        "left.s_nationkey != right.c_nationkey",
        "(left.s_nationkey != right.c_nationkey)",
    ],
    ids=["kernel", "grid"],
)
def test_knn_k3_with_condition(spark, condition):
    """k>1 nearest WITH an extra condition, verified against a python brute
    force over the real sf0.001 tables: the plain spelling rides the
    broadcast kernel as a mask, the parenthesised one (which the kernel's
    parser rejects) takes the grid pass."""
    from spark_ml_spatialjointransformer_spark.functions.geodesic import haversine_np
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

    sf = "/root/testdata/sf0.001"
    cust = customers_geo(spark, sf).select("c_custkey", "c_nationkey", "lon", "lat")
    supp = suppliers_geo(spark, sf)
    P = SideConfig(point_columns=PointColumns("lon", "lat"))
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=P,
        input_side=P,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        condition=condition,
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        k=3,
    )
    got = {}
    for r in spatial_join(cust, supp, plan).collect():
        got.setdefault(r.c_custkey, set()).add((r.supp_key, r.dist_m))

    crows = cust.collect()
    srows = supp.select("s_suppkey", "s_nationkey", "lon", "lat").collect()
    for c in crows:
        cands = sorted(
            (
                float(haversine_np(float(c.lon), float(c.lat), float(s.lon), float(s.lat))),
                s.s_suppkey,
            )
            for s in srows
            if s.s_nationkey != c.c_nationkey
        )[:3]
        expect = {(sk, int(d + 0.5)) for d, sk in cands}
        assert got[c.c_custkey] == expect, c.c_custkey
    assert all(len(v) == 3 for v in got.values())


def test_knn_k_validation(spark):
    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        spatial_join,
    )
    from spark_ml_spatialjointransformer_spark.plans.config import (
        PointColumns,
        SideConfig,
        SpatialJoinPlan,
    )

    P = SideConfig(point_columns=PointColumns("lon", "lat"))
    df = input_df(spark, SMOKE_INPUT)
    with pytest.raises(ValueError, match="only meaningful for 'nearest'"):
        spatial_join(df, df, SpatialJoinPlan(
            predicate="within", external_side=P, input_side=P,
            data_columns=(("id", "id2"),), k=3))
    with pytest.raises(ValueError, match="k must be"):
        spatial_join(df, df, SpatialJoinPlan(
            predicate="nearest", external_side=P, input_side=P,
            data_columns=(("id", "id2"),), k=0))


def test_withindist_high_latitude_pairs(spark):
    """Above ~72° latitude the reference's flat 1° ≈ 35 km window under-
    covers (longitude degrees shrink with cos φ): these pairs are 1.2-1.6M m
    apart but 66-74° apart in raw longitude.  The latitude-aware chord
    window must keep them."""
    poi = poi_df(spark, [("d8", -85.642, 78.998)])
    inp = input_df(spark, [("i1", -151.925, 75.673), ("i2", -11.815, 84.786)])
    t = make_transformer(poi).setPredicate("withindist 2000000").setDistanceKernel(
        "haversine"
    )
    out = collect_sorted(t.transform(inp))
    assert [(r[0], r[3]) for r in out] == [("i1", "d8"), ("i2", "d8")]


def test_transformer_num_neighbors_k3(spark):
    """numNeighbors exposes the kNN extension through the ML API: k=3
    yields exactly 3 rows per input row, matching the operator-level
    knn path (j16), and save/load round-trips the param."""
    import tempfile

    from spark_ml_spatialjointransformer_spark.sources.tables import (
        customers_geo,
        suppliers_geo,
    )
    from spark_ml_spatialjointransformer_spark.transformer import (
        BroadcastSpatialJoin,
    )

    sf = "/root/testdata/sf0.001"
    suppliers_geo(spark, sf).createOrReplaceTempView("t_knn_suppliers")
    t = BroadcastSpatialJoin(
        dataset="t_knn_suppliers",
        dataColumns="s_suppkey as supp_key",
        datasetPoint="lon, lat",
        inputPoint="lon, lat",
        predicate="nearest",
        broadcast="dataset",
        distanceColumnAlias="dist_m",
        tieBreak="s_suppkey",
        numNeighbors="3",
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    cust = customers_geo(spark, sf)
    out = t.transform(cust)
    n_cust = cust.count()
    assert out.count() == 3 * n_cust
    per = out.groupBy("c_custkey").count().select("count").distinct().collect()
    assert [r["count"] for r in per] == [3]
    # distances are the 3 smallest: every kept distance <= the per-customer max
    # of the k=1 result joined against the same data is trivially true; pin
    # instead that k=1 equals the default transformer output
    t1 = t.copy()
    t1.setParams(numNeighbors="")
    base = {r.c_custkey: r.supp_key for r in t1.transform(cust).collect()}
    best = {
        r.c_custkey: r.supp_key
        for r in out.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("c_custkey").orderBy("dist_m", "supp_key")
            ),
        )
        .where("rn = 1")
        .collect()
    }
    assert best == base
    # persistence round-trip keeps the extension param
    with tempfile.TemporaryDirectory() as d:
        t.save(d + "/m")
        loaded = BroadcastSpatialJoin.load(d + "/m")
        assert loaded.getOrDefault(loaded.numNeighbors) == "3"
        # dedicated accessor pair (r10 verdict: the ONE param without one)
        assert loaded.getNumNeighbors() == "3"
    t2 = BroadcastSpatialJoin().setNumNeighbors("5")
    assert t2.getNumNeighbors() == "5"


def test_tie_break_column_survives_pruning(spark):
    """A tie_break column NOT projected via data_columns must still be
    available for ordering (r6 regression: the external-side pruning
    dropped it, failing with an unresolved `__sjt_e__<col>`)."""
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

    P = SideConfig(point_columns=PointColumns("lon", "lat"))
    sf = "/root/testdata/sf0.001"
    cust = customers_geo(spark, sf).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=P,
        input_side=P,
        data_columns=(("s_nationkey", "supp_nation"),),  # no s_suppkey
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        k=3,
    )
    out = spatial_join(cust, supp, plan)
    assert out.count() == cust.count() * 3
    assert "supp_nation" in out.columns and "s_suppkey" not in out.columns
