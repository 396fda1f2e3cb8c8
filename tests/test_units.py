"""Spark-free unit tests: string toolbox, predicate parsing, geodesic
kernels, geometry kernels."""

import numpy as np
import pytest

from spark_ml_spatialjointransformer_spark.toolbox import (
    extract_number,
    parse_data_columns,
    parse_map,
    split_trim,
)
from spark_ml_spatialjointransformer_spark.plans.config import (
    condition_external_columns,
    extract_radius,
    parse_predicate,
    rewrite_condition,
)
from spark_ml_spatialjointransformer_spark.functions.geodesic import (
    haversine_np,
    vincenty_np,
)
from spark_ml_spatialjointransformer_spark.functions import geometry as g


class TestToolbox:
    def test_split_trim(self):
        assert split_trim(" a, b ,, c ") == ["a", "b", "c"]
        assert split_trim("") == []
        assert split_trim(None) == []

    def test_extract_number(self):
        assert extract_number("withindist 15700", 1, " ") == 15700.0
        assert extract_number("nearest", 1, " ") is None
        assert extract_number("", 0, " ") is None

    def test_parse_data_columns(self):
        assert parse_data_columns("id as poi_id, name") == [
            ("id", "poi_id"),
            ("name", "name"),
        ]
        assert parse_data_columns("") == []
        assert parse_data_columns("a as b, c as d") == [("a", "b"), ("c", "d")]

    def test_parse_map(self):
        assert parse_map("foo: bar, poo: bazz") == {"foo": "bar", "poo": "bazz"}


class TestPredicateParsing:
    def test_substring_match(self):
        # SpatialJoin.scala:48-56: substring, case-insensitive, nearest default
        assert parse_predicate("withindist 5000") == "withindist"
        assert parse_predicate("WithinDist 5") == "withindist"
        assert parse_predicate("within") == "within"
        assert parse_predicate("contains") == "contains"
        assert parse_predicate("intersects") == "intersects"
        assert parse_predicate("overlaps") == "overlaps"
        assert parse_predicate("nearest") == "nearest"
        assert parse_predicate("") == "nearest"
        assert parse_predicate("banana") == "nearest"

    def test_radius(self):
        m, d = extract_radius("withindist 15700")
        assert m == 15700.0
        assert d == pytest.approx(15700.0 / 35000.0)
        assert extract_radius("nearest") == (0.0, 0.0)

    def test_condition_columns(self):
        assert condition_external_columns(
            "right.fulldate_ts between left.start_ts and left.end_ts"
        ) == ["start_ts", "end_ts"]
        assert condition_external_columns("right.id != left.name") == ["name"]
        assert condition_external_columns("") == []

    def test_condition_rewrite(self):
        assert (
            rewrite_condition("right.id != left.name", "__e__")
            == "`id` != `__e__name`"
        )


class TestGeodesic:
    def test_reference_goldens(self):
        # pinned by BroadcastSpatialJoinTest.scala:115-119
        assert round(float(vincenty_np(1.0, 1.0, 1.1, 1.1))) == 15689
        assert round(float(vincenty_np(2.0, 2.0, 2.1, 2.1))) == 15685

    def test_zero_distance(self):
        assert float(vincenty_np(10.0, 20.0, 10.0, 20.0)) == 0.0

    def test_vectorized(self):
        d = vincenty_np([1.0, 2.0], [1.0, 2.0], [1.1, 2.1], [1.1, 2.1])
        assert np.round(d).astype(int).tolist() == [15689, 15685]

    def test_haversine_close_to_geodesic(self):
        v = float(vincenty_np(1.0, 1.0, 1.1, 1.1))
        h = float(haversine_np(1.0, 1.0, 1.1, 1.1))
        assert abs(v - h) / v < 0.01

    def test_antipodal_fallback(self):
        # Vincenty diverges near antipodes; falls back to haversine, stays finite
        d = float(vincenty_np(0.0, 0.0, 179.9, 0.3))
        assert 19_000_000 < d < 20_100_000


class TestWktParse:
    def test_point(self):
        geom = g.parse_wkt("POINT(1.5 2.5)")
        assert geom.kind == "point"
        assert geom.coords_flat() == [(1.5, 2.5)]

    def test_polygon_autoclose(self):
        geom = g.parse_wkt("POLYGON((0 0,1 0,1 1,0 1))")
        assert geom.parts[0][0][0] == geom.parts[0][0][-1]

    def test_polygon_with_hole(self):
        geom = g.parse_wkt("POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 2,1 1))")
        assert len(geom.parts[0]) == 2

    def test_multipolygon(self):
        geom = g.parse_wkt("MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))")
        assert geom.kind == "polygon"
        assert len(geom.parts) == 2

    def test_invalid(self):
        assert g.parse_wkt(None) is None
        assert g.parse_wkt("") is None
        assert g.parse_wkt("POLYGON EMPTY") is None
        assert g.parse_wkt("garbage") is None
        assert g.parse_wkt("LINESTRING(1 1)") is None

    def test_scientific_notation(self):
        geom = g.parse_wkt("POINT(1.5e1 -2.5E-1)")
        assert geom.coords_flat() == [(15.0, -0.25)]


class TestGeometryPredicates:
    def test_point_in_polygon_strictness(self):
        tri = g.parse_wkt("POLYGON((1 1,2 1,1 2,1 1))")
        assert g.within(g.point_geom(1.2, 1.2), tri)
        assert not g.within(g.point_geom(1.0, 1.5), tri)  # on boundary: not within
        assert not g.within(g.point_geom(5.0, 5.0), tri)
        assert g.intersects(g.point_geom(1.0, 1.5), tri)  # boundary does intersect

    def test_polygon_with_hole_containment(self):
        donut = g.parse_wkt("POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,3 1,3 3,1 3,1 1))")
        assert not g.within(g.point_geom(2.0, 2.0), donut)  # in the hole
        assert g.within(g.point_geom(0.5, 0.5), donut)

    def test_polygon_within_polygon(self):
        small = g.parse_wkt("POLYGON((1 1,2 1,2 2,1 2,1 1))")
        big = g.parse_wkt("POLYGON((0 0,4 0,4 4,0 4,0 0))")
        assert g.within(small, big)
        assert not g.within(big, small)
        assert g.contains(big, small)

    def test_intersects_disjoint(self):
        a = g.parse_wkt("LINESTRING(0 0,1 1)")
        b = g.parse_wkt("LINESTRING(5 5,6 6)")
        assert not g.intersects(a, b)

    def test_intersects_containment_no_boundary_contact(self):
        small = g.parse_wkt("POLYGON((1 1,2 1,2 2,1 2,1 1))")
        big = g.parse_wkt("POLYGON((0 0,4 0,4 4,0 4,0 0))")
        assert g.intersects(small, big)
        assert g.intersects(big, small)

    def test_overlaps_fixtures(self):
        t1 = g.parse_wkt("POLYGON((2 4,2 2,4 2,2 4))")
        d1 = g.parse_wkt("POLYGON((3 1,3 3,1 3,3 1))")
        t2 = g.parse_wkt("POLYGON((12 4,12 2,14 2,12 4))")
        d2 = g.parse_wkt("POLYGON((13 1,13 3,11 3,13 1))")
        assert g.overlaps(t1, d1)
        assert g.overlaps(t2, d2)
        assert not g.overlaps(t1, d2)
        assert not g.overlaps(t2, d1)

    def test_overlaps_same_dim_only(self):
        tri = g.parse_wkt("POLYGON((1 1,2 1,1 2,1 1))")
        line = g.parse_wkt("LINESTRING(0 0,3 3)")
        assert not g.overlaps(tri, line)

    def test_overlaps_containment_is_not_overlap(self):
        small = g.parse_wkt("POLYGON((1 1,2 1,2 2,1 2,1 1))")
        big = g.parse_wkt("POLYGON((0 0,4 0,4 4,0 4,0 0))")
        assert not g.overlaps(small, big)

    def test_line_overlaps_collinear(self):
        a = g.parse_wkt("LINESTRING(0 0,2 0)")
        b = g.parse_wkt("LINESTRING(1 0,3 0)")
        assert g.overlaps(a, b)
        crossing = g.parse_wkt("LINESTRING(1 -1,1 1)")
        assert not g.overlaps(a, crossing)  # point contact, not 1-D overlap


class TestCentroid:
    def test_point(self):
        assert g.centroid(g.point_geom(3.0, 4.0)) == (3.0, 4.0)

    def test_square(self):
        sq = g.parse_wkt("POLYGON((0 0,2 0,2 2,0 2,0 0))")
        assert g.centroid(sq) == (1.0, 1.0)

    def test_square_with_hole(self):
        # hole shifts the area centroid away from itself
        d = g.parse_wkt("POLYGON((0 0,4 0,4 4,0 4,0 0),(2 2,4 2,4 4,2 4,2 2))")
        cx, cy = g.centroid(d)
        assert cx < 2.0 and cy < 2.0

    def test_linestring_length_weighted(self):
        line = g.parse_wkt("LINESTRING(0 0,2 0,2 1)")
        cx, cy = g.centroid(line)
        # segments: (0,0)-(2,0) w=2 mid (1,0); (2,0)-(2,1) w=1 mid (2,0.5)
        assert cx == pytest.approx((2 * 1 + 1 * 2) / 3)
        assert cy == pytest.approx((2 * 0 + 1 * 0.5) / 3)


def test_h60_three_forms_agree():
    """functions/hashing.py: the Spark, DuckDB, and Python forms of the
    60-bit md5 hash are pinned to the same golden values (the cross-engine
    contract every LSH oracle depends on)."""
    import duckdb

    from spark_ml_spatialjointransformer_spark.functions.hashing import h60_py, h60_sql

    goldens = {
        "abc": 648541476951500027,
        "": 955282973525019424,
        "hello world": 426544247714475757,
    }
    con = duckdb.connect()
    for s, want in goldens.items():
        assert h60_py(s) == want
        assert con.execute(f"SELECT {h60_sql('?')}", [s]).fetchone()[0] == want


def test_h60_spark_column(spark):
    from pyspark.sql import functions as F

    from spark_ml_spatialjointransformer_spark.functions.hashing import h60_col, h60_py

    df = spark.createDataFrame([("abc",), ("hello world",), ("",)], "s string")
    for r in df.select("s", h60_col(F.col("s")).alias("h")).collect():
        assert r.h == h60_py(r.s), r.s


def test_parse_wkt_rejects_3d():
    """Z/M/ZM WKT would pair the flat number list wrongly — must parse to
    None (null geometry → row dropped), not corrupted 2-D coordinates."""
    from spark_ml_spatialjointransformer_spark.functions.geometry import parse_wkt

    assert parse_wkt("LINESTRING Z (0 0 1, 1 1 2)") is None
    assert parse_wkt("POINT M (1 2 3)") is None
    assert parse_wkt("POLYGON ZM ((0 0 1 2, 1 0 1 2, 0 1 1 2, 0 0 1 2))") is None
    assert parse_wkt("LINESTRING (0 0, 1 1)") is not None  # 2-D still fine


def test_parse_wkt_geometrycollection():
    """The reference's JTS reader accepts GEOMETRYCOLLECTION
    (DatasetGeometry.scala:54-58).  Homogeneous collections collapse to
    the equivalent multi-geometry; MIXED collections fail loudly — NOT
    silently dropping the row the way unparseable garbage (→ None) does —
    because JTS's own relate()-based predicates reject them at join time
    anyway."""
    import pytest

    from spark_ml_spatialjointransformer_spark.functions.geometry import parse_wkt

    g = parse_wkt("GEOMETRYCOLLECTION (POINT (1 2), POINT (3 4))")
    assert g.kind == "point" and g.parts == [[(1.0, 2.0)], [(3.0, 4.0)]]
    mp = parse_wkt(
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)),"
        " POLYGON ((5 5, 6 5, 6 6, 5 5)))"
    )
    assert mp.kind == "polygon" and len(mp.parts) == 2
    # same geometry as the equivalent MULTI* form
    assert mp.parts == parse_wkt(
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
        " ((5 5, 6 5, 6 6, 5 5)))"
    ).parts
    # nested homogeneous collections flatten too
    nested = parse_wkt(
        "GEOMETRYCOLLECTION (POINT (1 2),"
        " GEOMETRYCOLLECTION (POINT (3 4), POINT (5 6)))"
    )
    assert nested.kind == "point" and len(nested.parts) == 3
    # all-EMPTY → null geometry (row dropped), like EMPTY itself; EMPTY
    # members beside real ones are simply skipped (JTS reads them as
    # empty geometries that contribute nothing)
    assert parse_wkt("GEOMETRYCOLLECTION (POINT EMPTY)") is None
    partial = parse_wkt("GEOMETRYCOLLECTION (POINT EMPTY, POINT (1 2))")
    assert partial.kind == "point" and partial.parts == [[(1.0, 2.0)]]

    with pytest.raises(ValueError, match="GEOMETRYCOLLECTION"):
        parse_wkt("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))")
    # garbage is still a silent null — only the recognized-but-unsupported
    # mix is loud
    assert parse_wkt("NONSENSE (1 2)") is None


def test_haversine_clamped_near_antipodal(spark):
    """Antipodal pairs must yield ~pi*R meters, never NaN, in all three
    haversine forms (numpy / Spark SQL / DuckDB SQL)."""
    import duckdb
    import math

    from pyspark.sql import functions as F

    from spark_ml_spatialjointransformer_spark.functions.geodesic import (
        EARTH_RADIUS_M,
        haversine_np,
        haversine_sql,
    )

    cases = [(0.0, 0.0, 180.0, 0.0), (45.0, 45.0, -135.0, -45.0)]
    df = spark.createDataFrame(cases, "a double, b double, c double, d double")
    got = df.select(
        F.expr(haversine_sql("a", "b", "c", "d", double_suffix="D")).alias("m")
    ).collect()
    con = duckdb.connect()
    for (lon1, lat1, lon2, lat2), row in zip(cases, got):
        want = float(haversine_np(lon1, lat1, lon2, lat2))
        assert not math.isnan(row.m)
        assert row.m == pytest.approx(want)
        assert row.m == pytest.approx(math.pi * EARTH_RADIUS_M, rel=1e-6)
        sql = haversine_sql(str(lon1), str(lat1), str(lon2), str(lat2))
        assert con.execute(f"SELECT {sql}").fetchone()[0] == pytest.approx(want)


def test_broadcast_knn_null_tiebreak(spark):
    """A NULL in a tie-break column must not crash the nearest fast path's
    broadcast collect+sort (None-safe sort key, nulls first)."""
    from pyspark.sql import types as T

    from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
        spatial_join,
    )
    from spark_ml_spatialjointransformer_spark.plans.config import (
        PointColumns,
        SideConfig,
        SpatialJoinPlan,
    )

    P = SideConfig(point_columns=PointColumns("lon", "lat"))
    schema = T.StructType(
        [
            T.StructField("name", T.StringType(), True),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ]
    )
    ext = spark.createDataFrame(
        [(None, 1.0, 1.0), ("b", 1.0, 1.0), ("a", 5.0, 5.0)], schema
    )
    inp = spark.createDataFrame([("q", 1.01, 1.01)], schema)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=P,
        input_side=P,
        data_columns=(("name", "poi_name"),),
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("name",),
    )
    rows = spatial_join(inp, ext, plan).collect()
    assert len(rows) == 1
    assert rows[0].poi_name is None  # nulls-first tie-break won the tie


def test_parallelism_guard_is_stats_only(spark):
    """The small-input guard must repartition tiny scans to
    defaultParallelism and never convert the plan to an RDD while deciding
    (the decision reads Catalyst statistics)."""
    from spark_ml_spatialjointransformer_spark.operators._guard import (
        ensure_min_parallelism,
    )

    par = spark.sparkContext.defaultParallelism
    small = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")

    guarded = ensure_min_parallelism(small)
    assert "Repartition" in guarded._jdf.queryExecution().logical().toString()
    assert guarded.rdd.getNumPartitions() == par


class TestZorder:
    def test_python_reference_goldens(self):
        from spark_ml_spatialjointransformer_spark.functions.zorder import (
            spread16_py,
            zorder_py,
        )

        # bit-interleave goldens: x at even positions, y at odd
        assert spread16_py(0) == 0
        assert spread16_py(0b1111) == 0b01010101
        assert spread16_py(0xFFFF) == 0x55555555
        assert zorder_py(0, 0) == 0
        assert zorder_py(1, 0) == 1
        assert zorder_py(0, 1) == 2
        assert zorder_py(0xFFFF, 0xFFFF) == 0xFFFFFFFF
        # interleave x=0b011, y=0b101 -> y2 x2 y1 x1 y0 x0 = 0b100111
        assert zorder_py(3, 5) == 0b100111

    def test_sql_matches_python_in_both_engines(self, spark):
        import duckdb

        from spark_ml_spatialjointransformer_spark.functions.zorder import (
            quant16_py,
            quant16_sql,
            zorder_py,
            zorder_sql,
        )

        pts = [(-180.0, -90.0), (179.9, 89.9), (0.0, 0.0), (-43.4, -5.2),
               (141.2, 78.6)]
        want = [
            zorder_py(quant16_py(x, -180.0, 360.0), quant16_py(y, -90.0, 180.0))
            for x, y in pts
        ]
        qx = quant16_sql("lon", -180.0, 360.0)
        qy = quant16_sql("lat", -90.0, 180.0)
        sql = f"SELECT {zorder_sql(qx, qy)} AS z FROM pts ORDER BY rid"
        sdf = spark.createDataFrame(
            [(i, x, y) for i, (x, y) in enumerate(pts)], "rid long, lon double, lat double"
        )
        sdf.createOrReplaceTempView("pts")
        got_spark = [r.z for r in spark.sql(sql).collect()]
        con = duckdb.connect()
        con.execute("CREATE TABLE pts AS SELECT * FROM (VALUES "
                    + ", ".join(f"({i}, {x}, {y})" for i, (x, y) in enumerate(pts))
                    + ") t(rid, lon, lat)")
        got_duck = [r[0] for r in con.execute(sql).fetchall()]
        assert got_spark == want == got_duck
        spark.catalog.dropTempView("pts")


class TestNumNeighborsValidation:
    def _t(self, **kw):
        from spark_ml_spatialjointransformer_spark.transformer import (
            BroadcastSpatialJoin,
        )

        return BroadcastSpatialJoin(
            dataset="x", dataColumns="a", datasetPoint="lon, lat",
            inputPoint="lon, lat", **kw,
        )

    def test_garbage_raises_clear_error(self):
        import pytest

        with pytest.raises(ValueError, match="numNeighbors.*'abc'"):
            self._t(numNeighbors="abc")._make_plan()
        with pytest.raises(ValueError, match="numNeighbors must be >= 1"):
            self._t(numNeighbors="0")._make_plan()

    def test_default_and_explicit(self):
        assert self._t()._make_plan().k == 1
        assert self._t(numNeighbors="5")._make_plan().k == 5


class TestBloom:
    def test_no_false_negatives_and_low_fp(self):
        """Every inserted key must pass membership (Bloom guarantee);
        disjoint keys must mostly fail (~1% at this load factor)."""
        import numpy as np

        from spark_ml_spatialjointransformer_spark.operators.bloom import (
            M_BITS,
            N_PROBES,
            _h1_h2,
            build_bitmap,
        )

        rng = np.random.default_rng(7)
        keys = rng.integers(0, 1 << 60, size=20_000, dtype=np.int64)
        other = rng.integers(0, 1 << 60, size=20_000, dtype=np.int64)
        other = np.setdiff1d(other, keys)
        bm = build_bitmap(keys)

        def member(h):
            h1, h2 = _h1_h2(h, M_BITS)
            ok = np.ones(len(h), dtype=bool)
            for i in range(N_PROBES):
                p = (h1 + i * h2) % M_BITS
                ok &= ((bm[p >> 3] >> (p & 7)) & 1).astype(bool)
            return ok

        assert member(keys).all()  # no false negatives, ever
        fp = member(other).mean()
        assert fp < 0.05, f"false-positive rate {fp:.3f} out of spec"

    def test_empty_build_rejects_everything(self):
        import numpy as np

        from spark_ml_spatialjointransformer_spark.operators.bloom import (
            M_BITS,
            N_PROBES,
            _h1_h2,
            build_bitmap,
        )

        bm = build_bitmap([])
        h = np.arange(100, dtype=np.int64)
        h1, h2 = _h1_h2(h, M_BITS)
        ok = np.ones(len(h), dtype=bool)
        for i in range(N_PROBES):
            p = (h1 + i * h2) % M_BITS
            ok &= ((bm[p >> 3] >> (p & 7)) & 1).astype(bool)
        assert not ok.any()
