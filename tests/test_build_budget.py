"""Plan-build cost of the spatial join, and the SQL text the build emits.

- every ``broadcast_join``-shaped ``transform()`` (and the j2–j5 builds)
  sends at most ``BUDGET`` Py4J commands, the same number every time;
- the pandas UDFs are built once per session, not once per ``transform()``;
- names that need quoting (a space, a backtick) and double literals parse
  exactly as the Column API would parse them.
"""

import importlib
import math
import os
import re
import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark import BroadcastSpatialJoin
from spark_ml_spatialjointransformer_spark.plans.sqltext import sql_col, sql_double
from tests.conftest import collect_sorted

#: Py4J commands one ``transform()`` may send while it builds its plan
BUDGET = 150
SF = os.environ.get("SJT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _rect(cx, cy, w, h):
    ring = [(cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h), (cx - w, cy + h)]
    ring.append(ring[0])
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


@pytest.fixture(scope="module")
def bj(spark):
    """Small inputs shaped like the benchmark's broadcast_join workload:
    points and sites around a few cities, parcels and regions as rects."""
    rng = np.random.default_rng(8)
    cities = np.array([[-74.0, 40.7], [2.35, 48.85], [139.7, 35.7], [151.2, -33.9]])

    def around(n, sigma):
        c = cities[rng.integers(0, len(cities), n)]
        return c[:, 0] + rng.normal(0, sigma, n), c[:, 1] + rng.normal(0, sigma, n)

    lon, lat = around(300, 0.2)
    slon, slat = around(40, 0.2)
    pts = spark.createDataFrame(pd.DataFrame({"id": np.arange(300), "lon": lon, "lat": lat}))
    spark.createDataFrame(
        pd.DataFrame({"site_id": np.arange(40), "slon": slon, "slat": slat})
    ).createOrReplaceTempView("bjb_sites")
    px, py = around(60, 0.3)
    par = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(60), "pwkt": [_rect(x, y, 0.02, 0.01) for x, y in zip(px, py)]})
    )
    rx, ry = around(8, 0.2)
    spark.createDataFrame(
        pd.DataFrame({"region_id": np.arange(8), "rwkt": [_rect(x, y, 0.3, 0.2) for x, y in zip(rx, ry)]})
    ).createOrReplaceTempView("bjb_regions")
    return pts, par


def _near(kernel, k, bcast="dataset", tie="site_id"):
    return BroadcastSpatialJoin(
        dataset="bjb_sites", dataColumns="site_id", datasetPoint="slon, slat",
        inputPoint="lon, lat", broadcast=bcast, predicate="nearest",
        distanceColumnAlias="dist_m", distanceKernel=kernel, numNeighbors=str(k),
        tieBreak=tie,
    )


def _shapes(pred):
    return BroadcastSpatialJoin(
        dataset="bjb_regions", dataColumns="region_id", datasetWKT="rwkt",
        inputWKT="pwkt", broadcast="dataset", predicate=pred,
    )


CALLS = {
    "nearest_geodesic": (lambda: _near("geodesic", 1), 0),
    "nearest3_haversine_bcast_input": (lambda: _near("haversine", 3, "input", "id"), 0),
    "withindist": (
        lambda: BroadcastSpatialJoin(
            dataset="bjb_sites", dataColumns="site_id", datasetPoint="slon, slat",
            inputPoint="lon, lat", broadcast="dataset", predicate="withindist 3000",
            distanceColumnAlias="dist_m",
        ),
        0,
    ),
    "within": (lambda: _shapes("within"), 1),
    "intersects": (lambda: _shapes("intersects"), 1),
}


@pytest.mark.parametrize("label", sorted(CALLS))
def test_broadcast_join_builds_within_budget(spark, bj, py4j_commands, label):
    make, which = CALLS[label]
    df = bj[which]
    make().transform(df)  # first build: the session's UDFs are made here
    counts = []
    for _ in range(2):
        with py4j_commands() as n:
            make().transform(df)
        counts.append(n.count)
    assert counts[0] == counts[1], counts
    assert counts[0] <= BUDGET, f"{label}: {counts[0]} Py4J commands"


@pytest.mark.parametrize(
    "qname",
    ["j2_within_nation", "j3_contains_nation", "j4_intersects_rects", "j5_overlaps_rects"],
)
def test_registry_spatial_join_builds_within_budget(spark, py4j_commands, monkeypatch, qname):
    """Counts only the ``spatial_join`` call of the query, not the input
    tables it is given."""
    from spark_ml_spatialjointransformer_spark.queries import QUERIES, spatial

    real, counts = spatial.spatial_join, []

    def counted(*args, **kwargs):
        with py4j_commands() as n:
            out = real(*args, **kwargs)
        counts.append(n.count)
        return out

    monkeypatch.setattr(spatial, "spatial_join", counted)
    for _ in range(3):
        QUERIES[qname].fn(spark, SF)
    assert counts[1] == counts[2], counts
    assert counts[1] <= BUDGET, f"{qname}: {counts[1]} Py4J commands"


def test_udfs_built_once_per_session(spark, bj, monkeypatch):
    from pyspark import SparkContext

    from spark_ml_spatialjointransformer_spark.functions.geodesic import (
        geodesic_distance_udf,
    )
    # the package re-exports the function under the module's name
    sj = importlib.import_module("spark_ml_spatialjointransformer_spark.operators.spatial_join")
    seen = []
    real_refine = sj._refine_udf

    def spy(*args):
        seen.append(real_refine(*args))
        return seen[-1]

    monkeypatch.setattr(sj, "_refine_udf", spy)
    for _ in range(2):
        _shapes("within").transform(bj[1])
    assert len(seen) == 2 and seen[0] is seen[1]
    monkeypatch.undo()

    factories = [
        lambda: sj._refine_udf("within", True, True),
        sj._wkt_centroid_udf,
        geodesic_distance_udf,
    ]
    mine = [f() for f in factories]
    assert all(f() is u for f, u in zip(factories, mine))

    class NewContext:
        """A restarted session, as the memo sees it: another context
        object (this one lends the live JVM for parsing type strings)."""

        def __getattr__(self, name):
            return getattr(spark.sparkContext, name)

    monkeypatch.setattr(SparkContext, "_active_spark_context", NewContext())
    assert all(f() is not u for f, u in zip(factories, mine))


@pytest.mark.parametrize(
    "v",
    [1e-05, 0.1, 3000 / 35000, 3000 / 70600.0, -0.5, -1e-05, -360.0, 0.0, -0.0,
     89.99, 1e300, 5e-324, float("inf"), float("-inf"), float("nan")],
)
def test_sql_double_equals_lit(spark, v):
    lit, text = F.lit(v), F.expr(sql_double(v))
    a, b = spark.range(1).select(lit.alias("a"), text.alias("b")).first()
    if math.isnan(v):
        assert math.isnan(a) and math.isnan(b)
    else:
        assert struct.pack(">d", a) == struct.pack(">d", b)

    def optimized(c):
        plan = spark.range(1).select(c.alias("v"))._jdf.queryExecution().optimizedPlan()
        return re.sub(r"#\d+", "#", plan.toString())

    assert optimized(lit) == optimized(text)


@pytest.mark.parametrize("name", ["a b", "`c``d`", "s.f", "`x.y`", "plain"])
def test_sql_col_parses_like_f_col(spark, name):
    df = spark.sql(
        "SELECT 1 AS `a b`, 2 AS `c``d`, named_struct('f', 3) AS s, 4 AS `x.y`, 5 AS plain"
    )
    want = df.select(F.col(name))
    got = df.selectExpr(sql_col(name))
    assert got.schema == want.schema and got.collect() == want.collect()


def test_quoted_names_match_plain_names(spark, bj):
    """Columns whose names need quoting (a space, a backtick, a dot) give
    the rows their plainly named copies give, through the kNN kernel, the
    kNN grid pass, the cell join with a condition and the WKT refine, with
    a ``filter`` on a quoted name."""
    pts, par = bj
    plain = pts.selectExpr(
        "id", "id % 3 AS grp", "lon", "lat", "id * 2 AS cd", "id * 7 AS xy"
    )
    quoted = plain.toDF("pt id", "pt grp", "p lon", "p lat", "c`d", "x.y")
    sites = spark.table("bjb_sites").selectExpr(
        "site_id", "site_id % 3 AS grp", "site_id * 5 AS sx", "slon", "slat"
    )
    sites.createOrReplaceTempView("bjb_sites_plain")
    sites.toDF("site id", "site grp", "s`x", "s lon", "s lat").createOrReplaceTempView(
        "bjb_sites_quoted"
    )

    def run(df, view, cols, point, inpoint, **kw):
        return collect_sorted(
            BroadcastSpatialJoin(
                dataset=view, dataColumns=cols, datasetPoint=point,
                inputPoint=inpoint, broadcast="dataset", **kw
            ).transform(df)
        )

    for kw in (
        # tieBreak takes exact names, not quoted ones
        dict(predicate="nearest", distanceColumnAlias="d m", filter="{sid} < 30",
             tieBreak="{tie}", numNeighbors="2"),
        dict(predicate="withindist 20000", distanceColumnAlias="d m",
             condition="left.{sgrp} = right.{pgrp}", filter="{sid} >= 5"),
    ):
        def fill(names, kw=kw):
            return {k: v.format(**names) for k, v in kw.items()}

        for strategy in ("broadcast", "partitioned"):
            want = run(
                plain, "bjb_sites_plain", "site_id as site, sx", "slon, slat", "lon, lat",
                joinStrategy=strategy,
                **fill(dict(sid="site_id", tie="site_id", sgrp="grp", pgrp="grp")),
            )
            got = run(
                quoted, "bjb_sites_quoted", "site id as site, `s``x` as sx", "s lon, s lat",
                "p lon, p lat", joinStrategy=strategy,
                **fill(dict(sid="`site id`", tie="site id", sgrp="`site grp`", pgrp="`pt grp`")),
            )
            assert want and got == want, (kw["predicate"], strategy)

    # the same column named plainly in datasetPoint and quoted in the
    # condition is kept once through numPartitions' repartition
    sites_v = spark.table("bjb_sites").selectExpr("site_id", "slon", "slat")
    sites_v.createOrReplaceTempView("bjb_sites_v")
    pts_v = pts.selectExpr("id", "lon", "lat", "lon - 0.1 AS v")
    runs = [
        collect_sorted(
            BroadcastSpatialJoin(
                dataset="bjb_sites_v", dataColumns="site_id", datasetPoint="slon, slat",
                inputPoint="lon, lat", broadcast="dataset", predicate="withindist 20000",
                condition=cond, numPartitions="3",
            ).transform(pts_v)
        )
        for cond in ("left.slon > right.v", "left.`slon` > right.`v`")
    ]
    assert runs[0] and runs[1] == runs[0]

    par_q = par.toDF("parcel id", "parcel wkt")
    spark.table("bjb_regions").toDF("region id", "region wkt").createOrReplaceTempView(
        "bjb_regions_quoted"
    )
    want = collect_sorted(_shapes("within").transform(par))
    got = collect_sorted(
        BroadcastSpatialJoin(
            dataset="bjb_regions_quoted", dataColumns="region id", datasetWKT="region wkt",
            inputWKT="parcel wkt", broadcast="dataset", predicate="within",
        ).transform(par_q)
    )
    assert want and got == want


def test_condition_names_are_exact(spark):
    from spark_ml_spatialjointransformer_spark.plans.config import (
        condition_external_columns,
        condition_input_columns,
        rewrite_condition,
    )

    cond = "left.`a b` > right.`x``y` AND left.a < left.`a` AND right.`p.q` = 1"
    assert condition_external_columns(cond) == ["a b", "a"]
    assert condition_input_columns(cond) == ["x`y", "p.q"]
    assert rewrite_condition(cond, "__e__") == (
        "`__e__a b` > `x``y` AND `__e__a` < `__e__a` AND `p.q` = 1"
    )


def test_wkt_predicates_ignore_escaped_string_literals(spark, bj):
    """The WKT number pattern is SQL text: it must read the same when the
    session keeps backslashes in string literals."""
    key = "spark.sql.parser.escapedStringLiterals"
    want = collect_sorted(_shapes("intersects").transform(bj[1]))
    spark.conf.set(key, "true")
    try:
        got = collect_sorted(_shapes("intersects").transform(bj[1]))
    finally:
        spark.conf.unset(key)
    assert want and got == want
