"""Query registry, spatial family — split from the single-module registry (r11);
see ``queries/_core.py`` for the registration machinery and shared helpers."""

from __future__ import annotations

from spark_ml_spatialjointransformer_spark.queries._core import (
    CUST_LAT_SQL,
    CUST_LON_SQL,
    DataFrame,
    F,
    NATION_RECT_SQL,
    PointColumns,
    SUPP_LAT_SQL,
    SUPP_LON_SQL,
    SUPP_RECT_SQL,
    SideConfig,
    SparkSession,
    SpatialJoinPlan,
    _F6_END_SQL,
    _F6_START_SQL,
    _NATION_RECT_CTE,
    _barrier,
    _register,
    customers_geo,
    haversine_sql,
    load_events,
    load_table,
    nations_rect,
    scratch_dir,
    spatial_join,
    suppliers_geo,
    suppliers_rect,
)



_POINT = SideConfig(point_columns=PointColumns("lon", "lat"))
_WKT = SideConfig(wkt_column="wkt")

_HAV = haversine_sql("c.lon", "c.lat", "s.lon", "s.lat")

_GEO_CTE = f"""
c AS (SELECT c_custkey, c_nationkey, {CUST_LON_SQL} AS lon, {CUST_LAT_SQL} AS lat
      FROM customer),
s AS (SELECT s_suppkey, s_nationkey, s_name, s_acctbal,
             {SUPP_LON_SQL} AS lon, {SUPP_LAT_SQL} AS lat
      FROM supplier)
"""
_SUPP_RECT_CTE = (
    "sr AS (SELECT s_suppkey, "
    + ", ".join(f"{sql} AS {k}" for k, sql in SUPP_RECT_SQL.items())
    + " FROM supplier)"
)


# ---------------------------------------------------------------------------
# spatial joins (SURVEY §2 J-rows)
# ---------------------------------------------------------------------------

_J7_ORACLE = f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM p)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn = 1
"""


@_register("j7_nearest_supplier", _J7_ORACLE)
def j7_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 nearest (+P3 distance column): per-customer nearest supplier.
    External (suppliers) broadcast, customers iterated — the scale-correct
    direction for a big-input/small-dimension kNN."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


@_register(
    "j6_withindist_pairs",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM p WHERE CAST(round(d) AS INTEGER) <= 300000
""",
)
def j6_withindist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 withindist: all customer-supplier pairs within 300 km (coarse
    window prefilter + exact refine, SpatialJoin.scala:62-80)."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="withindist 300000",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


@_register(
    "j35_poi_density",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, CAST(round({_HAV}) AS INTEGER) AS d
      FROM c CROSS JOIN s),
a AS (SELECT c_custkey, count(*) AS n_within, min(d) AS min_dist_m
      FROM p WHERE d <= 500000 GROUP BY c_custkey)
SELECT c.c_custkey, COALESCE(a.n_within, 0) AS n_within, a.min_dist_m
FROM c LEFT JOIN a ON a.c_custkey = c.c_custkey
""",
)
def j35_poi_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density feature: per customer, HOW MANY suppliers sit
    within 500 km and how far the closest one is — the POI-density /
    coverage column every geo feature table carries (j6 emits the PAIRS;
    a feature pipeline wants the per-point aggregate, zero-filled for
    points with an empty neighborhood, which the inner pair join alone
    cannot express).  NULL min_dist_m marks the empty case — distinct
    from 0, which would claim a co-located supplier.  Scale shape: the
    PARTITIONED strategy (j11's) — both sides shuffle on grid cells, no
    broadcast of the supplier side, whose every row is replicated into
    the cells of its distance window (a density aggregate is a big×big
    join by nature);
    count and min combine map-side on the customer key, and the
    zero-fill is a left join against the (already scanned) customer
    keys — no second global pass."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="withindist 500000",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        strategy="partitioned",
    )
    pairs = spatial_join(cust, supp, plan)
    agg = pairs.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.min("dist_m").alias("min_dist_m"),
    )
    return (
        cust.select("c_custkey")
        .join(agg, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce("n_within", F.lit(0)).alias("n_within"),
            "min_dist_m",
        )
    )


@_register(
    "j11_withindist_partitioned",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM p WHERE CAST(round(d) AS INTEGER) <= 300000
""",
)
def j11_withindist_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The j6 distance join under strategy='partitioned': both sides shuffle
    on the centroid grid cells (no broadcast, no memory bound on either
    side) —
    the beyond-reference scale path for big×big distance joins.  Same
    oracle as j6: hash equality proves the two strategies agree."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="withindist 300000",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        strategy="partitioned",
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


@_register(
    "j16_knn3_supplier",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM p)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn <= 3
""",
)
def j16_knn3_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest (k=3) — beyond the reference's top-1: the 3 nearest
    suppliers per customer through the zero-shuffle broadcast-kNN fast
    path (stable per-chunk argsort keeps ties in tie-break order)."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        k=3,
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


@_register("j12_nearest_partitioned", _J7_ORACLE)
def j12_nearest_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The j7 kNN under strategy='partitioned': one certified grid pass,
    neither side broadcast (operators/knn.py) — the beyond-reference scale
    path lifting the reference's broadcast memory bound for big×big
    nearest joins.  Same oracle as j7: hash equality proves the per-cell
    ring bound keeps every true nearest."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        strategy="partitioned",
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


@_register(
    "j17_nearest_cond_partitioned",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d
      FROM c CROSS JOIN s
      WHERE s.s_nationkey != c.c_nationkey),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM p)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn = 1
""",
)
def j17_nearest_cond_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j10 under strategy='partitioned': nearest supplier in a DIFFERENT
    nation with neither side broadcast — the extra theta condition filters
    candidates inside the cell join, and rows it leaves without a settled
    neighbor go through one widened pass.  Same oracle as j10: hash
    equality proves the big×big path honors the condition."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "c_nationkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        condition="left.s_nationkey != right.c_nationkey",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        strategy="partitioned",
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


@_register(
    "j18_knn3_partitioned",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM p)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn <= 3
""",
)
def j18_knn3_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j16 under strategy='partitioned': k=3 nearest with neither side
    broadcast — each cell's ring is sized from an upper bound on its rows'
    3rd-neighbor distance, and a window keeps the top 3 per row.  Same
    oracle as j16: hash equality proves the big×big top-k agrees with the
    zero-shuffle broadcast path."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        strategy="partitioned",
        k=3,
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


_PT_IN_RECT_ORACLE = f"""
WITH {_GEO_CTE},
{_NATION_RECT_CTE}
SELECT c.c_custkey, n.n_nationkey AS nat_key
FROM c JOIN n ON c.lon > n.x0 AND c.lon < n.x1 AND c.lat > n.y0 AND c.lat < n.y1
"""


@_register("j2_within_nation", _PT_IN_RECT_ORACLE)
def j2_within_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 within: customer point WITHIN nation rectangle (WKT polygon path,
    bbox-containment prefilter + exact DE-9IM refine)."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="within",
        external_side=_WKT,
        input_side=_POINT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=False,  # iterate customers, broadcast 25 nations
    )
    return spatial_join(cust, nations, plan).select("c_custkey", "nat_key")


@_register("j14_within_partitioned", _PT_IN_RECT_ORACLE)
def j14_within_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The j2 point-in-polygon join under strategy='partitioned': both
    sides shuffle on grid cells (the point side contributes its single
    cell, the polygon side its covered cells) — no broadcast, no nested
    loop.  Same oracle as j2: hash equality proves the strategies agree."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="within",
        external_side=_WKT,
        input_side=_POINT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=False,
        strategy="partitioned",
    )
    return spatial_join(cust, nations, plan).select("c_custkey", "nat_key")


@_register("j3_contains_nation", _PT_IN_RECT_ORACLE)
def j3_contains_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 contains — the J2 relation from the flipped direction (external
    iterated): nation rect CONTAINS customer point; same pair set."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="contains",
        external_side=_WKT,
        input_side=_POINT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=True,  # iterate nations, broadcast customer points
    )
    return spatial_join(cust, nations, plan).select("c_custkey", "nat_key")


@_register(
    "j4_intersects_rects",
    f"""
WITH {_SUPP_RECT_CTE},
{_NATION_RECT_CTE}
SELECT sr.s_suppkey, n.n_nationkey AS nat_key
FROM sr JOIN n
  ON sr.x0 <= n.x1 AND sr.x1 >= n.x0 AND sr.y0 <= n.y1 AND sr.y1 >= n.y0
""",
)
def j4_intersects_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 intersects: supplier service rectangles × nation rectangles."""
    supp = suppliers_rect(spark, sf_dir).select("s_suppkey", "wkt")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="intersects",
        external_side=_WKT,
        input_side=_WKT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=False,
    )
    return spatial_join(supp, nations, plan).select("s_suppkey", "nat_key")


_J4_ORACLE = f"""
WITH {_SUPP_RECT_CTE},
{_NATION_RECT_CTE}
SELECT sr.s_suppkey, n.n_nationkey AS nat_key
FROM sr JOIN n
  ON sr.x0 <= n.x1 AND sr.x1 >= n.x0 AND sr.y0 <= n.y1 AND sr.y1 >= n.y0
"""


@_register("j15_intersects_partitioned", _J4_ORACLE)
def j15_intersects_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The j4 polygon-intersection join under strategy='partitioned': both
    WKT sides explode their covered grid cells, with the bbox-intersection
    min-corner dedup keeping each pair once — the big×big path for
    intersects/overlaps.  Same oracle as j4."""
    supp = suppliers_rect(spark, sf_dir).select("s_suppkey", "wkt")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="intersects",
        external_side=_WKT,
        input_side=_WKT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=False,
        strategy="partitioned",
    )
    return spatial_join(supp, nations, plan).select("s_suppkey", "nat_key")


@_register(
    "j5_overlaps_rects",
    f"""
WITH {_SUPP_RECT_CTE},
{_NATION_RECT_CTE}
SELECT sr.s_suppkey, n.n_nationkey AS nat_key
FROM sr JOIN n
  ON sr.x0 <= n.x1 AND sr.x1 >= n.x0 AND sr.y0 <= n.y1 AND sr.y1 >= n.y0
 AND NOT (sr.x0 >= n.x0 AND sr.x1 <= n.x1 AND sr.y0 >= n.y0 AND sr.y1 <= n.y1)
 AND NOT (n.x0 >= sr.x0 AND n.x1 <= sr.x1 AND n.y0 >= sr.y0 AND n.y1 <= sr.y1)
""",
)
def j5_overlaps_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 overlaps: interiors intersect but neither side contains the other
    (rect offsets guarantee no boundary-degenerate cases — tables.py)."""
    supp = suppliers_rect(spark, sf_dir).select("s_suppkey", "wkt")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="overlaps",
        external_side=_WKT,
        input_side=_WKT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=False,
    )
    return spatial_join(supp, nations, plan).select("s_suppkey", "nat_key")


_J5_ORACLE = f"""
WITH {_SUPP_RECT_CTE},
{_NATION_RECT_CTE}
SELECT sr.s_suppkey, n.n_nationkey AS nat_key
FROM sr JOIN n
  ON sr.x0 <= n.x1 AND sr.x1 >= n.x0 AND sr.y0 <= n.y1 AND sr.y1 >= n.y0
 AND NOT (sr.x0 >= n.x0 AND sr.x1 <= n.x1 AND sr.y0 >= n.y0 AND sr.y1 <= n.y1)
 AND NOT (n.x0 >= sr.x0 AND n.x1 <= sr.x1 AND n.y0 >= sr.y0 AND n.y1 <= sr.y1)
"""


@_register("j19_contains_partitioned", _PT_IN_RECT_ORACLE)
def j19_contains_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The j3 contains join under strategy='partitioned': polygons explode
    their covered grid cells, points contribute their single cell, both
    sides shuffle — no broadcast.  Same oracle as j2/j3: hash equality
    proves broadcast and partitioned strategies agree for `contains`.
    broadcast_input=True keeps j3's predicate direction (the external
    rects are the subject: rect CONTAINS point) — under the partitioned
    strategy it only picks the left/right roles, nothing broadcasts."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="contains",
        external_side=_WKT,
        input_side=_POINT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=True,
        strategy="partitioned",
    )
    return spatial_join(cust, nations, plan).select("c_custkey", "nat_key")


@_register("j20_overlaps_partitioned", _J5_ORACLE)
def j20_overlaps_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The j5 overlaps join under strategy='partitioned': both WKT sides
    explode covered grid cells with min-corner pair dedup.  Same oracle as
    j5: hash equality proves the strategies agree for `overlaps`."""
    supp = suppliers_rect(spark, sf_dir).select("s_suppkey", "wkt")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="overlaps",
        external_side=_WKT,
        input_side=_WKT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=False,
        strategy="partitioned",
    )
    return spatial_join(supp, nations, plan).select("s_suppkey", "nat_key")


@_register(
    "j8_theta_condition",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d
      FROM c CROSS JOIN s
      WHERE c.c_nationkey != s.s_nationkey)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM p WHERE CAST(round(d) AS INTEGER) <= 500000
""",
)
def j8_theta_condition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 extra theta condition pushed into the candidate join: 500 km
    distance join excluding same-nation pairs (generalized SQL form of
    BroadcastSpatialJoin.scala:493-535)."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "c_nationkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="withindist 500000",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        condition="right.c_nationkey != left.s_nationkey",
        broadcast_input=False,
        distance_kernel="haversine",
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


@_register(
    "j13_withindist_wkt",
    f"""
WITH {_GEO_CTE},
{_NATION_RECT_CTE},
nc AS (SELECT n_nationkey, (x0 + x1) / 2 AS lon, (y0 + y1) / 2 AS lat FROM n),
p AS (SELECT c.c_custkey, nc.n_nationkey,
             {haversine_sql('c.lon', 'c.lat', 'nc.lon', 'nc.lat')} AS d
      FROM c CROSS JOIN nc)
SELECT c_custkey, n_nationkey AS nat_key, CAST(round(d) AS INTEGER) AS dist_m
FROM p WHERE CAST(round(d) AS INTEGER) <= 1500000
""",
)
def j13_withindist_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """withindist with a WKT polygon side: distance is between CENTROIDS
    (reference semantics, SpatialJoin.scala:32-40) — customers within
    1500 km of each nation rectangle's centroid.  Exercises the WKT
    centroid UDF through the value-level gate: the WKT side keys on its
    centroid's grid cell exactly like a point side."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="withindist 1500000",
        external_side=_WKT,
        input_side=_POINT,
        data_columns=(("n_nationkey", "nat_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
    )
    return spatial_join(cust, nations, plan).select("c_custkey", "nat_key", "dist_m")


@_register(
    "j9_nearest_customer_per_supplier",
    f"""
WITH {_GEO_CTE},
p AS (SELECT s.s_suppkey, c.c_custkey, {_HAV} AS d FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY s_suppkey ORDER BY d, c_custkey) AS rn
      FROM p)
SELECT s_suppkey AS supp_key, c_custkey AS cust_key, CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn = 1
""",
)
def j9_nearest_customer_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 direction swap: iterate the external (suppliers), broadcast the
    input (customers) — one row per supplier (reference cardinality
    semantics, README.md:170-186)."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=True,
        distance_kernel="haversine",
        tie_break=("c_custkey",),
    )
    return (
        spatial_join(cust, supp, plan)
        .select("supp_key", F.col("c_custkey").alias("cust_key"), "dist_m")
    )


@_register(
    "j10_nearest_other_nation",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d
      FROM c CROSS JOIN s
      WHERE s.s_nationkey != c.c_nationkey),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM p)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn = 1
""",
)
def j10_nearest_other_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+J8 combined: nearest supplier in a DIFFERENT nation per customer.
    The numeric condition rides the zero-shuffle kNN kernel as a candidate
    mask; the same condition in a spelling the kernel's parser rejects takes
    the grid pass with the same rows (tests/test_plans.py pins both)."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "c_nationkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        condition="left.s_nationkey != right.c_nationkey",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
    )
    return spatial_join(cust, supp, plan).select("c_custkey", "supp_key", "dist_m")


@_register(
    "f1_filtered_nearest",
    f"""
WITH {_GEO_CTE},
sf AS (SELECT * FROM s WHERE s_acctbal > 1000.0),
p AS (SELECT c.c_custkey, s.s_suppkey, s.s_name, {_HAV} AS d
      FROM c CROSS JOIN sf s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM p)
SELECT c_custkey, s_suppkey AS supp_key, s_name AS supp_name,
       CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn = 1
""",
)
def f1_filtered_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 catalog source + F1 pre-join filter + P1/P2 projection/aliasing +
    P3 distance, driven through the ML Transformer surface."""
    from spark_ml_spatialjointransformer_spark.transformer import BroadcastSpatialJoin

    suppliers_geo(spark, sf_dir).createOrReplaceTempView("sjt_suppliers_geo")
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    t = BroadcastSpatialJoin(
        dataset="sjt_suppliers_geo",
        dataColumns="s_suppkey as supp_key, s_name as supp_name",
        datasetPoint="lon, lat",
        inputPoint="lon, lat",
        predicate="nearest",
        broadcast="dataset",
        filter="s_acctbal > 1000.0",
        distanceColumnAlias="dist_m",
        distanceKernel="haversine",
        tieBreak="s_suppkey",
    )
    return t.transform(cust).select("c_custkey", "supp_key", "supp_name", "dist_m")


_J22_ORACLE = f"""
WITH {_GEO_CTE},
{_NATION_RECT_CTE}
SELECT c.c_custkey, CAST(n.n_nationkey AS BIGINT) AS nat_key
FROM c LEFT JOIN n
  ON c.lon > n.x0 AND c.lon < n.x1 AND c.lat > n.y0 AND c.lat < n.y1
"""


@_register("j22_within_left_outer", _J22_ORACLE)
def j22_within_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER spatial join — beyond the reference, which is inner-only
    by contract (README.md:148): every input row survives, unmatched ones
    with a null external key.  Composed from the engine's inner core plus
    one broadcast LEFT ANTI join on the matched input ids — the general
    recipe for outer-ing ANY of the six predicates without touching the
    join kernels.  Scale shape: the anti join broadcasts only the DISTINCT
    matched-id set (bounded by the inner result), the input scans once per
    leg, and both legs stay shuffle-free under the broadcast strategy."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    nations = nations_rect(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="within",
        external_side=_WKT,
        input_side=_POINT,
        data_columns=(("n_nationkey", "nat_key"),),
        broadcast_input=False,
    )
    # the inner join result feeds BOTH legs (the output union and the
    # matched-id anti join); without an RDD barrier the cell join + Arrow
    # refine subtree compiles into — and executes in — each leg, doubling
    # the Python refine passes (measured in the executed plan: two
    # ArrowEvalPython nodes).  The lazy checkpoint computes it once.
    inner = (
        spatial_join(cust, nations, plan)
        .select("c_custkey", "nat_key")
        .transform(_barrier)
    )
    matched = inner.select("c_custkey").distinct()
    unmatched = cust.join(F.broadcast(matched), "c_custkey", "left_anti").select(
        "c_custkey", F.lit(None).cast("long").alias("nat_key")
    )
    return inner.unionByName(unmatched)


_F2_ORACLE = f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM p)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn <= 3
"""


@_register("f2_transformer_knn_partitioned", _F2_ORACLE)
def f2_transformer_knn_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL extension surface through the ML Transformer API in one
    query: strategy='partitioned' (big×big grid kNN, no broadcast) AND
    numNeighbors=3 (top-k), driven entirely by string params — proving a
    reference user reaches the beyond-reference scale paths without
    leaving the Transformer interface.  Oracle: brute-force 3-nearest
    (same as j16, which runs the broadcast fast path on the identical
    data — so the two strategies are ALSO pinned equal to each other)."""
    from spark_ml_spatialjointransformer_spark.transformer import (
        BroadcastSpatialJoin,
    )

    suppliers_geo(spark, sf_dir).createOrReplaceTempView("sjt_f2_suppliers")
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    t = BroadcastSpatialJoin(
        dataset="sjt_f2_suppliers",
        dataColumns="s_suppkey as supp_key",
        datasetPoint="lon, lat",
        inputPoint="lon, lat",
        predicate="nearest",
        broadcast="dataset",
        distanceColumnAlias="dist_m",
        distanceKernel="haversine",
        tieBreak="s_suppkey",
        joinStrategy="partitioned",
        numNeighbors="3",
    )
    return t.transform(cust).select("c_custkey", "supp_key", "dist_m")


def _j21_oracle() -> str:
    from spark_ml_spatialjointransformer_spark.functions.zorder import (
        quant16_sql,
        zorder_sql,
    )

    qx = quant16_sql("lon", -180.0, 360.0)
    qy = quant16_sql("lat", -90.0, 180.0)
    return f"""
WITH c AS (SELECT c_custkey, {CUST_LON_SQL} AS lon, {CUST_LAT_SQL} AS lat
           FROM customer),
q AS (SELECT c_custkey, {qx} AS qx, {qy} AS qy FROM c),
z AS (SELECT c_custkey, {zorder_sql("qx", "qy")} AS zkey FROM q)
SELECT zkey >> 24 AS tile, CAST(count(*) AS BIGINT) AS n,
       CAST(min(zkey) AS BIGINT) AS z_min, CAST(max(zkey) AS BIGINT) AS z_max
FROM z GROUP BY tile
"""


@_register("j21_zorder_tiles", _j21_oracle())
def j21_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key + per-tile layout profile — the
    data-LAYOUT half of spatial performance: sorting a 100 TB point table
    by this key before writing clusters spatially-near rows into the same
    parquet row groups, so min/max stats prune range scans to the query
    window (the OPTIMIZE ZORDER BY technique, as plain engine-agnostic
    integer expressions).  The key itself is pure BIGINT shift/mask
    interleaving after one bit-exact float quantize, verified here by tile
    aggregates (count + z-range per 256-tile bucket) against a DuckDB
    replay of the identical expression text.  Scale shape: per-row codegen
    map + one map-side-combined aggregate over ≤256 groups; the write-path
    use is `df.repartitionByRange/sortWithinPartitions(zkey)` — one range
    shuffle, amortized forever after by pruned reads."""
    from spark_ml_spatialjointransformer_spark.functions.zorder import (
        quant16_sql,
        zorder_sql,
    )

    return (
        customers_geo(spark, sf_dir)
        .select(
            "c_custkey",
            F.expr(quant16_sql("lon", -180.0, 360.0)).alias("qx"),
            F.expr(quant16_sql("lat", -90.0, 180.0)).alias("qy"),
        )
        .select("c_custkey", F.expr(zorder_sql("qx", "qy")).alias("zkey"))
        .groupBy(F.expr("zkey >> 24").alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zkey").cast("bigint").alias("z_min"),
            F.max("zkey").cast("bigint").alias("z_max"),
        )
    )


#: j25's coordinates stay on the INTEGER tenth-degree grid the synth
#: formula defines (no /10 − 180 projection), so every pairwise squared
#: distance is exact int64 and the medoid argmin is engine-identical.
_J25_ORACLE = """
WITH p AS (SELECT c_custkey, c_nationkey,
                  c_custkey * 9973 % 3600 AS x,
                  c_custkey * 7919 % 1700 AS y
           FROM customer),
d AS (SELECT a.c_nationkey, a.c_custkey,
             sum((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) AS s
      FROM p a JOIN p b ON a.c_nationkey = b.c_nationkey
      GROUP BY a.c_nationkey, a.c_custkey),
r AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY s, c_custkey) AS rn
      FROM d)
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       c_custkey AS medoid_custkey, CAST(s AS BIGINT) AS sum_d2
FROM r WHERE rn = 1
"""


@_register("j25_nation_medoid", _J25_ORACLE)
def j25_nation_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation MEDOID — the most central actual customer (argmin of
    summed squared grid distance to every compatriot): the custom
    grouped AGGREGATION surface (``applyInPandas`` over a groupBy) that
    no built-in expresses, because the medoid needs every pairwise
    distance inside the group.  The kernel is one vectorized numpy
    O(n²) pass per nation — exact int64 throughout, ties to the lowest
    custkey.  Scale shape: ONE nation-keyed exchange; the O(n²) lives
    inside each group, so the operator's contract is bounded group size
    (the oracle's relational form would shuffle the full self-join —
    n² ROWS — instead of n; at production scale groups beyond the bound
    take the CLARA sampling route).  Unlike a medoid, a mean/centroid
    needs no such operator — this exists precisely for the
    argmin-over-members class (medoid, Kemeny ranking, min-sum
    facility)."""
    import numpy as np
    import pandas as pd

    from spark_ml_spatialjointransformer_spark.functions._serde import (
        ensure_udf_portability,
    )

    ensure_udf_portability()
    p = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_custkey") * 9973 % 3600).alias("x"),
        (F.col("c_custkey") * 7919 % 1700).alias("y"),
    )

    def medoid(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype=np.int64)
        y = pdf["y"].to_numpy(dtype=np.int64)
        k = pdf["c_custkey"].to_numpy(dtype=np.int64)
        s = (
            ((x[:, None] - x[None, :]) ** 2).sum(axis=1)
            + ((y[:, None] - y[None, :]) ** 2).sum(axis=1)
        )
        order = np.lexsort((k, s))
        i = order[0]
        return pd.DataFrame(
            {
                "c_nationkey": [int(pdf["c_nationkey"].iloc[0])],
                "medoid_custkey": [int(k[i])],
                "sum_d2": [int(s[i])],
            }
        )

    return p.groupBy("c_nationkey").applyInPandas(
        medoid,
        "c_nationkey long, medoid_custkey long, sum_d2 long",
    )


#: j23 cells: customer points quantize to 5° tiles straight from the
#: INTEGER key synthesis (tenth-degrees // 50) — no floating point
#: anywhere, so the raster is engine-exact by construction.
_J23_ORACLE = """
WITH p AS (SELECT (c_custkey * 9973 % 3600) // 50 AS cx,
                  (c_custkey * 7919 % 1200) // 50 AS cy
           FROM customer),
cnt AS (SELECT cx, cy, count(*) AS n FROM p GROUP BY cx, cy),
contrib AS (SELECT cnt.cx + dx.d AS tx, cnt.cy + dy.d AS ty, cnt.n
            FROM cnt
            CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
            CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy),
sm AS (SELECT tx, ty, sum(n) AS n_smooth FROM contrib GROUP BY tx, ty)
SELECT cnt.cx, cnt.cy, CAST(cnt.n AS BIGINT) AS n,
       CAST(sm.n_smooth AS BIGINT) AS n_smooth
FROM cnt JOIN sm ON sm.tx = cnt.cx AND sm.ty = cnt.cy
"""


@_register("j23_tile_heatmap", _J23_ORACLE)
def j23_tile_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density heatmap with 3×3 stencil smoothing: point counts
    per 5° tile, then each occupied tile's box-filtered neighborhood sum
    — a raster convolution expressed RELATIONALLY (each cell explodes to
    its 9 neighbor targets, the sum re-aggregates) — the standard trick
    that turns any fixed-stencil grid operation into two hash
    aggregations, which is how heatmaps/KDE-lite run at 100 TB without a
    raster engine.  Tiles come from integer key math (no FP), counts are
    integer; scale shape: two map-combined aggregations on tile keys +
    one join back to occupied tiles (broadcast-size: the tile universe
    is bounded by the grid, not the data)."""
    p = load_table(spark, sf_dir, "customer").select(
        F.expr("(c_custkey * 9973 % 3600) div 50").alias("cx"),
        F.expr("(c_custkey * 7919 % 1200) div 50").alias("cy"),
    )
    cnt = p.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    offs = F.expr(
        "explode(transform(sequence(0, 8),"
        " i -> struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))"
    )
    contrib = cnt.select("cx", "cy", "n", offs.alias("o")).select(
        (F.col("cx") + F.col("o.dx")).alias("tx"),
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        "n",
    )
    sm = contrib.groupBy("tx", "ty").agg(F.sum("n").alias("n_smooth"))
    return cnt.join(
        sm, (F.col("tx") == F.col("cx")) & (F.col("ty") == F.col("cy"))
    ).select(
        "cx",
        "cy",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_smooth").cast("bigint").alias("n_smooth"),
    )


@_register(
    "j24_bucketed_spatial",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s)
SELECT c_custkey, s_suppkey AS supp_key, CAST(round(d) AS INTEGER) AS dist_m
FROM p WHERE CAST(round(d) AS INTEGER) <= 200000
""",
)
def j24_bucketed_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-layout half of the SPATIAL join story as a LIVE query
    (a9's recipe applied to geometry): both sides are WRITTEN bucketed on
    a 2° latitude band, the supplier side replicated to its ±1 HALO bands
    at write time, and the 200 km withindist join then reads co-located
    buckets with ZERO exchange on either side — only the exact haversine
    refine runs at query time.  Correctness of the 1-band halo: 200 km <
    2°·110.5 km/° of latitude, so matching pairs differ by ≤ 1 band and
    each pair meets exactly ONCE, on the customer's own band (customers
    are written un-replicated).  At scale this is the nightly-maintained
    layout that turns every recurring proximity join from two full-data
    shuffles into none; values are pinned against the plain cross-join
    oracle, proving the halo write/read round-trip loses nothing.
    Latitude (not lon/lat cells) keys the buckets because a degree of
    latitude is distance-true at every latitude — no polar special case
    in the layout."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    band = lambda c: F.floor(c / F.lit(2.0)).cast("long")  # noqa: E731
    cust = customers_geo(spark, sf_dir).select(
        "c_custkey", "lon", "lat", band(F.col("lat")).alias("band")
    )
    supp = suppliers_geo(spark, sf_dir).select(
        F.col("s_suppkey"),
        F.col("lon").alias("s_lon"),
        F.col("lat").alias("s_lat"),
        band(F.col("lat")).alias("own_band"),
    )
    halo = supp.select(
        "s_suppkey",
        "s_lon",
        "s_lat",
        F.explode(
            F.array(
                F.col("own_band") - 1, F.col("own_band"), F.col("own_band") + 1
            )
        ).alias("band"),
    )
    specs = [
        (f"sjt_bkt_cb_{tag}", cust),
        (f"sjt_bkt_sb_{tag}", halo),
    ]
    for name, df in specs:
        (
            df.write.bucketBy(8, "band")
            .sortBy("band")
            .option("path", scratch_dir(spark, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    c = spark.table(f"sjt_bkt_cb_{tag}")
    s = spark.table(f"sjt_bkt_sb_{tag}")
    j = c.join(s, "band").withColumn(
        "dist_m",
        F.round(
            F.expr(haversine_sql("lon", "lat", "s_lon", "s_lat", double_suffix="D"))
        ).cast("int"),
    )
    return j.where(F.col("dist_m") <= 200000).select(
        "c_custkey", F.col("s_suppkey").alias("supp_key"), "dist_m"
    )


#: j26's oracle scores the rectangles in closed form from the same
#: integer generators the WKT was synthesized from (width/height are exact
#: ints, so area/perimeter are integer-exact); the Spark side must recover
#: them from the WKT TEXT via the shoelace formula — parse noise ~1e-12
#: vanishes under the e4 rounding.
_J26_ORACLE = f"""
WITH n AS (SELECT n_nationkey, n_name,
                  {NATION_RECT_SQL['x0']} AS x0, {NATION_RECT_SQL['y0']} AS y0,
                  (n_nationkey % 7) * 3 + 4 AS w,
                  (n_nationkey % 5) * 2 + 3 AS h
           FROM nation)
SELECT n_nationkey, n_name,
       CAST(w * h * 10000 AS BIGINT) AS area_e4,
       CAST(2 * (w + h) * 10000 AS BIGINT) AS perim_e4,
       CAST(round((x0 + w / 2.0) * 10000e0) AS BIGINT) AS cx_e4,
       CAST(round((y0 + h / 2.0) * 10000e0) AS BIGINT) AS cy_e4
FROM n
"""


@_register("j26_polygon_area", _J26_ORACLE)
def j26_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry measures straight off WKT text — shoelace area, perimeter,
    and area centroid of each nation polygon — computed entirely with JVM
    higher-order functions (regexp ring extract → coordinate structs →
    ``aggregate`` folds); no Python touches a row, unlike the DE-9IM
    refine kernels which genuinely need Arrow.  The oracle knows the
    rectangles' closed-form answers from their integer generators, so any
    parse slip, ring-order mistake, or off-by-one in the fold breaks the
    value hash.  The same fold works for any simple polygon (the shoelace
    is orientation-safe under abs), making this the measurement primitive
    a geo feature pipeline computes during ingest — embarrassingly
    parallel, zero shuffle.  Reference WKT semantics:
    DatasetGeometry.scala:54-58."""
    pts = (
        "transform(split(regexp_extract(wkt,"
        " '^POLYGON\\\\(\\\\((.*)\\\\)\\\\)$', 1), ','),"
        " s -> struct(CAST(split(trim(s), ' ')[0] AS DOUBLE) AS x,"
        "             CAST(split(trim(s), ' ')[1] AS DOUBLE) AS y))"
    )
    cross_i = (
        "element_at(__p, i + 1).x * element_at(__p, i + 2).y"
        " - element_at(__p, i + 2).x * element_at(__p, i + 1).y"
    )
    two_a = (
        f"aggregate(sequence(0, size(__p) - 2), CAST(0 AS DOUBLE),"
        f" (acc, i) -> acc + {cross_i})"
    )
    perim = (
        "aggregate(sequence(0, size(__p) - 2), CAST(0 AS DOUBLE),"
        " (acc, i) -> acc + sqrt("
        "   pow(element_at(__p, i + 2).x - element_at(__p, i + 1).x, 2)"
        " + pow(element_at(__p, i + 2).y - element_at(__p, i + 1).y, 2)))"
    )
    cx_num = (
        f"aggregate(sequence(0, size(__p) - 2), CAST(0 AS DOUBLE),"
        f" (acc, i) -> acc + (element_at(__p, i + 1).x"
        f" + element_at(__p, i + 2).x) * ({cross_i}))"
    )
    cy_num = (
        f"aggregate(sequence(0, size(__p) - 2), CAST(0 AS DOUBLE),"
        f" (acc, i) -> acc + (element_at(__p, i + 1).y"
        f" + element_at(__p, i + 2).y) * ({cross_i}))"
    )
    return (
        nations_rect(spark, sf_dir)
        .select("n_nationkey", "n_name", F.expr(pts).alias("__p"))
        .withColumn("__2a", F.expr(two_a))
        .select(
            "n_nationkey",
            "n_name",
            F.expr("CAST(round(abs(__2a) / 2 * 10000e0) AS BIGINT)").alias(
                "area_e4"
            ),
            F.expr(f"CAST(round(({perim}) * 10000e0) AS BIGINT)").alias(
                "perim_e4"
            ),
            F.expr(f"CAST(round(({cx_num}) / (3 * __2a) * 10000e0) AS BIGINT)")
            .alias("cx_e4"),
            F.expr(f"CAST(round(({cy_num}) / (3 * __2a) * 10000e0) AS BIGINT)")
            .alias("cy_e4"),
        )
    )


_J27_ORACLE = f"""
WITH c AS (SELECT c_custkey, {CUST_LON_SQL} AS lon, {CUST_LAT_SQL} AS lat
           FROM customer),
n AS (SELECT {NATION_RECT_SQL['x0']} AS x0, {NATION_RECT_SQL['y0']} AS y0,
             {NATION_RECT_SQL['x1']} AS x1, {NATION_RECT_SQL['y1']} AS y1
      FROM nation)
SELECT c_custkey,
       CAST(round(lon * 10e0) AS BIGINT) AS lon_e1,
       CAST(round(lat * 10e0) AS BIGINT) AS lat_e1
FROM c
WHERE NOT EXISTS (SELECT 1 FROM n
                  WHERE c.lon BETWEEN n.x0 AND n.x1
                    AND c.lat BETWEEN n.y0 AND n.y1)
"""


@_register("j27_spatial_antijoin", _J27_ORACLE)
def j27_spatial_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial NOT EXISTS — the customers covered by NO nation rectangle
    (the coverage-gap audit every geofencing dataset runs), i.e. the
    complement of j2's within join as a LEFT ANTI with a non-equi
    containment condition.  The dimension side is tiny by contract, so
    the right plan is a broadcast nested-loop ANTI join — each row tests
    25 intervals and ships nothing; no shuffle at any scale where the
    polygon dim fits a broadcast (the partitioned fallback is j14's
    grid).  Output coordinates ride as e1-scaled ints (the synth grid's
    native precision)."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    rects = load_table(spark, sf_dir, "nation").select(
        F.expr(NATION_RECT_SQL["x0"]).alias("x0"),
        F.expr(NATION_RECT_SQL["y0"]).alias("y0"),
        F.expr(NATION_RECT_SQL["x1"]).alias("x1"),
        F.expr(NATION_RECT_SQL["y1"]).alias("y1"),
    )
    cond = (
        F.col("lon").between(F.col("x0"), F.col("x1"))
        & F.col("lat").between(F.col("y0"), F.col("y1"))
    )
    return cust.join(F.broadcast(rects), cond, "left_anti").select(
        "c_custkey",
        F.expr("CAST(round(lon * 10e0) AS BIGINT)").alias("lon_e1"),
        F.expr("CAST(round(lat * 10e0) AS BIGINT)").alias("lat_e1"),
    )


_J29_ORACLE = f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s),
f AS (SELECT c_custkey, s_suppkey, CAST(round(d) AS INTEGER) AS dist_m
      FROM p WHERE CAST(round(d) AS INTEGER) <= 300000),
m AS (SELECT c_custkey, s_suppkey AS supp_key, dist_m FROM (
        SELECT *, row_number() OVER (PARTITION BY c_custkey
                                     ORDER BY dist_m, s_suppkey) AS rn
        FROM f) x WHERE rn = 1)
SELECT c.c_custkey, m.supp_key, m.dist_m
FROM c LEFT JOIN m USING (c_custkey)
"""


@_register("j29_bounded_nearest", _J29_ORACLE)
def j29_bounded_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded nearest with outer semantics: each customer's closest
    supplier WITHIN 300 km, or NULLs if none is in range — the
    'nearest, but only if it's actually nearby' variant that pure
    `nearest` (always matches, j7) and pure `withindist` (all pairs,
    j6) each miss half of.  Composition: the j6 two-phase radius join
    (grid prefilter + exact Int-meter refine, so the candidate set is
    radius-bounded BEFORE any per-customer work), a (dist, key)
    min-struct partial aggregation — never a window over all in-range
    pairs — and one LEFT OUTER attach that preserves matchless
    customers.  At scale the expensive stage inherits j6's shape
    (shuffle on grid keys only); the outer join keys on c_custkey.
    Reference: SpatialJoinTransformer's nearest is unbounded inner
    (SpatialJoin.scala:100-118); the bounded-outer form is the
    beyond-reference variant real geofencing asks for."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="withindist 300000",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
    )
    pairs = spatial_join(cust, supp, plan).select(
        "c_custkey", "supp_key", "dist_m"
    )
    best = pairs.groupBy("c_custkey").agg(
        F.min(F.struct(F.col("dist_m"), F.col("supp_key"))).alias("b")
    )
    best = best.select(
        "c_custkey",
        F.col("b.supp_key").alias("supp_key"),
        F.col("b.dist_m").alias("dist_m"),
    )
    return cust.select("c_custkey").join(best, "c_custkey", "left_outer")


#: event-point synthesis for the trace query — multipliers distinct from
#: the customer/supplier grids so traces are not colocated with either
_EVT_LON_SQL = "(event_id * 6007 % 3600) / 10.0 - 180.0"
_EVT_LAT_SQL = "(event_id * 4241 % 1200) / 10.0 - 60.0"

_J28_ORACLE = f"""
WITH pts AS (SELECT user_id, event_id,
                    {_EVT_LON_SQL} AS lon, {_EVT_LAT_SQL} AS lat
             FROM events),
seg AS (SELECT user_id,
               lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
               lon, lat
        FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
SELECT user_id,
       CAST(count(plon) AS BIGINT) AS n_seg,
       CAST(coalesce(sum(CAST(round({{hav}}) AS BIGINT)), 0) AS BIGINT)
         AS trace_m
FROM seg GROUP BY user_id
""".format(hav=haversine_sql("plon", "plat", "lon", "lat"))


@_register("j28_trace_length", _J28_ORACLE)
def j28_trace_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user GPS trace length: order each user's event points by
    sequence id, haversine each consecutive segment, round to integer
    meters PER SEGMENT (so the sum is integer-exact in both engines),
    and total per user — the trajectory-mileage query every telemetry
    pipeline runs.  The lag window and the per-user rollup share ONE
    user_id exchange (Catalyst reuses the window's partitioning for the
    groupBy); trig stays in whole-stage codegen via
    :func:`haversine_sql`.  At 100 TB traces shard by user — no
    cross-user data motion exists in the plan.  Ordering is by the
    integer sequence id, not the timestamp: the driver's parquet carries
    nano timestamps that Spark truncates to micros (tables.py:25-38), so
    a ts order could tie-break differently across engines."""
    from pyspark.sql.window import Window

    pts = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.expr(_EVT_LON_SQL).alias("lon"),
        F.expr(_EVT_LAT_SQL).alias("lat"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    seg = pts.select(
        "user_id",
        F.lag("lon").over(w).alias("plon"),
        F.lag("lat").over(w).alias("plat"),
        "lon",
        "lat",
    )
    hav = F.expr(haversine_sql("plon", "plat", "lon", "lat", double_suffix="D"))
    return seg.groupBy("user_id").agg(
        F.count("plon").alias("n_seg"),
        F.coalesce(F.sum(F.round(hav).cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("trace_m"),
    )


_J30_ORACLE = """
WITH pts AS (SELECT (c_custkey * 9973 % 3600) // 100 AS cx,
                    (c_custkey * 7919 % 1700) // 100 AS cy
             FROM customer),
cells AS (SELECT cx, cy, count(*) AS n_raw FROM pts GROUP BY cx, cy),
off AS (SELECT unnest(range(-1, 2)) AS o),
sm AS (SELECT c.cx + ox.o AS cx, c.cy + oy.o AS cy,
              CAST(sum(c.n_raw) AS BIGINT) AS n_smooth
       FROM cells c CROSS JOIN off ox CROSS JOIN off oy
       GROUP BY c.cx + ox.o, c.cy + oy.o)
SELECT cells.cx, cells.cy, cells.n_raw, sm.n_smooth
FROM cells JOIN sm ON sm.cx = cells.cx AND sm.cy = cells.cy
"""


@_register("j30_grid_density_smooth", _J30_ORACLE)
def j30_grid_density_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-kernel density smoothing: customer points bucketed onto a
    36×17 integer grid, each occupied cell reporting its raw count and
    its 3×3-neighborhood box-kernel sum — the density surface behind
    spatial hotspot maps and KDE heatmap tiles (j23's heatmap with a
    smoothing kernel on top).  Cell ids derive from pure integer
    arithmetic on the key (no float round-trip to disagree on a cell
    boundary).  Scale shape: points collapse to per-cell counts FIRST
    (map-side combine — the only corpus-sized pass), then the 9-way
    offset fan-out runs on the ≤|cells| frame; at finer grids the
    neighbor join stays cell-count-bound, never point-bound."""
    pts = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 9973 % 3600).cast("long").alias("mx"),
        (F.col("c_custkey") * 7919 % 1700).cast("long").alias("my"),
    ).select(
        F.expr("mx div 100").alias("cx"), F.expr("my div 100").alias("cy")
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n_raw"))
    fan = (
        cells.select(
            "cx", "cy", "n_raw",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("ox"),
        )
        .select(
            "cx", "cy", "n_raw", "ox",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("oy"),
        )
        .select(
            (F.col("cx") + F.col("ox")).alias("sx"),
            (F.col("cy") + F.col("oy")).alias("sy"),
            "n_raw",
        )
    )
    sm = fan.groupBy("sx", "sy").agg(
        F.sum("n_raw").cast("bigint").alias("n_smooth")
    )
    return cells.join(
        sm,
        (F.col("sx") == F.col("cx")) & (F.col("sy") == F.col("cy")),
    ).select("cx", "cy", "n_raw", "n_smooth")


_F3_ORACLE = f"""
WITH {_GEO_CTE},
nf AS (SELECT n_nationkey, n_name,
              {", ".join(f"{sql} AS {k}" for k, sql in NATION_RECT_SQL.items())}
       FROM nation WHERE n_regionkey IN (0, 1, 2))
SELECT c.c_custkey, nf.n_nationkey AS nat_key, nf.n_name AS nat_name
FROM c JOIN nf
  ON c.lon > nf.x0 AND c.lon < nf.x1 AND c.lat > nf.y0 AND c.lat < nf.y1
 AND nf.n_nationkey <> c.c_nationkey
"""


@_register("f3_transformer_within_filtered", _F3_ORACLE)
def f3_transformer_within_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full reference parameter surface in ONE Transformer call, on
    the WKT-polygon path: catalog dataset (S1) + pre-join `filter` (F1,
    region prune) + `dataColumns` aliases (P2) + `within` over a
    dataset WKT column (J2/X2) + extra theta `condition` (J8, visiting
    a FOREIGN nation's box) + `numPartitions` repartition (X1) — f1
    exercises the point/nearest half of the surface, this covers the
    polygon/predicate/condition half.  Reference parity:
    SpatialJoinTransformer.scala's param list drives exactly this
    combination; the oracle is the plain relational join.  Scale shape:
    25 filtered polygons broadcast; the theta condition evaluates as a
    post-match residual on the bbox-prefiltered pairs."""
    from spark_ml_spatialjointransformer_spark.transformer import (
        BroadcastSpatialJoin,
    )

    nations_rect(spark, sf_dir).createOrReplaceTempView("sjt_nations_rect")
    cust = customers_geo(spark, sf_dir).select(
        "c_custkey", "c_nationkey", "lon", "lat"
    )
    t = BroadcastSpatialJoin(
        dataset="sjt_nations_rect",
        dataColumns="n_nationkey as nat_key, n_name as nat_name",
        datasetWKT="wkt",
        inputPoint="lon, lat",
        predicate="within",
        broadcast="dataset",
        filter="n_regionkey IN (0, 1, 2)",
        condition="left.n_nationkey != right.c_nationkey",
        numPartitions="7",
    )
    out = t.transform(cust)
    # X1 numPartitions=7 contract pinned in tests/test_r9.py (a bare
    # assert here is skipped under python -O and forces a DF->RDD
    # conversion on every plan build — r8 ADVICE)
    return out.select("c_custkey", "nat_key", "nat_name")
#: d20: CUSUM changepoint per event-type stream — the argmax over k of
#: |n·prefix_k − k·total| (the mean-shift statistic cross-multiplied by n
#: so NO division or float enters; the winning k is where the running mean
#: breaks from the global mean).  One event_type window exchange serves all
#: four windows AND the rank window (same partition spec).  Integer bound:
#: n²·v_max must fit int64 — ~5.6e16 at sf0.1·5× (n≈1e5/type, v_e4≤5.6e6);
#: beyond n≈4e7 rows/type switch the statistic to DECIMAL(38,0).


_J31_ORACLE = """
WITH RECURSIVE cells AS (
  SELECT ((c_custkey * 9973) % 3600) // 300 AS cx,
         ((c_custkey * 7919) % 1700) // 300 AS cy,
         count(*) AS n
  FROM customer GROUP BY 1, 2),
tot AS (SELECT sum(n) AS t, count(*) AS oc FROM cells),
dense AS (SELECT cx, cy, n, cx * 100 + cy AS cid
          FROM cells, tot WHERE n * oc > t),
edges AS (SELECT a.cid AS s, b.cid AS d FROM dense a JOIN dense b
          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
             AND a.cid <> b.cid),
reach(v, lbl) AS (
  SELECT cid, cid FROM dense
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.v)
SELECT d.cx AS cell_x, d.cy AS cell_y, CAST(d.n AS BIGINT) AS n_points,
       CAST(min(r.lbl) AS BIGINT) AS cluster_id
FROM dense d JOIN reach r ON r.v = d.cid
GROUP BY d.cx, d.cy, d.n
"""


@_register("j31_grid_dbscan", _J31_ORACLE)
def j31_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN: density clustering of customer points — bucket to 30°
    grid cells (pure-integer cell keys from the key-derived tenth-degree
    coordinates, so no float enters), keep cells with ABOVE-AVERAGE count
    (the relative threshold `n·occupied > total` is scale-invariant —
    cross-multiplied, integer-exact), connect 8-adjacent dense cells, and
    label each connected component with its minimum cell id (DBSCAN with
    eps = one cell, minPts = the corpus average).  Scale shape: ONE
    point→cell combine is the only corpus-sized exchange; everything after
    runs on the grid-bounded dense-cell set (≤72 cells at this grid, ≤#cells
    at any), whose 8-adjacency self-join broadcasts and whose closure runs
    as a driver-side union-find over the GRID-BOUNDED dense-cell id list;
    past 4096 dense cells (a finer regrid) `_grid_component_labels`
    automatically routes the SAME labeling through the distributed
    `dedup_connected_components` Hash-Min closure instead — identical
    answers (pinned by tests/test_r7_advice.py), ~3 s more fixed loop cost,
    no scale cliff.  Oracle: DuckDB recursive label-reach CTE."""
    cells = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.expr("CAST(((c_custkey * 9973) % 3600) DIV 300 AS BIGINT)")
            .alias("cx"),
            F.expr("CAST(((c_custkey * 7919) % 1700) DIV 300 AS BIGINT)")
            .alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("oc")
    )
    dense = (
        cells.crossJoin(F.broadcast(tot))
        .where(F.col("n") * F.col("oc") > F.col("t"))
        .select("cx", "cy", "n", (F.col("cx") * 100 + F.col("cy")).alias("cid"))
        .transform(_barrier)
    )
    a = dense.select(
        F.col("cx").alias("ax"), F.col("cy").alias("ay"),
        F.col("cid").alias("id_a"),
    )
    b = dense.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("cid").alias("id_b"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.abs(F.col("ax") - F.col("bx")) <= 1)
        & (F.abs(F.col("ay") - F.col("by")) <= 1)
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b")
    lut = _grid_component_labels(spark, dense, pairs)
    return (
        dense.join(F.broadcast(lut), "cid")
        .select(
            F.col("cx").alias("cell_x"),
            F.col("cy").alias("cell_y"),
            F.col("n").cast("bigint").alias("n_points"),
            F.col("cluster").cast("bigint").alias("cluster_id"),
        )
    )


def _grid_component_labels(
    spark: SparkSession,
    dense: DataFrame,
    pairs: DataFrame,
    driver_bound: int = 4096,
) -> DataFrame:
    """(cid, cluster) labels for the connected components of the dense-cell
    adjacency graph: cluster = the component's minimum cid.

    Two routes, identical answers:

    - ``|dense| <= driver_bound``: driver-side union-find — the cell set is
      GRID-bounded, so for the fixed coarse grids these queries use it is a
      few KB of ids and the union-find beats the distributed closure's ~3 s
      of fixed per-round loop cost;
    - above the bound (a finer regrid): route to the distributed Hash-Min
      closure ``dedup_connected_components`` (same (id_a, id_b) contract,
      checkpointed rounds, O(edges) state — keeper IS the component min),
      so a 100× cell-count regrid degrades to the scalable path instead of
      dying on a guard."""
    n_dense = dense.count()
    if n_dense > driver_bound:
        from spark_ml_spatialjointransformer_spark.operators.dedup import (
            dedup_connected_components,
        )

        return dedup_connected_components(
            pairs, dense.select("cid"), "cid"
        ).select("cid", F.col("keeper").cast("bigint").alias("cluster"))
    ids = [r[0] for r in dense.select("cid").collect()]
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ra, rb in pairs.collect():
        a_, b_ = find(ra), find(rb)
        if a_ != b_:
            parent[max(a_, b_)] = min(a_, b_)
    # min id per component: path-compress to roots, then re-minimize via
    # the root (roots are already the component min by the max→min union)
    label_rows = [(i, find(i)) for i in ids]
    return spark.createDataFrame(label_rows, "cid: bigint, cluster: bigint")
#: d21: per-stream OLS trend — slope of value-per-day via the cross-
#: multiplied normal equations (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²): every
#: moment is an integer sum (one map-combined 5-group aggregate, ONE
#: exchange), the division happens once per GROUP on bigints whose double
#: images are identical in both engines.  The drift/decay detector for
#: metric monitoring — and the shape showing regression fits as pure
#: combinable aggregates (no iterative solver for 1-D).


_F4_GEO_CTE = f"""
c AS (SELECT c_custkey, c_acctbal, {CUST_LON_SQL} AS lon, {CUST_LAT_SQL} AS lat
      FROM customer),
s AS (SELECT s_suppkey, s_name, s_acctbal,
             {SUPP_LON_SQL} AS lon, {SUPP_LAT_SQL} AS lat
      FROM supplier)
"""

_F4_ORACLE = f"""
WITH {_F4_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, s.s_name, {_HAV} AS d
      FROM c CROSS JOIN s
      WHERE s.s_acctbal > c.c_acctbal)
SELECT c_custkey, s_suppkey AS supp_key, s_name AS supp_name,
       CAST(round(d) AS INTEGER) AS dist_m
FROM p WHERE CAST(round(d) AS INTEGER) <= 400000
"""


@_register("f4_transformer_withindist_condition", _F4_ORACLE)
def f4_transformer_withindist_condition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full ML-Transformer surface, withindist flavor: catalog dataset (S1)
    + `withindist 400000` two-phase join (J6) + extra theta condition
    comparing attributes across sides (J8: ``left.s_acctbal >
    right.c_acctbal``) + aliasing (P2) + Int-meter distance column (P3) +
    output repartition (X1) — the one predicate×condition×repartition combo
    f1–f3 don't cover through the string-param API.  Scale shape: the grid
    equi-key pre-join bounds candidates to neighbor cells; the theta
    condition and exact Int-meter re-filter run post-pair, never widening
    the shuffle."""
    from spark_ml_spatialjointransformer_spark.transformer import (
        BroadcastSpatialJoin,
    )

    suppliers_geo(spark, sf_dir).createOrReplaceTempView("sjt_suppliers_f4")
    cust = customers_geo(spark, sf_dir).select("c_custkey", "c_acctbal", "lon", "lat")
    t = BroadcastSpatialJoin(
        dataset="sjt_suppliers_f4",
        dataColumns="s_suppkey as supp_key, s_name as supp_name",
        datasetPoint="lon, lat",
        inputPoint="lon, lat",
        predicate="withindist 400000",
        condition="left.s_acctbal > right.c_acctbal",
        broadcast="dataset",
        distanceColumnAlias="dist_m",
        distanceKernel="haversine",
        numPartitions="8",
    )
    return t.transform(cust).select(
        "c_custkey", "supp_key", "supp_name", "dist_m"
    )


_F5_ORACLE = f"""
WITH c AS (SELECT c_custkey, c_nationkey, {CUST_LON_SQL} AS lon,
                  {CUST_LAT_SQL} AS lat
           FROM customer),
nr AS (SELECT n_nationkey, n_name,
              {", ".join(f"{sql} AS {k}" for k, sql in NATION_RECT_SQL.items())}
       FROM nation WHERE n_regionkey IN (0, 1, 2)),
nf AS (SELECT n_nationkey, n_name, (x0 + x1) / 2 AS lon, (y0 + y1) / 2 AS lat
       FROM nr),
p AS (SELECT c.c_custkey, nf.n_nationkey, nf.n_name,
             {haversine_sql('c.lon', 'c.lat', 'nf.lon', 'nf.lat')} AS d
      FROM c CROSS JOIN nf
      WHERE nf.n_nationkey <> c.c_nationkey),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY d, n_nationkey) AS rn
      FROM p)
SELECT c_custkey, n_nationkey AS nat_key, n_name AS nat_name,
       CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn = 1
"""


@_register("f5_transformer_polygon_nearest", _F5_ORACLE)
def f5_transformer_polygon_nearest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full ML-Transformer surface, polygon-NEAREST flavor: catalog WKT
    dataset (S1/X2) + pre-join `filter` (F1) + aliasing (P2) + `nearest`
    over polygon CENTROIDS (J7 + the reference's centroid-distance
    semantics, SpatialJoin.scala:32-40) + extra theta `condition` (J8,
    nearest FOREIGN nation) + Int-meter `distanceColumnAlias` (P3) +
    `tieBreak` + `numPartitions` (X1), with the broadcast side named by
    the verbatim ``broadcast='external'`` spelling (transformer.py:106 —
    f1/f3/f4 drive the same direction via its 'dataset' synonym, so the
    reference's documented value was the one string-param spelling with
    no end-to-end row).  Mirrors the composition of the reference's
    condition test (BroadcastSpatialJoinTest.scala:459-504: nearest +
    condition + data-column projection) at driver scale.  Scale shape:
    15 filtered polygons collapse to centroid points at plan build and
    broadcast into the zero-join vectorized argmin; the condition masks
    candidates INSIDE the kernel, so cardinality stays one row per
    customer with no post-filter re-rank."""
    from spark_ml_spatialjointransformer_spark.transformer import (
        BroadcastSpatialJoin,
    )

    nations_rect(spark, sf_dir).createOrReplaceTempView("sjt_nations_f5")
    cust = customers_geo(spark, sf_dir).select(
        "c_custkey", "c_nationkey", "lon", "lat"
    )
    t = BroadcastSpatialJoin(
        dataset="sjt_nations_f5",
        dataColumns="n_nationkey as nat_key, n_name as nat_name",
        datasetWKT="wkt",
        inputPoint="lon, lat",
        predicate="nearest",
        broadcast="external",
        filter="n_regionkey IN (0, 1, 2)",
        condition="left.n_nationkey != right.c_nationkey",
        distanceColumnAlias="dist_m",
        distanceKernel="haversine",
        tieBreak="n_nationkey",
        numPartitions="6",
    )
    out = t.transform(cust)
    # X1 numPartitions=6 contract pinned in tests/test_r9.py (see f3 note)
    return out.select("c_custkey", "nat_key", "nat_name", "dist_m")


#: event geo synthesis (distinct multipliers from customer/supplier so the
#: three point sets are not colocated); lat band +-60 like the others
EVENT_LON_SQL = "(event_id * 6133 % 3600) / 10.0 - 180.0"
EVENT_LAT_SQL = "(event_id * 3571 % 1200) / 10.0 - 60.0"

_F6_ORACLE = f"""
WITH ev AS (SELECT event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS fulldate_ts,
                   {EVENT_LON_SQL} AS lon, {EVENT_LAT_SQL} AS lat
            FROM events),
v AS (SELECT s_suppkey, {SUPP_LON_SQL} AS lon, {SUPP_LAT_SQL} AS lat,
             {_F6_START_SQL} AS start_ts, {_F6_END_SQL} AS end_ts
      FROM supplier),
p AS (SELECT ev.event_id, v.s_suppkey,
             {haversine_sql('ev.lon', 'ev.lat', 'v.lon', 'v.lat')} AS d,
             ev.fulldate_ts, v.start_ts, v.end_ts
      FROM ev CROSS JOIN v)
SELECT event_id, s_suppkey AS site_key, CAST(round(d) AS INTEGER) AS dist_m
FROM p
WHERE CAST(round(d) AS INTEGER) <= 1000000
  AND fulldate_ts BETWEEN start_ts AND end_ts
"""


@_register("f6_transformer_interval_condition", _F6_ORACLE)
def f6_transformer_interval_condition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full ML-Transformer surface, TEMPORAL-interval-condition flavor:
    the reference's first canonical extra-condition string —
    ``right.fulldate_ts between left.start_ts and left.end_ts``
    (BroadcastSpatialJoin.scala:513-521, spelled VERBATIM below) —
    composed with `withindist 1000000` (J6) at driver scale: every event
    within 1000 km of a supplier "visit site" whose visit window covers
    the event's timestamp.  f1-f5 drive only non-equi/inequality
    condition forms; this is the end-to-end temporal-interval row (golden
    unit: tests/test_spatial_join.py:318).  The condition's dataset-side
    columns (start_ts/end_ts) are NOT in dataColumns — the transformer
    must fetch them for the kernel yet keep them out of the output, the
    reference's extraConditionColumns contract
    (BroadcastSpatialJoin.scala:498-506).  Scale shape: visit windows
    broadcast (dimension side); the grid equi-key pre-join bounds
    candidates to neighbor cells; the interval condition and exact
    Int-meter re-filter run post-pair inside the kernel, so the shuffle
    carries only grid keys, never widened pairs."""
    from spark_ml_spatialjointransformer_spark.transformer import (
        BroadcastSpatialJoin,
    )

    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(SUPP_LON_SQL).alias("lon"),
        F.expr(SUPP_LAT_SQL).alias("lat"),
        F.expr(_F6_START_SQL).alias("start_ts"),
        F.expr(_F6_END_SQL).alias("end_ts"),
    )
    supp.createOrReplaceTempView("sjt_visits_f6")
    ev = load_events(spark, sf_dir).select(
        "event_id",
        F.unix_timestamp("ts").alias("fulldate_ts"),
        F.expr(EVENT_LON_SQL).alias("lon"),
        F.expr(EVENT_LAT_SQL).alias("lat"),
    )
    t = BroadcastSpatialJoin(
        dataset="sjt_visits_f6",
        dataColumns="s_suppkey as site_key",
        datasetPoint="lon, lat",
        inputPoint="lon, lat",
        predicate="withindist 1000000",
        condition="right.fulldate_ts between left.start_ts and left.end_ts",
        broadcast="dataset",
        distanceColumnAlias="dist_m",
        distanceKernel="haversine",
    )
    return t.transform(ev).select("event_id", "site_key", "dist_m")


@_register(
    "j32_knn_classify",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, s.s_nationkey, {_HAV} AS d
      FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY d, s_suppkey) AS rn
      FROM p),
v AS (SELECT c_custkey, s_nationkey, count(*) AS n_votes
      FROM r WHERE rn <= 3 GROUP BY 1, 2),
m AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY n_votes DESC, s_nationkey) AS mr
      FROM v)
SELECT c_custkey, CAST(s_nationkey AS INTEGER) AS pred_nation,
       CAST(n_votes AS BIGINT) AS n_votes
FROM m WHERE mr = 1
""",
)
def j32_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial kNN CLASSIFICATION: label every customer with the majority
    nation among its 3 nearest suppliers (ties → smallest nation id) —
    the inference shape of a geo kNN classifier (the join is the model).
    Scale shape: the k=3 retrieval is the zero-shuffle broadcast-kNN fast
    path (j16's contract); the vote is a (customer, nation) combine whose
    rank window re-partitions ≤3 rows per customer."""
    from pyspark.sql.window import Window

    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_nationkey", "supp_nation"),),
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        k=3,
    )
    knn = spatial_join(cust, supp, plan)
    votes = knn.groupBy("c_custkey", "supp_nation").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("n_votes").desc(), F.col("supp_nation")
    )
    return (
        votes.withColumn("mr", F.row_number().over(w))
        .where(F.col("mr") == 1)
        .select(
            "c_custkey",
            F.col("supp_nation").cast("int").alias("pred_nation"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )


@_register(
    "j33_reverse_knn",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY d, s_suppkey) AS rn
      FROM p),
cnt AS (SELECT s_suppkey, count(*) AS n FROM r WHERE rn = 1 GROUP BY 1)
SELECT s.s_suppkey, s.s_name AS supp_name,
       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_customers
FROM s LEFT JOIN cnt ON cnt.s_suppkey = s.s_suppkey
""",
)
def j33_reverse_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVERSE nearest neighbor: for every supplier, how many customers
    have it as their #1 nearest — the coverage/cannibalization report
    behind facility placement and assignment balancing (zero-count rows
    matter most: suppliers no customer would route to).  Scale shape: the
    forward kNN is the zero-shuffle broadcast fast path; the inversion is
    a |suppliers|-group combine; the zero-fill joins the supplier dim
    (broadcast) LEFT against the counts."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
    )
    cnt = (
        spatial_join(cust, supp, plan)
        .groupBy("supp_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        supp.select("s_suppkey", "s_name")
        .join(cnt, supp["s_suppkey"] == cnt["supp_key"], "left")
        .select(
            "s_suppkey",
            F.col("s_name").alias("supp_name"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
            .alias("n_customers"),
        )
    )


@_register(
    "j34_assignment_margin",
    f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, {_HAV} AS d FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY d, s_suppkey) AS rn
      FROM p)
SELECT c_custkey,
       CAST(max(CASE WHEN rn = 1 THEN round(d) END) AS INTEGER) AS d1_m,
       CAST(max(CASE WHEN rn = 2 THEN round(d) END) AS INTEGER) AS d2_m,
       CAST(max(CASE WHEN rn = 2 THEN round(d) END)
            - max(CASE WHEN rn = 1 THEN round(d) END) AS BIGINT) AS margin_m
FROM r WHERE rn <= 2 GROUP BY c_custkey
"""
)
def j34_assignment_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment-confidence margin: per customer, the Int-meter distance
    to its 1st and 2nd nearest supplier and the gap between them — the
    spatial twin of v15's triplet margin (a small margin means the
    nearest-facility assignment flips under tiny position error; siting
    and territory tools threshold exactly this).  Scale shape: one k=2
    nearest retrieval, then a per-customer conditional-max pivot (map-side
    combinable; no second window).  The retrieval auto-routes on the
    supplier side's Catalyst size estimate: broadcast argmin below
    ``_J34_BROADCAST_BOUND_BYTES`` (the reference's documented O(L·R)
    contract — fine while the facility table fits an executor), the
    grid-bucketed ``operators/knn.partitioned_nearest`` above it or when
    no estimate exists — the same guard-crossing idiom as j31 →
    ``dedup_connected_components``, so a 100× supplier table degrades to
    the scalable path instead of an executor OOM."""
    return _j34_margin(spark, sf_dir, _j34_strategy(spark, sf_dir))


#: supplier-side Catalyst size estimate above which j34's k=2 retrieval
#: leaves the broadcast kernel (which ships all of R to every input
#: partition and scans L×R) for the partitioned grid kNN
_J34_BROADCAST_BOUND_BYTES = 64 * 1024 * 1024


def _j34_strategy(spark: SparkSession, sf_dir: str) -> str:
    from spark_ml_spatialjointransformer_spark.operators._guard import (
        estimated_plan_bytes,
    )

    est = estimated_plan_bytes(suppliers_geo(spark, sf_dir))
    small = est is not None and est <= _J34_BROADCAST_BOUND_BYTES
    return "broadcast" if small else "partitioned"


def _j34_margin(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    from pyspark.sql.window import Window

    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        k=2,
        strategy=strategy,
    )
    knn = spatial_join(cust, supp, plan)
    w = Window.partitionBy("c_custkey").orderBy("dist_m", "supp_key")
    ranked = knn.withColumn("rn", F.row_number().over(w))
    d1 = F.max(F.when(F.col("rn") == 1, F.col("dist_m")))
    d2 = F.max(F.when(F.col("rn") == 2, F.col("dist_m")))
    return ranked.groupBy("c_custkey").agg(
        d1.cast("int").alias("d1_m"),
        d2.cast("int").alias("d2_m"),
        (d2.cast("bigint") - d1.cast("bigint")).alias("margin_m"),
    )


#: j37 IDW: neighbors, distance floor (m), weight scale, value shift.
#: w = 1e15 div max(d,1000)^2 keeps every term int64: w <= 1e9, shifted
#: value u_e4 = v_e4 + 1e7 >= 0 (acctbal >= -1000), u*w <= 1.1e17, x5
#: neighbors = 5.5e17 < 2^63.  The +1e7 shift keeps the division on the
#: non-negative domain (Spark div = DuckDB // there) and cancels exactly:
#: (A + shift*W) div W - shift = floor(A/W) for any integer A.
_J37_K = 5
_J37_D_FLOOR = 1_000
_J37_W_SCALE = 10**15
_J37_SHIFT_E4 = 10_000_000

_J37_ORACLE = f"""
WITH {_GEO_CTE},
p AS (SELECT c.c_custkey, s.s_suppkey, s.s_acctbal, {_HAV} AS d
      FROM c CROSS JOIN s),
r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM p),
k AS (SELECT c_custkey,
             CAST(floor(s_acctbal * 10000e0 + 0.5e0) AS BIGINT)
               + {_J37_SHIFT_E4} AS u_e4,
             {_J37_W_SCALE} // (greatest(CAST(round(d) AS BIGINT), {_J37_D_FLOOR})
                              * greatest(CAST(round(d) AS BIGINT), {_J37_D_FLOOR}))
               AS w
      FROM r WHERE rn <= {_J37_K})
SELECT c_custkey,
       CAST(sum(u_e4 * w) // sum(w) - {_J37_SHIFT_E4} AS BIGINT) AS interp_e4
FROM k GROUP BY c_custkey
"""


@_register("j37_idw_interpolation", _J37_ORACLE)
def j37_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial feature interpolation — inverse-distance-weighted value at
    every customer location from its {_J37_K} nearest supplier "sensors"
    (acctbal as the reading): the kriging-lite feature-engineering join
    (sensor gridding, nearest-station climate features) that turns a
    point cloud into a per-entity continuous feature.  Retrieval is the
    zero-shuffle broadcast-kNN kernel (j16's path, k={_J37_K}); the
    blend is integer-exact — Int-meter distances with a {_J37_D_FLOOR} m
    floor, reciprocal-square weights as one truncating division, and the
    value shift documented above keeps the final division on the
    non-negative domain.  Scale shape: kNN kernel + ONE customer-keyed
    combine of (int, int) rows; above the broadcast bound the retrieval
    auto-routes to the partitioned grid strategy (j34's guard)."""
    cust = customers_geo(spark, sf_dir).select("c_custkey", "lon", "lat")
    supp = suppliers_geo(spark, sf_dir)
    plan = SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_suppkey", "supp_key"), ("s_acctbal", "v")),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("s_suppkey",),
        k=_J37_K,
    )
    knn = spatial_join(cust, supp, plan)
    d2 = F.expr(f"greatest(CAST(dist_m AS BIGINT), {_J37_D_FLOOR})")
    k = knn.select(
        "c_custkey",
        (
            F.floor(F.col("v") * 10000 + F.lit(0.5)).cast("bigint")
            + _J37_SHIFT_E4
        ).alias("u_e4"),
        F.expr(
            f"{_J37_W_SCALE} div (greatest(CAST(dist_m AS BIGINT), {_J37_D_FLOOR})"
            f" * greatest(CAST(dist_m AS BIGINT), {_J37_D_FLOOR}))"
        ).alias("w"),
    )
    return k.groupBy("c_custkey").agg(
        F.expr(
            f"CAST(sum(u_e4 * w) div sum(w) - {_J37_SHIFT_E4} AS BIGINT)"
        ).alias("interp_e4")
    )


#: j36 trajectory synthesis: per-user HOME (user-keyed hash grid) plus a
#: per-event drift of 0-2° — consecutive points sometimes hop >150 km
#: (drift span ~270 km), sometimes dwell, so segment breaks come from
#: BOTH rules.  Kept integer (×10 degrees) until the one division so
#: centroid sums are engine-exact.
_J36_LON10 = "(user_id * 6133 % 3580 + event_id * 13 % 21)"
_J36_LAT10 = "(user_id * 3571 % 1180 + event_id * 17 % 21)"
_J36_LON = f"{_J36_LON10} / 10.0 - 180.0"
_J36_LAT = f"{_J36_LAT10} / 10.0 - 60.0"
#: stay segmentation thresholds: spatial jump (m) and time gap (s)
_J36_JUMP_M = 150_000
_J36_GAP_S = 7_200

_J36_ORACLE = f"""
WITH pts AS (SELECT user_id, event_id,
                    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                    {_J36_LON10} AS lon10, {_J36_LAT10} AS lat10,
                    {_J36_LON} AS lon, {_J36_LAT} AS lat
             FROM events),
seg AS (SELECT user_id, event_id, ts_s, lon10, lat10, lon, lat,
               lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
               lag(ts_s) OVER w AS pts_s
        FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
brk AS (SELECT *,
               CASE WHEN pts_s IS NULL
                         OR ts_s - pts_s > {_J36_GAP_S}
                         OR CAST(round({haversine_sql('plon', 'plat', 'lon', 'lat')})
                                 AS BIGINT) > {_J36_JUMP_M}
                    THEN 1 ELSE 0 END AS b
        FROM seg),
grp AS (SELECT *, sum(b) OVER (PARTITION BY user_id ORDER BY event_id) AS g
        FROM brk),
st AS (SELECT user_id, g AS stay_seq,
              count(*) AS n_events,
              min(ts_s) AS start_ts, max(ts_s) AS end_ts,
              sum(lon10) AS slon, sum(lat10) AS slat
       FROM grp GROUP BY user_id, g)
SELECT user_id, CAST(stay_seq AS BIGINT) AS stay_seq,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(start_ts AS BIGINT) AS start_ts,
       CAST(end_ts - start_ts AS BIGINT) AS dur_s,
       CAST(slon * 100000 // n_events - 180000000 AS BIGINT) AS c_lon_e6,
       CAST(slat * 100000 // n_events - 60000000 AS BIGINT) AS c_lat_e6
FROM st
WHERE n_events >= 2 AND end_ts - start_ts >= 600
"""


@_register("j36_stay_points", _J36_ORACLE)
def j36_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection — the spatio-TEMPORAL segmentation primitive
    of trajectory mining (Zheng et al.'s GPS-trace line): split each
    user's point sequence wherever consecutive points jump >150 km OR
    pause >2 h, keep segments that dwell (>=2 points, >=10 min), and
    report each stay's span and centroid.  Combines what the registry
    had only separately: d15/d25 segment in TIME alone, j28 measures
    space with no segmentation.  Everything is one user-keyed exchange:
    the lag window, the break cumsum, and the (user, segment) rollup all
    share it (d25's pattern with a spatial predicate in the break rule).
    Centroids stay integer end-to-end: points carry ×10-degree ints,
    sums are int64, and the single truncating division happens on the
    non-negative shifted domain (engine-exact; the haversine jump test
    rounds to Int meters per segment, P3's determinism precedent).
    Ordering is by the integer event id, monotone in ts per user
    (j28's nanos-truncation note)."""
    from pyspark.sql.window import Window

    pts = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("ts_s"),
        F.expr(_J36_LON10).alias("lon10"),
        F.expr(_J36_LAT10).alias("lat10"),
        F.expr(_J36_LON).alias("lon"),
        F.expr(_J36_LAT).alias("lat"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    seg = pts.select(
        "*",
        F.lag("lon").over(w).alias("plon"),
        F.lag("lat").over(w).alias("plat"),
        F.lag("ts_s").over(w).alias("pts_s"),
    )
    jump = F.round(
        F.expr(haversine_sql("plon", "plat", "lon", "lat", double_suffix="D"))
    ).cast("bigint")
    brk = seg.withColumn(
        "b",
        F.when(
            F.col("pts_s").isNull()
            | (F.col("ts_s") - F.col("pts_s") > _J36_GAP_S)
            | (jump > _J36_JUMP_M),
            1,
        ).otherwise(0),
    )
    grp = brk.withColumn(
        "g", F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    st = grp.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_s").alias("start_ts"),
        F.max("ts_s").alias("end_ts"),
        F.sum("lon10").alias("slon"),
        F.sum("lat10").alias("slat"),
    )
    return st.where(
        (F.col("n_events") >= 2) & (F.col("end_ts") - F.col("start_ts") >= 600)
    ).select(
        "user_id",
        F.col("g").cast("bigint").alias("stay_seq"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("start_ts").cast("bigint").alias("start_ts"),
        (F.col("end_ts") - F.col("start_ts")).cast("bigint").alias("dur_s"),
        F.expr("CAST(slon * 100000 div n_events - 180000000 AS BIGINT)").alias(
            "c_lon_e6"
        ),
        F.expr("CAST(slat * 100000 div n_events - 60000000 AS BIGINT)").alias(
            "c_lat_e6"
        ),
    )


_F7_ORACLE = f"""
WITH {_GEO_CTE},
sf AS (SELECT * FROM s WHERE s_acctbal > 1000.0),
p AS (SELECT s.s_suppkey, s.s_name, c.c_custkey, {_HAV} AS d
      FROM sf s CROSS JOIN c
      WHERE s.s_nationkey != c.c_nationkey),
r AS (SELECT *, row_number() OVER (PARTITION BY s_suppkey
                                   ORDER BY d, c_custkey) AS rn
      FROM p)
SELECT s_suppkey AS site_key, s_name AS site_name, c_custkey AS cust_key,
       CAST(round(d) AS INTEGER) AS dist_m
FROM r WHERE rn = 1
"""


@_register("f7_transformer_input_broadcast", _F7_ORACLE)
def f7_transformer_input_broadcast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full ML-Transformer surface, INPUT-broadcast flavor: the verbatim
    ``broadcast='input'`` spelling (transformer.py:106 — the reference's
    OTHER documented direction value, BroadcastSpatialJoin.scala:237-249)
    driven end-to-end for the first time: f1-f6 all broadcast the
    dataset/external side, so the J9 direction swap had plan-level rows
    (j9/j10) but no string-param row.  Composition: catalog dataset (S1)
    + pre-join `filter` (F1: ``s_acctbal > 1000.0`` on the DATASET side
    — the filter must keep applying to the catalog side when the
    broadcast flips) + `nearest` with the flipped cardinality (one row
    per DATASET row: nearest qualifying customer per supplier, j9's
    semantics) + extra theta `condition` (J8: j10's verbatim
    ``left.s_nationkey != right.c_nationkey`` — 'left' stays the
    dataset side regardless of broadcast direction, the reference's
    naming contract) + aliasing (P2) + Int-meter distance (P3) +
    `numPartitions` (X1).  Scale shape: the INPUT (customers) is the
    broadcast side — the scale-correct direction when the transform()
    frame is the small one and the catalog dataset is big; candidates
    mask inside the vectorized argmin kernel, so cardinality stays one
    row per supplier with no post-filter re-rank."""
    from spark_ml_spatialjointransformer_spark.transformer import (
        BroadcastSpatialJoin,
    )

    suppliers_geo(spark, sf_dir).createOrReplaceTempView("sjt_suppliers_f7")
    cust = customers_geo(spark, sf_dir).select(
        "c_custkey", "c_nationkey", "lon", "lat"
    )
    t = BroadcastSpatialJoin(
        dataset="sjt_suppliers_f7",
        dataColumns="s_suppkey as site_key, s_name as site_name",
        datasetPoint="lon, lat",
        inputPoint="lon, lat",
        predicate="nearest",
        broadcast="input",
        filter="s_acctbal > 1000.0",
        condition="left.s_nationkey != right.c_nationkey",
        distanceColumnAlias="dist_m",
        distanceKernel="haversine",
        tieBreak="c_custkey",
        numPartitions="8",
    )
    return t.transform(cust).select(
        "site_key",
        "site_name",
        F.col("c_custkey").alias("cust_key"),
        "dist_m",
    )


#: j38 co-location radius: wide enough to accumulate pairs at sf0.001
#: and up, tight enough that the 3x3 neighbor-cell candidate set stays a
#: small fraction of the cross product (2000 km benched 13-28 s at sf0.1
#: because ~world-width cells made the grid prefilter vacuous; 500 km is
#: j6's class, ~1 s)
_J38_DIST_M = 500_000

_J38_ORACLE = f"""
WITH c AS (SELECT c_mktsegment, {CUST_LON_SQL} AS lon, {CUST_LAT_SQL} AS lat
           FROM customer),
s AS (SELECT s_nationkey, {SUPP_LON_SQL} AS lon, {SUPP_LAT_SQL} AS lat
      FROM supplier),
p AS (SELECT c.c_mktsegment AS seg, s.s_nationkey AS nat
      FROM c CROSS JOIN s
      WHERE CAST(round({_HAV}) AS INTEGER) <= {_J38_DIST_M}),
cell AS (SELECT seg, nat, CAST(count(*) AS BIGINT) AS obs
         FROM p GROUP BY 1, 2),
r AS (SELECT seg, CAST(sum(obs) AS BIGINT) AS rm FROM cell GROUP BY 1),
cm AS (SELECT nat, CAST(sum(obs) AS BIGINT) AS cmm FROM cell GROUP BY 1),
tt AS (SELECT CAST(sum(obs) AS BIGINT) AS t FROM cell)
SELECT cell.seg AS segment, CAST(cell.nat AS BIGINT) AS supp_nation,
       cell.obs AS n_pairs,
       CAST(cell.obs * tt.t * 1000000 // (r.rm * cm.cmm) AS BIGINT)
         AS lift_e6
FROM cell JOIN r ON r.seg = cell.seg
          JOIN cm ON cm.nat = cell.nat
          CROSS JOIN tt
"""


@_register("j38_colocation_lift", _J38_ORACLE)
def j38_colocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial co-location pattern mining (Shekhar & Huang 2001, the
    association-rule LIFT form): which (customer segment, supplier
    nation) category pairs co-occur within 500 km MORE than the
    within-radius pair population predicts — obs·T·1e6 div (row
    marginal · column marginal), > 1e6 meaning positive spatial
    association.  j6/j35 count and densify raw proximity; this is the
    CATEGORICAL second stage (which KINDS of things cluster together),
    the signal behind geo-aware feature crosses and market-placement
    analytics.  Integer-exact: the lift numerator/denominator are pure
    int64 products (bound: obs·T·1e6 needs obs·T < 9.2e12 — at larger
    scales emit the three counts and divide downstream, or e3-scale).
    Scale shape: the pair stage IS j6's two-phase grid join (equi-key
    cells → broadcast hash join, exact Int-meter re-filter post-pair,
    no cross join anywhere); pairs collapse to (segment, nation) cells
    in ONE map-combinable exchange off the join, the cell table is
    |segments|·|nations| rows forever, and the marginals compute from
    the CELLS (never re-scanning pairs) then broadcast back."""
    cust = customers_geo(spark, sf_dir).select(
        F.col("c_mktsegment").alias("seg"), "lon", "lat"
    )
    supp = suppliers_geo(spark, sf_dir).select("s_nationkey", "lon", "lat")
    plan = SpatialJoinPlan(
        predicate=f"withindist {_J38_DIST_M}",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("s_nationkey", "nat"),),
        broadcast_input=False,
        distance_kernel="haversine",
    )
    pairs = spatial_join(cust, supp, plan).select("seg", "nat")
    # cells feed the output row AND both marginals AND the total:
    # checkpoint so the grid join + cell rollup run once
    cell = (
        pairs.groupBy("seg", "nat")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
        .transform(_barrier)
    )
    r = cell.groupBy("seg").agg(F.sum("obs").cast("bigint").alias("rm"))
    cm = cell.groupBy("nat").agg(F.sum("obs").cast("bigint").alias("cmm"))
    tt = cell.agg(F.sum("obs").cast("bigint").alias("t"))
    return (
        cell.join(F.broadcast(r), "seg")
        .join(F.broadcast(cm), "nat")
        .crossJoin(F.broadcast(tt))
        .select(
            F.col("seg").alias("segment"),
            F.col("nat").cast("bigint").alias("supp_nation"),
            F.col("obs").alias("n_pairs"),
            F.expr("obs * t * 1000000 div (rm * cmm)")
            .cast("bigint")
            .alias("lift_e6"),
        )
    )
