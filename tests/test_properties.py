"""Property-based checks (hypothesis) from SURVEY.md §5's test plan:

- ``withindist`` result == brute-force pair enumeration (prefilter is sound
  and refine is exact) on randomized point sets and small-polygon WKT
  sides, including antimeridian neighbors, near-pole latitudes (the
  latitude-aware chord window fixes the reference's >72°-latitude
  under-cover of its flat 1° ≈ 35 km inflation, so the full ±89° range is
  exercised) and radii whose window spans the whole circle;
- ``nearest`` (k=1 and k=3, with and without a selective condition)
  returns each iterated-side row's true k nearest allowed neighbors;
- ``within`` and ``contains`` are the same relation under direction swap;
- param micro-parser properties (no Spark).

Each Spark example costs a job, so max_examples is small; inputs are drawn
from coarse grids to exercise boundary ties without float-noise flakiness.
"""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_ml_spatialjointransformer_spark.functions.geodesic import haversine_np
from spark_ml_spatialjointransformer_spark.functions.geometry import (
    PREDICATE_FUNCS,
    centroid,
    parse_wkt,
    point_geom,
)
from spark_ml_spatialjointransformer_spark.operators.spatial_join import spatial_join
from spark_ml_spatialjointransformer_spark.plans.config import (
    PointColumns,
    SideConfig,
    SpatialJoinPlan,
    extract_radius,
    parse_predicate,
)
from spark_ml_spatialjointransformer_spark.toolbox import parse_data_columns as parse_columns

_POINT = SideConfig(point_columns=PointColumns("lon", "lat"))

# coarse lon/lat grid: every value is exactly representable, antimeridian
# included via lon near ±180
lons = st.integers(min_value=-1795, max_value=1795).map(lambda v: v / 10.0)
lats = st.integers(min_value=-890, max_value=890).map(lambda v: v / 10.0)
points = st.lists(st.tuples(lons, lats), min_size=1, max_size=8, unique=True)

SPARK_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, pts, prefix):
    return spark.createDataFrame(
        [(i, lon, lat) for i, (lon, lat) in enumerate(pts)],
        f"{prefix}_id int, lon double, lat double",
    )


def _small_polygon(i, lon, lat):
    """A right triangle with 0.1-0.3° legs at ``(lon, lat)``; its area
    centroid, not the vertex, is the point the distance reads."""
    a, b = 0.1 * (1 + i % 3), 0.1 * (1 + (i + 1) % 3)
    return f"POLYGON (({lon} {lat}, {lon + a} {lat}, {lon} {lat + b}, {lon} {lat}))"


@pytest.mark.parametrize("ext_kind", ["point", "wkt"])
@pytest.mark.parametrize("strategy", ["broadcast", "partitioned"])
@SPARK_SETTINGS
@given(left=points, right=points, radius_km=st.integers(min_value=50, max_value=20000))
def test_withindist_equals_brute_force(spark, strategy, ext_kind, left, right, radius_km):
    radius = radius_km * 1000
    inp = _df(spark, left, "i")
    if ext_kind == "wkt":
        wkts = [_small_polygon(i, *p) for i, p in enumerate(right)]
        ext = spark.createDataFrame(list(enumerate(wkts)), "e_id int, wkt string")
        ext_side = SideConfig(wkt_column="wkt")
        right = [centroid(parse_wkt(w)) for w in wkts]
    else:
        ext = _df(spark, right, "e")
        ext_side = _POINT
    plan = SpatialJoinPlan(
        predicate=f"withindist {radius}",
        external_side=ext_side,
        input_side=_POINT,
        data_columns=(("e_id", "e_id"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        strategy=strategy,
    )
    got = {
        (r.i_id, r.e_id, r.dist_m)
        for r in spatial_join(inp, ext, plan).select("i_id", "e_id", "dist_m").collect()
    }

    il = np.array([p[0] for p in left]); ia = np.array([p[1] for p in left])
    el = np.array([p[0] for p in right]); ea = np.array([p[1] for p in right])
    dm = haversine_np(il[:, None], ia[:, None], el[None, :], ea[None, :])
    dr = np.floor(dm + 0.5).astype(np.int64)
    expected = {
        (i, j, int(dr[i, j]))
        for i in range(len(left))
        for j in range(len(right))
        if dr[i, j] <= radius
    }
    assert got == expected


def _nearest_plan(strategy, k, condition=""):
    return SpatialJoinPlan(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("e_id", "e_id"),),
        distance_column="dist_m",
        condition=condition,
        broadcast_input=False,  # iterate input: one row per input point
        distance_kernel="haversine",
        tie_break=("e_id",),
        k=k,
        strategy=strategy,
    )


def _assert_top_k(rows, left, right, k, allowed=None):
    """Every input row gets min(k, allowed candidates) distinct allowed
    neighbors whose distances are the k smallest of a numpy brute force."""
    il = np.array([p[0] for p in left]); ia = np.array([p[1] for p in left])
    el = np.array([p[0] for p in right]); ea = np.array([p[1] for p in right])
    dm = haversine_np(il[:, None], ia[:, None], el[None, :], ea[None, :])
    dr = np.floor(dm + 0.5).astype(np.int64)
    ok = np.ones(len(right), bool) if allowed is None else np.asarray(allowed)
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r.i_id, []).append((r.e_id, r.dist_m))
    for i in range(len(left)):
        want = sorted(dr[i, ok].tolist())[:k]
        mine = got.get(i, [])
        assert sorted(d for _, d in mine) == want, i
        assert len({e for e, _ in mine}) == len(mine)
        for e, d in mine:
            assert ok[e] and dr[i, e] == d


@pytest.mark.parametrize("strategy", ["broadcast", "partitioned"])
@SPARK_SETTINGS
@given(left=points, data=st.data())
def test_nearest_cardinality_and_optimality(spark, strategy, left, data):
    """Both nearest strategies return each input row's true k nearest on
    random point sets spanning the antimeridian and near-pole latitudes,
    k=1 and k=3, also with fewer external rows than k — for the
    partitioned path this exercises the cell bound and the ring's
    exclusion bounds (latitude crossing + the chord-form longitude bound)
    against a numpy brute force: a too-small ring would miss a neighbor
    and fail here."""
    inp = _df(spark, left, "i")
    for k, max_right in ((1, 8), (3, 8), (3, 2)):
        right = data.draw(
            st.lists(st.tuples(lons, lats), min_size=1, max_size=max_right, unique=True)
        )
        ext = _df(spark, right, "e")
        rows = (
            spatial_join(inp, ext, _nearest_plan(strategy, k))
            .select("i_id", "e_id", "dist_m")
            .collect()
        )
        assert len(rows) == len(left) * min(k, len(right))  # cardinality
        _assert_top_k(rows, left, right, k)


#: tenths of a degree around a centre: neighbors within a few grid cells
_near = st.tuples(
    st.integers(min_value=-40, max_value=40), st.integers(min_value=-40, max_value=40)
)


@pytest.mark.parametrize("k", [1, 3])
@SPARK_SETTINGS
@given(
    centre=st.tuples(
        st.integers(min_value=-1795, max_value=1795),
        st.integers(min_value=-800, max_value=800),
    ),
    left=st.lists(_near, min_size=1, max_size=6, unique=True),
    near=st.lists(
        # one near row in ten passes the condition
        st.tuples(_near, st.integers(min_value=0, max_value=9).map(lambda v: v == 0)),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    far=points,
)
def test_partitioned_nearest_condition_widens(spark, k, centre, left, near, far):
    """A numeric condition that rejects most near candidates: external
    rows around the input rows pass only when drawn ``ok``, and far rows
    anywhere always pass.  Rows left with fewer than k allowed candidates
    inside their first ring go through the widening pass; the result must
    still be each row's true k nearest ALLOWED rows (rows with none drop)."""
    cx, cy = centre

    def at(dx, dy):
        lon = (cx + dx + 1800) % 3600 - 1800
        return lon / 10.0, (cy + dy) / 10.0

    lpts = [at(*d) for d in left]
    near_pts = [at(*d) for d, _ in near]
    rpts = near_pts + [p for p in far if p not in near_pts]
    ok = [flag for _, flag in near] + [True] * (len(rpts) - len(near))
    inp = spark.createDataFrame(
        [(i, 0, lon, lat) for i, (lon, lat) in enumerate(lpts)],
        "i_id int, i_w int, lon double, lat double",
    )
    ext = spark.createDataFrame(
        [(j, int(o), lon, lat) for j, ((lon, lat), o) in enumerate(zip(rpts, ok))],
        "e_id int, e_w int, lon double, lat double",
    )
    plan = _nearest_plan("partitioned", k, condition="left.e_w > right.i_w")
    rows = spatial_join(inp, ext, plan).select("i_id", "e_id", "dist_m").collect()
    assert len(rows) == len(lpts) * min(k, sum(ok))
    _assert_top_k(rows, lpts, rpts, k, ok)


@SPARK_SETTINGS
@given(pts=points)
def test_within_contains_direction_symmetry(spark, pts):
    """point WITHIN rect (input iterated) and rect CONTAINS point (external
    iterated) must produce the same pair set."""
    spark_pts = _df(spark, pts, "p")
    rects = spark.createDataFrame(
        [
            (0, "POLYGON ((-60 -30, 60 -30, 60 30, -60 30, -60 -30))"),
            (1, "POLYGON ((0 0, 170 0, 170 55, 0 55, 0 0))"),
        ],
        "r_id int, wkt string",
    )
    base = dict(
        external_side=SideConfig(wkt_column="wkt"),
        input_side=_POINT,
        data_columns=(("r_id", "r_id"),),
    )
    within = SpatialJoinPlan(predicate="within", broadcast_input=False, **base)
    contains = SpatialJoinPlan(predicate="contains", broadcast_input=True, **base)
    got_w = {(r.p_id, r.r_id) for r in spatial_join(spark_pts, rects, within).collect()}
    got_c = {(r.p_id, r.r_id) for r in spatial_join(spark_pts, rects, contains).collect()}
    assert got_w == got_c


# ---------------------------------------------------------------------------
# parser properties (no Spark)
# ---------------------------------------------------------------------------

names = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,8}", fullmatch=True)


@given(st.lists(st.tuples(names, names), min_size=1, max_size=6))
def test_parse_columns_roundtrip(pairs):
    spec = ", ".join(f"{n} as {a}" for n, a in pairs)
    assert parse_columns(spec) == [(n, a) for n, a in pairs]


@given(names)
def test_parse_columns_bare_name_self_alias(name):
    assert parse_columns(name) == [(name, name)]


@given(st.integers(min_value=0, max_value=10**9))
def test_extract_radius_meters(n):
    meters, degrees = extract_radius(f"withindist {n}")
    assert meters == float(n)
    assert degrees == pytest.approx(n / 35000.0)


@given(st.sampled_from(["within", "contains", "intersects", "overlaps", "withindist 5"]))
def test_parse_predicate_identity(p):
    assert parse_predicate(p) == p.split(" ")[0]


@given(st.text(max_size=20))
def test_parse_predicate_total(s):
    """Never raises; unknown strings default to nearest (reference parity)."""
    out = parse_predicate(s)
    assert out in ("withindist", "within", "contains", "intersects", "overlaps", "nearest")


# --- vectorized axis-rect predicates vs scalar DE-9IM kernels -------------

_coord = st.integers(min_value=-20, max_value=20)


@st.composite
def _rect_wkt(draw):
    x0 = draw(_coord)
    y0 = draw(_coord)
    w = draw(st.integers(min_value=1, max_value=8))
    h = draw(st.integers(min_value=1, max_value=8))
    x1, y1 = x0 + w, y0 + h
    return (
        f"POLYGON(({x0} {y0},{x1} {y0},{x1} {y1},{x0} {y1},{x0} {y0}))",
        (float(x0), float(y0), float(x1), float(y1)),
    )


@given(a=_rect_wkt(), b=_rect_wkt())
@settings(max_examples=300, deadline=None)
def test_rect_fast_path_matches_scalar_kernels(a, b):
    """rect_predicate_np must agree with the scalar DE-9IM kernels on every
    axis-rect pair — including touching edges, shared corners, containment,
    and identical rects (the integer grid makes exact contact common)."""
    from spark_ml_spatialjointransformer_spark.functions.geometry import (
        PREDICATE_FUNCS,
        axis_rect,
        parse_wkt,
        rect_predicate_np,
    )

    (wa, ta), (wb, tb) = a, b
    ga, gb = parse_wkt(wa), parse_wkt(wb)
    assert axis_rect(ga) == ta and axis_rect(gb) == tb
    A = np.array([ta], dtype=np.float64)
    B = np.array([tb], dtype=np.float64)
    for op, fn in PREDICATE_FUNCS.items():
        want = bool(fn(ga, gb))
        got = bool(rect_predicate_np(op, A, B)[0])
        assert got == want, f"{op}: {wa} vs {wb}: fast={got} scalar={want}"


@given(
    s=st.text(
        alphabet="POLYGONLINESTRT0123456789(),. -+eE", min_size=0, max_size=60
    )
)
@settings(max_examples=500, deadline=None)
def test_parse_wkt_never_crashes_on_garbage(s):
    """Unparseable/malformed WKT must degrade to None (the refine layer
    then drops the pair — inner-join null semantics), never raise."""
    from spark_ml_spatialjointransformer_spark.functions.geometry import (
        PREDICATE_FUNCS,
        axis_rect,
        parse_wkt,
        point_geom,
    )

    g = parse_wkt(s)
    axis_rect(g)  # must tolerate whatever parse produced
    if g is not None:
        p = point_geom(1.0, 2.0)
        for fn in PREDICATE_FUNCS.values():
            assert fn(g, p) in (True, False)
            assert fn(p, g) in (True, False)


# --- vectorized irregular polygon×polygon kernel vs scalar DE-9IM ---------


@st.composite
def _poly_wkt(draw):
    """A simple (non-self-intersecting) irregular polygon on the integer
    grid: a star-convex ring around a center — random radii per direction
    keep it concave-capable while guaranteeing a valid ring."""
    import math

    cx = draw(st.integers(min_value=-10, max_value=10))
    cy = draw(st.integers(min_value=-10, max_value=10))
    n = draw(st.integers(min_value=3, max_value=8))
    radii = draw(
        st.lists(
            st.integers(min_value=1, max_value=9), min_size=n, max_size=n
        )
    )
    pts = []
    for i, r in enumerate(radii):
        ang = 2.0 * math.pi * i / n
        pts.append(
            (cx + round(r * math.cos(ang), 1), cy + round(r * math.sin(ang), 1))
        )
    pts.append(pts[0])
    body = ",".join(f"{x} {y}" for x, y in pts)
    return f"POLYGON(({body}))"


@given(a=_poly_wkt(), b=_poly_wkt())
@settings(max_examples=300, deadline=None)
def test_polygon_vector_kernel_matches_scalar(a, b):
    """polygon_predicate_np (numpy edge-table / ray-cast batch) must agree
    with the scalar DE-9IM kernels on every irregular polygon pair —
    including shared vertices, edge touches, containment, and disjoint."""
    from spark_ml_spatialjointransformer_spark.functions.geometry import (
        PREDICATE_FUNCS,
        parse_wkt,
        polygon_predicate_np,
    )

    ga, gb = parse_wkt(a), parse_wkt(b)
    assert ga is not None and gb is not None
    for op, fn in PREDICATE_FUNCS.items():
        want = bool(fn(ga, gb))
        got = bool(polygon_predicate_np(op, ga, gb))
        assert got == want, f"{op}: {a} vs {b}: fast={got} scalar={want}"


# ---------------------------------------------------------------------------
# WAV codec properties (pure Python kernels — no Spark session needed)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=500
    ),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=200, deadline=None)
def test_wav_roundtrip_any_samples(samples, sr):
    import numpy as np

    from spark_ml_spatialjointransformer_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    arr = np.array(samples, dtype=np.int64)
    dec = decode_wav(encode_wav(arr, sr))
    assert dec is not None
    back, got_sr = dec
    assert got_sr == sr
    assert back.shape == (len(samples), 1)
    assert (back[:, 0] == arr.astype(np.int16)).all()


@given(st.binary(max_size=200))
@settings(max_examples=300, deadline=None)
def test_wav_decode_total_on_garbage(data):
    """decode_wav never raises — malformed bytes degrade to None (the
    poison-row contract the mapInPandas kernel relies on)."""
    from spark_ml_spatialjointransformer_spark.operators.multimodal import (
        decode_wav,
    )

    out = decode_wav(data)
    assert out is None or out[0].ndim == 2


@given(st.binary(min_size=1, max_size=120))
@settings(max_examples=300, deadline=None)
def test_wav_decode_total_on_truncated_real_file(prefix):
    """Truncations/corruptions of a REAL wav (header-plausible bytes) also
    never raise."""
    import numpy as np

    from spark_ml_spatialjointransformer_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    good = encode_wav(np.arange(50, dtype=np.int64), 8000)
    mutated = prefix + good[len(prefix):]
    out = decode_wav(mutated)
    assert out is None or out[0].ndim == 2


# --- broadcast ≡ partitioned across every predicate (r9, VERDICT #6) ------

#: points and rectangles in one 20°×20° window: drawn over the whole
#: globe, almost no example paired anything, and an empty result cannot
#: tell a sound candidate join from a broken one
_local = st.integers(min_value=-100, max_value=100).map(lambda v: v / 10.0)
_local_points = st.lists(
    st.tuples(_local, _local), min_size=1, max_size=8, unique=True
)
_rects = st.lists(
    st.tuples(
        st.integers(min_value=-10, max_value=8),
        st.integers(min_value=-10, max_value=8),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=9),
    ),
    min_size=1,
    max_size=6,
    unique=True,
).map(
    lambda rs: [
        f"POLYGON(({x0} {y0},{x0 + w} {y0},{x0 + w} {y0 + h},"
        f"{x0} {y0 + h},{x0} {y0}))"
        for x0, y0, w, h in rs
    ]
)

_WKT_SIDE = SideConfig(wkt_column="wkt")

#: predicate -> (input kind, external kind, extra plan kwargs)
_STRATEGY_MATRIX = {
    "within": ("point", "wkt", {}),
    "contains": ("point", "wkt", {"broadcast_input": True}),
    "intersects": ("wkt", "wkt", {}),
    "overlaps": ("wkt", "wkt", {}),
    "withindist 700000": ("point", "point", {"distance_column": "dist_m"}),
    "nearest": (
        "point",
        "point",
        {"distance_column": "dist_m", "tie_break": ("e_id",)},
    ),
}


def _side_df(spark, kind, pts, rects, prefix):
    if kind == "point":
        return (
            _df(spark, pts, prefix),
            SideConfig(point_columns=PointColumns("lon", "lat")),
        )
    return (
        spark.createDataFrame(
            list(enumerate(rects)), f"{prefix}_id int, wkt string"
        ),
        _WKT_SIDE,
    )


@pytest.mark.parametrize("predicate", sorted(_STRATEGY_MATRIX))
@SPARK_SETTINGS
@given(left=_local_points, right=_local_points, rects_l=_rects, rects_r=_rects)
def test_broadcast_equals_partitioned(
    spark, predicate, left, right, rects_l, rects_r
):
    """Cross-strategy equality as a PROPERTY, all six predicates: the
    broadcast kernel and the partitioned grid path must return identical
    row sets on arbitrary fixtures — r8 pinned this only for j34's k=2
    route at fixed params; per-query oracles would catch a kernel
    divergence a full driver round later (VERDICT r8 #6)."""
    in_kind, ext_kind, extra = _STRATEGY_MATRIX[predicate]
    inp, in_cfg = _side_df(spark, in_kind, left, rects_l, "i")
    ext, ext_cfg = _side_df(spark, ext_kind, right, rects_r, "e")

    results = []
    for strategy in ("broadcast", "partitioned"):
        plan = SpatialJoinPlan(
            predicate=predicate,
            external_side=ext_cfg,
            input_side=in_cfg,
            data_columns=(("e_id", "e_id"),),
            broadcast_input=extra.get("broadcast_input", False),
            distance_column=extra.get("distance_column"),
            distance_kernel="haversine",
            tie_break=extra.get("tie_break", ()),
            strategy=strategy,
        )
        cols = ["i_id", "e_id"] + (
            ["dist_m"] if extra.get("distance_column") else []
        )
        results.append(
            sorted(
                tuple(r) for r in spatial_join(inp, ext, plan).select(*cols).collect()
            )
        )
    if predicate in PREDICATE_FUNCS:
        # both strategies share one cell-keyed candidate join, so their
        # equality alone no longer checks it: the scalar DE-9IM predicate
        # over the full cross product is the independent reference
        def geoms(kind, pts, rects):
            if kind == "point":
                return [point_geom(x, y) for x, y in pts]
            return [parse_wkt(w) for w in rects]

        fn = PREDICATE_FUNCS[predicate]
        flip = extra.get("broadcast_input", False)  # external side iterated
        results.append(
            [
                (i, e)
                for i, a in enumerate(geoms(in_kind, left, rects_l))
                for e, b in enumerate(geoms(ext_kind, right, rects_r))
                if (fn(b, a) if flip else fn(a, b))
            ]
        )
    assert all(r == results[0] for r in results[1:])
