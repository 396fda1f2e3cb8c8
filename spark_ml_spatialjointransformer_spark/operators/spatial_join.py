"""The core operator: broadcast spatial join, compiled to one DataFrame plan.

Semantics (parity with reference BroadcastSpatialJoin.scala:349-478):

- two sides: the transformer *input* and an *external* dataset;
- ``broadcast_input=True`` (default) broadcasts the input and iterates the
  external side; the spatial predicate is evaluated as
  ``iterated.predicate(broadcast)`` — e.g. default direction + ``within``
  means "external geometry within input geometry";
- ``nearest`` returns, for every iterated-side row, the single nearest
  broadcast-side row by geodesic centroid distance (result cardinality =
  iterated side row count);
- ``withindist n``: all pairs whose rounded geodesic centroid distance ≤ n
  meters (coarse window prefilter, exact re-filter —
  SpatialJoin.scala:62-80, BroadcastSpatialJoin.scala:353-368);
- extra ``condition`` filters candidate pairs *before* nearest selection
  (BroadcastSpatialJoin.scala:493-535); ``left`` = external, ``right`` =
  input, in both directions;
- output = all input columns ++ selected/aliased external columns ++
  optional Int-meters distance, in that order
  (BroadcastSpatialJoin.scala:401-432);
- rows with null/unparseable geometry are dropped (inner-join semantics,
  DatasetGeometry.scala:40-42,64).

Execution strategy (Spark-first, nothing leaves DataFrame land):

- candidate enumeration for ``withindist`` and the bbox predicates = an
  equi-join on grid-cell keys with the window as residual, so Catalyst
  picks a hash join: ``withindist`` keys both sides on their centroids'
  cells and bounds the distance with the certified grid bounds of
  ``operators/knn.py``, the bbox predicates key on bbox cells.  The
  strategy only decides whether the right side carries ``F.broadcast``
  (BroadcastHashJoin) or both sides shuffle (``partitioned``).  bbox
  columns are extracted from WKT **JVM-side**
  (regexp + higher-order array functions, no Python) so the prefilter runs
  inside whole-stage codegen;
- exact geometry predicates and the WGS84 geodesic run as Arrow
  ``pandas_udf`` batches (vectorized numpy; per-batch WKT parse memoization);
  point-point joins with the haversine kernel stay 100% JVM-side;
- ``nearest`` takes one of two routes.  The broadcast kernel
  (``_broadcast_knn``) collects the broadcast side into numpy arrays and
  answers each iterated-side partition with a vectorized distance matrix +
  argmin / top-k in ``mapInPandas`` — no join, no shuffle; a simple numeric
  ``left.<col> op right.<col>`` condition rides along as a candidate mask.
  The ``partitioned`` strategy and every condition the kernel cannot mask
  take the certified grid pass of ``operators/knn.py`` (one cell-keyed
  join, top-k per row; any SQL condition filters candidates inside the
  join);
- ties broken deterministically by (distance, tie_break cols, broadcast row
  order) on both routes — the reference leaves ties to index-traversal
  order (nondeterministic); we document and pin ours.

Plan building: every derived column, filter and join condition is SQL text
from the templates below (``plans/sqltext.py`` quotes names and writes
exact double literals), applied one ``selectExpr``/``where`` per step, so
a ``transform()`` costs ~110-140 Py4J commands (pinned ≤150 by
tests/test_build_budget.py); the pandas UDFs are built once per session.
"""

from __future__ import annotations

import math
import re
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_ml_spatialjointransformer_spark.functions._serde import (
    ensure_udf_portability,
    per_session,
)
from spark_ml_spatialjointransformer_spark.functions.geodesic import (
    geodesic_distance_udf,
    haversine_sql,
)
from spark_ml_spatialjointransformer_spark.functions.geometry import (
    PREDICATE_FUNCS,
    axis_rect,
    centroid,
    parse_wkt,
    point_geom,
    point_in_polygon_np,
    polygon_predicate_np,
    rect_predicate_np,
)
from spark_ml_spatialjointransformer_spark.operators.knn import _MPD_LAT, _RPOL
from spark_ml_spatialjointransformer_spark.plans.config import (
    PointColumns,
    SideConfig,
    SpatialJoinPlan,
    condition_external_columns,
    condition_input_columns,
    rewrite_condition,
)
from spark_ml_spatialjointransformer_spark.plans.sqltext import (
    sql_col,
    sql_double,
    sql_ident,
)

EXT_PREFIX = "__sjt_e__"
# no backslash, so the SQL string literal reads the same whatever
# spark.sql.parser.escapedStringLiterals says
_NUM_PATTERN = "[-+]?(?:[0-9]+[.]?[0-9]*|[.][0-9]+)(?:[eE][-+]?[0-9]+)?"

#: predicates with a bbox prefilter and an exact geometry refine
_NEEDS_REFINE = {"within", "contains", "intersects", "overlaps"}


def _wkt_numbers(wkt: str) -> str:
    """All numeric tokens of a WKT column as array<double> — pure JVM
    (regexp_extract_all + transform), stays in whole-stage codegen."""
    return (
        f"transform(regexp_extract_all({wkt}, '{_NUM_PATTERN}', 0), "
        "x -> CAST(x AS DOUBLE))"
    )


@per_session
def _wkt_centroid_udf():
    """Arrow pandas_udf: WKT → struct(x, y); nulls for unparseable input.
    Parse results are memoized per batch (broadcast sides repeat heavily)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
    )

    @F.pandas_udf(schema)
    def _centroid(wkt: pd.Series) -> pd.DataFrame:
        cache: dict[str, tuple[float, float] | None] = {}
        xs: list[float | None] = []
        ys: list[float | None] = []
        for w in wkt:
            if w in cache:
                c = cache[w]
            else:
                g = parse_wkt(w) if isinstance(w, str) else None
                c = centroid(g) if g is not None else None
                if len(cache) > 200_000:
                    cache.clear()
                cache[w] = c
            xs.append(c[0] if c else None)
            ys.append(c[1] if c else None)
        return pd.DataFrame({"x": xs, "y": ys})

    # pure function; nondeterministic only to block SPARK-17728
    # re-substitution (the not-null filter on the derived centroid
    # columns re-inlined the parse, doubling the Arrow pass)
    return _centroid.asNondeterministic()


@per_session
def _refine_udf(op: str, l_is_wkt: bool = True, r_is_wkt: bool = True):
    """Arrow pandas_udf evaluating ``op(left_geom, right_geom)`` over
    (wkt|point) encodings of both sides; unparseable/null geometry → False
    (the pair is dropped — inner-join null semantics).

    Fast path: when one side is raw points and the other a polygon WKT and
    the predicate reduces to point-in-polygon (within / contains /
    intersects), the batch is grouped by the polygon value and evaluated as
    a vectorized numpy ray-cast — O(edges) vector passes per distinct
    polygon instead of a Python call per pair (the broadcast side repeats
    heavily, so distinct polygons per batch ≪ rows)."""

    fn = PREDICATE_FUNCS[op]
    # (points are on the left?) and the strictness the op implies
    pip_dir, pip_ok = None, ()  # "l"/"r" = which side is the points side
    if op == "within" and not l_is_wkt and r_is_wkt:
        pip_dir, pip_ok = "l", (1,)
    elif op == "contains" and l_is_wkt and not r_is_wkt:
        pip_dir, pip_ok = "r", (1,)
    elif op == "intersects" and (l_is_wkt != r_is_wkt):
        pip_dir, pip_ok = ("r" if l_is_wkt else "l"), (0, 1)

    @F.pandas_udf("boolean")
    def _refine(
        l_wkt: pd.Series,
        l_x: pd.Series,
        l_y: pd.Series,
        r_wkt: pd.Series,
        r_x: pd.Series,
        r_y: pd.Series,
    ) -> pd.Series:
        cache: dict[str, object] = {}

        def geom(w, x, y):
            if isinstance(w, str):
                if w in cache:
                    return cache[w]
                g = parse_wkt(w)
                if len(cache) > 200_000:
                    cache.clear()
                cache[w] = g
                return g
            if x is None or y is None or x != x or y != y:
                return None
            return point_geom(float(x), float(y))

        n = len(l_wkt)
        if pip_dir is not None and n:
            # point_in_polygon_np is a module-top import: an import statement
            # INSIDE this worker-side body would require the package on the
            # executor PYTHONPATH, defeating ensure_udf_portability
            px = (l_x if pip_dir == "l" else r_x).to_numpy(dtype=np.float64)
            py = (l_y if pip_dir == "l" else r_y).to_numpy(dtype=np.float64)
            poly_wkt = r_wkt if pip_dir == "l" else l_wkt
            out = np.zeros(n, dtype=bool)
            valid = ~(np.isnan(px) | np.isnan(py))
            for w in poly_wkt.unique():
                g = geom(w, None, None)
                mask = (poly_wkt == w).to_numpy() & valid
                if g is None or not mask.any():
                    continue
                if g.kind == "polygon":
                    res = point_in_polygon_np(px[mask], py[mask], g)
                    out[mask] = np.isin(res, pip_ok)
                else:  # point × line etc. — scalar fallback for this group
                    idxs = np.nonzero(mask)[0]
                    for i in idxs:
                        p = point_geom(float(px[i]), float(py[i]))
                        out[i] = bool(
                            fn(p, g) if pip_dir == "l" else fn(g, p)
                        )
            return pd.Series(out)

        # general WKT×WKT path.  Axis-aligned rectangles (bboxes, tiles —
        # the dominant real-world WKT shape) vectorize: every DE-9IM
        # predicate on closed positive-extent rects is interval arithmetic
        # (rect_predicate_np), detected ONCE per distinct WKT through the
        # memo.  Irregular polygon×polygon pairs evaluate once per DISTINCT
        # (left, right) pair per batch (the broadcast side repeats heavily,
        # and WKT×WKT joins often repeat whole pairs across candidate rows)
        # through the numpy edge-table kernel (polygon_predicate_np): the
        # Ea×Eb segment tests run as one broadcast orient computation and
        # vertex containment as one ray-cast batch — identical outcomes to
        # the scalar DE-9IM kernels, asserted by the property suite.
        rect_memo: dict[str, tuple | None] = {}

        def rect_of(w):
            if not isinstance(w, str):
                return None
            r = rect_memo.get(w, False)
            if r is False:
                r = axis_rect(geom(w, None, None))
                rect_memo[w] = r
            return r

        ra = [rect_of(w) for w in l_wkt]
        rb = [rect_of(w) for w in r_wkt]
        fast = np.array([a is not None and b is not None for a, b in zip(ra, rb)])
        out = np.zeros(n, dtype=bool)
        if fast.any():
            A = np.array([a for a, m in zip(ra, fast) if m], dtype=np.float64)
            B = np.array([b for b, m in zip(rb, fast) if m], dtype=np.float64)
            out[fast] = rect_predicate_np(op, A, B)
        if not fast.all():
            pair_memo: dict[tuple, bool] = {}
            for i in np.nonzero(~fast)[0]:
                w1, x1, y1 = l_wkt.iat[i], l_x.iat[i], l_y.iat[i]
                w2, x2, y2 = r_wkt.iat[i], r_x.iat[i], r_y.iat[i]
                key = (
                    w1 if isinstance(w1, str) else (x1, y1),
                    w2 if isinstance(w2, str) else (x2, y2),
                )
                hit = pair_memo.get(key)
                if hit is None:
                    g1 = geom(w1, x1, y1)
                    g2 = geom(w2, x2, y2)
                    hit = bool(
                        g1 is not None
                        and g2 is not None
                        and polygon_predicate_np(op, g1, g2)
                    )
                    if len(pair_memo) > 200_000:
                        pair_memo.clear()
                    pair_memo[key] = hit
                out[i] = hit
        return pd.Series(out)

    return _refine


def _prepare_side(
    df: DataFrame,
    side: SideConfig,
    tag: str,
    need_centroid: bool,
    need_refine: bool,
) -> DataFrame:
    """Attach internal geometry columns (``__sjt_{tag}_*``) and drop rows
    with null geometry: the centroid, and for the refine predicates the
    bbox and the WKT.  All bbox math is JVM-side; only WKT centroids use a
    pandas_udf."""
    gx, gy = f"__sjt_{tag}_gx", f"__sjt_{tag}_gy"
    x0, y0, x1, y1 = (f"__sjt_{tag}_{c}" for c in ("x0", "y0", "x1", "y1"))
    wktc = f"__sjt_{tag}_wkt"

    if not side.is_wkt:
        lon = f"CAST({sql_col(side.point_columns.lon)} AS DOUBLE)"
        lat = f"CAST({sql_col(side.point_columns.lat)} AS DOUBLE)"
        # lenient coercion parity: DatasetGeometry.scala:90-96,105-107
        df = df.where(f"{lon} IS NOT NULL AND {lat} IS NOT NULL")
        derived: dict[str, str] = {}
        if need_centroid:
            derived.update({gx: lon, gy: lat})
        if need_refine:
            derived.update({x0: lon, y0: lat, x1: lon, y1: lat})
            derived[wktc] = "CAST(NULL AS STRING)"
        return df.selectExpr("*", *(f"{e} AS {n}" for n, e in derived.items()))

    wkt = sql_col(side.wkt_column)
    # the side's last projection: everything, or, after the bbox generator,
    # the columns it came with (its number array dropped) and the bbox
    out = ["*"]
    if need_refine:
        # the numbers are extracted once, into their own column, and the
        # four bbox values leave through a generator: Catalyst copies a
        # projected expression into every isnotnull filter it infers from
        # the join and pushes down, but it does not push across a Generate
        nums = f"__sjt_{tag}_nums"
        xs = f"filter({nums}, (v, i) -> i % 2 = 0)"
        ys = f"filter({nums}, (v, i) -> i % 2 = 1)"
        out = [*map(sql_ident, df.columns), x0, y0, x1, y1]
        df = (
            df.selectExpr("*", f"{_wkt_numbers(wkt)} AS {nums}")
            .selectExpr(
                "*",
                f"inline(array(named_struct('{x0}', array_min({xs}), "
                f"'{y0}', array_min({ys}), '{x1}', array_max({xs}), "
                f"'{y1}', array_max({ys}))))",
            )
            .where(f"{x0} IS NOT NULL AND {y0} IS NOT NULL")
        )
    else:
        # null-geometry drop without bbox columns
        df = df.where(f"size({_wkt_numbers(wkt)}) >= 2")
    if need_centroid:
        # the centroid UDF is nondeterministic, so no projection moves
        # across it: the number array goes before it
        if out != ["*"]:
            df, out = df.selectExpr(*out), ["*"]
        c = _wkt_centroid_udf()(side.wkt_column)
        df = df.withColumns({gx: c.getField("x"), gy: c.getField("y")})
        df = df.where(f"{gx} IS NOT NULL")
    if need_refine:
        out.append(f"CAST({wkt} AS STRING) AS {wktc}")
    return df if out == ["*"] else df.selectExpr(*out)


#: smallest withindist cell (degrees): below it a small radius would only
#: multiply cells, not prune more; the bbox predicates' cells are _BIN_W_MAX
_BIN_W_MIN, _BIN_W_MAX = 0.5, 2.0


def _withindist_bins(
    left: DataFrame, right: DataFrame, lt: str, rt: str, radius_m: float
) -> tuple[DataFrame, DataFrame, str]:
    """Grid-cell equi-keys for the distance join on the centroid columns the
    exact re-filter reads, so Catalyst plans a hash join (broadcast or
    shuffled) instead of a nested loop.

    A pair passes the re-filter ``round(d) <= r`` only if d < r + ½ m, so
    the certified kNN-grid bounds of ``operators/knn.py`` give its window:
    Δφ ≤ dφ = (r + ½)/_MPD_LAT, and the wrapped Δλ ≤ 2·asin(q) with
    q = (r + ½) / (2·b·√(cos φ · cos φ*)) at the broadcast row's latitude φ
    and φ* = min(90°, |φ| + dφ) — the whole circle (180°) when the bound
    does not converge (``NOT (q < 1)``: Spark orders NaN above 1, so
    ``least(q, 1)`` takes it to 1 as well).

    - cells are dφ wide (at least ``_BIN_W_MIN``), snapped so that 360°
      holds a whole number ``nbx`` of them: the column index taken mod
      ``nbx`` then wraps exactly at the antimeridian;
    - the iterated (left) row emits its one cell; the broadcast (right)
      row explodes the cells of its window: at most 3 rows (clamped to the
      globe) × ``nbx`` columns — at any radius at most 24 cells up to 40°
      latitude, about 120 up to 80°, and 3 × 720 for a row at the pole;
    - the residual is the window itself (no dedup: each row of either side
      holds each cell at most once);
    - a centroid off the globe (|φ| > 90°, or NaN) matches nothing: its
      broadcast row emits no cell, its iterated row fails the residual.
      Longitudes need no guard: every one maps to its cell mod 360°.

    Returns ``(left, right, condition)`` with the cell columns attached;
    the exact meter re-filter stays downstream
    (SpatialJoin.scala:353-368).
    """
    reach = radius_m + 0.5
    dlat = reach / _MPD_LAT
    nbx = max(1, math.floor(360.0 / max(_BIN_W_MIN, dlat)))
    w = 360.0 / nbx
    ww, dd, dl = sql_double(w), sql_double(dlat), "__sjt_dl"
    lx, ly = f"__sjt_{lt}_gx", f"__sjt_{lt}_gy"
    rx, ry = f"__sjt_{rt}_gx", f"__sjt_{rt}_gy"

    left = left.selectExpr(
        "*",
        f"pmod(floor({lx} / {ww}), {nbx}) AS __sjt_cx_{lt}",
        f"floor({ly} / {ww}) AS __sjt_cy_{lt}",
    )
    q = (
        f"{sql_double(reach / (2.0 * _RPOL))} / sqrt(cos(radians({ry})) * "
        f"cos(radians(least(90.0D, abs({ry}) + {dd}))))"
    )
    x0, x1 = (f"floor(({rx} {s} {dl}) / {ww})" for s in "-+")
    xs = (
        f"CASE WHEN {x1} - {x0} < {nbx} THEN "
        f"transform(sequence({x0}, {x1}), x -> pmod(x, {nbx})) "
        f"ELSE sequence(0L, {nbx - 1}L) END"
    )
    # latitude rows clamped to the globe's, as the left rows compute them;
    # an off-globe (|φ| > 90°) or NaN row emits none, so garbage cannot
    # reverse the range (a descending sequence) or inflate it
    ys = (
        f"CASE WHEN abs({ry}) <= 90.0D THEN sequence("
        f"greatest(floor(({ry} - {dd}) / {ww}), {math.floor(-90.0 / w)}L), "
        f"least(floor(({ry} + {dd}) / {ww}), {math.floor(90.0 / w)}L)) "
        "ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    right = right.selectExpr(
        "*", f"2.0D * degrees(asin(least({q}, 1.0D))) AS {dl}"
    ).selectExpr(
        "*",
        f"inline(flatten(transform({xs}, x -> transform({ys}, y -> "
        f"named_struct('__sjt_cx_{rt}', x, '__sjt_cy_{rt}', y)))))",
    )
    cond = (
        f"__sjt_cx_{lt} = __sjt_cx_{rt} AND __sjt_cy_{lt} = __sjt_cy_{rt} "
        f"AND abs({ly}) <= 90.0D AND abs({ly} - {ry}) <= {dd} "
        f"AND 180.0D - abs(pmod({lx} - {rx}, 360.0D) - 180.0D) <= {dl}"
    )
    return left, right, cond


def _bbox_bins(
    op: str, left: DataFrame, right: DataFrame, lt: str, rt: str
) -> tuple[DataFrame, DataFrame, str]:
    """Grid-cell equi-keys for the bbox predicates (within / contains /
    intersects / overlaps), under either strategy: with the right side
    broadcast Catalyst plans a BroadcastHashJoin, without it a shuffled
    equi-join for big×big inputs.

    - ``within`` (left ⊆ right): the left side emits only its bbox
      MIN-CORNER cell — containment implies the right side's covered cells
      include it — so no dedup is needed (one cell per left row);
    - ``contains``: symmetric (right emits its corner, left explodes);
    - ``intersects``/``overlaps``: both sides explode their covered cells
      and a pair survives only in the cell of the bbox-intersection's min
      corner (a reference-point dedup).

    Cells are planar (no antimeridian wrap), matching the reference's
    planar bbox semantics for these predicates; cell indices clamp to the
    globe range so degenerate geometry can't explode rows.

    Returns ``(left, right, condition)`` with the cell columns attached and
    the full coarse condition (equi-keys + dedup + the precise bbox
    window) as SQL text; the exact DE-9IM refine runs downstream.
    """
    w = _BIN_W_MAX
    lims = {
        "x": (math.floor(-180.0 / w), math.floor(180.0 / w)),
        "y": (math.floor(-90.0 / w), math.floor(90.0 / w)),
    }

    def cell(v: str, axis: str) -> str:
        lo, hi = lims[axis]
        return f"greatest(least(floor(({v}) / {w}D), {hi}), {lo})"

    def bbox(tag: str, c: str) -> str:
        return f"__sjt_{tag}_{c}"

    def corner(df: DataFrame, tag: str) -> DataFrame:
        return df.selectExpr(
            "*",
            f"{cell(bbox(tag, 'x0'), 'x')} AS __sjt_cx_{tag}",
            f"{cell(bbox(tag, 'y0'), 'y')} AS __sjt_cy_{tag}",
        )

    def cover(df: DataFrame, tag: str) -> DataFrame:
        # x0 <= x1 and y0 <= y1 by construction, so each sequence ascends
        xs, ys = (
            f"sequence({cell(bbox(tag, f'{a}0'), a)}, {cell(bbox(tag, f'{a}1'), a)})"
            for a in ("x", "y")
        )
        return df.selectExpr(
            "*",
            f"inline(flatten(transform({xs}, cx -> transform({ys}, cy -> "
            f"named_struct('__sjt_cx_{tag}', cx, '__sjt_cy_{tag}', cy)))))",
        )

    keys = [f"__sjt_c{a}_{lt} = __sjt_c{a}_{rt}" for a in ("x", "y")]
    if op in ("within", "contains"):
        inner, outer = (lt, rt) if op == "within" else (rt, lt)
        keyed = {inner: corner, outer: cover}
        window = [f"{bbox(inner, c)} >= {bbox(outer, c)}" for c in ("x0", "y0")]
        window += [f"{bbox(inner, c)} <= {bbox(outer, c)}" for c in ("x1", "y1")]
    else:  # intersects / overlaps
        keyed = {lt: cover, rt: cover}
        window = [
            f"{bbox(lt, f'{a}0')} <= {bbox(rt, f'{a}1')} AND "
            f"{bbox(lt, f'{a}1')} >= {bbox(rt, f'{a}0')}"
            for a in ("x", "y")
        ]
        keys += [
            f"__sjt_c{a}_{lt} = "
            + cell(f"greatest({bbox(lt, f'{a}0')}, {bbox(rt, f'{a}0')})", a)
            for a in ("x", "y")
        ]
    left, right = keyed[lt](left, lt), keyed[rt](right, rt)
    return left, right, " AND ".join(keys + window)


def prepare_external(df: DataFrame, plan: SpatialJoinPlan) -> DataFrame:
    """Filter → project → repartition the external side, then move it into
    the internal ``__sjt_e__`` namespace so it can never collide with input
    column names.  Parity: BroadcastSpatialJoin.scala:233-248."""
    side = plan.external_side
    if plan.filter:
        df = df.filter(plan.filter)

    keep: list[str] = []
    for name, _alias in plan.data_columns:
        if name not in keep:
            keep.append(name)
    geom_cols = (
        [side.wkt_column]
        if side.is_wkt
        else [side.point_columns.lon, side.point_columns.lat]
    )
    # tie_break columns survive pruning even when not projected out —
    # nearest-ties are broken on them BEFORE the data_columns projection,
    # and dropping them here surfaced as an unresolved `__sjt_e__<col>`
    # (r6: j32 asked for k=3 nearest keeping only s_nationkey).  tie_break
    # names BROADCAST-side columns, which is the INPUT side under
    # broadcast="input" — keep only the ones that live on this frame.
    tb_here = [c for c in plan.tie_break if c in df.columns]
    for c in geom_cols + tb_here + condition_external_columns(plan.condition):
        if c and c not in keep:
            keep.append(c)
    prefixed = [f"{sql_col(c)} AS {sql_ident(EXT_PREFIX + c)}" for c in keep]
    if plan.num_partitions:
        df = df.selectExpr(*map(sql_col, keep)).repartition(plan.num_partitions)
    return df.selectExpr(*prefixed)


def _prefixed_side(side: SideConfig) -> SideConfig:
    """The external side's geometry columns in the ``__sjt_e__`` namespace,
    backtick-quoted so they name exactly the columns prepare_external made."""

    def name(c: str) -> str:
        return sql_ident(f"{EXT_PREFIX}{c}")

    if side.is_wkt:
        return SideConfig(wkt_column=name(side.wkt_column))
    lon, lat = side.point_columns.lon, side.point_columns.lat
    return SideConfig(point_columns=PointColumns(name(lon), name(lat)))


def spatial_join(
    input_df: DataFrame, external_df: DataFrame, plan: SpatialJoinPlan
) -> DataFrame:
    """Compile the spatial join plan against the two DataFrames.

    ``external_df`` is the raw external dataset (pre-filter); ``input_df`` is
    the transformer input.  Returns the joined DataFrame with columns
    ``input ++ selected-aliased-external ++ [distance]``.

    ``num_partitions`` honors the reference X1 contract (output has exactly
    N partitions — BroadcastSpatialJoinTest.scala:151): broadcast plans that
    iterate the repartitioned external side carry N through for free; plans
    that may shuffle after the join (nearest with a condition, which can
    take the grid pass; the partitioned strategy) append one explicit
    repartition.
    """
    out = _compile_spatial_join(input_df, external_df, plan)
    if plan.num_partitions:
        preserved = (
            plan.strategy == "broadcast"
            and plan.broadcast_input  # external side is the iterated left
            and (plan.op != "nearest" or not plan.condition)
        )
        if not preserved:
            out = out.repartition(plan.num_partitions)
    return out


def _compile_spatial_join(
    input_df: DataFrame, external_df: DataFrame, plan: SpatialJoinPlan
) -> DataFrame:
    ensure_udf_portability()
    op = plan.op
    if op == "withindist" and plan.radius_meters <= 0:
        raise ValueError(
            "withindist requires a positive radius in meters, e.g. "
            f"'withindist 500' (got predicate {plan.predicate!r})"
        )
    if plan.k != 1 and op != "nearest":
        raise ValueError(f"k={plan.k} is only meaningful for 'nearest'")
    if plan.k < 1:
        raise ValueError(f"k must be >= 1 (got {plan.k})")
    need_dist = bool(plan.distance_column) or op in ("nearest", "withindist")
    need_refine = op in _NEEDS_REFINE

    ext = prepare_external(external_df, plan)
    ext_side = _prefixed_side(plan.external_side)

    input_cols = list(input_df.columns)

    ext = _prepare_side(ext, ext_side, "e", need_dist, need_refine)
    inp = _prepare_side(input_df, plan.input_side, "i", need_dist, need_refine)

    # iterated (left) vs broadcast (right); predicate applies left.op(right)
    if plan.broadcast_input:
        left, right, lt, rt = ext, inp, "e", "i"
    else:
        left, right, lt, rt = inp, ext, "i", "e"

    if op == "nearest":
        # the broadcast kernel answers the plain case and masks a simple
        # numeric condition; the partitioned strategy and every other
        # condition take the certified grid pass, whose cell join shuffles
        # the iterated side anyway, so the parallelism guard below would
        # only add an exchange
        routing = _nearest_routing(plan, lt, input_cols)
        cond_spec = (
            _kernel_condition_spec(plan.condition, ext, inp)
            if plan.condition and plan.strategy == "broadcast"
            else None
        )
        if plan.strategy == "partitioned" or (plan.condition and cond_spec is None):
            return _partitioned_nearest_route(left, right, lt, rt, plan, routing)

    # Parallelism guard: the iterated side drives every task.  Small local
    # parquet collapses to 1-2 input splits, which would serialize the whole
    # join; at cluster scale the side already has >= defaultParallelism
    # partitions and this is a no-op (stats-only probe — see
    # operators/_guard.py).  An explicit numPartitions on the external side
    # is honored as-is (reference X1 semantics).
    explicit_parts = plan.num_partitions is not None and lt == "e"
    if not explicit_parts and not left.isStreaming:
        from spark_ml_spatialjointransformer_spark.operators._guard import (
            ensure_min_parallelism,
        )

        left = ensure_min_parallelism(left)

    if op == "nearest":
        return _broadcast_knn(left, right, lt, plan, routing, cond_spec)

    if op == "withindist":
        left, right, cond = _withindist_bins(left, right, lt, rt, plan.radius_meters)
    else:
        left, right, cond = _bbox_bins(op, left, right, lt, rt)
    on = F.expr(cond)
    if plan.condition:
        rewritten = rewrite_condition(plan.condition, EXT_PREFIX)
        _validate_condition_syntax(input_df, rewritten, plan.condition)
        on = on & F.expr(rewritten)

    # the strategy is only a broadcast hint: ``partitioned`` lets both
    # sides shuffle on the grid-cell equi-keys (sort-merge/shuffled-hash
    # under AQE, skew-split on hot cells) for big×big joins
    joined = left.join(
        right if plan.strategy == "partitioned" else F.broadcast(right),
        on=on,
        how="inner",
    )

    if need_refine:
        def side_args(tag: str, side: SideConfig) -> list[str]:
            if side.is_wkt:
                return [f"__sjt_{tag}_wkt", "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"]
            lon, lat = side.point_columns.lon, side.point_columns.lat
            return [
                "CAST(NULL AS STRING)",
                f"CAST({sql_col(lon)} AS DOUBLE)",
                f"CAST({sql_col(lat)} AS DOUBLE)",
            ]

        l_side = ext_side if lt == "e" else plan.input_side
        r_side = plan.input_side if rt == "i" else ext_side
        args = side_args(lt, l_side) + side_args(rt, r_side)
        joined = joined.where(
            _refine_udf(op, l_side.is_wkt, r_side.is_wkt)(*map(F.expr, args))
        )

    if need_dist:
        args = ["__sjt_e_gx", "__sjt_e_gy", "__sjt_i_gx", "__sjt_i_gy"]
        if plan.distance_kernel == "haversine":
            hav = haversine_sql(*args, double_suffix="D")
            joined = joined.selectExpr("*", f"{hav} AS __sjt_dist")
        else:
            joined = joined.withColumn("__sjt_dist", geodesic_distance_udf()(*args))

    dist_m = "CAST(round(__sjt_dist) AS INT)"
    if op == "withindist":
        # exact re-filter on rounded Int meters: BroadcastSpatialJoin.scala:353-368
        joined = joined.where(f"{dist_m} <= {int(plan.radius_meters)}")

    # output assembly: input cols ++ selected external ++ distance
    out_cols = [sql_ident(c) for c in input_cols]
    for name, alias in plan.data_columns:
        out_cols.append(f"{sql_ident(EXT_PREFIX + name)} AS {sql_ident(alias)}")
    if plan.distance_column:
        out_cols.append(f"{dist_m} AS {sql_ident(plan.distance_column)}")
    return joined.selectExpr(*out_cols)


def _validate_condition_syntax(df: DataFrame, rewritten: str, original: str) -> None:
    """Config-time failure parity: the reference rejects bad ``condition``
    strings when the plan is built (IllegalArgumentException,
    BroadcastSpatialJoin.scala:531).  ``F.expr`` defers parsing to analysis,
    so force a parse here; on backends without the classic parser handle the
    failure still surfaces at analysis (best-effort early check)."""
    try:
        parser = df.sparkSession._jsparkSession.sessionState().sqlParser()
    except Exception:
        return
    try:
        parser.parseExpression(rewritten)
    except Exception as e:
        raise ValueError(
            f"invalid condition {original!r}: "
            "not parseable as a SQL boolean expression"
        ) from e


class _NearestRouting(NamedTuple):
    """Where each ``nearest`` output column comes from, for one join
    direction: the iterated (left) side keeps its own columns, the
    broadcast (right) side contributes the payload of the winning rows."""

    #: iterated-side source columns carried to the output, and their names
    left_keep: list[str]
    left_out: list[str]
    #: broadcast-side payload columns, and their output names
    right_pay: list[str]
    right_out: list[str]
    #: broadcast-side tie-break columns (after distance, before row order)
    tie_break: list[str]
    #: the contract order: input cols ++ data cols ++ distance
    order: list[str]


def _nearest_routing(
    plan: SpatialJoinPlan, lt: str, input_cols: list[str]
) -> _NearestRouting:
    ext_src = [f"{EXT_PREFIX}{n}" for n, _ in plan.data_columns]
    ext_out = [a for _, a in plan.data_columns]
    order = list(input_cols) + ext_out
    if plan.distance_column:
        order.append(plan.distance_column)
    if lt == "i":  # the external side is broadcast: its data columns ride
        tb = [f"{EXT_PREFIX}{c}" for c in plan.tie_break]
        return _NearestRouting(input_cols, input_cols, ext_src, ext_out, tb, order)
    # the input side is broadcast: every input column rides
    tb = list(plan.tie_break)
    return _NearestRouting(ext_src, ext_out, input_cols, input_cols, tb, order)


def _partitioned_nearest_route(
    left: DataFrame,
    right: DataFrame,
    lt: str,
    rt: str,
    plan: SpatialJoinPlan,
    routing: _NearestRouting,
) -> DataFrame:
    """Adapter from the plan surface to operators/knn.partitioned_nearest:
    the grid pass for the partitioned strategy and for every condition the
    broadcast kernel cannot mask."""
    from spark_ml_spatialjointransformer_spark.operators.knn import (
        partitioned_nearest,
    )

    cond_col = None
    l_extra: list[str] = []
    r_extra: list[str] = []
    if plan.condition:
        rewritten = rewrite_condition(plan.condition, EXT_PREFIX)
        _validate_condition_syntax(left, rewritten, plan.condition)
        cond_col = F.expr(rewritten)
        ext_cond = [EXT_PREFIX + c for c in condition_external_columns(plan.condition)]
        inp_cond = condition_input_columns(plan.condition)
        l_extra, r_extra = (
            (inp_cond, ext_cond) if lt == "i" else (ext_cond, inp_cond)
        )

    dist_fn = (
        (lambda *xy: F.expr(haversine_sql(*xy, double_suffix="D")))
        if plan.distance_kernel == "haversine"
        else geodesic_distance_udf()
    )
    res = partitioned_nearest(
        left,
        right,
        routing.left_keep,
        (f"__sjt_{lt}_gx", f"__sjt_{lt}_gy"),
        routing.right_pay,
        (f"__sjt_{rt}_gx", f"__sjt_{rt}_gy"),
        routing.tie_break,
        dist_fn,
        plan.distance_column,
        routing.left_out + routing.right_out,
        condition=cond_col,
        l_extra_cols=l_extra,
        r_extra_cols=r_extra,
        k=plan.k,
    )
    return res.selectExpr(*map(sql_ident, routing.order))


def _knn_kernel(kernel: str):
    from spark_ml_spatialjointransformer_spark.functions.geodesic import (
        haversine_np,
        vincenty_np,
    )

    return haversine_np if kernel == "haversine" else vincenty_np


#: condition shapes the vectorized kNN kernel can evaluate as a numpy mask:
#: one comparison between one external and one input column, both numeric.
_KERNEL_COND_RE = re.compile(
    r"^\s*left\.(\w+)\s*(==|=|!=|<>|<=|>=|<|>)\s*right\.(\w+)\s*$"
)
#: the flipped spelling (`right.B op left.A`) normalizes into the same
#: spec with the comparison mirrored
_KERNEL_COND_RE_FLIP = re.compile(
    r"^\s*right\.(\w+)\s*(==|=|!=|<>|<=|>=|<|>)\s*left\.(\w+)\s*$"
)

_MIRROR_OP = {
    "=": "=", "==": "==", "!=": "!=", "<>": "<>",
    "<": ">", "<=": ">=", ">": "<", ">=": "<=",
}

_KERNEL_COND_OPS = {
    "=": lambda e, i: e == i,
    "==": lambda e, i: e == i,
    "!=": lambda e, i: e != i,
    "<>": lambda e, i: e != i,
    "<": lambda e, i: e < i,
    "<=": lambda e, i: e <= i,
    ">": lambda e, i: e > i,
    ">=": lambda e, i: e >= i,
}

_KERNEL_COND_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType,
)


def _kernel_condition_spec(
    condition: str, ext: DataFrame, inp: DataFrame
) -> "tuple[str, str, str] | None":
    """Parse ``left.<A> op right.<B>`` into ``(ext_col, op, inp_col)`` if —
    and only if — the vectorized kNN kernel can evaluate it exactly:
    single comparison, both columns plain NUMERIC (int/float) columns of
    their sides.  Anything else (compound booleans, string/timestamp
    operands, expressions, parentheses) returns None and the caller
    routes the join through the grid pass of ``operators/knn.py``, which
    filters candidates with any SQL condition.  Values are compared in
    float64 inside the kernel, so integral operands are loudly rejected at
    runtime beyond 2^53 (see the kernel's ``_cond_f64_local``) rather than
    silently losing equality precision."""
    m = _KERNEL_COND_RE.match(condition)
    if m is not None:
        ext_col, op_s, inp_col = m.group(1), m.group(2), m.group(3)
    else:
        m = _KERNEL_COND_RE_FLIP.match(condition)
        if m is None:
            return None
        inp_col, op_s, ext_col = m.group(1), m.group(2), m.group(3)
        op_s = _MIRROR_OP[op_s]
    ext_fields = {f.name: f.dataType for f in ext.schema.fields}
    inp_fields = {f.name: f.dataType for f in inp.schema.fields}
    et = ext_fields.get(f"{EXT_PREFIX}{ext_col}")
    it = inp_fields.get(inp_col)
    if not isinstance(et, _KERNEL_COND_NUMERIC):
        return None
    if not isinstance(it, _KERNEL_COND_NUMERIC):
        return None
    return ext_col, op_s, inp_col


def _broadcast_knn(
    left: DataFrame,
    right: DataFrame,
    lt: str,
    plan: SpatialJoinPlan,
    routing: _NearestRouting,
    cond_spec: "tuple[str, str, str] | None" = None,
) -> DataFrame:
    """``nearest`` fast path: the broadcast side is collected (it must fit in
    memory — the reference's own contract, README.md:163-166), shipped as a
    Spark broadcast of numpy arrays, and each iterated-side partition
    computes a vectorized distance matrix + argmin via mapInPandas.

    Compared to a candidate join + per-row ranking this removes the joined
    intermediate AND the shuffle entirely: output partitioning == iterated
    side partitioning, O(L·R/cores) numpy flops.  Ties break by the
    tie_break columns then by broadcast collect order (stable argmin on a
    pre-sorted array).
    """
    ensure_udf_portability()
    spark = left.sparkSession
    kernel = _knn_kernel(plan.distance_kernel)

    # ---- broadcast side: payload + coordinates, deterministically ordered
    pay_src, out_right, tb = routing.right_pay, routing.right_out, routing.tie_break

    # condition mask operands: ext col rides with whichever side holds it
    if cond_spec is not None:
        c_ext, c_op, c_inp = cond_spec
        bc_cond_col = f"{EXT_PREFIX}{c_ext}" if lt == "i" else c_inp
        it_cond_col = c_inp if lt == "i" else f"{EXT_PREFIX}{c_ext}"
    else:
        bc_cond_col = it_cond_col = c_op = None

    # collect the broadcast side (object arrays: exact nulls/ints/timestamps,
    # unlike toPandas' float64 coercion of nullable ints)
    rt_tag = "i" if lt == "e" else "e"
    npay = len(pay_src)
    sel = right.selectExpr(
        *[f"{sql_ident(c)} AS __pay{i}" for i, c in enumerate(pay_src)],
        f"__sjt_{rt_tag}_gx AS __gx",
        f"__sjt_{rt_tag}_gy AS __gy",
        *[f"{sql_ident(c)} AS __tb{i}" for i, c in enumerate(tb)],
        *([f"{sql_col(bc_cond_col)} AS __cnd"] if bc_cond_col else []),
    )
    # Arrow transfer when every column is timezone-free: ~2-3x cheaper than
    # the pickled-Row path for a 10k+-row broadcast side (measured r11:
    # 0.48 s -> ~0.2 s of f7's per-run plan-build).  to_pylist() yields the
    # same exact python values as Row access for numeric/string/binary/
    # date/decimal; TIMESTAMP columns fall back to collect() because Arrow
    # hands back tz-AWARE datetimes where Row gives session-naive ones —
    # a silent value shift under non-UTC sessions.
    _TS = (T.TimestampType, T.TimestampNTZType)
    cols: dict[str, list] | None = None
    if not any(isinstance(f.dataType, _TS) for f in sel.schema.fields):
        try:
            tbl = sel.toArrow()
            cols = {
                name: tbl.column(i).to_pylist()
                for i, name in enumerate(tbl.column_names)
            }
            n_rows = tbl.num_rows
        except Exception:
            cols = None
    if cols is None:
        collected = sel.collect()
        names = sel.columns
        cols = {
            name: [r[j] for r in collected] for j, name in enumerate(names)
        }
        n_rows = len(collected)
    order = list(range(n_rows))
    if tb:
        # None-safe sort key, nulls FIRST — matching the SQL null ordering
        # of the grid pass's ranking window (a bare tuple key would raise
        # TypeError on None vs non-None comparisons)
        tbvals = [cols[f"__tb{i}"] for i in range(len(tb))]
        order.sort(
            key=lambda j: tuple(
                (tbvals[i][j] is not None, tbvals[i][j])
                for i in range(len(tb))
            )
        )
    r_lon = np.array([cols["__gx"][j] for j in order], dtype=np.float64)
    r_lat = np.array([cols["__gy"][j] for j in order], dtype=np.float64)
    r_payload = {
        out_right[i]: np.array(
            [cols[f"__pay{i}"][j] for j in order], dtype=object
        )
        for i in range(npay)
    }
    def _cond_f64_local(values):
        out = np.array(
            [np.nan if pd.isna(v) else float(v) for v in values],
            dtype=np.float64,
        )
        finite = np.isfinite(out)
        if np.any(np.abs(out[finite]) >= 2.0**53):
            raise ValueError(
                "spatial_join condition kernel: operand magnitude >= 2^53 "
                "loses comparison precision in float64 — use the grid "
                "pass (rewrite the condition so the kernel parser skips "
                "it, e.g. wrap it in parentheses)"
            )
        return out

    r_cond = (
        _cond_f64_local([cols["__cnd"][j] for j in order])
        if cond_spec is not None
        else None
    )
    bc = spark.sparkContext.broadcast((r_lon, r_lat, r_payload, r_cond))

    # ---- output schema: input cols ++ aliased data cols ++ distance, read
    # off the iterated side and the broadcast projection already resolved
    src_fields = {f.name: f for f in left.schema.fields}
    src_fields.update(zip(pay_src, sel.schema.fields))
    input_cols = routing.left_keep if lt == "i" else routing.right_pay
    fields = [
        T.StructField(c, src_fields[c].dataType, src_fields[c].nullable)
        for c in input_cols
    ]
    for name, alias in plan.data_columns:
        f = src_fields[f"{EXT_PREFIX}{name}"]
        fields.append(T.StructField(alias, f.dataType, True))
    if plan.distance_column:
        fields.append(T.StructField(plan.distance_column, T.IntegerType(), True))
    out_schema = T.StructType(fields)

    # mapInPandas hands the kernel every column by its F.col-parsed name,
    # which a backtick or a dot in a name breaks: the iterated side goes in
    # as the columns the kernel reads, under safe aliases
    left_keep = [f"__k{i}" for i in range(len(routing.left_keep))]
    left = left.selectExpr(
        *[f"{sql_ident(c)} AS {k}" for c, k in zip(routing.left_keep, left_keep)],
        f"__sjt_{lt}_gx AS __gx",
        f"__sjt_{lt}_gy AS __gy",
        *([f"{sql_ident(it_cond_col)} AS __cnd"] if cond_spec is not None else []),
    )
    # the executor closure takes the lists, not the routing: a type defined
    # in this module would not unpickle where the package is not installed
    left_out_names, out_order = routing.left_out, routing.order
    distance_column = plan.distance_column
    is_geodesic = plan.distance_kernel != "haversine"
    # bound the B×R temp matrices.  Sized for CACHE, not just memory: the
    # haversine chain allocates ~8 full-size temporaries, and at 8M cells
    # (64 MB each) every op round-trips DRAM — measured r6: 8M-cell chunks
    # ran the same task 5x slower than 1M-cell chunks (6.5 s vs 1.3 s for
    # 11.7M pairs; vincenty's iterated temporaries: 76 s at 2M vs 45 s at
    # 125k cells).
    max_cells = 125_000 if is_geodesic else 1_000_000

    k = plan.k

    # everything the executor closure touches must be closure-local or an
    # importable third-party module: this module itself is NOT registered
    # for by-value pickling (ensure_udf_portability), so a reference to a
    # module-level helper here would ModuleNotFoundError on executors that
    # don't have the package installed (the repo's portability contract).
    # _KERNEL_COND_OPS holds plain lambdas (cloudpickle ships those by
    # value); the float64 conversion is re-stated as a nested function.
    op_fn = _KERNEL_COND_OPS[c_op] if cond_spec is not None else None

    def knn_batches(batches):
        r_lon_, r_lat_, r_payload_, r_cond_ = bc.value
        n_r = len(r_lon_)
        take = min(k, n_r)
        for pdf in batches:
            if n_r == 0 or len(pdf) == 0:
                continue
            l_lon = pdf["__gx"].to_numpy(np.float64)
            l_lat = pdf["__gy"].to_numpy(np.float64)
            l_cond = (
                _cond_f64_local(pdf["__cnd"])
                if op_fn is not None
                else None
            )

            def mask_inf(dm, s, e):
                # disallowed pairs → +inf BEFORE the argmin; the condition
                # is written `left.<ext> op right.<inp>`, so orient the
                # operands by which side is iterated.  NULL operands never
                # match (numpy NaN != x is True, SQL says unknown → drop,
                # hence the explicit NaN mask).
                if lt == "i":
                    ev, iv = r_cond_[None, :], l_cond[s:e, None]
                else:
                    ev, iv = l_cond[s:e, None], r_cond_[None, :]
                ok = op_fn(ev, iv) & ~np.isnan(ev) & ~np.isnan(iv)
                dm[~ok] = np.inf
                return dm

            step = max(1, max_cells // max(n_r, 1))
            if take == 1:
                idx = np.empty(len(pdf), dtype=np.int64)
                dmin = np.empty(len(pdf), dtype=np.float64)
                for s in range(0, len(pdf), step):
                    e = min(s + step, len(pdf))
                    dm = kernel(
                        l_lon[s:e, None], l_lat[s:e, None],
                        r_lon_[None, :], r_lat_[None, :],
                    )
                    if op_fn is not None:
                        dm = mask_inf(dm, s, e)
                    idx[s:e] = np.argmin(dm, axis=1)  # first min → tie-break order
                    dmin[s:e] = dm[np.arange(e - s), idx[s:e]]
                rep = np.arange(len(pdf))
            else:
                # top-k: stable argsort keeps equal distances in broadcast
                # (tie-break) order, matching the grid pass's ordering
                idx2 = np.empty((len(pdf), take), dtype=np.int64)
                dk = np.empty((len(pdf), take), dtype=np.float64)
                for s in range(0, len(pdf), step):
                    e = min(s + step, len(pdf))
                    dm = kernel(
                        l_lon[s:e, None], l_lat[s:e, None],
                        r_lon_[None, :], r_lat_[None, :],
                    )
                    if op_fn is not None:
                        dm = mask_inf(dm, s, e)
                    order = np.argsort(dm, axis=1, kind="stable")[:, :take]
                    idx2[s:e] = order
                    dk[s:e] = dm[np.arange(e - s)[:, None], order]
                idx = idx2.ravel()
                dmin = dk.ravel()
                rep = np.repeat(np.arange(len(pdf)), take)
            if op_fn is not None:
                # inner-join semantics: candidates (and whole rows) whose
                # every pairing failed the condition simply don't emit
                keep = np.isfinite(dmin)
                rep, idx, dmin = rep[keep], idx[keep], dmin[keep]
            out = {}
            for name, src in zip(left_out_names, left_keep):
                out[name] = pdf[src].to_numpy()[rep]
            for name, arr in r_payload_.items():
                out[name] = arr[idx]
            if distance_column:
                out[distance_column] = np.floor(dmin + 0.5).astype(np.int32)
            # in the schema's (contract) order, so columns match it by name
            # and by position alike
            yield pd.DataFrame({c: out[c] for c in out_order})

    return left.mapInPandas(knn_batches, schema=out_schema)
