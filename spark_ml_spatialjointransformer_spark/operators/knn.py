"""Partitioned (big×big) nearest-neighbor join — the beyond-reference scale
path that lifts the broadcast memory bound of ``nearest``.

The reference's contract requires the indexed side to fit in memory
(/root/reference/README.md:163-166); at 100 TB a kNN whose query side
outgrows memory is the first real wall.  This operator keeps BOTH sides
distributed and answers every left row in one certified pass (the REPOSE
recipe: a global grid partitioning, an exact local search per partition,
and a pruning bound that settles every row):

1. a fixed-width lon/lat grid buckets both sides; one grid-bounded
   aggregate job (at most 65k keys per side on a 4× finer sub-grid of
   1° — never data-sized) collects the occupied sub-cells of both sides
   with the right side's per-sub-cell counts;
2. per occupied left cell the driver bounds the k-th neighbor distance of
   every row in it: ``D`` = the smallest cell-to-cell upper distance at
   which the right cells within it hold ≥ k rows, tightened on the
   sub-grid.  From ``D`` it solves the cell's ring — every right row
   outside it is provably farther than ``D`` (bounds below), so it cannot
   enter any of the cell's top-k;
3. a broadcast ``(right cell → left cell)`` pair table replicates each
   right row to the left cells whose ring holds it;
4. one equi-join on the left cell (a sort-merge join: both sides shuffle
   on the cell, the plan's only two exchanges) computes the distances and
   keeps the top k per left row with a window partitioned by
   ``(cell, row id)`` — the join's output is already hash-partitioned on
   the cell, so the window adds no exchange.  The left payload rides
   through the join.

Ring bounds (valid for both the spherical haversine kernel and the WGS84
geodesic):

- more than ``r`` unseen latitude cells away means Δφ > r·w, so
  d > r·w·110500 m (min meters per degree of latitude, WGS84-safe);
- more than ``r`` unseen (wrap-aware) longitude cells away means Δλ > r·w,
  so d > 2·b·√(cos φ_left · cos φ*)·sin(r·w/2) m (the 3D chord through the
  equatorial-plane projection, b = polar radius; φ* = |φ_left| + D/110500
  bounds the latitude of any point that the latitude bound does not
  already exclude);
- cells reaching |lat| ≥ 75° (where the longitude bound stops converging)
  take every longitude of their latitude band.

A left row with no (allowed) right row drops: inner-join semantics.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ml_spatialjointransformer_spark.plans.sqltext import sql_ident

#: grid cell width (degrees) — decoupled from data scale; 4° keeps the
#: occupied-cell census and the pair table small while cells stay fine
#: enough to prune
KNN_CELL_DEG = 4.0
#: minimum meters per degree of latitude (WGS84 meridian arc ≥ 110567;
#: margin for kernel differences)
_MPD_LAT = 110500.0
#: polar radius (WGS84 semi-minor axis) — the longitude exclusion bound is
#: the 3D chord through the equatorial-plane projection: two points with
#: azimuthal separation Δλ satisfy d ≥ |P1ₓᵧ−P2ₓᵧ| ≥ 2·√(p1·p2)·sin(Δλ/2)
#: with parallel-circle radii pᵢ ≥ b·cos φᵢ, so
#:   d ≥ 2·b·√(cos φ1 · cos φ2)·sin(Δλ/2)
#: — valid for the WGS84 geodesic (≥ chord) AND the spherical haversine
#: kernel (computed with R = 6371008.8 > b, and asin x ≥ x)
_RPOL = 6356752.0
#: upper bound on every radius of curvature of the WGS84 ellipsoid
#: (a²/b = 6399593.6 m, rounded up): its metric is at most this radius
#: times the unit sphere's, so a geodesic is at most _R_MAX × the central
#: angle between the same coordinates on the sphere — an upper distance
#: for both kernels
_R_MAX = 6.4e6
#: census sub-cells per cell side: the k-th distance bound is solved on
#: the finer grid (a 1° sub-cell is ~16× smaller than a 4° cell, so dense
#: data gets a ring of ~3×3 cells instead of ~5×5), the join keys stay cells
_SUB = 4
#: cells reaching this |lat| take every longitude of their latitude band
#: (cos φ too small for the longitude bound to converge near the poles)
_POLAR_LAT = 75.0


def partitioned_nearest(
    left: DataFrame,
    right: DataFrame,
    left_id_cols: list[str],
    left_xy: tuple[str, str],
    right_pay_cols: list[str],
    right_xy: tuple[str, str],
    tie_break: list[str],
    dist_expr,
    distance_column: str | None,
    out_names: list[str],
    cell_deg: float = KNN_CELL_DEG,
    condition: Column | None = None,
    l_extra_cols: list[str] = (),
    r_extra_cols: list[str] = (),
    k: int = 1,
) -> DataFrame:
    """For every left row, the ``k`` nearest right rows — no broadcast of
    either side.  ``dist_expr(lx, ly, rx, ry) -> Column`` computes meters
    from four column names; ``out_names`` = output columns in order
    left_id_cols ++ renamed right_pay_cols (++ distance_column).  Ties
    break on (distance, tie_break right columns, right insertion id) like
    the broadcast paths.

    One pass: the cell-level bound ``D`` of a left cell is an upper bound
    on the k-th distance of each of its rows (≥ k right rows lie within
    ``D`` of any point of the cell), and every right row outside the
    cell's ring is farther than ``D`` — so the candidates inside the ring
    hold each row's exact top-k, tie-breaks included.

    ``condition`` (optional boolean Column over ``l_extra_cols`` /
    ``r_extra_cols``) filters candidate pairs INSIDE the cell join.  A
    filter can leave a row fewer than k allowed candidates in its ring, so
    a row is settled only if it has ≥ k allowed candidates and its k-th
    allowed distance is ≤ ``D`` (or its ring already covers every occupied
    right cell).  A first pass finds the unsettled rows; the final pass
    widens the ring of each cell holding one to the largest k-th allowed
    distance of its unsettled rows — or to the whole grid when one of them
    has fewer than k — which settles every row: at most two passes.
    """
    w = cell_deg
    nbx = max(1, int(round(360.0 / w)))

    def col(name: str) -> Column:
        """The column named exactly ``name`` (a dot or a backtick in it is
        part of the name)."""
        return F.col(sql_ident(name))

    def cell(x: str, y: str, width: float, cols: int, names: str) -> list[Column]:
        """Wrap-aware grid column and row of the point ``(x, y)``."""
        return [
            (((F.floor(F.col(x) / width) % cols) + cols) % cols).alias(f"__{names}x"),
            F.floor(F.col(y) / width).alias(f"__{names}y"),
        ]

    L = left.select(
        *[col(c) for c in dict.fromkeys([*left_id_cols, *l_extra_cols])],
        F.col(left_xy[0]).alias("__lx"),
        F.col(left_xy[1]).alias("__ly"),
        F.monotonically_increasing_id().alias("__pid"),
        *cell(*left_xy, w, nbx, "lc"),
    )
    # __rid (right insertion order, the last tie-break) is assigned before
    # any replication
    R = right.select(
        *[col(c) for c in dict.fromkeys([*right_pay_cols, *tie_break, *r_extra_cols])],
        F.col(right_xy[0]).alias("__rx"),
        F.col(right_xy[1]).alias("__ry"),
        F.monotonically_increasing_id().alias("__rid"),
        *cell(*right_xy, w, nbx, "rc"),
    )

    # the one census job: occupied sub-cells of both sides, right counts
    f = w / _SUB
    census = [
        r
        for r in L.select(F.lit(1).alias("__left"), *cell("__lx", "__ly", f, nbx * _SUB, "f"))
        .union(R.select(F.lit(0), *cell("__rx", "__ry", f, nbx * _SUB, "f")))
        .groupBy("__left", "__fx", "__fy")
        .count()
        .collect()
        if r["__fx"] is not None and r["__fy"] is not None
    ]

    def cells(rows) -> np.ndarray:
        return np.array(list(rows), np.int64).reshape(-1, 2)

    rrows = [r for r in census if not r["__left"]]
    fine = _Grid(
        f, nbx * _SUB, cells(r[1:3] for r in rrows), np.array([r["count"] for r in rrows])
    )
    grid = _Grid(w, nbx, fine.cells // _SUB, fine.rcount)
    lcells, bound = grid.kth_bound(cells(r[1:3] for r in census if r["__left"]), fine, k)

    def top_k(bound: np.ndarray, how: str) -> DataFrame:
        """The left rows joined to the right rows of their cells' rings
        (cell ``lcells[i]`` bounded by ``bound[i]``), ranked per row."""
        pairs = left.sparkSession.createDataFrame(
            grid.pairs(lcells, bound),
            "__ocx long, __ocy long, __pcx long, __pcy long, __bound double",
        )
        rep = R.join(
            F.broadcast(pairs),
            (F.col("__rcx") == F.col("__ocx")) & (F.col("__rcy") == F.col("__ocy")),
        ).drop("__ocx", "__ocy", "__rcx", "__rcy")
        on = (F.col("__lcx") == F.col("__pcx")) & (F.col("__lcy") == F.col("__pcy"))
        if condition is not None:
            on = on & condition
        rank = Window.partitionBy("__lcx", "__lcy", "__pid").orderBy(
            "__d", *map(col, tie_break), "__rid"
        )
        return (
            L.join(rep.hint("merge"), on, how)
            .withColumn(
                "__d",
                # null for the outer join's no-candidate row (the kernel
                # expression would clamp a null to 0 m)
                F.when(
                    F.col("__rid").isNotNull(),
                    dist_expr("__lx", "__ly", "__rx", "__ry"),
                ),
            )
            .withColumn("__rn", F.row_number().over(rank))
            .where(F.col("__rn") <= k)
        )

    out_right = [
        col(c).alias(out_names[len(left_id_cols) + i])
        for i, c in enumerate(right_pay_cols)
    ]
    cols = [col(c).alias(n) for c, n in zip(left_id_cols, out_names)] + out_right
    if distance_column:
        cols.append(F.round(F.col("__d")).cast("int").alias(distance_column))

    if condition is not None:
        # the condition's census: one pass with a left outer join (it keeps
        # rows whose ring holds no allowed candidate) finds the unsettled
        # rows; their cells get the ring of their largest k-th allowed
        # distance, or the whole grid when a row has fewer than k
        row = Window.partitionBy("__lcx", "__lcy", "__pid")
        first = top_k(bound, "left").withColumn(
            "__dk", F.when(F.count("__d").over(row) >= k, F.max("__d").over(row))
        )
        settled = (F.col("__bound") == F.lit(math.inf)) | (
            F.col("__dk") <= F.col("__bound")
        )
        index = {tuple(c): i for i, c in enumerate(lcells.tolist())}
        for r in (
            first.where(~F.coalesce(settled, F.lit(False)))
            .groupBy("__lcx", "__lcy")
            .agg(F.max("__dk"), F.min(F.col("__dk").isNotNull()))
            .collect()
        ):
            bound[index[(r[0], r[1])]] = r[2] if r[3] else math.inf
    return top_k(bound, "inner").select(*cols)


class _Grid:
    """Driver-side geometry of one grid (cell width ``w``, ``nbx`` columns)
    against its occupied right cells: ``rcells`` (an ``(n, 2)`` array of
    ``(cx, cy)``, repeats summed) holding ``rcount`` rows.  Every method is
    vectorized over left cells and bounded by the grid, never by data."""

    #: left cells per numpy block (block × occupied right cells doubles)
    BLOCK = 256

    def __init__(self, w: float, nbx: int, rcells: np.ndarray, rcount: np.ndarray):
        self.w, self.nbx = w, nbx
        cells, inv = np.unique(rcells.reshape(-1, 2), axis=0, return_inverse=True)
        #: the cell of each ``rcells`` row
        self.parent = inv.reshape(-1)
        self.cells = cells
        self.rx, self.ry = cells[:, 0], cells[:, 1]
        self.rcount = np.bincount(self.parent, rcount, len(cells)).astype(np.int64)

    def _lat(self, cy: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Latitude bounds (degrees) of cell rows ``cy``."""
        return np.clip(cy * self.w, -90.0, 90.0), np.clip((cy + 1) * self.w, -90.0, 90.0)

    def _dxw(self, cx: np.ndarray, rx: np.ndarray) -> np.ndarray:
        """Min-wrap column distance, left cells × right cells."""
        d = np.abs(cx[:, None] - rx[None, :])
        return np.minimum(d, self.nbx - d)

    def _radius(self, cy: np.ndarray) -> np.ndarray:
        """Central angle from a cell's center to any point of the cell:
        hav ρ ≤ hav(half height) + cos φ_center · max cos φ · hav(w/2)."""
        lo, hi = self._lat(cy)
        near = np.where((lo <= 0) & (hi >= 0), 0.0, np.minimum(np.abs(lo), np.abs(hi)))
        hav = np.sin(np.radians(hi - lo) / 4) ** 2 + np.cos(
            np.radians((lo + hi) / 2)
        ) * np.cos(np.radians(near)) * np.sin(np.radians(self.w) / 4) ** 2
        return 2 * np.arcsin(np.sqrt(np.clip(hav, 0.0, 1.0)))

    def _reach(self, lcells: np.ndarray, sel, k: int) -> np.ndarray:
        """Per left cell, the smallest cell-to-cell upper distance (meters;
        center angle + both cell radii, the triangle inequality) at which
        the right cells ``sel`` hold ≥ k rows — an upper bound on the k-th
        neighbor distance of every point of the cell; ``inf`` when they
        hold fewer."""
        rx, ry, n = self.rx[sel], self.ry[sel], self.rcount[sel]
        if n.sum() < k:
            return np.full(len(lcells), math.inf)
        cx, cy = lcells[:, 0], lcells[:, 1]
        lo, hi = self._lat(cy)
        rlo, rhi = self._lat(ry)
        lphi, rphi = np.radians((lo + hi) / 2)[:, None], np.radians((rlo + rhi) / 2)
        hav = np.sin((rphi - lphi) / 2) ** 2 + np.cos(lphi) * np.cos(rphi) * np.sin(
            np.radians(self._dxw(cx, rx) * self.w) / 2
        ) ** 2
        up = np.minimum(
            math.pi,
            2 * np.arcsin(np.sqrt(np.clip(hav, 0.0, 1.0)))
            + self._radius(cy)[:, None]
            + self._radius(ry),
        )
        order = np.argsort(up, axis=1)
        reach = np.argmax(np.cumsum(n[order], axis=1) >= k, axis=1)
        rows = np.arange(len(cx))
        return up[rows, order[rows, reach]] * _R_MAX

    def _ring(self, lcells: np.ndarray, bound: np.ndarray) -> np.ndarray:
        """Left cells × right cells: the right cells inside each left
        cell's ring — every right row outside it is farther than the
        cell's ``bound`` from every point of the cell."""
        cx, cy = lcells[:, 0], lcells[:, 1]
        lo, hi = self._lat(cy)
        phi = np.maximum(np.abs(lo), np.abs(hi))
        with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
            # latitude: more than r_lat rows away means Δφ > r_lat·w
            r_lat = np.ceil(bound / (self.w * _MPD_LAT))
            # longitude: the chord bound at φ* = φ + D/_MPD_LAT solved for
            # r; q ≥ 1 means no longitude ring clears D
            phi_s = np.minimum(90.0, phi + bound / _MPD_LAT)
            q = bound / (
                2 * _RPOL * np.sqrt(np.cos(np.radians(phi)) * np.cos(np.radians(phi_s)))
            )
            every_lon = (phi >= _POLAR_LAT) | ~(q < 1.0)
            r_lon = np.ceil(2 * np.degrees(np.arcsin(np.minimum(q, 1.0))) / self.w)
        return (np.abs(self.ry[None, :] - cy[:, None]) <= r_lat[:, None]) & (
            every_lon[:, None] | (self._dxw(cx, self.rx) <= r_lon[:, None])
        )

    def kth_bound(
        self, lsub: np.ndarray, fine: "_Grid", k: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """The occupied left cells holding the occupied left sub-cells
        ``lsub`` of ``fine`` (whose right cells nest in this grid's, in
        ``fine.cells`` order), and per cell the bound ``D``: the cell-level
        reach, tightened to the largest sub-cell reach over the right
        sub-cells inside the cell's ring (every k-th neighbor of the cell
        lies there)."""
        lcells, inv = np.unique((lsub // _SUB).reshape(-1, 2), axis=0, return_inverse=True)
        inv = inv.reshape(-1)
        order = np.argsort(inv, kind="stable")
        start = np.searchsorted(inv[order], np.arange(len(lcells) + 1))
        out = np.full(len(lcells), math.inf)
        for s in range(0, len(lcells), self.BLOCK):
            block = lcells[s : s + self.BLOCK]
            d = self._reach(block, slice(None), k)
            ring = self._ring(block, d)
            for i in np.flatnonzero(np.isfinite(d)):
                subs = lsub[order[start[s + i] : start[s + i + 1]]]
                d[i] = min(d[i], fine._reach(subs, ring[i][self.parent], k).max())
            out[s : s + len(block)] = d
        return lcells, out

    def pairs(self, lcells: np.ndarray, bound: np.ndarray) -> pd.DataFrame:
        """``(right cell, left cell, bound)`` for every occupied right cell
        inside the ring of each left cell; the bound reads ``inf`` where
        the ring holds every right cell."""
        parts = [
            pd.DataFrame(
                {c: np.array([], np.int64) for c in ("__ocx", "__ocy", "__pcx", "__pcy")}
                | {"__bound": np.array([], np.float64)}
            )
        ]
        for s in range(0, len(lcells), self.BLOCK):
            block, d = lcells[s : s + self.BLOCK], bound[s : s + self.BLOCK]
            ring = self._ring(block, d)
            li, ri = np.nonzero(ring)
            parts.append(
                pd.DataFrame(
                    {
                        "__ocx": self.rx[ri],
                        "__ocy": self.ry[ri],
                        "__pcx": block[li, 0],
                        "__pcy": block[li, 1],
                        "__bound": np.where(ring.all(axis=1), math.inf, d)[li],
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)
