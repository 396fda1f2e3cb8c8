"""Seeded inputs, the fixed call sequence of each workload, and the output
checks.

Every input is generated here from the seed with numpy, handed to Spark
once, cached and counted before any timed call: the program under test
only ever receives these pre-materialised DataFrames.

Workloads:

- ``broadcast_join``: the reference's own contract, ``BroadcastSpatialJoin``
  with ``joinStrategy=broadcast``.  Nearly all work runs in the numpy
  kernels (Vincenty, haversine, the polygon refine); no shuffle, no rounds.
- ``operators``: the two operator layers next to the transformer's
  broadcast path.  ``joinStrategy=partitioned`` nearest k=3 with haversine
  as a JVM expression (``operators.knn`` rounds, exchanges and barriers;
  the numpy kernels stay idle), then ``operators.dedup`` MinHash LSH with
  a ``max_bucket`` cap and SimHash on documents with planted
  near-duplicates and hot templates (one wide self-join per call plus
  Arrow signature kernels; no spatial code).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

#: city centres on six continents, (lon, lat).  Fixed so that the set of
#: long-range pairs, which sets how many iterations Vincenty needs per
#: chunk, is the same for every seed; the seed moves each centre by up to
#: 2 degrees and draws the points around it.
CITIES = np.array(
    [
        [-74.0, 40.7], [-118.2, 34.0], [-99.1, 19.4], [-46.6, -23.5],
        [-0.1, 51.5], [2.35, 48.85], [37.6, 55.75], [31.2, 30.0],
        [28.0, -26.2], [77.2, 28.6], [139.7, 35.7], [151.2, -33.9],
    ]
)

EARTH_R = 6371008.8  # the mean radius the engine's haversine kernel uses


def haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle metres, written out independently of the engine."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    h = (
        np.sin((p2 - p1) / 2) ** 2
        + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    )
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def vincenty_m(lon1, lat1, lon2, lat2):
    """WGS84 metres from the engine's public kernel, which the repo's tests
    pin against GeographicLib goldens; the checks below then test the
    join's argmin, top-k and payload logic, not the kernel."""
    from spark_ml_spatialjointransformer_spark.functions.geodesic import vincenty_np

    return vincenty_np(lon1, lat1, lon2, lat2)


def clustered_points(rng, n: int, centres: np.ndarray, sigma: float, outliers: float = 0.0):
    c = centres[rng.integers(0, len(centres), n)]
    lon = c[:, 0] + rng.normal(0.0, sigma, n)
    lat = np.clip(c[:, 1] + rng.normal(0.0, sigma, n), -80.0, 80.0)
    k = int(round(n * outliers))
    if k:  # rows far from every cluster: the kNN finish round's customers
        lon[:k] = rng.uniform(-180.0, 180.0, k)
        lat[:k] = rng.uniform(-60.0, 60.0, k)
    return lon, lat


def convex_ring(rng, cx: float, cy: float, r: float, n: int) -> np.ndarray:
    """Closed convex ring: ``n`` vertices at sorted angles on an ellipse."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    ring = np.column_stack([cx + r * np.cos(ang), cy + 0.8 * r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def rect_ring(cx: float, cy: float, w: float, h: float) -> np.ndarray:
    return np.array(
        [[cx - w, cy - h], [cx + w, cy - h], [cx + w, cy + h], [cx - w, cy + h], [cx - w, cy - h]]
    )


def wkt(ring: np.ndarray) -> str:
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


def polygons(rng, n: int, centres, spread: float, size: tuple[float, float], ngon: tuple[int, int]):
    """Half axis rects, half convex n-gons, around ``centres``."""
    out = []
    for i in range(n):
        cx, cy = centres[rng.integers(0, len(centres))] + rng.normal(0.0, spread, 2)
        r = rng.uniform(*size)
        if i % 2 == 0:
            out.append(rect_ring(cx, cy, r, r * rng.uniform(0.5, 1.0)))
        else:
            out.append(convex_ring(rng, cx, cy, r, int(rng.integers(*ngon))))
    return out


# -- exact predicates for convex rings (the checks' own geometry) ----------


def _inside_convex(ring: np.ndarray, px, py) -> np.ndarray:
    """Points strictly inside a closed convex ring of either orientation."""
    x0, y0 = ring[:-1, 0][:, None], ring[:-1, 1][:, None]
    x1, y1 = ring[1:, 0][:, None], ring[1:, 1][:, None]
    cross = (x1 - x0) * (py[None, :] - y0) - (y1 - y0) * (px[None, :] - x0)
    return np.all(cross > 0, axis=0) | np.all(cross < 0, axis=0)


def _convex_intersect(a: np.ndarray, b: np.ndarray) -> bool:
    """Separating-axis test for two closed convex rings."""
    for ring in (a, b):
        edges = np.diff(ring, axis=0)
        normals = np.column_stack([-edges[:, 1], edges[:, 0]])
        pa, pb = a[:-1] @ normals.T, b[:-1] @ normals.T
        if np.any((pa.max(axis=0) < pb.min(axis=0)) | (pb.max(axis=0) < pa.min(axis=0))):
            return False
    return True


def within_convex(a: np.ndarray, b: np.ndarray) -> bool:
    return bool(_inside_convex(b, a[:-1, 0], a[:-1, 1]).all())


# -- calls and checks -------------------------------------------------------


@dataclass
class Call:
    """One public call into the program and how to check its result.

    ``build`` returns the result DataFrame (``transform()`` or the operator
    function); the benchmark collects it as Arrow, and after the pass
    fingerprints it and hands ``check`` either the rows whose ``key`` is in
    ``sample`` or, with ``collect_all``, every row.  ``check`` returns an
    error or None.
    """

    label: str
    layer: str
    build: Callable
    rows_in: int
    check: Callable[[list], "str | None"]
    key: str | None = None
    sample: list[int] = field(default_factory=list)
    collect_all: bool = False
    #: which operator layer's per-call metrics the call feeds
    knn: bool = False
    dedup: bool = False


@dataclass
class Workload:
    calls: list[Call]
    #: (left lon/lat, right lon/lat) for the kernel probes
    block: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]
    rings: list[np.ndarray]
    #: extra set-up for the checks, run once after set-up (untimed)
    prepare: Callable[[], None] = lambda: None


def materialise(df):
    """Materialise the result on the driver as one Arrow table (one
    collect job, no extra stage)."""
    return df.toArrow()


def fingerprint(table, call: Call) -> tuple[tuple[int, int], list[dict]]:
    """(row count, order-independent hash) of a result, plus the rows the
    check needs: the sampled keys' rows, or every row."""
    pdf = table.to_pandas()
    h = int(pd.util.hash_pandas_object(pdf, index=False).to_numpy().sum(dtype=np.uint64))
    if call.collect_all:
        rows = pdf.to_dict("records")
    elif call.key:
        rows = pdf[pdf[call.key].isin(call.sample)].to_dict("records")
    else:
        rows = []
    return (len(pdf), h), rows


def _cache(spark, pdf: pd.DataFrame, view: str | None = None, parts: int = 4):
    df = spark.createDataFrame(pdf).repartition(parts).cache()
    df.count()
    if view:
        df.createOrReplaceTempView(view)
    return df


def _by_key(rows, key: str) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    return out


def check_topk(rows, key, keys, pay, dist_col, k, lon_l, lat_l, lon_r, lat_r, r_ids, metric):
    """Every sampled left row got the k nearest right rows: each reported
    distance matches the brute-force distance of the reported neighbour
    and the brute-force k-th order statistics, within 1 m (so ties may go
    either way)."""
    got = _by_key(rows, key)
    for i in keys:
        d = metric(lon_l[i], lat_l[i], lon_r, lat_r)
        want = np.sort(d)[: min(k, len(d))]
        mine = sorted(got.get(i, []), key=lambda r: r[dist_col])
        if len(mine) != len(want):
            return f"{key}={i}: {len(mine)} neighbours, want {len(want)}"
        for rank, r in enumerate(mine):
            j = int(np.searchsorted(r_ids, r[pay]))
            if abs(d[j] - r[dist_col]) > 1.0 or abs(want[rank] - r[dist_col]) > 1.0:
                return f"{key}={i} rank {rank}: got {r[pay]} at {r[dist_col]} m, want {want[rank]:.1f} m"
    return None


# -- broadcast_join ---------------------------------------------------------

BJ_POINTS = 4_000
BJ_GEO_POINTS = 800
BJ_SITES = 500
BJ_PARCELS = 2_000
BJ_REGIONS = 100
BJ_RADIUS_M = 3_000
SAMPLE = 48


def broadcast_join(spark, seed: int) -> Workload:
    from spark_ml_spatialjointransformer_spark import BroadcastSpatialJoin

    rng = np.random.default_rng([seed, 1])
    centres = CITIES + rng.uniform(-2.0, 2.0, CITIES.shape)
    plon, plat = clustered_points(rng, BJ_POINTS, centres, 1.0)
    slon, slat = clustered_points(rng, BJ_SITES, centres, 1.0)
    parcels = polygons(rng, BJ_PARCELS, centres, 1.0, (0.005, 0.03), (5, 9))
    regions = polygons(rng, BJ_REGIONS, centres, 1.0, (0.1, 0.4), (6, 17))
    pts = _cache(spark, pd.DataFrame({"id": np.arange(BJ_POINTS), "lon": plon, "lat": plat}))
    geo = _cache(
        spark,
        pd.DataFrame({"id": np.arange(BJ_GEO_POINTS), "lon": plon[:BJ_GEO_POINTS], "lat": plat[:BJ_GEO_POINTS]}),
    )
    _cache(spark, pd.DataFrame({"site_id": np.arange(BJ_SITES), "slon": slon, "slat": slat}), "bj_sites")
    par = _cache(spark, pd.DataFrame({"id": np.arange(BJ_PARCELS), "pwkt": [wkt(r) for r in parcels]}))
    _cache(spark, pd.DataFrame({"region_id": np.arange(BJ_REGIONS), "rwkt": [wkt(r) for r in regions]}), "bj_regions")
    sample = sorted(rng.choice(BJ_GEO_POINTS, SAMPLE, replace=False).tolist())
    site_ids = np.arange(BJ_SITES)
    pt_ids = np.arange(BJ_POINTS)

    def near(kernel: str, k: int, bcast: str = "dataset", tie: str = "site_id"):
        return BroadcastSpatialJoin(
            dataset="bj_sites", dataColumns="site_id", datasetPoint="slon, slat",
            inputPoint="lon, lat", broadcast=bcast, predicate="nearest",
            distanceColumnAlias="dist_m", distanceKernel=kernel, numNeighbors=str(k),
            tieBreak=tie,
        )

    def shapes(pred: str):
        return BroadcastSpatialJoin(
            dataset="bj_regions", dataColumns="region_id", datasetWKT="rwkt",
            inputWKT="pwkt", broadcast="dataset", predicate=pred,
        )

    def check_withindist(rows):
        got = _by_key(rows, "id")
        for i in sample:
            d = vincenty_m(plon[i], plat[i], slon, slat)
            mine = {r["site_id"]: r["dist_m"] for r in got.get(i, [])}
            must = set(np.nonzero(d <= BJ_RADIUS_M - 1)[0].tolist())
            may = set(np.nonzero(d <= BJ_RADIUS_M + 1)[0].tolist())
            if not must <= set(mine) <= may:
                return f"id={i}: sites {sorted(mine)}, want {sorted(must)}"
            if any(abs(d[s] - m) > 1.0 for s, m in mine.items()):
                return f"id={i}: distance off by more than 1 m"
        return None

    def check_shapes(pred: str):
        test = within_convex if pred == "within" else _convex_intersect

        def check(rows):
            got = _by_key(rows, "id")
            for i in sample:
                want = {j for j, reg in enumerate(regions) if test(parcels[i], reg)}
                mine = {r["region_id"] for r in got.get(i, [])}
                if mine != want:
                    return f"{pred} parcel {i}: regions {sorted(mine)}, want {sorted(want)}"
            return None

        return check

    site_sample = sorted(rng.choice(BJ_SITES, SAMPLE, replace=False).tolist())

    calls = [
        Call("nearest_geodesic", "transformer", lambda: near("geodesic", 1).transform(geo),
             BJ_GEO_POINTS + BJ_SITES,
             lambda rows: check_topk(rows, "id", sample, "site_id", "dist_m", 1,
                                     plon, plat, slon, slat, site_ids, vincenty_m),
             key="id", sample=sample),
        # the one call with broadcast=input: the points are collected and
        # broadcast, and every site gets its 3 nearest points
        Call("nearest3_haversine_bcast_input", "transformer",
             lambda: near("haversine", 3, bcast="input", tie="id").transform(pts),
             BJ_POINTS + BJ_SITES,
             lambda rows: check_topk(rows, "site_id", site_sample, "id", "dist_m", 3,
                                     slon, slat, plon, plat, pt_ids, haversine_m),
             key="site_id", sample=site_sample),
        Call("withindist", "transformer",
             lambda: BroadcastSpatialJoin(
                 dataset="bj_sites", dataColumns="site_id", datasetPoint="slon, slat",
                 inputPoint="lon, lat", broadcast="dataset",
                 predicate=f"withindist {BJ_RADIUS_M}", distanceColumnAlias="dist_m",
             ).transform(pts),
             BJ_POINTS + BJ_SITES, check_withindist, key="id", sample=sample),
        Call("within", "transformer", lambda: shapes("within").transform(par),
             BJ_PARCELS + BJ_REGIONS, check_shapes("within"), key="id", sample=sample),
        Call("intersects", "transformer", lambda: shapes("intersects").transform(par),
             BJ_PARCELS + BJ_REGIONS, check_shapes("intersects"), key="id", sample=sample),
    ]
    return Workload(calls, (plon[:2000], plat[:2000], slon, slat), parcels[:400] + regions)


# -- operators --------------------------------------------------------------

PK_POINTS = 2_000
PK_SITES = 500
PK_OUTLIERS = 0.03
PK_K = 3

LSH_DOCS = 2_000
LSH_VOCAB = 20_000
LSH_PLANTED = 100
LSH_TEMPLATES = 3
LSH_TEMPLATE_COPIES = 30
LSH_MAX_BUCKET = 15
#: minimum share of the planted pairs each call must return; fixed from the
#: generator's design (one token substituted in a 30-50 token document)
LSH_RECALL = {"minhash_capped": 0.95, "simhash": 0.25}


def _knn_calls(spark, rng) -> tuple[list[Call], Callable[[], None], tuple]:
    """Partitioned kNN on clustered points with far outliers, checked
    against a brute force and against the broadcast path."""
    from spark_ml_spatialjointransformer_spark import BroadcastSpatialJoin

    centres = CITIES + rng.uniform(-2.0, 2.0, CITIES.shape)
    plon, plat = clustered_points(rng, PK_POINTS, centres, 1.5, PK_OUTLIERS)
    slon, slat = clustered_points(rng, PK_SITES, centres, 1.5, PK_OUTLIERS)
    pts = _cache(spark, pd.DataFrame({"id": np.arange(PK_POINTS), "lon": plon, "lat": plat}))
    _cache(spark, pd.DataFrame({"site_id": np.arange(PK_SITES), "slon": slon, "slat": slat}), "pk_sites")
    # the sample always holds outliers, which need the finish round
    n_out = int(round(PK_POINTS * PK_OUTLIERS))
    sample = sorted(
        rng.choice(n_out, 8, replace=False).tolist()
        + rng.choice(np.arange(n_out, PK_POINTS), SAMPLE - 8, replace=False).tolist()
    )
    site_ids = np.arange(PK_SITES)

    def knn(strategy: str):
        return BroadcastSpatialJoin(
            dataset="pk_sites", dataColumns="site_id", datasetPoint="slon, slat",
            inputPoint="lon, lat", broadcast="dataset", predicate="nearest",
            distanceColumnAlias="dist_m", distanceKernel="haversine",
            numNeighbors=str(PK_K), tieBreak="site_id", joinStrategy=strategy,
        )

    reference: set = set()

    def prepare():
        """The broadcast path's answer for the sampled rows (untimed)."""
        from pyspark.sql import functions as F

        rows = knn("broadcast").transform(pts.where(F.col("id").isin(sample))).collect()
        reference.update((r["id"], r["site_id"], r["dist_m"]) for r in rows)

    def check(rows):
        err = check_topk(rows, "id", sample, "site_id", "dist_m", PK_K,
                         plon, plat, slon, slat, site_ids, haversine_m)
        if err:
            return err
        mine = {(r["id"], r["site_id"], r["dist_m"]) for r in rows}
        if reference and mine != reference:
            return f"differs from the broadcast path on {len(mine ^ reference)} rows"
        return None

    calls = [
        Call(f"partitioned_k{PK_K}", "transformer", lambda: knn("partitioned").transform(pts),
             PK_POINTS + PK_SITES, check, key="id", sample=sample, knn=True)
    ]
    return calls, prepare, (plon, plat, slon, slat)


def _dedup_calls(spark, rng) -> list[Call]:
    """MinHash (capped) and SimHash LSH on documents with planted
    near-duplicate pairs and a few hot templates."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    def doc() -> list[str]:
        return [f"w{v}" for v in rng.integers(0, LSH_VOCAB, int(rng.integers(30, 51)))]

    def mutate(toks: list[str]) -> list[str]:
        out = list(toks)
        out[int(rng.integers(0, len(out)))] = f"w{int(rng.integers(0, LSH_VOCAB))}"
        return out

    n_tpl = LSH_TEMPLATES * LSH_TEMPLATE_COPIES
    n_base = LSH_DOCS - LSH_PLANTED - n_tpl
    texts = [doc() for _ in range(n_base)]
    sources = rng.choice(n_base, LSH_PLANTED, replace=False)
    texts += [mutate(texts[s]) for s in sources]
    for _ in range(LSH_TEMPLATES):
        tpl = doc()
        texts += [mutate(tpl) for _ in range(LSH_TEMPLATE_COPIES)]
    # ids are a seeded permutation so planted pairs spread over partitions
    ids = rng.permutation(LSH_DOCS)
    planted = {
        (min(ids[s], ids[n_base + j]), max(ids[s], ids[n_base + j]))
        for j, s in enumerate(sources)
    }
    docs = _cache(spark, pd.DataFrame({"doc_id": ids, "text": [" ".join(t) for t in texts]}))

    def check(label: str):
        def run(rows):
            pairs = {(r["id_a"], r["id_b"]) for r in rows}
            if any(a >= b for a, b in pairs):
                return f"{label}: a pair with id_a >= id_b"
            recall = len(pairs & planted) / len(planted)
            if recall < LSH_RECALL[label]:
                return f"{label}: planted-pair recall {recall:.3f} < {LSH_RECALL[label]}"
            return None

        return run

    return [
        Call("minhash_capped", "operators.dedup",
             lambda: minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=LSH_MAX_BUCKET),
             LSH_DOCS, check("minhash_capped"), collect_all=True, dedup=True),
        Call("simhash", "operators.dedup",
             lambda: simhash_pairs(docs, "doc_id", "text"),
             LSH_DOCS, check("simhash"), collect_all=True, dedup=True),
    ]


def operators(spark, seed: int) -> Workload:
    """The kNN and LSH operator layers in one workload: each run pays a
    Spark start and a cold warm-up pass, and one run per layer would not
    fit the time the benchmark's runs are allowed together."""
    knn_rng, dedup_rng = (np.random.default_rng([seed, i]) for i in (2, 3))
    knn_calls, prepare, block = _knn_calls(spark, knn_rng)
    calls = knn_calls + _dedup_calls(spark, dedup_rng)
    centres = CITIES + knn_rng.uniform(-2.0, 2.0, CITIES.shape)
    rings = polygons(knn_rng, 200, centres, 1.0, (0.1, 0.4), (6, 17))
    return Workload(calls, block, rings, prepare)


WORKLOADS = {
    "broadcast_join": broadcast_join,
    "operators": operators,
}


# -- kernel probes (traced runs only) ---------------------------------------


def kernel_probes(w: Workload, reps: int = 3) -> dict[str, float]:
    """Time the public kernels on the workload's own blocks, at the chunk
    sizes the broadcast kNN kernel uses (125k cells for Vincenty, 1M for
    haversine).  Medians of ``reps``."""
    from spark_ml_spatialjointransformer_spark.functions.geodesic import (
        haversine_np,
        vincenty_np,
    )
    from spark_ml_spatialjointransformer_spark.functions.geometry import (
        axis_rect,
        parse_wkt,
        polygon_predicate_np,
        rect_predicate_np,
    )

    llon, llat, rlon, rlat = w.block

    def per_pair_ns(fn, cells: int, chunks: int) -> float:
        rows = max(1, cells // len(rlon))
        times = []
        for _ in range(reps):
            t0, pairs = time.perf_counter(), 0
            for c in range(chunks):
                s = (c * rows) % max(1, len(llon) - rows)
                fn(llon[s : s + rows, None], llat[s : s + rows, None], rlon[None, :], rlat[None, :])
                pairs += rows * len(rlon)
            times.append((time.perf_counter() - t0) / pairs * 1e9)
        return float(np.median(times))

    texts = [wkt(r) for r in w.rings]
    parse_times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        geoms = [parse_wkt(t) for t in texts]
        parse_times.append((time.perf_counter() - t0) / len(texts) * 1e6)
    # refine: every pair of rings whose bboxes meet, as the engine refines
    # its candidates (rect pairs vectorised, the rest one by one)
    bb = np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()] for r in w.rings])
    ii, jj = np.nonzero(
        (bb[:, None, 0] <= bb[None, :, 2]) & (bb[None, :, 0] <= bb[:, None, 2])
        & (bb[:, None, 1] <= bb[None, :, 3]) & (bb[None, :, 1] <= bb[:, None, 3])
    )
    keep = ii != jj
    ii, jj = ii[keep], jj[keep]
    rects = [axis_rect(g) for g in geoms]
    both = np.array([rects[i] is not None and rects[j] is not None for i, j in zip(ii, jj)], dtype=bool)
    refine_times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for op in ("within", "intersects"):
            if both.any():
                A = np.array([rects[i] for i in ii[both]])
                B = np.array([rects[j] for j in jj[both]])
                rect_predicate_np(op, A, B)
            for i, j in zip(ii[~both], jj[~both]):
                polygon_predicate_np(op, geoms[i], geoms[j])
        refine_times.append((time.perf_counter() - t0) / max(1, 2 * len(ii)) * 1e6)
    return {
        "functions.geodesic.vincenty_ns_per_pair": per_pair_ns(vincenty_np, 125_000, 2),
        "functions.geodesic.haversine_ns_per_pair": per_pair_ns(haversine_np, 1_000_000, 2),
        "functions.geometry.parse_wkt_us": float(np.median(parse_times)),
        "functions.geometry.refine_us_per_pair": float(np.median(refine_times)),
    }
