"""Similarity search over embedding columns.

Two tiers:

- **exact brute-force top-k** (queries.py v1): cross join against a
  broadcast query set, JVM-side dot products (`zip_with` + `aggregate`) —
  the correctness baseline; O(N·Q·d).
- **sign-random-projection LSH** (`srp_bucket_col` / `lsh_neardup_pairs` /
  `lsh_topk`): each vector hashes to a small bucket id from the signs of
  `n_planes` fixed pseudo-random hyperplane dot products; candidates share
  a bucket; exact cosine refine.  The shuffle key is the bucket int —
  bytes per vector — so the pattern survives 100TB fan-in; recall is
  tunable via n_planes / multi-probe (band rotations).

Hyperplane coefficients come from a deterministic LCG (`srp_planes`) so
tests reproduce buckets bit-for-bit in numpy.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.operators._compat import (
    barrier as _barrier,
    unbarrier as _unbarrier,
)


def srp_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1) via a 64-bit LCG
    (Knuth MMIX constants) — shared with the numpy test oracle."""
    state = 0x9E3779B97F4A7C15
    out = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        out.append(row)
    return out


def dot_col(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def srp_bucket_col(emb: Column, n_planes: int, dim: int) -> Column:
    """Sign-random-projection bucket id (int in [0, 2^n_planes))."""
    planes = srp_planes(n_planes, dim)
    bits = [
        F.when(
            dot_col(emb, F.array(*[F.lit(c) for c in plane])) > 0.0,
            F.lit(1 << i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return out


def _normed(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    emb = F.col(emb_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias("__id"),
        emb.alias("__emb"),
        F.sqrt(dot_col(emb, emb)).alias("__norm"),
    ).where(F.col("__norm") > 0.0)


def _srp_bucket_udf(n_planes: int, dim: int, bands: int = 1):
    """Vectorized twin of ``srp_bucket_col``: one numpy matmul per Arrow
    batch instead of n_planes interpreted aggregate chains per row.
    Returns the per-band bucket ids (``bands`` independent plane sets drawn
    from the same deterministic stream; band 0 == ``srp_bucket_col``)."""
    import numpy as np

    planes = np.array(srp_planes(n_planes * bands, dim)).T  # dim × (B*p)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<bigint>")
    def _buckets(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:  # zero-row Arrow batch: shape-(0,) array can't matmul
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in emb])
        signs = (mat @ planes) > 0.0  # n × (B*p)
        out = [
            (signs[:, b * n_planes : (b + 1) * n_planes] * weights).sum(axis=1)
            for b in range(bands)
        ]
        stacked = np.stack(out, axis=1)  # n × B
        return pd.Series([list(row) for row in stacked])

    # pure function; nondeterministic only to block SPARK-17728 re-substitution
    return _buckets.asNondeterministic()


#: quantization scale for the integer SRP path (5 decimal digits keeps the
#: int64 dot products far from overflow at dim ≤ 10^6: |dot| ≤ dim·8·10^5)
SRP_INT_SCALE = 100000.0


def srp_int_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Integer-valued hyperplanes in [-8, 8] from a closed-form expression
    every engine can evaluate inline:

        p(j, i) = ((j·73856093 + i·19349663 + 83492791) mod 2039) mod 17 − 8

    Integer planes + floor-quantized embeddings make the SRP bucket ids pure
    BIGINT arithmetic — bit-identical across Spark, numpy (int64), and the
    DuckDB oracle, with no float-summation-order hazard in the sign bits."""
    return [
        [((j * 73856093 + i * 19349663 + 83492791) % 2039) % 17 - 8 for i in range(dim)]
        for j in range(n_planes)
    ]


def _srp_int_feats_udf(n_planes: int, dim: int, bands: int = 1):
    """Integer-exact twin of ``_srp_bucket_udf``: embeddings are quantized
    with ``floor(v·scale + 0.5)`` (floor is the one half-up rounding spelled
    identically in numpy, Spark, and DuckDB) and hit integer planes in int64
    — the resulting bucket ids are exactly what the SQL oracle computes.

    Returns a struct with the per-band bucket ids PLUS the quantized vector
    and its exact integer norm² so the downstream refine can run the same
    order-free int64 arithmetic (one Arrow pass computes all three)."""
    import numpy as np

    planes = np.array(srp_int_planes(n_planes * bands, dim), dtype=np.int64).T
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("buckets array<bigint>, q array<bigint>, qn2 bigint")
    def _feats(emb: pd.Series) -> pd.DataFrame:
        import numpy as np

        if len(emb) == 0:
            return pd.DataFrame({"buckets": [], "q": [], "qn2": []})
        mat = np.array([np.asarray(v, dtype=np.float64) for v in emb])
        q = np.floor(mat * SRP_INT_SCALE + 0.5).astype(np.int64)
        signs = (q @ planes) > 0  # n × (B*p), integer-exact
        out = [
            (signs[:, b * n_planes : (b + 1) * n_planes] * weights).sum(axis=1)
            for b in range(bands)
        ]
        stacked = np.stack(out, axis=1)
        return pd.DataFrame(
            {
                "buckets": [list(row) for row in stacked],
                "q": [list(row) for row in q],
                "qn2": np.einsum("ij,ij->i", q, q),
            }
        )

    # pure function; nondeterministic only to block SPARK-17728 re-substitution
    # (measured: the v5/v11 plans evaluated the featurization five times)
    return _feats.asNondeterministic()


def _pair_cosine_udf():
    """Vectorized exact cosine over candidate pairs (einsum per batch).

    Marked nondeterministic ON PURPOSE (the function is pure): a
    deterministic Python UDF whose aliased output is filtered or sorted
    gets RE-SUBSTITUTED into the Filter/Sort by predicate pushdown and
    evaluated twice per row (two ArrowEvalPython nodes in the executed
    plan — the classic SPARK-17728 shape, measured here on v2).  The
    flag blocks the substitution so the refine kernel runs once; it
    disables no optimization these plans rely on (the UDF sits in a
    Project above the candidate join)."""

    @F.pandas_udf("double")
    def _cos(
        ea: pd.Series, na: pd.Series, eb: pd.Series, nb: pd.Series
    ) -> pd.Series:
        import numpy as np

        if len(ea) == 0:
            return pd.Series([], dtype="float64")
        ma = np.array([np.asarray(v, dtype=np.float64) for v in ea])
        mb = np.array([np.asarray(v, dtype=np.float64) for v in eb])
        return pd.Series(
            np.einsum("ij,ij->i", ma, mb) / (na.to_numpy() * nb.to_numpy())
        )

    return _cos.asNondeterministic()


def _pair_qcos_udf():
    """Quantized-cosine refine: the int64 dot product of the quantized
    vectors is EXACT (no summation-order hazard), so one einsum per Arrow
    batch is bit-identical to the oracle's BIGINT sum — divided by the
    per-side double sqrts of the integer norms², the full cosine is a pure
    function every engine computes identically.  Marked nondeterministic
    on purpose — same SPARK-17728 double-evaluation defense as
    ``_pair_cosine_udf`` (the function is pure)."""

    @F.pandas_udf("double")
    def _qcos(
        qa: pd.Series, na2: pd.Series, qb: pd.Series, nb2: pd.Series
    ) -> pd.Series:
        import numpy as np

        if len(qa) == 0:
            return pd.Series([], dtype="float64")
        ma = np.array([np.asarray(v, dtype=np.int64) for v in qa])
        mb = np.array([np.asarray(v, dtype=np.int64) for v in qb])
        dot = np.einsum("ij,ij->i", ma, mb).astype(np.float64)
        return pd.Series(
            dot
            / (
                np.sqrt(na2.to_numpy(dtype="float64"))
                * np.sqrt(nb2.to_numpy(dtype="float64"))
            )
        )

    return _qcos.asNondeterministic()


def _quantized_base(
    df: DataFrame, id_col: str, emb_col: str, dim: int, n_planes: int, bands: int
) -> DataFrame:
    """(__id, __buckets, __q, __qn2) for the integer-exact SRP tier: per-band
    bucket ids, the quantized int64 vector, and its exact integer norm²
    (zero-norm rows dropped — they have no cosine)."""
    return (
        _normed(df, id_col, emb_col)
        .withColumn("__f", _srp_int_feats_udf(n_planes, dim, bands)(F.col("__emb")))
        .select(
            "__id",
            F.col("__f.buckets").alias("__buckets"),
            F.col("__f.q").alias("__q"),
            F.col("__f.qn2").alias("__qn2"),
        )
        .where(F.col("__qn2") > 0)
    )


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    q_id_col: str,
    q_emb_col: str,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    bands: int = 2,
) -> DataFrame:
    """LSH-bucketed approximate top-k — the third ANN tier beside v1's
    brute force and v3's IVF: corpus rows are candidates for a query iff
    they share ANY band's quantized-SRP bucket; candidates rank by EXACT
    cosine (integer dot over quantized vectors — bit-identical across
    engines, see ``_pair_qcos_udf``).

    Scale shape: the join key is (band, bucket) — the query side is tiny
    and broadcast; each query probes only its own buckets
    (~bands/2^n_planes of the corpus), and the corpus bucketing is a
    one-off scan reusable across query batches.  Recall is tunable via
    bands/n_planes; a pair sharing several bands is ranked once (codegen
    first-match filter on the carried bucket arrays).

    Output: (q_id, id, cos_e6) — ≤ k rows per query (fewer when the
    buckets hold fewer candidates: approximate by design).
    """
    from pyspark.sql.window import Window

    corpus = _quantized_base(df, id_col, emb_col, dim, n_planes, bands).select(
        "*", F.posexplode("__buckets").alias("__band", "__bucket")
    )
    qs = (
        _quantized_base(queries, q_id_col, q_emb_col, dim, n_planes, bands)
        .select(
            F.col("__id").alias("__qid"),
            F.col("__buckets").alias("__qbuckets"),
            F.col("__q").alias("__qq"),
            F.col("__qn2").alias("__qqn2"),
        )
        .select("*", F.posexplode("__qbuckets").alias("__band", "__bucket"))
    )
    first_match = F.lit(True)
    for bi in range(bands - 1):
        first_match = first_match & (
            (F.col("__band") <= bi)
            | (F.col("__buckets")[bi] != F.col("__qbuckets")[bi])
        )
    cos = _pair_qcos_udf()(
        F.col("__q"), F.col("__qn2"), F.col("__qq"), F.col("__qqn2")
    )
    w = Window.partitionBy("__qid").orderBy(F.col("__cos").desc(), F.col("__id"))
    return (
        corpus.join(F.broadcast(qs), ["__band", "__bucket"])
        .where(F.col("__id") != F.col("__qid"))
        .where(first_match)
        .withColumn("__cos", cos)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            F.col("__qid").alias("q_id"),
            F.col("__id").alias("id"),
            F.round(F.col("__cos") * 1_000_000).cast("bigint").alias("cos_e6"),
        )
    )


def _bucket_pairs_kernel(bands: int, threshold_int: int):
    """Grouped-map kernel for the quantized LSH refine: ONE (band, bucket)
    group per call — emit every pair (id_a < id_b) in the group whose
    first shared band is this one, with the exact quantized cosine.

    Replaces the self-join + per-pair refine UDF: the join shipped the two
    64-long quantized vectors once per CANDIDATE PAIR through Arrow
    (O(pairs·dim) bytes, quadratic in bucket size); this ships each vector
    once per band (O(rows·dim)) and does the all-pairs dot as one blocked
    matmul per group (guide §8: move the lightweight proxy, decide in bulk).

    Exactness: |q| ≤ dim·max|q|² < 2⁵³ in every sane embedding range, so
    the float64 BLAS matmul is integer-exact (every partial sum is an
    exactly-representable integer — addition order cannot matter); the
    int64 path is kept as a guard for out-of-range inputs.  The cosine is
    then dot / (sqrt(na2)·sqrt(nb2)) — the SAME expression, op for op, as
    ``_pair_qcos_udf``, so the double is bit-identical.  The kernel only
    PRE-filters with a 1-ulp-safe margin (cos·1e6 ≥ threshold_int − 1);
    the authoritative HALF_UP round + ≥ threshold filter stays JVM-side,
    unchanged from the join formulation."""
    import numpy as np

    def _k(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "__cos": pd.Series(dtype="float64")}
        )
        g = len(pdf)
        if g < 2:
            return empty
        pdf = pdf.sort_values("__id", kind="mergesort")
        ids = pdf["__id"].to_numpy(dtype="int64")
        Q = np.array([np.asarray(v, dtype=np.int64) for v in pdf["__q"]])
        n2 = pdf["__qn2"].to_numpy(dtype="float64")
        band = int(pdf["__band"].iloc[0])
        sq = np.sqrt(n2)
        amax = float(np.abs(Q).max()) if Q.size else 0.0
        exact_f64 = Q.shape[1] * amax * amax < 2.0**53
        Qf = Q.astype(np.float64) if exact_f64 else None
        if band > 0:
            B = np.array(
                [np.asarray(v, dtype=np.int64)[:band] for v in pdf["__buckets"]]
            )
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        blk = 2048
        for i0 in range(0, g - 1, blk):
            i1 = min(i0 + blk, g - 1)
            if exact_f64:
                dots = Qf[i0:i1] @ Qf.T  # integer-exact in float64
            else:
                dots = (Q[i0:i1] @ Q.T).astype(np.float64)
            cos = dots / (sq[i0:i1, None] * sq[None, :])
            # strict upper triangle: j > global row index
            cols = np.arange(g)[None, :]
            mask = cols > np.arange(i0, i1)[:, None]
            # first-match: suppress pairs that already shared an earlier band
            if band > 0:
                mask &= (B[i0:i1, :, None] != B.T[None, :, :]).all(axis=1)
            mask &= cos * 1_000_000.0 >= threshold_int - 1.0
            ii, jj = np.nonzero(mask)
            out_a.append(ids[ii + i0])
            out_b.append(ids[jj])
            out_c.append(cos[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b),
             "__cos": np.concatenate(out_c)}
        )

    return _k


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 12,
    bands: int = 1,
    quantized: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs: same SRP bucket in ANY of ``bands``
    independent plane sets + exact cosine ≥ threshold.  Output (id_a, id_b,
    cos_e6).  Recall knob: miss probability per true pair is
    ``(1 - (1-θ/π)^p)^B`` — raise B (bands) or lower p (n_planes); precision
    is exact (refined).

    Hot paths are numpy over Arrow batches (bucket signs: one matmul per
    batch; refine: one einsum over candidate pairs); the bucketed base is
    checkpointed so the self-join materializes it once, and a pair sharing
    several bands is emitted only in its lowest one (codegen first-match
    filter, no dedup shuffle — same trick as the MinHash/SimHash joins).

    ``quantized=True`` switches to the fully integer-exact variant
    (``srp_int_planes`` + floor quantization): bucket ids AND the refine are
    pure int64 arithmetic — the dot product of two quantized vectors is an
    exact BIGINT sum with NO summation-order hazard, so a single numpy
    einsum per Arrow batch is bit-identical to the DuckDB oracle's
    ``sum(qa*qb)`` (the float einsum's pairwise summation has no such
    cross-engine guarantee, which is why the unquantized tier cannot be
    oracled this tightly).  The checkpointed base also shrinks: only the
    quantized vector + its integer norm² ride into the self-join."""
    thr = int(threshold * 1_000_000)
    if quantized:
        # grouped per-bucket refine: one exchange keyed (band, bucket)
        # shipping each quantized vector once per band; the pair frame
        # never materializes in the JVM and no checkpoint is needed (the
        # base is read ONCE).  The old self-join + per-pair UDF shape paid
        # two shuffle reads of the checkpointed base plus O(pairs·dim)
        # Arrow bytes for the refine.
        base = _quantized_base(df, id_col, emb_col, dim, n_planes, bands).select(
            "*", F.posexplode("__buckets").alias("__band", "__bucket")
        )
        pairs = base.groupBy("__band", "__bucket").applyInPandas(
            _bucket_pairs_kernel(bands, thr),
            "id_a long, id_b long, __cos double",
        )
        return (
            pairs.select(
                "id_a",
                "id_b",
                F.round(F.col("__cos") * 1_000_000).cast("bigint").alias("cos_e6"),
            )
            .where(F.col("cos_e6") >= thr)
        )
    pre = _normed(df, id_col, emb_col).withColumn(
        "__buckets", _srp_bucket_udf(n_planes, dim, bands)(F.col("__emb"))
    )
    base = (
        pre.select("*", F.posexplode("__buckets").alias("__band", "__bucket"))
        .transform(_barrier)
    )
    first_match = F.lit(True)
    for bi in range(bands - 1):
        first_match = first_match & (
            (F.col("__band") <= bi)
            | (F.col("a.__buckets")[bi] != F.col("b.__buckets")[bi])
        )
    a, b = base.alias("a"), base.alias("b")
    cos = _pair_cosine_udf()(
        F.col("a.__emb"), F.col("a.__norm"), F.col("b.__emb"), F.col("b.__norm")
    )
    return (
        a.join(b, ["__band", "__bucket"])
        .where(F.col("a.__id") < F.col("b.__id"))
        .where(first_match)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.round(cos * 1_000_000).cast("bigint").alias("cos_e6"),
        )
        .where(F.col("cos_e6") >= thr)
    )


def train_ivf_centroids(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_centroids: int = 16,
    sample: int = 4096,
    iters: int = 8,
):
    """Driver-side k-means on a bounded deterministic sample (ordered by id)
    — the standard IVF training recipe: the coarse quantizer is always
    trained on a sample, never the full corpus, so the collect is O(sample),
    not O(N).  Returns a (n_centroids, dim) numpy array of L2-normalized
    centroids (spherical k-means: cosine assignment == max dot product)."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("i"), F.col(emb_col).cast("array<double>").alias("e"))
        .orderBy("i")
        .limit(sample)
        .collect()
    )
    mat = np.array([r.e for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    # deterministic init: evenly spaced sample rows
    idx = np.linspace(0, len(mat) - 1, n_centroids).astype(int)
    cent = mat[idx].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def _cell_udf(cent, n_probe: int):
    """pandas_udf: embedding → the n_probe nearest centroid ids (by cosine).
    The centroid matrix rides inside the closure (KBs — cheaper than a
    broadcast round-trip for the coarse quantizer)."""
    import numpy as np

    cent_T = cent.T.copy()

    @F.pandas_udf("array<int>")
    def _cells(emb: pd.Series) -> pd.Series:
        import numpy as np  # executor-side

        mat = np.array([np.asarray(v, dtype=np.float64) for v in emb])
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cent_T
        if n_probe == 1:
            return pd.Series([[int(i)] for i in np.argmax(sims, axis=1)])
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([[int(c) for c in row] for row in top])

    return _cells


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    q_id_col: str,
    q_emb_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by their nearest
    centroid (inverted lists); each query probes its ``n_probe`` nearest
    cells and ranks exactly (cosine) within them.

    Scale path vs v1's brute force: the join key is the cell id, so each
    query scans ~``n_probe/n_centroids`` of the corpus instead of all of it,
    and the corpus-side bucketing is a one-off scan reusable across query
    batches (persist the bucketed table).  Recall is tunable via n_probe.
    Output (q_id, id, cos_e6)."""
    import pandas as pd  # noqa: F401

    cent = train_ivf_centroids(df, id_col, emb_col, n_centroids)

    base = _normed(df, id_col, emb_col).withColumn(
        "__cell", _cell_udf(cent, 1)(F.col("__emb")).getItem(0)
    )
    q = (
        _normed(queries, q_id_col, q_emb_col)
        .select(
            F.col("__id").alias("__qid"),
            F.col("__emb").alias("__qemb"),
            F.col("__norm").alias("__qnorm"),
        )
        .withColumn("__cell", F.explode(_cell_udf(cent, n_probe)(F.col("__qemb"))))
    )
    sim = dot_col(F.col("__emb"), F.col("__qemb")) / (
        F.col("__norm") * F.col("__qnorm")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("__qid").orderBy(F.col("__sim").desc(), F.col("__id"))
    return (
        base.join(F.broadcast(q), "__cell")
        .where(F.col("__id") != F.col("__qid"))
        .withColumn("__sim", sim)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            F.col("__qid").alias("q_id"),
            F.col("__id").alias("id"),
            F.round(F.col("__sim") * 1_000_000).cast("bigint").alias("cos_e6"),
        )
    )


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    q_id_col: str,
    q_emb_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of df rows for each (broadcast) query vector.
    Output (q_id, id, cos_e6) — the evaluation baseline for the LSH tier."""
    from pyspark.sql.window import Window

    base = _normed(df, id_col, emb_col)
    q = _normed(queries, q_id_col, q_emb_col).select(
        F.col("__id").alias("__qid"),
        F.col("__emb").alias("__qemb"),
        F.col("__norm").alias("__qnorm"),
    )
    sim = dot_col(F.col("__emb"), F.col("__qemb")) / (F.col("__norm") * F.col("__qnorm"))
    w = Window.partitionBy("__qid").orderBy(F.col("__sim").desc(), F.col("__id"))
    return (
        base.crossJoin(F.broadcast(q))
        .where(F.col("__id") != F.col("__qid"))
        .withColumn("__sim", sim)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            F.col("__qid").alias("q_id"),
            F.col("__id").alias("id"),
            F.round(F.col("__sim") * 1_000_000).cast("bigint").alias("cos_e6"),
        )
    )


#: knn_join_exact ships (int64 ids + int64 [N, dim] matrix + doubles) to
#: every partition; at dim 64 this is ~0.5 KiB/vector, so 2M rows ≈ 1 GiB
#: of broadcast — the practical ceiling for a dense exact self-join.  Past
#: it, the answer is the bucketed tiers (ivf_topk / lsh_topk), not a
#: bigger broadcast.
_KNN_EXACT_MAX_BROADCAST_ROWS = 2_000_000


def knn_join_exact(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    k: int = 5,
    scale: float = 100000.0,
) -> DataFrame:
    """Exact cosine kNN SELF-join: for EVERY corpus vector, its ``k``
    nearest neighbors — the hard-negative-mining / neighbor-graph shape.

    Mechanics: the corpus quantizes to int64 (``floor(v·1e5 + 0.5)``, one
    numpy codepath for both the broadcast matrix and the per-batch rows)
    and ships to every partition as three numpy arrays; each Arrow batch
    computes a blocked ``B @ Qᵀ`` INT64 matmul — exact integer dot
    products, no summation-order hazard — then the cosine divides by the
    premultiplied double sqrts of the integer norms² (a fixed IEEE op
    sequence the SQL oracle replays bit-identically).  Ties resolve by
    neighbor id through an exact threshold-then-lexsort (never a truncated
    argpartition, whose tie handling is order-dependent).

    Scale: one scan-shaped pass, zero shuffle, O(N·dim) broadcast — the
    same memory contract as the reference's broadcast join and v1/v3's
    query side.  When the corpus outgrows memory, the v5 LSH tier or v3
    IVF tier replaces the dense matmul; this operator is the exact
    neighbor-graph builder below that bound.

    Output: (id, neighbor_id, cos_e6), k rows per non-zero-norm vector.

    NOTE the corpus is EAGERLY collected to the driver at plan-build time
    (the broadcast matrix has to exist before the job runs) — this operator
    is intentionally not lazy.  ``max_broadcast_rows`` bounds the collect:
    above it, raise and point at the scale tiers (v3 IVF / v5 LSH) instead
    of silently OOMing the driver.
    """
    import numpy as np

    spark = df.sparkSession
    out_schema = f"{id_col} long, neighbor_id long, cos_e6 long"

    cnt = df.count()
    if cnt > _KNN_EXACT_MAX_BROADCAST_ROWS:
        raise ValueError(
            f"knn_join_exact: corpus has {cnt} rows, above the broadcast "
            f"bound of {_KNN_EXACT_MAX_BROADCAST_ROWS}. The exact dense "
            "self-join ships the whole corpus to every partition; above "
            "this bound use the scale tiers instead: ivf_topk (v3) or "
            "lsh_topk (v5) in this module."
        )
    # object-array collect, not toPandas(): exact nulls/ints, and an empty
    # corpus stays an empty list instead of a shape-(0,)-object array
    rows = df.select(id_col, emb_col).collect()
    if not rows:
        return spark.createDataFrame([], out_schema)
    ids_np = np.array([r[0] for r in rows], dtype=np.int64)
    raw = np.array(
        [np.asarray(r[1], dtype=np.float64) for r in rows], dtype=np.float64
    )
    Q = np.floor(raw * scale + 0.5).astype(np.int64)
    qn2 = np.einsum("ij,ij->i", Q, Q)
    keep = qn2 > 0
    if not keep.any():
        return spark.createDataFrame([], out_schema)
    ids_np, Q, qn2 = ids_np[keep], Q[keep], qn2[keep]
    bc = spark.sparkContext.broadcast((ids_np, Q, np.sqrt(qn2.astype(np.float64))))

    def gen(batches):
        import numpy as np  # re-import: executor-side body

        cids, cQ, csq = bc.value
        for pdf_b in batches:
            if len(pdf_b) == 0:
                continue
            bids = pdf_b.iloc[:, 0].to_numpy(dtype=np.int64)
            braw = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf_b.iloc[:, 1]],
                dtype=np.float64,
            )
            B = np.floor(braw * scale + 0.5).astype(np.int64)
            bn2 = np.einsum("ij,ij->i", B, B)
            ok = bn2 > 0
            if not ok.any():
                continue
            bids, B, bn2 = bids[ok], B[ok], bn2[ok]
            sims = (B @ cQ.T).astype(np.float64) / (
                np.sqrt(bn2.astype(np.float64))[:, None] * csq[None, :]
            )
            sims[bids[:, None] == cids[None, :]] = -2.0  # exclude self
            kk = min(k, sims.shape[1] - 1)
            if kk <= 0:
                continue
            neg = -sims
            kth = np.partition(neg, kk - 1, axis=1)[:, kk - 1]
            out_id, out_nb, out_cos = [], [], []
            for r in range(sims.shape[0]):
                cand = np.nonzero(neg[r] <= kth[r])[0]
                order = np.lexsort((cids[cand], neg[r][cand]))
                top = cand[order[:kk]]
                out_id.extend([bids[r]] * len(top))
                out_nb.extend(cids[top].tolist())
                out_cos.extend(
                    np.floor(sims[r][top] * 1_000_000.0 + 0.5).astype(np.int64).tolist()
                )
            yield pd.DataFrame(
                {id_col: out_id, "neighbor_id": out_nb, "cos_e6": out_cos}
            )

    return df.select(id_col, emb_col).mapInPandas(gen, out_schema)


def maxsim_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    q_id_col: str,
    q_emb_col: str,
    k: int = 5,
    n_sub: int = 4,
    scale: float = 100000.0,
) -> DataFrame:
    """Multi-vector late-interaction (ColBERT-style MaxSim) top-k: each
    embedding is split into ``n_sub`` contiguous sub-vectors; the
    query–document score is Σ over query sub-vectors of the max int64 dot
    product against any document sub-vector, and the top ``k`` documents
    per query win (ties by neighbor id).

    Mechanics mirror ``knn_join_exact``: the QUERY set (small by
    construction) quantizes to int64 (``floor(v·scale + 0.5)``) and
    broadcasts as a ``[Nq, n_sub, L]`` tensor; each Arrow batch of the
    corpus computes ``n_sub²`` blocked integer matmuls — exact int64
    arithmetic end-to-end, no summation-order hazard — then emits only its
    LOCAL top-k rows per query (correct under the global (score desc, id)
    total order: a batch's global winners are necessarily among its local
    winners).  A final tiny window over ≤ Nq·k·n_batches rows produces the
    global top-k.

    Scale: one scan-shaped pass over the corpus, broadcast O(Nq·dim),
    shuffle O(Nq·k) per batch — the same contract as v1/v6's query-side
    broadcast.  A JVM-only ``zip_with``/``aggregate`` formulation of the
    same scores measured ~40× slower at 10k×100 pairs (per-dot array
    allocation); the blocked matmul is the 100TB shape.
    """
    import numpy as np

    from pyspark.sql.window import Window

    spark = df.sparkSession
    out_schema = "q_vec_id long, neighbor_id long, maxsim long"
    rows = queries.select(q_id_col, q_emb_col).collect()
    if not rows:
        return spark.createDataFrame([], out_schema)
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qraw = np.array(
        [np.asarray(r[1], dtype=np.float64) for r in rows], dtype=np.float64
    )
    Qz = np.floor(qraw * scale + 0.5).astype(np.int64)
    dim = Qz.shape[1]
    if dim % n_sub != 0:
        raise ValueError(f"maxsim_topk: dim {dim} not divisible by n_sub {n_sub}")
    Qs = Qz.reshape(len(qids), n_sub, dim // n_sub)
    bc = spark.sparkContext.broadcast((qids, Qs))

    def gen(batches):
        import numpy as np  # re-import: executor-side body

        bqids, bQs = bc.value
        nq, ns, L = bQs.shape
        int_min = np.iinfo(np.int64).min
        for pdf_b in batches:
            if len(pdf_b) == 0:
                continue
            bids = pdf_b.iloc[:, 0].to_numpy(dtype=np.int64)
            braw = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf_b.iloc[:, 1]],
                dtype=np.float64,
            )
            Bz = (
                np.floor(braw * scale + 0.5)
                .astype(np.int64)
                .reshape(len(bids), ns, L)
            )
            scores = None
            for qa in range(ns):
                mx = None
                for cb in range(ns):
                    d = Bz[:, cb, :] @ bQs[:, qa, :].T  # [Nb, Nq] int64
                    mx = d if mx is None else np.maximum(mx, d)
                scores = mx if scores is None else scores + mx
            scores[bids[:, None] == bqids[None, :]] = int_min  # exclude self
            out_q, out_c, out_s = [], [], []
            for qi in range(nq):
                col = scores[:, qi]
                vidx = np.nonzero(col > int_min)[0]
                if len(vidx) == 0:
                    continue
                kk = min(k, len(vidx))
                order = np.lexsort((bids[vidx], -col[vidx]))
                top = vidx[order[:kk]]
                out_q.extend([bqids[qi]] * len(top))
                out_c.extend(bids[top].tolist())
                out_s.extend(col[top].tolist())
            yield pd.DataFrame(
                {"q_vec_id": out_q, "neighbor_id": out_c, "maxsim": out_s}
            )

    local = df.select(id_col, emb_col).mapInPandas(gen, out_schema)
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("maxsim").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("q_vec_id", "neighbor_id", "maxsim")
    )


#: PQ geometry: 64-dim → 4 sub-spaces × 16 dims, 16 codewords each — a
#: 4-byte code per vector (16× compression over float32, 128× over the
#: int64-quantized exact form).  Codewords come from the same closed-form
#: integer LCG family as the SRP planes (srp_planes) so the DuckDB oracle
#: replays them exactly; production would k-means-train them (O(sample),
#: driver-side, like ivf_topk's centroids) — the assignment/ADC machinery
#: is identical either way.
PQ_N_SUB = 4
PQ_N_CENTROIDS = 16
PQ_CB_SCALE = 12500  # lifts ±8 codeword ints to the ±1e5 embedding scale


def pq_codebook(n_sub: int = PQ_N_SUB, n_centroids: int = PQ_N_CENTROIDS,
                sub_dim: int = 16):
    """Closed-form integer codebook tensor [n_sub, n_centroids, sub_dim]."""
    import numpy as np

    a = np.arange(n_sub)[:, None, None]
    c = np.arange(n_centroids)[None, :, None]
    j = np.arange(sub_dim)[None, None, :]
    return (
        ((a * 73856093 + c * 19349663 + j * 83492791 + 7) % 2039) % 17 - 8
    ).astype(np.int64) * PQ_CB_SCALE


def pq_adc_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    q_id_col: str,
    q_emb_col: str,
    k: int = 10,
    scale: float = 100000.0,
) -> DataFrame:
    """Product-quantization retrieval with asymmetric distance computation
    (ADC): every corpus vector compresses to one codeword index per
    sub-space (4 bytes here); each query precomputes a [n_sub × n_codes]
    integer lookup table of dot products against the codebook, and a
    corpus vector's score is just ``Σ_a LUT[a][code_a]`` — table lookups,
    no per-pair arithmetic over raw vectors.  Top-k per query, ties by
    neighbor id.  All integer (quantized embeddings × integer codewords),
    so the DuckDB oracle reproduces scores bit-for-bit.

    Scale shape: ONE scan of the corpus (mapInPandas): quantize → assign
    codes (argmin over n_codes integer distances, first-minimum tie rule
    = lowest index in numpy and SQL alike) → LUT-score → local top-k per
    batch; a tiny window finishes globally.  At 100 TB the codes
    materialize once as a 4-byte column (the 16×-compressed corpus the
    whole point of PQ) and subsequent queries scan codes only; broadcast
    is the LUT — n_sub·n_codes ints per query."""
    import numpy as np

    from pyspark.sql.window import Window

    spark = df.sparkSession
    out_schema = "q_vec_id long, neighbor_id long, adc_score long"
    rows = queries.select(q_id_col, q_emb_col).collect()
    if not rows:
        return spark.createDataFrame([], out_schema)
    cb = pq_codebook()
    n_sub, n_codes, sub_dim = cb.shape
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qraw = np.array(
        [np.asarray(r[1], dtype=np.float64) for r in rows], dtype=np.float64
    )
    if qraw.shape[1] != n_sub * sub_dim:
        raise ValueError(
            f"pq_adc_topk: embedding dim {qraw.shape[1]} does not match the "
            f"codebook geometry {n_sub}×{sub_dim}"
        )
    Qz = np.floor(qraw * scale + 0.5).astype(np.int64)
    Qs = Qz.reshape(len(qids), n_sub, sub_dim)
    # LUT[q, a, c] = dot(query sub-vector a, codeword (a, c))
    lut = np.einsum("qad,acd->qac", Qs, cb)
    bc = spark.sparkContext.broadcast((qids, lut, cb))

    def gen(batches):
        import numpy as np  # executor-side body

        bqids, blut, bcb = bc.value
        ns, nc, sd = bcb.shape
        int_min = np.iinfo(np.int64).min
        for pdf_b in batches:
            if len(pdf_b) == 0:
                continue
            bids = pdf_b.iloc[:, 0].to_numpy(dtype=np.int64)
            braw = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf_b.iloc[:, 1]],
                dtype=np.float64,
            )
            Bz = (
                np.floor(braw * scale + 0.5).astype(np.int64)
                .reshape(len(bids), ns, sd)
            )
            # codes[n, a]: argmin_c ||sub - codeword||² (first min = lowest c)
            d2 = ((Bz[:, :, None, :] - bcb[None, :, :, :]) ** 2).sum(axis=-1)
            codes = d2.argmin(axis=2)
            # scores[n, q] = Σ_a LUT[q, a, codes[n, a]] — all-advanced
            # indexing so the gather broadcasts to [n, q, a]
            gathered = blut[
                np.arange(blut.shape[0])[None, :, None],
                np.arange(ns)[None, None, :],
                codes[:, None, :],
            ]
            scores = gathered.sum(axis=-1)
            scores[bids[:, None] == bqids[None, :]] = int_min
            out_q, out_c, out_s = [], [], []
            for qi in range(len(bqids)):
                col = scores[:, qi]
                vidx = np.nonzero(col > int_min)[0]
                if len(vidx) == 0:
                    continue
                kk = min(k, len(vidx))
                order = np.lexsort((bids[vidx], -col[vidx]))
                top = vidx[order[:kk]]
                out_q.extend([bqids[qi]] * len(top))
                out_c.extend(bids[top].tolist())
                out_s.extend(col[top].tolist())
            yield pd.DataFrame(
                {"q_vec_id": out_q, "neighbor_id": out_c, "adc_score": out_s}
            )

    local = df.select(id_col, emb_col).mapInPandas(gen, out_schema)
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("q_vec_id", "neighbor_id", "adc_score")
    )


#: coarse-quantizer geometry for the IVF-PQ tier: 8 full-dimension cells,
#: centroid components from the same ±8 LCG family as the PQ codebook
#: (lifted by PQ_CB_SCALE into the quantized-embedding domain)
IVF_COARSE_CELLS = 8


def ivf_coarse_centroids(n_cells: int = IVF_COARSE_CELLS, dim: int = 64):
    """Closed-form integer coarse-centroid matrix [n_cells, dim]."""
    import numpy as np

    c = np.arange(n_cells)[:, None]
    i = np.arange(dim)[None, :]
    return (
        ((c * 40503 + i * 69621 + 11) % 2017) % 17 - 8
    ).astype(np.int64) * PQ_CB_SCALE


def ivf_pq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    q_id_col: str,
    q_emb_col: str,
    k: int = 10,
    nprobe: int = 2,
    scale: float = 100000.0,
) -> DataFrame:
    """The composed production ANN tier: IVF coarse pruning THEN PQ-ADC
    scoring.  Every corpus vector gets (a) a coarse cell — argmin integer
    L2 against the 8 full-dimension centroids — and (b) its PQ codes;
    a query LUT-scores ONLY vectors whose cell is among its ``nprobe``
    nearest cells.  That is the IVF-PQ contract (FAISS's IndexIVFPQ):
    the inverted lists cut candidates by ~n_cells/nprobe before the
    table-lookup scoring touches them.

    Everything stays integer (quantized embeddings × integer centroids/
    codewords) with first-minimum tie rules, so the DuckDB oracle
    replays cells, codes, and scores bit-for-bit.  Scale shape: still
    ONE corpus scan (cell assignment, code assignment, and masked
    LUT-scoring fuse into the same mapInPandas pass); at 100 TB the
    (cell, codes) pair materializes once as a 5-byte column set,
    inverted lists are cell-partitioned files, and a query reads only
    its nprobe partitions — the candidate mask here is the single-scan
    local-mode equivalent of that partition pruning."""
    import numpy as np

    from pyspark.sql.window import Window

    spark = df.sparkSession
    out_schema = "q_vec_id long, neighbor_id long, adc_score long"
    rows = queries.select(q_id_col, q_emb_col).collect()
    if not rows:
        return spark.createDataFrame([], out_schema)
    cb = pq_codebook()
    n_sub, n_codes, sub_dim = cb.shape
    dim = n_sub * sub_dim
    coarse = ivf_coarse_centroids(dim=dim)
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qraw = np.array(
        [np.asarray(r[1], dtype=np.float64) for r in rows], dtype=np.float64
    )
    if qraw.shape[1] != dim:
        raise ValueError(
            f"ivf_pq_topk: embedding dim {qraw.shape[1]} does not match the "
            f"codebook geometry {n_sub}×{sub_dim}"
        )
    Qz = np.floor(qraw * scale + 0.5).astype(np.int64)
    # query probe set: nprobe nearest coarse cells (ties → lowest cell id,
    # matching the oracle's ORDER BY d2, cell)
    qd2 = ((Qz[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=-1)
    order = np.lexsort(
        (np.broadcast_to(np.arange(coarse.shape[0]), qd2.shape), qd2), axis=1
    )
    probe = np.zeros((len(qids), coarse.shape[0]), dtype=bool)
    np.put_along_axis(probe, order[:, :nprobe], True, axis=1)
    lut = np.einsum(
        "qad,acd->qac", Qz.reshape(len(qids), n_sub, sub_dim), cb
    )
    bc = spark.sparkContext.broadcast((qids, lut, cb, coarse, probe))

    def gen(batches):
        import numpy as np  # executor-side body

        bqids, blut, bcb, bcoarse, bprobe = bc.value
        ns, nc, sd = bcb.shape
        int_min = np.iinfo(np.int64).min
        for pdf_b in batches:
            if len(pdf_b) == 0:
                continue
            bids = pdf_b.iloc[:, 0].to_numpy(dtype=np.int64)
            braw = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf_b.iloc[:, 1]],
                dtype=np.float64,
            )
            Bz = np.floor(braw * scale + 0.5).astype(np.int64)
            cells = (
                ((Bz[:, None, :] - bcoarse[None, :, :]) ** 2)
                .sum(axis=-1)
                .argmin(axis=1)
            )
            Bs = Bz.reshape(len(bids), ns, sd)
            d2 = ((Bs[:, :, None, :] - bcb[None, :, :, :]) ** 2).sum(axis=-1)
            codes = d2.argmin(axis=2)
            gathered = blut[
                np.arange(blut.shape[0])[None, :, None],
                np.arange(ns)[None, None, :],
                codes[:, None, :],
            ]
            scores = gathered.sum(axis=-1)
            # IVF mask: a corpus vector is a candidate for query q only if
            # its cell is in q's probe set; self-pairs masked like ADC
            scores[~bprobe[:, cells].T] = int_min
            scores[bids[:, None] == bqids[None, :]] = int_min
            out_q, out_c, out_s = [], [], []
            for qi in range(len(bqids)):
                col = scores[:, qi]
                vidx = np.nonzero(col > int_min)[0]
                if len(vidx) == 0:
                    continue
                kk = min(k, len(vidx))
                order_b = np.lexsort((bids[vidx], -col[vidx]))
                top = vidx[order_b[:kk]]
                out_q.extend([bqids[qi]] * len(top))
                out_c.extend(bids[top].tolist())
                out_s.extend(col[top].tolist())
            yield pd.DataFrame(
                {"q_vec_id": out_q, "neighbor_id": out_c, "adc_score": out_s}
            )

    local = df.select(id_col, emb_col).mapInPandas(gen, out_schema)
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("q_vec_id", "neighbor_id", "adc_score")
    )


def kmeans_int(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    dim: int,
    k: int = 8,
    iters: int = 2,
    scale: int = 100_000,
) -> DataFrame:
    """Distributed integer-exact Lloyd's k-means: ``iters`` rounds of
    (assign, update) then a final assignment under the settled centroids.

    Everything is int64 so a SQL oracle replays it bit-for-bit: vectors
    quantize to ``floor(v·scale + 0.5)`` and SHIFT by +scale into the
    non-negative range (distances are shift-invariant, and non-negative
    sums make Spark's truncating ``div`` equal the oracle's floor ``//``
    in the centroid mean).  The shift only covers inputs in [-1, 1] —
    any component outside that range fails LOUD (an assert embedded in
    the quantize expression) rather than silently breaking div/floor
    parity on negative sums.  Assignment is argmin of the exact integer
    squared L2 with centroid-id tie-break (the partially-aggregatable
    min-struct); the update is the element-wise ``sum div count``.
    Centroids init from the ``k`` lowest OBSERVED ids (a TakeOrdered of
    the id column — corpora whose ids don't start at 0 still get k
    seeds); a cluster that loses all members drops out (both engines
    derive the survivor set the same way).

    Scale shape — the canonical distributed k-means plan: the e-step is
    a BROADCAST cross join of the k×dim centroid table against the
    corpus (whole-stage-codegen ``zip_with``/``aggregate`` arithmetic,
    no Python), one min-struct aggregation per vector; the m-step is a
    posexplode keyed (cluster, dim) — corpus rows shuffle as (id, 8-byte
    components), never as raw text, and only k·dim longs ever sit on
    the driver side of a broadcast.  The quantized corpus is barriered
    ONCE (every round's e-step and both seeding readers reference it —
    the r12 runtime audit showed the scan+quantize subtree replayed ~5×
    with zero exchange reuse), and each round's k×dim centroid table is
    barriered lazily so a later round's broadcast does not re-execute
    every earlier round's assignment chain (interleaved A/B at sf0.1:
    1.75 → 1.21 s, assignments bit-identical)."""
    def _quant(x):
        # the range guard rides inside the quantize expression (coalesce
        # of an always-NULL assert) so Catalyst cannot prune it and it
        # costs no extra job; |v| > 1 would push shifted sums negative,
        # where Spark's truncating div diverges from the oracle's floor //
        guard = F.coalesce(
            F.assert_true(
                F.abs(x) <= 1.0,
                F.lit(
                    "kmeans_int: embedding component outside [-1, 1] — "
                    "the +scale shift no longer guarantees non-negative "
                    "sums; normalize the vectors or raise the shift"
                ),
            ).cast("long"),
            F.lit(0).cast("long"),
        )
        return (F.floor(x * scale + F.lit(0.5)) + scale + guard).cast("long")

    q = df.select(
        F.col(id_col).cast("long").alias("__vid"),
        F.transform(F.col(emb_col).cast("array<double>"), _quant).alias("__q"),
    ).transform(_barrier)
    # seed from the k lowest OBSERVED ids (TakeOrderedAndProject + tiny
    # broadcast semi-join), not ids < k: corpora whose ids don't start at
    # 0 (monotonically_increasing_id, sharded id spaces) still get k seeds
    low = q.select("__vid").orderBy("__vid").limit(k)
    cents = q.join(F.broadcast(low), "__vid").select(
        F.col("__vid").cast("int").alias("__cid"), F.col("__q").alias("__c")
    )

    def assign(c: DataFrame) -> DataFrame:
        d2 = F.aggregate(
            F.zip_with("__q", "__c", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return (
            q.crossJoin(F.broadcast(c))
            .select("__vid", "__q", "__cid", d2.alias("__d2"))
            .groupBy("__vid", "__q")
            .agg(F.min(F.struct("__d2", "__cid")).alias("__best"))
            .select(
                "__vid",
                "__q",
                F.col("__best.__cid").alias("__cid"),
                F.col("__best.__d2").alias("__d2"),
            )
        )

    for _ in range(iters):
        asg = assign(cents)
        ex = asg.select("__cid", F.posexplode("__q").alias("__i", "__qv"))
        prev, cents = cents, (
            ex.groupBy("__cid", "__i")
            .agg(F.expr("sum(__qv) div count(1)").alias("__cv"))
            .groupBy("__cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__i", "__cv"))),
                    lambda s: s["__cv"],
                ).alias("__c")
            )
            .transform(_barrier)
        )
        # release the superseded round, as the graph loops do: on the
        # persist() fallback each round's table would otherwise stay
        # cached for the session
        _unbarrier(prev)
    final = assign(cents)
    return final.select(
        F.col("__vid").alias(id_col),
        F.col("__cid").alias("cluster"),
        F.col("__d2").alias("d2"),
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    dim: int,
    n_planes: int = 6,
    threshold: float = 0.5,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus into coarse embedding cells,
    rank each cell's members by affinity to the cell centroid, and drop
    every member that is >= ``threshold`` cosine-similar to a member
    ranked before it — the paper keeps LOW-centroid-similarity examples
    (the diverse rim of a semantic cluster) and removes the redundant
    core.

    Engine-exact adaptation (every step replayable in the SQL oracle):

    - cells are the integer SRP bucket of ``srp_int_planes`` (one band of
      ``n_planes`` planes => 2^n_planes cells) instead of trained k-means
      — deterministic, shuffle-free assignment; cell count is the
      resolution knob exactly like the paper's k;
    - centroid affinity is the EXACT int64 dot(q_member, sum of the
      cell's quantized vectors) — unnormalized (the norm bias is
      documented; ranking needs any deterministic centroid-proximity
      order, and the integer dot avoids a cross-engine division), ties
      break on id;
    - the pair refine is the quantized cosine of ``lsh_neardup_pairs``'s
      integer tier: BIGINT dot, per-side double sqrt of integer norm² —
      bit-identical across engines (v2's precedent).

    int64 bound: |qv| <= SRP_INT_SCALE·max|v| and the cell sum adds
    |cell| of them, so the affinity term is ~dim·|cell|·(1e5·max|v|)² —
    at 1e5-member cells and unit-scale components that is ~6e16, inside
    int64 with an order of magnitude to spare; cells beyond that need a
    higher plane count anyway (the paper's k grows with corpus size).

    Scale shape: the centroid sums are a (cell, dim)-keyed integer
    aggregate (2^n_planes · dim rows — broadcast back); the only
    corpus-quadratic work is intra-cell pairs, bounded by the cell-size
    distribution the plane count controls; arrays shuffle once into the
    cell self-join.

    Output: (id, cell, rank_in_cell, kept, max_sim_e6) — one row per
    corpus member; ``kept = 0`` rows carry the max similarity to an
    earlier-ranked member that evicted them.
    """
    from pyspark.sql.window import Window

    thr_e6 = int(threshold * 1_000_000)
    base = _quantized_base(df, id_col, emb_col, dim, n_planes, bands=1)
    cells = base.select(
        "__id", F.col("__buckets")[0].alias("__cell"), "__q", "__qn2"
    ).transform(_barrier)  # feats UDF runs once; 3 readers below
    expl = cells.select("__cell", F.posexplode("__q").alias("__i", "__qv"))
    csum = expl.groupBy("__cell", "__i").agg(F.sum("__qv").alias("__sv"))
    aff = (
        cells.select("__id", "__cell", F.posexplode("__q").alias("__i", "__qv"))
        .join(F.broadcast(csum), ["__cell", "__i"])
        .groupBy("__id")
        .agg(F.sum(F.col("__qv") * F.col("__sv")).alias("__aff"))
    )
    w = Window.partitionBy("__cell").orderBy(
        F.col("__aff").asc(), F.col("__id").asc()
    )
    ranked = (
        cells.join(aff, "__id")
        .withColumn("__rk", F.row_number().over(w))
        .transform(_barrier)  # self-join reads it twice
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    qcos = _pair_qcos_udf()(
        F.col("a.__q"), F.col("a.__qn2"), F.col("b.__q"), F.col("b.__qn2")
    )
    evicted = (
        a.join(b, "__cell")
        .where(F.col("b.__rk") < F.col("a.__rk"))
        .select(
            F.col("a.__id").alias("__id"),
            F.round(qcos * 1_000_000).cast("bigint").alias("__ce6"),
        )
        .where(F.col("__ce6") >= thr_e6)
        .groupBy("__id")
        .agg(F.max("__ce6").alias("max_sim_e6"))
    )
    return ranked.join(evicted, "__id", "left").select(
        F.col("__id").alias("id"),
        F.col("__cell").cast("bigint").alias("cell"),
        F.col("__rk").cast("bigint").alias("rank_in_cell"),
        F.when(F.col("max_sim_e6").isNull(), 1).otherwise(0).cast("int").alias(
            "kept"
        ),
        F.coalesce(F.col("max_sim_e6"), F.lit(0)).cast("bigint").alias(
            "max_sim_e6"
        ),
    )
