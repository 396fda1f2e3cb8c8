"""Deduplication operators for large-scale training-data pipelines.

Four families, all expressed as DataFrame plans that scale by shuffling on
small derived keys (LSH band buckets), never on document text:

- exact/near-exact dedup: token-multiset fingerprint groupBy (see
  queries.py t2);
- MinHash + LSH: shingle → k minhashes → one xxhash64 key per band →
  banded self-join → candidate pairs with estimated Jaccard;
- SimHash / generic Hamming: 60-bit sign-random-projection over token
  hashes (or any int64 hash) → max_hamming + 1 bit-range bands → banded
  self-join → Hamming-distance refine;
- exact n-gram Jaccard: distinct-shingle explode + equi-join + group count
  (the exact verifier for the MinHash estimates; SQL-expressible, so it
  carries a DuckDB oracle).

MinHash, SimHash and Hamming pairs all run through ONE banded self-join,
``_banded_pairs``: explode (id, band, key) rows, drop hot buckets when
capped, self-join on (band, key), and keep each pair only in its lowest
matching band.

Shingle/token extraction runs as an Arrow pandas_udf (microseconds per doc;
the pure-JVM column formulations are kept as the spec and are bit-identical);
everything downstream — permutation minima, band keys, joins, aggregates —
is JVM whole-stage codegen.  Hash primitives are the md5-based ``h60``
(functions/hashing.py), computable identically in Spark SQL, DuckDB, and
hashlib — so the LSH signatures are BOTH bit-verified by the pytest
oracles (tests/test_dedup.py) and fully SQL-expressible in the driver's
DuckDB correctness gate (queries.py t6/t7 carry exact oracles).
"""

from __future__ import annotations

import logging
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.functions.hashing import h60_col
from spark_ml_spatialjointransformer_spark.operators._compat import (
    barrier as _barrier,
    unbarrier as _unbarrier,
)
from spark_ml_spatialjointransformer_spark.operators._guard import (
    ensure_min_parallelism,
)

_log = logging.getLogger(__name__)

#: minhash modulus: smallest prime > 2^32
MINHASH_PRIME = 4_294_967_311
#: multipliers/offsets stay < 2^30 so a*h + b < 2^62 never overflows BIGINT
_COEF_MOD = 1 << 30


def minhash_coefficients(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k hash permutations — shared with
    the pure-Python test oracle."""
    out = []
    for j in range(k):
        a = ((j * 2_654_435_761 + 0x9E3779B9) % _COEF_MOD) | 1
        b = (j * 40_503 * 2_654_435_761 + 17) % _COEF_MOD
        out.append((a, b))
    return out


def tokens_col(text: Column) -> Column:
    """Lowercased single-space tokenization (matches str.split(' '))."""
    return F.split(F.lower(text), " ")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct token n-gram strings; docs with < n tokens yield no shingles
    (aligned with the join-based SQL oracle semantics)."""
    toks = tokens_col(text)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def shingle_hashes_col(text: Column, n: int = 3) -> Column:
    """Distinct h60 hashes of the token n-grams, reduced mod MINHASH_PRIME
    (bigint in [0, P) — so ``h * a`` stays below 2^62 in the permutations)."""
    return F.array_distinct(
        F.transform(shingles_col(text, n), lambda s: h60_col(s) % MINHASH_PRIME)
    )


def shingles_udf(n: int = 3):
    """Arrow pandas_udf: text → array of DISTINCT token n-grams.

    Semantically identical to ``shingles_col`` (``lower().split(' ')``,
    n-grams joined by a space, distinct, empty for docs with < n tokens) but
    ~50× faster: the column-expression version is an interpreted
    higher-order-function chain (sequence → transform → slice → concat_ws,
    ~1.5 ms/doc), while Python's split/set runs in microseconds and ships
    per batch over Arrow.  Used by every shingle consumer; the column
    version remains as the pure-JVM spec/reference."""

    @F.pandas_udf("array<string>")
    def _shingles(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not isinstance(t, str):
                out.append([])
                continue
            toks = t.lower().split(" ")
            if len(toks) < n:
                out.append([])
            else:
                out.append(
                    list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
                )
        return pd.Series(out)

    return _shingles


def minhash_signature_col(text: Column, k: int = 64, n: int = 3) -> Column:
    """Array of k minhash values: ``min_h((a_j * h60(shingle) + b_j) % P)``
    (h60 = md5-derived 60-bit hash, reduced mod MINHASH_PRIME).

    One JVM expression tree, no UDF.  Empty shingle sets yield an empty
    signature (such docs never join)."""
    hashes = shingle_hashes_col(text, n)

    def _perm(a: int, b: int):
        # plain single-arg lambda: Spark maps the Python callable's arity to
        # the higher-order function's lambda arity, so no default args here
        return lambda h: (h * a + b) % MINHASH_PRIME

    mins = [
        F.array_min(F.transform(hashes, _perm(a, b)))
        for a, b in minhash_coefficients(k)
    ]
    return F.when(F.size(hashes) > 0, F.array(*mins)).otherwise(
        F.array().cast("array<bigint>")
    )


def minhash_features_udf(k: int = 64, n: int = 3):
    """Fused per-document MinHash featurization: text → (sig, sz, hs) in
    ONE Arrow pass — tokenization, distinct n-gram shingling, the 60-bit
    md5 hash (``h60_py``, bit-identical to ``h60_col``/DuckDB), and all k
    permutation minima run vectorized (hashlib + one numpy
    multiply-mod-reduceat over the batch's concatenated shingle hashes)
    inside the Python worker.

    This replaces the explode → groupBy(__id) → 64-min-aggregate
    formulation: same values bit-for-bit (tests pin it), but ZERO
    exchanges — nothing shuffles at any scale, where the old shape paid
    one id-keyed exchange (k longs per doc after partial agg) plus the
    65-aggregate codegen.  Guide §4.2: Spark distributes the scan, numpy
    does the math per batch.

    Marked nondeterministic (the function is pure) so Catalyst cannot
    re-substitute the struct-field extractions into separate evaluations
    — the SPARK-17728 double-eval defense every struct-returning Arrow
    kernel in this repo uses."""
    import numpy as np

    coefs = minhash_coefficients(k)
    A = np.array([a for a, _ in coefs], dtype=np.int64)
    B = np.array([b for _, b in coefs], dtype=np.int64)

    @F.pandas_udf("sig array<bigint>, sz bigint, hs array<bigint>")
    def _feats(text: pd.Series) -> pd.DataFrame:
        import hashlib

        import numpy as np

        all_hashes: list[np.ndarray] = []
        sizes: list[int] = []
        hs_out: list[list[int]] = []
        for t in text:
            if not isinstance(t, str):
                sizes.append(0)
                hs_out.append([])
                continue
            toks = t.lower().split(" ")
            if len(toks) < n:
                sizes.append(0)
                hs_out.append([])
                continue
            # distinct applies to the SHINGLE STRING set (h60 collisions
            # keep their duplicate hash values — matches the explode of
            # array_distinct strings + collect_list the old agg did)
            sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            hs = np.fromiter(
                (
                    int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                    % MINHASH_PRIME
                    for s in sh
                ),
                dtype=np.int64,
                count=len(sh),
            )
            sizes.append(len(sh))
            hs_out.append(sorted(hs.tolist()))
            all_hashes.append(hs)
        if all_hashes:
            cat = np.concatenate(all_hashes)  # (M,)
            offsets = np.cumsum([0] + [len(h) for h in all_hashes])[:-1]
            # permutation chunks of 16 bound the (M, chunk) intermediate to
            # ~tens of MB per 10k-row Arrow batch (a full (M, k) matrix is
            # hundreds of MB at production batch sizes); h*a + b < 2^62
            # (h < 2^33, a,b < 2^30) keeps everything inside int64
            parts = []
            for c0 in range(0, k, 16):
                perm = (
                    cat[:, None] * A[None, c0 : c0 + 16] + B[None, c0 : c0 + 16]
                ) % MINHASH_PRIME
                parts.append(np.minimum.reduceat(perm, offsets, axis=0))
            mins = np.concatenate(parts, axis=1)  # (docs, k)
        sig_out: list["list[int] | None"] = []
        j = 0
        for sz in sizes:
            if sz == 0:
                sig_out.append(None)
            else:
                sig_out.append(mins[j].tolist())
                j += 1
        return pd.DataFrame({"sig": sig_out, "sz": sizes, "hs": hs_out})

    return _feats.asNondeterministic()


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 64,
    n: int = 3,
    with_hashes: bool = False,
) -> DataFrame:
    """(__id, __sig) per document — same values as ``minhash_signature_col``
    but via the fused Arrow kernel (``minhash_features_udf``): one scan
    pass, no exchange (docs with no shingles are dropped — they can never
    join).  The per-column HOF formulation evaluates interpreted and ~60×
    slower; the previous explode → 64-min-aggregate shape paid an id-keyed
    shuffle plus the 65-aggregate codegen for the same numbers.

    ``with_hashes`` additionally carries the per-doc sorted shingle-hash
    array (``__hs``) from the SAME kernel pass — the exact-verify stage
    (``neardup_pairs_lsh_verified``) then reuses this frame instead of
    running the shingle pipeline a second and third time."""
    feats = ensure_min_parallelism(df).select(
        F.col(id_col).alias("__id"),
        minhash_features_udf(k, n)(F.col(text_col)).alias("__f"),
    )
    cols = [
        "__id",
        F.col("__f.sig").alias("__sig"),
        # distinct-shingle count rides the same kernel for free: LSH
        # candidate pairs attach it so the Jaccard size-bound prefilter
        # runs BEFORE any shingle-hash array ships
        F.col("__f.sz").alias("__sz"),
    ] + ([F.col("__f.hs").alias("__hs")] if with_hashes else [])
    return feats.where(F.col("__f.sz") > 0).select(*cols)


def _drop_hot_buckets(banded: DataFrame, max_bucket: int, op: str) -> DataFrame:
    """Skew cap of ``_banded_pairs``: drop every (band, key) bucket
    holding more than ``max_bucket`` rows BEFORE the self-join.  A hot band
    key — boilerplate-heavy corpora collapse thousands of near-identical
    docs onto one key — otherwise turns one task into a B²/2 pair
    explosion that AQE skew-splitting can only partially chop (it splits
    the probe side, not the pair count).  Hot buckets are counted with one
    map-combinable aggregation; only keys ABOVE the cap (≤
    banded_rows/(max_bucket+1) of them) feed the anti-join, and the
    dropped volume is logged loudly.

    Pair semantics under the cap: the first-match filter keys a pair to
    its LOWEST matching band, so a pair whose lowest matching band is
    dropped is suppressed entirely even when a later cool band also
    matches — the cap trades recall ON HOT TEMPLATES ONLY for bounded
    task skew, the standard production dedup trade (such buckets are
    near-total duplicates better handled by exact dedup upstream).
    """
    if max_bucket < 2:
        raise ValueError(f"max_bucket must allow at least one pair, got {max_bucket}")
    hot = (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_bucket)
        # LAZY barrier: whichever job touches `hot` first (the async stats
        # job below or the caller's main query) materializes it once; the
        # anti-join's build side then reads a tiny LogicalRDD instead of an
        # inline re-aggregation of `banded` duplicated into BOTH sides of
        # the downstream self-join (an r11 attempt to drop this barrier put
        # 4 extra exchanges in the m16 plan — at scale that recompute is
        # the full banded stream, twice).  Concurrent first-touch is safe:
        # the block manager locks per partition, one job computes and the
        # other waits.
        .transform(_barrier)  # counted once, anti-joined once
    )
    _warn_hot_drops_async(hot, max_bucket, op)
    # No broadcast hint: the former gate needed the bucket count collected
    # SYNCHRONOUSLY before returning, serializing a whole scheduled job in
    # front of every capped operator.  AQE makes the same decision from the
    # hot set's RUNTIME size (broadcasts it when small, shuffles when a
    # small cap on a duplicate-heavy corpus makes it O(N·bands) — the
    # ADVICE-#1 hazard the gate existed for), so the hint bought nothing
    # the planner does not already do with exact sizes in hand.
    return banded.join(hot.select("band", "key"), ["band", "key"], "left_anti")


def _warn_hot_drops_async(hot: DataFrame, max_bucket: int, op: str) -> None:
    """Loud-drop accounting OFF the caller's critical path: the stats job
    (bucket/row totals of the capped-away keys) is submitted from a daemon
    thread and OVERLAPS the caller's main query (guide §2.6 — concurrent
    jobs back-fill idle executors), instead of serializing ~a full
    scheduled job before the operator even returns its DataFrame.  The
    warning text and totals are unchanged; only WHEN it prints moves (as
    soon as the stats job lands, typically while the main query runs)."""
    try:  # driver-thread wrapper that inherits/cleans JVM thread-locals
        from pyspark import InheritableThread as _Thread
    except ImportError:  # pragma: no cover
        from threading import Thread as _Thread

    def _stats() -> None:
        try:
            dropped = hot.agg(
                F.count(F.lit(1)).alias("buckets"),
                F.coalesce(F.sum("__n"), F.lit(0)).alias("rows"),
            ).collect()[0]
        except Exception:  # session torn down before the stats job ran
            return
        if dropped.buckets:
            _log.warning(
                "%s: dropping %d hot bucket(s) holding %d banded rows "
                "(> max_bucket=%d docs per (band, key)); pairs whose lowest "
                "matching band is hot are suppressed — run exact dedup "
                "upstream if these are template docs",
                op,
                dropped.buckets,
                dropped.rows,
                max_bucket,
            )

    t = _Thread(target=_stats, name=f"sjt-hot-drop-{op}")
    t.daemon = True
    t.start()


def _banded_pairs(
    frame: DataFrame,
    carry: str,
    bands: int,
    band_key: Callable[[Column, int], Column],
    max_bucket: Optional[int],
    op: str,
) -> DataFrame:
    """The one banded self-join behind MinHash LSH, SimHash and Hamming
    pairs.  ``frame`` holds ``__id`` plus the ``carry`` column each doc's
    band keys derive from; ``band_key(c, i)`` maps a carry column to the
    bigint key of band ``i``.

    Every doc explodes into ``bands`` rows (id, band, key, carry); with
    ``max_bucket`` set, hot (band, key) buckets go first
    (``_drop_hot_buckets``); the rows then self-join on (band, key).  A pair
    colliding in several bands is emitted ONCE, in its lowest matching
    band: the first-match filter keeps a joined row only if every earlier
    band's keys differ, recomputed from both sides' carries — a codegen
    filter, so no pair ``distinct`` shuffle exists, and under the cap it
    is also what suppresses a pair whose lowest matching band is hot.
    Only (id, band, key, carry) longs move; callers attach payloads to the
    surviving pairs.  Output: (id_a, id_b, c_a, c_b) with id_a < id_b.
    """
    banded = frame.select(
        "__id",
        F.col(carry).alias("__c"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        band_key(F.col(carry), i).alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "__c", "b.band", "b.key")
    if max_bucket is not None:
        banded = _drop_hot_buckets(banded, max_bucket, op)
    c_a, c_b = F.col("a.__c"), F.col("b.__c")
    first_match = F.lit(True)
    for i in range(bands - 1):
        first_match = first_match & (
            (F.col("band") <= i) | (band_key(c_a, i) != band_key(c_b, i))
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band", "key"])
        .where(F.col("a.__id") < F.col("b.__id"))
        .where(first_match)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            c_a.alias("c_a"),
            c_b.alias("c_b"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    n: int = 3,
    with_sizes: bool = False,
    sig: Optional[DataFrame] = None,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Band ``i`` of a doc is keyed by ``xxhash64`` over its ``k // bands``
    signature longs; the per-band keys form the doc's carry (≤ ``bands``
    longs) through ``_banded_pairs``, which emits each colliding pair once.
    The agreement estimate and the sizes then attach to the SURVIVING pairs
    by id-join against the signature frame, so the banded exchange never
    carries the k-long signatures and the agreement fold runs once per
    pair (mirrors MLlib MinHashLSH.approxSimilarityJoin, without its
    per-band signature carry).  Two different band contents share a key
    with probability ~2⁻⁶⁴ per key pair — the same convention as the h60
    shingle hashes: such a collision can only add a candidate (which the
    estimate filter, or the caller's exact verify, then judges) or move a
    pair's first match to an earlier band.

    ``max_bucket`` (skew hardening, off by default) drops every
    (band, key) bucket holding more than this many docs before the
    self-join; a pair whose lowest matching band is hot is suppressed —
    see ``_drop_hot_buckets`` for the skew/recall trade.

    ``threshold <= 0`` is the candidate-generation mode: every band
    collision is a pair, and no signature is attached.  ``sig`` lets a
    caller pass its own (already-checkpointed) ``minhash_signatures``
    frame.  Output: (id_a, id_b, est_jaccard_e6[, sz_a, sz_b]) with the
    signature-agreement estimate ≥ threshold.
    """
    rows = k // bands
    # localCheckpoint: both join sides and the id-joins read the signature
    # plan, and Spark's exchange reuse does not canonicalize across the join
    # aliases — checkpointing runs scan+shingle+sign exactly ONCE.  Lineage
    # is truncated, so losing an executor recomputes the whole operator (the
    # same caveat as MLlib's approxSimilarityJoin caching recommendation).
    if sig is None:
        sig = minhash_signatures(df, id_col, text_col, k, n).transform(_barrier)
    keys = sig.select(
        "__id",
        F.array(
            *[
                F.xxhash64(*[F.col("__sig")[i * rows + j] for j in range(rows)])
                for i in range(bands)
            ]
        ).alias("__bk"),
    )
    pairs = _banded_pairs(
        keys, "__bk", bands, lambda c, i: c[i], max_bucket, "minhash_lsh_pairs"
    ).select("id_a", "id_b")
    need_est = threshold > 0
    side_cols = (
        ["__id"] + (["__sig"] if need_est else []) + (["__sz"] if with_sizes else [])
    )
    if len(side_cols) > 1:
        sa = sig.select(*side_cols).toDF(*[c + "_a" for c in side_cols])
        sb = sig.select(*side_cols).toDF(*[c + "_b" for c in side_cols])
        pairs = pairs.join(sa, F.col("id_a") == F.col("__id_a")).join(
            sb, F.col("id_b") == F.col("__id_b")
        )
    if need_est:
        agree = F.aggregate(
            F.zip_with(
                F.col("__sig_a"),
                F.col("__sig_b"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        est = F.round((agree / F.lit(float(k))) * 1_000_000).cast("bigint")
    else:
        est = F.lit(0).cast("bigint")
    out = [F.col("id_a"), F.col("id_b"), est.alias("est_jaccard_e6")]
    if with_sizes:
        out += [F.col("__sz_a").alias("sz_a"), F.col("__sz_b").alias("sz_b")]
    return pairs.select(*out).where(
        F.col("est_jaccard_e6") >= int(threshold * 1_000_000)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def _token_hash60(t: Column) -> Column:
    """60-bit md5 token hash (h60).  60 (not 64) keeps every shift/sum
    result clear of the BIGINT sign bit; 32 bits would be too coarse for
    near-dup detection at scale — template-heavy corpora collapse onto few
    values.  md5-based so the DuckDB oracle reproduces it exactly."""
    return h60_col(t)


def simhash_col(text: Column) -> Column:
    """60-bit SimHash over distinct-token hashes: bit i is set when at
    least half the token hashes have bit i set (majority sign of ±1 sums)."""
    hashes = F.array_distinct(F.transform(tokens_col(text), _token_hash60))
    total = F.size(hashes)

    def _bit_set(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    bits = [
        F.when(
            F.size(F.filter(hashes, _bit_set(i))) * 2 >= total,
            F.lit(1 << i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(SIMHASH_BITS)
    ]
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return out


def simhash_features_udf():
    """Fused per-document SimHash: text → 60-bit simhash in ONE Arrow pass
    (tokenize, distinct-token md5 h60 via hashlib, majority vote of each
    bit vectorized as one numpy unpack + reduceat over the batch) — same
    values bit-for-bit as ``simhash_col`` (tests pin it), zero exchanges
    where the explode → 61-sum-aggregate shape paid an id-keyed shuffle.
    Docs with no tokens yield NULL (callers drop them — they never join).
    Nondeterministic marker = the usual SPARK-17728 re-substitution
    defense (the function is pure)."""
    import numpy as np

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
    weights = (np.int64(1) << bit_idx).astype(np.int64)

    @F.pandas_udf("bigint")
    def _sh(text: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        all_hashes: list[np.ndarray] = []
        counts: list[int] = []
        empty: list[bool] = []
        for t in text:
            if not isinstance(t, str):
                empty.append(True)
                continue
            # NOTE "".split(" ") == [""] — the empty-string doc hashes one
            # empty token, exactly like shingles_udf(1)/simhash_col
            toks = t.lower().split(" ")
            # distinct applies to the HASH set (h60 collisions merge),
            # matching simhash_col and the python oracle
            hs = {
                int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                for tok in set(toks)
            }
            if not hs:
                empty.append(True)
                continue
            empty.append(False)
            arr = np.fromiter(hs, dtype=np.int64, count=len(hs))
            all_hashes.append(arr)
            counts.append(len(hs))
        out_vals: list["int | None"] = []
        if all_hashes:
            cat = np.concatenate(all_hashes)  # (M,)
            offsets = np.cumsum([0] + counts)[:-1]
            n = np.array(counts, dtype=np.int64)[:, None]
            # bit-index chunks of 15 bound the (M, chunk) intermediate —
            # same memory rationale as the minhash permutation chunks
            sh = np.zeros(len(counts), dtype=np.int64)
            for c0 in range(0, SIMHASH_BITS, 15):
                bits = (cat[:, None] >> bit_idx[None, c0 : c0 + 15]) & 1
                sums = np.add.reduceat(bits, offsets, axis=0)
                sh += ((sums * 2 >= n) * weights[None, c0 : c0 + 15]).sum(axis=1)
        j = 0
        for e in empty:
            if e:
                out_vals.append(None)
            else:
                out_vals.append(int(sh[j]))
                j += 1
        return pd.Series(out_vals, dtype=object)

    return _sh.asNondeterministic()


def simhash_values(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__id, __sh) per document — same values as ``simhash_col`` but via
    the fused Arrow kernel (``simhash_features_udf``): one scan pass, no
    exchange (the previous explode → 61-sum-aggregate shape paid an
    id-keyed shuffle for the same numbers)."""
    return (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("__id"),
            simhash_features_udf()(F.col(text_col)).alias("__sh"),
        )
        .where(F.col("__sh").isNotNull())
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs with SimHash Hamming distance ≤ max_hamming:
    ``hamming_pairs`` over the 60-bit ``simhash_values`` (``max_hamming + 1``
    bands, so recall is exact at every radius).  ``max_bucket`` drops hot
    (band, key) buckets before the self-join — see ``_drop_hot_buckets``.
    Output: (id_a, id_b, hamming)."""
    return hamming_pairs(
        simhash_values(df, id_col, text_col),
        "__id",
        "__sh",
        bits=SIMHASH_BITS,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int = 2,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` over ANY int64 hash
    column — text SimHash and perceptual hashes (image ahash, audio
    fingerprints) share this one banded self-join.

    Candidate generation: ``max_hamming + 1`` bands covering ``bits``
    (pigeonhole: ≤ d differing bits cannot touch all d+1 bands, so some
    band is EXACTLY equal), run by ``_banded_pairs`` with the hash itself
    as the carry; exact refine via ``bit_count(xor)``.  Only (id, band,
    key, hash) longs shuffle; no text or binary payload ever moves.
    ``max_bucket`` drops hot (band, key) buckets before the self-join —
    perceptual hashes have the same template-corpus exposure as text LSH
    (re-exported thumbnails of one image collapse onto one key); see
    ``_drop_hot_buckets``.  Output: (id_a, id_b, hamming).
    """
    if not 0 < bits <= 63:
        raise ValueError(f"bits must be in 1..63, got {bits}")
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_bands} bands but the hash "
            f"has only {bits} bits"
        )
    # band i covers [starts[i], starts[i+1]) — widths differ by <= 1 bit
    starts = [round(i * bits / n_bands) for i in range(n_bands + 1)]

    def _band_key(col: Column, bi: int) -> Column:
        width = starts[bi + 1] - starts[bi]
        # bitmask, NOT `% (1 << width)`: (a) max_hamming=0 makes one
        # 63-bit band, and the modulo literal 2**63 overflows LongType at
        # plan time while the mask 2**63-1 fits; (b) shiftright is an
        # ARITHMETIC shift, so a sign-bit-carrying hash yields a negative
        # shifted value whose signed remainder differs from a congruent
        # positive one — two hashes with IDENTICAL band bits could get
        # different keys and the pigeonhole guarantee would silently break
        return F.shiftright(col, starts[bi]).bitwiseAND(F.lit((1 << width) - 1))

    sig = df.select(
        F.col(id_col).alias("__id"), F.col(hash_col).cast("long").alias("__h")
    ).transform(_barrier)  # hash lineage (often a UDF chain) computes once
    return (
        _banded_pairs(sig, "__h", n_bands, _band_key, max_bucket, "hamming_pairs")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("c_a").bitwiseXOR(F.col("c_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (the verifier; SQL-expressible)
# ---------------------------------------------------------------------------

def _shingle_h60(n: int):
    """Pandas kernel: text → h60 of each distinct token n-gram — the
    ``shingles_udf`` tokenization followed by ``h60_py`` (a test pins the
    equivalence).  h60_py is inlined (hashlib only): the kernel must
    survive cloudpickle to executors that don't have the package on
    sys.path (the same rule as minhash_features_udf)."""

    def _kernel(text: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for t in text:
            if not isinstance(t, str):
                out.append([])
                continue
            toks = t.lower().split(" ")
            if len(toks) < n:
                out.append([])
            else:
                out.append(
                    [
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in {
                            " ".join(toks[i : i + n])
                            for i in range(len(toks) - n + 1)
                        }
                    ]
                )
        return pd.Series(out)

    return _kernel


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.2, n: int = 3
) -> DataFrame:
    """Exact distinct-n-gram Jaccard for every pair sharing ≥ 1 shingle.

    explode → equi-join on the shingle → per-pair intersection count; union
    by inclusion-exclusion.  The per-doc distinct-shingle count rides along
    the exploded rows (it is known BEFORE the explode), so no separate
    sizes aggregation or lookup joins exist — one self-join, one groupBy.
    Shuffles on shingle strings — the candidate-generator LSH variants
    exist precisely to avoid this at 100TB, but as the exact verifier it is
    the ground truth (and the DuckDB oracle)."""
    # r12: the self-join keys on the shingle's 60-bit md5 hash (h60, the
    # same reduction t35 and the LSH verify tier key on) instead of the
    # raw n-gram string — 8-byte longs through the exchange and a long
    # equi-join in place of ~25-byte string keys and string comparisons.
    # Two distinct shingles colliding would need an h60 collision
    # (~2^-60) — the documented cross-tier convention; the DuckDB oracle
    # stays the string-exact formulation and hash-matches at both SFs.
    shingle_h60_udf = F.pandas_udf(_shingle_h60(n), "array<bigint>")
    sh = (
        ensure_min_parallelism(df).select(
            F.col(id_col).alias("__id"),
            shingle_h60_udf(F.col(text_col)).alias("__sh"),
        )
        .where(F.size("__sh") > 0)
        .select("__id", F.size("__sh").alias("__sz"), F.explode("__sh").alias("s"))
        # both self-join sides read the one materialization (see
        # minhash_lsh_pairs for the reuse rationale)
        .transform(_barrier)
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "s")
        .where(F.col("a.__id") < F.col("b.__id"))
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sz").alias("sza"),
            F.col("b.__sz").alias("szb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jacc = F.col("inter") * 1_000_000.0 / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        inter.withColumn("jaccard_e6", F.round(jacc).cast("bigint"))
        .where(F.col("jaccard_e6") >= int(threshold * 1_000_000))
        .select("id_a", "id_b", "jaccard_e6")
    )


def neardup_pairs_lsh_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Exact-Jaccard near-dup pairs with LSH candidate generation — the
    100 TB shape of ``ngram_jaccard_pairs``: banded MinHash proposes
    candidate pairs (every band collision, no estimate filter — shuffles
    only ids and per-band keys), and the exact distinct-shingle
    Jaccard is then computed ONLY for candidate pairs, as
    ``size(array_intersect)`` over per-doc h60 shingle-hash arrays carried
    by two id-keyed joins.  NO shingle string is ever a shuffle key: the
    hash arrays (8 bytes/shingle) ship once per candidate appearance
    (asserted in tests/test_plans.py).

    vs the exact tier: output is identical whenever banding recall holds
    (a J ≥ t pair misses all b bands of r rows with prob (1-t^r)^b —
    near-dup corpora sit at J ≈ 1 where this vanishes; raise ``bands`` to
    trade shuffle volume for recall at the margin).  h60 collisions merging
    two distinct shingles are ~2^-60 — the oracles stay the string-exact
    formulation.

    Output: (id_a, id_b, jaccard_e6) with exact Jaccard ≥ threshold.
    """
    t_e6 = int(threshold * 1_000_000)
    # ONE shingle pass for the whole operator: the signature aggregation
    # also carries each doc's sorted hash array (__hs), and this single
    # checkpointed frame feeds the band join AND both verify-stage sides
    # (previously the shingle pipeline ran three times — once for
    # signatures, once per verify side)
    sig = minhash_signatures(
        df, id_col, text_col, k, n, with_hashes=True
    ).transform(_barrier)
    cand = minhash_lsh_pairs(
        df, id_col, text_col, k=k, bands=bands, threshold=0.0, n=n,
        with_sizes=True, sig=sig, max_bucket=max_bucket,
    ).select("id_a", "id_b", "sz_a", "sz_b")
    # Jaccard size bound: J = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so a
    # pair whose size ratio already falls below the (rounding-aware)
    # threshold can never verify — drop it HERE, with two longs the band
    # join carried for free, before any shingle-hash array ships.  The
    # final filter keeps round(J·1e6) ≥ t_e6, i.e. J·1e6 ≥ t_e6 - 0.5
    # (HALF_UP), hence the exact integer form 2·min·1e6 ≥ (2·t_e6 - 1)·max.
    if t_e6 > 0:
        cand = cand.where(
            F.least("sz_a", "sz_b") * F.lit(2_000_000)
            >= F.lit(2 * t_e6 - 1) * F.greatest("sz_a", "sz_b")
        )
    cand = cand.select("id_a", "id_b", "sz_a", "sz_b")
    a = sig.select(F.col("__id").alias("id_a"), F.col("__hs").alias("__hsa"))
    b = sig.select(F.col("__id").alias("id_b"), F.col("__hs").alias("__hsb"))
    inter = F.size(F.array_intersect("__hsa", "__hsb"))
    # denominator sizes are the ones carried from the signature agg — the
    # same distinct-shingle counts docs_sh's arrays have (h60 reduction is
    # applied to the same distinct string set on both paths)
    jacc = inter * 1_000_000.0 / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_e6", F.round(jacc).cast("bigint"))
        .where(F.col("jaccard_e6") >= t_e6)
        .select("id_a", "id_b", "jaccard_e6")
    )


def dedup_assign_keeper(pairs: DataFrame, ids: DataFrame, id_col: str) -> DataFrame:
    """One-hop keeper assignment: every id appearing as ``id_b`` in a
    duplicate pair maps to the minimum ``id_a`` it pairs with; others keep
    themselves.  (``dedup_connected_components`` is the transitive-closure
    pass; one hop is the standard cheap first-pass dedup.)"""
    keep = pairs.groupBy(F.col("id_b").alias(id_col)).agg(F.min("id_a").alias("keeper"))
    return (
        ids.join(keep, id_col, "left")
        .withColumn("keeper", F.coalesce("keeper", F.col(id_col)))
        .withColumn("is_dup", F.col("keeper") != F.col(id_col))
    )


def dedup_connected_components(
    pairs: DataFrame, ids: DataFrame, id_col: str, max_iters: int = 20
) -> DataFrame:
    """Transitive-closure keeper assignment: every document in a connected
    component of the near-dup pair graph maps to the component's MINIMUM id
    (one-hop keeper assignment can give chain members A≈B≈C different
    keepers; this is the real pipeline's final dedup pass).

    Hash-Min with ADAPTIVE POINTER DOUBLING: each round every node takes
    the min of (its own label, its neighbors' labels) — one equi-join + a
    partially-aggregatable min.  Near-dup graphs are shallow stars/chains
    that reach the fixpoint in 2-3 such rounds; if the graph has NOT
    converged by round 3, every later round also takes the min with its
    LABEL'S label (one more (node,label)×(node,label) equi-join) which
    halves the label-forest depth — convergence then needs O(log diameter)
    total rounds, so a 2^20-deep adversarial chain resolves within the
    default ``max_iters`` instead of needing a round per hop (the
    guarantee the large-star/small-star family provides, here with a
    cheaper round and zero overhead on the common shallow case).  Only
    (node, label) longs ever shuffle, never documents; state is
    checkpointed per round; the loop stops at the fixpoint and raises if
    ``max_iters`` is exhausted first.

    Output: (id_col, keeper, is_dup) — one row per id in ``ids``.
    """
    par = ids.sparkSession.sparkContext.defaultParallelism
    # bucketed ONCE on the propagation join key: LogicalRDD preserves the
    # partitioning, so no round re-shuffles the edge list (the big side —
    # at scale the label state outgrows AQE's broadcast threshold and an
    # unbucketed edge frame would pay a full shuffle per round; same trade
    # as the kNN loop's cell-bucketed right side)
    p0 = pairs.select(
        F.col("id_a").alias("__a"), F.col("id_b").alias("__b")
    ).transform(_barrier)  # pair lineage (often LSH) computes once
    edges = (
        p0.unionByName(
            p0.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
        )
        .repartition(par, "__a")
        .transform(_barrier)
    )
    # propagation state is O(graph nodes), NOT O(corpus): isolated documents
    # (the overwhelming majority at any scale) never enter the loop — they
    # rejoin as keeper=self in the final left join.  At 100 TB the iterated
    # frames hold only the near-dup pair endpoints.
    # quarter-parallelism state partitions (floor 8) — the same trade as
    # the kNN loop: (node, label) rows are tiny, every round's stages pay
    # fixed per-task cost per partition, and the explicit repartition is
    # immune to AQE coalescing
    sparts = max(8, par // 4)
    # ROUND 0 fused into the init: with identity labels the neighbor
    # contribution for __b is just __a itself, so the first propagation
    # needs NO join — contributions are the edge rows verbatim and the
    # sentinels are the distinct nodes.  This absorbs what used to be a
    # separate labels-init barrier + n_nodes count job + a joined round:
    # each localCheckpoint call plans its physical query eagerly on the
    # JVM (~0.2-0.3 s for these plans, measured r11 — even with
    # eager=False), so every barrier/count the loop does not schedule is
    # real local wall time.  n_nodes is only needed by the pointer-
    # doubling engagement test, computed lazily if round 3 is reached.
    contrib = edges.select(
        F.col("__b").alias("__v"),
        F.col("__a").alias("__cand"),
        F.lit(None).cast("long").alias("__old"),
    )
    sentinel = (
        edges.select(F.col("__a").alias("__v"))
        .distinct()
        .select(
            "__v",
            F.col("__v").alias("__cand"),
            F.col("__v").alias("__old"),
        )
    )
    half = (
        contrib.unionByName(sentinel)
        .repartition(sparts, "__v")
        .groupBy("__v")
        .agg(F.max("__old").alias("__lbl"), F.min("__cand").alias("__mid"))
    )
    # lazy barrier + immediate count: the changed-count is the
    # checkpoint's first job, so materialization and the round's
    # convergence test fuse into ONE scheduled job
    merged = half.withColumnRenamed("__mid", "__new").transform(_barrier)
    changed = merged.where(F.col("__new") != F.col("__lbl")).count()
    labels = merged.select("__v", F.col("__new").alias("__lbl"))
    n_nodes: "int | None" = None
    prev_state = merged  # superseded-round handle for the persist() fallback
    for i in range(1, max_iters):
        if changed == 0:  # round 0 already hit the fixpoint
            break
        # State merge in ONE exchange (the kNN-loop trick): instead of
        # aggregating neighbor labels per node and joining the aggregate
        # back to the label state (an agg exchange PLUS a join exchange),
        # the node's own label rides the SAME __v shuffle as the neighbor
        # contributions — one sentinel row per node, tagged with the old
        # label so the round's change count still has both sides.  The
        # explicit repartition(sparts, __v) satisfies the aggregation's
        # distribution (no second exchange) and pins the state partition
        # count against AQE coalescing.
        contrib = edges.join(labels, F.col("__a") == F.col("__v")).select(
            F.col("__b").alias("__v"),
            F.col("__lbl").alias("__cand"),
            F.lit(None).cast("long").alias("__old"),
        )
        sentinel = labels.select(
            "__v",
            F.col("__lbl").alias("__cand"),
            F.col("__lbl").alias("__old"),
        )
        half = (
            contrib.unionByName(sentinel)
            .repartition(sparts, "__v")
            .groupBy("__v")
            .agg(
                F.max("__old").alias("__lbl"),  # the one sentinel per node
                F.min("__cand").alias("__mid"),
            )
        )
        # Engage pointer doubling once past the shallow-graph budget —
        # UNLESS the previous round changed under 1% of nodes (the
        # fixpoint tail, where the extra lut join costs more than the
        # hop it saves).  The skip never risks the convergence guarantee:
        # within 5 rounds of max_iters doubling re-engages regardless,
        # restoring the O(log diameter) bound before the loud failure.
        if i >= 3:
            if n_nodes is None:  # cheap count over the checkpointed state
                n_nodes = labels.count()
        if i >= 3 and (changed * 100 >= n_nodes or i >= max_iters - 5):
            # not converged in the shallow-graph budget: engage pointer
            # doubling — also take the label OF my label (labels are node
            # ids, so the lookup table is the label frame itself); each
            # such round halves the label-forest depth
            lut = labels.select(
                F.col("__v").alias("__lv"), F.col("__lbl").alias("__ll")
            )
            half = (
                half.join(lut, F.col("__mid") == F.col("__lv"), "left")
                .withColumn("__mid", F.least("__mid", "__ll"))
                .select("__v", "__lbl", "__mid")
                .repartition(sparts)
            )
        # lazy barrier: the changed-count below is the checkpoint's first
        # job — materialization and the round's convergence test fuse into
        # ONE scheduled job (see the labels init above)
        merged = half.withColumnRenamed("__mid", "__new").transform(_barrier)
        changed = merged.where(F.col("__new") != F.col("__lbl")).count()
        # the new round is materialized — release the superseded state so
        # the persist() fallback (Connect) holds O(1) rounds, not O(iters)
        _unbarrier(prev_state)
        prev_state = merged
        labels = merged.select("__v", F.col("__new").alias("__lbl"))
        if changed == 0:
            break
    if changed != 0:
        # a silent non-fixpoint would hand back WRONG keepers (chain members
        # still carrying intermediate labels); fail loudly — callers with
        # adversarially deep graphs should raise max_iters
        raise RuntimeError(
            f"dedup_connected_components: no fixpoint after {max_iters} "
            f"iterations ({changed} labels still changing — component "
            "diameter exceeds max_iters; raise max_iters)"
        )
    return (
        ids.join(labels, ids[id_col] == labels["__v"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__lbl"), F.col(id_col)).alias("keeper"),
            (F.coalesce(F.col("__lbl"), F.col(id_col)) != F.col(id_col)).alias(
                "is_dup"
            ),
        )
    )
