"""Document fingerprinting: winnowing over rolling k-gram hashes.

The standard content-fingerprint scheme (Schleimer/Wilkerson/Aiken
"winnowing", SIGMOD'03, as used by MOSS): hash every positional token
k-gram, slide a window of ``w`` consecutive hashes over the sequence, keep
the minimum of each window, emit the distinct kept hashes per document.
Near-identical documents share most fingerprints; lookup/anti-join against
a fingerprint index is the streaming-ingest dedup primitive.

Hash = md5 (hex string) — available and byte-identical in both Spark and
DuckDB, so the whole operator is SQL-expressible and carries a full DuckDB
oracle (unlike the crc32-keyed MinHash/SimHash family).  Min-of-window
compares hex strings lexicographically — identical ordering in both
engines (lowercase hex, ASCII).

Scale shape: the only shuffle is the per-document window sort (partition by
doc_id), on rows of (doc_id, pos, 32-byte hash) — independent of text size;
the k-gram extraction is the same Arrow pandas_udf pattern as
operators.dedup.shingles_udf.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ml_spatialjointransformer_spark.operators._guard import ensure_min_parallelism


def kgrams_udf(k: int = 3):
    """Arrow pandas_udf: text → POSITIONAL (non-distinct) lowercased token
    k-grams; [] for docs with < k tokens.  Element i is the k-gram starting
    at token i — order matters for winnowing, unlike dedup.shingles_udf."""

    @F.pandas_udf("array<string>")
    def _kgrams(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not isinstance(t, str):
                out.append([])
                continue
            toks = t.lower().split(" ")
            out.append(
                [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
            )
        return pd.Series(out)

    # pure function; nondeterministic only to block SPARK-17728 re-substitution
    return _kgrams.asNondeterministic()


#: CDC rolling-hash window: 8 chars, weights 31^0 (oldest) .. 31^7 (newest)
_CDC_W = 8
#: boundary wherever the window hash ≡ 0 (mod 64) — expected chunk ~64 chars
_CDC_MOD = 64


def cdc_chunk_hashes_udf():
    """Fused content-defined chunking: text → DISTINCT 60-bit chunk hashes
    in ONE Arrow pass — codepoint extraction, the 8-char rolling hash
    (Σ code[i-7+k]·31^k, boundary where ≡ 0 mod 64), chunk slicing, and
    ``h60_py`` (bit-identical to ``h60_col``/DuckDB) all inside the Python
    worker; the rolling hash is one int64 ``np.convolve`` over the
    codepoint array.

    Replaces the higher-order-function formulation (transform/filter/
    sequence over a per-char codes array): same values bit-for-bit
    (tests pin it against the HOF expression), but the per-position
    8-term ``element_at`` chain evaluated INTERPRETED — O(8·len) expr-tree
    walks per document — where the convolution is one vectorized pass
    (guide §4.2).  Only (doc_id, hash longs) ever leave the worker; the
    text never fans out one-row-per-chunk, so downstream shuffles carry
    8 bytes per distinct chunk exactly as before.

    Marked nondeterministic (the function is pure) — the SPARK-17728
    double-eval defense every Arrow kernel in this repo uses."""
    import hashlib

    import numpy as np

    weights = np.power(np.int64(31), np.arange(_CDC_W, dtype=np.int64))
    # np.convolve correlates against the REVERSED kernel: passing the
    # reversed weights makes output[j] = Σ codes[j+k]·31^k — the window
    # STARTING at j, newest char weighted 31^7, matching the SQL form
    kern = weights[::-1].copy()

    @F.pandas_udf("array<bigint>")
    def _chunks(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not isinstance(t, str):
                out.append([])
                continue
            n = len(t)
            if n >= _CDC_W:
                codes = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                conv = np.convolve(codes, kern, mode="valid")
                # window starting at 0-based j ends at 1-based i = j + 8
                bnd = np.flatnonzero(conv % _CDC_MOD == 0) + _CDC_W
                ends = bnd.tolist()
                if not ends or ends[-1] != n:
                    ends.append(n)
            else:
                ends = [n]
            hs: set[int] = set()
            prev = 0
            for p in ends:
                hs.add(
                    int(
                        hashlib.md5(t[prev:p].encode()).hexdigest()[:15], 16
                    )
                )
                prev = p
            out.append(sorted(hs))
        return pd.Series(out)

    return _chunks.asNondeterministic()


def span_anchor_hashes_udf(k: int, w: int, span_l: int):
    """Fused winnowing-anchor extraction (the t53/t54 primitive): text →
    array of (i, sp) anchor structs in ONE Arrow pass — tokenization,
    per-position k-gram h60, the W-window rolling-min anchor test, and
    the verified span-L h60, all inside the Python worker (``h60_py`` is
    bit-identical to ``h60_col``/DuckDB).

    Position ``i`` is 1-based like the SQL formulation: an anchor iff
    ``i >= w`` and its k-gram hash equals the minimum of the W-window
    ENDING at it and a full L-token span starts there.  Documents with
    fewer than ``w + k - 1`` tokens yield no rows (the caller's length
    gate, applied in-kernel).

    Replaces the per-position JVM expression chain (two md5+conv+
    array_join slices per position via explode) AND the per-doc window
    exchange+sort: anchors are decided locally per document, so only
    (doc_id, i, 60-bit span hash) rows — ~1/W of positions — ever leave
    the worker.  Marked nondeterministic (the function is pure) — the
    SPARK-17728 double-eval defense every Arrow kernel in this repo
    uses."""
    import hashlib

    import numpy as np

    min_toks = w + k - 1

    @F.pandas_udf("array<struct<i: int, sp: bigint>>")
    def _anchors(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not isinstance(t, str):
                out.append([])
                continue
            toks = t.lower().split(" ")
            n = len(toks)
            if n < min_toks:
                out.append([])
                continue
            # positions 1..n-k+2 like the SQL sequence — the LAST position's
            # k-gram is the (k-1)-token tail slice, truncated exactly the
            # way SQL's slice(w, i, k) truncates past the array end
            gh = np.fromiter(
                (
                    int(
                        hashlib.md5(
                            " ".join(toks[i : i + k]).encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    for i in range(n - k + 2)
                ),
                dtype=np.int64,
                count=n - k + 2,
            )
            # rolling min of the W-window ENDING at each position >= w
            # (0-based window start j = i - w with i the 1-based position)
            wins = np.lib.stride_tricks.sliding_window_view(gh, w)
            mins = wins.min(axis=1)
            # 1-based anchor positions: i = j + w for window index j, and
            # the anchor needs a full span: i <= n - span_l + 1
            idx = np.flatnonzero(gh[w - 1 :] == mins) + w
            rows = []
            for i in idx.tolist():
                if i > n - span_l + 1:
                    continue
                sp = int(
                    hashlib.md5(
                        " ".join(toks[i - 1 : i - 1 + span_l]).encode()
                    ).hexdigest()[:15],
                    16,
                )
                rows.append({"i": i, "sp": sp})
            out.append(rows)
        return pd.Series(out)

    return _anchors.asNondeterministic()


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Distinct winnowed fingerprints per document: (doc_id, fp).

    Only complete windows contribute (documents with fewer than k+w-1
    tokens yield no fingerprints) — the guarantee is that any shared
    substring of at least k+w-1 tokens produces at least one shared
    fingerprint."""
    base = (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            kgrams_udf(k)(F.col(text_col)).alias("__kg"),
        )
        .where(F.size("__kg") >= w)
        .select(
            "doc_id",
            F.size("__kg").alias("__n"),
            F.posexplode("__kg").alias("pos", "__s"),
        )
        .select("doc_id", "__n", "pos", F.md5("__s").alias("__h"))
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        base.withColumn("fp", F.min("__h").over(win))
        # pos is 0-based: windows starting past __n - w are incomplete
        .where(F.col("pos") <= F.col("__n") - w)
        .select("doc_id", "fp")
        .distinct()
    )


def fingerprint_match_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4, min_shared: int = 2
) -> DataFrame:
    """Candidate near-dup pairs sharing ≥ ``min_shared`` winnowed
    fingerprints: (id_a, id_b, n_shared).  The equi-join shuffles on the
    32-byte fingerprint — bytes per doc, never the text."""
    fp = winnow_fingerprints(df, id_col, text_col, k, w)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
