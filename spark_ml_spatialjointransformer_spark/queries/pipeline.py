"""Query registry, pipeline family — split from the single-module registry (r11);
see ``queries/_core.py`` for the registration machinery and shared helpers."""

from __future__ import annotations

from spark_ml_spatialjointransformer_spark.queries._core import (
    DataFrame,
    F,
    QUERIES,
    QueryDef,
    SparkSession,
    _barrier,
    _register,
    _sql_query,
    _t6_oracle,
    h60_col,
    h60_sql,
    load_events,
    load_table,
    scratch_dir,
)



_P1_ORACLE = f"""
WITH f AS (
  SELECT doc_id, source, text,
         md5(array_to_string(list_sort(str_split(text, ' ')), ' ')) AS fp
  FROM documents WHERE lang = 'en'
),
k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM f),
d AS (SELECT doc_id, source, text FROM k WHERE doc_id = keeper),
r AS (
  SELECT doc_id, source, text,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {h60_sql("CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS rn
  FROM d
),
s AS (SELECT doc_id, source, text FROM r WHERE rn <= 50),
t AS (
  SELECT doc_id, source,
         CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
              AS BIGINT) AS n_tokens
  FROM s
),
c AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(floor(before / 1024.0) AS BIGINT) AS window_id,
       CAST(before % 1024 AS BIGINT) AS offset
FROM c
"""


@_register("p1_training_pipeline", _P1_ORACLE)
def p1_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline COMPOSITION — the workflow the
    individual operators exist for, verified as one chained plan:
    language filter → exact dedup (token-multiset fingerprint, keep the
    minimum id per group) → deterministic stratified sample (50 per
    source) → context-window packing (1024-token windows)."""
    from pyspark.sql.window import Window

    from spark_ml_spatialjointransformer_spark.operators.sampling import (
        pack_sequences,
        stratified_take,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("lang") == "en")
    fp = F.md5(F.array_join(F.sort_array(F.split(F.col("text"), " ")), " "))
    deduped = (
        docs.withColumn("__fp", fp)
        .withColumn("__keeper", F.min("doc_id").over(Window.partitionBy("__fp")))
        .where(F.col("doc_id") == F.col("__keeper"))
        .select("doc_id", "source", "text")
    )
    sampled = stratified_take(deduped, "source", "doc_id", 50).drop("rn")
    t = F.trim(F.col("text"))
    with_tokens = sampled.select(
        "doc_id",
        "source",
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1)
        .cast("bigint")
        .alias("n_tokens"),
    )
    return pack_sequences(with_tokens, "doc_id", "n_tokens", window_tokens=1024)


_P2_SQL = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM events
GROUP BY user_id
"""

#: per-entity feature vector via conditional aggregation (the manual PIVOT
#: — identical SQL in both engines, unlike engine-specific PIVOT syntax).
#: The feature-store shape: one partially-aggregated shuffle of (user, six
#: longs, one double); every CASE evaluates in the same codegen'd scan
#: pass.  At 100 TB this is a map-side-combined groupBy — the cheapest
#: possible multi-feature extraction.
QUERIES["p2_user_features"] = QueryDef(_sql_query(("events",), _P2_SQL), _P2_SQL)


_P3_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang,
         length(text) AS n,
         length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS ntok,
         len(list_distinct(string_split(trim(text), ' '))) AS ndis,
         (length(text) - length(replace(text, ' the ', ''))) // 5 AS nthe
  FROM documents
),
k AS (SELECT doc_id, lang, ntok FROM b
      WHERE ntok >= 50 AND n >= 3 * ntok AND n <= 10 * ntok
        AND (ntok - ndis) * 10 <= 6 * ntok AND nthe * 200 >= ntok),
u AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
q AS (SELECT vec_id,
             CAST(sum(CAST(floor(v * 100000.0 + 0.5) AS BIGINT)
                      * CAST(floor(v * 100000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS emb_qnorm2
      FROM u GROUP BY vec_id)
SELECT k.doc_id, k.lang, CAST(k.ntok AS BIGINT) AS n_tokens, q.emb_qnorm2,
       CAST({h60_sql("CAST(k.doc_id AS VARCHAR)")} % 64 AS INTEGER) AS shard
FROM k JOIN q ON q.vec_id = k.doc_id
"""


@_register("p3_export_manifest", _P3_ORACLE)
def p3_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal training-export manifest: quality-kept documents (t20's
    filter) joined to their embedding's exact quantized norm² and assigned
    their content-stable shard (t21's formula) — the composition that
    actually gates a multimodal training run: filter → align text/vector →
    shard.  Everything is integer-exact (cross-multiplied filters, int64
    norm dots, md5 shard hash); the doc/vector join keys on ids, so at
    100 TB it is a plain hash join of two id-bucketed tables."""
    t = F.trim(F.col("text"))
    ntok = F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    b = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.length("text").alias("n"),
        ntok.alias("ntok"),
        F.size(F.array_distinct(F.split(t, " "))).alias("ndis"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", " the ", "")))
            / F.lit(5)
        ).cast("bigint").alias("nthe"),
    )
    k = b.where(
        (F.col("ntok") >= 50)
        & (F.col("n") >= 3 * F.col("ntok"))
        & (F.col("n") <= 10 * F.col("ntok"))
        & ((F.col("ntok") - F.col("ndis")) * 10 <= 6 * F.col("ntok"))
        & (F.col("nthe") * 200 >= F.col("ntok"))
    ).select("doc_id", "lang", F.col("ntok").cast("bigint").alias("n_tokens"))
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda v: F.floor(v * F.lit(100000.0) + F.lit(0.5)).cast("bigint"),
    )
    q = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.aggregate(
            qv, F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
        ).alias("emb_qnorm2"),
    )
    return k.join(q, "doc_id").select(
        "doc_id", "lang", "n_tokens", "emb_qnorm2",
        (h60_col(F.col("doc_id").cast("string")) % 64).cast("int").alias("shard"),
    )


#: p4 replays m3's synth+floor-map resize at 12×8 → 6×4, gates on the
#: decoded feature, then re-derives t21's shard/position math — the full
#: multimodal curation chain in one from-first-principles SQL replay.
_P4_ORACLE = f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 1),
xo AS (SELECT unnest(range(6)) AS x1), yo AS (SELECT unnest(range(4)) AS y1),
m AS (SELECT doc_id, (x1 * 12) // 6 AS xs, (y1 * 8) // 4 AS ys
      FROM d CROSS JOIN xo CROSS JOIN yo),
p AS (SELECT doc_id,
             (3 * xs + 5 * ys + doc_id) % 256
             + (xs + 2 * ys) % 256
             + (doc_id + xs * ys) % 256 AS v
      FROM m),
f AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS pix_sum
      FROM p GROUP BY doc_id),
k AS (SELECT doc_id, pix_sum FROM f WHERE pix_sum % 5 <> 0),
h AS (SELECT doc_id, pix_sum, {h60_sql("CAST(doc_id AS VARCHAR)")} AS hh
      FROM k)
SELECT doc_id, pix_sum, CAST(hh % 16 AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY hh % 16 ORDER BY hh, doc_id)
            AS BIGINT) AS pos
FROM h
"""


@_register("p4_multimodal_pipeline", _P4_ORACLE)
def p4_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MULTIMODAL curation pipeline as one chained plan:
    metadata filter → image synth → REAL codec decode+resize (12×8 →
    6×4) → feature extraction (pixel sum) → deterministic quality gate →
    content-stable shard assignment with reproducible intra-shard
    position.  The image stages are the m3 machinery, the shard stage is
    the t21 machinery — composed here to prove the pieces chain without
    materialization barriers.  Scale shape: the whole decode/resize/
    feature prefix is chained mapInPandas over the scan (zero shuffle,
    binaries never move); the ONLY shuffle is the final 16-way shard
    partition of (doc_id, pix_sum, hash) longs."""
    from spark_ml_spatialjointransformer_spark.operators.multimodal import (
        image_stats,
        resize_images,
        synth_ppm_images,
    )
    from pyspark.sql.window import Window

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 3 != 1)
    )
    imgs = synth_ppm_images(docs, "doc_id", width=12, height=8, out_col="img")
    small = resize_images(imgs, "img", width=6, height=4, out_col="small")
    feats = image_stats(small, "small", prefix="s_").select(
        "doc_id", F.col("s_pix_sum").alias("pix_sum")
    )
    kept = feats.where(F.col("pix_sum") % 5 != 0).withColumn(
        "hh", h60_col(F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy(F.col("hh") % 16).orderBy("hh", "doc_id")
    return kept.select(
        "doc_id",
        "pix_sum",
        (F.col("hh") % 16).cast("int").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


#: p5 composes the three modality fingerprints already proven one-by-one
#: (t2's token-multiset text fingerprint, m5's pixel ahash replay, m6's
#: waveform envelope replay) and votes: a document duplicates whenever
#: ANY modality collides with a lower doc_id.
_P5_ORACLE = f"""
WITH d AS (SELECT doc_id, text FROM documents),
tf AS (SELECT doc_id,
              {h60_sql("array_to_string(list_sort(str_split(text, ' ')), ' ')")}
                AS tfp
       FROM d),
xo AS (SELECT unnest(range(7)) AS x1), yo AS (SELECT unnest(range(5)) AS y1),
px AS (SELECT d.doc_id, y1 * 7 + x1 AS k,
              (3 * ((x1 * 16) // 7) + 5 * ((y1 * 12) // 5) + doc_id) % 256
              + ((x1 * 16) // 7 + 2 * ((y1 * 12) // 5)) % 256
              + (doc_id + ((x1 * 16) // 7) * ((y1 * 12) // 5)) % 256 AS v
       FROM d CROSS JOIN xo CROSS JOIN yo),
pt AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS tot FROM px GROUP BY doc_id),
ih AS (SELECT px.doc_id,
              CAST(sum(CASE WHEN px.v * 35 >= pt.tot
                            THEN CAST(1 AS BIGINT) << px.k
                            ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ahash
       FROM px JOIN pt USING (doc_id) GROUP BY px.doc_id),
ts AS (SELECT unnest(range(256)) AS t),
sm AS (SELECT d.doc_id, t // 32 AS w,
              abs(((doc_id * 7919 + t * 2654435761) % 65536) - 32768) AS av
       FROM d CROSS JOIN ts),
ew AS (SELECT doc_id, w, CAST(sum(av) AS BIGINT) AS e
       FROM sm GROUP BY doc_id, w),
et AS (SELECT doc_id, CAST(sum(e) AS BIGINT) AS tot FROM ew GROUP BY doc_id),
ah AS (SELECT ew.doc_id,
              CAST(sum(CASE WHEN ew.e * 8 >= et.tot
                            THEN CAST(1 AS BIGINT) << ew.w
                            ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS afp
       FROM ew JOIN et USING (doc_id) GROUP BY ew.doc_id),
k AS (SELECT d.doc_id, tf.tfp, ih.ahash, ah.afp
      FROM d JOIN tf USING (doc_id) JOIN ih USING (doc_id)
      JOIN ah USING (doc_id)),
g AS (SELECT doc_id,
             min(doc_id) OVER (PARTITION BY tfp) AS kt,
             min(doc_id) OVER (PARTITION BY ahash) AS ki,
             min(doc_id) OVER (PARTITION BY afp) AS ka
      FROM k)
SELECT doc_id, least(kt, ki, ka) AS keeper,
       least(kt, ki, ka) != doc_id AS is_dup,
       kt != doc_id AS dup_text,
       ki != doc_id AS dup_img,
       ka != doc_id AS dup_audio
FROM g
"""


@_register("p5_crossmodal_dedup", _P5_ORACLE)
def p5_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consensus dedup: one pass computes all three modality
    fingerprints per document — token-multiset text fingerprint (t2),
    image average-hash through the real PPM codec (m5), audio loudness
    envelope through the real WAVE codec (m6) — and a document is a
    duplicate when ANY modality collides with a lower doc_id (the
    any-signal OR-vote; per-signal flags expose WHICH modality fired,
    and the full transitive closure remains available via t11's
    operator).  This is the production shape for paired-media corpora:
    text paraphrased but image reused, audio re-encoded but transcript
    identical — single-modality dedup misses each cross case.  Scale
    shape: the fingerprint chain is partition-preserving (JVM text expr
    + five Arrow passes, binaries never shuffle); the vote is three
    8-byte-key windows — only (doc_id, 3 int64s) ever crosses an
    exchange."""
    from pyspark.sql import Window

    from spark_ml_spatialjointransformer_spark.operators.multimodal import (
        audio_fingerprint,
        image_ahash,
        resize_images,
        synth_ppm_images,
        synth_wav,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = docs.select(
        "doc_id",
        h60_col(
            F.array_join(F.sort_array(F.split(F.col("text"), " ")), " ")
        ).alias("tfp"),
    )
    imgs = synth_ppm_images(tf, "doc_id", width=16, height=12, out_col="img")
    thumbs = resize_images(imgs, "img", width=7, height=5, out_col="thumb")
    ih = image_ahash(thumbs, "thumb", out_col="ahash").drop("img", "thumb")
    wavs = synth_wav(ih, "doc_id", n_samples=256, sample_rate=16000)
    sig = audio_fingerprint(wavs, "wav", n_windows=8, out_col="afp").drop(
        "wav"
    )
    kt = F.min("doc_id").over(Window.partitionBy("tfp"))
    ki = F.min("doc_id").over(Window.partitionBy("ahash"))
    ka = F.min("doc_id").over(Window.partitionBy("afp"))
    g = sig.select(
        "doc_id",
        kt.alias("kt"),
        ki.alias("ki"),
        ka.alias("ka"),
    )
    keeper = F.least("kt", "ki", "ka")
    return g.select(
        "doc_id",
        keeper.alias("keeper"),
        (keeper != F.col("doc_id")).alias("is_dup"),
        (F.col("kt") != F.col("doc_id")).alias("dup_text"),
        (F.col("ki") != F.col("doc_id")).alias("dup_img"),
        (F.col("ka") != F.col("doc_id")).alias("dup_audio"),
    )


_P6_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT)
         AS v_e4
FROM events
WHERE event_type = 'click'
  AND strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-16'
GROUP BY 1
"""


@_register("p6_partitioned_export", _P6_ORACLE)
def p6_partitioned_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse layout step every recurring pipeline amortizes: write
    the fact Hive-partitioned by (event_type, day), then answer a
    one-type/one-week question by reading ONLY its partitions — the
    re-read's filters are satisfied by directory pruning (PartitionFilters
    in the scan; pinned by tests/test_plans.py), so the 100 TB table costs
    a 7-directory listing, not a scan.  Values are pinned against the
    unpartitioned original, proving the partition write/read round-trip
    (including the string day key ride through the directory name) loses
    nothing.  The day agg then reuses nothing fancy: tiny grouped sums
    over exactly the rows the layout admitted."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out_dir = scratch_dir(spark, f"sjt_p6_{tag}")
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
        F.expr("CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)").alias("v_e4"),
    )
    # cluster by the partition keys before the write: without it the scan's
    # task count dictates the writer layout — at local scale ONE scan task
    # writes all ~150 (type, day) directories serially, and at 100 TB every
    # scan task holds rows of every directory, multiplying the file count
    # by the task count (the §6 small-files trap).  The hash shuffle sends
    # each (type, day) group to exactly one task: writes parallelize across
    # directories and each directory gets one well-sized file.  The count
    # is EXPLICIT — a keyed repartition without one is AQE-coalesced to a
    # single partition at this volume, which re-serializes the write
    # behind one task (r11 measured: keyed 2.46 s vs explicit 0.89 s for
    # the same 150 files); defaultParallelism scales it on a cluster.
    ev.repartition(
        spark.sparkContext.defaultParallelism, "event_type", "day"
    ).write.partitionBy("event_type", "day").mode("overwrite").parquet(
        out_dir
    )
    # explicit schema: keeps the day partition key a STRING (inference
    # would promote the directory names to DATE) and skips the extra
    # footer-sampling pass schema inference costs on a huge table
    back = spark.read.schema(
        "user_id bigint, v_e4 bigint, event_type string, day string"
    ).parquet(out_dir).where(
        (F.col("event_type") == "click")
        & F.col("day").between("2024-01-10", "2024-01-16")
    )
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_e4").cast("bigint").alias("v_e4"),
    )


#: p7 split assignment: salted content-stable hash → 10 cells; cell 0 =
#: test, 1 = val, rest train (80/10/10).  The salt decorrelates the split
#: hash from every other doc_id-keyed hash in the registry.
_P7_SPLIT = (
    f"CASE {{h}} % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val'"
    f" ELSE 'train' END"
)


def _p7_oracle() -> str:
    h = h60_sql("'split#' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH pairs AS ({_t6_oracle()}),
s AS (SELECT doc_id, {_P7_SPLIT.format(h=h)} AS split FROM documents)
SELECT sa.split AS split_a, sb.split AS split_b,
       count(*) AS n_pairs,
       CAST(count(*) FILTER (sa.split <> sb.split) AS BIGINT) AS n_leaked
FROM pairs
JOIN s sa ON sa.doc_id = pairs.id_a
JOIN s sb ON sb.doc_id = pairs.id_b
GROUP BY 1, 2
"""


@_register("p7_split_leakage", _p7_oracle())
def p7_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split audit — the leakage check every eval pipeline
    needs: assign each document a content-stable salted-hash split
    (80/10/10), then count near-duplicate pairs (t6's banded MinHash,
    same parameters) per split-pair cell.  Off-diagonal cells are
    LEAKED evaluation data — near-dups of training docs sitting in
    val/test — the contamination that random splitting guarantees and
    that this report makes visible before training does.  Scale shape:
    the pair generation is t6's banded join (shuffles band keys, never
    text); the split attach is two doc_id-keyed joins of 8-byte rows;
    output is a ≤ 9-row contingency table."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", k=64, bands=16, threshold=0.2
    ).select("id_a", "id_b")
    split = _P7_SPLIT.format(
        h="h"
    )
    s = docs.select(
        "doc_id",
        h60_col(F.concat(F.lit("split#"), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    ).select("doc_id", F.expr(split).alias("split"))
    return (
        pairs.join(s.withColumnRenamed("split", "split_a"),
                   F.col("id_a") == F.col("doc_id"))
        .drop("doc_id")
        .join(s.withColumnRenamed("split", "split_b"),
              F.col("id_b") == F.col("doc_id"))
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)
            ).cast("bigint").alias("n_leaked"),
        )
    )


_P8_ORACLE = """
SELECT CAST(grouping(source) AS INTEGER) AS g_src,
       CAST(grouping(lang) AS INTEGER) AS g_lang,
       coalesce(source, '') AS source,
       coalesce(lang, '') AS lang,
       count(*) AS n_docs,
       CAST(count(DISTINCT text) AS BIGINT) AS n_uniq,
       CAST((count(*) - count(DISTINCT text)) * 1000000 // count(*)
         AS BIGINT) AS dup_ppm,
       CAST(sum(length(trim(text)) - length(replace(trim(text), ' ', ''))
                + 1) AS BIGINT) AS n_tokens
FROM documents
GROUP BY ROLLUP(source, lang)
"""


@_register("p8_dataset_card", _P8_ORACLE)
def p8_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card report a training run is documented with: per
    (source, lang) ROLLUP — cell, per-source, and corpus-total rows —
    doc counts, DISTINCT-text counts (the exact-dup rate as ppm), and
    token totals (t1's whitespace definition).  The plan shape worth
    pinning is DISTINCT-under-ROLLUP: Spark expands grouping sets and
    two-phase-aggregates the distinct on (grouping-set, text) partials,
    so the report still costs one exchange of partially-deduped rows —
    not one scan per granularity, and never a text shuffle per row
    beyond the distinct's combine."""
    doc = load_table(spark, sf_dir, "documents")
    toks = F.expr(
        "length(trim(text)) - length(replace(trim(text), ' ', '')) + 1"
    )
    agg = (
        doc.rollup("source", "lang")
        .agg(
            F.grouping("source").cast("int").alias("g_src"),
            F.grouping("lang").cast("int").alias("g_lang"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").cast("bigint").alias("n_uniq"),
            F.sum(toks).cast("bigint").alias("n_tokens"),
        )
    )
    return agg.select(
        "g_src",
        "g_lang",
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        "n_docs",
        "n_uniq",
        F.expr(
            "CAST((n_docs - n_uniq) * 1000000 div n_docs AS BIGINT)"
        ).alias("dup_ppm"),
        "n_tokens",
    )


_P9_ORACLE = """
WITH cells AS (SELECT source, lang, count(*) AS n_docs
               FROM documents GROUP BY source, lang),
wts AS (SELECT source, lang, n_docs,
               CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000e0)
                    AS BIGINT) AS w_e6
        FROM cells),
tot AS (SELECT CAST(sum(w_e6) AS BIGINT) AS tw FROM wts)
SELECT source, lang, n_docs, w_e6,
       CAST(round(10000e0 * w_e6 / tw) AS BIGINT) AS quota,
       CAST(round(round(10000e0 * w_e6 / tw) * 1000000e0 / n_docs)
            AS BIGINT) AS sample_ratio_e6
FROM wts, tot
"""


@_register("p9_temperature_mixture", _P9_ORACLE)
def p9_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weighting (the multilingual-sampling
    α = 0.5 recipe): per (source, language) cell, the sampling quota out
    of a 10 000-example budget proportional to √n — upweighting
    low-resource cells exactly the way multilingual pretraining balances
    corpora — plus the per-cell sampling ratio the sampler applies.
    √n scales to an integer weight per cell BEFORE the normalizing sum,
    so the total is order-free (sqrt and one division are each single
    correctly-rounded IEEE ops, identical in both engines).  Scale
    shape: one map-combined (source, lang) count, a 1-row total
    broadcast back over the ≤|cells| frame — the corpus is read once."""
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    wts = cells.select(
        "source", "lang", "n_docs",
        F.expr(
            "CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000e0) AS BIGINT)"
        ).alias("w_e6"),
    )
    tot = wts.agg(F.sum("w_e6").cast("bigint").alias("tw"))
    quota = F.expr("CAST(round(10000e0 * w_e6 / tw) AS BIGINT)")
    return wts.crossJoin(F.broadcast(tot)).select(
        "source", "lang", "n_docs", "w_e6",
        quota.alias("quota"),
        F.expr(
            "CAST(round(round(10000e0 * w_e6 / tw) * 1000000e0 / n_docs)"
            " AS BIGINT)"
        ).alias("sample_ratio_e6"),
    )
#: t46: the language-metadata AUDIT on top of t4's n-gram language ID —
#: the (labeled lang × predicted lang) confusion matrix that flags
#: mislabeled-language corpora before they poison a multilingual mix.
#: Identical SQL runs on both engines (one scan, one map-combined
#: count); at 100 TB the matrix is |langs|² rows.


_P10_ORACLE = f"""
WITH f AS (
  SELECT doc_id, source, lang, text,
         {h60_sql("array_to_string((str_split(lower(text), ' '))[1:8], ' ')")}
           AS fp,
         length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
           AS ntok,
         (length(text) - length(replace(text, ' the ', ''))) / 5 AS n_the
  FROM documents
),
hold AS (SELECT DISTINCT fp FROM f WHERE doc_id % 23 = 0),
t AS (
  SELECT f.*, (doc_id % 23 = 0) AS is_hold,
         fp IN (SELECT fp FROM hold) AS fp_hot
  FROM f
),
pool AS (
  SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper
  FROM t WHERE NOT is_hold AND NOT fp_hot
),
lab AS (
  SELECT doc_id, source, lang, text,
         CASE WHEN doc_id != keeper THEN 'dup'
              WHEN ntok < 40 OR n_the = 0 THEN 'low_quality'
              ELSE 'pool' END AS st
  FROM pool
),
surv AS (SELECT * FROM lab WHERE st = 'pool'),
cells AS (SELECT source, lang, count(*) AS nc FROM surv
          GROUP BY source, lang),
wts AS (SELECT source, lang, nc,
               CAST(round(sqrt(CAST(nc AS DOUBLE)) * 1000000e0) AS BIGINT)
                 AS w
        FROM cells),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
               CAST(sum(nc) AS BIGINT) AS ns FROM wts),
q AS (SELECT wts.source, wts.lang,
             CAST(round((2 * ns // 5) * 1.0e0 * w / tw) AS BIGINT) AS quota
      FROM wts, tot),
rk AS (SELECT surv.doc_id, surv.source, surv.lang, q.quota,
             row_number() OVER (PARTITION BY surv.source, surv.lang
                                ORDER BY {h60_sql('surv.text')}, surv.doc_id)
               AS rn
      FROM surv JOIN q ON q.source = surv.source AND q.lang = surv.lang)
SELECT doc_id, source, lang,
       CASE WHEN rn <= quota THEN 'kept' ELSE 'sampled_out' END AS decision
FROM rk
UNION ALL
SELECT doc_id, source, lang, st AS decision FROM lab WHERE st != 'pool'
UNION ALL
SELECT doc_id, source, lang,
       CASE WHEN is_hold THEN 'holdout' ELSE 'contaminated' END AS decision
FROM t WHERE is_hold OR fp_hot
"""


@_register("p10_curation_decisions", _P10_ORACLE)
def p10_curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation verdict — ONE row per document with its
    final training-mix decision and the reason, composing the stages
    the registry proves one-by-one: holdout carve-out (the benchmark
    set itself), contamination (template-fingerprint collision with the
    holdout — t15's concern at t2's granularity), template dedup
    (first-8-words fingerprint keeper election), quality gating (t3's
    token/stopword signals), and √n temperature sampling within
    (source, lang) cells against a 40%-of-survivors budget (p9's
    quotas), with the sample chosen by deterministic hash rank.
    Precedence: holdout > contaminated > dup > low_quality >
    kept/sampled_out.  Scale shape: ONE labeled frame carries every
    per-doc signal (no per-decision union arms re-scanning the corpus);
    the dup keeper is a CONDITIONAL min window (eligible docs only) so
    it runs on the unfiltered frame, and the within-cell sample rank is
    a conditional running count — both tricks keep the plan a single
    pass plus small-key exchanges.  The holdout fingerprint set and the
    ≤|cells| quota table broadcast.  This is the query a data team
    actually ships — the audit trail FOR the mix."""
    from pyspark.sql.window import Window

    f = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text",
        h60_col(
            F.concat_ws(" ", F.slice(F.split(F.lower("text"), " "), 1, 8))
        ).alias("fp"),
        F.expr(
            "length(trim(text)) - length(replace(trim(text), ' ', '')) + 1"
        ).alias("ntok"),
        F.expr(
            "(length(text) - length(replace(text, ' the ', ''))) / 5"
        ).alias("n_the"),
        (F.col("doc_id") % 23 == 0).alias("is_hold"),
    )
    hold = f.where("is_hold").select("fp").distinct()
    t = f.join(
        F.broadcast(hold.withColumn("fp_hot", F.lit(True))), "fp", "left"
    ).withColumn("fp_hot", F.coalesce("fp_hot", F.lit(False)))
    elig = ~F.col("is_hold") & ~F.col("fp_hot")
    keeper = F.min(F.when(elig, F.col("doc_id"))).over(
        Window.partitionBy("fp")
    )
    lab = t.select(
        "doc_id", "source", "lang", "text",
        F.when(F.col("is_hold"), "holdout")
        .when(F.col("fp_hot"), "contaminated")
        .when(F.col("doc_id") != keeper, "dup")
        .when((F.col("ntok") < 40) | (F.col("n_the") == 0), "low_quality")
        .otherwise("pool")
        .alias("st"),
    ).transform(_barrier)
    cells = (
        lab.where(F.col("st") == "pool")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    wts = cells.select(
        "source", "lang", "nc",
        F.expr(
            "CAST(round(sqrt(CAST(nc AS DOUBLE)) * 1000000e0) AS BIGINT)"
        ).alias("w"),
    )
    tot = wts.agg(
        F.sum("w").cast("bigint").alias("tw"),
        F.sum("nc").cast("bigint").alias("ns"),
    )
    q = wts.crossJoin(F.broadcast(tot)).select(
        "source", "lang",
        F.expr(
            "CAST(round((2 * ns div 5) * 1.0e0 * w / tw) AS BIGINT)"
        ).alias("quota"),
    )
    wr = (
        Window.partitionBy("source", "lang")
        .orderBy(h60_col(F.col("text")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rn = F.sum(F.when(F.col("st") == "pool", 1).otherwise(0)).over(wr)
    return (
        lab.join(F.broadcast(q), ["source", "lang"], "left")
        .withColumn("rn", rn)
        .select(
            "doc_id", "source", "lang",
            F.when(F.col("st") != "pool", F.col("st"))
            .when(F.col("rn") <= F.col("quota"), "kept")
            .otherwise("sampled_out")
            .alias("decision"),
        )
    )


#: tokens admitted per source before the mix closes — small enough to cut
#: at every published SF (per-source corpora run ~1.3k tokens at the
#: 500-doc SFs, ~14k at sf0.1), so the boundary logic is always exercised
_P11_BUDGET = 800

_P11_ORACLE = f"""
WITH d AS (SELECT doc_id, source,
                  length(trim(text)) - length(replace(trim(text), ' ', ''))
                    + 1 AS n_tok,
                  {h60_sql('text')} AS h
           FROM documents),
c AS (SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM d)
SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum_tok AS BIGINT) AS cum_tok
FROM c WHERE cum_tok <= {_P11_BUDGET}
"""


@_register("p11_token_budget_fill", _P11_ORACLE)
def p11_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix assembly: admit documents into the training mix
    per source, in deterministic content-hash order, until each source's
    token budget fills — the document-level complement of p9 (which sizes
    quotas but selects nothing) and the op that actually ASSEMBLES a
    data recipe: budgets are in TOKENS, not documents, because a mix
    spec ("30 B tokens of web, 5 B of code") is denominated in tokens.
    The hash order doubles as the corpus shuffle (selection is stable
    under re-partitioning and re-runs; no RNG).  The greedy prefix is
    strict — the document that would cross the budget is excluded, so
    the fill never overshoots.  Scale shape: ONE source-keyed exchange
    serves the running token sum and the cut; token counts reduce each
    text to an int before the shuffle (the window moves (source, h,
    n_tok) rows, never text)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "length(trim(text)) - length(replace(trim(text), ' ', '')) + 1"
        ).alias("n_tok"),
        h60_col(F.col("text")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.withColumn("cum_tok", F.sum("n_tok").over(w))
        .where(F.col("cum_tok") <= _P11_BUDGET)
        .select(
            "source",
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.col("cum_tok").cast("bigint").alias("cum_tok"),
        )
    )


#: 2^60 — h60 values are uniform on [0, 2^60), so ``dh < 2^60 // csize``
#: keeps each member of a csize-cluster with probability 1/csize,
#: deterministically by id hash (integer-exact in both engines; division
#: instead of ``dh * csize < 2^60`` so a huge cluster can't overflow int64)
_P12_H60_SPACE = 1 << 60

_P12_ORACLE = f"""
WITH p AS (SELECT doc_id, source,
                  {h60_sql("substring(text, 1, 200)")} AS ph,
                  {h60_sql("CAST(doc_id AS VARCHAR)")} AS dh
           FROM documents),
g AS (SELECT doc_id, source, dh,
             count(*) OVER (PARTITION BY ph) AS csize
      FROM p)
SELECT doc_id, source, CAST(csize AS BIGINT) AS cluster_size,
       CAST(round(1000000.0 / csize) AS BIGINT) AS weight_e6
FROM g WHERE dh < {_P12_H60_SPACE} // csize
"""


@_register("p12_soft_dedup_sample", _P12_ORACLE)
def p12_soft_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft (sampled) dedup — the curation alternative to hard keeper
    election: instead of keeping exactly one doc per duplicate cluster
    (t51/p1), keep each member with probability 1/cluster_size, so every
    distinct CONTENT contributes ~one expected copy while intra-cluster
    variety (different tails behind a shared prefix) still enters the mix
    — the standard LLM-corpus recipe when near-dups carry signal.
    Selection is hash-deterministic (keep iff h60(doc_id) falls below the
    1/csize slice of the 60-bit space — reproducible, shuffle-free,
    engine-exact), and survivors carry weight_e6 = 1e6/csize for loss
    reweighting downstream.  Clusters key on the same 200-char-prefix
    h60 as t51/t52, so the three queries form one family: detect (t51),
    audit (t52), remediate (p12).  Scale shape: ONE exchange keyed by
    the 60-bit prefix hash (the cluster-size window); text never
    shuffles — both hashes are computed in the scan projection and only
    (int, int) pairs move."""
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        h60_col(F.expr("substring(text, 1, 200)")).alias("ph"),
        h60_col(F.col("doc_id").cast("string")).alias("dh"),
    )
    g = p.withColumn(
        "csize", F.count(F.lit(1)).over(Window.partitionBy("ph"))
    )
    return g.where(
        F.col("dh") < F.expr(f"{_P12_H60_SPACE}L div csize")
    ).select(
        "doc_id",
        "source",
        F.col("csize").cast("bigint").alias("cluster_size"),
        F.round(1000000.0 / F.col("csize")).cast("bigint").alias("weight_e6"),
    )


#: p13 split cells: 10 hash cells over the CLUSTER key — 0 test, 1 val,
#: rest train, the same 80/10/10 geometry as p7's per-doc split
_P13_SPLIT = (
    "CASE sh % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END"
)

_P13_ORACLE = f"""
WITH p AS (SELECT doc_id, {h60_sql("substring(text, 1, 200)")} AS ph
           FROM documents),
g AS (SELECT doc_id, ph,
             count(*) OVER (PARTITION BY ph) AS csize,
             {h60_sql("'gsplit#' || CAST(ph AS VARCHAR)")} AS sh
      FROM p)
SELECT doc_id, {_P13_SPLIT} AS split, CAST(csize AS BIGINT) AS cluster_size
FROM g
"""


@_register("p13_group_split", _P13_ORACLE)
def p13_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-SAFE split assignment — the REMEDIATION for what p7 audits:
    hash the duplicate-CLUSTER key into the 80/10/10 split cells instead
    of the doc id, so every member of a duplicate cluster lands in the
    same split by construction and exact-dup train/test leakage is
    structurally zero (near-dup leakage drops to the pairs the cluster
    key misses).  Clusters key on the t51/t52/p12 200-char-prefix h60,
    completing that family: detect (t51), audit (t52), downweight (p12),
    split-safely (p13).  The split hash salts the cluster key with its
    own prefix ('gsplit#') so split cell and every other ph-derived
    decision stay decorrelated.  Scale shape: ONE exchange (the
    cluster-size window keyed by ph); both hashes are scan-projection
    codegen and only (int, int) pairs move — text never shuffles."""
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "documents").select(
        "doc_id", h60_col(F.expr("substring(text, 1, 200)")).alias("ph")
    )
    g = p.withColumn(
        "csize", F.count(F.lit(1)).over(Window.partitionBy("ph"))
    ).withColumn(
        "sh", h60_col(F.concat(F.lit("gsplit#"), F.col("ph").cast("string")))
    )
    return g.select(
        "doc_id",
        F.expr(_P13_SPLIT).alias("split"),
        F.col("csize").cast("bigint").alias("cluster_size"),
    )


#: p14 anonymity parameters: suppression threshold k, and the balance
#: generalization band width in cents (the +100000 shift keeps the
#: floor division on the non-negative domain — Spark `div` truncates
#: toward zero while DuckDB `//` floors, and they agree only for >= 0;
#: c_acctbal >= -999.99 so shifted cents >= 1).
_P14_K = 5
_P14_BAND_CENTS = 200_000
_P14_SHIFT = 100_000

_P14_ORACLE = f"""
WITH q AS (SELECT c.c_custkey, CAST(n.n_regionkey AS BIGINT) AS region,
                  c.c_mktsegment AS seg,
                  (CAST(floor(c.c_acctbal * 100e0 + 0.5e0) AS BIGINT)
                   + {_P14_SHIFT}) // {_P14_BAND_CENTS} AS bal_band
           FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
g AS (SELECT *, count(*) OVER (PARTITION BY region, seg, bal_band) AS group_n
      FROM q)
SELECT c_custkey, region, seg, CAST(bal_band AS BIGINT) AS bal_band,
       CAST(group_n AS BIGINT) AS group_n,
       CAST(CASE WHEN group_n < {_P14_K} THEN 1 ELSE 0 END AS INTEGER)
         AS suppressed
FROM g
"""


@_register("p14_k_anonymity", _P14_ORACLE)
def p14_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the generalized quasi-identifier (region,
    market segment, $2000 balance band): any record whose quasi-group
    has fewer than k=5 members is marked for suppression — the release
    gate a training corpus with user-derived metadata must pass before
    export (Sweeney's model; t28 scrubs DIRECT identifiers, this
    catches records re-identifiable through indirect attribute
    COMBINATIONS).  The generalization ladder is in the key itself:
    nation coarsens to region via the broadcast dimension join, the
    raw balance to a wide integer band (floor division on the shifted
    non-negative domain, engine-exact).  At sf0.01, 34 of 1500 records
    fall in sub-threshold groups.  Scale shape: one broadcast dim join
    + ONE quasi-key exchange shared by the count window — no text, no
    self-join; suppression at 100 TB is exactly this plan with more
    partitions."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    from pyspark.sql.window import Window

    q = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        "c_custkey",
        F.col("n_regionkey").cast("bigint").alias("region"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            f"(CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT)"
            f" + {_P14_SHIFT}) div {_P14_BAND_CENTS}"
        ).alias("bal_band"),
    )
    w = Window.partitionBy("region", "seg", "bal_band")
    return q.withColumn("group_n", F.count(F.lit(1)).over(w)).select(
        "c_custkey",
        "region",
        "seg",
        F.col("bal_band").cast("bigint").alias("bal_band"),
        F.col("group_n").cast("bigint").alias("group_n"),
        F.when(F.col("group_n") < _P14_K, 1).otherwise(0).cast("int").alias(
            "suppressed"
        ),
    )


#: p15 curriculum: number of phases, and the integer difficulty proxy —
#: 2x average token length (longer words = harder) plus the stopword
#: DEFICIT (fewer function words = harder), all floor division so both
#: engines agree bit-for-bit.  stop_e6 <= 5e5 (a stopword needs a
#: following token), so the deficit term is always positive.
_P15_PHASES = 4
_P15_NTOK_SQL = "(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)"

_P15_ORACLE = f"""
WITH f AS (SELECT doc_id,
                  {_P15_NTOK_SQL} AS ntok,
                  (length(text) * 1000000) // {_P15_NTOK_SQL} * 2
                  + (1000000
                     - ((length(text) - length(replace(text, ' the ', ''))) // 5)
                       * 1000000 // {_P15_NTOK_SQL}) AS d_e6
           FROM documents),
r AS (SELECT *, row_number() OVER (ORDER BY d_e6, doc_id) AS rnk,
             count(*) OVER () AS n
      FROM f)
SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
       CAST(d_e6 AS BIGINT) AS difficulty_e6,
       CAST(rnk AS BIGINT) AS curriculum_rank,
       CAST((rnk - 1) * {_P15_PHASES} // n + 1 AS BIGINT) AS phase
FROM r
"""


@_register("p15_curriculum_order", _P15_ORACLE)
def p15_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning order (Bengio et al. 2009): rank every
    training document easy-to-hard by an integer difficulty proxy
    (2x average token length + stopword deficit) and cut the ranking
    into 4 equal phases — the staged data schedule
    curriculum pretraining feeds the trainer (p1 assembles features,
    p11 fills token budgets; this decides WHEN each document is seen).
    The global ordering is the scale-honest part: a bare
    ``row_number() OVER (ORDER BY difficulty)`` serializes the corpus
    through one task, so the rank comes from the two-level prefix
    decomposition (``operators/sampling.py:global_rank`` — value-range
    buckets, per-bucket counts broadcast back, ONE full-data exchange),
    and the phase is the closed form ``(rank-1)*k div N + 1`` on both
    engines (SQL ntile() splits remainders differently, so the formula
    IS the contract).  Difficulty is floor division end-to-end — no
    doubles, no rounding near-ties."""
    from spark_ml_spatialjointransformer_spark.operators.sampling import (
        global_rank,
    )

    ntok = (
        "(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)"
    )
    f = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(ntok).cast("bigint").alias("n_tokens"),
        F.expr(
            f"(CAST(length(text) AS BIGINT) * 1000000) div {ntok} * 2"
            f" + (1000000"
            f"    - (CAST(length(text) - length(replace(text, ' the ', ''))"
            f"       AS BIGINT) div 5) * 1000000 div {ntok})"
        ).alias("difficulty_e6"),
    )
    n = f.count()  # one count job; N also bounds the phase formula
    ranked = global_rank(f, "difficulty_e6", "doc_id", out_col="curriculum_rank")
    return ranked.select(
        "doc_id",
        "n_tokens",
        "difficulty_e6",
        "curriculum_rank",
        F.expr(
            f"CAST((curriculum_rank - 1) * {_P15_PHASES} div {n}L + 1"
            " AS BIGINT)"
        ).alias("phase"),
    )


#: p16 annotator proxies: the two INDEPENDENT quality rules whose
#: agreement is audited (t3/p10's signals, binarized)
_P16_A_SQL = "(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1) >= 40"
_P16_B_SQL = (
    "((length(text) - length(replace(text, ' the ', ''))) / 5) * 200"
    " >= (length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)"
)

_P16_ORACLE = f"""
WITH lab AS (SELECT source,
                    CASE WHEN {_P16_A_SQL} THEN 1 ELSE 0 END AS a,
                    CASE WHEN {_P16_B_SQL} THEN 1 ELSE 0 END AS b
             FROM documents),
c AS (SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a * b) AS BIGINT) AS n11,
             CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
             CAST(sum((1 - a) * b) AS BIGINT) AS n01,
             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM lab GROUP BY source),
k AS (SELECT source, n, n11 + n00 AS agree,
             n * (n11 + n00)
               - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
               AS num,
             n * n
               - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
               AS den
      FROM c)
SELECT source, n AS n_docs,
       CAST(agree * 1000000 // n AS BIGINT) AS agree_e6,
       CAST((num + den) * 1000000 // den - 1000000 AS BIGINT) AS kappa_e6
FROM k WHERE den > 0
"""


@_register("p16_label_agreement", _P16_ORACLE)
def p16_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit: Cohen's kappa between two independent quality
    raters (the length rule and the stopword rule — t3's signals
    binarized) per source — raw agreement flatters imbalanced labels
    (two raters calling everything "keep" agree 100% by accident), so
    the mix governance gate reads the chance-corrected kappa before
    trusting any single rule as a filter (low kappa on a source means
    the rules measure different things THERE — route it to review, or
    ensemble).  Integer-exact and NEGATIVE-SAFE: kappa =
    (num+den)·1e6 div den − 1e6, which keeps the dividend
    non-negative (num ≥ −den by kappa ≥ −1), the domain where Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree — the d4
    sign rule applied to a quotient that genuinely crosses zero.
    Constant-rater sources (den = 0, kappa undefined) are excluded by
    contract.  Overflow bound: n²·1e6 < 2^63 ⇒ n < 3e6 docs per
    source; past that, compute kappa from the four counts downstream.
    Scale shape: ONE map-combinable source-keyed exchange of four int
    counts; every label is a scan-side codegen expression — no text
    ever shuffles, the cell table is |sources| rows forever."""
    lab = load_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(f"CASE WHEN {_P16_A_SQL} THEN 1 ELSE 0 END").alias("a"),
        F.expr(f"CASE WHEN {_P16_B_SQL} THEN 1 ELSE 0 END").alias("b"),
    )
    c = lab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("a * b")).cast("bigint").alias("n11"),
        F.sum(F.expr("a * (1 - b)")).cast("bigint").alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast("bigint").alias("n01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).cast("bigint").alias("n00"),
    )
    k = c.select(
        "source",
        "n",
        F.expr("n11 + n00").alias("agree"),
        F.expr(
            "n * (n11 + n00)"
            " - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
        ).alias("num"),
        F.expr(
            "n * n"
            " - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
        ).alias("den"),
    )
    return k.where(F.col("den") > 0).select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr("agree * 1000000 div n").cast("bigint").alias("agree_e6"),
        F.expr("(num + den) * 1000000 div den - 1000000")
        .cast("bigint")
        .alias("kappa_e6"),
    )


_P17_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t,
         generate_subscripts(str_split(lower(text), ' '), 1) AS i
  FROM documents
),
sh AS (
  SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
  FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(round(inter * 1000000.0 / (sa.sz + sb.sz - inter)) AS BIGINT)
        >= 600000
),
keep AS (SELECT id_b AS doc_id, min(id_a) AS keeper FROM pairs GROUP BY id_b),
lab AS (
  SELECT d.doc_id, d.source,
         length(trim(d.text)) - length(replace(trim(d.text), ' ', '')) + 1
           AS ntok,
         k.doc_id IS NULL AS kept
  FROM documents d LEFT JOIN keep k ON k.doc_id = d.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS raw_tokens,
       CAST(sum(ntok) FILTER (kept) AS BIGINT) AS effective_tokens,
       CAST(sum(ntok) FILTER (kept) * 1000000 // sum(ntok) AS BIGINT)
         AS yield_e6
FROM lab GROUP BY source
"""


@_register("p17_effective_tokens", _P17_ORACLE)
def p17_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-training-token accounting — THE number a data team
    quotes: per source, raw tokens vs tokens surviving near-dup keeper
    election (t9's verbatim pipeline), and the yield ratio — raw corpus
    size flatters a scrape full of mirrors; budgets, pricing, and mix
    quotas (p9/p11) should consume EFFECTIVE tokens, and a source whose
    yield collapses is a duplication farm regardless of its raw volume
    (t59 says where its content went; this says what it is worth).
    Scale shape: token counts are scan-side codegen; the keeper table
    arrives from t9's banded machinery (band keys shuffle, never
    shingles) and joins back by doc_id; the rollup is ONE
    map-combinable source-keyed exchange of int triples, |sources|
    rows forever."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        dedup_assign_keeper,
        neardup_pairs_lsh_verified,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = neardup_pairs_lsh_verified(docs, "doc_id", "text", threshold=0.6)
    keep = dedup_assign_keeper(
        pairs.select("id_a", "id_b"), docs.select("doc_id"), "doc_id"
    ).select("doc_id", "is_dup")
    lab = (
        docs.select(
            "doc_id",
            "source",
            F.expr(
                "length(trim(text)) - length(replace(trim(text), ' ', '')) + 1"
            ).alias("ntok"),
        )
        .join(keep, "doc_id", "left")
        .withColumn("kept", ~F.coalesce("is_dup", F.lit(False)))
    )
    return lab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("raw_tokens"),
        F.sum(F.when(F.col("kept"), F.col("ntok")).otherwise(0))
        .cast("bigint")
        .alias("effective_tokens"),
        F.expr(
            "sum(CASE WHEN kept THEN ntok ELSE 0 END) * 1000000"
            " div sum(ntok)"
        )
        .cast("bigint")
        .alias("yield_e6"),
    )
