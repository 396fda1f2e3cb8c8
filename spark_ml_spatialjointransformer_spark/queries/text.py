"""Query registry, text family — split from the single-module registry (r11);
see ``queries/_core.py`` for the registration machinery and shared helpers."""

from __future__ import annotations

from spark_ml_spatialjointransformer_spark.queries._core import (
    DataFrame,
    F,
    MINHASH_PRIME,
    QUERIES,
    QueryDef,
    SIMHASH_BITS,
    SparkSession,
    _KMV_K,
    _T22_ORACLE,
    _TOK_SH_CTE,
    _barrier,
    _register,
    _sql_query,
    _t6_oracle,
    h60_col,
    h60_sql,
    load_events,
    load_table,
    minhash_coefficients,
    scratch_dir,
)


def _compat_barrier():
    """Late-bound lineage barrier (see operators/_compat.py): imported at
    call time so a query body picks up the live ``barrier`` — the shared
    multi-reader frames below use it where the r12 runtime audit showed
    Spark's exchange reuse NOT covering a duplicated featurization
    subtree (one materialization instead of re-deriving per reader)."""
    from spark_ml_spatialjointransformer_spark.operators._compat import (
        barrier,
    )

    return barrier


_T1_SQL = """
SELECT doc_id,
       CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS INTEGER)
         AS n_tokens,
       CAST(length(text) AS INTEGER) AS n_chars_measured
FROM documents
"""
QUERIES["t1_token_count"] = QueryDef(_sql_query(("documents",), _T1_SQL), _T1_SQL)


_T3_SQL = """
WITH b AS (
  SELECT doc_id,
         length(text) AS n,
         length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS ntok,
         (length(text) - length(replace(text, ' the ', ''))) / 5 AS n_the
  FROM documents
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_chars_measured,
       CAST(ntok AS INTEGER) AS n_tokens,
       CAST(round((n * 1.0 / ntok) * 1000000) AS BIGINT) AS avg_tok_len_e6,
       CAST(round((n_the * 1.0 / ntok) * 1000000) AS BIGINT) AS stop_ratio_e6
FROM b
"""
QUERIES["t3_quality_score"] = QueryDef(_sql_query(("documents",), _T3_SQL), _T3_SQL)


def _lang_score(word: str) -> str:
    w = f" {word} "
    return f"(length(text) - length(replace(text, '{w}', ''))) / {len(w)}"


_T4_SQL = f"""
WITH s AS (
  SELECT doc_id,
         {_lang_score('the')} AS s_en,
         {_lang_score('el')} AS s_es,
         {_lang_score('der')} AS s_de,
         {_lang_score('le')} AS s_fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS pred_lang,
       CAST(s_en AS INTEGER) AS score_en
FROM s
"""
QUERIES["t4_lang_id"] = QueryDef(_sql_query(("documents",), _T4_SQL), _T4_SQL)


# BPE-ish regex tokenization: letter runs, digit runs, and single
# non-space punctuation each count as one token (the pre-merge byte-level
# segmentation shape); same regex dialect subset runs on both engines
_T10_SQL = """
SELECT doc_id,
       CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')
            ) AS INTEGER) AS n_bpe_tokens,
       CAST(length(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_number_runs,
       CAST(length(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS INTEGER) AS n_punct
FROM documents
"""
_T10_SPARK_SQL = """
SELECT doc_id,
       CAST(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)
            ) AS INT) AS n_bpe_tokens,
       CAST(size(regexp_extract_all(text, '[0-9]+', 0)) AS INT) AS n_number_runs,
       CAST(size(regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)) AS INT) AS n_punct
FROM documents
"""
QUERIES["t10_bpe_token_count"] = QueryDef(
    _sql_query(("documents",), _T10_SPARK_SQL), _T10_SQL
)


# exact/near-exact dedup via token-multiset fingerprint: same logic, per-
# engine array function names
_T2_SPARK_SQL = """
WITH f AS (
  SELECT doc_id, md5(array_join(sort_array(split(text, ' ')), ' ')) AS fp
  FROM documents
)
SELECT doc_id, fp,
       min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
       doc_id != min(doc_id) OVER (PARTITION BY fp) AS is_dup
FROM f
"""
_T2_DUCKDB_SQL = """
WITH f AS (
  SELECT doc_id, md5(array_to_string(list_sort(str_split(text, ' ')), ' ')) AS fp
  FROM documents
)
SELECT doc_id, fp,
       min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
       doc_id != min(doc_id) OVER (PARTITION BY fp) AS is_dup
FROM f
"""
QUERIES["t2_dedup_exact"] = QueryDef(
    _sql_query(("documents",), _T2_SPARK_SQL), _T2_DUCKDB_SQL
)


# ---------------------------------------------------------------------------
# dedup family (documents table)
# ---------------------------------------------------------------------------

@_register(
    "t5_ngram_jaccard",
    """
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
)
SELECT id_a, id_b,
       CAST(round(inter * 1000000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_e6
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(round(inter * 1000000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) >= 200000
""",
)
def t5_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-trigram Jaccard near-dup pairs ≥ 0.2 — the exact verifier
    of the MinHash estimates (pure integer arithmetic: fully deterministic
    cross-engine)."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2)


@_register("t6_minhash_lsh_pairs", _t6_oracle())
def t6_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate near-dup pairs — md5-h60-keyed so the full
    banded pipeline (signatures, band hit, agreement estimate) is replayed
    exactly by the DuckDB oracle; also bit-verified against the pure-Python
    oracle in tests/test_dedup.py."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", k=64, bands=16, threshold=0.2)


def _t7_oracle(max_hamming: int = 3) -> str:
    """DuckDB replica of the SimHash pair emission.  For Hamming ≤ 3 over 4
    bands the pigeonhole candidate generation is COMPLETE (≤ 3 differing
    bands ⇒ ≥ 1 equal band), so the oracle is simply every pair within the
    Hamming bound — no band logic needed."""
    bits = ",\n       ".join(f"sum((h >> {i}) & 1) AS b{i}" for i in range(SIMHASH_BITS))
    sh = " + ".join(
        f"(CASE WHEN 2 * b{i} >= n THEN CAST(1 AS BIGINT) << {i} ELSE CAST(0 AS BIGINT) END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t FROM documents
),
th AS (SELECT DISTINCT doc_id, {h60_sql('t')} AS h FROM tok),
agg AS (SELECT doc_id, count(*) AS n, {bits} FROM th GROUP BY doc_id),
sig AS (SELECT doc_id, {sh} AS sh FROM agg)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


@_register("t7_simhash_pairs", _t7_oracle())
def t7_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3 — md5-h60 token hashes make
    the 60-bit signatures DuckDB-reproducible; the banded join's candidate
    set is provably complete at this bound, so hash equality with the
    brute-force oracle checks the whole pipeline."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3)


@_register(
    "t8_winnow_fingerprints",
    """
WITH tok AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t,
         generate_subscripts(str_split(lower(text), ' '), 1) AS i
  FROM documents
),
kg AS (
  SELECT a.doc_id, a.i AS pos, md5(a.t || ' ' || b.t || ' ' || c.t) AS h
  FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
n AS (SELECT doc_id, count(*) AS n FROM kg GROUP BY doc_id),
wmin AS (
  SELECT kg.doc_id, kg.pos, n.n,
         min(h) OVER (PARTITION BY kg.doc_id ORDER BY kg.pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM kg JOIN n ON n.doc_id = kg.doc_id
)
SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= n - 3
""",
)
def t8_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints (k=3 tokens, window w=4) — md5-keyed,
    so fully DuckDB-oracled.  (Oracle positions are 1-based: window start
    pos ≤ n-w+1 there, ≤ n-w in the 0-based Spark plan.)"""
    from spark_ml_spatialjointransformer_spark.operators.fingerprint import (
        winnow_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=3, w=4)


_T9_ORACLE = """
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
  WHERE CAST(round(inter * 1000000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) >= 600000
),
keep AS (SELECT id_b AS doc_id, min(id_a) AS keeper FROM pairs GROUP BY id_b)
SELECT d.doc_id,
       coalesce(k.keeper, d.doc_id) AS keeper,
       coalesce(k.keeper, d.doc_id) != d.doc_id AS is_dup
FROM documents d LEFT JOIN keep k ON k.doc_id = d.doc_id
"""


@_register("t9_dedup_keeper", _T9_ORACLE)
def t9_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup pipeline: MinHash-LSH candidate pairs verified
    with exact trigram Jaccard ≥ 0.6 → one-hop keeper assignment (every
    duplicate maps to the smallest doc_id it pairs with; survivors keep
    themselves).  The candidate generator keeps shingle strings out of
    every shuffle (the 100 TB shape); the oracle stays the all-pairs exact
    formulation, which the LSH tier must reproduce."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        dedup_assign_keeper,
        neardup_pairs_lsh_verified,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = neardup_pairs_lsh_verified(docs, "doc_id", "text", threshold=0.6)
    ids = docs.select("doc_id")
    return dedup_assign_keeper(pairs.select("id_a", "id_b"), ids, "doc_id")


_T11_ORACLE = f"""
WITH RECURSIVE {_TOK_SH_CTE},
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
  WHERE CAST(round(inter * 1000000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) >= 600000
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(v, u) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.v, e.b FROM reach r JOIN edges e ON e.a = r.u
),
k AS (SELECT v AS doc_id, min(u) AS keeper FROM reach GROUP BY v)
SELECT d.doc_id, k.keeper, k.keeper != d.doc_id AS is_dup
FROM documents d JOIN k USING (doc_id)
"""


@_register("t11_dedup_closure", _T11_ORACLE)
def t11_dedup_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup: LSH-verified exact Jaccard ≥ 0.6 pairs →
    min-label propagation to fixpoint, so every member of a near-dup
    CHAIN (A≈B≈C with A,C not directly similar) maps to one keeper —
    the fix for t9's one-hop limitation.  The DuckDB oracle computes the
    same closure as a recursive reachability CTE over the all-pairs exact
    graph, which the LSH candidate tier must reproduce."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        dedup_connected_components,
        neardup_pairs_lsh_verified,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = neardup_pairs_lsh_verified(docs, "doc_id", "text", threshold=0.6)
    return dedup_connected_components(
        pairs.select("id_a", "id_b"), docs.select("doc_id"), "doc_id"
    )


_T12_ORACLE = f"""
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {h60_sql("CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 100
"""


@_register("t12_stratified_sample", _T12_ORACLE)
def t12_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: first 100 docs per language in
    (h60(doc_id), doc_id) order — a reproducible pseudo-random quota per
    stratum (training-mixture construction), engine-independent unlike
    RNG-based sampleBy."""
    from spark_ml_spatialjointransformer_spark.operators.sampling import (
        stratified_take,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_take(docs, "lang", "doc_id", 100)


_T13_ORACLE = """
WITH t AS (
  SELECT doc_id,
         CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
              AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tokens_before
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(floor(tokens_before / 2048.0) AS BIGINT) AS window_id,
       CAST(tokens_before % 2048 AS BIGINT) AS offset
FROM c
"""


@_register("t13_sequence_packing", _T13_ORACLE)
def t13_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (concat-then-chunk, 2048-token windows): each
    doc's window id + offset in the virtual token stream.  The Spark plan
    runs the two-level distributed prefix sum (operators/sampling.py); the
    oracle is the equivalent single global window formula."""
    from spark_ml_spatialjointransformer_spark.operators.sampling import (
        pack_sequences,
    )

    t = F.trim(F.col("text"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1)
        .cast("bigint")
        .alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens", window_tokens=2048)


_T14_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t FROM documents
),
v AS (
  SELECT t AS token,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_total
  FROM tok GROUP BY t
)
SELECT token, n_docs, n_total FROM v WHERE n_docs >= 5
"""


@_register("t14_vocab_df", _T14_ORACLE)
def t14_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction with document frequencies (tokenizer
    training / min_df pruning): per token, the number of containing
    documents and total occurrences, pruned at df ≥ 5.  Pure
    explode → aggregate — the count(DISTINCT) runs as Spark's two-phase
    partial aggregation, shuffling (token, doc_id) pairs once."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .where(F.col("n_docs") >= 5)
    )


# ---------------------------------------------------------------------------
# training-data pipeline: contamination, repetition, mixture, LM-freq score
# ---------------------------------------------------------------------------

_T15_ORACLE = """
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
g AS (SELECT DISTINCT doc_id, gram FROM (
      SELECT doc_id,
             unnest([array_to_string(tk[i:i+3], ' ')
                     FOR i IN generate_series(1, len(tk) - 3)]) AS gram
      FROM tok WHERE len(tk) >= 4) z),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 23 = 0)
SELECT g.doc_id, count(*) AS n_shared
FROM g JOIN b USING (gram)
WHERE g.doc_id % 23 != 0
GROUP BY g.doc_id
"""


def _doc_grams4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, __gh) — each document's DISTINCT word 4-grams as h60 ints.
    The ONE definition of the gram convention shared by t15 (and through
    it t23) and t31 — a window/tokenizer change here changes all three
    together, which their mutual 'identical result' contracts require."""
    tk = F.split(F.trim(F.col("text")), " ")
    grams4 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("__tk")) - 4),
            lambda i: h60_col(F.concat_ws(" ", F.slice(F.col("__tk"), i + 1, 4))),
        )
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tk.alias("__tk"))
        .where(F.size("__tk") >= 4)
        .select("doc_id", F.explode(grams4).alias("__gh"))
        # every caller (t15/t23's flag+probe, t31's collect+prune) reads
        # this frame from two arms — barrier so the tokenize + per-gram
        # md5 h60 (the dominant CPU) runs once (r12 audit: no reuse)
        .transform(_compat_barrier())
    )


@_register("t15_contamination", _T15_ORACLE)
def t15_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag corpus documents sharing any
    word 4-gram with the held-out set (doc_id % 23 == 0 stands in for the
    eval benchmark; mod 23 + 4-grams sized so the sf0.01 fixture yields
    ~30 contaminated docs, not a single-row smoke answer).  Scale shape: the benchmark's distinct gram set is
    tiny and broadcast; grams travel as h60 ints (8 bytes), never strings;
    per-doc distinct grams via array_distinct BEFORE the explode, and the
    count aggregates map-side.  Output: (doc_id, n_shared) for
    contaminated non-benchmark docs only."""
    g = _doc_grams4(spark, sf_dir)
    bench = g.where(F.col("doc_id") % 23 == 0).select("__gh").distinct()
    return (
        g.where(F.col("doc_id") % 23 != 0)
        .join(F.broadcast(bench), "__gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


_T16_ORACLE = """
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
g AS (SELECT doc_id, tk,
             [array_to_string(tk[i:i+2], ' ')
              FOR i IN generate_series(1, len(tk) - 2)] AS g3
      FROM tok)
SELECT doc_id,
       CAST(((len(g3) - len(list_distinct(g3))) * 1000000) // len(g3) AS BIGINT)
         AS rep3_e6,
       CAST(((len(tk) - len(list_distinct(tk))) * 1000000) // len(tk) AS BIGINT)
         AS repw_e6
FROM g
"""


@_register("t16_repetition", _T16_ORACLE)
def t16_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (the Gopher-style duplicate-n-gram rule):
    per document, the fraction of word 3-gram occurrences that are repeats
    and the fraction of word occurrences that are repeats — all-integer
    arithmetic (counts and exact `div`), no floats to disagree on.  Pure
    per-row JVM expressions over the scan: no shuffle at all."""
    tk = F.split(F.trim(F.col("text")), " ")
    g3 = F.transform(
        F.sequence(F.lit(0), F.size(F.col("__tk")) - 3),
        lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i + 1, 3)),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tk.alias("__tk"))
        .withColumn("__g3", g3)
        .select(
            "doc_id",
            F.expr(
                "CAST(((size(__g3) - size(array_distinct(__g3))) * 1000000)"
                " div size(__g3) AS BIGINT)"
            ).alias("rep3_e6"),
            F.expr(
                "CAST(((size(__tk) - size(array_distinct(__tk))) * 1000000)"
                " div size(__tk) AS BIGINT)"
            ).alias("repw_e6"),
        )
    )


#: per-language keep-probability of the training mixture (scaled e6)
_T17_WEIGHTS = {"en": 500_000, "fr": 900_000, "de": 700_000, "es": 250_000}
_T17_DEFAULT = 1_000_000

_T17_ORACLE = f"""
SELECT doc_id, lang FROM documents
WHERE {h60_sql("CAST(doc_id AS VARCHAR)")} % 1000000 <
      CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _T17_WEIGHTS.items())}
      ELSE {_T17_DEFAULT} END
"""


@_register("t17_mixture_sample", _T17_ORACLE)
def t17_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling: each language keeps a fixed
    fraction of its documents, selected by a content-stable hash threshold
    (h60(doc_id) % 1e6 < weight) — reproducible across runs, engines, and
    partitionings, unlike RNG-based sampleBy.  The weight table joins as a
    broadcast dim (the realistic shape: mixtures are config tables);
    filtering happens at the scan with no shuffle."""
    wdf = spark.createDataFrame(
        [(k, v) for k, v in _T17_WEIGHTS.items()], ["lang", "__w"]
    )
    return (
        load_table(spark, sf_dir, "documents")
        .join(F.broadcast(wdf), "lang", "left")
        .withColumn("__w", F.coalesce("__w", F.lit(_T17_DEFAULT)))
        .where(h60_col(F.col("doc_id").cast("string")) % 1_000_000 < F.col("__w"))
        .select("doc_id", "lang")
    )


_T18_ORACLE = """
WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
             FROM documents),
v AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w)
SELECT doc_id, CAST((sum(cnt) * 1000) // count(*) AS BIGINT) AS score_e3
FROM tok JOIN v USING (w)
GROUP BY doc_id
"""


@_register("t18_corpus_freq_score", _T18_ORACLE)
def t18_corpus_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram corpus-frequency scoring (the integer-exact stand-in for LM
    perplexity filtering): per document, the mean corpus frequency of its
    token occurrences — rare-token-heavy docs score low.  Scale shape:
    the vocabulary aggregates two-phase (map-side partial) and joins back
    as a broadcast dim (Zipf: vocab ≪ corpus); the per-doc mean is one
    partial-aggregated shuffle of (doc_id, sum, n) longs."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(F.expr("CAST((sum(cnt) * 1000) div count(1) AS BIGINT)").alias("score_e3"))
    )


#: BM25 parameters (k1=1.2, b=0.75) and the query term set.  The idf is the
#: log-free rational variant (N - df + 0.5)/(df + 0.5) — a monotone
#: transform of the classic log idf chosen because it keeps the whole score
#: a fixed sequence of IEEE +,-,*,/ on integer-derived doubles: every
#: operation is correctly rounded, so Spark and DuckDB produce BIT-IDENTICAL
#: doubles from the IDENTICAL expression text (same parse tree), and the
#: per-term scaled-int rounding below can never flip between engines.
_T19_TERMS = ("spark", "hash", "window", "sort")
#: every literal is written in scientific notation: ``0.5`` parses as
#: DECIMAL in Spark (and with different scale rules in DuckDB), while
#: ``0.5e0`` is a DOUBLE literal in both — the bit-identical-doubles
#: argument above requires every operand to be IEEE double from the start
_T19_SCORE = (
    "((n_docs - df + 0.5e0) / (df + 0.5e0)) * (tf * 2.2e0) "
    "/ (tf + 1.2e0 * (0.25e0 + 0.75e0 * (dl * n_docs * 1.0e0 / sum_dl)))"
)

_T19_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
       WHERE w IN {_T19_TERMS} GROUP BY doc_id, w),
df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w),
sc AS (SELECT tf.doc_id,
              CAST(floor(({_T19_SCORE}) * 1000000 + 0.5) AS BIGINT) AS s_e6
       FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats)
SELECT doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6
FROM sc GROUP BY doc_id
"""


@_register("t19_bm25", _T19_ORACLE)
def t19_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring of the corpus against a fixed query-term set
    (k1=1.2, b=0.75; log-free rational idf — see _T19_SCORE).  Scale shape:
    ONE corpus scan and ONE doc_id shuffle — per-doc length and the
    per-term counts ride the same partially-aggregated row, the corpus
    stats (N, Σdl, per-term df) collapse to a single broadcast row, and
    per-term scores round to scaled ints BEFORE summing, so the only FP
    expression is the fixed-op-order _T19_SCORE both engines evaluate
    identically.  Everything is JVM codegen — no UDF.  (The oracle's
    tf/df/dl CTE formulation is the classic IR textbook shape; this plan
    computes the same numbers without the doc-keyed re-join.)"""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(_T19_TERMS)
        ],
    # both the stats row and the scoring pass consume per_doc: materialize
    # it once (same reuse rationale as the LSH self-joins) so the corpus
    # scans exactly once
    ).transform(_barrier)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(_T19_TERMS))
        ],
    )
    term_scores = [
        F.when(
            F.col(f"tf_{i}") > 0,
            F.expr(
                "CAST(floor(("
                + _T19_SCORE.replace("tf", f"tf_{i}").replace("df", f"df_{i}")
                + ") * 1000000 + 0.5) AS BIGINT)"
            ),
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(len(_T19_TERMS))
    ]
    total = term_scores[0]
    for s in term_scores[1:]:
        total = total + s
    any_term = F.greatest(*[F.col(f"tf_{i}") for i in range(len(_T19_TERMS))]) > 0
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .where(any_term)
        .select("doc_id", total.alias("bm25_e6"))
    )


_T20_ORACLE = """
WITH b AS (
  SELECT doc_id,
         length(text) AS n,
         length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS ntok,
         len(list_distinct(string_split(trim(text), ' '))) AS ndis,
         (length(text) - length(replace(text, ' the ', ''))) // 5 AS nthe
  FROM documents
)
SELECT doc_id,
       CAST(
         CASE WHEN ntok < 50 THEN 1 ELSE 0 END
       + CASE WHEN n < 3 * ntok OR n > 10 * ntok THEN 2 ELSE 0 END
       + CASE WHEN (ntok - ndis) * 10 > 6 * ntok THEN 4 ELSE 0 END
       + CASE WHEN nthe * 200 < ntok THEN 8 ELSE 0 END
       AS INTEGER) AS flags,
       CASE WHEN ntok >= 50 AND n >= 3 * ntok AND n <= 10 * ntok
             AND (ntok - ndis) * 10 <= 6 * ntok AND nthe * 200 >= ntok
            THEN TRUE ELSE FALSE END AS keep
FROM b
"""


@_register("t20_quality_filter", _T20_ORACLE)
def t20_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality filter (the C4/Gopher-rule shape): four
    independent signals — too short, average token length out of band,
    duplicate-word fraction over 60%, stopword ratio under 0.5% — combined
    into a reason bitmask plus the final keep verdict.  Every comparison is
    integer cross-multiplication (no ratio ever becomes a double), so the
    two engines agree exactly.  One scan, no shuffle, pure codegen — at
    100 TB this runs at I/O speed and the keep column prunes the corpus for
    every downstream stage."""
    t = F.trim(F.col("text"))
    ntok = F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    b = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("n"),
        ntok.alias("ntok"),
        F.size(F.array_distinct(F.split(t, " "))).alias("ndis"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", " the ", "")))
            / F.lit(5)
        ).cast("bigint").alias("nthe"),
    )
    short = F.col("ntok") < 50
    avg_bad = (F.col("n") < 3 * F.col("ntok")) | (F.col("n") > 10 * F.col("ntok"))
    rep_bad = (F.col("ntok") - F.col("ndis")) * 10 > 6 * F.col("ntok")
    stop_bad = F.col("nthe") * 200 < F.col("ntok")
    flags = (
        F.when(short, 1).otherwise(0)
        + F.when(avg_bad, 2).otherwise(0)
        + F.when(rep_bad, 4).otherwise(0)
        + F.when(stop_bad, 8).otherwise(0)
    )
    return b.select(
        "doc_id",
        flags.cast("int").alias("flags"),
        (~short & ~avg_bad & ~rep_bad & ~stop_bad).alias("keep"),
    )


_T21_ORACLE = f"""
WITH h AS (SELECT doc_id, {h60_sql("CAST(doc_id AS VARCHAR)")} AS hh
           FROM documents)
SELECT doc_id,
       CAST(hh % 64 AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY hh % 64 ORDER BY hh, doc_id)
            AS BIGINT) AS pos
FROM h
"""


@_register("t21_shard_assign", _T21_ORACLE)
def t21_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + shard assignment: every document gets
    a content-stable shard (h60(doc_id) mod 64) and a reproducible position
    within its shard (hash order) — the "global shuffle" a training run
    needs, with NO RNG: re-running on any partitioning of any engine yields
    the identical shard files.  Scale shape: one hash-partitioned shuffle
    into 64 shards, each sorted independently (Spark's external sort spills;
    the hash key is uniform so no shard skews).  This is exactly the plan
    ``df.repartition(64, shard).sortWithinPartitions(hash)`` produces for
    the write path; the row_number formulation keeps it oracle-checkable."""
    h = load_table(spark, sf_dir, "documents").select(
        "doc_id", h60_col(F.col("doc_id").cast("string")).alias("hh")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.col("hh") % 64).orderBy("hh", "doc_id")
    return h.select(
        "doc_id",
        (F.col("hh") % 64).cast("int").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@_register("t22_heavy_hitters", _T22_ORACLE)
def t22_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group heavy hitters: the 3 most frequent tokens per language
    with deterministic ties (count desc, then token) — the vocabulary-audit
    twin of t14.  Scale shape: the (lang, token) count aggregates with
    map-side combine, and the per-group top-3 is a rank window over the
    ALREADY-AGGREGATED counts (vocab-sized, not corpus-sized input — the
    window sorts |vocab| rows per lang, never raw tokens)."""
    from pyspark.sql.window import Window

    tok = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w")
    )
    c = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    win = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("w"))
    return (
        c.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 3)
        .select("lang", F.col("w").alias("token"), "cnt", F.col("rank").cast("int"))
    )


_T23_ORACLE = """
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
g AS (SELECT DISTINCT doc_id, gram FROM (
      SELECT doc_id,
             unnest([array_to_string(tk[i:i+3], ' ')
                     FOR i IN generate_series(1, len(tk) - 3)]) AS gram
      FROM tok WHERE len(tk) >= 4) z),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 23 = 0),
bad AS (SELECT DISTINCT g.doc_id FROM g JOIN b USING (gram)
        WHERE g.doc_id % 23 != 0)
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.doc_id % 23 != 0
  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
"""


@_register("t23_decontaminate", _T23_ORACLE)
def t23_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by exclusion: the corpus MINUS the held-out set and
    MINUS every document t15 flags as sharing a 4-gram with it — the
    LEFT ANTI join (an operator family the rest of the registry doesn't
    exercise).  Scale shape: the flagged-id set is dedup-aggregated before
    the anti join, so the join's build side holds one id per contaminated
    doc; at 100 TB the anti join is the standard hash anti-join on a
    broadcast or id-bucketed build side."""
    bad = t15_contamination(spark, sf_dir).select("doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 23 != 0)
        .join(bad, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )


_T24_ORACLE = """
WITH p AS (SELECT doc_id, substr(trim(text), 1, 24) AS pre FROM documents),
j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             levenshtein(a.pre, b.pre) AS edit_dist
      FROM p a JOIN p b
        ON substr(a.pre, 1, 8) = substr(b.pre, 1, 8) AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(edit_dist AS INTEGER) AS edit_dist
FROM j WHERE edit_dist <= 8
"""


@_register("t24_fuzzy_match", _T24_ORACLE)
def t24_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy prefix matching: document pairs whose 24-char prefixes are
    within edit distance 8, candidates blocked on a shared 8-char prefix —
    the classic blocking + edit-distance record-linkage shape.  Edit
    distance is an exact integer metric (identical in every correct
    implementation, so the cross-engine gate is deterministic), and it
    runs ONLY on blocked candidate pairs: the join key is the 8-char
    block, never a cross join.  At 100 TB blocking keys shuffle hash-join
    style and the DP cost is bounded by 24×24 per candidate pair."""
    p = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.trim(F.col("text")), 1, 24).alias("pre")
    ).withColumn("blk", F.substring("pre", 1, 8))
    a = p.select(F.col("doc_id").alias("id_a"), F.col("pre").alias("pa"), "blk")
    b = p.select(F.col("doc_id").alias("id_b"), F.col("pre").alias("pb"), "blk")
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.levenshtein("pa", "pb").cast("int").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 8)
    )


_T25_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
ch AS (SELECT doc_id,
              {h60_sql("array_to_string(ts[p * 10 + 1 : p * 10 + 10], ' ')")}
                AS chunk_h60
       FROM tok, unnest(range(len(ts) // 10)) t(p)),
g AS (SELECT chunk_h60, count(*) AS n_docs, min(doc_id) AS keeper
      FROM ch GROUP BY chunk_h60)
SELECT chunk_h60, CAST(n_docs AS BIGINT) AS n_docs, keeper
FROM g WHERE n_docs > 1
"""


@_register("t25_chunk_dedup", _T25_ORACLE)
def t25_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granularity exact dedup (the Spark-shaped variant of
    suffix-array substring dedup, Lee et al. 2022): each document splits
    into non-overlapping 10-token chunks, and every chunk appearing in
    more than one document surfaces with its occurrence count and keeper
    (minimum doc_id).  Document-level dedup misses boilerplate shared
    across otherwise-distinct pages; chunk granularity catches it.  Scale
    shape: chunks hash to 60-bit keys BEFORE the shuffle (longs, never
    the chunk text), one partially-aggregated groupBy — the same bucketed
    contract as the fingerprint family."""
    toks = F.split(F.trim(F.col("text")), " ")
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("__ts"))
        .withColumn("__nc", (F.size("__ts") / 10).cast("int"))
        .where(F.col("__nc") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("p"),
            "__ts",
        )
        .select(
            "doc_id",
            h60_col(
                F.concat_ws(" ", F.slice("__ts", F.col("p") * 10 + 1, 10))
            ).alias("chunk_h60"),
        )
    )
    return (
        d.groupBy("chunk_h60")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("n_docs") > 1)
    )


#: lift = (c_sw · N) / (C_w · n_s): how over-represented word w is in
#: source s vs the whole corpus.  Both products stay far below 2^53, so
#: the double quotient is one correctly-rounded IEEE op — identical in
#: both engines — and the (lift, word) ordering is deterministic.
_T26_ORACLE = """
WITH tok AS (SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS w
             FROM documents),
sw AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY source, w),
s AS (SELECT source, sum(c_sw) AS n_s FROM sw GROUP BY source),
cw AS (SELECT w, sum(c_sw) AS c_w FROM sw GROUP BY w),
tot AS (SELECT sum(c_sw) AS n FROM sw),
lift AS (SELECT sw.source, sw.w,
                CAST(sw.c_sw * tot.n AS DOUBLE)
                / CAST(cw.c_w * s.n_s AS DOUBLE) AS lf
         FROM sw JOIN s USING (source) JOIN cw USING (w) CROSS JOIN tot
         WHERE sw.c_sw >= 5),
r AS (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY lf DESC, w) AS rn
      FROM lift)
SELECT source, w AS token, CAST(rn AS INTEGER) AS rank,
       CAST(floor(lf * 1000000e0 + 0.5e0) AS BIGINT) AS lift_e6
FROM r WHERE rn <= 3
"""


@_register("t26_source_lift", _T26_ORACLE)
def t26_source_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source by LIFT (relative over-
    representation vs the whole corpus, min support 5) — the corpus-
    diagnostics twin of t22's raw heavy hitters: a token can top a
    source's counts while being globally common; lift surfaces what makes
    the source DIFFERENT (domain drift, template contamination).  Scale
    shape: one (source, word) partial-aggregated shuffle; the global
    word-frequency dim joins back broadcast-style (Zipf: vocab ≪ corpus);
    the top-3 window reuses the source partitioning."""
    from pyspark.sql.window import Window

    tok = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    # NO barrier on sw (r12 interleaved A/B: 0.54 vs 0.53 s — a wash):
    # the (source, word) exchange already serves as the reuse point for
    # 2 of the 4 reader arms, and the rest are post-combine small
    sw = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_sw"))
    s = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    cw = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    n = sw.agg(F.sum("c_sw").alias("n"))
    lift = (
        sw.where(F.col("c_sw") >= 5)
        .join(s, "source")
        .join(F.broadcast(cw), "w")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lf",
            (F.col("c_sw") * F.col("n")).cast("double")
            / (F.col("c_w") * F.col("n_s")).cast("double"),
        )
    )
    w_rank = Window.partitionBy("source").orderBy(F.col("lf").desc(), "w")
    return (
        lift.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rank") <= 3)
        .select(
            "source",
            F.col("w").alias("token"),
            "rank",
            F.expr("CAST(floor(lf * 1000000e0 + 0.5e0) AS BIGINT)").alias(
                "lift_e6"
            ),
        )
    )


_T27_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
tri AS (SELECT DISTINCT doc_id,
               {h60_sql("array_to_string(ts[i : i + 2], ' ')")} AS g
        FROM tok, unnest(range(1, len(ts) - 1)) t(i)),
mn AS (SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY g),
per AS (SELECT tri.doc_id, count(*) AS total,
               sum(CASE WHEN mn.first_doc = tri.doc_id THEN 1 ELSE 0 END)
                 AS novel
        FROM tri JOIN mn USING (g) GROUP BY tri.doc_id)
SELECT doc_id, CAST(total AS BIGINT) AS n_grams,
       CAST((novel * 1000000) // total AS BIGINT) AS novel_e6
FROM per
"""


@_register("t27_novelty", _T27_ORACLE)
def t27_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    trigrams whose FIRST appearance (minimum doc_id over the corpus) is
    this document — the contribution-scoring signal that ranks documents
    by how much genuinely new content they add (near-zero novelty ⇒ the
    doc is assembled from already-seen text; the streaming cousin of
    dedup).  Scale shape: trigrams hash to 60-bit longs before ANY
    shuffle; one global min-aggregation (map-side combined) plus one
    hash-keyed join back — never a string shuffle, never all-pairs.
    Non-negative counts make `div` and the oracle's `//` identical."""
    toks = F.split(F.trim(F.col("text")), " ")
    tri = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("__ts"))
        .where(F.size("__ts") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("__ts") - 2)
            ).alias("i"),
            "__ts",
        )
        .select(
            "doc_id",
            h60_col(F.concat_ws(" ", F.slice("__ts", F.col("i"), 3))).alias("g"),
        )
        .distinct()
        # two readers (first-appearance min, the novelty join) — barrier
        # so the trigram explode + md5 run once (r12 audit: no reuse)
        .transform(_compat_barrier())
    )
    mn = tri.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        tri.join(mn, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("__novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.expr("CAST((__novel * 1000000) div n_grams AS BIGINT)").alias(
                "novel_e6"
            ),
        )
    )


#: The documents table is synthetic word-soup with no real PII, so the
#: query plants deterministic PII (an email + a phone, derived from doc_id
#: by the same integer arithmetic in both engines) before scrubbing — the
#: scrub then provably matches something, and the h60 of the cleaned text
#: pins byte-identical redaction across engines.
_T28_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_T28_PHONE_RE = "\\d{3}-\\d{4}"

_T28_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail' || CAST(doc_id % 7 AS VARCHAR)
              || '.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS t
  FROM documents),
scrub AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{_T28_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(t, '{_T28_PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(t, '{_T28_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_T28_PHONE_RE}', '<PHONE>', 'g') AS clean
  FROM aug)
SELECT doc_id, CAST(n_emails AS INTEGER) AS n_emails,
       CAST(n_phones AS INTEGER) AS n_phones,
       CAST(len(clean) AS BIGINT) AS clean_len,
       {h60_sql("clean")} AS clean_h60
FROM scrub
"""


@_register("t28_pii_scrub", _T28_ORACLE)
def t28_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and replace email/phone patterns, emit the
    cleaned length and a 60-bit hash of the cleaned text (so the oracle
    verifies the redacted BYTES, not just the counts).  Both regex
    dialects here are the common Java-regex ∩ RE2 subset — char classes,
    bounded repetition — so Spark and DuckDB scrub identically.  Scale
    shape: pure per-row narrow map, no shuffle at all; regexp_replace and
    md5 run inside whole-stage codegen at I/O speed, the shape any
    corpus-hygiene pass needs at 100 TB."""
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(aug, _T28_EMAIL_RE, "<EMAIL>"),
        _T28_PHONE_RE,
        "<PHONE>",
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", aug.alias("__t"), clean.alias("__clean"))
        .select(
            "doc_id",
            F.regexp_count(F.col("__t"), F.lit(_T28_EMAIL_RE))
            .cast("int")
            .alias("n_emails"),
            F.regexp_count(F.col("__t"), F.lit(_T28_PHONE_RE))
            .cast("int")
            .alias("n_phones"),
            F.length("__clean").cast("bigint").alias("clean_len"),
            h60_col(F.col("__clean")).alias("clean_h60"),
        )
    )


_T29_ORACLE = """
WITH tok AS (SELECT string_split(trim(text), ' ') AS ts FROM documents),
pr AS (SELECT array_to_string(ts[i : i + 1], ' ') AS pair
       FROM tok, unnest(range(1, len(ts))) t(i)
       WHERE len(ts) >= 2),
c AS (SELECT pair, count(*) AS cnt FROM pr GROUP BY pair),
r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, pair) AS rn FROM c)
SELECT pair, CAST(cnt AS BIGINT) AS cnt, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= 20
"""


@_register("t29_bpe_pairs", _T29_ORACLE)
def t29_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent token pairs by corpus frequency — one merge round
    of BPE tokenizer training (the counting step IS the algorithm; the
    merge just rewrites and recounts).  Scale shape: pair counting is
    map-side combined, so the shuffle carries one row per DISTINCT pair
    (Zipf: vocab² bound, corpus-size independent), and the top-20 is
    ORDER BY + LIMIT — Spark's TakeOrderedAndProject, a per-partition
    top-k merged at the driver, so even a billion-pair vocab never
    funnels through one rank-window reducer.  Ties break on the pair
    string, deterministically in both engines (ASCII tokens, binary
    collation)."""
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.col("text")), " ")
    pairs = (
        load_table(spark, sf_dir, "documents")
        .select(toks.alias("__ts"))
        .where(F.size("__ts") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("__ts") - 1)).alias("i"),
            "__ts",
        )
        .select(F.concat_ws(" ", F.slice("__ts", F.col("i"), 2)).alias("pair"))
    )
    c = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    top = c.orderBy(F.col("cnt").desc(), "pair").limit(20)
    # rank assignment runs over exactly 20 rows — the window is trivial
    w = Window.orderBy(F.col("cnt").desc(), "pair")
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "pair", "cnt", "rank"
    )

_T30_ORACLE = f"""
WITH tok AS (SELECT source, string_split(trim(text), ' ') AS ts FROM documents),
tri AS (SELECT DISTINCT source,
               {h60_sql("array_to_string(ts[i : i + 2], ' ')")} AS g
        FROM tok, unnest(range(1, len(ts) - 1)) t(i)),
ex AS (SELECT source, count(*) AS n_exact FROM tri GROUP BY source),
rk AS (SELECT source, g, row_number() OVER (PARTITION BY source ORDER BY g)
                AS rn
       FROM tri),
kth AS (SELECT source, g >> 7 AS hk53 FROM rk WHERE rn = {_KMV_K}),
est AS (SELECT source,
               ({_KMV_K} - 1) * 9007199254740992 // hk53 AS est_kmv
        FROM kth)
SELECT ex.source, CAST(ex.n_exact AS BIGINT) AS n_exact,
       CAST(est.est_kmv AS BIGINT) AS est_kmv,
       CAST(abs(est.est_kmv - ex.n_exact) * 10000 // ex.n_exact AS BIGINT)
         AS err_e4
FROM ex JOIN est USING (source)
"""


@_register("t30_kmv_distinct", _T30_ORACLE)
def t30_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SKETCH: per-source trigram cardinality estimated by
    KMV (k-minimum-values — est = (k−1)·2^53 / kth-smallest 53-bit hash),
    emitted alongside the exact count and the relative error, so the
    oracle verifies the sketch math AND the fixture documents its
    accuracy.  Unlike HLL (whose register estimate needs engine-specific
    float log/pow), KMV is pure integer arithmetic end-to-end — the
    sketch family that stays oracle-exact.  Scale shape: trigrams hash to
    longs before the distinct shuffle (strings never move); KMV state is
    k longs per group and merges by keeping the k smallest — at cluster
    scale a partial top-k aggregator; here the per-source rank window
    runs over already-distinct hashes.  Non-negative everything makes
    `div` and `//` identical."""
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.col("text")), " ")
    tri = (
        load_table(spark, sf_dir, "documents")
        .select("source", toks.alias("__ts"))
        .where(F.size("__ts") >= 3)
        .select(
            "source",
            F.explode(F.sequence(F.lit(1), F.size("__ts") - 2)).alias("i"),
            "__ts",
        )
        .select(
            "source",
            h60_col(F.concat_ws(" ", F.slice("__ts", F.col("i"), 3))).alias("g"),
        )
        .distinct()
    )
    ex = tri.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.partitionBy("source").orderBy("g")
    kth = (
        tri.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == _KMV_K)
        .select("source", F.expr("g >> 7").alias("hk53"))
    )
    est = kth.select(
        "source",
        F.expr(f"({_KMV_K} - 1) * 9007199254740992 div hk53").alias("est_kmv"),
    )
    # est is one row per group — broadcast it instead of shuffling ex
    return ex.join(F.broadcast(est), "source").select(
        "source",
        "n_exact",
        "est_kmv",
        F.expr("CAST(abs(est_kmv - n_exact) * 10000 div n_exact AS BIGINT)").alias(
            "err_e4"
        ),
    )


@_register("t31_bloom_decontaminate", _T23_ORACLE)
def t31_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t23's decontamination with a BLOOM pre-filter ahead of the exact
    join — the standard 100 TB pruning move: a 128 KiB bitmap of the
    held-out set's gram positions broadcasts everywhere and drops the vast
    majority of corpus grams BEFORE any join; survivors (real matches +
    ~1% false positives) confirm against the exact gram set, so the result
    is identical to t23 by construction (same oracle).  At scale the
    bitmap is O(m) bytes regardless of corpus size, while the join's probe
    volume shrinks by the filter's selectivity — the win the exact-only
    t23 plan leaves on the table.  See ``operators/bloom.py``."""
    from spark_ml_spatialjointransformer_spark.operators.bloom import (
        bloom_member_col,
    )

    g = _doc_grams4(spark, sf_dir)  # t15's gram convention, one definition
    # build side = held-out grams: small by contract (t15's broadcast
    # bound); the ONE collect feeds both the bitmap build and the exact
    # confirm side (re-deriving the bench DataFrame would re-run its scan
    # and explode a second time)
    hashes = [
        r[0]
        for r in g.where(F.col("doc_id") % 23 == 0)
        .select("__gh")
        .distinct()
        .collect()
    ]
    member = bloom_member_col(spark, hashes)
    bench = spark.createDataFrame([(h,) for h in hashes], "__gh long")
    cand = (
        g.where(F.col("doc_id") % 23 != 0)
        .where(member(F.col("__gh")))  # bloom prune: no shuffle yet
    )
    bad = (
        cand.join(F.broadcast(bench), "__gh")  # exact confirm kills FPs
        .select("doc_id")
        .distinct()
    )
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 23 != 0)
        .join(bad, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )


_T32_ORACLE = f"""
WITH fp AS (SELECT doc_id, lang,
                   {h60_sql("array_to_string(list_sort(string_split(trim(text), ' ')), ' ')")}
                     AS f
            FROM documents),
corpus AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 <> 0)
SELECT b.doc_id, b.lang, c.f IS NOT NULL AS is_known
FROM (SELECT * FROM fp WHERE doc_id % 3 = 0) b
LEFT JOIN corpus c ON c.f = b.f
"""


@_register("t32_incremental_dedup", _T32_ORACLE)
def t32_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: an incoming batch (doc_id % 3 == 0 stands
    in for today's crawl) checks its token-multiset fingerprints against
    the ALREADY-INGESTED corpus's distinct fingerprint set — the
    every-ingestion-cycle shape that t2 (full-corpus groupBy) and t23
    (gram anti-join) don't cover: membership against accumulated state.
    Scale shape: only 8-byte fingerprints shuffle (text never moves); the
    corpus side dedups to distinct fingerprints BEFORE the join, and in
    production that distinct set is the persisted fingerprint store the
    t31 Bloom bitmap fronts.  Marking (not dropping) keeps the decision
    auditable."""
    # array_join, NOT concat_ws: concat_ws maps a NULL text to '' while
    # the oracle's array_to_string NULL-propagates — array_join matches it
    fp = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        h60_col(
            F.array_join(F.array_sort(F.split(F.trim(F.col("text")), " ")), " ")
        ).alias("f"),
    )
    corpus = fp.where(F.col("doc_id") % 3 != 0).select("f").distinct()
    batch = fp.where(F.col("doc_id") % 3 == 0)
    return (
        batch.join(
            corpus.withColumn("__hit", F.lit(True)), "f", "left"
        )
        .select(
            "doc_id",
            "lang",
            F.coalesce("__hit", F.lit(False)).alias("is_known"),
        )
    )


_T33_ORACLE = f"""
WITH w AS (SELECT doc_id,
                  least(1 + n_chars // 400, 8) AS wt
           FROM documents),
c AS (SELECT doc_id, wt, unnest(generate_series(1, wt)) AS i FROM w),
p AS (SELECT doc_id, wt,
             min({h60_sql("CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)")})
               AS priority
      FROM c GROUP BY doc_id, wt),
r AS (SELECT *, row_number() OVER (ORDER BY priority, doc_id) AS rn FROM p)
SELECT doc_id, CAST(wt AS BIGINT) AS wt, priority
FROM r WHERE rn <= 200
"""


@_register("t33_weighted_sample", _T33_ORACLE)
def t33_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (discretized
    A-Res): each document gets an integer weight (here length-derived,
    1–8), draws that many hash keys, and keeps its MINIMUM — more weight
    ⇒ smaller expected minimum ⇒ proportionally higher selection odds —
    then the global 200 smallest priorities win.  Fully deterministic
    (content-hash priorities, ties by doc_id), so reruns and engines
    agree exactly, unlike rand()-based weighted sampling.  Scale shape:
    the explode factor is the weight cap (≤8); the per-doc min aggregates
    map-side, and the global top-k is a TakeOrderedAndProject — no full
    sort, no per-group windows."""
    w = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(
            F.lit(1) + F.expr("n_chars div 400"), F.lit(8)
        ).alias("wt"),
    )
    pri = (
        w.select(
            "doc_id", "wt", F.explode(F.sequence(F.lit(1), F.col("wt"))).alias("i")
        )
        .select(
            "doc_id",
            "wt",
            h60_col(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("#"),
                    F.col("i").cast("string"),
                )
            ).alias("k"),
        )
        .groupBy("doc_id", "wt")
        .agg(F.min("k").alias("priority"))
    )
    return (
        pri.orderBy("priority", "doc_id")
        .limit(200)
        .select("doc_id", F.col("wt").cast("bigint").alias("wt"), "priority")
    )


#: t36's oracle reads the ORIGINAL parquet — the roundtrip must be
#: byte-lossless, so hashing the re-imported text against the source
#: is the whole check.
_T36_ORACLE = f"""
SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_len,
       {h60_sql('text')} AS text_h60
FROM documents
"""


@_register("t36_jsonl_roundtrip", _T36_ORACLE)
def t36_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format fidelity: export the documents table as JSON
    Lines (the corpus-exchange format every training-data pipeline ships
    through) and RE-IMPORT it with an explicit schema; the output hashes
    the re-imported text, while the oracle hashes the ORIGINAL parquet —
    so any escaping, unicode, or null-vs-missing loss in the
    writer→reader path breaks the value hash.  Scale shape: the
    export/import is embarrassingly parallel (per-partition files, no
    shuffle, no driver data); explicit read schema because schema
    inference is a full extra pass over the data at 100 TB."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    out_dir = scratch_dir(
        spark, "sjt_t36_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    docs.write.mode("overwrite").json(out_dir)
    back = spark.read.schema(docs.schema).json(out_dir)
    return back.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("text_len"),
        h60_col(F.col("text")).alias("text_h60"),
    )


_T34_ORACLE = """
WITH tok AS (SELECT string_split(trim(text), ' ') AS ts FROM documents),
uni AS (SELECT unnest(ts) AS w FROM tok),
ug AS (SELECT w, count(*) AS n_w FROM uni GROUP BY w),
nu AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_uni FROM ug),
bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
       FROM tok, unnest(range(1, len(ts))) t(i)
       WHERE len(ts) >= 2),
bgc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY w1, w2),
nb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM bgc),
sc AS (SELECT w1, w2, n_ab,
              CAST(((((n_ab * 10000 * n_uni) // a.n_w) * n_uni) // b.n_w)
                   // n_bi AS BIGINT) AS pmi_e4
       FROM bgc
       JOIN ug a ON bgc.w1 = a.w
       JOIN ug b ON bgc.w2 = b.w
       CROSS JOIN nu CROSS JOIN nb
       WHERE n_ab >= 5),
r AS (SELECT *, row_number() OVER (ORDER BY pmi_e4 DESC, w1, w2) AS rn
      FROM sc)
SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab, pmi_e4,
       CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= 20
"""


@_register("t34_pmi_collocations", _T34_ORACLE)
def t34_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information — the
    corpus-statistics pass that finds multi-word expressions for
    tokenizer/vocab construction (Church & Hanks 1990's association
    ratio).  The PMI ratio n_ab·N_u²/(N_b·n_a·n_b) is computed as STAGED
    non-negative integer divisions in a fixed order — not a float log —
    so both engines produce bit-identical scores (the monotone argument
    of log orders identically; intermediates stay under 2^63 because
    n_ab ≤ n_a bounds the first quotient by 10⁴·N_u).  Scale shape:
    unigram and bigram counting are map-side-combined groupBys (shuffle
    carries one row per DISTINCT gram — Zipf-bounded); attaching n_a/n_b
    shuffles bgc on the word keys (vocabulary is NOT broadcast — at
    corpus scale vocab outgrows a broadcast long before bigrams do); the
    two 1-row totals broadcast; the final top-20 is orderBy+limit —
    TakeOrderedAndProject, never a global sort."""
    toks = F.split(F.trim(F.col("text")), " ")
    docs = load_table(spark, sf_dir, "documents").select(toks.alias("__ts"))
    uni = docs.select(F.explode("__ts").alias("w"))
    ug = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    nu = ug.agg(F.sum("n_w").cast("bigint").alias("n_uni"))
    bg = (
        docs.where(F.size("__ts") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("__ts") - 1)).alias("i"),
            "__ts",
        )
        .select(
            F.element_at("__ts", F.col("i")).alias("w1"),
            F.element_at("__ts", F.col("i") + 1).alias("w2"),
        )
    )
    # NO barrier on ug/bgc (r12 measured 0.61 -> 0.70 s WITH them): at
    # this query's size the extra materializations cost more than the
    # duplicated subtrees they would save
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    nb = bgc.agg(F.sum("n_ab").cast("bigint").alias("n_bi"))
    sc = (
        bgc.where(F.col("n_ab") >= 5)
        .join(ug.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")), "w1")
        .join(ug.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .withColumn(
            "pmi_e4",
            F.expr(
                "CAST(((((n_ab * 10000 * n_uni) div n_a) * n_uni) div n_b)"
                " div n_bi AS BIGINT)"
            ),
        )
    )
    top = sc.orderBy(F.col("pmi_e4").desc(), "w1", "w2").limit(20)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("pmi_e4").desc(), "w1", "w2")
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "w1", "w2", F.col("n_ab").cast("bigint").alias("n_ab"), "pmi_e4", "rank"
    )


_T35_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
sh0 AS (SELECT doc_id,
               {h60_sql("array_to_string(ts[i : i + 4], ' ')")} AS g
        FROM tok, unnest(range(1, len(ts) - 3)) t(i)
        WHERE len(ts) >= 5),
sh AS (SELECT DISTINCT doc_id, g FROM sh0),
df AS (SELECT g, count(*) AS n_docs FROM sh GROUP BY g),
keep AS (SELECT sh.doc_id, sh.g FROM sh JOIN df USING (g)
         WHERE df.n_docs <= 50),
sz AS (SELECT doc_id, count(*) AS n_sh FROM keep GROUP BY doc_id),
pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
c AS (SELECT doc_a, doc_b, inter,
             CAST(greatest(inter * 10000 // sa.n_sh,
                           inter * 10000 // sb.n_sh) AS BIGINT) AS cont_e4
      FROM pr
      JOIN sz sa ON pr.doc_a = sa.doc_id
      JOIN sz sb ON pr.doc_b = sb.doc_id)
SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter, cont_e4
FROM c WHERE cont_e4 >= 8000
"""


@_register("t35_containment_dedup", _T35_ORACLE)
def t35_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-duplicate detection by shingle containment
    |A∩B|/min-side — catches a document swallowed whole inside a larger
    one, which symmetric Jaccard (t5/t6) scores low because the union is
    dominated by the host document (Broder 1997 distinguishes resemblance
    from containment for exactly this case).  Pairs with ≥80% of either
    side's 5-gram shingles shared are flagged.  Scale shape: shingles
    hash to h60 longs before anything shuffles (text never moves); the
    pair generation is a bucketed self-join on the shingle hash with the
    STOP-SHINGLE prune (shingles in > 50 docs are dropped on BOTH sides
    — boilerplate grams otherwise explode the join quadratically, the
    same reason t6 bands its signatures); containment then divides by the
    post-prune set sizes, identically in both engines (non-negative
    staged integer division)."""
    toks = F.split(F.trim(F.col("text")), " ")
    sh = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("__ts"))
        .where(F.size("__ts") >= 5)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("__ts") - 4)).alias("i"),
            "__ts",
        )
        .select(
            "doc_id",
            h60_col(F.concat_ws(" ", F.slice("__ts", F.col("i"), 5))).alias("g"),
        )
        .distinct()
    )
    from pyspark.sql.window import Window

    df_ = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    # per-doc post-prune size rides the shingle rows via a window instead
    # of a separate aggregate+join arm; the barrier materializes the
    # pruned-shingle frame ONCE for the two self-join sides below — the
    # r12 runtime audit showed Spark's exchange reuse recovering only ONE
    # of the duplicated subtree's exchanges (the window shuffle), so
    # without it the full shingle derivation (text scan + explode + hash
    # + distinct) executed twice (A/B: 1.65 -> 1.51 s at sf0.1, rows
    # identical; at scale the second featurization pass is the real cost)
    from spark_ml_spatialjointransformer_spark.operators._compat import (
        barrier as _barrier,
    )

    keep = (
        sh.join(df_.where(F.col("n_docs") <= 50), "g")
        .select("doc_id", "g")
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .transform(_barrier)
    )
    a = keep.select(F.col("doc_id").alias("doc_a"), "g",
                    F.col("n_sh").alias("n_a"))
    b = keep.select(F.col("doc_id").alias("doc_b"), "g",
                    F.col("n_sh").alias("n_b"))
    return (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "cont_e4",
            F.expr(
                "CAST(greatest(inter * 10000 div n_a,"
                " inter * 10000 div n_b) AS BIGINT)"
            ),
        )
        .where(F.col("cont_e4") >= 8000)
        .select("doc_a", "doc_b",
                F.col("inter").cast("bigint").alias("inter"), "cont_e4")
    )


#: t37: a chunk is corpus boilerplate when it appears verbatim in ≥ this
#: many distinct documents (the C4/CCNet line-dedup threshold)
_T37_MIN_DOCS = 3
_T37_CHUNK = 8

_T37_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
ch AS (SELECT doc_id, i AS idx,
              array_to_string(tk[{_T37_CHUNK}*i+1 : {_T37_CHUNK}*i+{_T37_CHUNK}],
                              ' ') AS chunk
       FROM tok, unnest(range(CAST(ceil(len(tk) / {_T37_CHUNK}.0) AS BIGINT)))
            t(i)),
fr AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk),
j AS (SELECT c.doc_id, c.idx, c.chunk, fr.nd >= {_T37_MIN_DOCS} AS boiler
      FROM ch c JOIN fr USING (chunk))
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(count(*) FILTER (boiler) AS BIGINT) AS n_removed,
       {h60_sql("coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (NOT boiler), '')")}
         AS clean_h60
FROM j GROUP BY doc_id
"""


@_register("t37_line_dedup", _T37_ORACLE)
def t37_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line deduplication (the C4/CCNet cleaning step): any
    8-word chunk that appears verbatim in ≥ 3 distinct documents is
    boilerplate — strip every occurrence and hash each document's
    cleaned text.  The whole-corpus frequency pass is what distinguishes
    this from per-doc repetition (t16): a chunk is judged against every
    other document.  Scale shape: documents shed their text immediately
    — only (doc_id, chunk_idx, 60-bit chunk hash) rows enter the
    frequency aggregation and the boilerplate join, and the cleaned text
    is REBUILT per doc from the token array by index filter (JVM
    higher-order functions), so full text never shuffles; the removed-
    index sets ride a doc_id-keyed join, and boilerplate is by
    definition the rare tail."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("__tk")
    )
    k = _T37_CHUNK
    chunk_at = (
        f"transform(sequence(0, CAST((size(__tk) + {k - 1}) div {k} AS INT) - 1),"
        f" i -> concat_ws(' ', slice(__tk, i * {k} + 1, {k})))"
    )
    # two readers (frequency pass, removed-index join) — barrier so the
    # chunking + per-chunk md5 run once (r12 audit: no reuse)
    chunks = docs.select(
        "doc_id",
        F.posexplode(F.expr(chunk_at)).alias("idx", "__chunk"),
    ).select("doc_id", "idx", h60_col(F.col("__chunk")).alias("h")).transform(
        _compat_barrier()
    )
    freq = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= _T37_MIN_DOCS)
        .select("h")
    )
    removed = (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("idx")).alias("rm"))
    )
    out = docs.join(removed, "doc_id", "left").withColumn(
        "rm", F.coalesce("rm", F.expr("CAST(array() AS ARRAY<INT>)"))
    )
    clean = (
        f"concat_ws(' ', filter({chunk_at}, (c, i) -> NOT array_contains(rm, i)))"
    )
    return out.select(
        "doc_id",
        F.expr(f"CAST((size(__tk) + {k - 1}) div {k} AS BIGINT)").alias(
            "n_chunks"
        ),
        F.size("rm").cast("bigint").alias("n_removed"),
        h60_col(F.expr(clean)).alias("clean_h60"),
    )


#: t38 HLL geometry: 256 buckets (low 8 hash bits), rank from the next 52
#: bits, registers capped at 40 so the 2^(40-r) summands stay integer and
#: their 256-bucket sum stays < 2^49.  alpha_256 = 0.7213/(1+1.079/256),
#: scaled e4.
_HLL_M = 256
_HLL_RCAP = 40
_HLL_ALPHA_E4 = 7183

_T38_ORACLE = f"""
WITH h AS (SELECT DISTINCT event_type,
                  {h60_sql("CAST(user_id AS VARCHAR)")} AS hv
           FROM events),
r AS (SELECT event_type, hv % {_HLL_M} AS bucket,
             CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RCAP}
                  ELSE least(bit_count(((hv // {_HLL_M}) & -(hv // {_HLL_M})) - 1)
                             + 1, {_HLL_RCAP}) END AS rho
      FROM h),
reg AS (SELECT event_type, bucket, max(rho) AS r
        FROM r GROUP BY event_type, bucket),
s AS (SELECT event_type, count(*) AS nb,
             sum(CAST(1 AS BIGINT) << ({_HLL_RCAP} - r)) AS s_present
      FROM reg GROUP BY event_type),
est AS (SELECT event_type, {_HLL_M} - nb AS nz,
               (CAST({_HLL_M * _HLL_M} AS BIGINT) << {_HLL_RCAP})
                 // (s_present + ({_HLL_M} - nb)
                     * (CAST(1 AS BIGINT) << {_HLL_RCAP})) AS e1
        FROM s),
fin AS (SELECT event_type,
               CASE WHEN nz > 0 AND 2 * (e1 * {_HLL_ALPHA_E4} // 10000)
                         <= 5 * {_HLL_M}
                    THEN CAST(round({_HLL_M} * ln({_HLL_M} / CAST(nz AS DOUBLE)))
                              AS BIGINT)
                    ELSE e1 * {_HLL_ALPHA_E4} // 10000 END AS est_hll
        FROM est),
ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events
       GROUP BY event_type)
SELECT ex.event_type, CAST(ex.n_exact AS BIGINT) AS n_exact,
       CAST(fin.est_hll AS BIGINT) AS est_hll,
       CAST(abs(fin.est_hll - ex.n_exact) * 10000 // ex.n_exact AS BIGINT)
         AS err_e4
FROM ex JOIN fin USING (event_type)
"""


@_register("t38_hll_distinct", _T38_ORACLE)
def t38_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch per event type, next to the exact
    count (t30's KMV sibling — HLL is the sketch that MERGES: registers
    are max-combinable across shards/days, the property KMV's k-th
    statistic lacks).  All integer: bucket = low 8 hash bits, rank =
    trailing-zero count of the remaining bits via bit_count((v&-v)-1)
    (JVM codegen, no loop), registers max-combined map-side, and the
    harmonic sum evaluates in fixed-point 2^(40-r) so the estimate is
    the same BIGINT in both engines; the standard linear-counting branch
    covers the small-n regime (its one ln() rounds to whole counts —
    ulp-safe).  Scale shape: the sketch agg shuffles at most
    |event_type|·256 register rows regardless of input size; the exact
    count runs beside it only to score err_e4."""
    ev = load_events(spark, sf_dir).select("event_type", "user_id")
    m, rcap, alpha = _HLL_M, _HLL_RCAP, _HLL_ALPHA_E4
    h = h60_col(F.col("user_id").cast("string"))
    v = F.expr(f"hv div {m}")
    rho = (
        F.when(v == 0, rcap)
        .otherwise(
            F.least(
                F.bit_count((v.bitwiseAND(-v)) - 1) + 1, F.lit(rcap)
            )
        )
        .alias("rho")
    )
    reg = (
        ev.select("event_type", h.alias("hv"))
        .select("event_type", F.expr(f"hv % {m}").alias("bucket"), rho)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    s = reg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rcap} - r)")).alias(
            "s_present"
        ),
    )
    est = s.select(
        "event_type",
        (F.lit(m) - F.col("nb")).alias("nz"),
        F.expr(
            f"shiftleft(CAST({m * m} AS BIGINT), {rcap})"
            f" div (s_present + ({m} - nb)"
            f"      * shiftleft(CAST(1 AS BIGINT), {rcap}))"
        ).alias("e1"),
    ).select(
        "event_type",
        F.when(
            (F.col("nz") > 0)
            & (2 * F.expr(f"e1 * {alpha} div 10000") <= 5 * m),
            F.expr(
                f"CAST(round({m} * ln({m} / CAST(nz AS DOUBLE))) AS BIGINT)"
            ),
        )
        .otherwise(F.expr(f"e1 * {alpha} div 10000"))
        .alias("est_hll"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return ex.join(F.broadcast(est), "event_type").select(
        "event_type",
        "n_exact",
        F.col("est_hll").cast("bigint").alias("est_hll"),
        F.expr(
            "CAST(abs(est_hll - n_exact) * 10000 div n_exact AS BIGINT)"
        ).alias("err_e4"),
    )


#: t39 window geometry: 40-token windows every 32 tokens (8-token overlap,
#: the RAG / long-context chunking convention); windows start while tokens
#: remain, so the tail window may be short but never empty.
_T39_WIN = 40
_T39_STRIDE = 32

_T39_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
w AS (SELECT doc_id, i AS window_id,
             tk[{_T39_STRIDE}*i+1 : {_T39_STRIDE}*i+{_T39_WIN}] AS win
      FROM tok, unnest(range((len(tk) - 1) // {_T39_STRIDE} + 1)) t(i))
SELECT doc_id, CAST(window_id AS BIGINT) AS window_id,
       CAST(len(win) AS BIGINT) AS n_tok,
       {h60_sql("array_to_string(win, ' ')")} AS win_h60
FROM w
"""


@_register("t39_sliding_chunks", _T39_ORACLE)
def t39_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking — the RAG / long-context prep
    step t13's back-to-back packing can't express: 40-token windows every
    32 tokens, so consecutive chunks share an 8-token overlap and no
    boundary sentence is ever lost to a hard cut.  Pure per-row JVM
    array work (sequence → slice → hash) exploding each document into
    its windows; zero shuffle, embarrassingly parallel, the content
    hash pins every window's exact text against the oracle's replay.
    At 100 TB this runs as a mapping over the scan with output ~1.25×
    input tokens — the overlap tax, visible and bounded."""
    k, s = _T39_WIN, _T39_STRIDE
    wins = (
        f"transform(sequence(0, CAST((size(__tk) - 1) div {s} AS INT)),"
        f" i -> slice(__tk, i * {s} + 1, {k}))"
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.trim(F.col("text")), " ").alias("__tk"))
        .select("doc_id", F.posexplode(F.expr(wins)).alias("window_id", "__w"))
        .select(
            "doc_id",
            F.col("window_id").cast("bigint").alias("window_id"),
            F.size("__w").cast("bigint").alias("n_tok"),
            h60_col(F.concat_ws(" ", F.col("__w"))).alias("win_h60"),
        )
    )


def _t40_registers_sql(src_filter: str) -> str:
    """DuckDB register table for events passing ``src_filter``."""
    h = h60_sql("CAST(user_id AS VARCHAR)")
    return f"""
SELECT event_type, hv % {_HLL_M} AS bucket, max(rho) AS r FROM (
  SELECT event_type, hv,
         CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RCAP}
              ELSE least(bit_count(((hv // {_HLL_M}) & -(hv // {_HLL_M})) - 1)
                         + 1, {_HLL_RCAP}) END AS rho
  FROM (SELECT event_type, {h} AS hv FROM events WHERE {src_filter}) x
) y GROUP BY 1, 2"""


_T40_EST_SQL = f"""
SELECT event_type,
       CASE WHEN ({_HLL_M} - nb) > 0
                 AND 2 * (e1 * {_HLL_ALPHA_E4} // 10000) <= 5 * {_HLL_M}
            THEN CAST(round({_HLL_M} * ln({_HLL_M}
                      / CAST({_HLL_M} - nb AS DOUBLE))) AS BIGINT)
            ELSE e1 * {_HLL_ALPHA_E4} // 10000 END AS est
FROM (SELECT event_type, count(*) AS nb,
             (CAST({_HLL_M * _HLL_M} AS BIGINT) << {_HLL_RCAP})
               // (sum(CAST(1 AS BIGINT) << ({_HLL_RCAP} - r))
                   + ({_HLL_M} - count(*))
                     * (CAST(1 AS BIGINT) << {_HLL_RCAP})) AS e1
      FROM REG GROUP BY event_type) s
"""

_T40_ORACLE = f"""
WITH ra AS ({_t40_registers_sql("epoch_us(ts) // 86400000000 % 2 = 0")}),
rb AS ({_t40_registers_sql("epoch_us(ts) // 86400000000 % 2 = 1")}),
merged AS (SELECT event_type, bucket, max(r) AS r
           FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) u
           GROUP BY 1, 2),
direct AS ({_t40_registers_sql("TRUE")}),
em AS ({_T40_EST_SQL.replace("REG", "merged")}),
ed AS ({_T40_EST_SQL.replace("REG", "direct")})
SELECT em.event_type, CAST(em.est AS BIGINT) AS est_merged,
       CAST(ed.est AS BIGINT) AS est_direct
FROM em JOIN ed USING (event_type)
"""


@_register("t40_hll_merge", _T40_ORACLE)
def t40_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL the sketch of record at scale, proven
    in-query: registers built on two disjoint day-parity SHARDS of the
    stream max-merge into exactly the whole-corpus sketch — est_merged
    must equal est_direct row for row (and the oracle hash-checks both),
    which is what lets a 100 TB pipeline keep per-day register tables
    and answer any date range by merging 256-row tables instead of
    re-reading events.  Scale shape: three register aggregations (each
    ≤ types·256 rows out), one union-max merge, estimates in fixed-point
    integer arithmetic as t38."""
    ev = load_events(spark, sf_dir).select(
        "event_type",
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 % 2").alias(
            "day_par"
        ),
    )
    m, rcap, alpha = _HLL_M, _HLL_RCAP, _HLL_ALPHA_E4

    def registers(df):
        h = h60_col(F.col("user_id").cast("string"))
        v = F.expr(f"hv div {m}")
        rho = (
            F.when(v == 0, rcap)
            .otherwise(
                F.least(F.bit_count((v.bitwiseAND(-v)) - 1) + 1, F.lit(rcap))
            )
        )
        return (
            df.select("event_type", h.alias("hv"))
            .select("event_type", F.expr(f"hv % {m}").alias("bucket"),
                    rho.alias("rho"))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("r"))
        )

    def estimate(reg, out):
        s = reg.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rcap} - r)")).alias(
                "sp"
            ),
        )
        return s.select(
            "event_type",
            F.expr(
                f"CASE WHEN ({m} - nb) > 0 AND 2 * ((shiftleft(CAST({m * m} AS"
                f" BIGINT), {rcap}) div (sp + ({m} - nb) *"
                f" shiftleft(CAST(1 AS BIGINT), {rcap}))) * {alpha} div 10000)"
                f" <= 5 * {m}"
                f" THEN CAST(round({m} * ln({m} / CAST({m} - nb AS DOUBLE)))"
                f"      AS BIGINT)"
                f" ELSE (shiftleft(CAST({m * m} AS BIGINT), {rcap})"
                f"       div (sp + ({m} - nb) *"
                f"            shiftleft(CAST(1 AS BIGINT), {rcap})))"
                f"      * {alpha} div 10000 END"
            ).alias(out),
        )

    ra = registers(ev.where(F.col("day_par") == 0))
    rb = registers(ev.where(F.col("day_par") == 1))
    merged = (
        ra.unionByName(rb)
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("r"))
    )
    direct = registers(ev)
    em = estimate(merged, "est_merged")
    ed = estimate(direct, "est_direct")
    return em.join(ed, "event_type").select(
        "event_type",
        F.col("est_merged").cast("bigint").alias("est_merged"),
        F.col("est_direct").cast("bigint").alias("est_direct"),
    )


_T42_ORACLE = """
WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
             FROM documents),
tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
n AS (SELECT count(*) AS n_docs FROM documents),
sc AS (SELECT tf.doc_id, tf.w,
              CAST(round(tf.tf * ln(CAST(n.n_docs AS DOUBLE)
                                    / CAST(df.df AS DOUBLE)) * 1000000e0)
                AS BIGINT) AS score_e6
       FROM tf JOIN df USING (w) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_e6 DESC, w) AS rn
      FROM sc)
SELECT doc_id, CAST(rn AS INTEGER) AS rank, w AS term, score_e6
FROM r WHERE rn <= 3
"""


@_register("t42_tfidf_topterms", _T42_ORACLE)
def t42_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 TF-IDF terms — the
    metadata-enrichment step (search keys, topic tags, routing hints)
    training-data catalogs attach to every document.  TF and DF are the
    engine's t14 vocabulary machinery; the score rounds
    ``tf · ln(N/df)`` to an e6 BIGINT per term (deterministic double
    tree from two integers, same cross-engine contract as t41), and the
    per-doc top-3 is a rank window with the (score desc, term) tie
    rule.  Scale shape: the token explode combines map-side into
    (doc, term, tf); DF is term-keyed with combine; the DF join carries
    8-byte term stats, not text; the final window partitions by doc —
    nothing global except the one-row corpus count, which broadcasts."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("w"),
    )
    # two readers (DF rollup, score join) of the post-combine (doc, term,
    # tf) frame — barrier so the token explode + TF aggregation run once
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")).transform(
        _compat_barrier()
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    sc = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            F.expr(
                "CAST(round(tf * ln(CAST(n_docs AS DOUBLE)"
                " / CAST(df AS DOUBLE)) * 1000000e0) AS BIGINT)"
            ).alias("score_e6"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e6").desc(), F.col("w")
    )
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("w").alias("term"),
            "score_e6",
        )
    )


_T41_ORACLE = """
WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
            FROM documents),
cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
agg AS (SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS len_chars,
               CAST(sum(CAST(round(1000000.0e0 * n
                                   * ln(CAST(n AS DOUBLE))) AS BIGINT))
                 AS BIGINT) AS s_nlogn_e6
        FROM cc GROUP BY doc_id)
SELECT doc_id, len_chars, s_nlogn_e6,
       CAST(round(1000.0e0
                  * (ln(CAST(len_chars AS DOUBLE))
                     - (CAST(s_nlogn_e6 AS DOUBLE) / 1000000.0e0)
                       / CAST(len_chars AS DOUBLE))
                  / ln(2.0e0)) AS BIGINT) AS h_mbit
FROM agg
"""


@_register("t41_char_entropy", _T41_ORACLE)
def t41_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (millibits/char) — the
    randomness quality signal that separates natural text from key mash,
    base64 blobs, and repeated-character padding, used as a pretraining
    filter alongside t3's ratio features.  H = ln L − (Σ n_c·ln n_c)/L,
    computed ORDER-INDEPENDENTLY: each per-character term rounds to an
    e6-scaled BIGINT before summation, so the aggregate is exact under
    any partitioning (a double Σ would drift with Spark's nondeterministic
    combine order and could never hash-match the oracle).  Scale shape:
    the char explode shrinks in the map-side combine to one row per
    (doc, distinct char) — alphabet-bounded, ~100 rows/doc — so the
    shuffle carries O(docs·alphabet), never O(characters)."""
    ch = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
    )
    cc = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    agg = cc.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("len_chars"),
        F.sum(
            F.expr(
                "CAST(round(1000000.0e0 * n * ln(CAST(n AS DOUBLE)))"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("s_nlogn_e6"),
    )
    return agg.select(
        "doc_id",
        "len_chars",
        "s_nlogn_e6",
        F.expr(
            "CAST(round(1000.0e0 * (ln(CAST(len_chars AS DOUBLE))"
            " - (CAST(s_nlogn_e6 AS DOUBLE) / 1000000.0e0)"
            " / CAST(len_chars AS DOUBLE)) / ln(2.0e0)) AS BIGINT)"
        ).alias("h_mbit"),
    )


_T43_ORACLE = f"""
WITH tok AS (SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents),
pos AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM tok),
ng AS (SELECT doc_id, array_to_string(w[i : i + 7], ' ') AS g FROM pos),
h AS (SELECT DISTINCT doc_id, {h60_sql('g')} AS gh FROM ng),
c AS (SELECT doc_id, gh,
             count(*) OVER (PARTITION BY gh) AS nd
      FROM h)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000.0
                  / count(*)) AS BIGINT) AS dup_ratio_e6
FROM c GROUP BY doc_id
"""


@_register("t43_dup_ngram_spans", _T43_ORACLE)
def t43_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-substring coverage at word-8-gram
    granularity: for each document, the fraction of its distinct
    8-grams that also appear in at least one OTHER document (or twice
    in itself) — the per-doc signal behind substring-level corpus
    dedup (Lee et al.-style "dedup at the span level", scored here
    rather than cut).  Docs shorter than 8 words have no 8-grams and
    drop out in both engines.  Scale shape: 8-grams hash to 60-bit
    ints IN the scan pass (the text never survives the projection),
    the distinct and the gh-window each shuffle only (doc_id, gh)
    int pairs, and the per-doc rollup reuses nothing heavier; at
    100 TB the gh space is uniform md5, so no salting needed."""
    from pyspark.sql.window import Window

    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .where(F.size("w") >= 8)
    )
    ng = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 7),"
                " i -> array_join(slice(w, i, 8), ' '))"
            )
        ).alias("g"),
    )
    h = ng.select("doc_id", h60_col(F.col("g")).alias("gh")).distinct()
    c = h.select(
        "doc_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("gh"))
        .alias("nd"),
    )
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return c.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        dup.cast("bigint").alias("n_dup"),
        F.round(dup * 1000000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("dup_ratio_e6"),
    )


#: Karp-Rabin-style window hash: Σ ascii(ch)·31^k over the 8 chars ending
#: at the position — pure int64 (max ≈ 5.6e13), no modulus needed, so both
#: engines compute it bit-for-bit; a boundary falls where H % 64 == 0
#: (expected chunk ≈ 64 chars — the content-defined chunking contract:
#: insertions only reshuffle boundaries locally).
_T44_HASH = " + ".join(
    f"CAST(ascii(substr(text, i - {7 - k}, 1)) AS BIGINT) * {31 ** k}"
    for k in range(8)
)

_T44_ORACLE = f"""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
pos AS (SELECT doc_id, text, n, unnest(range(8, n + 1)) AS i FROM d),
bnd AS (SELECT doc_id, text, n, i AS p FROM pos
        WHERE ({_T44_HASH}) % 64 = 0),
ends AS (SELECT doc_id, text, n, p FROM bnd
         UNION SELECT doc_id, text, n, n AS p FROM d),
ch AS (SELECT doc_id, p,
              substr(text,
                     COALESCE(lag(p) OVER (PARTITION BY doc_id ORDER BY p),
                              0) + 1,
                     p - COALESCE(lag(p) OVER (PARTITION BY doc_id
                                               ORDER BY p), 0)) AS chunk
       FROM ends),
h AS (SELECT doc_id, {h60_sql('chunk')} AS ch FROM ch),
u AS (SELECT DISTINCT doc_id, ch FROM h),
c AS (SELECT doc_id, ch, count(*) OVER (PARTITION BY ch) AS nd FROM u)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000.0
                  / count(*)) AS BIGINT) AS shared_ratio_e6
FROM c GROUP BY doc_id
"""


@_register("t44_cdc_chunk_dedup", _T44_ORACLE)
def t44_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + cross-doc chunk dedup: split every
    document at rolling-hash boundaries (the rsync/LBFS/CDC move — a
    boundary falls wherever the 8-char window hash ≡ 0 mod 64, so an
    insertion only moves boundaries LOCALLY, unlike t39's fixed-width
    chunks which all shift), then report per document how many of its
    distinct chunks appear elsewhere in the corpus — storage-dedup-
    grade substring sharing, the CDC complement to t43's n-gram spans.
    Scale shape: the whole text→chunks step happens IN PLACE per row
    inside one fused Arrow kernel (``cdc_chunk_hashes_udf`` — the rolling
    hash is a single int64 convolution; the former higher-order-function
    chain evaluated the 8-term window hash INTERPRETED per position,
    measured ~2× the whole query's runtime at sf0.1), and only 60-bit
    chunk-hash ints ever fan out one-per-chunk; chunk dedup shuffles
    those ints — the text column never moves past its own partition."""
    from pyspark.sql.window import Window

    from spark_ml_spatialjointransformer_spark.operators.fingerprint import (
        cdc_chunk_hashes_udf,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", cdc_chunk_hashes_udf()(F.col("text")).alias("__chs")
    )
    u = d.select("doc_id", F.explode("__chs").alias("ch"))
    c = u.select(
        "doc_id",
        F.count(F.lit(1)).over(Window.partitionBy("ch")).alias("nd"),
    )
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return c.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        shared.cast("bigint").alias("n_shared"),
        F.round(shared * 1000000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("shared_ratio_e6"),
    )


#: each position's surprisal rounds to an integer BEFORE the per-doc sum
#: (t41's order-independence move); the ratio inside the log is exact
#: int64 arithmetic, so the one libm call sees identical input in both
#: engines
_T45_TERM = (
    "CAST(round(1000000e0 * log10((c1 + vocab) * 1.0e0 / (c2 + 1)))"
    " AS BIGINT)"
)

_T45_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w,
         generate_subscripts(str_split(lower(text), ' '), 1) AS i
  FROM documents
),
bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
c2t AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
c1t AS (SELECT w AS w1, count(*) AS c1 FROM tok GROUP BY w),
v AS (SELECT count(DISTINCT w) AS vocab FROM tok),
s AS (SELECT bg.doc_id, {_T45_TERM} AS t_e6
      FROM bg JOIN c2t USING (w1, w2) JOIN c1t USING (w1) CROSS JOIN v)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(t_e6) AS BIGINT) AS surprisal_e6,
       CAST(sum(t_e6) // count(*) AS BIGINT) AS avg_surprisal_e6
FROM s GROUP BY doc_id
"""


@_register("t45_bigram_surprisal", _T45_ORACLE)
def t45_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: train add-one-smoothed bigram
    statistics on the corpus itself and charge every document its total
    and mean surprisal −log p(w2|w1) — the classic LM-perplexity
    quality filter (high surprisal = unnatural word sequences; the
    statistical complement to t3's surface ratios and t18's unigram
    corpus frequencies).  Each position's surprisal rounds to an int64
    BEFORE summing, so no floating accumulation order exists.  Scale
    shape: bigrams come from one lag window per doc; the count tables
    shuffle (word, count) pairs with map-side combine; the stats join
    back keys on words — at 100 TB the c1/c2 tables are vocab-bound
    (Zipf), far smaller than the corpus, and AQE broadcasts them."""
    from pyspark.sql.window import Window

    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("i", "w"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy("i")
    # NO barrier on tok/bg (r12 measured 1.14 -> 1.22 s WITH them): the
    # lag-window exchange doubles as the reuse point here, so the extra
    # materialization only added plan/driver time
    bg = (
        tok.select("doc_id", F.col("w").alias("w2"), "i")
        .withColumn("w1", F.lag("w2").over(wd))
        .where(F.col("w1").isNotNull())
        .select("doc_id", "w1", "w2")
    )
    c2t = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1t = tok.groupBy(F.col("w").alias("w1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    v = tok.agg(F.countDistinct("w").alias("vocab"))
    s = (
        bg.join(c2t, ["w1", "w2"])
        .join(c1t, "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", F.expr(_T45_TERM).alias("t_e6"))
    )
    return s.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("t_e6").cast("bigint").alias("surprisal_e6"),
        F.expr("CAST(sum(t_e6) div count(1) AS BIGINT)").alias(
            "avg_surprisal_e6"
        ),
    )


_T46_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_lang_score('the')} AS s_en,
         {_lang_score('el')} AS s_es,
         {_lang_score('der')} AS s_de,
         {_lang_score('le')} AS s_fr
  FROM documents
),
p AS (
  SELECT doc_id, lang,
         CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
              WHEN s_de >= s_fr THEN 'de'
              ELSE 'fr' END AS pred_lang
  FROM s
)
SELECT lang, pred_lang, count(*) AS n_docs
FROM p GROUP BY lang, pred_lang
"""
QUERIES["t46_langid_confusion"] = QueryDef(
    _sql_query(("documents",), _T46_SQL), _T46_SQL
)


_T47_ORACLE = f"""
SELECT doc_id, source, CAST(length(text) AS BIGINT) AS text_len,
       {h60_sql('text')} AS text_h60
FROM documents
"""


@_register("t47_csv_roundtrip", _T47_ORACLE)
def t47_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format fidelity, CSV edition (t36's JSONL twin, but
    CSV is the format where quoting/escaping actually bites): export the
    documents table with explicit quote+escape options, re-import with
    an explicit schema and the SAME options, and hash the re-imported
    text against the oracle's hash of the ORIGINAL parquet — a comma,
    quote, or newline mangled anywhere in the writer→reader path breaks
    the value hash.  ``multiLine`` on the read side so quoted embedded
    newlines survive.  Scale shape: per-partition files, no shuffle, no
    driver data; explicit schema because CSV inference is a full extra
    pass (and type-lossy) at 100 TB."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    out_dir = scratch_dir(
        spark, "sjt_t47_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    opts = {"header": "true", "quote": '"', "escape": '"'}
    docs.write.mode("overwrite").options(**opts).csv(out_dir)
    back = (
        spark.read.schema(docs.schema)
        .options(**opts, multiLine="true")
        .csv(out_dir)
    )
    return back.select(
        "doc_id",
        "source",
        F.length("text").cast("bigint").alias("text_len"),
        h60_col(F.col("text")).alias("text_h60"),
    )


_T48_ORACLE = """
SELECT event_id, user_id, event_type,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT) AS value_e4
FROM events
"""


@_register("t48_orc_roundtrip", _T48_ORACLE)
def t48_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format fidelity, ORC edition — the columnar warehouse
    format on the typed table (timestamps + doubles, where encoder
    precision loss would show): export events to ORC, re-import, and
    emit microsecond timestamps and e4-scaled values; the oracle reads
    the ORIGINAL parquet, so any timestamp-zone shift or double
    round-trip error in the ORC path breaks the hash.  Scale shape:
    per-partition files, predicate-pushdown-capable on re-read, no
    shuffle."""
    import hashlib

    ev = load_events(spark, sf_dir)
    out_dir = scratch_dir(
        spark, "sjt_t48_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    ev.write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("ts_us"),
        F.expr("CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)").alias(
            "value_e4"
        ),
    )


#: every signal is a length/replace identity that both engines evaluate
#: identically; byte length is the one per-engine spelling
#: (Spark octet_length(string) / DuckDB strlen)
_T49_SIGNALS = """
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum({BYTES}) AS BIGINT) AS total_bytes,
       CAST(sum(CASE WHEN {BYTES} > length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_multibyte_docs,
       CAST(sum(CASE WHEN length(regexp_replace(text, '[0-9]', ''))
                          < length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_digit_docs,
       CAST(sum(CASE WHEN length(text)
                          > length(replace(text, '  ', '')) + 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_doublespace_docs,
       CAST(sum(CASE WHEN length(text) > length(replace(text, chr(9), ''))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tab_docs
"""

_T49_ORACLE = (
    "SELECT source,"
    + _T49_SIGNALS.replace("{BYTES}", "strlen(text)")
    + "FROM documents GROUP BY source"
)

_T49_SPARK = (
    "SELECT source,"
    + _T49_SIGNALS.replace("{BYTES}", "octet_length(text)")
    + "FROM documents GROUP BY source"
)

QUERIES["t49_charset_profile"] = QueryDef(
    _sql_query(("documents",), _T49_SPARK), _T49_ORACLE
)


_T50_SQL = """
SELECT doc_id,
       CAST(floor((length(text)
                   - length(translate(text, '{}();=<>[]#', '')))
                  * 1000000e0 / length(text) + 0.5e0) AS BIGINT) AS sym_e6,
       CASE WHEN (length(text)
                  - length(translate(text, '{}();=<>[]#', '')))
                 * 1000000 >= 30000 * length(text)
            THEN 1 ELSE 0 END AS is_code
FROM documents WHERE length(text) > 0
"""
QUERIES["t50_code_detection"] = QueryDef(
    _sql_query(("documents",), _T50_SQL), _T50_SQL
)


_T51_ORACLE = f"""
WITH p AS (SELECT doc_id, {h60_sql("substring(text, 1, 200)")} AS ph
           FROM documents),
k AS (SELECT ph, min(doc_id) AS keeper FROM p GROUP BY ph)
SELECT p.doc_id, k.keeper,
       CASE WHEN p.doc_id = k.keeper THEN 0 ELSE 1 END AS is_dup
FROM p JOIN k ON p.ph = k.ph
"""


@_register("t51_prefix_dedup", _T51_ORACLE)
def t51_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup — the web-crawl heuristic for same-page-different-tail
    duplicates (boilerplate headers, truncated mirrors, pagination): docs
    sharing an identical 200-char prefix collapse to the minimum-id
    keeper.  Scale shape: the shuffle key is the 8-byte h60 of the prefix
    (text never shuffles — the classic trap here is grouping on the raw
    200-char string); one fingerprint combine + a min-window back-join.
    Complements t2 (whole-content fingerprint) and t25 (chunk-level):
    prefix dedup catches pairs whose TAILS differ, which both miss."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", h60_col(F.substring("text", 1, 200)).alias("ph")
    )
    w = Window.partitionBy("ph")
    return (
        docs.withColumn("keeper", F.min("doc_id").over(w))
        .select(
            "doc_id", "keeper",
            F.when(F.col("doc_id") == F.col("keeper"), 0)
            .otherwise(1).alias("is_dup"),
        )
    )


_T52_ORACLE = f"""
WITH p AS (SELECT doc_id, source, {h60_sql("substring(text, 1, 200)")} AS ph
           FROM documents),
g AS (SELECT doc_id, source, ph,
             count(*) OVER (PARTITION BY ph) AS csize
      FROM p)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT ph) AS n_clusters_local,
       CAST(sum(CASE WHEN csize >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(max(csize) AS BIGINT) AS max_cluster,
       CAST(round(sum(CASE WHEN csize >= 2 THEN 1 ELSE 0 END) * 1000000.0
                  / count(*)) AS BIGINT) AS dup_ratio_e6
FROM g GROUP BY source
"""


@_register("t52_dup_cluster_stats", _T52_ORACLE)
def t52_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster health statistics per source: how much of each
    source sits in a CORPUS-WIDE duplicate cluster (t51's 200-char
    prefix key), the local distinct-cluster count, and the largest
    cluster any of its docs belongs to — the dashboard numbers a data
    team watches per crawl/source before deciding dedup aggressiveness
    (a source whose dup_ratio spikes is re-crawling mirrors; a huge
    max_cluster is boilerplate).  Cluster size is computed corpus-wide
    (a cluster can span sources) while stats group by source — two
    different keys, which is why this is its own query and not a t51
    GROUP BY.  Scale shape: one 8-byte-fingerprint exchange for the
    global cluster-size window, then one source exchange for the rollup;
    text never shuffles."""
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", h60_col(F.substring("text", 1, 200)).alias("ph")
    )
    g = p.withColumn("csize", F.count(F.lit(1)).over(Window.partitionBy("ph")))
    dup = F.when(F.col("csize") >= 2, 1).otherwise(0)
    return g.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("ph").alias("n_clusters_local"),
        F.sum(dup).cast("bigint").alias("n_dup_docs"),
        F.max("csize").cast("bigint").alias("max_cluster"),
        F.round(F.sum(dup) * 1000000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("dup_ratio_e6"),
    )


_T53_K = 4       #: k-gram width (tokens) for the anchor hash
_T53_W = 5       #: winnowing window (positions) — expected anchor density 1/W
_T53_L = 12      #: verified span length (tokens) anchored at each anchor

_T53_ORACLE = f"""
WITH tok AS (SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents),
t AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) >= {_T53_W + _T53_K - 1}),
p AS (SELECT doc_id, n, w, unnest(range(1, n - {_T53_K - 2})) AS i FROM t),
h AS (SELECT doc_id, n, i,
             {h60_sql(f"array_to_string(w[i : i + {_T53_K - 1}], ' ')")} AS gh,
             CASE WHEN i <= n - {_T53_L - 1}
                  THEN {h60_sql(f"array_to_string(w[i : i + {_T53_L - 1}], ' ')")}
             END AS sp
      FROM p),
a AS (SELECT doc_id, i, gh, sp,
             min(gh) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN {_T53_W - 1} PRECEDING AND CURRENT ROW)
               AS m
      FROM h),
s AS (SELECT DISTINCT doc_id, sp FROM a
      WHERE i >= {_T53_W} AND gh = m AND sp IS NOT NULL)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_spans
FROM s a JOIN s b ON b.sp = a.sp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


@_register("t53_span_dedup", _T53_ORACLE)
def t53_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (span) dedup, the Lee-et-al-style gap in the dedup
    family: find document PAIRS sharing a long duplicated token span
    embedded at possibly DIFFERENT offsets in otherwise-distinct docs —
    the case whole-doc (t2), shingle-set (t5/t6/t9), chunk (t25), prefix
    (t51) and containment (t35) dedup all miss.  Method (winnowing-
    anchored span match, reusing t8's fingerprint machinery): hash every
    positional token {_T53_K}-gram (h60, identical in both engines); a
    position is an ANCHOR iff its hash is the minimum of the {_T53_W}-
    window ENDING at it (content-defined local minimum — both copies of
    a duplicated region anchor at the SAME content-relative offsets, and
    uniform md5 makes the expected anchor density 1/{_T53_W}); each
    anchor is VERIFIED by the h60 of the {_T53_L}-token span it starts,
    so a reported pair shares an exact {_T53_L}-token span (60-bit
    collision odds aside), not merely a k-gram.  A duplicated span of S
    tokens is caught iff an anchor lands in its first S-{_T53_L}+1
    k-gram positions — probability 1-(1-1/{_T53_W}
    )^(S-{_T53_L}+1) under uniform hashing (>91% at S=2L), the same
    content-defined-sampling trade the CDC chunker (t44) makes; the
    ORACLE applies the identical rule, so the correctness gate is exact.
    Scale shape vs t43's brute n-gram coverage: anchors are decided
    LOCALLY per document inside one fused Arrow kernel
    (``span_anchor_hashes_udf`` — per-position k-gram h60, W-window
    rolling min, and the verified span h60 in a single pass; the former
    per-position JVM hash chain plus doc_id-keyed window exchange is
    gone), so only ~1/{_T53_W} of positions ever leave the worker; the
    pair join shuffles ints keyed by the 60-bit span hash (uniform, no
    salting), and the text NEVER shuffles.  At 100 TB: per-doc state is
    O(tokens) ints inside the kernel; join volume is anchors
    (~tokens/{_T53_W}), each 16 bytes."""
    from spark_ml_spatialjointransformer_spark.operators._compat import (
        barrier as _barrier,
    )
    from spark_ml_spatialjointransformer_spark.operators.fingerprint import (
        span_anchor_hashes_udf,
    )

    anchors = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                span_anchor_hashes_udf(_T53_K, _T53_W, _T53_L)(F.col("text"))
            ).alias("a"),
        )
        .select("doc_id", F.col("a.sp").alias("sp"))
        .distinct()
        # the self-join references the anchor plan twice; the barrier makes
        # the kernel + distinct compute ONCE (the minhash sig pattern)
        .transform(_barrier)
    )
    a, b = anchors.alias("a"), anchors.alias("b")
    return (
        a.join(b, "sp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )


_T54_ORACLE = f"""
WITH tok AS (SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents),
t AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) >= {_T53_W + _T53_K - 1}),
p AS (SELECT doc_id, n, w, unnest(range(1, n - {_T53_K - 2})) AS i FROM t),
h AS (SELECT doc_id, n, i,
             {h60_sql(f"array_to_string(w[i : i + {_T53_K - 1}], ' ')")} AS gh,
             CASE WHEN i <= n - {_T53_L - 1}
                  THEN {h60_sql(f"array_to_string(w[i : i + {_T53_L - 1}], ' ')")}
             END AS sp
      FROM p),
a AS (SELECT doc_id, i, gh, sp,
             min(gh) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN {_T53_W - 1} PRECEDING AND CURRENT ROW)
               AS m
      FROM h),
ap AS (SELECT doc_id, i, sp FROM a
       WHERE i >= {_T53_W} AND gh = m AND sp IS NOT NULL),
spc AS (SELECT sp, count(*) AS nd
        FROM (SELECT DISTINCT doc_id, sp FROM ap) GROUP BY sp),
ma AS (SELECT ap.doc_id, ap.i FROM ap JOIN spc ON spc.sp = ap.sp
       WHERE spc.nd >= 2),
isl AS (SELECT doc_id, i,
               max(i + {_T53_L - 1}) OVER (
                 PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM ma),
grp AS (SELECT doc_id, i,
               sum(CASE WHEN pe IS NULL OR i > pe THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i) AS g
        FROM isl),
cov AS (SELECT doc_id,
               sum(mx - mn + 1) AS covered
        FROM (SELECT doc_id, g, min(i) AS mn, max(i + {_T53_L - 1}) AS mx
              FROM grp GROUP BY doc_id, g)
        GROUP BY doc_id)
SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
       CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
       CAST(round(coalesce(cov.covered, 0) * 1000000.0 / t.n) AS BIGINT)
         AS coverage_e6
FROM t LEFT JOIN cov ON cov.doc_id = t.doc_id
"""


@_register("t54_span_coverage", _T54_ORACLE)
def t54_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-token COVERAGE per document — the number every span-
    dedup paper reports ("X% of the corpus is inside a duplicated span")
    and the per-doc score a curation pipeline thresholds on, computed
    from t53's winnowing anchors: an anchor is MATCHED iff its verified
    {_T53_L}-token span hash occurs in >= 2 distinct docs; each matched
    anchor covers tokens [i, i+{_T53_L - 1}], and the per-doc covered
    count is the INTERVAL UNION of those spans (classic gaps-and-islands:
    an island breaks where the next anchor starts past the running
    max-end; union length = sum over islands of max_end - min_start + 1 —
    overlapping spans never double-count).  Docs long enough to anchor
    (>= {_T53_W + _T53_K - 1} tokens) but with no matched span zero-fill.
    Scale shape: identical stages to t53 (one doc_id-keyed int window,
    one span-hash-keyed int join) plus a second doc_id-keyed window pass
    for the islands — matched-anchor rows are ~1/{_T53_W} of positions
    and 16 bytes each; text never shuffles."""
    from pyspark.sql.window import Window

    from spark_ml_spatialjointransformer_spark.operators._compat import (
        barrier as _barrier,
    )
    from spark_ml_spatialjointransformer_spark.operators.fingerprint import (
        span_anchor_hashes_udf,
    )

    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.size(F.split(F.lower("text"), " ")).alias("n"))
        .where(F.col("n") >= _T53_W + _T53_K - 1)
    )
    # both the span-count side (spc) and the matched-anchor side (ma)
    # read this frame — the barrier makes the kernel compute ONCE
    ap = tok.select(
        "doc_id",
        F.explode(
            span_anchor_hashes_udf(_T53_K, _T53_W, _T53_L)(F.col("text"))
        ).alias("a"),
    ).select(
        "doc_id", F.col("a.i").alias("i"), F.col("a.sp").alias("sp")
    ).transform(_barrier)
    spc = (
        ap.select("doc_id", "sp")
        .distinct()
        .groupBy("sp")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
    )
    ma = ap.join(spc, "sp").select("doc_id", "i")
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = ma.withColumn(
        "pe", F.max(F.col("i") + (_T53_L - 1)).over(wprev)
    ).withColumn(
        "g",
        F.sum(
            F.when(
                F.col("pe").isNull() | (F.col("i") > F.col("pe")), 1
            ).otherwise(0)
        ).over(wrun),
    )
    cov = (
        grp.groupBy("doc_id", "g")
        .agg(
            F.min("i").alias("mn"),
            F.max(F.col("i") + (_T53_L - 1)).alias("mx"),
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("mx") - F.col("mn") + 1).alias("covered"))
    )
    covered = F.coalesce(F.col("covered"), F.lit(0))
    return tok.join(cov, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        covered.cast("bigint").alias("covered_tokens"),
        F.round(covered * 1000000.0 / F.col("n"))
        .cast("bigint")
        .alias("coverage_e6"),
    )


#: t55 quality signal, integer-exact on both engines: stopword density
#: scaled e6 via two floor divisions (' the ' occurrences * 1e6 // token
#: count) — no doubles, so the argmax election can never flip on a
#: rounding near-tie (the v17 lesson applied at design time).
_T55_Q_SQL = (
    "((length(text) - length(replace(text, ' the ', ''))) // 5) * 1000000"
    " // (length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)"
)

_T55_ORACLE = f"""
WITH RECURSIVE {_TOK_SH_CTE},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(round(inter * 1000000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) >= 600000
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(v, u) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.v, e.b FROM reach r JOIN edges e ON e.a = r.u
),
k AS (SELECT v AS doc_id, min(u) AS cluster FROM reach GROUP BY v),
q AS (SELECT doc_id, {_T55_Q_SQL} AS q_e6 FROM documents),
m AS (SELECT k.doc_id, k.cluster, q.q_e6,
        row_number() OVER (PARTITION BY k.cluster
                           ORDER BY q.q_e6 DESC, k.doc_id) AS rk
      FROM k JOIN q USING (doc_id)),
e AS (SELECT cluster, doc_id AS elected FROM m WHERE rk = 1)
SELECT m.doc_id, CAST(m.cluster AS BIGINT) AS cluster,
       CAST(e.elected AS BIGINT) AS keeper,
       CAST(CASE WHEN m.doc_id = e.elected THEN 1 ELSE 0 END AS INTEGER) AS kept,
       CAST(m.q_e6 AS BIGINT) AS q_e6
FROM m JOIN e USING (cluster)
"""


@_register("t55_quality_keeper", _T55_ORACLE)
def t55_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper election — the FineWeb/Dolma refinement of
    min-id dedup: within each near-dup closure cluster (t11's LSH-
    verified Jaccard >= 0.6 components) keep the member with the BEST
    quality signal (stopword density, t3's family), not the smallest
    id.  Min-id keeps whichever copy happened to be crawled first; a
    corpus built that way systematically prefers the boilerplate-
    wrapped mirror over the clean original, which is why production
    dedup pipelines elect on quality.  At sf0.01 the two elections
    genuinely diverge: 8 of 23 multi-member clusters pick a non-min-id
    keeper.  Scale shape: everything up to the cluster labels is t11's
    machinery (band keys shuffle, never text; O(edges) Hash-Min); the
    election adds ONE cluster-keyed exchange of (cluster, doc_id, q_e6)
    int triples — quality scores compute corpus-linear in codegen and
    join back by doc_id.  The quality key is computed by floor division
    end-to-end (no doubles), so the argmax cannot flip on an engine
    rounding near-tie."""
    from pyspark.sql.window import Window

    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        dedup_connected_components,
        neardup_pairs_lsh_verified,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = neardup_pairs_lsh_verified(docs, "doc_id", "text", threshold=0.6)
    cc = dedup_connected_components(
        pairs.select("id_a", "id_b"), docs.select("doc_id"), "doc_id"
    ).select("doc_id", F.col("keeper").alias("cluster"))
    q = docs.select(
        "doc_id",
        F.expr(
            "(CAST(length(text) - length(replace(text, ' the ', '')) AS BIGINT)"
            " div 5) * 1000000"
            " div (length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)"
        ).alias("q_e6"),
    )
    # argmax by ordered-window first(): ONE cluster-keyed exchange, no
    # ranked-vs-elected self-join (a row_number + rejoin formulation costs
    # two more exchanges for the same answer)
    w = (
        Window.partitionBy("cluster")
        .orderBy(F.desc("q_e6"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        cc.join(q, "doc_id")
        .withColumn("keeper", F.first("doc_id").over(w))
        .select(
            "doc_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.col("keeper").cast("bigint").alias("keeper"),
            F.when(F.col("doc_id") == F.col("keeper"), 1)
            .otherwise(0)
            .cast("int")
            .alias("kept"),
            F.col("q_e6").cast("bigint").alias("q_e6"),
        )
    )


#: t56 DSIR geometry: hashed-bigram feature buckets, add-1 smoothed
#: likelihood-ratio weights scaled e6 (floor division — the log() of the
#: paper is monotone in the ratio, and staying on the ratio keeps every
#: weight integer-exact across engines), and the target-likeness
#: threshold on the per-bigram average.
_T56_BUCKETS = 4096
_T56_KEEP_AVG_E6 = 450_000

_T56_ORACLE = f"""
WITH tk AS (SELECT doc_id, lang, str_split(lower(text), ' ') AS t
            FROM documents),
bg AS (SELECT doc_id, lang,
              {h60_sql("t[i+1] || ' ' || t[i+2]")} % {_T56_BUCKETS} AS b
       FROM tk, unnest(range(len(t) - 1)) r(i)
       WHERE len(t) >= 2),
cnt AS (SELECT b, count(*) AS s_cnt, count(*) FILTER (lang = 'en') AS t_cnt
        FROM bg GROUP BY b),
w AS (SELECT b, (t_cnt + 1) * 1000000 // (s_cnt + 1) AS w_e6 FROM cnt),
sc AS (SELECT bg.doc_id, count(*) AS n_bigrams, sum(w.w_e6) AS score_e6
       FROM bg JOIN w USING (b) GROUP BY bg.doc_id)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(score_e6 AS BIGINT) AS score_e6,
       CAST(score_e6 // n_bigrams AS BIGINT) AS avg_e6,
       CAST(CASE WHEN score_e6 // n_bigrams >= {_T56_KEEP_AVG_E6}
                 THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM sc
"""


@_register("t56_dsir_score", _T56_ORACLE)
def t56_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring (Xie et al. 2023): hash each doc's
    word bigrams into 4096 feature buckets, weight every
    bucket by the smoothed target-vs-source likelihood ratio (target =
    the English slice, source = the whole corpus), and score each doc
    by its summed bucket weights — the data-selection operator that
    resamples a raw crawl TOWARD a target distribution (t18 scores
    against a frequency table, t26 lifts whole sources; this learns a
    per-FEATURE reweighting from the corpus itself).  Weights stay on
    the raw likelihood ratio instead of its log so everything is
    integer floor division (the log is monotone — selection order is
    unchanged); at sf0.01 the English median per-bigram average is
    467k-e6 vs ~437k for the other languages, and the 0.45 threshold
    keeps the target-like slice.  Scale shape: text never shuffles —
    bigrams drop to (doc_id, bucket) int pairs before the ONE bucket
    count exchange, the {_T56_BUCKETS}-row weight table broadcasts
    back, and the doc rollup is the second exchange; both are
    map-side combinable."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.split(F.lower(F.col("text")), " ").alias("t"),
    )
    # Spark [] indexing is 0-based where DuckDB's is 1-based: t[i]/t[i+1]
    # here IS the oracle's t[i+1]/t[i+2] adjacency
    bigram = (
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))"
    )
    bg = (
        docs.where(F.expr("size(t) >= 2"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.expr(bigram)).alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            (h60_col(F.col("s")) % _T56_BUCKETS).alias("b"),
        )
        # barrier: the bigram featurization (explode + md5 h60 per bigram,
        # the query's dominant CPU) feeds BOTH the weight table and the doc
        # rollup; the r12 runtime audit showed zero exchange reuse between
        # the two arms, so without it the whole pass executed twice
        .transform(_compat_barrier())
    )
    wts = (
        bg.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("s_cnt"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("t_cnt"),
        )
        .select(
            "b",
            F.expr("(t_cnt + 1) * 1000000 div (s_cnt + 1)").alias("w_e6"),
        )
    )
    sc = (
        bg.join(F.broadcast(wts), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("w_e6").alias("score_e6"),
        )
    )
    return sc.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("score_e6").cast("bigint").alias("score_e6"),
        F.expr("score_e6 div n_bigrams").cast("bigint").alias("avg_e6"),
        F.expr(
            f"CAST(CASE WHEN score_e6 div n_bigrams >= {_T56_KEEP_AVG_E6}"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("kept"),
    )


#: t57: the p10 template fingerprint (first 8 words) as the cross-SOURCE
#: overlap unit — documents sharing it are the same template family.
_T57_FP = "array_to_string((str_split(lower(text), ' '))[1:8], ' ')"

_T57_ORACLE = f"""
WITH f AS (SELECT DISTINCT source, {h60_sql(_T57_FP)} AS fp FROM documents),
szs AS (SELECT source, count(*) AS n FROM f GROUP BY source),
p AS (SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
      FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2)
SELECT p.source_a, p.source_b, CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST(p.n_shared * 1000000 // least(sa.n, sb.n) AS BIGINT)
         AS containment_e6
FROM p JOIN szs sa ON sa.source = p.source_a
       JOIN szs sb ON sb.source = p.source_b
"""


@_register("t57_source_overlap", _T57_ORACLE)
def t57_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap matrix — for every SOURCE pair, how
    many template families (p10's first-8-words fingerprint) they
    share, normalized by the smaller source's family count (containment
    — the mirror-detection direction: a small source fully contained in
    a big one scores 1e6 regardless of the big one's breadth).  This is
    the corpus-governance view the per-DOC dedup line (t2…t55) never
    produces: which SOURCES to drop/merge wholesale before paying for
    row-level dedup, and the input to source-level contamination audits
    (a source overlapping the benchmark source is quarantined at the
    manifest level).  Scale shape: text drops to (source, fp-int60)
    rows immediately; each fingerprint's source set aggregates in ONE
    fp-keyed exchange and pairs expand JVM-side inside the row
    (|sources| is small by definition — no fp self-join, no text
    shuffle); the pair rollup and the |sources|-row size table are the
    only other exchanges, and the size table broadcasts back."""
    # the distinct (source, fp) set feeds BOTH the size table and the
    # per-fp grouping: lazy-checkpoint it so the text scan + distinct
    # exchange run once (t11/g13's shared-subtree idiom)
    f = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            h60_col(
                F.concat_ws(
                    " ", F.slice(F.split(F.lower("text"), " "), 1, 8)
                )
            ).alias("fp"),
        )
        .distinct()
        .transform(_barrier)
    )
    szs = f.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    grp = f.groupBy("fp").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pair_expr = (
        "flatten(transform(srcs, (x, i) -> "
        "transform(slice(srcs, i + 2, size(srcs)), "
        "y -> struct(x AS a, y AS b))))"
    )
    pairs = (
        grp.where(F.size("srcs") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = F.broadcast(szs.select(F.col("source").alias("source_a"), F.col("n").alias("na")))
    sb = F.broadcast(szs.select(F.col("source").alias("source_b"), F.col("n").alias("nb")))
    return (
        pairs.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.expr("n_shared * 1000000 div least(na, nb)")
            .cast("bigint")
            .alias("containment_e6"),
        )
    )


_T58_ORACLE = """
WITH tok AS (SELECT source, unnest(str_split(lower(trim(text)), ' ')) AS w
             FROM documents),
c AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
ca AS (SELECT w, CAST(sum(c) AS BIGINT) AS c_all FROM c GROUP BY 1),
na AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM ca),
t AS (SELECT g.source, g.n,
             abs(coalesce(c.c, 0) * 1000000 // g.n
                 - g.c_all * 1000000 // g.n_all) AS term
      FROM (SELECT ns.source, ns.n, ca.w, ca.c_all, na.n_all
            FROM ns CROSS JOIN ca CROSS JOIN na) g
      LEFT JOIN c ON c.source = g.source AND c.w = g.w)
SELECT source, CAST(min(n) AS BIGINT) AS n_tokens,
       CAST(sum(term) // 2 AS BIGINT) AS tv_e6
FROM t GROUP BY source
"""


@_register("t58_source_tv_drift", _T58_ORACLE)
def t58_source_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary drift: total-variation distance (½ Σ|p_src −
    p_corpus|, e6-scaled integer) between each source's unigram
    distribution and the whole corpus — the distribution-shift gate a
    training-mix pipeline runs per ingest batch (a source whose token
    distribution drifts from the mix is a format break, a language mix
    error, or spam, BEFORE any model sees it; t46 audits labels, this
    audits the text itself).  TV rather than KL: bounded [0, 1e6],
    defined when a source misses tokens (KL needs smoothing and logs —
    float on both engines), and integer-exact via per-term floor
    division before the absolute difference.  The absent-token terms
    are real (a source missing a corpus-common token drifts BY that
    absence), so the (source × vocab) grid is constructed explicitly —
    grid rows are (string, int) pairs, |sources|·|vocab| of them, never
    text.  Scale shape: text drops to (source, token) counts in ONE
    map-combinable exchange; the vocab and source-total tables that
    build the grid are tiny by definition (a 100 TB corpus still has a
    bounded working vocabulary; a hashed-bucket variant caps it hard —
    t56's trick) and broadcast; the grid left-joins the counts on the
    same (source, token) key and the final rollup re-uses the source
    key."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    # the (source, token) count table feeds THREE consumers (source
    # totals, vocab totals, and the grid's left join): lazy-checkpoint
    # so the explode + count exchange runs once
    c = (
        tok.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(_barrier)
    )
    ns = c.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    ca = c.groupBy("w").agg(F.sum("c").cast("bigint").alias("c_all"))
    na = ca.agg(F.sum("c_all").cast("bigint").alias("n_all"))
    grid = (
        ns.crossJoin(F.broadcast(ca)).crossJoin(F.broadcast(na))
    )
    t = grid.join(c, ["source", "w"], "left").select(
        "source",
        "n",
        F.abs(
            F.expr("coalesce(c, 0) * 1000000 div n")
            - F.expr("c_all * 1000000 div n_all")
        ).alias("term"),
    )
    return t.groupBy("source").agg(
        F.min("n").cast("bigint").alias("n_tokens"),
        F.expr("CAST(sum(term) div 2 AS BIGINT)").alias("tv_e6"),
    )


_T59_ORACLE = """
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
keep AS (SELECT id_b AS doc_id, min(id_a) AS keeper FROM pairs GROUP BY id_b)
SELECT dl.source AS from_source, dk.source AS to_source,
       CAST(count(*) AS BIGINT) AS n_docs
FROM keep k
JOIN documents dl ON dl.doc_id = k.doc_id
JOIN documents dk ON dk.doc_id = k.keeper
GROUP BY 1, 2
"""


@_register("t59_dup_flow", _T59_ORACLE)
def t59_dup_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate ABSORPTION flow between sources: for every doc
    t9's keeper election discards, one (losing source → keeper's
    source) edge, rolled up to the source×source flow matrix — the
    directional governance view t57's symmetric template overlap
    cannot give: t57 says two sources SHARE content, this says WHOSE
    copy survives dedup (a source whose docs systematically flow OUT
    is a scraper/mirror; heavy self-flow is internal churn; the
    asymmetry tells an acquisitions team which feed is the original).
    Keeper rule and pair generation are t9's verbatim (MinHash-LSH
    candidates, exact trigram-Jaccard ≥ 0.6 verify, min-id one-hop
    keeper), so this is the same machinery read at source granularity.
    Scale shape: everything text-sized happens inside t9's pipeline
    (band keys shuffle, never shingles); the flow stage joins the
    (dup, keeper) int-pair table to the (doc_id, source) projection
    twice — doc_id-keyed hash joins of narrow rows — and the matrix
    rollup is |sources|² rows forever."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        dedup_assign_keeper,
        neardup_pairs_lsh_verified,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = neardup_pairs_lsh_verified(docs, "doc_id", "text", threshold=0.6)
    keep = (
        dedup_assign_keeper(
            pairs.select("id_a", "id_b"), docs.select("doc_id"), "doc_id"
        )
        .where(F.col("is_dup"))
        .select("doc_id", "keeper")
    )
    src = docs.select("doc_id", "source")
    return (
        keep.join(src.withColumnsRenamed({"source": "from_source"}), "doc_id")
        .join(
            src.withColumnsRenamed(
                {"doc_id": "keeper", "source": "to_source"}
            ),
            "keeper",
        )
        .groupBy("from_source", "to_source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


#: t60 thresholds (Gopher-style top-n-gram coverage gates, Rae et al.
#: 2021 §A1.1 adapted to token fractions): the single most frequent
#: unigram covering > 12% of tokens, or the most frequent bigram
#: covering > 18%
_T60_TOP_UNIGRAM_E6 = 120_000
_T60_TOP_BIGRAM_E6 = 180_000

_T60_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ts
             FROM documents),
base AS (SELECT doc_id, ts, len(ts) AS ntok FROM tok WHERE len(ts) >= 2),
ug AS (SELECT doc_id, ntok, ts[i] AS g
       FROM base, unnest(range(1, len(ts) + 1)) t(i)),
ugc AS (SELECT doc_id, ntok, g, count(*) AS c FROM ug GROUP BY 1, 2, 3),
topu AS (SELECT doc_id, ntok, max(c) AS topc1 FROM ugc GROUP BY 1, 2),
bg AS (SELECT doc_id, ntok, array_to_string(ts[i : i + 1], ' ') AS g
       FROM base, unnest(range(1, len(ts))) t(i)),
bgc AS (SELECT doc_id, ntok, g, count(*) AS c FROM bg GROUP BY 1, 2, 3),
topb AS (SELECT doc_id, ntok, max(c) AS topc2 FROM bgc GROUP BY 1, 2)
SELECT topu.doc_id,
       CAST(topu.ntok AS BIGINT) AS ntok,
       topu.topc1 * 1000000 // topu.ntok AS top_unigram_frac_e6,
       topb.topc2 * 2 * 1000000 // topu.ntok AS top_bigram_frac_e6,
       (topu.topc1 * 1000000 // topu.ntok > {_T60_TOP_UNIGRAM_E6}
        OR topb.topc2 * 2 * 1000000 // topu.ntok > {_T60_TOP_BIGRAM_E6})
         AS is_repetitive
FROM topu JOIN topb USING (doc_id)
"""


@_register("t60_repetition_signals", _T60_ORACLE)
def t60_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-n-gram coverage gates (the other half of the Gopher/
    MassiveText repetition filters, Rae et al. 2021 §A1.1): per doc, the
    token fraction covered by the single most frequent unigram and by
    the single most frequent bigram, flagged past either threshold.
    t16 measures how much of the doc repeats AT ALL (duplicate-gram
    fraction); t60 measures whether ONE dominant gram does the
    repeating — the 'lyrics chorus / SEO keyword stuffing' signature
    (one gram, huge coverage) that t16's diffuse-repeat fraction
    dilutes, and vice versa: both gates ship together in every
    production quality stack because neither subsumes the other.  Docs
    under 2 tokens are excluded (no bigram).  All ratios integer-exact:
    count·1e6 floor-div ntok on the non-negative domain.  Scale shape:
    two explode→(doc, gram) count passes with map-side combine — the
    shuffle carries one row per DISTINCT per-doc gram, Zipf-bounded;
    the max-rollups and final join are doc-id-keyed; no windows, no
    driver state."""
    ts = F.split(F.trim(F.col("text")), " ")
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", ts.alias("ts"))
        .where(F.size("ts") >= 2)
        .select("doc_id", "ts", F.size("ts").alias("ntok"))
    )
    ug = base.select("doc_id", "ntok", F.explode("ts").alias("g"))
    topu = (
        ug.groupBy("doc_id", "ntok", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "ntok")
        .agg(F.max("c").alias("topc1"))
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2),"
                " i -> concat_ws(' ', ts[i], ts[i + 1]))"
            )
        ).alias("g"),
    )
    topb = (
        bg.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("topc2"))
    )
    uni_frac = F.expr("topc1 * 1000000 div ntok")
    bi_frac = F.expr("topc2 * 2 * 1000000 div ntok")
    return (
        topu.join(topb, "doc_id")
        .select(
            "doc_id",
            F.col("ntok").cast("bigint").alias("ntok"),
            uni_frac.alias("top_unigram_frac_e6"),
            bi_frac.alias("top_bigram_frac_e6"),
            (
                (uni_frac > _T60_TOP_UNIGRAM_E6)
                | (bi_frac > _T60_TOP_BIGRAM_E6)
            ).alias("is_repetitive"),
        )
    )


#: t61 fits over the top-N ranks only: the Zipf law holds in the head,
#: and a fixed N makes the fit size-independent across sources
_T61_TOP_N = 100

_T61_ORACLE = f"""
WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS w
             FROM documents),
c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS f
      FROM tok GROUP BY source, w),
r AS (SELECT source, f,
             row_number() OVER (PARTITION BY source
                                ORDER BY f DESC, w) AS rk
      FROM c),
h AS (SELECT source, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      FROM r WHERE rk <= {_T61_TOP_N}),
m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM h GROUP BY source)
SELECT source, n AS n_ranks,
       CAST(floor((sx * sy - n * sxy) * 1000000e0
                  / (n * sxx - sx * sx) + 0.5e0) AS BIGINT) AS zipf_s_e6
FROM m WHERE (n * sxx - sx * sx) > 0
"""


@_register("t61_zipf_exponent", _T61_ORACLE)
def t61_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent per source: least-squares slope of ln(freq) against
    ln(rank) over each source's top-{_T61_TOP_N} tokens, reported as the
    POSITIVE exponent s (freq ∝ rank^-s) scaled e6 — the corpus-health
    fingerprint curation teams track per feed: natural prose sits near
    s ≈ 1, template/boilerplate-heavy feeds flatten the head (s < 0.7),
    OCR noise and ID-dense dumps steepen it.  t18/t19 score documents
    against the corpus distribution; t61 scores the DISTRIBUTION itself,
    which is what a per-source ingestion gate consumes.  Output floats
    never leave the engines raw: both sides compute the identical
    closed-form slope and round once to e6 (d30's convention — the only
    libm calls are ln/sum on identical int counts).  Scale shape: one
    map-combinable (source, token) count (distinct-token bounded), a
    per-source top-N window over counts (rank truncation keeps the fit
    head-only), and a |sources|-row moment rollup."""
    from pyspark.sql.window import Window

    tok = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("w"),
    )
    c = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    r = c.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("f"), "w")
        ),
    ).where(F.col("rk") <= _T61_TOP_N)
    h = r.select(
        "source",
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    m = h.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("sx") * F.col("sy") - F.col("n") * F.col("sxy")
    return (
        m.where(den > 0)
        .select(
            "source",
            F.col("n").alias("n_ranks"),
            F.floor(num * 1000000.0 / den + 0.5)
            .cast("bigint")
            .alias("zipf_s_e6"),
        )
    )


#: t62 bucket cap — small enough that the synthetic corpus's big exact-dup
#: clusters actually trip it at every SF
_T62_CAP = 2


def _t62_oracle(k: int = 64, bands: int = 16, threshold_e6: int = 200_000) -> str:
    """t6's exact signature replay plus the skew-cap semantics: per band,
    a doc's bucket is the window count over that band's signature rows;
    a pair is emitted iff its LOWEST signature-matching band is not hot
    (the Spark side's first-match dedup keys each pair to that band, and
    the cap anti-joins hot buckets away BEFORE the join — so a pair
    whose lowest matching band is hot is suppressed even when a later
    cool band also matches; both engines below implement exactly that)."""
    rows = k // bands
    coefs = minhash_coefficients(k)
    mins = ",\n       ".join(
        f"min((hm * {a} + {b}) % {MINHASH_PRIME}) AS m{j}"
        for j, (a, b) in enumerate(coefs)
    )
    hots = ",\n       ".join(
        "count(*) OVER (PARTITION BY "
        + ", ".join(f"m{b * rows + r}" for r in range(rows))
        + f") > {_T62_CAP} AS hot{b}"
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)" for j in range(k)
    )

    def eq(b: int) -> str:
        return " AND ".join(
            f"a.m{b * rows + r} = b.m{b * rows + r}" for r in range(rows)
        )

    any_band = "\n     OR ".join(f"({eq(b)})" for b in range(bands))
    # first signature-matching band must be cool: CASE walks bands in
    # order, so the WHEN that fires IS the lowest matching band
    first_cool = (
        "CASE "
        + " ".join(
            f"WHEN {eq(b)} THEN NOT a.hot{b}" for b in range(bands)
        )
        + " ELSE FALSE END"
    )
    scale = 1_000_000 // k
    return f"""
WITH {_TOK_SH_CTE},
h AS (SELECT doc_id, {h60_sql('s')} % {MINHASH_PRIME} AS hm FROM sh),
sig0 AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
sig AS (SELECT *, {hots} FROM sig0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, {agree} AS agree
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE ({any_band})
    AND ({first_cool})
)
SELECT id_a, id_b, CAST(agree AS BIGINT) * {scale} AS est_jaccard_e6
FROM pairs WHERE agree * {scale} >= {threshold_e6}
"""


@_register("t62_capped_lsh_pairs", _t62_oracle())
def t62_capped_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t6's banded MinHash pair emission under the SKEW CAP
    (``max_bucket={_T62_CAP}``): hot (band, key) buckets — the
    boilerplate-template signature — are dropped before the self-join,
    bounding any single task's pair fanout at cap²/2 per bucket.  The
    pair-emission semantics under the cap (a pair survives iff its
    LOWEST signature-matching band is cool) are pinned engine-vs-engine
    here: the oracle replays the exact signatures, computes each band's
    bucket size as a window count, and walks the bands in order — so the
    production skew defense is oracle-checked, not just unit-tested.
    The cap is set at the pair minimum (2) so the synthetic corpus's
    3-4-doc dup clusters genuinely trip it — the capped output differs
    from t6's at every SF.  Scale shape:
    t6's plan plus ONE map-combinable (band, key) count and a small
    broadcast anti-join (hot keys are ≤ |banded rows|/cap by
    construction)."""
    from spark_ml_spatialjointransformer_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.2, max_bucket=_T62_CAP
    )
