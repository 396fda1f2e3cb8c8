"""Query registry, analytics family — split from the single-module registry (r11);
see ``queries/_core.py`` for the registration machinery and shared helpers."""

from __future__ import annotations

from spark_ml_spatialjointransformer_spark.queries._core import (
    DataFrame,
    F,
    QUERIES,
    QueryDef,
    SparkSession,
    _SUM_VALUE_E4,
    _register,
    _sql_query,
    load_events,
    load_table,
    scratch_dir,
)



# ---------------------------------------------------------------------------
# relational aggregation (the `filter` param reaches the full Spark SQL
# surface — demonstrate the classic shape; identical SQL both engines)
# ---------------------------------------------------------------------------

#: one SQL text, two engines — and deterministic by construction: every
#: double scales to a BIGINT per row (a fixed IEEE op sequence, identical
#: in both engines) before any SUM, so the aggregate is integer-exact no
#: matter how either engine orders its partial aggregation.  The average
#: derives from the integer sum (the quotient is a single correctly-rounded
#: double division + floor — also engine-identical).
_A1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT)
         AS sum_qty_e2,
       CAST(sum(CAST(floor(l_extendedprice * 100e0 + 0.5e0) AS BIGINT))
            AS BIGINT) AS sum_base_price_e2,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)
                     AS BIGINT)) AS BIGINT) AS sum_disc_price_e2,
       CAST(floor(CAST(sum(CAST(floor(l_quantity * 100e0 + 0.5e0) AS BIGINT))
                       AS DOUBLE) * 100e0 / count(*)) AS BIGINT) AS avg_qty_e4,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
QUERIES["a1_pricing_summary"] = QueryDef(_sql_query(("lineitem",), _A1_SQL), _A1_SQL)


# ---------------------------------------------------------------------------
# relational rollup + multi-join analytics (one SQL text, two engines)
# ---------------------------------------------------------------------------

_A2_SQL = """
SELECT CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
       coalesce(l_returnflag, '') AS returnflag,
       coalesce(l_linestatus, '') AS linestatus,
       CAST(sum(CAST(floor(l_quantity * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT)
         AS sum_qty_e2,
       CAST(sum(CAST(floor(l_extendedprice * 100e0 + 0.5e0) AS BIGINT))
            AS BIGINT) AS sum_price_e2,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""

#: per-row scaled-int sums (not floor(sum(..))): cent-valued doubles sum
#: order-dependently, and rollup partials make the order engine-specific —
#: same rule as _A1_SQL / _SUM_VALUE_E4
QUERIES["a2_rollup_pricing"] = QueryDef(_sql_query(("lineitem",), _A2_SQL), _A2_SQL)


_A5_SQL = """
SELECT CAST(grouping(lang) AS INTEGER) AS g_lang,
       CAST(grouping(source) AS INTEGER) AS g_src,
       coalesce(lang, '') AS lang,
       coalesce(source, '') AS source,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM documents
GROUP BY CUBE(lang, source)
"""

#: full CUBE (all four grouping sets) over the corpus dimensions — the
#: multi-dimensional reporting twin of a2's ROLLUP; integer aggregates
#: only, identical SQL text in both engines.
QUERIES["a5_cube_corpus"] = QueryDef(_sql_query(("documents",), _A5_SQL), _A5_SQL)

_A3_SQL = """
SELECT n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)
                     AS BIGINT)) AS BIGINT) AS revenue_e2,
       count(*) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""

QUERIES["a3_regional_revenue"] = QueryDef(
    _sql_query(
        ("customer", "orders", "lineitem", "supplier", "nation", "region"), _A3_SQL
    ),
    _A3_SQL,
)


_A4_SQL = """
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       max(CASE WHEN rn = CAST(ceil(0.5e0 * n) AS BIGINT) THEN n_chars END) AS p50,
       max(CASE WHEN rn = CAST(ceil(0.9e0 * n) AS BIGINT) THEN n_chars END) AS p90,
       max(CASE WHEN rn = CAST(ceil(0.99e0 * n) AS BIGINT) THEN n_chars END) AS p99,
       max(n) AS n_docs
FROM r GROUP BY source
"""

#: exact per-group percentiles (discontinuous / "nearest-rank") via explicit
#: row selection — one SQL text, two engines.  Scale shape: ONE shuffle on
#: the group key; both window functions reuse the same partitioning, and the
#: within-group sort is Spark's spillable external sort.  Exact percentiles
#: at 100 TB genuinely cost a per-group sort — this is the honest exact op
#: (approx_percentile is the sketch-tier alternative, but sketches are not
#: oracle-checkable across engines).  The rank index ceil(q·n) is integral
#: double arithmetic — exact for any group size below 2^52, identical in
#: both engines.
QUERIES["a4_length_percentiles"] = QueryDef(
    _sql_query(("documents",), _A4_SQL), _A4_SQL
)


_A6_ORACLE = f"""
SELECT event_type, count(*) AS n, {_SUM_VALUE_E4} AS sum_value_e4
FROM events GROUP BY event_type
"""


@_register("a6_skew_salted_agg", _A6_ORACLE)
def a6_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED aggregation on a deliberately skew-prone key
    (event_type has a handful of values, so at 100 TB a single reducer
    would own each type's entire volume): stage 1 aggregates on
    (event_type, salt) spreading each hot key over 64 reducers, stage 2
    re-aggregates the 64 partials per type.  Because every value scales
    to a BIGINT before ANY sum, the two-stage integer total is exactly
    the one-stage total — the oracle is the plain unsalted GROUP BY.
    This is the engine's documented skew recipe (the alternative, AQE
    skew-join splitting, only covers joins — salting covers aggregation)."""
    ev = load_events(spark, sf_dir).select(
        "event_type",
        (F.col("event_id") % 64).alias("__salt"),
        F.expr("CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT)").alias("__v"),
    )
    partial = ev.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__v").alias("__s")
    )
    return partial.groupBy("event_type").agg(
        F.sum("__n").alias("n"),
        F.sum("__s").cast("bigint").alias("sum_value_e4"),
    )


#: a12's oracle is deliberately written as CORRELATED SUBQUERIES — the
#: classic analyst formulation — while the Spark plan is the decorrelated
#: window form; both engines must agree, and "above the mean" tests as
#: the division-free cross-multiplication spend·n > Σspend.
_A12_ORACLE = """
WITH s AS (SELECT c_custkey, c_nationkey,
                  CAST(coalesce(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0)
                                          AS BIGINT)), 0) AS BIGINT) AS spend_e2
           FROM customer LEFT JOIN orders ON o_custkey = c_custkey
           GROUP BY c_custkey, c_nationkey)
SELECT s.c_custkey, n.n_name, s.spend_e2
FROM s JOIN nation n ON n.n_nationkey = s.c_nationkey
WHERE s.spend_e2 * (SELECT count(*) FROM s s2
                    WHERE s2.c_nationkey = s.c_nationkey)
      > (SELECT sum(spend_e2) FROM s s3
         WHERE s3.c_nationkey = s.c_nationkey)
"""


@_register("a12_above_nation_avg", _A12_ORACLE)
def a12_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers spending strictly above their nation's average — the
    correlated-subquery shape every analyst writes, expressed the way a
    distributed engine should run it: ONE nation-window pass over the
    per-customer spend (count + sum over the same partition — no
    re-scan, no per-row subquery), with the mean test as the
    division-free integer cross-multiplication spend·n > Σspend (exact
    where an AVG would round).  Customers without orders count at 0 —
    they lower the bar, as the business question intends.  Scale shape:
    one custkey aggregation (map-side combined), one nation-keyed window
    exchange, nation dim broadcast."""
    from pyspark.sql import Window

    cents = F.expr("CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", cents.alias("cents")
    )
    s = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("spend_e2"))
    )
    w = Window.partitionBy("c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        s.withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("__tot", F.sum("spend_e2").over(w))
        .where(F.col("spend_e2") * F.col("__n") > F.col("__tot"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name", "spend_e2")
    )


_A7_ORACLE = """
SELECT n.n_name,
       CAST(sum(CASE WHEN o.o_orderstatus = 'O'
                     THEN CAST(floor(o.o_totalprice * 100e0 + 0.5e0) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS open_e2,
       CAST(sum(CASE WHEN o.o_orderstatus = 'F'
                     THEN CAST(floor(o.o_totalprice * 100e0 + 0.5e0) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS finished_e2,
       CAST(sum(CASE WHEN o.o_orderstatus = 'P'
                     THEN CAST(floor(o.o_totalprice * 100e0 + 0.5e0) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS pending_e2,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@_register("a7_pivot_status", _A7_ORACLE)
def a7_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide reshape): per-nation revenue split into one column
    per order status via Spark's native ``pivot`` with an EXPLICIT value
    list — the explicit list is the scale contract (no extra pass to
    discover pivot values, and the output schema is static no matter what
    the data contains).  The oracle states the same reshape as portable
    conditional aggregation.  Per-row scale to BIGINT cents before the
    sum keeps every cell integer-exact.  ``n_orders`` is a plain count
    over the SAME pre-aggregated pass (not the sum of the pivoted cells),
    so it stays oracle-exact even for a status value outside the pivot
    list.  Scale shape: both dims (customer→nation map) broadcast; ONE
    orders-side hash aggregation keyed (nation, status) — the pivot and
    the total then reshape a ≤ 25×|status| frame, and Catalyst's
    ReuseExchange dedupes the shared scan+agg subtree."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.expr("CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)")
    per_status = (
        orders.select("o_custkey", "o_orderstatus", cents.alias("cents"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "o_orderstatus")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    wide = (
        per_status.groupBy("n_name")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum("s"))
    )
    totals = per_status.groupBy("n_name").agg(F.sum("n").alias("n_orders"))
    return wide.join(totals, "n_name").select(
        "n_name",
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("open_e2"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("finished_e2"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("pending_e2"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
    )


_A8_ORACLE = """
WITH l AS (
  SELECT l_partkey,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER) AS ym,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)
              AS BIGINT) AS c
  FROM lineitem
),
g AS (
  SELECT ym,
         CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN l.c ELSE 0 END) AS BIGINT)
           AS promo_e2,
         CAST(sum(l.c) AS BIGINT) AS total_e2
  FROM l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY ym
)
SELECT ym, promo_e2, total_e2,
       CAST((promo_e2 * 1000000) // total_e2 AS BIGINT) AS share_ppm
FROM g
"""


@_register("a8_promo_revenue", _A8_ORACLE)
def a8_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share per ship month: lineitem joins
    the part dimension and the PROMO fraction of discounted revenue rolls
    up monthly — the classic fact×dim conditional-share aggregate.
    Revenue scales per-row to BIGINT cents (the a1 IEEE op sequence) and
    the share is an integer ppm division on non-negative sums, so every
    column is engine-exact.  Scale shape: the part dim broadcasts (it is
    the small side by construction); one fact-side hash aggregation on
    the derived month key with map-side combine — no fact shuffle before
    the aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)"
        ).alias("ym"),
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)"
            " AS BIGINT)"
        ).alias("c"),
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("__promo")
    )
    g = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("ym")
        .agg(
            F.sum(F.when(F.col("__promo"), F.col("c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("promo_e2"),
            F.sum("c").cast("bigint").alias("total_e2"),
        )
    )
    return g.select(
        "ym",
        "promo_e2",
        "total_e2",
        F.expr("CAST((promo_e2 * 1000000) div total_e2 AS BIGINT)").alias(
            "share_ppm"
        ),
    )


_A9_ORACLE = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l.l_quantity * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT)
         AS sum_qty_e2,
       CAST(sum(CAST(floor(o.o_totalprice * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT)
         AS sum_price_e2
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@_register("a9_bucketed_join", _A9_ORACLE)
def a9_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-layout half of the 100 TB join story as a LIVE query:
    orders and lineitem are first WRITTEN bucketed+sorted on the join key
    (16 buckets — the recurring-fact-table layout a nightly pipeline
    maintains), then the fact×fact join reads co-located buckets with
    ZERO exchange on either side (plan pinned in
    tests/test_bucketing.py; here the VALUES are pinned against a plain
    join oracle, proving the bucketed write/read round-trip loses
    nothing).  Only the 5-group priority aggregation shuffles.  At scale
    this turns every recurring orders×lineitem-shaped join from two
    full-data shuffles into none."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    specs = [
        (
            f"sjt_bkt_o_{tag}",
            "o_orderkey",
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_orderpriority",
                F.expr(
                    "CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)"
                ).alias("price_e2"),
            ),
        ),
        (
            f"sjt_bkt_l_{tag}",
            "l_orderkey",
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey",
                F.expr(
                    "CAST(floor(l_quantity * 100e0 + 0.5e0) AS BIGINT)"
                ).alias("qty_e2"),
            ),
        ),
    ]
    for name, key, df in specs:
        (
            df.write.bucketBy(16, key)
            .sortBy(key)
            .option("path", scratch_dir(spark, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    o = spark.table(f"sjt_bkt_o_{tag}")
    li = spark.table(f"sjt_bkt_l_{tag}")
    j = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("qty_e2").cast("bigint").alias("sum_qty_e2"),
        F.sum("price_e2").cast("bigint").alias("sum_price_e2"),
    )


_A10_SQL = """
SELECT CAST(grouping(n_name) AS INTEGER) AS g_nat,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_pri,
       coalesce(n_name, '') AS nation,
       coalesce(o_orderpriority, '') AS priority,
       CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT))
            AS BIGINT) AS rev_e2,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name),
                        (o_orderpriority), ())
"""

#: GROUPING SETS completes the multi-granularity aggregation family (a2
#: ROLLUP, a5 CUBE): the report-matrix shape where the sets are chosen,
#: not hierarchical.  One SQL text runs on both engines; grouping() flags
#: disambiguate a real NULL-ish '' group from a superaggregate row.  At
#: scale Spark expands the sets BEFORE the exchange (Expand node), so the
#: four granularities still cost ONE shuffle of partially-aggregated
#: rows, not four scans.  Per-row scaled-int cents (same rule as _A2_SQL)
#: keep every cell order-independent.
QUERIES["a10_grouping_sets"] = QueryDef(
    _sql_query(("orders", "customer", "nation"), _A10_SQL), _A10_SQL
)


_A11_ORACLE = """
SELECT n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100e0
                           + 0.5e0) AS BIGINT)) AS BIGINT) AS rev_e2
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@_register("a11_local_supplier_revenue", _A11_ORACLE)
def a11_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join: revenue from lineitems where the
    supplier sits in the CUSTOMER's (Asian) nation — the deepest join
    tree in the a-family, and the query where join ORDER and broadcast
    choice decide the plan.  The two facts (orders·lineitem) hash-join on
    their own keys; customer rides the orders join as a key-projected
    dim; the region→nation→supplier chain collapses driver-free into ONE
    pre-filtered broadcast (supplier is TPC-H's smallest dim, SF·10k
    rows) whose theta condition (s_nationkey = c_nationkey) both
    restricts to local suppliers and attaches the nation name.  The date
    filter pushes into the orders SCAN (a third of the fact never leaves
    parquet).  Per-row scaled-int cents, then one 5-group aggregation."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia = (
        nation.join(
            region.where(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    oc = orders.join(cust, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "c_nationkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)"
            " AS BIGINT)"
        ).alias("cents"),
    )
    j = (
        li.join(oc, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return j.groupBy("n_name").agg(
        F.sum("cents").cast("bigint").alias("rev_e2")
    )


#: a13's revenue term follows a3's convention: each line item's discounted
#: price rounds to cents BEFORE the sum, so both engines add the same
#: integers; the top-10 tie-breaks on the explicit key column.
_A13_ORACLE = """
SELECT l_orderkey,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)
                     AS BIGINT)) AS BIGINT) AS revenue_e2,
       epoch_us(o_orderdate) AS o_date_us, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_e2 DESC, l_orderkey
LIMIT 10
"""


@_register("a13_shipping_priority", _A13_ORACLE)
def a13_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): top-10 unshipped BUILDING-segment
    orders by outstanding revenue.  The plan a 100 TB run wants: both
    date predicates push into the parquet scans (only pre-cutoff orders
    and post-cutoff line items are ever read), the segment-filtered
    customer key set broadcasts into the orders scan, and the single
    fact-fact hash join runs on the orderkey both tables already carry.
    The top-10 is TakeOrderedAndProject — per-partition heaps, no global
    sort; ties break on the explicit orderkey so LIMIT is deterministic.
    Cents are rounded per line item before summing (integer-exact, a3's
    convention)."""
    cutoff = "TIMESTAMP '1995-03-15'"
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.expr(f"o_orderdate < {cutoff}"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    items = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.expr(f"l_shipdate > {cutoff}"))
        .select(
            "l_orderkey",
            F.expr(
                "CAST(floor(l_extendedprice * (1 - l_discount) * 100e0"
                " + 0.5e0) AS BIGINT)"
            ).alias("cents"),
        )
    )
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(items, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("cents").cast("bigint").alias("revenue_e2"))
        .select(
            "l_orderkey",
            "revenue_e2",
            F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").alias(
                "o_date_us"
            ),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue_e2").desc(), "l_orderkey")
        .limit(10)
    )


#: a14's oracle keeps the analyst formulation — a scalar subquery for the
#: mean and NOT EXISTS for "never ordered"; the mean test is the same
#: division-free cross-multiplication a12 uses (bal·n > Σbal).
_A14_ORACLE = """
WITH b AS (SELECT c_custkey, c_nationkey,
                  CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT) AS bal_e2
           FROM customer),
g AS (SELECT count(*) AS n_pos, sum(bal_e2) AS s_pos FROM b WHERE bal_e2 > 0)
SELECT c_nationkey, count(*) AS n_cust, CAST(sum(bal_e2) AS BIGINT) AS total_e2
FROM b, g
WHERE b.bal_e2 * g.n_pos > g.s_pos
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = b.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


@_register("a14_idle_high_balance", _A14_ORACLE)
def a14_idle_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity) shape: per nation, the
    customers whose balance beats the positive-balance average but who
    have never placed an URGENT order.  Two classic sub-plans done the
    distributed way: the global mean is a 1-row aggregate broadcast back
    over the fact (no per-row scalar subquery), compared division-free
    as bal·n > Σbal; "never ordered urgent" is a LEFT ANTI hash join on
    the key orders already carries — the oracle's NOT EXISTS, which a
    naive engine would run as a correlated probe — with the priority
    predicate pushed into the orders scan.  Scale shape: one
    map-side-combined 1-row agg, one anti join, one 25-group agg; only
    customer keys and cents ever shuffle."""
    b = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.expr("CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT)").alias(
            "bal_e2"
        ),
    )
    g = (
        b.where(F.col("bal_e2") > 0)
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum("bal_e2").alias("s_pos"),
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        b.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .crossJoin(F.broadcast(g))
        .where(F.col("bal_e2") * F.col("n_pos") > F.col("s_pos"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("bal_e2").cast("bigint").alias("total_e2"),
        )
    )


_A15_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)
                     AS BIGINT)) AS BIGINT) AS revenue_e2
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
"""


@_register("a15_volume_shipping", _A15_ORACLE)
def a15_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade between two nations by
    ship year.  The asymmetric-pair predicate ((A,B) or (B,A)) is applied
    the distributed way: BOTH nation lookups broadcast (25 rows), the
    pair filter collapses to a per-row predicate after the broadcasts,
    and the two fact joins (lineitem⋈orders on orderkey, then ⋈customer)
    hash-join on keys each table already carries; the ship-date range
    pushes into the lineitem scan so only the two target years are read.
    Integer cents per line item before the sum, as throughout."""
    cents = F.expr(
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)"
        " AS BIGINT)"
    )
    items = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            F.expr(
                "l_shipdate >= TIMESTAMP '1995-01-01'"
                " AND l_shipdate < TIMESTAMP '1997-01-01'"
            )
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.expr("CAST(year(l_shipdate) AS BIGINT)").alias("l_year"),
            cents.alias("cents"),
        )
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .where(F.col("n_name").isin("NATION_3", "NATION_7"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .where(F.col("n_name").isin("NATION_3", "NATION_7"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        items.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("cents").cast("bigint").alias("revenue_e2"))
    )


_A16_ORACLE = """
WITH s AS (SELECT c_custkey, c_nationkey,
                  CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT) AS bal_e2
           FROM customer),
d AS (SELECT c_nationkey, bal_e2,
             ntile(10) OVER (PARTITION BY c_nationkey
                             ORDER BY bal_e2, c_custkey) AS decile
      FROM s)
SELECT c_nationkey, CAST(decile AS BIGINT) AS decile,
       count(*) AS n,
       CAST(min(bal_e2) AS BIGINT) AS lo_e2,
       CAST(max(bal_e2) AS BIGINT) AS hi_e2
FROM d GROUP BY 1, 2
"""


@_register("a16_balance_deciles", _A16_ORACLE)
def a16_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance decile bands via NTILE — the
    equal-COUNT banding (every decile within a nation differs by at most
    one member) that a4's rank-selected percentiles can't give, and the
    one ranking window family (ntile) the registry hadn't exercised.
    The window order includes the key column so ties band
    deterministically.  Scale shape: one nation-keyed exchange shared by
    the window and the (nation, decile) rollup; per-nation sort is
    Spark's spillable external sort, no global pass."""
    from pyspark.sql import Window

    s = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.expr("CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT)").alias(
            "bal_e2"
        ),
    )
    w = Window.partitionBy("c_nationkey").orderBy("bal_e2", "c_custkey")
    return (
        s.withColumn("decile", F.ntile(10).over(w).cast("bigint"))
        .groupBy("c_nationkey", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("bal_e2").cast("bigint").alias("lo_e2"),
            F.max("bal_e2").cast("bigint").alias("hi_e2"),
        )
    )


_A19_ORACLE = """
WITH os AS (SELECT l_orderkey, l_suppkey,
                   max(epoch_us(l_shipdate) // 86400000000) AS smax
            FROM lineitem GROUP BY 1, 2),
o AS (SELECT l_orderkey, count(*) AS n_supp, max(smax) AS omax
      FROM os GROUP BY 1),
am AS (SELECT os.l_orderkey, count(*) AS n_at_max
       FROM os JOIN o USING (l_orderkey)
       WHERE os.smax = o.omax GROUP BY 1),
win AS (SELECT os.l_suppkey
        FROM os JOIN o USING (l_orderkey) JOIN am USING (l_orderkey)
        WHERE o.n_supp >= 2 AND am.n_at_max = 1 AND os.smax = o.omax)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM win JOIN supplier ON s_suppkey = l_suppkey
GROUP BY 1, 2
"""


@_register("a19_blocking_supplier", _A19_ORACLE)
def a19_blocking_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped double-correlated EXISTS/NOT-EXISTS: per order
    with lineitems from ≥2 suppliers, the UNIQUE supplier whose shipment
    came last (others shipped, nobody tied) — 'who is everyone waiting
    on', counted per supplier.  Both correlated subqueries decorrelate
    into window functions over ONE (order, supplier)-grained aggregate:
    max-ship over the order, supplier count over the order, and
    tied-at-max count, all sharing a single l_orderkey exchange after
    the per-(order,supplier) combine.  The supplier-name join broadcasts
    the dim.  Ship dates ride as integer epoch-days, so max/tie
    comparisons are exact in both engines."""
    from pyspark.sql import Window

    os_ = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_suppkey",
            F.expr(
                "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"
            ).alias("sday"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("sday").alias("smax"))
    )
    w = Window.partitionBy("l_orderkey")
    dec = os_.select(
        "l_orderkey",
        "l_suppkey",
        "smax",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.max("smax").over(w).alias("omax"),
    ).withColumn(
        "n_at_max",
        F.sum(F.when(F.col("smax") == F.col("omax"), 1).otherwise(0)).over(w),
    )
    win = dec.where(
        (F.col("n_supp") >= 2)
        & (F.col("n_at_max") == 1)
        & (F.col("smax") == F.col("omax"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        win.join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_A17_ORACLE = """
WITH pf AS (SELECT p_partkey FROM part
            WHERE p_brand = 'Brand#13' AND p_size <= 10),
li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
              CAST(floor(l_extendedprice * 100e0 + 0.5e0) AS BIGINT) AS cents
       FROM lineitem JOIN pf ON l_partkey = p_partkey),
st AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sumq,
              count(*) AS cnt
       FROM li GROUP BY l_partkey)
SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) AS rev_e2,
       count(*) AS n_small
FROM li JOIN st USING (l_partkey)
WHERE 5 * qty * cnt < sumq
"""


@_register("a17_small_qty_revenue", _A17_ORACLE)
def a17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated-average filter: revenue from lineitems
    whose quantity sits below 20% of the PART's own average quantity —
    the decorrelation pattern where the scalar subquery becomes a
    per-key aggregate joined back to the fact.  The tiny filtered part
    list broadcasts into the lineitem scan FIRST, so the per-part
    average is computed over the ~1/25th of lineitem that survives, not
    the whole fact; the avg comparison is integer-exact
    (``5·qty·cnt < sum(qty)`` ⟺ ``qty < 0.2·avg``, quantities are
    integral) so the oracle replays bit-for-bit.  At 100 TB the shape
    holds: one broadcast prune, one partial-agg shuffle on the pruned
    partkeys, one AQE-broadcast stats join back.  Reference surface:
    theta conditions (SpatialJoinTransformer's `condition` param) never
    reach correlated subqueries — this is the beyond-reference
    relational tier."""
    pf = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.expr(
                "CAST(floor(l_extendedprice * 100e0 + 0.5e0) AS BIGINT)"
            ).alias("cents"),
        )
    )
    st = li.groupBy("l_partkey").agg(
        F.sum("qty").cast("bigint").alias("sumq"),
        F.count(F.lit(1)).alias("cnt"),
    )
    small = li.join(st, "l_partkey").where(
        F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sumq")
    )
    return small.agg(
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("rev_e2"),
        F.count(F.lit(1)).alias("n_small"),
    )


_A18_ORACLE = """
WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING sum(l_quantity) > 250)
SELECT c_name, c_custkey, o_orderkey,
       CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS oday,
       CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT) AS total_e2,
       total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


@_register("a18_large_volume_customers", _A18_ORACLE)
def a18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped HAVING-driven semi-enrichment: orders whose total
    lineitem quantity exceeds 250, decorated with the customer.  The
    selective HAVING runs FIRST (one partial-agg shuffle on l_orderkey,
    map-side combine does most of the work), and the survivor set —
    a fraction of a percent of orders — then drives both joins, which
    AQE turns into broadcasts of the TINY aggregated side against the
    big dims, never the reverse.  That inversion (aggregate-then-join,
    small side broadcast) is exactly what makes Q18 scale: the orders
    and customer facts are probed once each and never shuffled."""
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("oday"),
        F.expr("CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)").alias(
            "total_e2"
        ),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "oday", "total_e2",
            "total_qty",
        )
    )


_A20_ORACLE = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100e0
                           + 0.5e0) AS BIGINT)) AS BIGINT) AS rev_e2,
       count(*) AS n_items
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY rev_e2 DESC, c_custkey
LIMIT 20
"""


@_register("a20_returned_items", _A20_ORACLE)
def a20_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: the top-20 customers by
    revenue lost to returns in one quarter, decorated with their nation.
    Scale shape: the quarter filter prunes orders FIRST (at 100 TB with
    date-partitioned orders this is partition pruning, not a scan), the
    pruned orders then key one shuffle join against the returned slice
    of lineitem, the customer/nation dims attach by broadcast, and the
    top-20 is TakeOrderedAndProject — per-partition heaps, only 20 rows
    per partition travel to the driver, never a global sort.  Ties break
    on c_custkey so the cut is engine-independent."""
    cents = F.expr(
        "CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100e0"
        " + 0.5e0) AS BIGINT)"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", cents.alias("cents"))
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum("cents").cast("bigint").alias("rev_e2"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("rev_e2").desc(), "c_custkey")
        .limit(20)
    )


_A21_ORACLE = """
WITH oc AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey AND o_orderstatus <> 'F'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM oc GROUP BY c_count
"""


@_register("a21_customer_distribution", _A21_ORACLE)
def a21_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer distribution: a histogram of customers
    by how many (non-finished) orders they placed, INCLUDING the
    zero-order bucket — the left-outer-join-then-double-aggregate
    pattern where the filter must live in the JOIN CONDITION, not a
    WHERE, or the empty-side customers vanish.  Scale shape: one
    custkey-keyed outer-join shuffle where map-side partial counts on
    the orders side collapse the fact before it moves, then the
    second aggregate runs on ≤|distinct counts| rows — essentially
    free.  The orderstatus filter prunes the orders scan."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") != "F")
        .select("o_custkey", "o_orderkey")
    )
    oc = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return oc.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_A22_ORACLE = """
WITH sel AS (
  SELECT c_custkey, c_nationkey,
         CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT) AS bal_e2
  FROM customer WHERE c_nationkey % 2 = 1
),
pos AS (
  SELECT CAST(sum(bal_e2) AS BIGINT) AS tot, count(*) AS n
  FROM sel WHERE bal_e2 > 0
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(bal_e2) AS BIGINT) AS totbal_e2
FROM sel, pos
WHERE bal_e2 * n > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
"""


@_register("a22_sales_opportunity", _A22_ORACLE)
def a22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped global sales opportunity: customers in a target
    nation set with above-average positive balances and NO RECENT
    orders (none since 2000 — "lapsed but liquid"; in this synthetic
    corpus every customer has SOME order, so recency is what the
    original's no-orders-at-all filter becomes), counted per nation.
    Two classic decorrelations in one query: the
    scalar AVG subquery becomes a 1-row aggregate broadcast into a
    cross join, and NOT EXISTS becomes a left-anti join on custkey.
    The average compare is integer-exact (``bal·n > tot`` ⟺
    ``bal > avg``), so no double summation order can split the
    engines.  Scale shape: the nation filter prunes the customer scan,
    the 1-row stats frame broadcasts, and the anti-join shuffles only
    the filtered candidates against order custkeys (at 100 TB the
    orders side would pre-aggregate to distinct o_custkey — AQE sees
    the semi-join structure; candidates are a sliver of customers)."""
    sel = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") % 2 == 1)
        .select(
            "c_custkey",
            "c_nationkey",
            F.expr(
                "CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT)"
            ).alias("bal_e2"),
        )
    )
    pos = sel.where(F.col("bal_e2") > 0).agg(
        F.sum("bal_e2").cast("bigint").alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    cand = (
        sel.crossJoin(F.broadcast(pos))
        .where(F.col("bal_e2") * F.col("n") > F.col("tot"))
        .join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
    )
    return cand.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("bal_e2").cast("bigint").alias("totbal_e2"),
    )


_A23_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


@_register("a23_late_ship_priority", _A23_ORACLE)
def a23_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped priority check: orders in one quarter that had at
    least one lineitem shipped more than 90 days after the order date,
    counted per priority class.  The EXISTS decorrelates to a LEFT SEMI
    join whose condition mixes the equi key with a theta predicate
    (``l_shipdate > o_orderdate + 90 days``) — Spark keeps the equi
    part as the shuffle key and evaluates the theta residual post-match,
    so each order is emitted at most once no matter how many late
    lineitems it has (the semantics count DISTINCT orders, which a plain
    inner join would get wrong).  Scale shape: quarter filter prunes
    orders first, one custkey-free orderkey shuffle, five-row result."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


_A24_ORACLE = """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY year(l_shipdate)
"""


@_register("a24_late_priority_mix", _A24_ORACLE)
def a24_late_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped two-class conditional aggregation: among
    lineitems shipped more than 60 days after ordering, how many belong
    to critical-priority orders vs everything else, per shipping year —
    the CASE-bucketed dual count that monitors whether slow logistics
    hit urgent orders.  Scale shape: ONE orderkey-keyed join (the theta
    date residual evaluates post-match), then a map-combined aggregate
    on ≤|years| groups; the priority column is the only orders payload
    that travels."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
    )
    return j.groupBy(
        F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(
        F.sum(F.when(hi, 1).otherwise(0))
        .cast("bigint")
        .alias("high_line_count"),
        F.sum(F.when(hi, 0).otherwise(1))
        .cast("bigint")
        .alias("low_line_count"),
    )


_A25_ORACLE = """
WITH m AS (
  SELECT n_name,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS month_idx,
         CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT))
              AS BIGINT) AS rev_e2
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name, year(o_orderdate) * 12 + month(o_orderdate) - 1
)
SELECT n_name, month_idx, rev_e2,
       CAST(COALESCE(lag(rev_e2) OVER (PARTITION BY n_name
                                       ORDER BY month_idx), 0) AS BIGINT)
         AS prev_rev_e2,
       CAST(sum(rev_e2) OVER (PARTITION BY n_name ORDER BY month_idx
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS mom3_e2
FROM m
"""


@_register("a25_revenue_momentum", _A25_ORACLE)
def a25_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue momentum per nation: the calendar-month
    rollup decorated with the previous month's figure and the trailing
    3-month sum — the lag + bounded-frame window combination every
    revenue dashboard runs (gaps in the calendar simply shorten the
    frame: ROWS, not RANGE, is the contract here — compare d14's
    RANGE-frame variant).  Scale shape: one (nation, month)-keyed
    map-combined aggregation collapses the fact, then both windows
    share one nation-keyed exchange over the ≤ nations×months frame;
    the dims broadcast."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1"
            " AS BIGINT)"
        ).alias("month_idx"),
        F.expr("CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)").alias(
            "cents"
        ),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    m = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "month_idx")
        .agg(F.sum("cents").cast("bigint").alias("rev_e2"))
    )
    w = Window.partitionBy("n_name").orderBy("month_idx")
    return m.select(
        "n_name", "month_idx", "rev_e2",
        F.coalesce(F.lag("rev_e2").over(w), F.lit(0))
        .cast("bigint")
        .alias("prev_rev_e2"),
        F.sum("rev_e2")
        .over(w.rowsBetween(-2, Window.currentRow))
        .cast("bigint")
        .alias("mom3_e2"),
    )
#: d19: the (weekday × hour) seasonality matrix — traffic shape every
#: capacity plan and anomaly baseline starts from.  One scan, one
#: map-combined ≤168-group aggregate; integer day/hour math keeps the
#: two engines' calendar conventions out of the result.


_A26_SQL = """
WITH v AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, n.n_name,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100e0 + 0.5e0)
              AS BIGINT) AS vol
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n  ON s_nationkey = n.n_nationkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
)
SELECT o_year, n_name, CAST(sum(vol) AS BIGINT) AS volume_e2,
       CAST(floor(sum(vol) * 1000000e0
                  / sum(sum(vol)) OVER (PARTITION BY o_year) + 0.5e0)
            AS BIGINT) AS share_e6
FROM v GROUP BY o_year, n_name
"""
QUERIES["a26_market_share"] = QueryDef(
    _sql_query(
        ("lineitem", "orders", "part", "supplier", "nation", "customer",
         "region"), _A26_SQL
    ),
    _A26_SQL,
)
#: a26: TPC-H Q8 generalized — supplier-nation market share of STANDARD-part
#: volume sold into AMERICA, per order year (the classic two-nation-role
#: query: supplier nation for the share axis, customer nation for the market
#: scope).  Scale shape: lineitem joins orders on orderkey (the one big
#: exchange pair; AQE broadcasts the date-pruned orders side at small SF),
#: every dimension (part/supplier/nation×2/customer/region) broadcasts, one
#: (year, nation) combine, and the share window repartitions ≤50 rows.

_A27_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100e0
                             + 0.5e0) AS BIGINT)) AS BIGINT)
           AS total_revenue_e2
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
),
r2 AS (SELECT *, max(total_revenue_e2) OVER () AS mx FROM revenue)
SELECT s_suppkey, s_name, total_revenue_e2
FROM supplier JOIN r2 ON s_suppkey = supplier_no
WHERE total_revenue_e2 = mx
"""
QUERIES["a27_top_supplier"] = QueryDef(
    _sql_query(("lineitem", "supplier"), _A27_SQL), _A27_SQL
)
#: a27: TPC-H Q15 — the quarter's top-revenue supplier(s).  The max is a
#: window over the ALREADY-AGGREGATED per-supplier revenue (|suppliers|
#: rows, one single-partition window exchange) instead of Q15's scalar
#: subquery, so lineitem is scanned exactly once; the shipdate range prunes
#: at the parquet scan and the supplier dim broadcasts.

_A28_SQL = """
SELECT CASE WHEN p_brand = 'Brand#12' AND p_size <= 25
                 AND l_quantity BETWEEN 1 AND 24 THEN 1
            WHEN p_brand = 'Brand#23' AND p_size <= 35
                 AND l_quantity BETWEEN 10 AND 35 THEN 2
            ELSE 3 END AS bracket,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100e0
                           + 0.5e0) AS BIGINT)) AS BIGINT) AS revenue_e2,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#7')
  AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 1 AND 50
  AND ((p_brand = 'Brand#12' AND p_size <= 25
        AND l_quantity BETWEEN 1 AND 24)
    OR (p_brand = 'Brand#23' AND p_size <= 35
        AND l_quantity BETWEEN 10 AND 35)
    OR (p_brand = 'Brand#7' AND p_size <= 50
        AND l_quantity BETWEEN 20 AND 50))
GROUP BY 1
"""
QUERIES["a28_bracket_revenue"] = QueryDef(
    _sql_query(("lineitem", "part"), _A28_SQL), _A28_SQL
)


_A29_SQL = """
SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000e0 + 0.5e0)
                     AS BIGINT)) AS BIGINT) AS revenue_e4,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""
QUERIES["a29_forecast_revenue"] = QueryDef(
    _sql_query(("lineitem",), _A29_SQL), _A29_SQL
)
#: d23: repeat-purchase cadence per nation — repeat rate (integer
#: cross-multiplied e6) plus EXACT lower-median and p90 inter-order gaps
#: via order statistics (row_number against (n+1)/2 and ceil(0.9n) —
#: order statistics of a multiset are tie-permutation invariant, so no
#: approx-percentile nondeterminism).  One customer-keyed window builds
#: gaps; the per-nation rank window sorts gap rows per nation once.


_A30_SQL = """
WITH s AS (SELECT o_custkey,
                  CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0)
                                AS BIGINT)) AS BIGINT) AS rev
           FROM orders GROUP BY 1),
j AS (SELECT n_name, rev, c_custkey
      FROM s JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey),
r AS (SELECT n_name, rev,
             sum(rev) OVER (PARTITION BY n_name
                            ORDER BY rev DESC, c_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(rev) OVER (PARTITION BY n_name) AS tot,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY rev DESC, c_custkey) AS rn,
             count(*) OVER (PARTITION BY n_name) AS n
      FROM j)
SELECT n_name,
       CAST(min(CASE WHEN cum * 100 >= tot * 80 THEN rn END) AS BIGINT)
         AS top_n_for_80pct,
       CAST(max(n) AS BIGINT) AS n_customers,
       CAST(floor(min(CASE WHEN cum * 100 >= tot * 80 THEN rn END)
                  * 1000000e0 / max(n) + 0.5e0) AS BIGINT) AS share_e6
FROM r GROUP BY n_name
"""
QUERIES["a30_revenue_pareto"] = QueryDef(
    _sql_query(("orders", "customer", "nation"), _A30_SQL), _A30_SQL
)
