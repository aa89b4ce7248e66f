"""Relational operator suite: joins, aggregations, windows, set ops, top-k.

The reference has NONE of these (SURVEY.md §2.2 — its only relational-ish
op is the per-key merge of mapper outputs, a group-by-key). They are part
of the engine's extended surface, expressed purely with Spark built-ins so
Catalyst/Tungsten handle planning (broadcast vs shuffle join, partial
aggregation, TakeOrderedAndProject for top-k).

Registration policy: closely-related operator variants are consolidated
into one registered query each (tagged unions / wide selects) so every
driver correctness row covers a family — the driver caps the number of
checked queries, and one green row per family beats unchecked singletons.
The single-variant library functions remain importable.

Oracle determinism rules used throughout (see functions/numeric.py):
- double SUM/AVG go through exact DECIMAL accumulation, surfaced as double;
- timestamps are never emitted raw — formatted to strings or extracted to
  ints so Spark/DuckDB/pandas timezone plumbing can't drift;
- every ORDER BY ... LIMIT has a unique-key tiebreak so the selected SET of
  rows is deterministic (the driver's compare is order-insensitive but the
  membership must match).

Scale notes (100 TB):
- region/nation (and at most supplier) are broadcast — explicitly hinted so
  the plan survives stale stats; customer/orders/lineitem join on their
  keys via shuffle hash/sort-merge with AQE skew splitting.
- Aggregations are all partial->final (map-side combine); no collect()
  anywhere; top-k is per-partition top-k + single merge, never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gcp_map_reduce_spark.functions.numeric import dec, dsum
from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# -- TPC-H-style analytics ------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. Single scan -> partial/final
    HashAggregate; the shipdate filter is pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    qty, price = dec("l_quantity", precision=12), dec("l_extendedprice", precision=12)
    disc, tax = dec("l_discount", 2, 4), dec("l_tax", 2, 4)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + top-k (tiebreak on l_orderkey).

    The fact join pins SHUFFLE_HASH on the CUST-ORDERS side (r9 found
    the trap, r10 picked the build side): without a hint Catalyst
    BROADCASTS the filtered lineitem FACT — the pruned scan's size
    estimate (4/16 columns of the file bytes, ~29 MB at stress) slips
    under the raised 64 MB broadcast threshold, and the shipdate filter
    doesn't lower the estimate without stats (3.99 -> 1.44 s best-of-3
    at stress with the hint). The hint sits on cust-orders, NOT
    lineitem, so the segment-filtered smaller relation becomes the
    in-memory hash BUILD side and lineitem streams — ShuffledHashJoin's
    per-partition build map cannot spill, so building on the largest
    relation is an OOM trap at 100 TB (r9 advice; also measured faster
    at sf0.1: 0.44 vs 0.51 s min-of-4, values identical).
    Measured-and-rejected alternatives: SHUFFLE_MERGE on lineitem
    (same 0.44 s, pays a sort — kept in reserve if the build side ever
    outgrows memory); pre-aggregating lineitem revenue by l_orderkey
    BEFORE the join (1.74 s — it pays the agg shuffle for the ~4/5 of
    orders the customer-segment filter later drops). Same trap class as
    join_outer_broadcast's r8 fix; both are pinned by
    tests/test_plans.py's no-fact-broadcast gate."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp")
    )
    price = dec("l_extendedprice", precision=12)
    disc = dec("l_discount", 2, 4)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .hint("shuffle_hash")
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join, selective-dimensions-first order
    (r8, measured): the ASIA region predicate is pushed through
    nation -> supplier and nation -> customer as broadcast joins BEFORE
    any fact-side shuffle, so the big exchanges carry 1/|regions| of the
    rows — lineitem enters its orderkey shuffle already reduced by the
    broadcast supplier join, and the orders⋈customer shuffle sees only
    ASIA customers. vs the naive cust⋈orders⋈lineitem-first order:
    1.05 -> 0.81 s at sf0.1 and 3.60 -> 1.18 s at the 10x stress set
    (identical values — exact decimal sums are order-independent).
    Catalyst doesn't reorder DataFrame joins without table stats, so the
    join order IS the plan choice here; at 100 TB the saved exchange is
    ~|lineitem| * (1 - region selectivity) rows."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_n = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    supp_asia = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(asia_n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust_asia = cust.join(
        F.broadcast(asia_n.select(F.col("n_nationkey").alias("c_nk"))),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey", "c_nationkey")
    price = dec("l_extendedprice", precision=12)
    disc = dec("l_discount", 2, 4)
    li_s = li.join(supp_asia, li.l_suppkey == supp_asia.s_suppkey)
    oc = orders.join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
    return (
        li_s.join(
            oc,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share: fact scan joined to the part
    dimension (broadcast — at 100 TB part is still orders of magnitude
    smaller than lineitem), conditional aggregation, exact decimal sums
    with one final double division. (Library form; registered via
    ``q6_q14_revenue``.)"""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    part = F.broadcast(_t(spark, sf_dir, "part"))
    price = dec("l_extendedprice", precision=12)
    disc = dec("l_discount", 2, 4)
    rev = price * (F.lit(1) - disc)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(16,4)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q7_nation_volume",
    oracle="""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
  CAST(strftime(l_shipdate, '%Y') AS INT) AS ship_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_lines
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY cust_nation, supp_nation, ship_year
""",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style cross-nation trade volume: the nation dimension
    joins TWICE under different roles (customer's vs supplier's nation) —
    both broadcast; the theta predicate (different nations) filters after
    the equi-joins."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    cn = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
        )
    )
    sn = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
        )
    )
    price = dec("l_extendedprice", precision=12)
    disc = dec("l_discount", 2, 4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cn, cust.c_nationkey == F.col("cnk"))
        .join(sn, supp.s_nationkey == F.col("snk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item revenue ranking: join-agg-topk with
    the returnflag filter pushed to the lineitem scan and the top-20
    taken as TakeOrderedAndProject (never a full sort)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    price = dec("l_extendedprice", precision=12)
    disc = dec("l_discount", 2, 4)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180
)
SELECT c_custkey, o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  CAST(o_totalprice AS DOUBLE) AS totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: aggregate-then-HAVING over
    the fact table produces a small key set that SEMI-joins back to
    orders — the filter-by-aggregate shape. The big-order key list is
    broadcast (post-aggregation it is tiny at any scale)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity", precision=12)).alias("qty"))
        .filter(F.col("qty") > 180)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(big), orders.o_orderkey == big.l_orderkey, "semi"
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style scan-heavy filter+agg: every predicate reaches the
    parquet scan (PushedFilters), projection prunes to 4 columns.
    (Library form; registered via ``q6_q14_revenue``.)"""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice", precision=12) * dec("l_discount", 2, 4))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q6_q14_revenue",
    oracle="""
SELECT 'q6_revenue' AS metric,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS value,
  count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
UNION ALL
SELECT 'q14_promo_pct' AS metric,
  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
      ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS value,
  count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
""",
)
def q6_q14_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two single-row revenue metrics as one tagged result: Q6's
    forecast revenue (scan-heavy pushed-filter agg) and Q14's promo share
    (broadcast dim join + conditional agg). Both branches keep their own
    plan shape; the union costs nothing (2 rows)."""
    q6 = q6_forecast_revenue(spark, sf_dir).select(
        F.lit("q6_revenue").alias("metric"),
        F.col("revenue").alias("value"),
        "n_rows",
    )
    q14 = q14_promo_revenue(spark, sf_dir).select(
        F.lit("q14_promo_pct").alias("metric"),
        F.col("promo_pct").alias("value"),
        "n_rows",
    )
    return q6.unionByName(q14)


# -- join variants --------------------------------------------------------

@query(
    "join_semi_anti",
    oracle="""
SELECT 'semi_big_order' AS kind, c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
UNION ALL
SELECT 'anti_no_orders' AS kind, c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins, one tagged result: customers with at
    least one big order / customers with no orders at all. Semi joins
    never duplicate the left side — no post-join distinct needed."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 400000)
    semi = cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        F.lit("semi_big_order").alias("kind"), "c_custkey", "c_name"
    )
    anti = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.lit("anti_no_orders").alias("kind"), "c_custkey", "c_name")
    return semi.unionByName(anti)


@query(
    "join_outer_broadcast",
    oracle="""
SELECT c_custkey, r_name, count(o_orderkey) AS n_orders,
  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spend
FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
GROUP BY c_custkey, r_name
""",
)
def join_outer_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER fact join + broadcast dimension chain in one query:
    order count / spend per customer INCLUDING zero-order customers
    (null-safe count/sum), enriched with the region name via explicitly
    broadcast nation -> region (zero shuffle on the dim side).

    The customer⋈orders leg carries a SHUFFLE_HASH hint (r8, measured):
    left alone, AQE broadcast the 1.5M-row ORDERS side at the stress
    scale and probed it from the single-split customer scan — one 1 s
    task holding the whole query, and the one plan shape that cannot
    exist at 100 TB (the fact side is never broadcastable). The hinted
    shuffle join partitions both sides on custkey: 1.76 -> 0.63 s at
    sf1 stress and 0.67 -> 0.54 s at sf0.1, value-identical."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").hint("shuffle_hash")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("c_custkey", "r_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice", precision=12)), F.lit(0))
            .cast("double")
            .alias("total_spend"),
        )
    )


# -- window functions -----------------------------------------------------

@query(
    "window_rank_orders",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number (deterministic tiebreak).
    At scale this is the grouped-top-k pattern: one hash shuffle on the
    partition key, per-partition sort, no global sort."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_suite",
    oracle="""
SELECT user_id, event_id, value,
  value - lag(value) OVER wo AS delta,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER wrows AS DOUBLE) AS running_value,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER wrange AS DOUBLE) AS value_30min,
  ntile(4) OVER wo AS value_quartile,
  percent_rank() OVER wo AS pct_rank,
  cume_dist() OVER wo AS cume
FROM events
WINDOW
  wo AS (PARTITION BY user_id ORDER BY ts, event_id),
  wrows AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  wrange AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
""",
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window family over the per-user event stream, one
    query / one partitioning: lag delta, ROWS-frame running sum,
    value-based RANGE frame (trailing 30 min on epoch seconds), and the
    distribution functions (ntile / percent_rank / cume_dist). All specs
    share the user_id partitioning, so one hash shuffle feeds every
    window; decimal-exact sums and the (ts, event_id) total order make
    each column bit-deterministic.

    Every aggregate frame grows: the trailing 30 minutes are the
    difference of two frames that start at UNBOUNDED PRECEDING (up to
    the current second, and up to 1,801 s before it), so Spark extends
    a running aggregate row by row instead of re-summing a sliding
    frame, and the window pass is linear in a user's row count. Decimal
    subtraction is exact, so the doubles equal the direct frame sum bit
    for bit. A window partition is still ONE task: a hot user costs one
    task that scales linearly with its rows and spills through the
    window buffer."""
    ev = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrows = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # NTZ won't cast straight to long; session is pinned UTC, matching
    # DuckDB's epoch()
    sec = F.col("ts").cast("timestamp").cast("long")
    wsec = Window.partitionBy("user_id").orderBy(sec)
    upto = wsec.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    before = wsec.rangeBetween(Window.unboundedPreceding, -1801)
    val = dec("value", precision=12)

    def last_30min(agg):
        # a NULL key's RANGE frame is its NULL peers, which sort first,
        # so nothing precedes it
        gone = F.coalesce(F.when(sec.isNotNull(), agg.over(before)), F.lit(0))
        return agg.over(upto) - gone

    return ev.select(
        "user_id",
        "event_id",
        "value",
        (F.col("value") - F.lag("value").over(wo)).alias("delta"),
        F.sum(val).over(wrows).cast("double").alias("running_value"),
        F.when(last_30min(F.count(val)) > 0, last_30min(F.sum(val)))
        .cast("double")
        .alias("value_30min"),
        F.ntile(4).over(wo).alias("value_quartile"),
        F.percent_rank().over(wo).alias("pct_rank"),
        F.cume_dist().over(wo).alias("cume"),
    )


def with_session_id(
    df: DataFrame,
    by: str | list[str],
    ts_col: str,
    gap_sec: int,
    order_cols: list[str] | None = None,
    out_col: str = "session_id",
) -> DataFrame:
    """Generic gap-based sessionizer: every row gets a ``{out_col}``
    (1-based, per ``by`` key, in ``order_cols`` order) that increments
    whenever the gap since the previous row exceeds ``gap_sec`` — the
    batch analog of streaming session windows, as a reusable operator.

    Two window passes over ONE shuffle on the key: a lag to flag session
    starts, then a running sum of the flags. Scales like any per-key
    window (AQE splits hot keys)."""
    by = [by] if isinstance(by, str) else list(by)
    order_cols = [ts_col] if order_cols is None else order_cols
    wo = Window.partitionBy(*by).orderBy(*order_cols)
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # NTZ-safe epoch seconds; bare ts.cast("double") fails analysis when
    # the source delivers TIMESTAMP_NTZ
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    new_session = F.when(
        (epoch - F.lag(epoch).over(wo) > gap_sec)
        | F.lag(ts_col).over(wo).isNull(),
        1,
    ).otherwise(0)
    return df.withColumn(
        out_col, F.sum(new_session).over(wrun).cast("bigint")
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counting with a 30-min inactivity gap — the generic
    :func:`with_session_id` aggregated per user. (Library form;
    registered via ``user_event_profile``, which computes the same count
    in its single-pass fold.)"""
    ev = _t(spark, sf_dir, "events")
    tagged = with_session_id(
        ev, by="user_id", ts_col="ts", gap_sec=1800,
        order_cols=["ts", "event_id"],
    )
    return tagged.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "user_event_profile",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS vt FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS ct FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS pt FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id
),
flagged AS (
  SELECT user_id, ts,
    CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts)))
              OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
         count(*) AS n_events
  FROM flagged GROUP BY user_id
)
SELECT s.user_id,
  CASE WHEN pt IS NOT NULL THEN 3 WHEN ct IS NOT NULL THEN 2
       WHEN vt IS NOT NULL THEN 1 ELSE 0 END AS reached_stage,
  s.n_sessions, s.n_events
FROM sess s
LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
""",
)
def user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral profile in ONE shuffle: ordered funnel stage
    (view -> click -> purchase, each stage's earliest qualifying event
    strictly after the previous stage's) AND gap-based session count
    (30-min inactivity) AND event count.

    Plan: one groupBy(user_id) collects the user's time-sorted event list
    (struct array); the funnel and the session count are each one ordered
    array fold over it — per-user work, no further exchange. The naive
    funnel is 4 scans + 3 joins of the events table (the DuckDB oracle
    keeps that form); this is the single-pass rewrite. Per-user event
    lists are bounded in practice (and at 100 TB you additionally bound
    them by time-windowing the input scan), so the collected array is
    small; the fold is a Catalyst higher-order function, not Python.

    The shuffled payload is the MINIMAL per-event struct (r14, the
    local-cluster serialization audit): ``(ts, et tinyint)`` — the
    event_type string is mapped to a byte BEFORE the exchange and
    event_id is dropped entirely (it only tie-broke the sort, and every
    output is tie-order-invariant: the folds compare VALUES — ``ts >
    vt`` and second deltas — so permuting equal-ts events cannot change
    vt/ct/pt, the session count, or the size). Roughly halves the
    exchange's bytes vs shipping (ts, event_id, event_type) structs —
    pure win in multi-process mode where ser/de is real.
    """
    ev = _t(spark, sf_dir, "events")
    et = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
        .cast("tinyint")
    )
    evs = F.sort_array(F.collect_list(F.struct("ts", et.alias("et"))))
    g = ev.groupBy("user_id").agg(evs.alias("evs"))

    # funnel fold: carry (vt, ct, pt) timestamps; events arrive in time
    # order, so the first qualifying event IS the stage minimum
    def funnel_step(acc, x):
        vt, ct, pt = acc["vt"], acc["ct"], acc["pt"]
        is_view = x["et"] == F.lit(1)
        is_click = x["et"] == F.lit(2)
        is_buy = x["et"] == F.lit(3)
        new_vt = F.when(vt.isNull() & is_view, x["ts"]).otherwise(vt)
        new_ct = F.when(
            ct.isNull() & is_click & vt.isNotNull() & (x["ts"] > vt), x["ts"]
        ).otherwise(ct)
        new_pt = F.when(
            pt.isNull() & is_buy & ct.isNotNull() & (x["ts"] > ct), x["ts"]
        ).otherwise(pt)
        return F.struct(
            new_vt.alias("vt"), new_ct.alias("ct"), new_pt.alias("pt")
        )

    ts_null = F.lit(None).cast("timestamp")
    funnel = F.aggregate(
        F.col("evs"),
        F.struct(ts_null.alias("vt"), ts_null.alias("ct"), ts_null.alias("pt")),
        funnel_step,
    )

    # session fold: carry (prev epoch-second, session count)
    def sess_step(acc, x):
        # NTZ-safe epoch seconds (see sessionize_events)
        sec = x["ts"].cast("timestamp").cast("long")
        is_new = acc["prev"].isNull() | (sec - acc["prev"] > 1800)
        return F.struct(
            sec.alias("prev"),
            (acc["n"] + F.when(is_new, 1).otherwise(0)).alias("n"),
        )

    sessions = F.aggregate(
        F.col("evs"),
        F.struct(
            F.lit(None).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("n"),
        ),
        sess_step,
        lambda acc: acc["n"],
    )

    stage = (
        F.when(F.col("f")["pt"].isNotNull(), 3)
        .when(F.col("f")["ct"].isNotNull(), 2)
        .when(F.col("f")["vt"].isNotNull(), 1)
        .otherwise(0)
    )
    return (
        g.select(
            "user_id",
            funnel.alias("f"),
            sessions.alias("n_sessions"),
            F.size("evs").cast("bigint").alias("n_events"),
        )
        .select("user_id", stage.alias("reached_stage"), "n_sessions", "n_events")
    )


# -- set operations -------------------------------------------------------

_CUST_1995 = (
    "SELECT DISTINCT o_custkey FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'"
)
_CUST_2000 = (
    "SELECT DISTINCT o_custkey FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'"
)


def _cust_year(spark, sf_dir, lo=None, hi=None):
    orders = _t(spark, sf_dir, "orders")
    if lo:
        orders = orders.filter(F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
    if hi:
        orders = orders.filter(F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    return orders.select("o_custkey").distinct()


@query(
    "set_ops",
    oracle=f"""
SELECT 'union' AS op, * FROM ({_CUST_1995} UNION {_CUST_2000})
UNION ALL
SELECT 'intersect' AS op, * FROM ({_CUST_1995} INTERSECT {_CUST_2000})
UNION ALL
SELECT 'except' AS op, * FROM ({_CUST_1995} EXCEPT {_CUST_2000})
""",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over the 1995-vs-2000 active-customer
    key sets, one tagged result (either-year / both-years / churned)."""
    a = _cust_year(spark, sf_dir, "1995-01-01 00:00:00", "1996-01-01 00:00:00")
    b = _cust_year(spark, sf_dir, "2000-01-01 00:00:00", None)
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "o_custkey")  # noqa: E731
    return (
        tag(a.union(b).distinct(), "union")
        .unionByName(tag(a.intersect(b), "intersect"))
        .unionByName(tag(a.exceptAll(b).distinct(), "except"))
    )


# -- grouping sets / distinct aggs / top-k --------------------------------

@query(
    "agg_multidim",
    oracle="""
SELECT o_orderpriority, o_orderstatus, count(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority),
                        (o_orderstatus), ())
""",
)
def agg_multidim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregation via explicit GROUPING SETS — all four
    combinations of (priority, status), i.e. the full CUBE (a strict
    superset of ROLLUP's prefix sets). One Expand + a single shuffle
    produces every subtotal level."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupingSets(
        [
            ["o_orderpriority", "o_orderstatus"],
            ["o_orderpriority"],
            ["o_orderstatus"],
            [],
        ],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(F.count("*").alias("n"), dsum("o_totalprice", "total", 2))


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: compiles to TakeOrderedAndProject (per-partition heap
    + driver merge of k rows), not a full distributed sort."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    ).limit(15)


GROUPED_TOPK_K = 5


@query(
    "topk_orders",
    oracle=f"""
SELECT 'global' AS scope, CAST(NULL AS VARCHAR) AS grp,
       o_orderkey, o_custkey, o_totalprice
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
)
UNION ALL
SELECT 'grouped', o_orderpriority, o_orderkey, o_custkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_custkey, o_totalprice,
    row_number() OVER (PARTITION BY o_orderpriority
      ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= {GROUPED_TOPK_K}
""",
)
def topk_orders_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k family, tagged: the global top-15 (TakeOrderedAndProject —
    :func:`topk_orders`) plus the skew-safe two-phase salted per-group
    top-:data:`GROUPED_TOPK_K` by order priority
    (:func:`gcp_map_reduce_spark.operators.scale.grouped_topk` — local
    top-k per (group, salt) then top-k of the survivors, so a hot group
    never sorts in one task). The oracle's grouped branch is the plain
    one-window form — the salted decomposition must produce identical
    rows, which is exactly the property worth value-checking."""
    from gcp_map_reduce_spark.operators.scale import grouped_topk

    glob = topk_orders(spark, sf_dir).select(
        F.lit("global").alias("scope"),
        F.lit(None).cast("string").alias("grp"),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_custkey", "o_totalprice"
    )
    grouped = grouped_topk(
        orders,
        by="o_orderpriority",
        order_col="o_totalprice",
        tiebreak_col="o_orderkey",
        k=GROUPED_TOPK_K,
    ).select(
        F.lit("grouped").alias("scope"),
        F.col("o_orderpriority").alias("grp"),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
    )
    return glob.unionByName(grouped)


@query(
    "orders_above_cust_avg",
    oracle="""
WITH cavg AS (
  SELECT o_custkey AS k,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price
  FROM orders GROUP BY o_custkey
)
SELECT o_orderkey, o_custkey, o_totalprice, avg_price
FROM orders JOIN cavg ON o_custkey = k
WHERE o_totalprice > 2 * avg_price
""",
)
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery pattern (orders > 2x their customer's average),
    decorrelated into agg + self-join — the plan Catalyst would produce
    for the subquery form."""
    orders = _t(spark, sf_dir, "orders")
    cavg = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        (F.sum(dec("o_totalprice", precision=12)).cast("double") / F.count("*")).alias(
            "avg_price"
        )
    )
    return (
        orders.join(cavg, orders.o_custkey == cavg.k)
        .filter(F.col("o_totalprice") > 2 * F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "avg_price")
    )


# -- temporal / json scalar functions -------------------------------------

@query(
    "events_enriched_hourly",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
  count(*) AS n, count(DISTINCT user_id) AS n_users,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY hour, event_type
""",
)
def events_enriched_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregation over the event stream table —
    the batch counterpart of the streaming windowed agg (streaming/) —
    with a JSON-path extraction from the props payload folded into the
    same pass (the reference only ever used JSON as a storage format,
    never queried it — O15).

    Shuffle-key discipline (r12, local-cluster ser/de finding): group on
    the TRUNCATED TIMESTAMP (8 bytes) and render the display string
    after the final aggregate — the r11 plan formatted 'yyyy-MM-dd
    HH:00' per row BEFORE the exchanges, so both the distinct-agg and
    the final shuffle carried a 16-char string key per partial row.
    date_trunc is bijective with the formatted string (session pinned
    UTC), so values are unchanged."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("_hour_ts"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            dsum("value", "total_value"),
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias(
                "sum_k"
            ),
        )
        .select(
            F.date_format("_hour_ts", "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            "n",
            "n_users",
            "total_value",
            "sum_k",
        )
    )
