"""Extended relational operators: as-of / range joins, pivot, column
profiling (variance / percentiles / approx sketches), scalar functions.

The reference has no joins at all (SURVEY.md §2.2); these cover the join
variants Spark lacks as single primitives (as-of) plus the profiling
surface a data-curation pipeline needs.

Determinism notes:
- variance/stddev are computed from decimal-exact sums surfaced as doubles,
  then combined with plain IEEE double arithmetic — identical operand
  sequence in both engines -> identical results (no order-dependent
  accumulation anywhere);
- exact percentiles: both engines sort and linearly interpolate on the
  same doubles (verified bit-exact empirically);
- approx sketches (HLL++ distinct, Greenwald-Khanna percentiles) are
  engine-specific by design, so they are checked as INVARIANTS: the query
  emits a boolean "within tolerance of the exact value" computed Spark-
  side, and the oracle emits literal true — the hash matches iff the
  sketch really is inside its error budget.
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


_ASOF_ORACLE = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type,
    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM events
)
SELECT user_id, event_id AS purchase_id, last_click_id,
  CAST(floor(epoch(ts)) - floor(epoch(last_click_ts)) AS BIGINT) AS gap_sec
FROM tagged WHERE event_type = 'purchase'
"""


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str | list[str],
    on: str | list[str],
    right_cols: list[str],
    prefix: str = "asof_",
) -> DataFrame:
    """Generic AS-OF join (Spark has no primitive for it): every ``left``
    row gets ``right_cols`` from the most recent ``right`` row with the
    same ``by`` key and ``on``-ordering at-or-before it (NULLs when no
    prior right row exists). Attached columns are named
    ``{prefix}{col}``.

    Implemented as the union-scan pattern: tag the two inputs, union,
    and take ``last(right payload, ignorenulls)`` over the per-key
    time-ordered window — ONE shuffle on the key, no join at all. This
    is the scalable as-of plan: the naive range self-join is quadratic
    per key, and a windowed union scales exactly like any other window
    (AQE handles hot keys). Ties on ``on`` order the RIGHT row first, so
    a same-instant right row counts as "prior-or-same".

    Input contract (validated, not assumed): the internal tag columns
    ``_src``/``_rp``/``_m`` must not collide with caller columns, and
    any left column the right side also carries must have the SAME type
    — the union would otherwise silently coerce or corrupt it.
    """
    by = [by] if isinstance(by, str) else list(by)
    on = [on] if isinstance(on, str) else list(on)
    reserved = {"_src", "_rp", "_m"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"asof_join: input columns collide with internal names "
            f"{sorted(clash)}; rename them first"
        )
    left_t = {f.name: f.dataType for f in left.schema.fields}
    right_t = {f.name: f.dataType for f in right.schema.fields}
    mismatched = [
        c
        for c in left.columns
        if c in right_t and right_t[c] != left_t[c]
    ]
    if mismatched:
        raise TypeError(
            "asof_join: shared columns differ in type between left and "
            f"right: {[(c, str(left_t[c]), str(right_t[c])) for c in mismatched]}"
        )
    payload = F.struct(*[F.col(c).alias(c) for c in right_cols])
    null_payload = F.lit(None).cast(
        right.select(payload.alias("p")).schema["p"].dataType
    )
    keep = [c for c in left.columns]
    l_tag = left.select(
        *keep, F.lit(1).alias("_src"), null_payload.alias("_rp")
    )
    left_types = dict(zip(left.schema.names, left.schema.fields))
    r_tag = right.select(
        *[
            F.col(c)
            if c in right.columns
            else F.lit(None).cast(left_types[c].dataType).alias(c)
            for c in keep
        ],
        F.lit(0).alias("_src"),
        payload.alias("_rp"),
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(*on, "_src")  # right (0) before left (1) on ties
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last(F.col("_rp"), ignorenulls=True).over(w)
    out = (
        l_tag.unionByName(r_tag)
        .withColumn("_m", matched)
        .filter(F.col("_src") == 1)
    )
    return out.select(
        *keep,
        *[F.col("_m")[c].alias(f"{prefix}{c}") for c in right_cols],
    )


def asof_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join demo on the event stream: for every purchase, the most
    recent prior-or-same-instant click of the same user — the generic
    :func:`asof_join` applied to the purchases/clicks split of one scan.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    joined = asof_join(
        purchases,
        clicks,
        by="user_id",
        on=["ts", "event_id"],
        right_cols=["event_id", "ts"],
        prefix="click_",
    )
    # NTZ-safe epoch seconds; bare ts.cast("double") fails analysis when
    # the source delivers TIMESTAMP_NTZ
    gap = (
        F.col("ts").cast("timestamp").cast("long")
        - F.col("click_ts").cast("timestamp").cast("long")
    ).cast("bigint")
    return joined.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("click_event_id").alias("last_click_id"),
        gap.alias("gap_sec"),
    )


_RANGE_JOIN_ORACLE = """
SELECT o_orderpriority, count(*) AS n_lineitems,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders JOIN lineitem
  ON l_orderkey = o_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate < o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderpriority
"""


def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: lineitems shipped within 30 days of their
    order date. Equi key (orderkey) carries the shuffle; the range
    predicate evaluates post-match — the scalable shape for banded
    temporal joins (pure range joins without an equi key need bucketed
    time-bin keys instead)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        orders.join(li, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(dec("l_extendedprice", precision=12))
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "orders_by_month_pivot",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderpriority,
  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
  count(*) AS n,
  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE), 0.0)
  + COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE), 0.0)
  + COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE), 0.0)
    AS total
FROM orders GROUP BY ym, o_orderpriority
""",
)
def orders_by_month_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing (date_format to year-month) + pivot (long ->
    wide status counts) in one grouped pass. Explicit pivot values keep
    the plan static (no extra distinct-values job); n/total are recovered
    from the pivoted per-status aggregates (status domain is O/F/P), so
    the whole result is one Expand-free single-shuffle aggregation."""
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"), "o_orderpriority"
        )
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice", precision=12)).cast("double").alias("t"),
        )
    )
    cnt = lambda s: F.coalesce(F.col(f"{s}_n"), F.lit(0))  # noqa: E731
    tot = lambda s: F.coalesce(F.col(f"{s}_t"), F.lit(0.0))  # noqa: E731
    return piv.select(
        "ym",
        "o_orderpriority",
        cnt("O").alias("n_open"),
        cnt("F").alias("n_filled"),
        cnt("P").alias("n_partial"),
        (cnt("O") + cnt("F") + cnt("P")).alias("n"),
        (tot("O") + tot("F") + tot("P")).alias("total"),
    )


@query(
    "customer_profile",
    oracle="""
WITH s AS (
  SELECT c_mktsegment, count(*) AS n_customers,
    count(DISTINCT c_nationkey) AS n_nations,
    CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
    CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_sq,
    MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
    quantile_cont(c_acctbal, 0.5) AS p50,
    quantile_cont(c_acctbal, 0.9) AS p90,
    quantile_cont(c_acctbal, 0.99) AS p99
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_customers, n_nations, min_bal, max_bal,
  sum_bal / n_customers AS mean_bal,
  (n_customers * sum_sq - sum_bal * sum_bal)
    / (CAST(n_customers AS DOUBLE) * (n_customers - 1)) AS var_bal,
  sqrt((n_customers * sum_sq - sum_bal * sum_bal)
    / (CAST(n_customers AS DOUBLE) * (n_customers - 1))) AS std_bal,
  p50, p90, p99,
  true AS approx_nations_ok,
  true AS approx_p50_ok
FROM s
""",
)
def customer_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling per market segment: counts, exact COUNT(DISTINCT),
    min/max/mean/variance/stddev (sum-of-squares identity over decimal-
    exact sums — no order-dependent double accumulation), exact
    percentiles, PLUS the approximate-sketch invariants:

    - ``approx_nations_ok``: HLL++ approx_count_distinct (rsd=0.02)
      within 5% (or +-1) of the exact distinct count;
    - ``approx_p50_ok``: Greenwald-Khanna approx median within 5% of the
      value range of the exact median.

    The oracle asserts the invariants as literal ``true`` — the driver's
    value hash therefore FAILS if a sketch ever leaves its error budget,
    which is the strongest cross-engine statement possible for
    engine-specific sketch internals."""
    cust = _t(spark, sf_dir, "customer")
    bal = dec("c_acctbal", precision=12)
    s = cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.count_distinct("c_nationkey").alias("n_nations"),
        F.approx_count_distinct("c_nationkey", rsd=0.02).alias("approx_nations"),
        F.sum(bal).cast("double").alias("sum_bal"),
        F.sum(bal * bal).cast("double").alias("sum_sq"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        F.expr("percentile(c_acctbal, 0.5)").alias("p50"),
        F.expr("percentile(c_acctbal, 0.9)").alias("p90"),
        F.expr("percentile(c_acctbal, 0.99)").alias("p99"),
        F.percentile_approx("c_acctbal", 0.5, 10000).alias("approx_p50"),
    )
    n_d = F.col("n_customers").cast("double")
    var = (
        F.col("n_customers") * F.col("sum_sq") - F.col("sum_bal") * F.col("sum_bal")
    ) / (n_d * (F.col("n_customers") - 1))
    nations_ok = (
        F.abs(F.col("approx_nations") - F.col("n_nations"))
        <= F.greatest(F.lit(1.0), 0.05 * F.col("n_nations"))
    )
    p50_ok = F.abs(F.col("approx_p50") - F.col("p50")) <= (
        0.05 * (F.col("max_bal") - F.col("min_bal")) + F.lit(1e-6)
    )
    return s.select(
        "c_mktsegment",
        "n_customers",
        "n_nations",
        "min_bal",
        "max_bal",
        (F.col("sum_bal") / F.col("n_customers")).alias("mean_bal"),
        var.alias("var_bal"),
        F.sqrt(var).alias("std_bal"),
        "p50",
        "p90",
        "p99",
        nations_ok.alias("approx_nations_ok"),
        p50_ok.alias("approx_p50_ok"),
    )


@query(
    "scalar_functions",
    oracle="""
SELECT p_partkey,
  upper(p_brand) AS brand_u,
  substring(p_name, 1, 8) AS name8,
  concat(p_brand, ':', p_type) AS brand_type,
  length(p_name) AS name_len,
  replace(p_type, ' ', '_') AS type_snake,
  CAST(position('a' IN p_name) AS INTEGER) AS first_a,
  abs(p_retailprice - 1000) AS price_dev,
  round(p_retailprice, 1) AS price_r1,
  CAST(floor(p_size / 10) AS BIGINT) AS size_decile,
  CAST(ceil(p_retailprice / 100) AS BIGINT) AS price_centile,
  sqrt(p_retailprice) AS price_sqrt,
  p_size * p_size AS size_sq,
  CAST(p_size AS BIGINT) % 7 AS size_mod7,
  p_brand AS brand_from_map,
  2 AS map_n_keys
FROM part
WHERE p_name LIKE '%e%' AND p_size BETWEEN 10 AND 40
""",
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface in one pass over the part dimension
    (the reference's only string ops are the §1.4 normalization chain):

    - strings: case, slicing, concat, length, search/replace, LIKE;
    - math: abs/round/floor/ceil/sqrt/multiply/mod (the deterministic
      set — transcendentals are excluded; see text_tfidf for why ln
      can't value-hash);
    - maps: build with create_map, read back with element_at / size
      (values chosen so the oracle can state the result relationally).
    """
    part = _t(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return part.filter(
        F.col("p_name").like("%e%") & F.col("p_size").between(10, 40)
    ).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.instr("p_name", "a").cast("int").alias("first_a"),
        F.abs(F.col("p_retailprice") - 1000).alias("price_dev"),
        F.round("p_retailprice", 1).alias("price_r1"),
        F.floor(F.col("p_size") / 10).alias("size_decile"),
        F.ceil(F.col("p_retailprice") / 100).alias("price_centile"),
        F.sqrt("p_retailprice").alias("price_sqrt"),
        (F.col("p_size") * F.col("p_size")).alias("size_sq"),
        (F.col("p_size").cast("bigint") % 7).alias("size_mod7"),
        F.element_at(m, "brand").alias("brand_from_map"),
        F.size(F.map_keys(m)).alias("map_n_keys"),
    )


# -- registered temporal-join suite ----------------------------------------


@query(
    "temporal_join_suite",
    oracle=f"""
SELECT 'asof_clicks' AS kind, CAST(user_id AS VARCHAR) AS k,
       purchase_id, last_click_id, gap_sec AS n, CAST(NULL AS DOUBLE) AS value
FROM ({_ASOF_ORACLE})
UNION ALL
SELECT 'range_ship_window', o_orderpriority, NULL, NULL, n_lineitems,
       total_price
FROM ({_RANGE_JOIN_ORACLE})
""",
)
def temporal_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two temporal-join shapes Spark lacks as primitives, tagged:
    the as-of join (last prior click per purchase — single window pass,
    no join) and the banded range join (equi key + interval residual).
    Consolidated so both stay inside the driver's bounded correctness
    window; each branch is value-checked via its UNION ALL oracle twin."""
    asof = asof_join_clicks(spark, sf_dir).select(
        F.lit("asof_clicks").alias("kind"),
        F.col("user_id").cast("string").alias("k"),
        "purchase_id",
        "last_click_id",
        F.col("gap_sec").alias("n"),
        F.lit(None).cast("double").alias("value"),
    )
    rj = range_join_ship_window(spark, sf_dir).select(
        F.lit("range_ship_window").alias("kind"),
        F.col("o_orderpriority").alias("k"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.lit(None).cast("bigint").alias("last_click_id"),
        F.col("n_lineitems").alias("n"),
        F.col("total_price").alias("value"),
    )
    return asof.unionByName(rj)
