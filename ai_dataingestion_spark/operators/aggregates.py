"""§2.D Aggregations.

All group-bys ride Catalyst's HashAggregateExec partial→final pair, so
map-side combine is automatic — at 100 TB the shuffle carries one row per
(partition, group), not per input row. Float aggregates are rounded on both
engine and oracle sides before hashing (SURVEY.md §5.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    NET_PRICE_SQL,
    money_sum,
    money_sum_sql,
    net_price,
    stable_rounded_sum,
    stable_rounded_sum_sql,
    stable_sum,
)
from ai_dataingestion_spark.registry import Tables


@register(
    "agg_groupby",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                        AS sum_qty,
  {stable_rounded_sum_sql("l_extendedprice", 2)}                   AS sum_base_price,
  {money_sum_sql(NET_PRICE_SQL)}                                   AS sum_disc_price,
  {money_sum_sql(NET_PRICE_SQL + " * (1 + l_tax)")}                AS sum_charge,
  round(avg(l_quantity), 4)                                        AS avg_qty,
  round(avg(l_extendedprice), 4)                                   AS avg_price,
  round(avg(l_discount), 6)                                        AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary over lineitem (flagship query).

    Scale notes: filter reaches the parquet scan as a pushed min/max predicate
    (shipdate row-group pruning); the aggregation is 6 groups wide, so the
    shuffle after partial agg is ~6 rows per task regardless of input size.
    """
    li = Tables(spark, sf_dir).lineitem
    disc_price = net_price()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            stable_rounded_sum("l_extendedprice", 2).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_global",
    oracle="""
SELECT
  count(*)                              AS n_rows,
  round(sum(l_quantity), 2)             AS total_qty,
  round(avg(l_extendedprice), 4)        AS avg_price,
  round(min(l_extendedprice), 2)        AS min_price,
  round(max(l_extendedprice), 2)        AS max_price,
  count(DISTINCT l_orderkey)            AS n_orders
FROM lineitem
""",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate battery over lineitem (single-row result)."""
    li = Tables(spark, sf_dir).lineitem
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT l_partkey) AS n_part,
       round(sum(DISTINCT l_quantity), 2) AS sum_dist_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT)/sum(DISTINCT) per group — Spark expands these to a
    two-level aggregate (distinct on (group, value), then final agg), so the
    shuffle still carries one row per distinct pair, never raw input."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_dist_qty"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_tol
FROM events
GROUP BY event_type
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event_type (approx_count_distinct).

    The raw sketch estimate is engine-specific (Spark HLL != DuckDB HLL), so
    the oracle-checkable surface is the TOLERANCE: the query emits the exact
    distinct count plus a boolean asserting the HLL estimate landed within
    5% of it, and the oracle expects that boolean to be uniformly TRUE. A
    drifting HLL implementation now fails the hash check loudly instead of
    hiding behind a rows-only record (VERDICT r3 item 8)."""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.05)
            ).alias("hll_within_tol"),
        )
    )


@register(
    "agg_having",
    oracle="""
SELECT c_nationkey, round(avg(c_acctbal), 4) AS avg_bal, count(*) AS n_cust
FROM customer
GROUP BY c_nationkey
HAVING avg(c_acctbal) > 1000
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group + post-aggregation filter (HAVING)."""
    c = Tables(spark, sf_dir).customer
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.avg("c_acctbal").alias("_avg_raw"),
            F.count(F.lit(1)).alias("n_cust"),
        )
        .filter(F.col("_avg_raw") > 1000)
        .select(
            "c_nationkey",
            F.round("_avg_raw", 4).alias("avg_bal"),
            "n_cust",
        )
    )


def _region_nation_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.customer.join(
        F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))


@register(
    "agg_rollup",
    oracle=f"""
SELECT r_name, n_name, count(*) AS n_cust,
       {stable_rounded_sum_sql("c_acctbal", 2)} AS bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals region → nation → grand total."""
    return (
        _region_nation_customer(spark, sf_dir)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            stable_rounded_sum("c_acctbal", 2).alias("bal"),
        )
    )


@register(
    "agg_cube",
    oracle=f"""
SELECT event_type, hour(ts) AS hr, count(*) AS n,
       {stable_rounded_sum_sql("value", 2)} AS total
FROM events
GROUP BY CUBE (event_type, hour(ts))
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All marginal totals over (event_type, hour-of-day)."""
    e = Tables(spark, sf_dir).events.withColumn("hr", F.hour("ts").cast("bigint"))
    return e.cube("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        stable_rounded_sum("value", 2).alias("total"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT r_name, n_name, count(*) AS n_cust
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY GROUPING SETS ((r_name), (n_name), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: per-region, per-nation, grand total (SQL entry
    point EP2 — the same Catalyst Expand node as rollup/cube)."""
    df = _region_nation_customer(spark, sf_dir)
    df.createOrReplaceTempView("_gs_rnc")
    return spark.sql(
        """
        SELECT r_name, n_name, count(*) AS n_cust
        FROM _gs_rnc
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """
    )


@register(
    "agg_percentile",
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of order price per status (Spark
    `percentile` == DuckDB `quantile_cont`, both linear interpolation)."""
    o = Tables(spark, sf_dir).orders
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", 0.50), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.75), 4).alias("p75"),
    )


@register(
    "agg_stats",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       CASE WHEN var_samp(l_extendedprice) = 0 THEN 0.0
            ELSE round(var_samp(l_extendedprice)
                   / pow(10, floor(log10(abs(var_samp(l_extendedprice))))), 6)
       END AS var_price_mant,
       CAST(CASE WHEN var_samp(l_extendedprice) = 0 THEN 0
                 ELSE floor(log10(abs(var_samp(l_extendedprice)))) END
            AS INT) AS var_price_exp10,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       CASE WHEN covar_samp(l_quantity, l_extendedprice) = 0 THEN 0.0
            ELSE round(covar_samp(l_quantity, l_extendedprice)
                   / pow(10, floor(log10(abs(
                       covar_samp(l_quantity, l_extendedprice))))), 6)
       END AS covar_mant,
       CAST(CASE WHEN covar_samp(l_quantity, l_extendedprice) = 0 THEN 0
                 ELSE floor(log10(abs(
                     covar_samp(l_quantity, l_extendedprice)))) END
            AS INT) AS covar_exp10
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate battery (sample stddev/variance/corr/covar).

    Variance and covariance GROW with the value domain (var of 5e9-scale
    prices is ~1e15, where fixed-decimal rounding sits below the double
    ulp), so they are emitted as 6-significant-digit mantissa/exponent
    pairs — the scale-invariant emission functions/portable.py pins.
    stddev (the root) and corr (scale-free) stay fixed-dp."""
    from ai_dataingestion_spark.functions.portable import mant_exp_cols

    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        *mant_exp_cols(F.var_samp("l_extendedprice"), "var_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        *mant_exp_cols(
            F.covar_samp("l_quantity", "l_extendedprice"), "covar"
        ),
    )


@register(
    "agg_collect",
    oracle="""
SELECT o_custkey,
       array_to_string(list(o_orderpriority ORDER BY o_orderpriority), ',')
         AS priorities,
       -- count(col), not len(list(col)): list() keeps NULL elements that
       -- array_to_string then skips, while Spark's collect_list drops them
       count(o_orderpriority) AS n_orders
FROM orders
GROUP BY o_custkey
""",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list of order priorities per customer — collect_list order is
    nondeterministic after shuffle, so array_sort pins it (SURVEY.md §5.4).
    The array is emitted comma-joined: pandas-level array representations
    differ across engines (ndarray vs list), so arrays stay out of
    oracle-compared output schemas."""
    o = Tables(spark, sf_dir).orders
    collected = o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_list("o_orderpriority")).alias("_arr")
    )
    return collected.select(
        "o_custkey",
        F.array_join("_arr", ",").alias("priorities"),
        F.size("_arr").cast("bigint").alias("n_orders"),
    )


@register(
    "agg_conditional",
    oracle="""
SELECT user_id,
       count(CASE WHEN event_type = 'click'    THEN 1 END) AS n_click,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       count(CASE WHEN event_type = 'error'    THEN 1 END) AS n_error,
       count(CASE WHEN event_type = 'signup'   THEN 1 END) AS n_signup,
       count(CASE WHEN event_type = 'view'     THEN 1 END) AS n_view
FROM events
GROUP BY user_id
""",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional counts: events per user × event_type as
    columns, via count(when(...)) — one pass, no pivot shuffle."""
    e = Tables(spark, sf_dir).events
    aggs = [
        F.count(F.when(F.col("event_type") == et, 1)).alias(f"n_{et}")
        for et in ("click", "purchase", "error", "signup", "view")
    ]
    return e.groupBy("user_id").agg(*aggs)


@register(
    "agg_top_groups",
    oracle=f"""
SELECT n_name, {stable_rounded_sum_sql("o_totalprice", 2)} AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
LIMIT 5
""",
)
def agg_top_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 revenue nations: groupBy + orderBy + limit compiles to partial
    agg → 25-row final agg → TakeOrderedAndProject."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(stable_rounded_sum("o_totalprice", 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
        .limit(5)
    )


@register(
    "agg_salted_skew",
    oracle=f"""
SELECT event_type, count(*) AS n, {stable_rounded_sum_sql("value", 4)} AS total,
       round(max(value), 6) AS max_val
FROM events
GROUP BY event_type
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: events has only 5
    event_type values, so at 100 TB a direct groupBy sends 1/5 of the
    corpus to each of 5 reducers. Phase 1 aggregates by (key, salt=16),
    spreading each hot key over 16 reducers; phase 2 merges the 16 partials
    per key — the second shuffle carries 5x16 rows, not data.

    (For most cases AQE's skew handling makes this manual pattern
    unnecessary; it exists for the pathological hot-key case AQE can't
    split: a single key exceeding one executor's memory.) The result is
    identical to the direct aggregation, which is what the oracle checks.
    """
    e = Tables(spark, sf_dir).events.withColumn(
        "_salt", (F.col("event_id") % 16).cast("int")
    )
    # Both phases accumulate order-independently (portable.py:stable_sum /
    # stable_rounded_sum): the per-salt partials are exact decimal sums
    # surfaced as doubles, and the 16-partial merge re-sums them in decimal
    # — so the emitted total is draw-deterministic AND equals the oracle's
    # flat decimal sum (the partial-double round-trip is exact at any
    # magnitude where 1e-6 precision fits in a double's 53-bit mantissa;
    # beyond that the 4dp emission is ~1e5 half-ulps away from the error).
    partial = e.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        stable_sum("value").alias("psum"),
        F.max("value").alias("pmax"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        stable_rounded_sum("psum", 4).alias("total"),
        F.round(F.max("pmax"), 6).alias("max_val"),
    )


@register(
    "agg_arg_minmax",
    oracle="""
SELECT c_nationkey,
       arg_max(c_name, c_custkey) AS newest_customer,
       arg_min(c_name, c_custkey) AS oldest_customer,
       arg_max(c_name, c_acctbal) AS richest_customer
FROM customer
GROUP BY c_nationkey
""",
)
def agg_arg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg_min/arg_max (max_by/min_by): the value of one column at another
    column's extremum, per nation. The custkey-keyed pair is tie-free by
    construction; the acctbal-keyed one relies on measured-distinct balances
    per nation (2-dp domain, 60 customers/nation)."""
    c = Tables(spark, sf_dir).customer
    # the when-guard nulls the ORDERING value when the RESULT value is
    # NULL: the oracle's arg_max/arg_min skip rows where either side is
    # NULL, while Spark's max_by/min_by happily return a NULL name from
    # the extremum row
    def _ord(col):
        return F.when(F.col("c_name").isNotNull(), F.col(col))

    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", _ord("c_custkey")).alias("newest_customer"),
        F.min_by("c_name", _ord("c_custkey")).alias("oldest_customer"),
        F.max_by("c_name", _ord("c_acctbal")).alias("richest_customer"),
    )


@register(
    "agg_rollup_grouping",
    oracle="""
SELECT r_name, n_name,
       grouping(r_name) AS g_region,
       grouping(n_name) AS g_nation,
       count(*) AS n_cust
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def agg_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with grouping() indicator columns — the standard way to tell a
    subtotal row's NULL from a data NULL downstream."""
    return (
        _region_nation_customer(spark, sf_dir)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("bigint").alias("g_region"),
            F.grouping("n_name").cast("bigint").alias("g_nation"),
            F.count(F.lit(1)).alias("n_cust"),
        )
        .select("r_name", "n_name", "g_region", "g_nation", "n_cust")
    )


@register(
    "agg_bool",
    oracle="""
SELECT c_nationkey,
       bool_and(c_acctbal > 0)    AS all_positive,
       bool_or(c_acctbal < 0)     AS any_negative,
       bool_and(c_custkey >= 0)   AS all_valid_keys
FROM customer
GROUP BY c_nationkey
""",
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (universal/existential quantifiers per group)."""
    c = Tables(spark, sf_dir).customer
    return c.groupBy("c_nationkey").agg(
        F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
        F.bool_or(F.col("c_acctbal") < 0).alias("any_negative"),
        F.bool_and(F.col("c_custkey") >= 0).alias("all_valid_keys"),
    )


@register(
    "agg_higher_moments",
    oracle="""
WITH powers AS (
  SELECT l_returnflag,
         avg(l_quantity) AS m1,
         avg(l_quantity * l_quantity) AS e2,
         avg(l_quantity * l_quantity * l_quantity) AS e3,
         avg(l_quantity * l_quantity * l_quantity * l_quantity) AS e4,
         count(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1)
             / pow(e2 - m1 * m1, 1.5), 6) AS skewness,
       round((e4 - 4 * m1 * e3 + 6 * m1 * m1 * e2 - 3 * m1 * m1 * m1 * m1)
             / pow(e2 - m1 * m1, 2.0) - 3.0, 6) AS excess_kurtosis
FROM powers
""",
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag, computed
    from raw power sums (E[x],E[x²],E[x³],E[x⁴] → central moments) so both
    engines evaluate the IDENTICAL formula — Spark's built-in skewness()
    and DuckDB's use different bias corrections, which is exactly the
    cross-engine trap this query pins down. Single partial-aggregable
    pass; 6-dp rounding absorbs summation-order noise."""
    t = Tables(spark, sf_dir)
    q = F.col("l_quantity")
    powers = t.lineitem.groupBy("l_returnflag").agg(
        F.avg(q).alias("m1"),
        F.avg(q * q).alias("e2"),
        F.avg(q * q * q).alias("e3"),
        F.avg(q * q * q * q).alias("e4"),
        F.count(F.lit(1)).alias("n"),
    )
    m1, e2, e3, e4 = (F.col(c) for c in ("m1", "e2", "e3", "e4"))
    var = e2 - m1 * m1
    return powers.select(
        "l_returnflag",
        "n",
        F.round((e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5), 6).alias(
            "skewness"
        ),
        F.round(
            (e4 - 4 * m1 * e3 + 6 * m1 * m1 * e2 - 3 * m1 * m1 * m1 * m1)
            / F.pow(var, 2.0)
            - 3.0,
            6,
        ).alias("excess_kurtosis"),
    )
