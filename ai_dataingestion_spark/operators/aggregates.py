"""§2.D Aggregations: every ``agg_*`` operator except the count-min top-k
sketch, which counts tokens and lives in ai/text.py.

All group-bys ride Catalyst's HashAggregateExec partial→final pair, so
map-side combine is automatic — at 100 TB the shuffle carries one row per
(partition, group), not per input row. Float aggregates are rounded on both
engine and oracle sides before hashing (SURVEY.md §5.4).

- **Percentiles** are ``percentile`` / ``percentile_sql`` (interpolated in
  the double domain on both engines); equi-depth bins are ``decile_cuts``
  / ``decile_bin``.
- **Magnitudes that grow with the corpus** (variances, covariances) are
  emitted as mantissa/exponent pairs, ``mant_exp_cols`` / ``mant_exp_sql``.
- **Sketches are pinned in their exact regime.** Below a theta sketch's
  nominal-entries threshold (4096) every hash is kept, so estimate, union,
  intersection and difference equal the true set cardinalities; the cohort
  key is bounded (``user_id % 2048``) so this holds at any corpus size.
  HLL and bitmap sketches merge map-side like any partial aggregate.
- **Bit and boolean aggregates** (``bit_and`` / ``bit_or`` / ``bit_xor``,
  ``count_if``, ``every`` / ``some``) are commutative monoids: integer-exact
  and order-independent, so their oracle is DuckDB's aggregate of the same
  name with no rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    NET_PRICE_SQL,
    decile_bin,
    decile_bin_sql,
    decile_cuts,
    decile_cuts_sql,
    hash60_expr,
    hash60_sql,
    mant_exp_cols,
    mant_exp_sql,
    money_sum,
    money_sum_sql,
    net_price,
    percentile,
    percentile_sql,
    pround,
    stable_rounded_sum,
    stable_rounded_sum_sql,
    stable_sum,
    stable_sum_sql,
)
from ai_dataingestion_spark.registry import Tables
from ai_dataingestion_spark.scale import broadcast_if_small


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
    oracle=f"""
SELECT o_orderstatus,
       round({percentile_sql("o_totalprice", 0.25)}, 4) AS p25,
       round({percentile_sql("o_totalprice", 0.5)}, 4) AS p50,
       round({percentile_sql("o_totalprice", 0.75)}, 4) AS p75
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of order price per status
    (``percentile``: linear interpolation in the double domain)."""
    o = Tables(spark, sf_dir).orders
    return o.groupBy("o_orderstatus").agg(
        F.round(percentile("o_totalprice", 0.25), 4).alias("p25"),
        F.round(percentile("o_totalprice", 0.5), 4).alias("p50"),
        F.round(percentile("o_totalprice", 0.75), 4).alias("p75"),
    )


@register(
    "agg_stats",
    oracle=f"""
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       {mant_exp_sql("var_samp(l_extendedprice)", "var_price")},
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       {mant_exp_sql("covar_samp(l_quantity, l_extendedprice)", "covar")}
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


# ---------------------------------------------------------------------------
# Location, spread and association: means, medians, modes, moments and contingency tests
# ---------------------------------------------------------------------------


@register(
    "agg_median",
    oracle=f"""
SELECT c_mktsegment, round({percentile_sql("c_acctbal", 0.5)}, 4) AS med_bal,
       count(*) AS n
FROM customer GROUP BY c_mktsegment
""",
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median account balance per market segment (both engines
    interpolate the even-count midpoint with the same (a+b)/2 on identical
    inputs, so the doubles agree before rounding)."""
    return (
        Tables(spark, sf_dir)
        .customer.groupBy("c_mktsegment")
        .agg(
            F.round(percentile("c_acctbal", 0.5), 4).alias("med_bal"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_weighted_avg",
    oracle=f"""
SELECT l_returnflag,
       round({stable_sum_sql("l_extendedprice * l_quantity")}
             / sum(l_quantity), 6)
         AS wavg_price,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price per return flag: Σ(w·x)/Σ(w) as one
    partial-aggregable pass (the ratio-of-sums form — never avg-of-avgs,
    which is wrong under grouping and does not map-side combine). The
    numerator accumulates in DECIMAL(38,6) (portable.py:stable_sum); the
    denominator Σ(quantity) is integer-valued so double summation is
    already exact — the ratio is then draw-deterministic on both
    engines."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(
            stable_sum(F.col("l_extendedprice") * F.col("l_quantity"))
            / F.sum("l_quantity"),
            6,
        ).alias("wavg_price"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@register(
    "agg_geo_harmonic_means",
    oracle=f"""
SELECT l_returnflag, count(*) AS n,
       round(avg(l_quantity), 6) AS arith_mean,
       round(exp(avg(ln(l_quantity))), 6) AS geo_mean,
       round(count(*) / {stable_sum_sql("1.0 / l_quantity")}, 6) AS harm_mean
-- POSITIVE domain only: the geometric and harmonic means are undefined
-- at zero (ln(0), 1/0), and the engines disagree on the failure mode
FROM lineitem WHERE l_quantity > 0 GROUP BY l_returnflag
""",
)
def agg_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic means of quantity per return
    flag — the Pythagorean-means pin (quantity ≥ 1, so ln and 1/x are
    always finite). Geometric goes through exp∘avg∘ln (partial-aggregable,
    no product overflow). The harmonic denominator Σ(1/q) accumulates in
    DECIMAL(38,6) (portable.py:stable_sum — 1/q is identical on both
    engines, so its 1e-6 quantization is too); the remaining avg-based
    means divide by the group count, which scales summation-order noise
    well below the 6dp boundary."""
    t = Tables(spark, sf_dir)
    q = F.col("l_quantity")
    # q > 0 both sides: ln(0) and 1/0 leave the means' domain (ANSI
    # crash here, NULL/inf there) — the classical definitions assume it
    return t.lineitem.where(q > 0).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(q), 6).alias("arith_mean"),
        F.round(F.exp(F.avg(F.log(q))), 6).alias("geo_mean"),
        F.round(
            F.count(F.lit(1)) / stable_sum(F.lit(1.0) / q), 6
        ).alias("harm_mean"),
    )


_MOM_BUCKETS = 10


@register(
    "agg_median_of_means",
    oracle=f"""
WITH bucketed AS (
  SELECT {hash60_sql("CAST(o_orderkey AS VARCHAR)")} % {_MOM_BUCKETS} AS bkt,
         CAST(o_totalprice AS DECIMAL(38, 2)) AS v
  FROM orders
),
bucket_means AS (
  SELECT bkt,
         floor(CAST(sum(v) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
           AS m
  FROM bucketed GROUP BY bkt
),
overall AS (
  SELECT floor(CAST(sum(v) AS DOUBLE)
               / count(*) * 1000000 + 0.5) / 1000000 AS plain_mean
  FROM bucketed
)
SELECT {_MOM_BUCKETS} AS n_buckets,
       (SELECT plain_mean FROM overall) AS plain_mean,
       (SELECT {percentile_sql("m", 0.5)} FROM bucket_means) AS median_of_means
""",
)
def agg_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean estimation: rows hash into
    {_MOM_BUCKETS} buckets (deterministic md5 assignment — the
    split_train_eval idiom), each bucket's mean is computed from exact
    DECIMAL sums, and the estimator is the MEDIAN of those bucket
    means — sub-Gaussian concentration under heavy tails where the
    plain mean is hostage to outliers, and the estimator behind
    sketch-style robust aggregation at scale (each bucket is a
    partial-aggregable group; only k means meet the median). Plain
    mean emitted alongside for the comparison the estimator exists to
    win."""
    o = Tables(spark, sf_dir).orders
    bkt = F.expr(hash60_expr("cast(o_orderkey as string)")) % _MOM_BUCKETS
    dec = F.col("o_totalprice").cast("decimal(38,2)")
    bucketed = o.select(bkt.alias("bkt"), dec.alias("v"))
    bucket_means = bucketed.groupBy("bkt").agg(
        pround(F.sum("v").cast("double") / F.count(F.lit(1))).alias("m")
    )
    overall = bucketed.agg(
        pround(F.sum("v").cast("double") / F.count(F.lit(1))).alias(
            "plain_mean"
        )
    )
    mom = bucket_means.agg(percentile("m", 0.5).alias("median_of_means"))
    return (
        overall.crossJoin(F.broadcast(mom))
        .select(
            F.lit(_MOM_BUCKETS).alias("n_buckets"),
            "plain_mean",
            "median_of_means",
        )
    )


@register(
    "agg_weighted_median",
    oracle="""
WITH grouped AS (
  SELECT l_returnflag, l_extendedprice AS v,
         sum(CAST(l_quantity AS DECIMAL(38, 2))) AS w
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
),
cum AS (
  SELECT l_returnflag, v, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM grouped
)
SELECT l_returnflag,
       CAST(round(min(CASE WHEN cw * 2 >= tw THEN v END), 2) AS DOUBLE)
         AS weighted_median_price,
       CAST(round(max(tw), 2) AS DOUBLE) AS total_weight
FROM cum GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the total —
    "the price at which half the UNITS trade", which the unweighted
    median (half the LINES) misrepresents whenever order sizes vary.
    Weights accumulate in DECIMAL and the half-total test is the exact
    comparison cw·2 ≥ tw (the brand_pareto_coverage no-division rule);
    the cumulative window runs over the (flag, distinct-price)
    aggregate, not raw lines."""
    li = Tables(spark, sf_dir).lineitem
    grouped = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("w")
    )
    # asc_nulls_last: the NULL-price cell must accumulate at the END of the
    # cumulative weight (oracle ORDER BY v default) — at the front it
    # shifts the half-total crossing and the reported median
    w_cum = Window.partitionBy("l_returnflag").orderBy(
        F.asc_nulls_last("v")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grouped.select(
        "l_returnflag",
        "v",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.round(
            F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v"))), 2
        )
        .cast("double")
        .alias("weighted_median_price"),
        F.round(F.max("tw"), 2).cast("double").alias("total_weight"),
    )


@register(
    "agg_mode_per_group",
    oracle="""
SELECT user_id, event_type AS mode_type, c AS mode_count
FROM (
  SELECT user_id, event_type, c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type ASC) AS rn
  FROM (
    SELECT user_id, event_type, count(*) AS c
    FROM events GROUP BY user_id, event_type
  )
)
WHERE rn = 1
ORDER BY user_id
""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a deterministic tie-break (count
    desc, then value asc): two-level aggregate then a 1-row-per-group
    window — the shuffle on user_id is reused by both steps, and the
    count pre-aggregation map-side-combines before anything wide."""
    e = Tables(spark, sf_dir).events
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("c").alias("mode_count"),
        )
    )


@register(
    "agg_corr_regression",
    oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6)        AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4)  AS covar_qty_price,
       round(regr_slope(l_extendedprice, l_quantity), 4)  AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (corr / covar / OLS slope+intercept
    — the profiling pass before any feature is trusted): all are
    partial-aggregable moment sketches (sum, sum², sum·xy) that map-side
    combine; corr and the regression terms are RATIOS of centered moments,
    so cross-engine rounding is safe at the chosen precisions."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@register(
    "agg_chi_square_independence",
    oracle="""
WITH cells AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS pri, count(*) AS o
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
),
marged AS (
  SELECT o,
         sum(o) OVER (PARTITION BY seg) AS rt,
         sum(o) OVER (PARTITION BY pri) AS ct,
         sum(o) OVER () AS n
  FROM cells
),
dims AS (
  SELECT count(DISTINCT seg) AS r, count(DISTINCT pri) AS c FROM cells
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST((max(r) - 1) * (max(c) - 1) AS BIGINT) AS dof,
       round(sum(pow(CAST(o AS DOUBLE)
                     - CAST(rt AS DOUBLE) * ct / n, 2)
                 / (CAST(rt AS DOUBLE) * ct / n)), 6) AS chi2,
       round(sqrt(sum(pow(CAST(o AS DOUBLE)
                          - CAST(rt AS DOUBLE) * ct / n, 2)
                      / (CAST(rt AS DOUBLE) * ct / n))
                  / (max(n) * least(max(r) - 1, max(c) - 1))), 6)
         AS cramers_v
FROM marged CROSS JOIN dims
""",
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between customer market segment
    and order priority, plus Cramér's V effect size — the categorical
    drift screen of a data-quality suite. Aggregate-first: the
    contingency cells are one groupBy (R×C = 25 rows at any corpus
    size); margins are window sums over the cells; the expected-count
    formula is written identically on both sides."""
    t = Tables(spark, sf_dir)
    cells = (
        t.orders.join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_mktsegment"), sf_dir, "customer"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    marged = cells.select(
        "o",
        "seg",
        "pri",
        F.sum("o").over(Window.partitionBy("seg")).alias("rt"),
        F.sum("o").over(Window.partitionBy("pri")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = F.pow(F.col("o").cast("double") - e, 2) / e
    stats = marged.agg(
        F.max("n").alias("n_raw"),
        F.count_distinct("seg").alias("r"),
        F.count_distinct("pri").alias("c"),
        F.sum(term).alias("chi2_raw"),
    )
    return stats.select(
        F.col("n_raw").cast("bigint").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        F.round("chi2_raw", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (F.col("n_raw") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "agg_theil_decomposition",
    oracle="""
WITH rev AS (
  SELECT l_suppkey AS sk,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS x
  FROM lineitem GROUP BY l_suppkey
),
sup AS (
  SELECT n_name, x FROM rev
  JOIN supplier ON sk = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
),
grp AS (
  SELECT n_name, sum(x) AS gx, count(*) AS gn FROM sup GROUP BY n_name
),
tot AS (
  SELECT n_name, gx, gn,
         sum(gx) OVER () AS tx, sum(gn) OVER () AS tn
  FROM grp
),
terms AS (
  SELECT s.n_name,
         sum((s.x / (t.gx / t.gn)) * ln(s.x / (t.gx / t.gn))) / t.gn
           AS t_within,
         max(t.gx / t.tx) AS share,
         max((t.gx / t.tx) * ln((t.gx / t.gn) / (t.tx / t.tn)))
           AS between_term
  FROM sup s JOIN tot t ON s.n_name = t.n_name
  GROUP BY s.n_name, t.gn
)
SELECT n_name AS nation,
       round(share, 6) AS revenue_share,
       round(t_within, 6) AS t_within,
       round(share * t_within, 6) AS contrib_within,
       round(between_term, 6) AS between_term
FROM terms
""",
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of supplier revenue by nation:
    T_total = Σ_g s_g·T_g (within) + Σ_g s_g·ln(μ_g/μ) (between) — the
    additive inequality index Gini lacks (supplier_revenue_gini is the
    non-decomposable sibling). Per-supplier revenue accumulates in
    DECIMAL so the x_i doubles are bit-identical across engines before
    any ln touches them; nation-level means/shares derive from the
    nations-sized aggregate (window sums over 25 rows), broadcast back
    for the per-supplier entropy terms, and the only corpus-sized
    shuffle is the l_suppkey revenue groupBy."""
    t = Tables(spark, sf_dir)
    rev = t.lineitem.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
        .cast("double")
        .alias("x")
    )
    sup = (
        rev.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("sk") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "x")
    )
    grp = sup.groupBy("n_name").agg(
        F.sum("x").alias("gx"), F.count(F.lit(1)).alias("gn")
    )
    w_all = Window.partitionBy()
    tot = grp.select(
        F.col("n_name").alias("tn_name"),
        "gx",
        "gn",
        F.sum("gx").over(w_all).alias("tx"),
        F.sum("gn").over(w_all).alias("tn"),
    )
    mu_g = F.col("gx") / F.col("gn")
    joined = sup.join(
        F.broadcast(tot), F.col("n_name") == F.col("tn_name")
    )
    terms = joined.groupBy("n_name", "gn").agg(
        (
            F.sum((F.col("x") / mu_g) * F.log(F.col("x") / mu_g))
            / F.first("gn")
        ).alias("t_within"),
        F.max(F.col("gx") / F.col("tx")).alias("share"),
        F.max(
            (F.col("gx") / F.col("tx"))
            * F.log(mu_g / (F.col("tx") / F.col("tn")))
        ).alias("between_term"),
    )
    return terms.select(
        F.col("n_name").alias("nation"),
        F.round("share", 6).alias("revenue_share"),
        F.round("t_within", 6).alias("t_within"),
        F.round(F.col("share") * F.col("t_within"), 6).alias(
            "contrib_within"
        ),
        F.round("between_term", 6).alias("between_term"),
    )


# ---------------------------------------------------------------------------
# Estimator uncertainty: bootstrap and stratified-sample variance
# ---------------------------------------------------------------------------


# Truncated-Poisson(1) weight thresholds: P(0)=e⁻¹, P(1)=e⁻¹, P(2)=e⁻¹/2,
# remaining mass (~0.019) lumped into w=3. Written as literals so both
# engines compare the SAME doubles against the SAME portable-hash uniform.
_P0 = "0.36787944117144233"
_P1 = "0.7357588823428847"
_P2 = "0.9196986029286058"
_B_REPS = 32
_HASH_SCALE = float(1 << 60)


@register(
    "agg_bootstrap_mean_ci",
    oracle=f"""
WITH reps AS (SELECT unnest(range(0, {_B_REPS})) AS b),
wts AS (
  SELECT b,
         CAST(o_totalprice AS DECIMAL(38,2)) AS x,
         CASE
           WHEN u < {_P0} THEN 0
           WHEN u < {_P1} THEN 1
           WHEN u < {_P2} THEN 2
           ELSE 3
         END AS w
  FROM (
    SELECT b, o_totalprice,
           CAST({hash60_sql("CAST(o_orderkey AS VARCHAR) || '-' || CAST(b AS VARCHAR)")}
                AS DOUBLE) / {_HASH_SCALE} AS u
    FROM orders CROSS JOIN reps
  )
),
means AS (
  SELECT b, CAST(sum(w * x) AS DOUBLE) / sum(w) AS m
  FROM wts GROUP BY b HAVING sum(w) > 0
),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m) AS rn,
         count(*) OVER () AS nb
  FROM means
)
SELECT CAST(max(nb) AS BIGINT) AS n_replicas,
       round(max(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
       round(max(CASE WHEN rn = nb - 1 THEN m END), 6) AS ci_hi,
       (SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2)))
                          AS DOUBLE) / count(*), 6)
        FROM orders) AS grand_mean
FROM ranked
""",
)
def agg_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value,
    fully deterministic and shuffle-light: each of 32 replicas
    reweights every order by a truncated-Poisson(1) draw derived from
    the portable md5 hash of (orderkey, replica) — the classic
    single-pass bootstrap for distributed data (Chamandy 2012, no
    resampling shuffle, no driver collect). The explode is a map-side
    ×32 flatMap; the only shuffle carries 32 partially-aggregated
    (Σwx DECIMAL, Σw) pairs per task, so cost is linear in B and the
    CI never sees a skewed key. The interval is the 2nd/31st order
    statistics of the replica means (≈90% percentile CI); weights w>3
    are truncated identically on both sides."""
    o = Tables(spark, sf_dir).orders
    b = F.explode(
        F.sequence(F.lit(0), F.lit(_B_REPS - 1))
    ).alias("b")
    ex = o.select(
        F.col("o_orderkey"),
        F.col("o_totalprice").cast("decimal(38,2)").alias("x"),
        b,
    )
    u = (
        F.expr(
            hash60_expr(
                "concat(CAST(o_orderkey AS STRING), '-', CAST(b AS STRING))"
            )
        ).cast("double")
        / F.lit(_HASH_SCALE)
    )
    wts = ex.select(
        "b",
        "x",
        F.when(u < float(_P0), 0)
        .when(u < float(_P1), 1)
        .when(u < float(_P2), 2)
        .otherwise(3)
        .alias("w"),
    )
    means = (
        wts.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select((F.col("swx").cast("double") / F.col("sw")).alias("m"))
    )
    ranked = means.select(
        "m",
        F.row_number().over(Window.orderBy("m")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    grand = o.agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("grand_mean")
    )
    ci = ranked.agg(
        F.max("nb").cast("bigint").alias("n_replicas"),
        F.round(
            F.max(F.when(F.col("rn") == 2, F.col("m"))), 6
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == F.col("nb") - 1, F.col("m"))), 6
        ).alias("ci_hi"),
    )
    return ci.crossJoin(F.broadcast(grand)).select(
        "n_replicas", "ci_lo", "ci_hi", "grand_mean"
    )


@register(
    "agg_stratified_estimator_variance",
    oracle="""
WITH strat AS (
  SELECT c_mktsegment,
         count(*) AS nh,
         sum(CAST(c_acctbal AS DECIMAL(38,2))) AS s1,
         sum(CAST(c_acctbal AS DECIMAL(38,2))
             * CAST(c_acctbal AS DECIMAL(38,2))) AS s2
  FROM customer GROUP BY c_mktsegment
),
g AS (
  SELECT nh, s1, s2,
         CAST(s1 AS DOUBLE) / nh AS mh,
         CAST(nh * s2 - s1 * s1 AS DOUBLE) / (CAST(nh AS DOUBLE) * (nh - 1))
           AS vh,
         sum(nh) OVER () AS n,
         sum(s1) OVER () AS t1,
         sum(s2) OVER () AS t2
  FROM strat
)
SELECT CAST(max(n) AS BIGINT) AS n_customers,
       round(CAST(max(t1) AS DOUBLE) / max(n), 6) AS strat_mean,
       round(sqrt(sum((CAST(nh AS DOUBLE) / n) * (CAST(nh AS DOUBLE) / n)
                      * vh / nh)), 6) AS se_stratified,
       round(sqrt(CAST(max(n) * max(t2) - max(t1) * max(t1) AS DOUBLE)
                  / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) / max(n)), 6)
         AS se_srs,
       round(sum((CAST(nh AS DOUBLE) / n) * (CAST(nh AS DOUBLE) / n)
                 * vh / nh)
             / (CAST(max(n) * max(t2) - max(t1) * max(t1) AS DOUBLE)
                / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) / max(n)), 6)
         AS design_effect
FROM g
""",
)
def agg_stratified_estimator_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified-sampling estimator variance for mean account balance
    with c_mktsegment strata: SE under proportional stratification
    (Σ W_h² s_h²/n_h), SE under simple random sampling, and their
    ratio — the DESIGN EFFECT that says how much a stratified sample
    plan buys (deff < 1: strata explain balance variance; ≈ 1: they
    don't). The survey-sampling math every data-subsample pipeline
    (split_train_eval, sample_stratified) implicitly relies on. All
    variances assemble from EXACT decimal moment sums (Σx, Σx² per
    stratum, window-totaled over the 5-row strata relation) — the
    events_interarrival_burstiness portability rule — so both engines
    evaluate identical doubles."""
    c = Tables(spark, sf_dir).customer
    xd = F.col("c_acctbal").cast("decimal(38,2)")
    strat = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(xd).alias("s1"),
        F.sum(xd * xd).alias("s2"),
    )
    w_all = Window.partitionBy()
    g = strat.select(
        "nh",
        "s1",
        "s2",
        (
            (
                F.col("nh") * F.col("s2") - F.col("s1") * F.col("s1")
            ).cast("double")
            / (F.col("nh").cast("double") * (F.col("nh") - 1))
        ).alias("vh"),
        F.sum("nh").over(w_all).alias("n"),
        F.sum("s1").over(w_all).alias("t1"),
        F.sum("s2").over(w_all).alias("t2"),
    )
    nn = F.max("n").cast("double")
    var_strat = F.sum(
        (F.col("nh").cast("double") / F.col("n"))
        * (F.col("nh").cast("double") / F.col("n"))
        * F.col("vh")
        / F.col("nh")
    )
    var_srs = (
        (F.max("n") * F.max("t2") - F.max("t1") * F.max("t1")).cast(
            "double"
        )
        / (nn * (F.max("n") - 1))
        / F.max("n")
    )
    return g.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(F.max("t1").cast("double") / F.max("n"), 6).alias(
            "strat_mean"
        ),
        F.round(F.sqrt(var_strat), 6).alias("se_stratified"),
        F.round(F.sqrt(var_srs), 6).alias("se_srs"),
        F.round(var_strat / var_srs, 6).alias("design_effect"),
    )


# ---------------------------------------------------------------------------
# Histograms: equi-width, equi-depth and log2 bins
# ---------------------------------------------------------------------------


@register(
    "agg_histogram_bins",
    oracle="""
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
       count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1
""",
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (the profiling/monitoring kernel): bin id via
    floor division — a pure map-side expression, so the aggregate is one
    partial-combined shuffle of (bin, partials); no sort, no percentile
    state. Bin membership is exact integer math on both engines."""
    o = Tables(spark, sf_dir).orders
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "agg_equidepth_histogram",
    oracle=f"""
WITH cuts AS (SELECT {decile_cuts_sql("c_acctbal")} FROM customer)
SELECT bin, count(*) AS n FROM (
  SELECT CAST({decile_bin_sql("c_acctbal")} AS BIGINT) AS bin
  FROM customer CROSS JOIN cuts
) GROUP BY bin
""",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: bin edges are the deciles of the data
    itself, so every bin holds ~10% of rows — the histogram query
    optimizers and drift monitors actually keep (equi-width bins, as
    in agg_histogram_bins, starve on skewed data; equi-depth adapts).
    The 9 decile cuts are one broadcast row; each value's bin is the
    count of cuts it exceeds — pure comparisons against bit-identical
    interpolated quantiles, no division, no rounding surface. Two
    passes: quantiles, then classify+count."""
    c = Tables(spark, sf_dir).customer
    cuts = c.agg(*decile_cuts("c_acctbal"))
    bin_expr = decile_bin("c_acctbal").cast("bigint")
    return (
        c.crossJoin(F.broadcast(cuts))
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_log2_histogram",
    oracle="""
SELECT CAST(floor(ln(o_totalprice) / ln(2)) AS BIGINT) AS log2_bin,
       count(*) AS n,
       CAST(round(min(o_totalprice), 2) AS DOUBLE) AS bin_min,
       CAST(round(max(o_totalprice), 2) AS DOUBLE) AS bin_max
FROM orders WHERE o_totalprice > 0
GROUP BY 1
""",
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂ (powers-of-two band) histogram of order totals — the
    binning that actually renders heavy-tailed money/size/latency
    distributions, where agg_histogram_bins' equi-width bands put 95%
    of rows in bin 0 and agg_equidepth_histogram hides the tail's
    magnitude. bin = ⌊ln x / ln 2⌋ on positives — pure comparison-free
    expression arithmetic (ln is correctly-rounded IEEE in both
    engines, and the floor boundary sits at exact powers of two no
    corpus double lands on). Output bounded by the value range's
    log, ~20 rows at any scale."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_totalprice") > 0)
    bin_ = F.floor(F.log(F.col("o_totalprice")) / F.log(F.lit(2.0))).cast(
        "bigint"
    )
    return o.groupBy(bin_.alias("log2_bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).cast("double").alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).cast("double").alias("bin_max"),
    )


# ---------------------------------------------------------------------------
# Sketches: HLL, theta, bitmap and approximate percentiles
# ---------------------------------------------------------------------------


@register(
    "agg_hll_sketch_merge",
    oracle=None,  # output carries the HLL estimate, which no portable SQL
    # reproduces bit-for-bit; semantics pinned by
    # tests/test_edges.py::test_hll_merge_matches_whole_corpus_sketch
    # (merge-consistency) and the <2% relative-error bound asserted there.
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — THE distributed cardinality
    pattern at 100 TB: build one Apache DataSketches HLL per day
    (hll_sketch_agg), union the constant-size sketches (hll_union_agg),
    estimate once. No re-scan of history when a new day lands: union its
    sketch in. Output: per-corpus estimated vs exact distinct users and
    the relative error (exact derivable at test scale only — at target
    scale the exact pass is precisely what this operator exists to
    avoid). Rows-only by design (the estimate has no portable SQL twin);
    a unit test pins merge-consistency (daily-union ≡ whole-corpus
    sketch) and the error bound."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimated_users")
    )
    exact = t.events.agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        merged.crossJoin(F.broadcast(exact))
        .select(
            "estimated_users",
            "exact_users",
            F.round(
                F.abs(F.col("estimated_users") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ).alias("rel_err"),
        )
    )


@register(
    "agg_hll_union_rollup",
    oracle="""
SELECT strftime(ts, '%Y-%m') AS month,
       count(DISTINCT user_id) AS exact_u,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       true AS within_5pct
-- ts IS NOT NULL: a NULL timestamp has no grain cell at any rollup level
FROM events WHERE ts IS NOT NULL GROUP BY 1
""",
)
def agg_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch hierarchy rollup with Spark 3.5's built-in
    Apache DataSketches HLL functions: per-DAY hll_sketch_agg(user_id)
    sketches union upward to months via hll_union_agg — distinct counts
    DON'T roll up, sketches DO, which is why a 100 TB metrics store keeps
    constant-size sketch columns per grain instead of recomputing
    distincts from raw events at every level. lgConfigK=14 bounds the
    standard error at ~0.8%, so the month-level estimate must land within
    5% of the exact distinct (asserted per month). Unlike the
    DataSketches-library agg_hll_sketch_merge (rows-only by design), the
    contract form here is oracle-checkable: exact counts + the
    within-bound boolean. Both aggregation levels are partial-aggregable;
    the shuffle carries <=16 KB sketch blobs."""
    t = Tables(spark, sf_dir)
    ev = t.events.where(F.col("ts").isNotNull())  # oracle mirrors
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
    ).agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    monthly = daily.groupBy("month").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month")
    ).agg(F.count_distinct("user_id").alias("exact_u"))
    return monthly.join(exact, "month").select(
        "month",
        "exact_u",
        F.col("n_days").cast("bigint").alias("n_days"),
        (
            F.abs(F.col("est") - F.col("exact_u")) / F.col("exact_u")
            <= 0.05
        ).alias("within_5pct"),
    )


@register(
    "agg_theta_sketch_sets",
    oracle="""
WITH coh AS (
  SELECT event_type, user_id % 2048 AS c FROM events
  WHERE user_id IS NOT NULL
),
clicks AS (SELECT DISTINCT c FROM coh WHERE event_type = 'click'),
views  AS (SELECT DISTINCT c FROM coh WHERE event_type = 'view')
SELECT 'type:' || event_type AS scope,
       CAST(count(DISTINCT c) AS BIGINT) AS n_distinct
FROM coh GROUP BY event_type
UNION ALL
SELECT 'click_union_view',
       CAST((SELECT count(*) FROM (SELECT c FROM clicks
                                   UNION SELECT c FROM views)) AS BIGINT)
UNION ALL
SELECT 'click_intersect_view',
       CAST((SELECT count(*) FROM (SELECT c FROM clicks
                                   INTERSECT SELECT c FROM views)) AS BIGINT)
UNION ALL
SELECT 'click_minus_view',
       CAST((SELECT count(*) FROM (SELECT c FROM clicks
                                   EXCEPT SELECT c FROM views)) AS BIGINT)
""",
)
def agg_theta_sketch_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct counting WITH set algebra, pinned in the
    exact regime: per-event-type cohort cardinalities from
    theta_sketch_agg, then union/intersection/difference between the
    'click' and 'view' cohorts via the sketch operators — every estimate
    must equal the true set cardinality because the bounded cohort key
    (user_id % 2048, NULLs excluded on both sides — the sketch skips
    NULL inputs) keeps every group under the 4096-entry exact threshold
    at any corpus scale. This is the corpus-overlap estimator shape: at
    100 TB the sketches merge map-side (bytes, not key sets, cross the
    shuffle) and the set algebra runs on kilobyte summaries. Beyond the
    threshold theta enters ~1.6%-RSE estimation — that regime is the
    sketch's documented contract, not this oracle's."""
    e = Tables(spark, sf_dir).events
    coh = e.where(F.col("user_id").isNotNull()).select(
        "event_type", (F.col("user_id") % 2048).alias("c")
    )
    per_type = coh.groupBy("event_type").agg(
        F.theta_sketch_agg("c").alias("sk")
    )
    by_type = per_type.select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("scope"),
        F.theta_sketch_estimate("sk").cast("bigint").alias("n_distinct"),
    )
    # one conditional-aggregate row, not two filtered aggregates + a
    # crossJoin: always exactly one row (even on a degenerate corpus),
    # and the two sketches build in the SAME partial-aggregation pass
    pair = coh.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("c"))
        ).alias("s_click"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "view", F.col("c"))
        ).alias("s_view"),
    )
    algebra = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("click_union_view").alias("scope"),
                    F.theta_sketch_estimate(
                        F.theta_union("s_click", "s_view")
                    ).cast("bigint").alias("n_distinct"),
                ),
                F.struct(
                    F.lit("click_intersect_view").alias("scope"),
                    F.theta_sketch_estimate(
                        F.theta_intersection("s_click", "s_view")
                    ).cast("bigint").alias("n_distinct"),
                ),
                F.struct(
                    F.lit("click_minus_view").alias("scope"),
                    F.theta_sketch_estimate(
                        F.theta_difference("s_click", "s_view")
                    ).cast("bigint").alias("n_distinct"),
                ),
            )
        ).alias("r")
    ).select("r.scope", "r.n_distinct")
    return by_type.unionByName(algebra)


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(DISTINCT o_custkey) AS n_cust
FROM orders GROUP BY 1
""",
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count at scale via bitmap aggregation (Spark 3.5+
    bitmap_* functions, SPARK-44189): customers per order-month. Keys are
    bucketed into 32768-bit ranges (``bitmap_bucket_number``), each
    (month, bucket) group ORs its bit positions into a <=4 KB binary bitmap
    map-side, and the final per-month count SUMS the per-bucket
    ``bitmap_count``s. Both aggregation levels are
    partial-aggregable, so the shuffle carries fixed-size bitmaps instead
    of raw keys — the exact-distinct answer with HLL-like movement cost
    (vs count(DISTINCT) whose expand-shuffle moves every key occurrence).
    Keys are shifted +1 before bucketing: Spark's bit positions are
    1-based (``bitmap_bit_position(x) = (x-1) % 32768``), so a 0 key
    collides with another key's slot — measured as an off-by-one distinct
    count (189 vs 190) before the shift; +1 is bijective so counts are
    unaffected. The per-month total is the SUM of per-bucket
    ``bitmap_count``s, never ``bitmap_or_agg`` across buckets: bit
    position only identifies a key WITHIN its 32768-wide bucket, so
    OR-merging different buckets' bitmaps collapses distinct keys that
    share a position — invisible while max(key) < 32768 (one bucket,
    every SF <= 0.1) and measured as a 14343-vs-17910 undercount the
    moment the sfx1.0 corpus's offset keys spanned buckets.
    Oracle: DuckDB's plain count(DISTINCT)."""
    t = Tables(spark, sf_dir)
    per_bucket = (
        t.orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.expr("bitmap_bucket_number(o_custkey + 1)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey + 1)").alias("pos"),
        )
        .groupBy("month", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("month").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_cust")
    )


@register(
    "agg_approx_percentile_error",
    oracle="""
SELECT * FROM (VALUES (100, true), (1000, true), (10000, true))
  t(accuracy, within_bound)
""",
)
def agg_approx_percentile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-percentile sketch's accuracy CONTRACT, verified:
    Spark's percentile_approx (Greenwald-Khanna) promises the returned
    median's rank is within n/accuracy of the true rank. The operator
    computes the approx median at accuracy 100 / 1000 / 10000 plus the
    exact RANK INTERVAL of each returned value (one extra
    conditional-count pass with the 1-row sketch results broadcast), and
    emits whether each landed inside its bound — measured slack at
    sf0.001: rank error 1-32 vs bounds 2-61. Under duplicates a value
    occupies ranks [count(<v)+1, count(<=v)]; GK guarantees SOME rank of
    the value is within n/accuracy of the target, so the check is
    interval-intersection with the band 0.5n ± (n/accuracy + 1), not the
    upper rank alone — count(<=v) can exceed the band on heavily tied
    columns even when the sketch honors its contract (ADVICE r6). This
    is the check a pipeline runs before trusting sketch quantiles for
    SLA cut-offs at 100 TB, where exact percentiles cost a full sort.
    Oracle: the contract itself (all three accuracies within bound)."""
    li = Tables(spark, sf_dir).lineitem
    sk = li.agg(
        # count(col), not count(*): the sketch ignores NULL prices, so the
        # rank band must be centered on the NON-NULL population
        F.count("l_extendedprice").alias("n"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 100)").alias("a100"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 1000)").alias("a1000"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 10000)").alias(
            "a10000"
        ),
    )
    def _lt(a):
        return F.sum(
            F.when(F.col("l_extendedprice") < F.col(a), 1).otherwise(0)
        ).alias("lt" + a[1:])

    def _le(a):
        return F.sum(
            F.when(F.col("l_extendedprice") <= F.col(a), 1).otherwise(0)
        ).alias("le" + a[1:])

    ranks = li.crossJoin(F.broadcast(sk)).agg(
        F.first("n").alias("n"),
        _lt("a100"), _le("a100"),
        _lt("a1000"), _le("a1000"),
        _lt("a10000"), _le("a10000"),
    )
    # value's rank interval [lt+1, le] intersects the band
    # [0.5n - n/acc - 1, 0.5n + n/acc + 1]
    band = (
        "(lt{a} + 1) <= (0.5 * n + n / {a}.0 + 1) "
        "AND le{a} >= (0.5 * n - n / {a}.0 - 1)"
    )
    return ranks.selectExpr(
        "stack(3, "
        f"100,   {band.format(a=100)}, "
        f"1000,  {band.format(a=1000)}, "
        f"10000, {band.format(a=10000)}) "
        "AS (accuracy, within_bound)"
    )


# ---------------------------------------------------------------------------
# Aggregation semantics: empty input, partial/final merge, cube margins, bit and boolean monoids
# ---------------------------------------------------------------------------


@register(
    "agg_empty_relation_semantics",
    oracle="""
WITH empty AS (SELECT * FROM orders WHERE o_orderkey < 0)
SELECT
  (SELECT count(*) FROM empty) AS count_star,
  (SELECT count(o_totalprice) FROM empty) AS count_col,
  CAST((SELECT sum(o_totalprice) FROM empty) IS NULL AS INT) AS sum_is_null,
  CAST((SELECT min(o_orderdate) FROM empty) IS NULL AS INT) AS min_is_null,
  CAST((SELECT avg(o_totalprice) FROM empty) IS NULL AS INT) AS avg_is_null,
  (SELECT count(*) FROM (SELECT o_orderstatus, count(*) AS c
                         FROM empty GROUP BY o_orderstatus))
    AS grouped_rows
""",
)
def agg_empty_relation_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregate semantics over the EMPTY relation, pinned: global
    count(*) returns 0 (a row, not nothing), sum/min/avg return NULL
    (not 0 — the bug every naive "default 0" rewrite introduces), and
    a GROUP BY over empty input yields ZERO rows (no null-group row) —
    the asymmetry between global and grouped aggregation that ANSI
    mandates and downstream coalesce logic must respect. One
    impossible-predicate scan (pruned to nothing at planning time);
    every check lands in a single comparison row."""
    o = Tables(spark, sf_dir).orders
    empty = o.filter(F.col("o_orderkey") < 0)
    glob = empty.agg(
        F.count(F.lit(1)).alias("count_star"),
        F.count("o_totalprice").alias("count_col"),
        F.sum("o_totalprice").isNull().cast("int").alias("sum_is_null"),
        F.min("o_orderdate").isNull().cast("int").alias("min_is_null"),
        F.avg("o_totalprice").isNull().cast("int").alias("avg_is_null"),
    )
    grouped = (
        empty.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.count(F.lit(1)).alias("grouped_rows"))
    )
    return glob.crossJoin(F.broadcast(grouped))


@register(
    "agg_partial_merge_proof",
    oracle=f"""
WITH whole AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders
),
h1 AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders WHERE o_orderkey % 2 = 0
),
h2 AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders WHERE o_orderkey % 2 = 1
)
, vars AS (
  SELECT w.n AS n_rows,
         (CAST(w.s2 AS DOUBLE) - CAST(w.s AS DOUBLE)
          * CAST(w.s AS DOUBLE) / w.n) / (w.n - 1) AS vw,
         (CAST(h1.s2 + h2.s2 AS DOUBLE) - CAST(h1.s + h2.s AS DOUBLE)
          * CAST(h1.s + h2.s AS DOUBLE) / (h1.n + h2.n))
         / (h1.n + h2.n - 1) AS vm,
         CAST(CASE WHEN w.n = h1.n + h2.n AND w.s = h1.s + h2.s
                    AND w.s2 = h1.s2 + h2.s2
                   THEN 0 ELSE 1 END AS INT) AS merge_mismatch
  FROM whole w CROSS JOIN h1 CROSS JOIN h2
)
SELECT n_rows,
       {mant_exp_sql("vw", "variance_whole")},
       {mant_exp_sql("vm", "variance_merged")},
       merge_mismatch
FROM vars
""",
)
def agg_partial_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregation merge soundness, proven as output: the
    (n, Σx, Σx²) moment state computed over the WHOLE relation must
    equal the component-wise merge of the two half-relations' states —
    the algebraic property that makes map-side combine, AQE re-plans,
    and incremental rollups all return the same answer. States live in
    DECIMAL so the equality is EXACT (merge_mismatch is pinned 0, not
    approximately 0), and the variance derived from whole vs merged
    states is emitted from both paths with identical IEEE order. This
    is the engine-correctness invariant behind every partial-aggregable
    claim in SCALE.md, made hash-checkable."""
    o = Tables(spark, sf_dir).orders
    dec = F.col("o_totalprice").cast("decimal(38,2)")

    def state(df: DataFrame, prefix: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(f"{prefix}n"),
            F.sum(dec).alias(f"{prefix}s"),
            F.sum(dec * dec).alias(f"{prefix}s2"),
        )

    whole = state(o, "w_")
    h1 = state(o.filter(F.col("o_orderkey") % 2 == 0), "a_")
    h2 = state(o.filter(F.col("o_orderkey") % 2 == 1), "b_")
    j = whole.crossJoin(F.broadcast(h1)).crossJoin(F.broadcast(h2))
    var_whole = (
        F.col("w_s2").cast("double")
        - F.col("w_s").cast("double") * F.col("w_s").cast("double") / F.col("w_n")
    ) / (F.col("w_n") - 1)
    ms = F.col("a_s") + F.col("b_s")
    ms2 = F.col("a_s2") + F.col("b_s2")
    mn = F.col("a_n") + F.col("b_n")
    var_merged = (
        ms2.cast("double") - ms.cast("double") * ms.cast("double") / mn
    ) / (mn - 1)
    mismatch = F.when(
        (F.col("w_n") == mn)
        & (F.col("w_s") == ms)
        & (F.col("w_s2") == ms2),
        0,
    ).otherwise(1)

    # RELATIVE (mantissa/exponent) emission, not absolute decimals: at
    # sfx1.0 the Σx² decimal state is ~4.5e20 and the engines'
    # int128->double casts may differ by 1 ulp, a legitimate ~1e-5
    # ABSOLUTE difference at variance magnitude ~2e10 (measured at the
    # sfx1.0 sweep) — see functions/portable.py.
    return j.select(
        F.col("w_n").alias("n_rows"),
        *mant_exp_cols(var_whole, "variance_whole"),
        *mant_exp_cols(var_merged, "variance_merged"),
        mismatch.cast("int").alias("merge_mismatch"),
    )


@register(
    "agg_cube_margin_consistency",
    oracle="""
WITH cells AS (
  SELECT CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END * 2
         + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS gid,
         rev
  FROM (
    SELECT o_orderstatus, o_orderpriority,
           sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
  )
)
SELECT gid AS grouping_level,
       count(*) AS n_cells,
       CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
FROM cells GROUP BY gid
""",
)
def agg_cube_margin_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE margin-consistency proof: every grouping level of the
    (status, priority) cube — detail cells, the two 1-D margins, and
    the grand total — must re-aggregate to the SAME DECIMAL revenue
    (a cube is four disjoint partitions of one fact set; a mismatch
    would mean the multi-level aggregate double- or under-counted).
    The proof the agg_cube contract row doesn't state: its cells are
    internally reconcilable, which is what makes cube output safe to
    cache and slice downstream. One CUBE pass, grouping level derived
    from the NULL pattern identically on both engines, 4 rows out."""
    o = Tables(spark, sf_dir).orders
    cube = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev")
    )
    gid = (
        F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0) * 2
        + F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
    )
    return (
        cube.select(gid.alias("grouping_level"), "rev")
        .groupBy("grouping_level")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("rev"), 2).cast("double").alias("total_revenue"),
        )
    )


@register(
    "agg_bitwise_conditional",
    oracle="""
SELECT l_returnflag,
       bit_and(l_linenumber) AS and_lines,
       bit_or(l_linenumber)  AS or_lines,
       bit_xor(l_linenumber) AS xor_lines,
       CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
       bool_and(l_quantity > 0)   AS all_positive,
       bool_or(l_discount > 0.09) AS any_deep_discount
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_bitwise_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate monoids (AND/OR/XOR over line numbers — the
    flag-accumulation shape: which bits are always/ever/odd-count set)
    plus the conditional-count and boolean-quantifier aggregates
    (count_if, every/some ≙ SQL bool_and/bool_or). All integer- or
    boolean-exact and order-independent, so the oracle is DuckDB's
    identically-named family with zero rounding discipline. Single
    partial-aggregable pass, 3 groups out at any scale."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").alias("and_lines"),
        F.bit_or("l_linenumber").alias("or_lines"),
        F.bit_xor("l_linenumber").alias("xor_lines"),
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.every(F.col("l_quantity") > 0).alias("all_positive"),
        F.some(F.col("l_discount") > 0.09).alias("any_deep_discount"),
    )
