"""§2.B Projections / filters / predicates.

These all compile to a single parquet scan stage: Catalyst pushes the
predicates into the scan (PushedFilters) and prunes to the referenced columns
(ReadSchema), so at 100 TB these read only the row groups and columns they
need. Cross-engine cast traps (SURVEY.md §5.4): double→int casts TRUNCATE in
Spark but ROUND in DuckDB, so integerization always goes through floor();
decimal results are cast back to double so both engines hand the driver the
same physical type. Reshaping (pivot / unpivot) pins its value list: an
unpinned pivot runs an extra distinct-values job and orders its columns
nondeterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    NET_PRICE_SQL,
    net_price,
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.registry import Tables


@register(
    "project_select",
    oracle=f"""
SELECT
  l_orderkey,
  l_linenumber,
  {NET_PRICE_SQL}                     AS net_price,
  {NET_PRICE_SQL} * (1 + l_tax)       AS gross_price,
  l_returnflag || '/' || l_linestatus AS flag_status
FROM lineitem
""",
)
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column subset + computed columns + aliases over lineitem.

    Per-row computed doubles are emitted RAW: with the identical expression
    tree both engines produce bit-identical IEEE products, whereas round()
    at an exact .xx5 boundary is engine-dependent (rounding is reserved for
    aggregates, where it smooths summation-order noise instead).
    """
    li = Tables(spark, sf_dir).lineitem
    net = net_price()
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("gross_price"),
        # F.concat, not concat_ws: concat_ws SKIPS null parts ('A' instead
        # of NULL), the oracle's || chain propagates the NULL
        F.concat(
            F.col("l_returnflag"), F.lit("/"), F.col("l_linestatus")
        ).alias("flag_status"),
    )


@register(
    "project_cast",
    oracle="""
SELECT
  CAST(o_orderkey AS VARCHAR)                             AS key_str,
  CAST(CAST(o_orderdate AS DATE) AS VARCHAR)              AS order_date,
  CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS DOUBLE)     AS price_dec2,
  CAST(floor(o_totalprice) AS BIGINT)                     AS price_floor,
  CAST(o_orderstatus = 'O' AS VARCHAR)                    AS is_open_str
FROM orders
""",
)
def project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casts across the type lattice (int→string, ts→date→string,
    double→decimal→double, double→bigint via floor, bool→string).

    DATE stays out of output schemas: pandas-level representations diverge
    (Spark → datetime.date objects, DuckDB → midnight timestamps), so the
    date cast is exercised and then re-cast to its ISO string.
    """
    o = Tables(spark, sf_dir).orders
    return o.select(
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_date"),
        F.col("o_totalprice").cast("decimal(38,2)").cast("double").alias("price_dec2"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        (F.col("o_orderstatus") == "O").cast("string").alias("is_open_str"),
    )


@register(
    "filter_pred",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS total
FROM orders
WHERE (o_orderstatus = 'O' AND o_totalprice BETWEEN 1000 AND 50000)
   OR (o_orderstatus <> 'O' AND o_custkey IN (1, 2, 3, 5, 8, 13, 21)
       AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
""",
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive/disjunctive predicate mix: =, <>, BETWEEN, IN, >= on ts."""
    o = Tables(spark, sf_dir).orders
    open_band = (F.col("o_orderstatus") == "O") & F.col("o_totalprice").between(
        1000, 50000
    )
    closed_pick = (
        (F.col("o_orderstatus") != "O")
        & F.col("o_custkey").isin(1, 2, 3, 5, 8, 13, 21)
        & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    return o.filter(open_band | closed_pick).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total"),
    )


@register(
    "filter_like_regex",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_type
FROM part
WHERE p_type LIKE 'PROMO%'
   OR regexp_matches(p_brand, '^Brand#1[0-9]$')
   OR p_name ILIKE '%STEEL%'
""",
)
def filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE prefix, anchored regex, and case-insensitive ILIKE over part."""
    p = Tables(spark, sf_dir).part
    return p.filter(
        F.col("p_type").like("PROMO%")
        | F.col("p_brand").rlike("^Brand#1[0-9]$")
        | F.col("p_name").ilike("%STEEL%")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT lang, source FROM documents",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT projection — Catalyst plans it as a hash aggregate, so
    the shuffle carries one row per distinct pair."""
    return Tables(spark, sf_dir).documents.select("lang", "source").distinct()


_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")


@register(
    "pivot_wide",
    oracle=f"""
SELECT user_id,
       {stable_rounded_sum_sql("CASE WHEN event_type = 'click' THEN value END")} AS click,
       {stable_rounded_sum_sql("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase,
       {stable_rounded_sum_sql("CASE WHEN event_type = 'error' THEN value END")} AS error,
       {stable_rounded_sum_sql("CASE WHEN event_type = 'signup' THEN value END")} AS signup,
       {stable_rounded_sum_sql("CASE WHEN event_type = 'view' THEN value END")} AS view
FROM events
GROUP BY user_id
""",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True pivot: event_type values become columns of per-user value sums.
    The value list is pinned explicitly — an unpinned pivot triggers an
    extra distinct-values job and nondeterministic column order."""
    e = Tables(spark, sf_dir).events
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        # order-independent cell totals (round-14 ties catch; portable.py)
        .agg(stable_rounded_sum("value"))
    )
    return wide


@register(
    "unpivot_melt",
    oracle="""
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
""",
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): three lineitem measures into (measure, val) long form
    — the inverse reshaping of pivot_wide, one output row per (row, measure)."""
    li = Tables(spark, sf_dir).lineitem
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        [
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
        ],
        "measure",
        "val",
    )
