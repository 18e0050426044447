"""§2.C Joins.

Strategy notes for the 100 TB posture:

- Dim tables (region/nation/supplier, and customer at moderate SF) are
  broadcast — `F.broadcast` where we know better than the statistics,
  otherwise `autoBroadcastJoinThreshold` + AQE decide.
- Fact⋈fact equi joins shuffle on the join key; AQE handles skew splitting.
- The non-equi range join deliberately keeps an equality conjunct
  (`user_id`) so Spark can hash-partition on it instead of falling back to a
  broadcast-nested-loop over everything.
- The as-of join is implemented as a UNION + window carry-forward rather than
  a range join: one shuffle on (user_id), no pairwise blow-up — this is the
  idiom that survives 100 TB, unlike join-then-rank which materializes every
  (purchase, earlier-click) pair first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.registry import Tables


@register(
    "join_inner",
    oracle="""
SELECT o.o_orderkey, o.o_orderdate, round(o.o_totalprice, 2) AS total,
       c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders ⋈ customer (Catalyst picks broadcast vs
    sort-merge from sizes; the segment filter is pushed below the join)."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"), "inner")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total"),
            "c_name",
            "c_mktsegment",
        )
    )


@register(
    "join_broadcast",
    oracle="""
SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join of the two smallest dims — explicit `F.broadcast`
    hint; plan shows BroadcastHashJoin with no shuffle of the probe side."""
    t = Tables(spark, sf_dir)
    return t.nation.join(
        F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))


@register(
    "join_left",
    oracle=f"""
SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders,
       coalesce({stable_rounded_sum_sql("o.o_totalprice", 2)}, 0) AS total_spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
""",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⟕ orders keeping order-less customers (count()=0 for them)."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            # coalesce sits OUTSIDE the rounded decimal sum (both engines):
            # rounding in decimal, not on the cast-back double, keeps the
            # 2dp boundary exact; an order-less customer's NULL still
            # surfaces as 0.
            F.coalesce(
                stable_rounded_sum("o_totalprice", 2), F.lit(0.0)
            ).alias("total_spend"),
        )
    )


@register(
    "join_right",
    oracle="""
SELECT n.n_name, s.s_suppkey, s.s_name
FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
""",
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier ⟖ nation — every nation kept, supplier cols null when absent."""
    t = Tables(spark, sf_dir)
    return t.supplier.join(
        t.nation, F.col("s_nationkey") == F.col("n_nationkey"), "right"
    ).select("n_name", "s_suppkey", "s_name")


@register(
    "join_full",
    oracle="""
WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
           FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
           FROM supplier GROUP BY s_nationkey)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(c.n_customers, 0) AS n_customers,
       coalesce(s.n_suppliers, 0) AS n_suppliers
FROM c FULL JOIN s ON c.nationkey = s.nationkey
""",
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts."""
    t = Tables(spark, sf_dir)
    c = t.customer.groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = t.supplier.groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return c.join(s, F.col("c_nk") == F.col("s_nk"), "full").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥1 order (EXISTS → left-semi; no row multiplication,
    the build side is reduced to distinct keys before the probe)."""
    t = Tables(spark, sf_dir)
    return t.customer.join(
        t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no pending ('P') order (NOT EXISTS → left-anti).

    The status filter keeps the result non-trivially non-empty: every
    customer in the corpus has at least one order, so the unfiltered
    anti-join would always return 0 rows."""
    t = Tables(spark, sf_dir)
    pending = t.orders.filter(F.col("o_orderstatus") == "P")
    return t.customer.join(
        pending, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian region × nation (both broadcast-sized; 125 rows)."""
    t = Tables(spark, sf_dir)
    return t.region.crossJoin(t.nation).select("r_name", "n_name")


@register(
    "join_range",
    oracle="""
SELECT a.event_id AS first_id, b.event_id AS second_id, a.user_id,
       a.event_type AS first_type, b.event_type AS second_type
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
 AND b.event_id <> a.event_id
""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range self-join: pairs of same-user events within one hour.

    The `user_id` equality conjunct lets Spark execute this as a hash join
    with the range residual as a post-join filter — crucial at scale, where a
    pure theta join would be a nested loop over everything.
    """
    e = Tables(spark, sf_dir).events
    a = e.select(
        F.col("event_id").alias("first_id"),
        F.col("user_id"),
        F.col("ts").alias("a_ts"),
        F.col("event_type").alias("first_type"),
    )
    b = e.select(
        F.col("event_id").alias("second_id"),
        F.col("user_id").alias("b_user_id"),
        F.col("ts").alias("b_ts"),
        F.col("event_type").alias("second_type"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("b_user_id"))
            & (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR"))
            & (F.col("second_id") != F.col("first_id")),
        )
        .select("first_id", "second_id", "user_id", "first_type", "second_type")
    )


@register(
    "join_asof",
    oracle="""
WITH purchases AS (SELECT * FROM events
                   WHERE event_type = 'purchase' AND ts IS NOT NULL),
     clicks    AS (SELECT * FROM events
                   WHERE event_type = 'click' AND ts IS NOT NULL)
SELECT p.event_id, p.user_id, p.ts,
       c.ts AS last_click_ts, c.event_id AS last_click_id
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent prior
    (ts <= purchase ts) click.

    Spark has no native ASOF JOIN; the scalable idiom is union + window
    carry-forward: tag rows, sort per user by (ts, tag), carry the last click
    forward with last(..., ignorenulls=True), keep purchase rows. One shuffle
    on user_id, zero pairwise materialization. Ties (click.ts == purchase.ts)
    sort the click first ('click' < 'purchase'), matching DuckDB's inclusive
    `p.ts >= c.ts`.
    """
    # ts IS NOT NULL both sides: an as-of join is defined over timestamped
    # rows only (the oracle engine's ASOF otherwise treats a NULL probe ts
    # as +infinity — an accident, not a contract)
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), F.asc_nulls_last("event_type"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # As-of on an unknown time matches nothing (ASOF's p.ts >= c.ts is NULL
    # for either NULL side): clicks without a timestamp are never carried,
    # and purchases without a timestamp get no match.
    click_struct = F.when(
        (F.col("event_type") == "click") & F.col("ts").isNotNull(),
        F.struct("ts", "event_id"),
    )
    carried = e.withColumn("last_click", F.last(click_struct, ignorenulls=True).over(w))
    # NULL user_id: partitionBy groups NULL users into ONE partition where
    # they would as-of match each other's clicks — but the join's equality
    # predicate never matches NULL, so those purchases must stay unmatched
    matched = F.when(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull(),
        F.col("last_click"),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        matched.getField("ts").alias("last_click_ts"),
        matched.getField("event_id").alias("last_click_id"),
    )


@register(
    "join_multiway",
    oracle=f"""
SELECT r.r_name, n.n_name,
       count(*) AS n_orders,
       {stable_rounded_sum_sql("o.o_totalprice", 2)} AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey   = c.c_custkey
GROUP BY r.r_name, n.n_name
""",
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star chain region⋈nation⋈customer⋈orders + revenue rollup
    (TPC-H Q5 shape). Dims broadcast; only orders⋈customer shuffles, and AQE
    is free to reorder with runtime stats."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            stable_rounded_sum("o_totalprice", 2).alias("revenue"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
WITH a AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
           FROM customer),
     b AS (SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg
           FROM customer)
SELECT count(*) AS n_matched
FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> ≙ IS NOT DISTINCT FROM): NULL keys match
    each other, unlike a plain equi join where NULL = NULL is NULL. Still
    plans as a hash join — the null-safe operator stays an equi key."""
    c = Tables(spark, sf_dir).customer
    a = c.select(
        "c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg")
    )
    b = a.select("seg").distinct().select(F.col("seg").alias("b_seg"))
    return (
        a.join(b, F.col("seg").eqNullSafe(F.col("b_seg")))
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )


@register(
    "join_existence_flags",
    oracle="""
WITH last_year AS (SELECT max(year(o_orderdate)) AS yr FROM orders),
flags AS (
  SELECT o_custkey,
         max(CASE WHEN year(o_orderdate) = yr THEN 1 ELSE 0 END) AS recent,
         max(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS big
  FROM orders, last_year GROUP BY o_custkey
)
SELECT c_custkey,
       coalesce(recent = 1, FALSE) AS has_recent_order,
       coalesce(big = 1, FALSE) AS has_big_order
FROM customer LEFT JOIN flags ON c_custkey = o_custkey
""",
)
def join_existence_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence flags without N semi-joins: ONE aggregation over orders
    computes every EXISTS predicate as a max(CASE), then a single left
    join attaches them — the decorrelated multi-EXISTS pattern (N
    correlated subqueries would be N shuffles; this is always two)."""
    t = Tables(spark, sf_dir)
    last_yr = t.orders.agg(F.max(F.year("o_orderdate")).alias("yr"))
    flags = (
        t.orders.crossJoin(F.broadcast(last_yr))
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.year("o_orderdate") == F.col("yr"), 1).otherwise(0)
            ).alias("recent"),
            F.max(
                F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)
            ).alias("big"),
        )
    )
    return (
        t.customer.join(flags, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("recent") == 1, F.lit(False)).alias(
                "has_recent_order"
            ),
            F.coalesce(F.col("big") == 1, F.lit(False)).alias("has_big_order"),
        )
    )
