"""TPC-H-shaped composite queries adapted to the corpus schema: the
full-query surface a user of an analytics engine actually runs, exercising
many operators per plan (scan+filter+join+agg+window+topk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.scale import broadcast_if_small
from ai_dataingestion_spark.registry import Tables


@register(
    "tpch_q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR)          AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue for a market segment —
    3-way join with filters on both fact tables, grouped revenue, top-10.
    The segment filter prunes customer before the join; both date filters
    push to their scans."""
    t = Tables(spark, sf_dir)
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    return (
        t.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ), 2).cast("double").alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_volume",
    oracle="""
SELECT n.n_name,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
""",
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from locally-supplied orders — a 6-table
    star chain whose distinguishing predicate is the supplier/customer
    same-nation equality inside the join graph."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t.supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ), 2).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       round(c.c_acctbal, 2) AS acctbal,
       n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by lost revenue on returned items in
    a quarter-ish window — selective fact filters, 4-way join, top-20."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
        )
        .join(
            t.lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ), 2).cast("double").alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    the revenue view is used twice (per-supplier revenue AND its max).

    Computing the max as a separate aggregate re-scans lineitem (measured:
    AQE did not stage-reuse the identical exchange subtrees), so the max
    rides a single-partition window over the ALREADY-AGGREGATED revenue
    relation instead — one row per supplier, a dim-scale relation, so one
    narrow-window task replaces a second petabyte fact scan at 100 TB.
    Money stays in the decimal domain until the final rounding."""
    t = Tables(spark, sf_dir)
    revenue = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    w = Window.partitionBy(F.lit(1))
    top = revenue.withColumn(
        "max_revenue", F.max("total_revenue").over(w)
    ).filter(F.col("total_revenue") == F.col("max_revenue"))
    return (
        t.supplier.join(top, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q19_disjunctive",
    oracle="""
SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 35)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
""",
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of three conjunctive predicate blocks
    spanning both join sides (brand/size on part, quantity on lineitem).
    The planner's job — and what the plan test pins — is extracting the
    common join key while pushing the single-side conjuncts
    (brand IN (...), size/quantity range unions) below the join so the OR
    does not force a full-table scan-and-filter above it."""
    t = Tables(spark, sf_dir)
    j = t.lineitem.join(
        broadcast_if_small(t.part, sf_dir, "part"),
        F.col("p_partkey") == F.col("l_partkey"),
    )
    block = lambda brand, s_lo, s_hi, q_lo, q_hi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return (
        j.filter(
            block("Brand#1", 1, 15, 1, 20)
            | block("Brand#2", 10, 30, 10, 35)
            | block("Brand#3", 20, 50, 20, 50)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
