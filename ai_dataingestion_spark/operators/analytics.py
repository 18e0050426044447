"""The relational domain: TPC-H query shapes adapted to the corpus schema,
and the customer, order, line-item, part, brand and supplier analytics
over the same star schema (lineitem and orders facts; customer, part,
supplier, nation and region dimensions).

Every operator here keeps three invariants:

- Money stays DECIMAL(38,6) from the first sum until one HALF_UP round to
  2 dp, and only then becomes a double (``money_sum`` / ``money_sum_sql``;
  ``dec_sum`` / ``dec_sum_sql`` where a ratio consumes the exact sum).
  A line item's revenue is ``net_price()`` / ``NET_PRICE_SQL``. Sums of
  stored 2-dp prices may accumulate in DECIMAL(38,2), which is exact too.
- Every top-k, rank, ntile and argmin orders by a unique tie-break key
  after its measure, so both engines pick the same rows.
- Dimension tables are broadcast: nation and region by hint; part,
  supplier and customer by ``broadcast_if_small`` or the planner's size
  threshold. The shuffles are on fact-table keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import (
    NET_PRICE_SQL,
    dec_sum,
    dec_sum_sql,
    grid_sum,
    grid_sum_sql,
    mant_exp_cols,
    mant_exp_sql,
    money_sum,
    money_sum_sql,
    net_price,
    percentile,
    percentile_sql,
    pround,
    stable_sum,
    stable_sum_sql,
)
from ai_dataingestion_spark.operators.graph import copurchase_pairs, copurchase_pairs_sql
from ai_dataingestion_spark.scale import broadcast_if_small
from ai_dataingestion_spark.registry import Tables


# ---------------------------------------------------------------------------
# TPC-H query shapes, Q2-Q22
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         floor(CAST({dec_sum_sql("l_extendedprice")} AS DOUBLE)
               / CAST({dec_sum_sql("l_quantity")} AS DOUBLE)
               * 1000000 + 0.5) / 1000000
           AS unit_cost
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey, l_suppkey, unit_cost,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY unit_cost ASC, l_suppkey ASC) AS rn
  FROM cost
)
SELECT p_partkey, p_name, s_name AS supplier, unit_cost
FROM best
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1 AND p_size < 15
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted to this corpus (no
    partsupp: unit cost is the supplier's observed avg extendedprice per
    quantity from lineitem, restricted to EUROPE suppliers). The
    correlated MIN subquery becomes a per-part window argmin — one
    groupBy shuffle on (part, supp) then a part-partitioned row_number,
    dims broadcast. Unit cost is total spend / total quantity via EXACT
    decimal sums cast to double for one deterministic IEEE division,
    then rounded with the PORTABLE formula floor(x·1e6 + 0.5)/1e6 —
    pure IEEE ops, bit-identical on both engines. Built-in round() is
    NOT portable on exact decimal ties: sf0.1 hit quotient 8290.71/32 =
    259.0846875, where Spark rounds the shortest-decimal BigDecimal
    HALF_UP to …688 while DuckDB rounds the binary double (…87499…) to
    …687. Suppkey breaks argmin ties deterministically."""
    t = Tables(spark, sf_dir)
    europe_supp = (
        t.supplier.join(
            F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    cost = (
        t.lineitem.join(
            broadcast_if_small(europe_supp, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                # try_divide: a supplier observed only at zero quantity
                # has no unit cost (NULL; loses the nulls-last argmin)
                F.floor(
                    F.try_divide(
                        dec_sum(F.col("l_extendedprice")).cast("double"),
                        dec_sum(F.col("l_quantity")).cast("double"),
                    )
                    * 1_000_000
                    + 0.5
                )
                / 1_000_000
            ).alias("unit_cost")
        )
    )
    # asc_nulls_last: a supplier whose observed quantities are all NULL has
    # NULL unit cost — it must never WIN the argmin (oracle ASC default)
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc_nulls_last("unit_cost"), F.asc("l_suppkey")
    )
    best = cost.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(
            broadcast_if_small(t.part.filter(F.col("p_size") < 15), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            broadcast_if_small(t.supplier.select("s_suppkey", "s_name"), sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "p_partkey", "p_name", F.col("s_name").alias("supplier"), "unit_cost"
        )
    )


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       {money_sum_sql(NET_PRICE_SQL)} AS revenue,
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
        .agg(money_sum(net_price()).alias("revenue"))
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
    "tpch_q4_late_orders",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): EXISTS-correlated subquery
    — Catalyst decorrelates it into a LEFT SEMI join on l_orderkey with the
    cross-relation ship-lag predicate evaluated inside the join condition.
    The corpus lineitem has no commit/receipt dates, so 'late' is shipped
    more than 60 days after the order date. One shuffle (semi join keys),
    then a 5-group agg."""
    t = Tables(spark, sf_dir)
    o = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    li = t.lineitem
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q5_local_volume",
    oracle=f"""
SELECT n.n_name,
       {money_sum_sql(NET_PRICE_SQL)} AS revenue
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
        .agg(money_sum(net_price()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
SELECT {money_sum_sql("l_extendedprice * l_discount")} AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure filter + global agg —
    the canonical predicate-pushdown showcase; all three predicates reach
    the parquet scan, no shuffle beyond the final 1-row reduce."""
    li = Tables(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       year(l.l_shipdate) AS ship_year,
       {money_sum_sql(NET_PRICE_SQL)} AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey  = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
WHERE ((ns.n_name = 'NATION_0' AND nc.n_name = 'NATION_1')
    OR (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_0'))
GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral shipping volume): fact⋈fact⋈fact chain with
    two broadcast nation dims and a cross-nation pair predicate, grouped by
    (supplier nation, customer nation, ship year). The nation filter is
    pushed through both dim joins so only qualifying rows shuffle."""
    t = Tables(spark, sf_dir)
    ns = t.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = t.nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_0") & (F.col("cust_nation") == "NATION_1")
    ) | ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_0"))
    return (
        t.lineitem.join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(money_sum(net_price()).alias("revenue"))
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
WITH all_sales AS (
  SELECT year(o_orderdate) AS o_year,
         CAST({NET_PRICE_SQL} AS DECIMAL(38,6)) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
)
SELECT o_year,
       CAST(round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(38,6)) END), 2) AS DOUBLE)
         AS nation_volume,
       CAST(round(sum(volume), 2) AS DOUBLE) AS total_volume,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM all_sales GROUP BY o_year
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), adapted to this corpus's flat
    p_type domain: NATION_1's share of ECONOMY-part revenue sold into
    AMERICA per order-year. Dimension chain customer→nation→region and
    supplier→nation are broadcast; the one big join (lineitem ⋈ orders) is
    keyed on l_orderkey — the canonical shape Catalyst reorders freely."""
    t = Tables(spark, sf_dir)
    sn = t.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = t.nation.select("n_nationkey", "n_regionkey")
    amer = cn.join(
        F.broadcast(t.region.filter(F.col("r_name") == "AMERICA")),
        cn.n_regionkey == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("c_nk"))
    sales = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast_if_small(t.part.filter(F.col("p_type") == "ECONOMY"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(amer), F.col("c_nationkey") == F.col("c_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            net_price().cast("decimal(38,6)").alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(38,6)")
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(zero)
    )
    total_vol = F.sum("volume")
    return sales.groupBy("o_year").agg(
        F.round(nation_vol, 2).cast("double").alias("nation_volume"),
        F.round(total_vol, 2).cast("double").alias("total_volume"),
        F.round(nation_vol.cast("double") / total_vol.cast("double"), 6).alias(
            "mkt_share"
        ),
    )


@register(
    "tpch_q9_profit_by_nation_year",
    oracle=f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       {money_sum_sql(NET_PRICE_SQL + " - p_retailprice * l_quantity * 0.1")}
         AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
""",
)
def tpch_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: the corpus has no partsupp,
    so supply cost is proxied as 10% of p_retailprice per unit. Profit per
    (supplier nation, order year) over parts named '%widget%'. The p_name
    filter prunes part BEFORE its broadcast; lineitem⋈orders stays the only
    shuffle join."""
    t = Tables(spark, sf_dir)
    profit_amt = net_price() - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast_if_small(t.part.filter(F.col("p_name").like("%widget%")), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(money_sum(profit_amt).alias("profit"))
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {money_sum_sql(NET_PRICE_SQL)} AS revenue,
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
        .agg(money_sum(net_price()).alias("revenue"))
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
    "tpch_q11_part_value_concentration",
    oracle=f"""
WITH part_value AS (
  SELECT l_partkey AS partkey,
         {dec_sum_sql(NET_PRICE_SQL)} AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
),
total AS (SELECT sum(value) AS total_value FROM part_value)
SELECT partkey, CAST(round(value, 2) AS DOUBLE) AS value
FROM part_value, total
WHERE CAST(value AS DOUBLE) > CAST(total_value AS DOUBLE) * 0.002
""",
)
def tpch_q11_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: no partsupp, so a part's
    'value' is its traded revenue through NATION_3 suppliers; emit parts
    holding > 0.2% of that nation's total. The scalar total is a 1-row
    cross join (decorrelated subquery — the Q11 pattern); part_value is
    aggregated ONCE and Catalyst reuses the exchange for both branches."""
    t = Tables(spark, sf_dir)
    n3 = t.nation.filter(F.col("n_name") == "NATION_3").select("n_nationkey")
    pv = (
        t.lineitem.join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n3), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(dec_sum(net_price()).alias("value"))
    )
    total = pv.agg(F.sum("value").alias("total_value"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(
            F.col("value").cast("double")
            > F.col("total_value").cast("double") * 0.002
        )
        .select("partkey", F.round("value", 2).cast("double").alias("value"))
    )


@register(
    "tpch_q12_priority_by_flag",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def tpch_q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split; the corpus carries no
    l_shipmode, so the grouping key is l_returnflag): fact-to-fact join with
    the year filter pushed into the lineitem scan, then conditional CASE
    sums — the map-side-combinable 'pivot a flag into two counts' idiom."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t.orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            # when(~high), not otherwise(1): a NULL priority is three-valued
            # NEITHER bucket in the oracle's IN / NOT IN pair — the
            # otherwise() spelling would count it as low
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join with
    an extra non-equi predicate on the join (status filter must NOT drop
    customers — the zero-order bucket is the point), double aggregation:
    per-customer count, then histogram of counts. count(o_orderkey) counts
    only matched rows, so no-order customers land in c_count = 0."""
    t = Tables(spark, sf_dir)
    joined = t.customer.join(
        t.orders,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderstatus") != "F"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "tpch_q14_promo_revenue",
    oracle=f"""
SELECT round(
         100.0 * {stable_sum_sql(
             f"CASE WHEN p.p_type = 'PROMO' THEN {NET_PRICE_SQL} END")}
               / {stable_sum_sql(NET_PRICE_SQL)}, 6) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): broadcast dim join + ratio of
    conditional aggregates. Both sums accumulate in DECIMAL(38,6)
    (``stable_sum``), so the two operands are the same double on both
    engines whatever the summation order, and so are the quotient and its
    6dp rounding."""
    t = Tables(spark, sf_dir)
    rev = net_price()
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .join(
            broadcast_if_small(t.part, sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                100.0
                * stable_sum(F.when(F.col("p_type") == "PROMO", rev))
                / stable_sum(rev),
                6,
            ).alias("promo_pct")
        )
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {money_sum_sql(NET_PRICE_SQL)} AS total_revenue
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
        .agg(money_sum(net_price()).alias("total_revenue"))
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
    "tpch_q16_brand_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted from partsupp to
    lineitem as the part-supplier relation: distinct supplier count per
    (brand, type, size) outside one brand/type, for four sizes. The
    dimension filters land in the broadcast build of part; countDistinct
    is the one shuffle."""
    t = Tables(spark, sf_dir)
    p = t.part.filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13)
    )
    return (
        t.lineitem.join(broadcast_if_small(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
WITH part_avg AS (
  SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(round({dec_sum_sql("l_extendedprice")} / 7.0, 2) AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN part_avg ON l_partkey = pk
WHERE p_brand = 'Brand#23' AND l_quantity < 0.5 * avg_qty
""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost if orders
    below half a part's average quantity were not taken, for one brand.
    The correlated AVG subquery decorrelates into one groupBy on
    l_partkey joined back — both sides shuffle on the same key, so AQE
    plans them into one exchange reuse. Threshold 0.5 (vs spec's 0.2)
    keeps the result non-degenerate on this corpus's uniform quantities."""
    t = Tables(spark, sf_dir)
    pa = t.lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        t.lineitem.join(
            broadcast_if_small(t.part.filter(F.col("p_brand") == "Brand#23"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(pa, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (dec_sum(F.col("l_extendedprice")) / 7.0)
            .cast("decimal(38,12)")
            .alias("s")
        )
        .select(F.round("s", 2).cast("double").alias("avg_yearly"))
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
SELECT c_name, o_orderkey, epoch_us(o_orderdate) AS order_epoch_us,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
""",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): HAVING-filtered aggregate as the
    probe side — the per-order quantity rollup shrinks lineitem ~7x before
    any join, the tiny survivor set then joins orders and customer (both
    joins broadcast the survivor side at every scale: the >250 filter is
    ~1%-selective). Quantities are small integers, exact in double, so the
    sum is order-insensitive. Order date exported as epoch-µs (timestamp
    string forms differ between engines)."""
    t = Tables(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        # `big` is an aggregate FILTERED to ~1% of orders, but its size
        # still scales with the corpus — gate the hint (lineitem bytes as
        # the proxy); threshold+AQE decide from measured size at scale
        t.orders.join(
            broadcast_if_small(big, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "order_epoch_us"
            ),
            "o_totalprice",
            "total_qty",
        )
    )


@register(
    "tpch_q19_disjunctive",
    oracle=f"""
SELECT {money_sum_sql(NET_PRICE_SQL)} AS revenue,
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
            money_sum(net_price()).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q20_excess_share_suppliers",
    oracle="""
WITH shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
  GROUP BY l_partkey, l_suppkey
),
shared AS (
  SELECT l_partkey, l_suppkey, supp_qty,
         sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
  FROM shipped
),
dominant AS (
  SELECT DISTINCT l_suppkey FROM shared
  WHERE supp_qty >= 0.15 * part_qty
)
SELECT s_name, n_name AS nation
FROM dominant
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
""",
)
def tpch_q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (suppliers with excess stock), adapted: no partsupp
    availability exists, so 'excess' becomes an OUTSIZED SHARE — suppliers who shipped >= 15%
    of some bolt-part's total volume (~1.5x the fair share under this
    corpus's ~10 suppliers/part; 0.5 yields zero rows at every SF on the
    uniform synthetic volumes, making the check vacuous). The
    reference's nested IN-subquery chain (part slice → per-(part,supp)
    quantity → availability threshold → supplier filter) keeps its exact
    shape: one (part, supp) aggregation, a per-part window total
    replacing the correlated sum subquery, a distinct semi-reduction,
    and broadcast supplier/nation name resolution. This closes the set:
    all 22 TPC-H query shapes now have an adapted, oracle-verified
    implementation (q1≈agg_groupby's plan family; q2-q22 explicit)."""
    t = Tables(spark, sf_dir)
    shipped = (
        t.lineitem.join(
            F.broadcast(
                t.part.filter(F.col("p_name").like("%bolt%")).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    shared = shipped.withColumn(
        "part_qty", F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    )
    dominant = (
        shared.filter(F.col("supp_qty") >= 0.15 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        dominant.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_name", "s_nationkey"),
                sf_dir,
                "supplier",
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", F.col("n_name").alias("nation"))
    )


@register(
    "tpch_q21_single_late_supplier",
    oracle="""
WITH flagged AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
),
culprit AS (
  SELECT l_orderkey,
         max(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
  FROM flagged
  GROUP BY l_orderkey
  HAVING count(*) >= 2 AND sum(is_late) = 1
)
SELECT s_name, count(*) AS numwait
FROM culprit JOIN supplier ON late_supp = s_suppkey
GROUP BY s_name
""",
)
def tpch_q21_single_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: per
    multi-supplier order, the UNIQUE supplier whose line shipped > 90
    days after the order date (ship delay proxies the missing
    commit/receipt dates). The reference EXISTS / NOT EXISTS pair over
    lineitem collapses into one (orderkey, suppkey) aggregation plus one
    orderkey aggregation — two partial-aggregable shuffles, no
    self-join, which is the shape that survives a 100 TB lineitem."""
    t = Tables(spark, sf_dir)
    flagged = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90), 1
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    culprit = (
        flagged.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("is_late").alias("n_late"),
            F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
                "late_supp"
            ),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        culprit.join(
            broadcast_if_small(t.supplier.select("s_suppkey", "s_name"), sf_dir, "supplier"),
            F.col("late_supp") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "tpch_q22_idle_customers",
    oracle=f"""
WITH pos_avg AS (
  SELECT avg(c_acctbal) AS threshold FROM customer WHERE c_acctbal > 0.0
),
last_year AS (SELECT max(year(o_orderdate)) AS yr FROM orders)
SELECT c_nationkey AS nationkey,
       count(*) AS numcust,
       {money_sum_sql("c_acctbal")} AS totacctbal
FROM customer, pos_avg
WHERE c_acctbal > threshold
  AND NOT EXISTS (SELECT 1 FROM orders, last_year
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = yr)
GROUP BY c_nationkey
""",
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: on this corpus every
    customer has SOME order, so 'idle' means no orders in the data's final
    year — above-average positive balance, recently inactive, grouped by
    nation. The NOT EXISTS is a left-anti join on o_custkey; the global
    average and the max-year scalar are broadcast 1-row cross joins.
    Anti-join build side is the DISTINCT custkey projection of the
    final-year orders — at scale that aggregation shrinks the shuffle to
    unique keys before the join."""
    t = Tables(spark, sf_dir)
    thr = t.customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("threshold")
    )
    rich = t.customer.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("threshold")
    )
    last_yr = t.orders.agg(F.max(F.year("o_orderdate")).alias("yr"))
    with_orders = (
        t.orders.crossJoin(F.broadcast(last_yr))
        .filter(F.year("o_orderdate") == F.col("yr"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        rich.join(with_orders, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Subquery semantics
# ---------------------------------------------------------------------------


@register(
    "subquery_scalar_avg",
    oracle="""
WITH type_avg AS (
  SELECT p_type, avg(p_retailprice) AS avg_price FROM part GROUP BY p_type
)
SELECT p.p_type, count(*) AS n_above, round(any_value(t.avg_price), 6) AS avg_price
FROM part p JOIN type_avg t ON p.p_type = t.p_type
WHERE p.p_retailprice > t.avg_price
GROUP BY p.p_type
""",
)
def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated scalar subquery: parts priced above their type's average
    — the correlated `WHERE price > (SELECT avg ...)` rewritten as the plan
    an optimizer produces: tiny per-type aggregate, broadcast back onto the
    base table. The average is a quotient (6 dp engine-stable)."""
    p = Tables(spark, sf_dir).part
    type_avg = p.groupBy("p_type").agg(F.avg("p_retailprice").alias("avg_price"))
    return (
        p.join(F.broadcast(type_avg), "p_type")
        .filter(F.col("p_retailprice") > F.col("avg_price"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.any_value("avg_price"), 6).alias("avg_price"),
        )
    )


_NOT_IN_SQL = """
WITH keys AS (
  SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS k
  FROM customer
)
SELECT
  (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT k FROM keys))
    AS n_in,
  (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM keys))
    AS n_not_in,
  (SELECT count(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o.o_custkey))
    AS n_not_exists,
  (SELECT count(*) FROM orders) AS n_total
"""


sql_op(
    "subquery_not_in_null_trap",
    spark_sql=_NOT_IN_SQL,
    oracle=_NOT_IN_SQL,
    doc="""The NOT IN + NULL three-valued-logic trap, pinned as executable
    documentation: when the subquery list contains a single NULL,
    `x NOT IN (...)` is never TRUE (x <> NULL is UNKNOWN), so n_not_in
    collapses to 0 while the NOT EXISTS spelling counts real
    non-members — the most common silent-wrong-answer rewrite in
    analytics SQL. Both engines must agree on all four counts
    (membership, the collapsed NOT IN, the anti-join truth, total).
    Spark plans the NOT IN as a null-aware anti join — same SQL text on
    both sides via the registered-view entry point (§3.2 EP2).""",
)


# ---------------------------------------------------------------------------
# Customers: segments, cohorts, lifetime value
# ---------------------------------------------------------------------------


@register(
    "customer_rfm_segments",
    oracle=f"""
WITH rfm AS (
  SELECT o_custkey,
         epoch_us(max(o_orderdate)) AS last_us,
         count(*) AS freq,
         {money_sum_sql("o_totalprice")} AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY last_us DESC, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY freq DESC, o_custkey)    AS f_score,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM rfm
)
SELECT r_score, f_score, m_score, count(*) AS n_customers
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency/frequency/monetary quartiles — the
    classic customer-value cube): one aggregate over orders, three ntile
    rankings with deterministic tie-breaks, rolled up to segment counts.
    The ntile windows are global but run over the per-customer AGGREGATE
    (|customers| ≪ |orders|); at extreme cardinality the same scores come
    from approx quantile cutpoints + a broadcast bin join. Monetary uses
    decimal accumulation (2-dp-quantized money sums land exactly on round
    boundaries otherwise — SURVEY §5.4)."""
    o = Tables(spark, sf_dir).orders
    rfm = o.groupBy("o_custkey").agg(
        F.unix_micros(F.max("o_orderdate").cast("timestamp")).alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        money_sum(F.col("o_totalprice")).alias("monetary"),
    )
    def score(col: str) -> F.Column:
        return F.ntile(4).over(
            Window.orderBy(F.col(col).desc(), F.col("o_custkey").asc())
        )
    scored = rfm.select(
        score("last_us").cast("bigint").alias("r_score"),
        score("freq").cast("bigint").alias("f_score"),
        score("monetary").cast("bigint").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "customer_value_deciles",
    oracle=f"""
WITH clv AS (
  SELECT o_custkey, {dec_sum_sql("o_totalprice")} AS lifetime
  FROM orders GROUP BY o_custkey
),
bucketed AS (
  SELECT o_custkey, lifetime,
         ntile(10) OVER (ORDER BY lifetime DESC, o_custkey ASC) AS decile
  FROM clv
)
SELECT decile, count(*) AS n_customers,
       CAST(round(sum(lifetime), 2) AS DOUBLE) AS total_value,
       CAST(round(min(lifetime), 2) AS DOUBLE) AS floor_value
FROM bucketed GROUP BY decile
""",
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value deciles: per-customer revenue, ntile(10)
    ranking (o_custkey tie-break makes bucket edges deterministic), decile
    rollup. The global ntile is a single-partition window over the ALREADY
    AGGREGATED per-customer relation — at 100 TB per-customer rows are
    ~1e9 which still needs a distributed sort; the decile cut would then
    move to approx percentile boundaries (agg_percentile's sketch) — noted
    here because ntile's exact global ordering is the documented non-scale
    piece of this query."""
    t = Tables(spark, sf_dir)
    clv = t.orders.groupBy("o_custkey").agg(dec_sum(F.col("o_totalprice")).alias("lifetime"))
    w = Window.orderBy(F.desc("lifetime"), F.asc("o_custkey"))
    return (
        clv.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("lifetime"), 2).cast("double").alias("total_value"),
            F.round(F.min("lifetime"), 2).cast("double").alias("floor_value"),
        )
    )


@register(
    "customer_order_gap_stats",
    oracle="""
WITH gaps AS (
  SELECT c_mktsegment,
         datediff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment, count(gap_days) AS n_gaps,
       round(avg(gap_days), 6) AS avg_gap,
       min(gap_days) AS min_gap, max(gap_days) AS max_gap
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
""",
)
def customer_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order cadence per market segment: day gaps between a
    customer's consecutive orders (lag over the customer's order
    timeline), rolled up to count/avg/min/max. The customer dim is
    broadcast; the window shuffles (custkey, date, orderkey) triples;
    output is segments-sized at any corpus scale."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t.orders.join(
            broadcast_if_small(t.customer.select("c_custkey", "c_mktsegment"), sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return gaps.groupBy("c_mktsegment").agg(
        F.count("gap_days").alias("n_gaps"),
        F.round(F.avg("gap_days"), 6).alias("avg_gap"),
        F.min("gap_days").alias("min_gap"),
        F.max("gap_days").alias("max_gap"),
    )


@register(
    "customer_cohort_ltv",
    oracle=f"""
WITH seq AS (
  SELECT o_custkey, o_totalprice,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(date_trunc('month', min(o_orderdate) OVER (PARTITION BY o_custkey))
              AS TIMESTAMP) AS cohort
  FROM orders
)
SELECT cohort,
       datediff('month', cohort, month) AS month_index,
       count(DISTINCT o_custkey) AS n_customers,
       {money_sum_sql("o_totalprice")} AS revenue
FROM seq
GROUP BY cohort, datediff('month', cohort, month)
""",
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, revenue tracked per months-since-acquisition — the orders-side
    twin of events_cohort_retention. One custkey-partitioned window
    (min first order), one (cohort, month_index) rollup; output is
    months² at any corpus size."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey")
    seq = t.orders.select(
        "o_custkey",
        "o_totalprice",
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.date_trunc("month", F.min("o_orderdate").over(w)).alias("cohort"),
    )
    month_index = (
        F.months_between(F.col("month"), F.col("cohort")).cast("bigint")
    )
    return seq.groupBy("cohort", month_index.alias("month_index")).agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        money_sum(F.col("o_totalprice")).alias("revenue"),
    )


_SPLIT_DATE = "1998-01-01"


@register(
    "customer_segment_migration",
    oracle=f"""
WITH rev AS (
  SELECT o_custkey AS ck,
         CASE WHEN o_orderdate < DATE '{_SPLIT_DATE}' THEN 'A' ELSE 'B' END
           AS period,
         sum(CAST(o_totalprice AS DECIMAL(38,2))) AS r
  FROM orders GROUP BY 1, 2
),
seg AS (
  SELECT ck, period,
         ntile(3) OVER (PARTITION BY period ORDER BY r DESC, ck) AS tercile
  FROM rev
),
a AS (SELECT ck, tercile FROM seg WHERE period = 'A'),
b AS (SELECT ck, tercile FROM seg WHERE period = 'B')
SELECT coalesce(CAST(a.tercile AS VARCHAR), 'absent') AS seg_early,
       coalesce(CAST(b.tercile AS VARCHAR), 'absent') AS seg_late,
       count(*) AS n_customers
FROM a FULL OUTER JOIN b ON a.ck = b.ck
GROUP BY 1, 2
""",
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue-tercile migration matrix between the early
    (pre-1998) and late order eras: who moved up, who churned out
    ('absent'), who appeared — the segment-churn view behind retention
    planning, generalizing customer_rfm_segments to a transition
    matrix. Terciles come from ntile(3) over each period's
    customer-revenue aggregate with (revenue DESC, custkey) ordering —
    the unique tie-break key that makes rank assignment deterministic
    across engines — and revenues accumulate in DECIMAL before any
    ordering. Two customer-sized windows + one full-outer join on
    custkey; output ≤ 4×4 rows at any scale."""
    o = Tables(spark, sf_dir).orders
    rev = o.groupBy(
        F.col("o_custkey").alias("ck"),
        F.when(
            F.col("o_orderdate") < F.lit(_SPLIT_DATE).cast("timestamp_ntz"),
            "A",
        )
        .otherwise("B")
        .alias("period"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("r"))
    seg = rev.select(
        "ck",
        "period",
        F.ntile(3)
        .over(
            Window.partitionBy("period").orderBy(F.desc("r"), F.asc("ck"))
        )
        .alias("tercile"),
    )
    a = seg.where(F.col("period") == "A").select(
        F.col("ck").alias("ck_a"), F.col("tercile").alias("t_a")
    )
    b = seg.where(F.col("period") == "B").select(
        F.col("ck").alias("ck_b"), F.col("tercile").alias("t_b")
    )
    return (
        a.join(b, F.col("ck_a") == F.col("ck_b"), "full_outer")
        .groupBy(
            F.coalesce(F.col("t_a").cast("string"), F.lit("absent")).alias(
                "seg_early"
            ),
            F.coalesce(F.col("t_b").cast("string"), F.lit("absent")).alias(
                "seg_late"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Orders: calendars, running totals, mix and seasonality
# ---------------------------------------------------------------------------


@register(
    "orders_priority_aging",
    oracle="""
WITH anchor AS (SELECT max(o_orderdate) AS maxd FROM orders),
aged AS (
  SELECT o_orderpriority,
         CASE
           WHEN datediff('day', o_orderdate, maxd) <= 180 THEN '0-180'
           WHEN datediff('day', o_orderdate, maxd) <= 365 THEN '181-365'
           WHEN datediff('day', o_orderdate, maxd) <= 730 THEN '366-730'
           ELSE '731+'
         END AS age_bucket
  FROM orders, anchor
)
SELECT o_orderpriority, age_bucket, count(*) AS n_orders
FROM aged GROUP BY o_orderpriority, age_bucket
""",
)
def orders_priority_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order aging report: orders bucketed by age relative to the newest
    order, split by priority — the AR-aging-style backlog matrix. The max-date
    anchor is a 1-row broadcast; bucketing is pure expression work and the
    aggregate output is bounded by 5 priorities x 4 buckets."""
    t = Tables(spark, sf_dir)
    anchor = t.orders.agg(F.max("o_orderdate").alias("maxd"))
    age = F.datediff(F.col("maxd"), F.col("o_orderdate"))
    bucket = (
        F.when(age <= 180, "0-180")
        .when(age <= 365, "181-365")
        .when(age <= 730, "366-730")
        .otherwise("731+")
    )
    return (
        t.orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_orderpriority", bucket.alias("age_bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "orders_cumulative_share_monthly",
    oracle=f"""
WITH monthly AS (
  -- o_orderdate IS NOT NULL: a cumulative monthly curve has no seat for
  -- "no month" — and the oracle engine's window ordering over a NULL
  -- month from a GROUP BY date_trunc is broken even under an explicit
  -- NULLS LAST (it seats the NULL first; verified on this corpus)
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         {dec_sum_sql("o_totalprice")} AS revenue
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY date_trunc('month', o_orderdate)
)
SELECT month,
       CAST(round(revenue, 2) AS DOUBLE) AS revenue,
       round(CAST(sum(revenue) OVER (ORDER BY month
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(sum(revenue) OVER () AS DOUBLE), 6) AS cumulative_share
FROM monthly
""",
)
def orders_cumulative_share_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue share by month — the 'what fraction of the year
    is booked by June' curve. Aggregate-first: both windows (running sum,
    grand total) run over the months-sized relation, decimal until the
    final ratio."""
    t = Tables(spark, sf_dir)
    monthly = (
        t.orders.where(F.col("o_orderdate").isNotNull())  # oracle mirrors
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(dec_sum(F.col("o_totalprice")).alias("revenue"))
    )
    # asc_nulls_last: the NULL-date month accrues at the END of the
    # cumulative curve, as in the oracle's ORDER BY month default
    w_run = Window.orderBy(F.asc_nulls_last("month")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return monthly.select(
        F.col("month").cast("timestamp_ntz").alias("month"),
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.round(
            F.sum("revenue").over(w_run).cast("double")
            / F.sum("revenue").over(w_all).cast("double"),
            6,
        ).alias("cumulative_share"),
    )


@register(
    "orders_repeat_customer_rate",
    oracle="""
WITH seq AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS nth
  FROM orders
)
SELECT month, count(*) AS n_orders,
       count(CASE WHEN nth > 1 THEN 1 END) AS n_repeat,
       round(CAST(count(CASE WHEN nth > 1 THEN 1 END) AS DOUBLE)
             / count(*), 6) AS repeat_rate
FROM seq GROUP BY month
""",
)
def orders_repeat_customer_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly repeat-purchase rate: the share of each month's orders
    placed by a customer with at least one EARLIER order. One
    custkey-partitioned row_number (shuffles orderkey+date pairs only),
    then a months-sized groupBy — no self-join against order history."""
    t = Tables(spark, sf_dir)
    # asc_nulls_last: NULL-date orders must sequence LAST per customer as
    # in the oracle — at the front they shift every real order's nth up
    # and miscount first purchases as repeats
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), "o_orderkey"
    )
    seq = t.orders.select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.row_number().over(w).alias("nth"),
    )
    return seq.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("nth") > 1, 1)).alias("n_repeat"),
        F.round(
            F.count(F.when(F.col("nth") > 1, 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("repeat_rate"),
    )


@register(
    "orders_basket_size_histogram",
    oracle="""
WITH sizes AS (
  SELECT l_orderkey, count(*) AS basket_size FROM lineitem GROUP BY l_orderkey
)
SELECT basket_size, count(*) AS n_orders,
       round(CAST(count(*) AS DOUBLE)
             / (sum(count(*)) OVER ()), 6) AS share
FROM sizes GROUP BY basket_size
""",
)
def orders_basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: line count per order, rolled into a
    histogram with shares. Two chained partial-aggregable groupBys; the
    share window runs over the ≤ max-basket-size histogram rows."""
    t = Tables(spark, sf_dir)
    sizes = t.lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_size")
    )
    hist = sizes.groupBy("basket_size").agg(F.count(F.lit(1)).alias("n_orders"))
    return hist.select(
        "basket_size",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(Window.partitionBy()),
            6,
        ).alias("share"),
    )


@register(
    "orders_seasonal_index",
    oracle=f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST({dec_sum_sql("o_totalprice")} AS DOUBLE) AS rev
  FROM orders GROUP BY date_trunc('month', o_orderdate)
),
idx AS (
  SELECT month, rev,
         CAST(datediff('month', min(month) OVER (), month) AS DOUBLE) AS tt
  FROM monthly
),
fitted AS (
  SELECT month, rev, tt,
         (avg(tt * rev) OVER () - avg(tt) OVER () * avg(rev) OVER ())
           / (avg(tt * tt) OVER () - avg(tt) OVER () * avg(tt) OVER ())
           AS slope,
         avg(rev) OVER () AS mrev, avg(tt) OVER () AS mtt
  FROM idx
)
SELECT month(month) AS cal_month, count(*) AS n_months,
       round(avg(rev / (mrev + slope * (tt - mtt))), 6) AS seasonal_index
FROM fitted
GROUP BY month(month)
""",
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative seasonal decomposition of monthly revenue: OLS
    trend fit over the month index, then the mean actual/trend ratio per
    calendar month — the '12-number seasonality profile' of the order
    book. Everything past the first groupBy runs on the months-sized
    relation (windows over ~80 rows); the OLS uses raw power sums so
    both engines fit the identical line."""
    t = Tables(spark, sf_dir)
    monthly = t.orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dec_sum(F.col("o_totalprice")).cast("double").alias("rev"))
    w = Window.partitionBy()
    idx = monthly.select(
        "month",
        "rev",
        F.months_between(
            F.col("month"), F.min("month").over(w)
        ).cast("double").alias("tt"),
    )
    tt, rev = F.col("tt"), F.col("rev")
    fitted = idx.select(
        "month",
        "rev",
        "tt",
        (
            (F.avg(tt * rev).over(w) - F.avg(tt).over(w) * F.avg(rev).over(w))
            / (F.avg(tt * tt).over(w) - F.avg(tt).over(w) * F.avg(tt).over(w))
        ).alias("slope"),
        F.avg(rev).over(w).alias("mrev"),
        F.avg(tt).over(w).alias("mtt"),
    )
    trend = F.col("mrev") + F.col("slope") * (tt - F.col("mtt"))
    return fitted.groupBy(F.month("month").alias("cal_month")).agg(
        F.count(F.lit(1)).alias("n_months"),
        F.round(F.avg(rev / trend), 6).alias("seasonal_index"),
    )


@register(
    "orders_duplicate_invoice_detect",
    oracle="""
WITH feed AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         date_trunc('day', o_orderdate) AS order_day
  FROM orders
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice,
         date_trunc('day', o_orderdate)
  FROM orders WHERE o_orderkey % 53 = 0
)
SELECT o_custkey, order_day, o_totalprice AS amount,
       count(*) AS n_claims,
       min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
FROM feed
GROUP BY o_custkey, order_day, o_totalprice
HAVING count(*) >= 2
""",
)
def orders_duplicate_invoice_detect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-invoice / double-ingestion screen: invoices agreeing on
    (customer, day, exact amount) under DIFFERENT keys — the signature of
    a replayed ingest batch or a double-submitted claim. Duplicates are
    deterministically injected (every 53rd orderkey re-enters with a
    shifted key, the quality_referential_integrity injection idiom) so
    the detector's recall is verifiable. One hash-aggregate on the
    composite key — amount is part of the grouping key, so identical
    doubles collide exactly; no float comparison tolerance is involved."""
    o = Tables(spark, sf_dir).orders
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_trunc("day", "o_orderdate").alias("order_day"),
    )
    injected = base.filter(F.col("o_orderkey") % 53 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1_000_000_000
    )
    return (
        base.unionAll(injected)
        .groupBy("o_custkey", "order_day", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_claims"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
        .filter(F.col("n_claims") >= 2)
        .select(
            "o_custkey",
            "order_day",
            F.col("o_totalprice").alias("amount"),
            "n_claims",
            "first_key",
            "last_key",
        )
    )


@register(
    "orders_fiscal_calendar_rollup",
    oracle="""
WITH tagged AS (
  -- fiscal year starts Feb 1: FY(x) = calendar year of (date - 1 month)
  SELECT year(o_orderdate - INTERVAL 1 MONTH) AS fiscal_year,
         CAST((month(o_orderdate - INTERVAL 1 MONTH) - 1) // 3 + 1 AS INT)
           AS fiscal_quarter,
         CAST(o_totalprice AS DECIMAL(38, 2)) AS p
  FROM orders
)
SELECT fiscal_year, fiscal_quarter,
       count(*) AS n_orders,
       CAST(round(sum(p), 2) AS DOUBLE) AS revenue
FROM tagged GROUP BY fiscal_year, fiscal_quarter
""",
)
def orders_fiscal_calendar_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fiscal-calendar rollup for a February-start fiscal year: FY and
    fiscal quarter derived by the shift-then-extract rule (subtract one
    month, then use calendar year/quarter arithmetic) — the offset-
    calendar family every finance rollup needs, where naive year() per
    row silently books January into the wrong FY. Pure expressions +
    one aggregate; DECIMAL revenue."""
    o = Tables(spark, sf_dir).orders
    shifted = F.col("o_orderdate") - F.expr("INTERVAL 1 MONTH")
    return (
        o.select(
            F.year(shifted).alias("fiscal_year"),
            (((F.month(shifted) - 1) / 3).cast("int") + 1).alias(
                "fiscal_quarter"
            ),
            F.col("o_totalprice").cast("decimal(38,2)").alias("p"),
        )
        .groupBy("fiscal_year", "fiscal_quarter")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("p"), 2).cast("double").alias("revenue"),
        )
    )


@register(
    "orders_ytd_vs_prior_year",
    oracle="""
WITH daily AS (
  SELECT year(o_orderdate) AS y, dayofyear(o_orderdate) AS doy,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS rev
  FROM orders GROUP BY 1, 2
),
ytd AS (
  SELECT y, doy,
         sum(rev) OVER (PARTITION BY y ORDER BY doy
                        ROWS UNBOUNDED PRECEDING) AS ytd_rev
  FROM daily
),
paired AS (
  SELECT c.y, c.doy,
         CAST(round(c.ytd_rev, 2) AS DOUBLE) AS ytd_rev,
         CAST(round(p.ytd_rev, 2) AS DOUBLE) AS prior_ytd_rev
  FROM ytd c LEFT JOIN ytd p ON p.y = c.y - 1 AND p.doy = c.doy
)
SELECT y, doy, ytd_rev, prior_ytd_rev,
       CASE WHEN prior_ytd_rev IS NOT NULL THEN
         floor((ytd_rev - prior_ytd_rev) / prior_ytd_rev * 1000000 + 0.5)
           / 1000000
       END AS yoy_ytd_growth
FROM paired
WHERE doy <= 28 AND y >= 1996
""",
)
def orders_ytd_vs_prior_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-to-date revenue aligned against the SAME day-of-year of the
    prior year — the finance dashboard's "are we ahead of last year"
    curve, which a plain cumulative sum can't answer without the
    day-of-year self-join alignment. Cumulative windows run over the
    years×days aggregate (broadcast-sized); the prior-year pairing is
    a keyed self-join on (y−1, doy); DECIMAL accumulations, one
    rounded growth division. Clamped to the first 28 days × full
    prior years so leap-day and partial-first-year artifacts stay out
    of the comparison."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(
        F.year("o_orderdate").alias("y"),
        F.dayofyear("o_orderdate").alias("doy"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev"))
    w = Window.partitionBy("y").orderBy("doy").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ytd = daily.select(
        "y", "doy", F.sum("rev").over(w).alias("ytd_rev_d")
    )
    cur = ytd.select(
        "y", "doy", F.round("ytd_rev_d", 2).cast("double").alias("ytd_rev")
    )
    prior = ytd.select(
        (F.col("y") + 1).alias("y"),
        "doy",
        F.round("ytd_rev_d", 2).cast("double").alias("prior_ytd_rev"),
    )
    growth = pround(
        (F.col("ytd_rev") - F.col("prior_ytd_rev")) / F.col("prior_ytd_rev")
    )
    return (
        cur.join(prior, ["y", "doy"], "left")
        .filter((F.col("doy") <= 28) & (F.col("y") >= 1996))
        .select(
            "y",
            "doy",
            "ytd_rev",
            "prior_ytd_rev",
            F.when(F.col("prior_ytd_rev").isNotNull(), growth).alias(
                "yoy_ytd_growth"
            ),
        )
    )


@register(
    "orders_moving_annual_total",
    oracle="""
WITH monthly AS (
  -- o_orderdate IS NOT NULL: a NULL month has no seat in a trailing
  -- 12-month frame (see orders_cumulative_share_monthly)
  SELECT date_trunc('month', o_orderdate) AS m,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS rev,
         count(*) AS n
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
indexed AS (
  SELECT m, rev, n,
         row_number() OVER (ORDER BY m) AS idx
  FROM monthly
)
SELECT m,
       CAST(round(sum(rev) OVER (ORDER BY idx
              ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS mat_revenue,
       CAST(sum(n) OVER (ORDER BY idx
              ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS mat_orders,
       CAST(count(*) OVER (ORDER BY idx
              ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS INT)
         AS months_in_window
FROM indexed
""",
)
def orders_moving_annual_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving Annual Total — trailing-12-month revenue per month, the
    de-seasonalized trend line commercial reporting defaults to (each
    point contains every season exactly once, so seasonality cancels
    without decomposition). A months-indexed ROWS frame over the
    monthly aggregate (contiguous months in this corpus make the
    row frame ≡ a month-range frame); months_in_window exposes the
    warm-up period where the window is still partial. DECIMAL sums,
    broadcast-sized relation at any order volume."""
    o = Tables(spark, sf_dir).orders.where(F.col("o_orderdate").isNotNull())
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    w_idx = Window.orderBy("m")
    indexed = monthly.withColumn("idx", F.row_number().over(w_idx))
    w_mat = Window.orderBy("idx").rowsBetween(-11, Window.currentRow)
    return indexed.select(
        "m",
        F.round(F.sum("rev").over(w_mat), 2)
        .cast("double")
        .alias("mat_revenue"),
        F.sum("n").over(w_mat).cast("bigint").alias("mat_orders"),
        F.count(F.lit(1)).over(w_mat).cast("int").alias("months_in_window"),
    )


@register(
    "orders_open_backlog_sweepline",
    oracle="""
WITH comp AS (
  SELECT l_orderkey AS ok, date_trunc('month', max(l_shipdate)) AS done_m
  FROM lineitem GROUP BY l_orderkey
),
od AS (
  -- both months NOT NULL: an order with an unknown start or completion
  -- month cannot be swept onto the calendar line
  SELECT date_trunc('month', o_orderdate) AS start_m, done_m,
         CAST(o_totalprice AS DECIMAL(38,2)) AS v
  FROM orders JOIN comp ON o_orderkey = ok
  WHERE o_orderdate IS NOT NULL AND done_m IS NOT NULL
),
deltas AS (
  SELECT start_m AS m, 1 AS d, v FROM od
  UNION ALL
  SELECT done_m AS m, -1 AS d, -v AS v FROM od
),
agg AS (SELECT m, sum(d) AS dn, sum(v) AS dv FROM deltas GROUP BY m)
SELECT CAST(m AS TIMESTAMP) AS month,
       CAST(sum(dn) OVER w AS BIGINT) AS open_orders,
       CAST(round(sum(dv) OVER w, 2) AS DOUBLE) AS open_value
FROM agg
WINDOW w AS (ORDER BY m ROWS UNBOUNDED PRECEDING)
""",
)
def orders_open_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-month open-order backlog (count + value) via the
    SWEEP-LINE trick: each order emits a +1 delta in its order month
    and a -1 delta in its completion month (last shipment), and the
    running sum over the months-sized delta relation IS the backlog.
    The naive form — join every order against every month it spans —
    is an interval×calendar blow-up that grows with span length; the
    sweep-line shuffles exactly 2 rows per order regardless of how
    long orders stay open, then runs both cumulative windows over the
    ~80-row month relation. Backlog value accumulates in DECIMAL so
    the +v/-v pairs cancel exactly."""
    t = Tables(spark, sf_dir)
    comp = t.lineitem.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.date_trunc("month", F.max("l_shipdate")).alias("done_m")
    )
    price = F.col("o_totalprice").cast("decimal(38,2)")
    od = (
        t.orders.join(comp, F.col("o_orderkey") == F.col("ok"))
        .select(
            F.date_trunc("month", "o_orderdate").alias("start_m"),
            "done_m",
            price.alias("v"),
        )
        # oracle mirrors: unknown start/completion months can't be swept
        .where(F.col("start_m").isNotNull() & F.col("done_m").isNotNull())
    )
    deltas = od.select(
        F.col("start_m").alias("m"), F.lit(1).alias("d"), F.col("v")
    ).unionAll(
        od.select(
            F.col("done_m").alias("m"),
            F.lit(-1).alias("d"),
            (-F.col("v")).alias("v"),
        )
    )
    agg = deltas.groupBy("m").agg(
        F.sum("d").alias("dn"), F.sum("v").alias("dv")
    )
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return agg.select(
        F.col("m").cast("timestamp_ntz").alias("month"),
        F.sum("dn").over(w).cast("bigint").alias("open_orders"),
        F.round(F.sum("dv").over(w), 2).cast("double").alias("open_value"),
    )


@register(
    "orders_priority_mix_shift",
    oracle=f"""
WITH cnt AS (
  SELECT date_trunc('month', o_orderdate) AS m, o_orderpriority AS p,
         count(*) AS c
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
),
grid AS (
  SELECT months.m, prios.p, coalesce(cnt.c, 0) AS c
  FROM (SELECT DISTINCT m FROM cnt) months
  CROSS JOIN (SELECT DISTINCT p FROM cnt) prios
  LEFT JOIN cnt ON cnt.m = months.m AND cnt.p = prios.p
),
sh AS (
  SELECT m, p,
         CAST(c AS DOUBLE)
           / CAST(sum(c) OVER (PARTITION BY m) AS DOUBLE) AS s
  FROM grid
),
d AS (
  SELECT m, p, s - lag(s) OVER (PARTITION BY p ORDER BY m) AS ds FROM sh
)
SELECT CAST(m AS TIMESTAMP) AS month,
       {grid_sum_sql("abs(ds)")} / 2.0 AS tvd,
       round(max(abs(ds)), 6) AS max_abs_shift,
       CAST(sum(CASE WHEN ds > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up
FROM d WHERE ds IS NOT NULL
GROUP BY m
""",
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month categorical drift of the order-priority MIX:
    total-variation distance 0.5·Σ|Δshare| between consecutive months,
    the max single-priority shift, and how many priorities moved up —
    the categorical sibling of quality_psi_drift's numeric PSI. Shares
    must be compared on a DENSE month×priority grid (a priority absent
    one month is a 0-share cell, not a missing row), built as
    months × priorities (both aggregate-sized) left-joined with counts;
    lag/TVD windows then run over the grid, never the raw orders.
    Shares stay unrounded doubles through the diff (c/total division is
    IEEE-exact on both engines); only the final statistics round."""
    t = Tables(spark, sf_dir)
    # Null months/priorities are excluded EXPLICITLY on both sides: a mix
    # shift over an unknown month is meaningless, NULL grid keys never
    # match the null-unsafe grid join anyway, and (found on the null tier)
    # DISTINCT-then-dense-grid over a NULL timestamp month is nondeterminate
    # in the oracle engine — the contract must not stand on that construct.
    cnt = (
        t.orders.where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("m"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    months = cnt.select("m").distinct()
    prios = cnt.select("p").distinct()
    grid = (
        months.crossJoin(F.broadcast(prios))
        .join(cnt, ["m", "p"], "left")
        .select("m", "p", F.coalesce("c", F.lit(0)).alias("c"))
    )
    # try_divide: a NULL-month group never matches the null-unsafe grid
    # join, leaving an all-zero partition whose total is 0 — DuckDB's /0
    # yields NULL (then drops at ds IS NOT NULL); ANSI division would crash.
    sh = grid.select(
        "m",
        "p",
        F.try_divide(
            F.col("c").cast("double"),
            F.sum("c").over(Window.partitionBy("m")).cast("double"),
        ).alias("s"),
    )
    d = sh.select(
        "m",
        "p",
        (
            F.col("s")
            - F.lag("s").over(Window.partitionBy("p").orderBy("m"))
        ).alias("ds"),
    ).where(F.col("ds").isNotNull())
    return d.groupBy(F.col("m").cast("timestamp_ntz").alias("month")).agg(
        # the ~5 per-month |Δshare| terms sum on the exact 1e-6 integer
        # grid (portable.py:grid_sum — null-tier catch: share ratios land
        # exactly on decimal-cast midpoints, where the engines' cast
        # rounding disagrees); /2.0 is one identical IEEE op, so the
        # emission is bit-deterministic with no further round
        (grid_sum(F.abs("ds")) / F.lit(2.0)).alias("tvd"),
        F.round(F.max(F.abs("ds")), 6).alias("max_abs_shift"),
        F.sum(F.when(F.col("ds") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
    )


@register(
    "orders_hierarchy_share_of_parent",
    oracle="""
WITH base AS (
  SELECT r_name, n_name, c_mktsegment AS seg,
         sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2, 3
),
seg_lvl AS (
  SELECT 'segment' AS level, n_name || '/' || seg AS key, n_name AS parent,
         rev,
         sum(rev) OVER (PARTITION BY n_name) AS parent_rev
  FROM base
),
nat_lvl AS (
  SELECT 'nation' AS level, n_name AS key, r_name AS parent,
         sum(rev) AS rev
  FROM base GROUP BY n_name, r_name
),
nat_w AS (
  SELECT level, key, parent, rev,
         sum(rev) OVER (PARTITION BY parent) AS parent_rev
  FROM nat_lvl
),
reg_lvl AS (
  SELECT 'region' AS level, r_name AS key, 'ALL' AS parent,
         sum(rev) AS rev
  FROM base GROUP BY r_name
),
reg_w AS (
  SELECT level, key, parent, rev, sum(rev) OVER () AS parent_rev
  FROM reg_lvl
),
u AS (
  SELECT * FROM seg_lvl UNION ALL
  SELECT * FROM nat_w UNION ALL
  SELECT * FROM reg_w
)
SELECT level, key, parent,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE) / CAST(parent_rev AS DOUBLE), 6)
         AS share_of_parent
FROM u
""",
)
def orders_hierarchy_share_of_parent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical share-of-parent report over region → nation →
    market segment: every node's revenue as a fraction of its PARENT's
    total — the drill-down ratio agg_rollup's grand-margin rows don't
    give you (a rollup shares against the grand total; planners want
    'this segment is 40% of its nation'). One corpus-sized groupBy to
    the (region, nation, segment) base relation; every level and every
    parent total is then a window or re-aggregate over those ≤ 125
    rows, DECIMAL until the final ratio."""
    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
                sf_dir,
                "customer",
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t.region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name", F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev")
        )
    )
    seg_lvl = base.select(
        F.lit("segment").alias("level"),
        # null-propagating concat (oracle ||): a NULL nation or segment
        # nulls the composite key instead of collapsing to a bare name
        F.concat(F.col("n_name"), F.lit("/"), F.col("seg")).alias("key"),
        F.col("n_name").alias("parent"),
        "rev",
        F.sum("rev").over(Window.partitionBy("n_name")).alias("parent_rev"),
    )
    nat_lvl = base.groupBy("n_name", "r_name").agg(
        F.sum("rev").alias("rev")
    )
    nat_w = nat_lvl.select(
        F.lit("nation").alias("level"),
        F.col("n_name").alias("key"),
        F.col("r_name").alias("parent"),
        "rev",
        F.sum("rev").over(Window.partitionBy("r_name")).alias("parent_rev"),
    )
    reg_lvl = base.groupBy("r_name").agg(F.sum("rev").alias("rev"))
    reg_w = reg_lvl.select(
        F.lit("region").alias("level"),
        F.col("r_name").alias("key"),
        F.lit("ALL").alias("parent"),
        "rev",
        F.sum("rev").over(Window.partitionBy()).alias("parent_rev"),
    )
    u = seg_lvl.unionByName(nat_w).unionByName(reg_w)
    return u.select(
        "level",
        "key",
        "parent",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.col("parent_rev").cast("double"),
            6,
        ).alias("share_of_parent"),
    )


@register(
    "orders_seasonal_decomposition_additive",
    oracle=f"""
WITH monthly AS (
  -- o_orderdate IS NOT NULL: a NULL month has no seat in a centered
  -- 12-month moving window (see orders_cumulative_share_monthly)
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS rev
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
tr AS (
  SELECT m, rev,
         sum(rev) OVER w / 12 AS trend,
         count(*) OVER w AS wn
  FROM monthly
  WINDOW w AS (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
),
det AS (
  SELECT CAST(month(m) AS INTEGER) AS month_num, rev - trend AS d
  FROM tr WHERE wn = 12
),
seas AS (
  SELECT month_num, count(*) AS n_obs, avg(d) AS s
  FROM det GROUP BY month_num
)
, rem AS (
  SELECT seas.month_num, seas.n_obs, seas.s,
         (SELECT avg(abs(det.d - seas.s)) FROM det
          WHERE det.month_num = seas.month_num) AS mar
  FROM seas
)
SELECT month_num,
       CAST(n_obs AS BIGINT) AS n_obs,
       {mant_exp_sql("s", "seasonal")},
       {mant_exp_sql("mar", "remainder")}
FROM rem
""",
)
def orders_seasonal_decomposition_additive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue:
    trend = 12-month moving average (full windows only), seasonal
    index = mean detrended value per calendar month, remainder = what
    neither explains — the decomposition behind 'is December really
    bigger or is it just trend'. orders_seasonal_index ratios against
    the global mean; this one removes a MOVING trend first, so a
    growing business doesn't masquerade as seasonality. Monthly sums
    in DECIMAL → identical doubles; trend divides a window sum by the
    exact count; all windows run over the ~80-row months relation."""
    o = Tables(spark, sf_dir).orders.where(F.col("o_orderdate").isNotNull())
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
        .cast("double")
        .alias("rev")
    )
    w = Window.orderBy("m").rowsBetween(-5, 6)
    tr = monthly.select(
        "m",
        "rev",
        (F.sum("rev").over(w) / 12).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    det = tr.where(F.col("wn") == 12).select(
        F.month("m").cast("int").alias("month_num"),
        (F.col("rev") - F.col("trend")).alias("d"),
    )
    seas = det.groupBy("month_num").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.avg("d").alias("s"),
    )
    rem = (
        det.join(seas.select("month_num", "s"), "month_num")
        .groupBy("month_num")
        .agg(
            F.avg(F.abs(F.col("d") - F.col("s"))).alias("mar")
        )
    )

    # relative (mantissa/exponent) emission — revenue magnitudes scale with
    # the corpus, and at sfx1.0 the ~1e8 remainder average sits within
    # double's summation-order noise of a fixed 6-dp rounding boundary
    # (measured at the round-8 sweep); zero-guarded because the seasonal
    # index is zero-centered. See functions/portable.py.
    return seas.join(rem, "month_num").select(
        "month_num",
        "n_obs",
        *mant_exp_cols(F.col("s"), "seasonal"),
        *mant_exp_cols(F.col("mar"), "remainder"),
    )


@register(
    "orders_fulfillment_vintage_curves",
    oracle="""
WITH li AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS cohort_year,
         least(greatest(CAST(floor(datediff('day', o_orderdate, l_shipdate)
                                   / 30.0) AS INTEGER), 0), 5) AS mbucket
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cells AS (
  SELECT cohort_year, mbucket, count(*) AS c
  FROM li GROUP BY cohort_year, mbucket
)
SELECT cohort_year, mbucket AS months_since_order,
       CAST(c AS BIGINT) AS n_lines,
       round(CAST(sum(c) OVER (PARTITION BY cohort_year ORDER BY mbucket
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / sum(c) OVER (PARTITION BY cohort_year), 6)
         AS cum_fulfilled_share
FROM cells
""",
)
def orders_fulfillment_vintage_curves(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vintage (cohort-maturity) fulfillment curves: for each order-year
    cohort, the cumulative share of lineitems shipped within 0,1,…,5+
    months of ordering — the credit-risk 'vintage triangle' shape
    applied to operations, which answers 'is this year's backlog
    clearing slower than last year's at the same age' (a question the
    global delay histogram can't see because it mixes cohort ages).
    Day deltas are exact integers clamped to [0, 5+] — the lower clamp
    absorbs this synthetic corpus's order-independent ship dates AND
    sidesteps the §5.4 negative-division trap — and both windows run
    over the ≤ years×6 cell aggregate; one corpus-sized join+groupBy,
    everything after is bounded."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.join(
        t.orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.year("o_orderdate").cast("int").alias("cohort_year"),
        F.least(
            F.greatest(
                F.floor(
                    F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
                    / 30.0
                ).cast("int"),
                F.lit(0),
            ),
            F.lit(5),
        ).alias("mbucket"),
    )
    cells = li.groupBy("cohort_year", "mbucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = Window.partitionBy("cohort_year").orderBy("mbucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_coh = Window.partitionBy("cohort_year")
    return cells.select(
        "cohort_year",
        F.col("mbucket").alias("months_since_order"),
        F.col("c").cast("bigint").alias("n_lines"),
        F.round(
            F.sum("c").over(w_cum).cast("double") / F.sum("c").over(w_coh),
            6,
        ).alias("cum_fulfilled_share"),
    )


_SEG_A = "BUILDING"


_SEG_B = "MACHINERY"


@register(
    "orders_simpsons_reversal_check",
    oracle=f"""
WITH base AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         CAST(o_totalprice AS DECIMAL(38,2)) AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{_SEG_A}', '{_SEG_B}')
),
strata AS (
  SELECT nk,
         CAST(sum(CASE WHEN seg = '{_SEG_A}' THEN v END) AS DOUBLE)
           / count(CASE WHEN seg = '{_SEG_A}' THEN 1 END)
         - CAST(sum(CASE WHEN seg = '{_SEG_B}' THEN v END) AS DOUBLE)
           / count(CASE WHEN seg = '{_SEG_B}' THEN 1 END) AS diff
  FROM base GROUP BY nk
  HAVING count(CASE WHEN seg = '{_SEG_A}' THEN 1 END) > 0
     AND count(CASE WHEN seg = '{_SEG_B}' THEN 1 END) > 0
),
overall AS (
  SELECT CAST(sum(CASE WHEN seg = '{_SEG_A}' THEN v END) AS DOUBLE)
           / count(CASE WHEN seg = '{_SEG_A}' THEN 1 END)
         - CAST(sum(CASE WHEN seg = '{_SEG_B}' THEN v END) AS DOUBLE)
           / count(CASE WHEN seg = '{_SEG_B}' THEN 1 END) AS odiff
  FROM base
)
SELECT round((SELECT odiff FROM overall), 6) AS overall_diff,
       count(*) AS n_strata,
       CAST(sum(CASE WHEN sign(diff) <> sign((SELECT odiff FROM overall))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed,
       round(CAST(sum(CASE WHEN sign(diff)
                                <> sign((SELECT odiff FROM overall))
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS reversal_share
FROM strata
""",
)
def orders_simpsons_reversal_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox screen: the BUILDING−MACHINERY mean-order-value
    gap computed overall AND within every customer-nation stratum, with
    the count of strata whose gap has the OPPOSITE sign — a high
    reversal share means the aggregate comparison is confounded by the
    nation mix and any segment-level conclusion must be stratified
    (the audit behind every 'segment X spends more' claim). Means are
    exact-DECIMAL-sum / integer-count on both engines, sign() compares
    identical doubles, and the stratum relation is nations-sized after
    one broadcast-dim join + groupBy."""
    t = Tables(spark, sf_dir)
    v = F.col("o_totalprice").cast("decimal(38,2)")
    base = (
        t.orders.join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
                sf_dir,
                "customer",
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where(F.col("c_mktsegment").isin(_SEG_A, _SEG_B))
        .select(
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            v.alias("v"),
        )
    )

    def seg_mean(seg: str):
        return F.sum(F.when(F.col("seg") == seg, F.col("v"))).cast(
            "double"
        ) / F.count(F.when(F.col("seg") == seg, 1))

    strata = (
        base.groupBy("nk")
        .agg(
            (seg_mean(_SEG_A) - seg_mean(_SEG_B)).alias("diff"),
            F.count(F.when(F.col("seg") == _SEG_A, 1)).alias("ca"),
            F.count(F.when(F.col("seg") == _SEG_B, 1)).alias("cb"),
        )
        .where((F.col("ca") > 0) & (F.col("cb") > 0))
    )
    overall = base.agg(
        (seg_mean(_SEG_A) - seg_mean(_SEG_B)).alias("odiff")
    )
    joined = strata.crossJoin(F.broadcast(overall))
    reversed_ = F.when(
        F.signum(F.col("diff")) != F.signum(F.col("odiff")), 1
    ).otherwise(0)
    return joined.agg(
        F.round(F.max("odiff"), 6).alias("overall_diff"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(reversed_).cast("bigint").alias("n_reversed"),
        F.round(
            F.sum(reversed_).cast("double") / F.count(F.lit(1)), 6
        ).alias("reversal_share"),
    )


# ---------------------------------------------------------------------------
# Line items: pricing, shipping, inventory classes
# ---------------------------------------------------------------------------


@register(
    "lineitem_abc_pareto",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey,
         {money_sum_sql(NET_PRICE_SQL)} AS revenue
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
         sum(revenue) OVER () AS total_rev
  FROM rev
),
classed AS (
  SELECT CASE WHEN cum_rev / total_rev <= 0.5 THEN 'A'
              WHEN cum_rev / total_rev <= 0.8 THEN 'B'
              ELSE 'C' END AS abc_class,
         revenue
  FROM ranked
)
SELECT abc_class, count(*) AS n_parts,
       {money_sum_sql("revenue")} AS class_revenue
FROM classed
GROUP BY abc_class
ORDER BY abc_class
""",
)
def lineitem_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification (which parts carry 50/80% of revenue):
    per-part revenue rollup, a descending cumulative share over the
    aggregated relation, CASE into classes, re-aggregate. The global
    cumsum window runs over per-part aggregates (20k rows per million
    lineitems), not the fact table. Revenue is 2-dp-quantized money ×
    discount — decimal accumulation on both engines, and the class
    boundaries are revenue RATIOS (never on a rounding grid), so the
    CASE is engine-stable."""
    li = Tables(spark, sf_dir).lineitem
    rev = li.groupBy("l_partkey").agg(money_sum(net_price()).alias("revenue"))
    w_cum = Window.orderBy(F.col("revenue").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.sum("revenue").over(w_cum) / F.sum("revenue").over(w_all)
    classed = rev.select(
        F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").alias(
            "abc_class"
        ),
        "revenue",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        money_sum(F.col("revenue")).alias("class_revenue"),
    )


@register(
    "lineitem_shipping_delay_stats",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_lines,
       round(avg(datediff('day', o_orderdate, l_shipdate)), 6) AS avg_delay,
       min(datediff('day', o_orderdate, l_shipdate)) AS min_delay,
       max(datediff('day', o_orderdate, l_shipdate)) AS max_delay,
       round(stddev_samp(datediff('day', o_orderdate, l_shipdate)), 6)
         AS sd_delay
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def lineitem_shipping_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-delay distribution per order priority: integer day deltas
    through count/avg/min/max/stddev. One shuffle join on orderkey, one
    partial-aggregable groupBy; 5-row output at any scale."""
    t = Tables(spark, sf_dir)
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg(delay), 6).alias("avg_delay"),
            F.min(delay).alias("min_delay"),
            F.max(delay).alias("max_delay"),
            F.round(F.stddev_samp(delay), 6).alias("sd_delay"),
        )
    )


@register(
    "lineitem_discount_quantity_regr",
    oracle="""
WITH obs AS (
  SELECT p_brand, l_discount AS d, CAST(l_quantity AS DOUBLE) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT p_brand, count(*) AS n,
       round((avg(d * q) - avg(d) * avg(q))
             / (avg(d * d) - avg(d) * avg(d)), 6) AS slope,
       round(avg(q) - (avg(d * q) - avg(d) * avg(q))
                      / (avg(d * d) - avg(d) * avg(d)) * avg(d), 6)
         AS intercept,
       round(pow(avg(d * q) - avg(d) * avg(q), 2)
             / ((avg(d * d) - avg(d) * avg(d))
                * (avg(q * q) - avg(q) * avg(q))), 6) AS r2
FROM obs GROUP BY p_brand
""",
)
def lineitem_discount_quantity_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS regression of quantity on discount (slope,
    intercept, R²) — the price-elasticity proxy, and the grouped
    generalization of agg_corr_regression. One broadcast dim join, one
    partial-aggregable groupBy carrying five power sums; brands-sized
    output at any scale."""
    t = Tables(spark, sf_dir)
    obs = t.lineitem.join(
        broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "p_brand",
        F.col("l_discount").alias("d"),
        F.col("l_quantity").cast("double").alias("q"),
    )
    d, q = F.col("d"), F.col("q")
    cov = F.avg(d * q) - F.avg(d) * F.avg(q)
    var_d = F.avg(d * d) - F.avg(d) * F.avg(d)
    var_q = F.avg(q * q) - F.avg(q) * F.avg(q)
    return obs.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(cov / var_d, 6).alias("slope"),
        F.round(F.avg(q) - cov / var_d * F.avg(d), 6).alias("intercept"),
        F.round(F.pow(cov, 2) / (var_d * var_q), 6).alias("r2"),
    )


@register(
    "lineitem_quantity_cusum_shift",
    oracle="""
WITH daily AS (
  -- l_shipdate IS NOT NULL: a daily control chart has no seat for
  -- "no day" (and the oracle engine's window ordering over a NULL
  -- grouped date is unreliable — see orders_cumulative_share_monthly)
  SELECT l_shipdate AS day, CAST(sum(l_quantity) AS DOUBLE) AS x
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY l_shipdate
),
stats AS (
  SELECT day, x, avg(x) OVER () AS mu, count(*) OVER () AS n_days
  FROM daily
),
cusum AS (
  SELECT day, n_days,
         sum(x - mu) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM stats
),
ranked AS (
  SELECT day AS shift_day, CAST(n_days AS BIGINT) AS n_days,
         round(c, 4) AS cusum_value,
         row_number() OVER (ORDER BY abs(c) DESC, day ASC) AS rn
  FROM cusum
)
SELECT shift_day, n_days, cusum_value FROM ranked WHERE rn = 1
""",
)
def lineitem_quantity_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily shipped-quantity series:
    the day where the cumulative deviation from the series mean peaks in
    magnitude — the classic level-shift locator of statistical process
    control. Aggregate-first: every window (mean, running sum, argmax
    rank) runs over the days-sized relation; output is exactly one row
    with a deterministic tie-break."""
    t = Tables(spark, sf_dir)
    daily = (
        t.lineitem.where(F.col("l_shipdate").isNotNull())  # oracle mirrors
        .groupBy(F.col("l_shipdate").alias("day"))
        .agg(F.sum("l_quantity").cast("double").alias("x"))
    )
    w_all = Window.partitionBy()
    stats = daily.select(
        "day",
        "x",
        F.avg("x").over(w_all).alias("mu"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = stats.select(
        "day",
        "n_days",
        F.sum(F.col("x") - F.col("mu")).over(w_run).alias("c"),
    )
    w_rank = Window.orderBy(F.abs(F.col("c")).desc(), F.asc("day"))
    return (
        cusum.select(
            F.col("day").alias("shift_day"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.round("c", 4).alias("cusum_value"),
            F.row_number().over(w_rank).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "lineitem_ship_latency_by_nation",
    oracle=f"""
SELECT n_name,
       count(*) AS n,
       floor(CAST(sum(d) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS avg_days,
       {percentile_sql("d", 0.5)} AS p50_days,
       {percentile_sql("d", 0.9)} AS p90_days
FROM (
  SELECT n_name,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS d
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
)
GROUP BY n_name
""",
)
def lineitem_ship_latency_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship latency profile per supplier nation: count, mean,
    and p50/p90 of the day delta between order placement and line
    shipment — the fulfilment-SLA view. The only big-big shuffle is
    lineitem ⋈ orders on orderkey; supplier and nation broadcast. The
    mean is spelled as an explicit exact-integer sum / count double
    division (identical operation order in both engines) and day deltas
    are integers, so quantile interpolation lands on exact binary
    midpoints."""
    t = Tables(spark, sf_dir)
    d = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    joined = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(
            broadcast_if_small(t.supplier, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", d.alias("d"))
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        pround(
            F.sum("d").cast("double") / F.count(F.lit(1))
        ).alias("avg_days"),
        percentile("d", 0.5).alias("p50_days"),
        percentile("d", 0.9).alias("p90_days"),
    )


@register(
    "lineitem_abc_xyz_matrix",
    oracle="""
WITH monthly AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
         CAST(sum(CAST(l_quantity AS DECIMAL(38, 2))) AS DOUBLE) AS q
  FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey,
         count(*) AS n_months,
         CAST(sum(CAST(q AS DECIMAL(38, 2))) AS DOUBLE) AS sq,
         CAST(sum(CAST(q AS DECIMAL(38, 2)) * CAST(q AS DECIMAL(38, 2)))
              AS DOUBLE) AS sq2,
         CAST(sum(CAST(q AS DECIMAL(38, 2))) AS DECIMAL(38, 2)) AS total_q
  FROM monthly GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, n_months, sq, sq2, total_q,
         sum(total_q) OVER (ORDER BY total_q DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
         sum(total_q) OVER () AS tot
  FROM per_part
),
classed AS (
  SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
              WHEN cum * 20 <= tot * 19 THEN 'B'
              ELSE 'C' END AS abc,
         CASE WHEN n_months < 2 THEN 'Z'
              WHEN sqrt((sq2 - sq * sq / n_months) / (n_months - 1))
                   / (sq / n_months) < 0.25 THEN 'X'
              WHEN sqrt((sq2 - sq * sq / n_months) / (n_months - 1))
                   / (sq / n_months) < 0.5 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM ranked
)
SELECT abc, xyz, count(*) AS n_parts
FROM classed GROUP BY abc, xyz
""",
)
def lineitem_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification — the planner's 3×3 matrix:
    ABC = cumulative-volume tiers (top 80% / next 15% / tail, cut by
    EXACT decimal comparisons cum·5 ≤ tot·4 — no division), XYZ =
    demand-variability tiers from the coefficient of variation of
    monthly quantities (CV < 0.25 steady, < 0.5 seasonal, else
    erratic; fewer than 2 observed months is Z by definition). CV is
    derived from exact DECIMAL power sums with identical IEEE
    operation order, and the classification thresholds are pure
    comparisons, so no rounding surface exists. Windows run over the
    parts-sized aggregate; output is ≤9 cells at any scale."""
    t = Tables(spark, sf_dir)
    monthly = (
        t.lineitem.groupBy(
            "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,2)"))
            .cast("double")
            .alias("q")
        )
    )
    qd = F.col("q").cast("decimal(38,2)")
    per_part = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(qd).cast("double").alias("sq"),
        F.sum(qd * qd).cast("double").alias("sq2"),
        F.sum(qd).cast("decimal(38,2)").alias("total_q"),
    )
    w_cum = Window.orderBy(F.desc("total_q"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_part.select(
        "*",
        F.sum("total_q").over(w_cum).alias("cum"),
        F.sum("total_q").over(
            Window.partitionBy()
        ).alias("tot"),
    )
    cv = F.sqrt(
        (F.col("sq2") - F.col("sq") * F.col("sq") / F.col("n_months"))
        / (F.col("n_months") - 1)
    ) / (F.col("sq") / F.col("n_months"))
    abc = (
        F.when(F.col("cum") * 5 <= F.col("tot") * 4, "A")
        .when(F.col("cum") * 20 <= F.col("tot") * 19, "B")
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("n_months") < 2, "Z")
        .when(cv < 0.25, "X")
        .when(cv < 0.5, "Y")
        .otherwise("Z")
    )
    return (
        ranked.select(abc.alias("abc"), xyz.alias("xyz"))
        .groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@register(
    "lineitem_price_index",
    oracle=f"""
WITH yearly AS (
  SELECT l_partkey, year(l_shipdate) AS y,
         sum(CAST(l_quantity AS DECIMAL(38, 2))) AS q,
         sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS spend
  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
  GROUP BY 1, 2
),
paired AS (
  SELECT b.l_partkey,
         CAST(b.spend AS DOUBLE) / CAST(b.q AS DOUBLE) AS p0,
         CAST(c.spend AS DOUBLE) / CAST(c.q AS DOUBLE) AS p1,
         CAST(b.q AS DOUBLE) AS q0
  FROM yearly b JOIN yearly c
    ON b.l_partkey = c.l_partkey AND b.y = 1995 AND c.y = 1996
)
SELECT count(*) AS n_parts_priced,
       floor(CAST({dec_sum_sql("floor(p1 * q0 * 1000000 + 0.5) / 1000000")}
                  AS DOUBLE)
             / CAST({dec_sum_sql("floor(p0 * q0 * 1000000 + 0.5) / 1000000")}
                    AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS laspeyres_index
FROM paired
""",
)
def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index 1995→1996: Σp₁q₀ / Σp₀q₀ over parts traded
    in BOTH years, with base-year quantities as the fixed basket — the
    inflation-style unit-price drift measure a procurement or pricing
    team tracks. Unit prices are spend/quantity from exact DECIMAL
    sums; each p·q₀ term is portable-rounded to 6dp and accumulated in
    DECIMAL (the order-independent-sum idiom), leaving ONE final
    division. The year self-join is parts-keyed."""
    li = Tables(spark, sf_dir).lineitem
    yearly = (
        li.filter(F.year("l_shipdate").isin(1995, 1996))
        .groupBy("l_partkey", F.year("l_shipdate").alias("y"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("q"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias(
                "spend"
            ),
        )
    )
    # try_divide: an all-zero-quantity (part, year) cell has no unit
    # price — NULL propagates through the index exactly like the
    # oracle's x/0 -> NULL
    base = yearly.filter(F.col("y") == 1995).select(
        "l_partkey",
        F.try_divide(
            F.col("spend").cast("double"), F.col("q").cast("double")
        ).alias("p0"),
        F.col("q").cast("double").alias("q0"),
    )
    cur = yearly.filter(F.col("y") == 1996).select(
        "l_partkey",
        F.try_divide(
            F.col("spend").cast("double"), F.col("q").cast("double")
        ).alias("p1"),
    )
    paired = base.join(cur, "l_partkey")
    num = dec_sum(pround(F.col("p1") * F.col("q0"))).cast("double")
    den = dec_sum(pround(F.col("p0") * F.col("q0"))).cast("double")
    return paired.agg(
        F.count(F.lit(1)).alias("n_parts_priced"),
        pround(num / den).alias("laspeyres_index"),
    )


_Z95 = "1.959963984540054"


@register(
    "lineitem_wilson_ci_return_rate",
    oracle=f"""
WITH cnt AS (
  SELECT n_name,
         count(*) AS n,
         count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS r
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name
),
wil AS (
  SELECT n_name, n, r,
         CAST(r AS DOUBLE) / n AS p,
         {_Z95} AS z
  FROM cnt
)
SELECT n_name AS nation,
       CAST(n AS BIGINT) AS n_lines,
       CAST(r AS BIGINT) AS n_returned,
       round(p, 6) AS rate,
       round((p + z*z/(2*n) - z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)))
             / (1 + z*z/n), 6) AS wilson_lo,
       round((p + z*z/(2*n) + z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)))
             / (1 + z*z/n), 6) AS wilson_hi
FROM wil
""",
)
def lineitem_wilson_ci_return_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """95% Wilson score interval for the return rate per supplier
    nation — the proportion CI that stays inside [0,1] and behaves at
    small n where the normal ('Wald') interval collapses; the
    closed-form sibling of agg_bootstrap_mean_ci. Every input to the
    formula is an exact integer count (one broadcast-dim join + one
    nations-sized groupBy), so both engines evaluate the identical
    float expression — no accumulation-order exposure anywhere."""
    t = Tables(spark, sf_dir)
    cnt = (
        t.lineitem.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("r"),
        )
    )
    z = F.lit(float(_Z95))
    n = F.col("n").cast("double")
    p = F.col("r").cast("double") / n
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    center = p + z * z / (2 * n)
    denom = 1 + z * z / n
    return cnt.select(
        F.col("n_name").alias("nation"),
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("r").cast("bigint").alias("n_returned"),
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# Parts, brands and suppliers: share, concentration, risk
# ---------------------------------------------------------------------------


@register(
    "part_brand_share",
    oracle=f"""
WITH brand_rev AS (
  SELECT p_type, p_brand,
         {dec_sum_sql(NET_PRICE_SQL)} AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, p_brand
)
SELECT p_type, p_brand,
       CAST(round(revenue, 2) AS DOUBLE) AS revenue,
       round(CAST(revenue AS DOUBLE) /
             CAST(sum(revenue) OVER (PARTITION BY p_type) AS DOUBLE), 6)
         AS type_share
FROM brand_rev
""",
)
def part_brand_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue share within part type: aggregate once, then a
    windowed ratio-to-report over the small (type, brand) result — the
    share window never touches lineitem-sized data."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_type", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type", "p_brand")
        .agg(dec_sum(net_price()).alias("revenue"))
    )
    w = Window.partitionBy("p_type")
    return rev.select(
        "p_type",
        "p_brand",
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.round(
            F.col("revenue").cast("double") / F.sum("revenue").over(w).cast("double"),
            6,
        ).alias("type_share"),
    )


@register(
    "supplier_revenue_gini",
    oracle=f"""
WITH srev AS (
  SELECT l_suppkey, {dec_sum_sql(NET_PRICE_SQL)} AS revenue
  FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT revenue,
         row_number() OVER (ORDER BY revenue ASC, l_suppkey ASC) AS rn,
         count(*) OVER () AS n
  FROM srev
)
SELECT CAST(max(n) AS BIGINT) AS n_suppliers,
       round(2.0 * CAST(sum(CAST(rn AS DECIMAL(38,6)) * revenue) AS DOUBLE)
             / (max(n) * CAST(sum(revenue) AS DOUBLE))
             - (max(n) + 1.0) / max(n), 6) AS gini
FROM ranked
""",
)
def supplier_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue concentration via the sorted
    formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n — the inequality number next
    to lineitem_abc_pareto. Rank runs over the aggregated per-supplier
    relation (suppliers-sized); Σ(i·x) stays in DECIMAL so both engines
    sum exactly."""
    t = Tables(spark, sf_dir)
    srev = t.lineitem.groupBy("l_suppkey").agg(dec_sum(net_price()).alias("revenue"))
    w = Window.orderBy(F.asc("revenue"), F.asc("l_suppkey"))
    ranked = srev.select(
        "revenue",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_suppliers"),
        F.round(
            2.0
            * F.sum(F.col("rn").cast("decimal(38,6)") * F.col("revenue")).cast(
                "double"
            )
            / (F.max("n") * F.sum("revenue").cast("double"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


@register(
    "brand_copurchase_lift",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM ob),
brand_n AS (SELECT p_brand, count(*) AS cb FROM ob GROUP BY p_brand),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS c_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
)
SELECT brand_a, brand_b, c_ab,
       round(CAST(c_ab AS DOUBLE) * n.n / (ca.cb * cb.cb), 6) AS lift
FROM pairs
JOIN brand_n ca ON brand_a = ca.p_brand
JOIN brand_n cb ON brand_b = cb.p_brand
CROSS JOIN n_orders n
WHERE c_ab >= 5
""",
)
def brand_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand co-purchase lift: P(a,b)/(P(a)·P(b)) over orders — the
    normalized version of market_basket_pairs that separates 'popular
    pair' from 'associated pair'. The self-join is keyed on orderkey
    (quadratic only within an order's ≤ brands-per-basket distinct
    brands); the brand marginals and order count are brands-sized /
    scalar broadcasts onto the pairs relation."""
    t = Tables(spark, sf_dir)
    ob = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.agg(F.count_distinct("l_orderkey").alias("n"))
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("cb"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ca = brand_n.select(
        F.col("p_brand").alias("ba"), F.col("cb").alias("ca_n")
    )
    cb = brand_n.select(
        F.col("p_brand").alias("bb"), F.col("cb").alias("cb_n")
    )
    return (
        pairs.join(F.broadcast(ca), F.col("brand_a") == F.col("ba"))
        .join(F.broadcast(cb), F.col("brand_b") == F.col("bb"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "c_ab",
            F.round(
                F.col("c_ab").cast("double") * F.col("n")
                / (F.col("ca_n") * F.col("cb_n")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "brand_pareto_coverage",
    oracle="""
WITH rev AS (
  SELECT p_brand, l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS r
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_partkey
),
ranked AS (
  SELECT p_brand, l_partkey, r,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY r DESC, l_partkey) AS rn,
         sum(r) OVER (PARTITION BY p_brand
                      ORDER BY r DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(r) OVER (PARTITION BY p_brand) AS tot
  FROM rev
)
SELECT p_brand,
       count(*) AS n_parts,
       CAST(min(CASE WHEN cum * 5 >= tot * 4 THEN rn END) AS BIGINT)
         AS parts_to_80pct,
       floor(CAST(max(CASE WHEN rn = 1 THEN r END) AS DOUBLE)
             / CAST(max(tot) AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS top_part_share
FROM ranked GROUP BY p_brand
""",
)
def brand_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto depth: how many parts cover 80% of each brand's
    revenue, plus the top part's share — the grouped twin of the global
    lineitem_abc_pareto, answering "is this brand's demand concentrated
    or long-tail?" per brand. Revenue accumulates in DECIMAL, and the
    80% cut is the EXACT integer-free comparison cum·5 ≥ tot·4 — no
    decimal division crosses engines (division scale rules differ);
    the only double division (top share) is portable-6dp-rounded.
    Brand-partitioned windows over the (brand, part)-sized aggregate."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("r")
        )
    )
    ws = Window.partitionBy("p_brand").orderBy(F.desc("r"), F.asc("l_partkey"))
    ranked = rev.select(
        "p_brand",
        "l_partkey",
        "r",
        F.row_number().over(ws).alias("rn"),
        F.sum("r")
        .over(ws.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("r").over(Window.partitionBy("p_brand")).alias("tot"),
    )
    return ranked.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min(
            F.when(F.col("cum") * 5 >= F.col("tot") * 4, F.col("rn"))
        )
        .cast("bigint")
        .alias("parts_to_80pct"),
        pround(
            F.max(F.when(F.col("rn") == 1, F.col("r")))
            .cast("double")
            / F.max("tot").cast("double")
        ).alias("top_part_share"),
    )


@register(
    "supplier_hhi_by_nation",
    oracle="""
WITH rev AS (
  SELECT n_name, l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38, 2)))
              AS DECIMAL(38, 2)) AS r
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, l_suppkey
)
SELECT n_name,
       count(*) AS n_suppliers,
       floor(CAST(sum(r * r) AS DOUBLE)
             / CAST(CAST(sum(r) AS DECIMAL(38, 2))
                    * CAST(sum(r) AS DECIMAL(38, 2)) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS hhi
FROM rev GROUP BY n_name
""",
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per supplier
    nation: Σᵢ(rᵢ/T)² over each nation's suppliers — 1/n for perfectly
    split markets, →1 for monopoly; the antitrust-style twin of
    supplier_revenue_gini. Float discipline: revenues and BOTH
    quadratic forms (Σr², T²) accumulate in DECIMAL — exact, order-
    independent — so the only IEEE operation is one final division,
    portable-6dp-rounded. DECIMAL(38,2) is the portable width window:
    at 18 digits DuckDB multiplies in int64 and OVERFLOWS on real
    revenue totals (measured), while ≥19 digits are hugeint-backed;
    on the Spark side the declared (39,4) product narrows to the
    38-precision cap without touching these values' 24 significant
    digits. One big join keyed on suppkey, dims broadcast,
    nations-sized output."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
            .cast("decimal(38,2)")
            .alias("r")
        )
    )
    tot = F.sum("r").cast("decimal(38,2)")
    return rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        pround(
            F.sum(F.col("r") * F.col("r")).cast("double")
            / (tot * tot).cast("double")
        ).alias("hhi"),
    )


@register(
    "part_single_source_risk",
    oracle="""
WITH sourcing AS (
  SELECT l_partkey, count(DISTINCT l_suppkey) AS n_suppliers
  FROM lineitem GROUP BY l_partkey
),
tagged AS (
  SELECT p.p_brand, s.n_suppliers
  FROM sourcing s JOIN part p ON s.l_partkey = p.p_partkey
)
SELECT p_brand,
       count(*) AS n_parts,
       CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS single_sourced,
       floor(CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
         AS single_source_share
FROM tagged GROUP BY p_brand
""",
)
def part_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source supply risk per brand: parts whose entire observed
    volume came from ONE supplier — the supply-chain fragility screen
    (one supplier outage stops the part). One distinct-count aggregate
    keyed on partkey, brand dimension broadcast, brands-sized output."""
    t = Tables(spark, sf_dir)
    sourcing = t.lineitem.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )
    tagged = sourcing.join(
        broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    single = F.sum(F.when(F.col("n_suppliers") == 1, 1).otherwise(0))
    return tagged.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        single.cast("bigint").alias("single_sourced"),
        pround(single.cast("double") / F.count(F.lit(1))).alias(
            "single_source_share"
        ),
    )


@register(
    "supplier_quadrant_classification",
    oracle=f"""
WITH vol AS (
  SELECT s_suppkey, s_acctbal,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS DOUBLE)
           AS volume
  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
  GROUP BY s_suppkey, s_acctbal
),
cuts AS (
  SELECT {percentile_sql("s_acctbal", 0.5)} AS bal_med,
         {percentile_sql("volume", 0.5)} AS vol_med
  FROM vol
)
SELECT CASE WHEN s_acctbal >= bal_med AND volume >= vol_med
            THEN 'strong_partner'
            WHEN s_acctbal >= bal_med THEN 'underutilized'
            WHEN volume >= vol_med THEN 'exposure_risk'
            ELSE 'marginal' END AS quadrant,
       count(*) AS n_suppliers,
       min(s_suppkey) AS example_supplier
FROM vol CROSS JOIN cuts
GROUP BY 1
""",
)
def supplier_quadrant_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Median-split quadrant classification of suppliers on (account
    balance × traded volume): strong partners, underutilized capital,
    volume-on-weak-balance exposure risk, and the marginal tail — the
    2×2 a procurement review starts from. Both medians interpolate on
    exact inputs and broadcast as one cut row; classification is pure
    comparison. DECIMAL volume sums keep the median's input exact."""
    t = Tables(spark, sf_dir)
    vol = (
        t.supplier.join(
            t.lineitem, F.col("s_suppkey") == F.col("l_suppkey")
        )
        .groupBy("s_suppkey", "s_acctbal")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
            .cast("double")
            .alias("volume")
        )
    )
    cuts = vol.agg(
        percentile("s_acctbal", 0.5).alias("bal_med"),
        percentile("volume", 0.5).alias("vol_med"),
    )
    quadrant = (
        F.when(
            (F.col("s_acctbal") >= F.col("bal_med"))
            & (F.col("volume") >= F.col("vol_med")),
            "strong_partner",
        )
        .when(F.col("s_acctbal") >= F.col("bal_med"), "underutilized")
        .when(F.col("volume") >= F.col("vol_med"), "exposure_risk")
        .otherwise("marginal")
    )
    return (
        vol.crossJoin(F.broadcast(cuts))
        .groupBy(quadrant.alias("quadrant"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min("s_suppkey").alias("example_supplier"),
        )
    )


@register(
    "supplier_scorecard_composite",
    oracle="""
WITH metrics AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS DOUBLE)
           AS volume,
         CAST(sum(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(l_shipdate AS DATE))) AS DOUBLE)
           / count(*) AS mean_latency
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
),
cuts AS (
  SELECT min(volume) AS vlo, max(volume) AS vhi,
         min(mean_latency) AS llo, max(mean_latency) AS lhi
  FROM metrics
),
scored AS (
  SELECT l_suppkey,
         floor((0.6 * ((volume - vlo) / (vhi - vlo))
                + 0.4 * (1 - (mean_latency - llo) / (lhi - llo)))
               * 1000000 + 0.5) / 1000000 AS score
  FROM metrics CROSS JOIN cuts
)
SELECT l_suppkey, score, CAST(rn AS BIGINT) AS rank FROM (
  SELECT l_suppkey, score,
         row_number() OVER (ORDER BY score DESC, l_suppkey) AS rn
  FROM scored)
WHERE rn <= 10
""",
)
def supplier_scorecard_composite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composite supplier scorecard: min-max-normalized volume (higher
    better, weight 0.6) blended with normalized mean ship latency
    (lower better, weight 0.4), top-10 ranked — the weighted-KPI
    scorecard pattern every vendor/partner review runs, built from
    the fn_minmax_scale_check normalization and the rounded-before-
    rank determinism rule. One orderkey join, suppliers-sized metric
    relation, broadcast cuts."""
    t = Tables(spark, sf_dir)
    metrics = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
            .cast("double")
            .alias("volume"),
            (
                F.sum(
                    F.datediff(
                        F.to_date("l_shipdate"), F.to_date("o_orderdate")
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_latency"),
        )
    )
    cuts = metrics.agg(
        F.min("volume").alias("vlo"),
        F.max("volume").alias("vhi"),
        F.min("mean_latency").alias("llo"),
        F.max("mean_latency").alias("lhi"),
    )
    score = pround(
        0.6 * ((F.col("volume") - F.col("vlo")) / (F.col("vhi") - F.col("vlo")))
        + 0.4
        * (
            1
            - (F.col("mean_latency") - F.col("llo"))
            / (F.col("lhi") - F.col("llo"))
        )
    )
    scored = metrics.crossJoin(F.broadcast(cuts)).select(
        "l_suppkey", score.alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("l_suppkey"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "l_suppkey", "score", F.col("rn").cast("bigint").alias("rank")
        )
    )


@register(
    "part_skyline_price_size",
    oracle="""
WITH pts AS (
  -- a point with an unknown coordinate cannot be dominance-compared:
  -- NULL comparisons make the NOT-EXISTS vacuously keep it
  SELECT p_retailprice AS price, p_size AS sz, count(*) AS n_parts
  FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
  GROUP BY 1, 2
)
SELECT price AS p_retailprice, sz AS p_size,
       CAST(n_parts AS BIGINT) AS n_parts
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.price <= p.price AND q.sz >= p.sz
    AND (q.price < p.price OR q.sz > p.sz)
)
""",
)
def part_skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / Pareto-optimal set over (minimize retailprice, maximize
    size): the parts no other part beats on both axes — the classic
    multi-objective shortlist operator. The oracle states the O(n²)
    NOT-EXISTS dominance DEFINITION; the engine computes it as
    sort + running max: keep only the max size at each price (window
    over price), then a point survives iff its size strictly exceeds
    the running max over all strictly-cheaper prices. One shuffle on
    price (the partition window and the per-price groupBy reuse the
    same exchange) + one window over the distinct-price relation —
    O(n log n), no self-join, no candidate blow-up at any corpus size.
    Equal-price ties keep only the largest size; duplicate (price,
    size) points collapse to one row with their part count."""
    t = Tables(spark, sf_dir)
    wp = Window.partitionBy("p_retailprice")
    p2 = t.part.where(  # oracle mirrors: no NULL coordinates in a skyline
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    ).select(
        "p_retailprice",
        "p_size",
        F.max("p_size").over(wp).alias("pmax"),
    )
    per_price = (
        p2.where(F.col("p_size") == F.col("pmax"))
        .groupBy("p_retailprice", "p_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    w_prev = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = per_price.select(
        "p_retailprice",
        "p_size",
        "n_parts",
        F.max("p_size").over(w_prev).alias("s1"),
    )
    return sky.where(
        F.col("s1").isNull() | (F.col("p_size") > F.col("s1"))
    ).select("p_retailprice", "p_size", "n_parts")


# ---------------------------------------------------------------------------
# Markets, sales and trade
# ---------------------------------------------------------------------------


@register(
    "sales_yoy_growth",
    oracle=f"""
WITH yearly AS (
  SELECT year(o_orderdate) AS o_year,
         {dec_sum_sql("o_totalprice")} AS revenue
  FROM orders GROUP BY year(o_orderdate)
)
SELECT o_year,
       CAST(round(revenue, 2) AS DOUBLE) AS revenue,
       round(CAST(revenue AS DOUBLE)
             / CAST(lag(revenue) OVER (ORDER BY o_year) AS DOUBLE) - 1.0,
             6) AS yoy_growth
FROM yearly
""",
)
def sales_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: yearly aggregate then a lag window.
    The window partition is the whole (7-row) year relation — a single-task
    window over an already-aggregated input, the correct shape at any
    corpus size (aggregate first, window over the small result)."""
    t = Tables(spark, sf_dir)
    yearly = t.orders.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        dec_sum(F.col("o_totalprice")).alias("revenue")
    )
    # asc_nulls_last: the NULL-date year sequences last (oracle default)
    w = Window.orderBy(F.asc_nulls_last("o_year"))
    return yearly.select(
        "o_year",
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.round(
            F.col("revenue").cast("double")
            / F.lag(F.col("revenue")).over(w).cast("double")
            - 1.0,
            6,
        ).alias("yoy_growth"),
    )


@register(
    "market_basket_pairs",
    oracle=f"""
SELECT part1, part2, n_orders
FROM {copurchase_pairs_sql(3, out=("part1", "part2", "n_orders"))}
""",
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 3
    orders. Pair fan-out per order is C(parts_in_order, 2) — bounded by
    the ~7-line order format, NOT by corpus size; a part repeated within
    an order counts once. This is the a-priori candidate-pair kernel at
    100 TB: the co-purchase relation (``graph.copurchase_pairs``) is one
    partial-aggregable basket groupBy, quadratic only within an order,
    with no join and no candidate-pair shuffle."""
    t = Tables(spark, sf_dir)
    return copurchase_pairs(t.lineitem, 3, out=("part1", "part2", "n_orders"))


@register(
    "trade_flow_nation_matrix",
    oracle="""
SELECT sn.n_name AS supplier_nation, cn.n_name AS customer_nation,
       count(*) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38, 2))), 2)
            AS DOUBLE) AS flow_value
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
GROUP BY sn.n_name, cn.n_name
""",
)
def trade_flow_nation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full supplier-nation × customer-nation trade-flow matrix —
    the generalization of TPC-H Q7's two-nation volume query to all
    n² flows at once, feeding gravity models and trade-balance
    reports. One big-big join (lineitem ⋈ orders on orderkey); every
    dimension — supplier, customer, and BOTH nation roles (aliased
    separately, the self-joined-dimension pattern) — broadcasts.
    Output bounded by nations² at any volume; DECIMAL flow sums."""
    t = Tables(spark, sf_dir)
    sn = t.nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supplier_nation")
    )
    cn = t.nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("customer_nation")
    )
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_nationkey"), sf_dir, "customer"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy("supplier_nation", "customer_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,2)")), 2
            )
            .cast("double")
            .alias("flow_value"),
        )
    )
