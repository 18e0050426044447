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
- A theta join (epsilon, spatial, interval overlap) is blocked into an
  EQUI-join on a derived key (value bucket, grid cell, entity key) and the
  exact predicate is verified on the candidates only — never a cartesian.
- Skew and selectivity are handled in the plan, explicitly: a salted key
  splits a hot key, a constant-size bloom bitmap prunes the probe side, and
  the bucketed tables (``registry.warehouse_table``) pay the partitioning
  once per corpus so later joins read co-partitioned buckets.
- Float discipline (SURVEY.md §5.4): money sums go through DECIMAL;
  quotients (averages, ratios) round at 6 dp; counts and keys are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import (
    hash60_expr,
    hash60_sql,
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.registry import Tables, warehouse_table
from ai_dataingestion_spark.tmpdirs import op_tmpdir


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


@register(
    "join_dpp_partitioned",
    oracle=f"""
-- NB: explicit OR equalities, not IN: DuckDB 1.0.0 rewrites
-- `CAST(ts AS DATE) IN (<date literals>)` under WHERE into a timestamp
-- IN that only matches midnight (verified: 0 rows vs 339/day equality).
SELECT event_type, count(*) AS n_events,
       {stable_rounded_sum_sql("value", 2)} AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-02'
   OR CAST(ts AS DATE) = DATE '2024-01-03'
   OR CAST(ts AS DATE) = DATE '2024-01-05'
GROUP BY event_type
""",
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: events written partitionBy(day), then
    joined to a tiny filtered dim of flagged days. Catalyst injects the
    dim's day set as a runtime partition filter into the fact scan
    (dynamicpruning#N in the plan, pinned by tests/test_plans.py), so
    only the 3 matching day directories are read — the canonical
    star-join scan path at 100 TB, where the pruning predicate isn't
    known until the dim side is evaluated. Oracle: the equivalent
    static IN filter."""
    out = op_tmpdir("join_dpp_")
    ev = Tables(spark, sf_dir).events.withColumn(
        "day", F.col("ts").cast("date")
    )
    ev.repartition("day").write.mode("overwrite").partitionBy("day").parquet(out)
    # explicit schema: an empty corpus writes zero data files and schema
    # inference over the bare directory fails (the sink_parquet_part rule);
    # the day partition column still resolves from directory names when
    # files exist
    fact = spark.read.schema(ev.schema).parquet(out)
    dim = spark.createDataFrame(
        [("2024-01-02", 1), ("2024-01-03", 1), ("2024-01-05", 1)],
        "d string, flagged int",
    ).select(F.col("d").cast("date").alias("d"), "flagged")
    return (
        fact.join(F.broadcast(dim.filter(F.col("flagged") == 1)),
                  fact.day == dim.d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_rounded_sum("value", 2).alias("total_value"),
        )
    )


@register(
    "join_asof_directions",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         epoch_us(ts) AS t
  FROM events
),
windowed AS (
  SELECT user_id, event_id, t, event_type,
         last_value(CASE WHEN event_type = 'error' THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS err_before,
         first_value(CASE WHEN event_type = 'error' THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS err_after
  FROM seq
),
enriched AS (SELECT * FROM windowed WHERE event_type = 'purchase')
SELECT user_id,
       count(*) AS n_purchases,
       CAST(sum(CASE WHEN err_before IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_prior_error,
       CAST(max(t - err_before) AS BIGINT) AS max_us_since_error,
       CAST(min(err_after - t) AS BIGINT) AS min_us_to_next_error,
       CAST(sum(CASE WHEN err_before IS NOT NULL AND err_after IS NOT NULL
                      AND t - err_before <= err_after - t THEN 1
                     WHEN err_before IS NOT NULL AND err_after IS NULL THEN 1
                     ELSE 0 END) AS BIGINT) AS n_nearest_is_backward
FROM enriched GROUP BY user_id
""",
)
def join_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full as-of direction family — BACKWARD (most recent error
    before each purchase), FORWARD (next error after), and NEAREST
    (whichever is closer, backward winning ties) — computed for every
    purchase without any self-join: two ignore-nulls windows over ONE
    user partitioning carry the prior/next error timestamps along the
    timeline (join_asof covers backward via join; this is the
    window-spelled generalization the direction argument of a real
    asof API maps to). Exact integer µs arithmetic; per-user rollup."""
    e = Tables(spark, sf_dir).events
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = e.select(
        "user_id", "event_id", "event_type", t.alias("t")
    )
    err_t = F.when(F.col("event_type") == "error", F.col("t"))
    # asc_nulls_last: NULL-t rows sit at the partition end in the oracle
    # engine's ORDER BY t; matching placement keeps the carry windows
    # row-identical (NULL-t errors are skipped as VALUES by ignore-nulls
    # on both sides, but their POSITION shifts every neighbor otherwise)
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("t"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # strictly-after carry as a REVERSED running frame (same rewrite as
    # events_gap_fill_linear, round 10): Spark's unbounded-following frame
    # is O(n²) per partition; the descending running frame is O(n). The
    # reversed order mirrors (asc_nulls_last t, asc event_id) exactly.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc_nulls_first("t"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enriched = seq.select(
        "user_id",
        "event_id",
        "t",
        "event_type",
        F.last(err_t, ignorenulls=True).over(wb).alias("err_before"),
        F.last(err_t, ignorenulls=True).over(wf).alias("err_after"),
    ).filter(F.col("event_type") == "purchase")
    nearest_back = F.when(
        F.col("err_before").isNotNull()
        & F.col("err_after").isNotNull()
        & (
            F.col("t") - F.col("err_before")
            <= F.col("err_after") - F.col("t")
        ),
        1,
    ).when(
        F.col("err_before").isNotNull() & F.col("err_after").isNull(), 1
    ).otherwise(0)
    return enriched.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.when(F.col("err_before").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_prior_error"),
        F.max(F.col("t") - F.col("err_before"))
        .cast("bigint")
        .alias("max_us_since_error"),
        F.min(F.col("err_after") - F.col("t"))
        .cast("bigint")
        .alias("min_us_to_next_error"),
        F.sum(nearest_back).cast("bigint").alias("n_nearest_is_backward"),
    )


_JOIN_STRATEGIES = ("broadcast", "shuffle_hash", "merge")


def _strategy_oracle() -> str:
    one = """
SELECT '{s}' AS strategy,
       count(DISTINCT c_mktsegment) AS n_segments,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey"""
    return "\nUNION ALL\n".join(
        one.format(s=s) for s in _JOIN_STRATEGIES
    )


@register("join_strategy_equivalence", oracle=_strategy_oracle())
def join_strategy_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-strategy independence proof for the orders ⋈ customer
    revenue rollup: the SAME logical join executed three ways —
    broadcast-hash, shuffled-hash, and sort-merge (per-branch join
    hints, pinned in plan tests as three distinct physical operators) —
    must produce identical aggregates. This is the join sibling of
    topk_per_group_strategies / dedup_partition_invariance: the
    property that makes strategy a pure COST decision at 100 TB (AQE
    may flip a merge join to broadcast at runtime precisely because
    the result cannot change). DECIMAL revenue so the three sums are
    bit-identical, not merely close."""
    t = Tables(spark, sf_dir)
    parts = []
    for s in _JOIN_STRATEGIES:
        joined = t.orders.join(
            t.customer.hint(s), F.col("o_custkey") == F.col("c_custkey")
        )
        parts.append(
            joined.agg(
                F.countDistinct("c_mktsegment").alias("n_segments"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(38,2)")), 2
                )
                .cast("double")
                .alias("total_revenue"),
            ).select(
                F.lit(s).alias("strategy"), "n_segments", "total_revenue"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_EPS = 5.0


@register(
    "join_epsilon_float",
    oracle=f"""
SELECT n_name AS nation, count(*) AS n_pairs
FROM supplier
JOIN customer ON abs(s_acctbal - c_acctbal) <= {_EPS}
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_epsilon_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-join on a scalar (|s_acctbal − c_acctbal| ≤ ε) WITHOUT
    the cartesian product the theta-join definition implies: both
    sides bucket to floor(bal/ε), the customer side expands to its
    three candidate buckets {b−1, b, b+1} (a row within ε of bal must
    sit in one of them), and the join becomes a hash-partitioned
    EQUALITY join on bucket followed by the exact |Δ| ≤ ε verify —
    candidate volume is bounded by 3× the true near-pair density
    instead of |S|×|C|. Each true pair is counted exactly once because
    a supplier's single bucket matches exactly one of the three
    expanded candidates. The oracle states the quadratic theta-join
    definition; the plan test pins no-cartesian on the engine side."""
    t = Tables(spark, sf_dir)
    s = t.supplier.select(
        "s_nationkey",
        F.col("s_acctbal").alias("sb"),
        F.floor(F.col("s_acctbal") / _EPS).alias("bk"),
    )
    c = t.customer.select(
        F.col("c_acctbal").alias("cb"),
        F.explode(
            F.array(
                F.floor(F.col("c_acctbal") / _EPS) - 1,
                F.floor(F.col("c_acctbal") / _EPS),
                F.floor(F.col("c_acctbal") / _EPS) + 1,
            )
        ).alias("bk"),
    )
    pairs = s.join(c, "bk").where(
        F.abs(F.col("sb") - F.col("cb")) <= _EPS
    )
    return (
        pairs.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_LATERAL_SQL = """
SELECT n.n_name, l.c_name,
       CAST(round(CAST(l.c_acctbal AS DECIMAL(38,2)), 2) AS DOUBLE) AS bal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) l
"""


sql_op(
    "join_lateral_topk",
    spark_sql=_LATERAL_SQL,
    oracle=_LATERAL_SQL,
    doc="""LATERAL correlated subquery (Spark 4 SPARK-34382): top-2 customers
    by balance per nation, written as the for-each-row subquery a SQL user
    migrating from Postgres/DuckDB would write. Catalyst de-correlates the
    LATERAL into a join + per-key limit rather than executing the inner
    query once per outer row — same physical shape as the window-function
    top-k (win_topk_group) but proving the correlated-subquery surface.
    ORDER BY carries the c_name tie-break so the top-2 set is
    deterministic cross-engine. Oracle: DuckDB runs the identical
    statement.""",
)


_SPATIAL_ORACLE = """
WITH pts AS (SELECT c_custkey,
                    CAST((c_custkey * 7) % 100 AS BIGINT) AS x,
                    CAST((c_custkey * 13) % 100 AS BIGINT) AS y
             FROM customer),
boxes AS (SELECT n_nationkey, n_name,
                 CAST((n_nationkey * 11) % 80 AS BIGINT) AS xmin,
                 CAST((n_nationkey * 11) % 80 + 15 AS BIGINT) AS xmax,
                 CAST((n_nationkey * 17) % 80 AS BIGINT) AS ymin,
                 CAST((n_nationkey * 17) % 80 + 20 AS BIGINT) AS ymax
          FROM nation)
SELECT b.n_name, count(p.c_custkey) AS n_points
FROM boxes b LEFT JOIN pts p
  ON p.x BETWEEN b.xmin AND b.xmax AND p.y BETWEEN b.ymin AND b.ymax
GROUP BY 1
"""

_CELL = 10  # grid cell edge; boxes span <=2x3 cells -> fan-out <=12


@register("join_spatial_grid", oracle=_SPATIAL_ORACLE)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial point-in-rectangle join via GRID BLOCKING — the pattern
    that makes spatial joins scale on a hash-shuffle engine (same
    candidate-generation-by-equality-join shape as the LSH dedups).
    Points and query boxes are synthesized deterministically from keys
    (the corpus has no geometry; the operator under test is the join
    strategy). Each point maps to one 10x10 grid cell; each box explodes
    into the <=12 cells it overlaps; the join is pure cell-key EQUALITY
    (shuffle/broadcast hash join — never the O(points x boxes)
    theta-join a naive BETWEEN predicate forces), followed by the exact
    containment verify on candidates only. LEFT join semantics keep
    empty boxes with count 0. At 100 TB the cell key shards uniformly
    and box fan-out stays constant. Oracle: DuckDB runs the naive
    theta-join spelling of the same semantics."""
    spark_pts = Tables(spark, sf_dir).customer.select(
        "c_custkey",
        ((F.col("c_custkey") * 7) % 100).cast("bigint").alias("x"),
        ((F.col("c_custkey") * 13) % 100).cast("bigint").alias("y"),
    )
    boxes = Tables(spark, sf_dir).nation.select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 11) % 80).cast("bigint").alias("xmin"),
        ((F.col("n_nationkey") * 11) % 80 + 15).cast("bigint").alias("xmax"),
        ((F.col("n_nationkey") * 17) % 80).cast("bigint").alias("ymin"),
        ((F.col("n_nationkey") * 17) % 80 + 20).cast("bigint").alias("ymax"),
    )
    pcell = spark_pts.withColumn(
        "cx", (F.col("x") / _CELL).cast("bigint")
    ).withColumn("cy", (F.col("y") / _CELL).cast("bigint"))
    bcell = boxes.select(
        "*",
        F.explode(
            F.sequence(
                (F.col("xmin") / _CELL).cast("bigint"),
                (F.col("xmax") / _CELL).cast("bigint"),
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                (F.col("ymin") / _CELL).cast("bigint"),
                (F.col("ymax") / _CELL).cast("bigint"),
            )
        ).alias("cy"),
    )
    hits = (
        bcell.join(pcell, ["cx", "cy"])
        .filter(
            (F.col("x") >= F.col("xmin"))
            & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin"))
            & (F.col("y") <= F.col("ymax"))
        )
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    # final groupBy(n_name): the oracle groups by NAME, so boxes sharing a
    # name — including several NULL-named nations, which GROUP BY collapses
    # into one NULL group on both engines — merge their point counts
    return (
        boxes.select("n_nationkey", "n_name")
        .join(hits, "n_nationkey", "left")
        .groupBy("n_name")
        .agg(F.sum(F.coalesce("n_points", F.lit(0))).alias("n_points"))
    )


_JOIN_SALTS = 8


@register(
    "join_salted_skew",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id % 25 END AS nk,
         value
  FROM events
)
SELECT n.n_name, count(*) AS n, round(avg(f.value), 6) AS avg_value
FROM fact f JOIN nation n ON f.nk = n.n_nationkey
GROUP BY n.n_name
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join for a skewed key (half the fact lands on one key by
    construction): the fact side adds salt = event_id % 8, the dim side is
    replicated across all 8 salts, and the join key becomes (key, salt) —
    splitting the hot key's partition 8 ways. This is the manual fallback
    when AQE skew-join can't see the skew (e.g. the hot key emerges from an
    expression, as here). The result is provably identical to the unsalted
    join, which is exactly what the oracle runs."""
    t = Tables(spark, sf_dir)
    fact = t.events.select(
        F.when(F.col("user_id") % 10 < 5, 0)
        .otherwise(F.col("user_id") % 25)
        .alias("nk"),
        "value",
        (F.col("event_id") % _JOIN_SALTS).alias("salt"),
    )
    dim = t.nation.select(
        F.col("n_nationkey").alias("nk"), "n_name"
    ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1))))
    return (
        fact.join(dim, ["nk", "salt"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH win AS (
  SELECT o_orderkey, o_custkey, o_orderdate AS s,
         o_orderdate + INTERVAL 14 DAY AS e
  FROM orders
)
SELECT a.o_custkey AS custkey, count(*) AS n_overlap_pairs
FROM win a JOIN win b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
 AND a.s < b.e AND b.s < a.e
GROUP BY a.o_custkey
ORDER BY n_overlap_pairs DESC, custkey
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (temporal conflict detection): count
    pairs of the same customer's 14-day order windows that overlap. The
    join is an EQUI-join on the entity key with the overlap predicate
    evaluated inside the join — never a cartesian: per-key groups are
    small (order count per customer), so the pair space is Σ group², not
    n². At 100 TB the same plan holds because the entity key is the
    shuffle key; a time-bucket explode would be layered on only if single
    keys grew pathological (the salting playbook, join_salted_skew)."""
    o = Tables(spark, sf_dir).orders
    win = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 14 DAYS")).alias("e"),
    )
    a, b = win.alias("a"), win.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_overlap_pairs"))
    )


_BLOOM_P = (1 << 31) - 1
_BLOOM_WORDS = 16   # per filter: 16 x 63-bit words = 1008 bits
_BLOOM_CUTOFF = 495000.0


def _bloom_parts_sql(key_expr: str, dialect: str) -> dict[str, str]:
    """Word/bit index expressions for the two independent single-hash
    blooms (A AND B membership == k=2 bloom): identical integer paths in
    both dialects from one md5 base hash."""
    if dialect == "spark":
        base = f"{hash60_expr(f'CAST({key_expr} AS STRING)')} % {_BLOOM_P}"
    else:
        base = f"{hash60_sql(f'CAST({key_expr} AS VARCHAR)')} % {_BLOOM_P}"
    return {
        "word_a": f"((3 * ({base}) + 17) % {_BLOOM_P}) % {_BLOOM_WORDS}",
        "bit_a": f"((5 * ({base}) + 29) % {_BLOOM_P}) % 63",
        "word_b": f"((7 * ({base}) + 101) % {_BLOOM_P}) % {_BLOOM_WORDS}",
        "bit_b": f"((11 * ({base}) + 7) % {_BLOOM_P}) % 63",
    }


_BP_S = _bloom_parts_sql("o_custkey", "duck")
_BP_C = _bloom_parts_sql("c_custkey", "duck")

_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > {_BLOOM_CUTOFF}
),
build_h AS (
  SELECT o_custkey, {_BP_S['word_a']} AS wa, {_BP_S['bit_a']} AS ba,
         {_BP_S['word_b']} AS wb, {_BP_S['bit_b']} AS bb
  FROM build
),
bloom_a AS (SELECT wa AS word, bit_or(CAST(1 AS BIGINT) << ba) AS bits
            FROM build_h GROUP BY wa),
bloom_b AS (SELECT wb AS word, bit_or(CAST(1 AS BIGINT) << bb) AS bits
            FROM build_h GROUP BY wb),
probe AS (
  SELECT c_custkey, {_BP_C['word_a']} AS wa, {_BP_C['bit_a']} AS ba,
         {_BP_C['word_b']} AS wb, {_BP_C['bit_b']} AS bb
  FROM customer
),
cand AS (
  SELECT p.c_custkey
  FROM probe p
  JOIN bloom_a a ON a.word = p.wa AND ((a.bits >> p.ba) & 1) = 1
  JOIN bloom_b b ON b.word = p.wb AND ((b.bits >> p.bb) & 1) = 1
)
SELECT (SELECT count(*) FROM build)                     AS n_build_keys,
       (SELECT count(*) FROM cand)                      AS n_candidates,
       (SELECT count(*) FROM cand
         JOIN build ON o_custkey = c_custkey)           AS n_real,
       (SELECT count(*) FROM cand) -
       (SELECT count(*) FROM cand
         JOIN build ON o_custkey = c_custkey)           AS n_false_positives
"""


@register("join_bloom_prefilter", oracle=_BLOOM_ORACLE)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, built from scratch as a relational
    plan (the runtime-filter technique engines inject for selective joins
    — here explicit, portable, and oracle-verified): high-value-order
    custkeys are folded into two 16×63-bit bitmaps (bit_or aggregates, k=2
    via A∧B membership), the probe side joins the BROADCAST 16-row bitmaps
    and keeps rows whose bits are set, and the exact join then runs only on
    survivors. Output counts expose the pruning quality (build keys,
    candidates, exact matches, false positives). At 100 TB the bitmap is
    constant-size regardless of build cardinality — the prefilter drops
    probe rows before any fact-table shuffle."""
    t = Tables(spark, sf_dir)
    sp_build = _bloom_parts_sql("o_custkey", "spark")
    sp_probe = _bloom_parts_sql("c_custkey", "spark")
    build = (
        t.orders.filter(F.col("o_totalprice") > _BLOOM_CUTOFF)
        .select("o_custkey").distinct()
    )
    build_h = build.select(
        "o_custkey",
        *[F.expr(sp_build[k]).alias(k) for k in ("word_a", "bit_a", "word_b", "bit_b")],
    )
    bloom_a = build_h.groupBy(F.col("word_a").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit_a)")).alias("bits_a")
    )
    bloom_b = build_h.groupBy(F.col("word_b").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit_b)")).alias("bits_b")
    )
    probe = t.customer.select(
        "c_custkey",
        *[F.expr(sp_probe[k]).alias(k) for k in ("word_a", "bit_a", "word_b", "bit_b")],
    )
    cand = (
        # bloom bitmaps are CONSTANT-size (16 words x 63 bits) regardless of
        # build cardinality — a static hint is scale-safe here by design
        probe.join(F.broadcast(bloom_a), probe.word_a == bloom_a.word)
        .filter(F.expr("(bits_a >> bit_a) & 1 = 1"))
        .join(F.broadcast(bloom_b), probe.word_b == bloom_b.word)
        .filter(F.expr("(bits_b >> bit_b) & 1 = 1"))
        .select("c_custkey")
    )
    n_build = build.agg(F.count(F.lit(1)).alias("n_build_keys"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_real = (
        cand.join(build, cand.c_custkey == build.o_custkey)
        .agg(F.count(F.lit(1)).alias("n_real"))
    )
    return (
        n_build.crossJoin(n_cand).crossJoin(n_real)
        .select(
            "n_build_keys",
            "n_candidates",
            "n_real",
            (F.col("n_candidates") - F.col("n_real")).alias("n_false_positives"),
        )
    )


@register(
    "join_bucketed",
    oracle=f"""
SELECT l.l_orderkey, count(*) AS n_lines,
       {stable_rounded_sum_sql("l.l_extendedprice", 2)} AS total
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY l.l_orderkey
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join: both fact tables written bucketBy(8,
    orderkey) sortBy(orderkey), then joined — the join and the following
    per-orderkey aggregation read pre-partitioned buckets, so NO shuffle
    happens at query time. This is the repeated-join strategy at 100 TB:
    pay the partitioning once at ingest, amortize over every later join
    (``registry.warehouse_table``: the first call per corpus writes)."""
    t = Tables(spark, sf_dir)

    def bucketed(base: str, df: DataFrame, key: str) -> DataFrame:
        return spark.table(
            warehouse_table(
                spark, sf_dir, base, df, lambda w: w.bucketBy(8, key).sortBy(key)
            )
        )

    li = bucketed("li_bkt", t.lineitem, "l_orderkey")
    o = bucketed("o_bkt", t.orders, "o_orderkey")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            stable_rounded_sum("l_extendedprice", 2).alias("total"),
        )
    )
