"""§2.L Pipeline / data-quality operators: profiling, constraint checking,
schema-drift tolerance.

The profiling battery computes every column's stats in ONE pass over the
table (a single agg projection) — at 100 TB a per-column loop would scan the
table N_cols times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.registry import Tables

# double columns render through DECIMAL(38,2): Spark's double->string
# switches to scientific notation above ~1e7 while the oracle engine
# prints plain digits — decimal->string is identical on both
_PROFILE_DOUBLE_COLS = {"o_totalprice"}

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)


@register(
    "quality_profile",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS col_name,
       count(*) - count({c})              AS n_null,
       count(DISTINCT {c})                AS n_distinct,
       {f"CAST(CAST(min({c}) AS DECIMAL(38,2)) AS VARCHAR)" if c in _PROFILE_DOUBLE_COLS else f"CAST(min({c}) AS VARCHAR)"} AS min_str,
       {f"CAST(CAST(max({c}) AS DECIMAL(38,2)) AS VARCHAR)" if c in _PROFILE_DOUBLE_COLS else f"CAST(max({c}) AS VARCHAR)"} AS max_str
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion profile of orders: per-column null count, distinct count,
    min/max (stringified) — one row per column, computed in a single scan
    (all aggregates in one projection, then restacked via stack())."""
    o = Tables(spark, sf_dir).orders
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            (
                F.min(c).cast("decimal(38,2)").cast("string")
                if c in _PROFILE_DOUBLE_COLS
                else F.min(c).cast("string")
            ).alias(f"{c}__min"),
            (
                F.max(c).cast("decimal(38,2)").cast("string")
                if c in _PROFILE_DOUBLE_COLS
                else F.max(c).cast("string")
            ).alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__null, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col_name, n_null, n_distinct, min_str, max_str)"
        )
    )


@register(
    "quality_constraints",
    oracle="""
WITH orders_with_dups AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 500 = 0
),
pk_violations AS (
  SELECT 'pk_duplicate' AS violation, CAST(o_orderkey AS VARCHAR) AS key,
         CAST(count(*) AS VARCHAR) AS detail
  FROM orders_with_dups GROUP BY o_orderkey HAVING count(*) > 1
),
fk_violations AS (
  SELECT 'fk_orphan' AS violation, CAST(o_custkey AS VARCHAR) AS key,
         'orders.o_custkey not in customer' AS detail
  FROM (SELECT DISTINCT o_custkey FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
),
range_violations AS (
  SELECT 'negative_acctbal' AS violation, CAST(c_custkey AS VARCHAR) AS key,
         -- decimal render: double->string goes scientific above 1e7
         CAST(CAST(round(c_acctbal, 2) AS DECIMAL(38,2)) AS VARCHAR)
           AS detail
  FROM customer WHERE c_acctbal < 0
)
SELECT * FROM pk_violations
UNION ALL SELECT * FROM fk_violations
UNION ALL SELECT * FROM range_violations
""",
)
def quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit emitting a violations table: PK uniqueness (dups
    injected every 500th order so the check provably fires), FK containment
    orders→customer (anti-join), and a value-range rule (negative account
    balances, which occur naturally). Empty subresults are valid passes."""
    t = Tables(spark, sf_dir)
    o = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    with_dups = o.unionByName(o.filter(F.col("o_orderkey") % 500 == 0))

    pk = (
        with_dups.groupBy("o_orderkey")
        .count()
        .filter(F.col("count") > 1)
        .select(
            F.lit("pk_duplicate").alias("violation"),
            F.col("o_orderkey").cast("string").alias("key"),
            F.col("count").cast("string").alias("detail"),
        )
    )
    fk = (
        # o_custkey IS NOT NULL: a NULL FK is not an ORPHAN (the oracle's
        # NOT IN is never true for NULL); left_anti would keep it —
        # nullness itself is quality_profile's department, not this rule's
        t.orders.select("o_custkey")
        .where(F.col("o_custkey").isNotNull())
        .distinct()
        .join(
            t.customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .select(
            F.lit("fk_orphan").alias("violation"),
            F.col("o_custkey").cast("string").alias("key"),
            F.lit("orders.o_custkey not in customer").alias("detail"),
        )
    )
    rng = t.customer.filter(F.col("c_acctbal") < 0).select(
        F.lit("negative_acctbal").alias("violation"),
        F.col("c_custkey").cast("string").alias("key"),
        F.round("c_acctbal", 2)
        .cast("decimal(38,2)")
        .cast("string")
        .alias("detail"),
    )
    return pk.unionByName(fk).unionByName(rng)


@register(
    "schema_evolve",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
UNION ALL
SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderstatus = 'O'
""",
)
def schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift-tolerant union: a newer batch missing the o_totalprice
    column is unioned with allowMissingColumns=True — the engine fills
    nulls instead of failing ingestion."""
    o = Tables(spark, sf_dir).orders
    old_batch = o.select("o_orderkey", "o_totalprice", "o_orderpriority")
    new_batch = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority"
    )
    return old_batch.unionByName(new_batch, allowMissingColumns=True)


@register(
    "pipeline_compact_latest",
    oracle="""
WITH keyed AS (
  SELECT *, CAST(epoch_us(ts) AS HUGEINT) * 1000000000 + event_id AS ord
  FROM events
)
SELECT user_id,
       arg_max(event_id, ord)   AS last_event_id,
       arg_max(event_type, ord) AS last_event_type,
       epoch_us(max(ts))        AS last_ts_us,
       count(*)                 AS n_versions
FROM keyed
GROUP BY user_id
""",
)
def pipeline_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed compaction (Kafka-compaction / upsert-view semantics): reduce
    an append-only event log to the latest record per key in one aggregate
    pass — max_by on a scalar (epoch-µs, event_id) composite key (DuckDB's
    arg_max can't order by structs), no window, no self-join. At 100 TB
    this is the standard 'current state' view over a CDC log.

    The composite is 128-bit safe on both engines (Spark DECIMAL(38,0) ≙
    DuckDB HUGEINT): epoch_us*1e9 tops out near 1.8e24, far under both
    types' ~1e38 range for any representable timestamp, and the 1e9
    multiplier leaves 100x headroom over the largest corpus event_id
    (~1e7 at sf10). An int64 composite would overflow once the event span
    exceeded ~106 days."""
    e = Tables(spark, sf_dir).events
    ord_key = (
        F.unix_micros(F.col("ts").cast("timestamp")).cast("decimal(38,0)")
        * 1_000_000_000
        + F.col("event_id")
    )
    return e.groupBy("user_id").agg(
        F.max_by("event_id", ord_key).alias("last_event_id"),
        # the when-guard mirrors the oracle's arg_max, which skips rows
        # whose VALUE is NULL: the latest KNOWN type, not a NULL from the
        # newest row (see agg_arg_minmax for the general rule)
        F.max_by(
            "event_type",
            F.when(F.col("event_type").isNotNull(), ord_key),
        ).alias("last_event_type"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("last_ts_us"),
        F.count(F.lit(1)).alias("n_versions"),
    )


@register(
    "pipeline_upsert_merge",
    oracle="""
WITH updates AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW_' || c_name, round(c_acctbal, 2)
  FROM customer WHERE c_custkey % 25 = 0
)
SELECT coalesce(u.c_custkey, b.c_custkey)        AS c_custkey,
       coalesce(u.c_name, b.c_name)              AS c_name,
       coalesce(u.c_acctbal, round(b.c_acctbal, 2)) AS acctbal,
       CASE WHEN u.c_custkey IS NULL THEN 'unchanged'
            WHEN b.c_custkey IS NULL THEN 'inserted'
            ELSE 'updated' END                   AS merge_action
FROM customer b FULL JOIN updates u ON b.c_custkey = u.c_custkey
""",
)
def pipeline_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert (MERGE INTO semantics without a table format): base dimension
    full-outer-joined with an update batch — matched rows take the update,
    unmatched-left stay, unmatched-right insert, each tagged with its merge
    action. The deterministic update batch mutates every 10th customer and
    inserts a copy of every 25th under a new key.

    At scale the update batch is broadcast (it's CDC-sized) and the merge
    becomes a broadcast outer join against the partitioned base."""
    c = Tables(spark, sf_dir).customer
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") + 100.0, 2).alias("u_acctbal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 25 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                F.concat(F.lit("NEW_"), F.col("c_name")).alias("c_name"),
                F.round("c_acctbal", 2).alias("u_acctbal"),
            )
        )
        .select(
            F.col("c_custkey").alias("u_custkey"),
            F.col("c_name").alias("u_name"),
            "u_acctbal",
        )
    )
    base = c.select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("b_acctbal"))
    return base.join(
        updates, F.col("c_custkey") == F.col("u_custkey"), "full"
    ).select(
        F.coalesce("u_custkey", "c_custkey").alias("c_custkey"),
        F.coalesce("u_name", "c_name").alias("c_name"),
        F.coalesce("u_acctbal", "b_acctbal").alias("acctbal"),
        F.when(F.col("u_custkey").isNull(), "unchanged")
        .when(F.col("c_custkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    )


@register(
    "pipeline_cdc_diff",
    oracle="""
WITH snap2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN 'F' ELSE o_orderstatus END AS new_status
  FROM orders WHERE o_orderkey % 13 <> 0
)
SELECT o.o_orderkey,
       CASE WHEN s.o_orderkey IS NULL THEN 'deleted'
            WHEN s.new_status <> o.o_orderstatus THEN 'changed'
            END AS change_type,
       o.o_orderstatus AS old_status,
       s.new_status
FROM orders o LEFT JOIN snap2 s ON o.o_orderkey = s.o_orderkey
WHERE s.o_orderkey IS NULL OR s.new_status <> o.o_orderstatus
UNION ALL
SELECT -1, 'summary_unchanged', NULL,
       CAST(count(*) AS VARCHAR)
FROM orders o JOIN snap2 s ON o.o_orderkey = s.o_orderkey
WHERE s.new_status = o.o_orderstatus
""",
)
def pipeline_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture snapshot diff: compare two table versions
    (snapshot 2 synthesized deterministically — every 13th order deleted,
    every 7th status flipped to 'F') and emit per-key change rows plus an
    unchanged-count summary row. The diff is a single keyed outer join —
    at scale both snapshots share partitioning, so the join co-locates."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_orderstatus")
    snap2 = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("s_orderkey"),
        F.when(F.col("o_orderkey") % 7 == 0, "F")
        .otherwise(F.col("o_orderstatus"))
        .alias("new_status"),
    )
    joined = o.join(snap2, F.col("o_orderkey") == F.col("s_orderkey"), "left")
    changes = joined.filter(
        F.col("s_orderkey").isNull()
        | (F.col("new_status") != F.col("o_orderstatus"))
    ).select(
        "o_orderkey",
        F.when(F.col("s_orderkey").isNull(), "deleted")
        .otherwise("changed")
        .alias("change_type"),
        F.col("o_orderstatus").alias("old_status"),
        "new_status",
    )
    unchanged = (
        joined.filter(F.col("new_status") == F.col("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(-1).cast("bigint").alias("o_orderkey"),
            F.lit("summary_unchanged").alias("change_type"),
            F.lit(None).cast("string").alias("old_status"),
            F.col("n").cast("string").alias("new_status"),
        )
    )
    return changes.unionByName(unchanged)


@register(
    "pipeline_dead_letter",
    oracle="""
WITH corpus AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
  UNION ALL
  SELECT o_orderkey + 10000000, -o_totalprice, 'UNKNOWN'
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT o_orderkey,
       concat_ws(';',
         CASE WHEN o_totalprice <= 0 THEN 'nonpositive_total' END,
         CASE WHEN o_orderpriority NOT IN
              ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
              THEN 'unknown_priority' END) AS reasons
FROM corpus
WHERE o_totalprice <= 0
   OR o_orderpriority NOT IN
      ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
""",
)
def pipeline_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing: rows failing validation leave the pipeline
    with machine-readable reasons (semicolon-joined — scalar output per
    the oracle-schema rule) instead of killing the job. Violations are
    injected deterministically (every 100th order: negated total, unknown
    priority) since the corpus itself is clean; the checks are pure
    expressions evaluated in one pass, no per-check scans."""
    t = Tables(spark, sf_dir)
    base = t.orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    bad = t.orders.filter(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        (-F.col("o_totalprice")).alias("o_totalprice"),
        F.lit("UNKNOWN").alias("o_orderpriority"),
    )
    corpus = base.unionByName(bad)
    known = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    r1 = F.when(F.col("o_totalprice") <= 0, F.lit("nonpositive_total"))
    r2 = F.when(
        ~F.col("o_orderpriority").isin(known), F.lit("unknown_priority")
    )
    return corpus.filter(
        (F.col("o_totalprice") <= 0) | ~F.col("o_orderpriority").isin(known)
    ).select("o_orderkey", F.concat_ws(";", r1, r2).alias("reasons"))


@register(
    "pipeline_reconcile_totals",
    oracle="""
WITH line_sums AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice * (1 + l_tax) * (1 - l_discount)
                  AS DECIMAL(38,6))) AS computed_total
  FROM lineitem GROUP BY l_orderkey
),
joined AS (
  SELECT o_orderstatus,
         abs(CAST(computed_total AS DOUBLE) - o_totalprice)
           / o_totalprice AS rel_diff
  FROM orders JOIN line_sums ON o_orderkey = l_orderkey
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       count(*) FILTER (rel_diff > 0.01) AS n_mismatched,
       round(avg(rel_diff), 6) AS avg_rel_diff
FROM joined GROUP BY o_orderstatus
""",
)
def pipeline_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: order header totals vs the recomputed
    sum of their line items (gross = extendedprice x (1+tax) x
    (1-discount)), reported as mismatch counts and mean relative error
    per order status — the ledger-integrity check of an ingest pipeline.
    Both sides aggregate lineitem BEFORE the join, so the join carries
    one row per order; the money sum stays in DECIMAL until the ratio."""
    t = Tables(spark, sf_dir)
    line_sums = t.lineitem.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 + F.col("l_tax"))
                * (1 - F.col("l_discount"))
            ).cast("decimal(38,6)")
        ).alias("computed_total")
    )
    joined = t.orders.join(
        line_sums, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        "o_orderstatus",
        (
            F.abs(F.col("computed_total").cast("double") - F.col("o_totalprice"))
            / F.col("o_totalprice")
        ).alias("rel_diff"),
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("rel_diff") > 0.01, 1)).alias("n_mismatched"),
        F.round(F.avg("rel_diff"), 6).alias("avg_rel_diff"),
    )
