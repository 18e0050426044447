"""Extended relational surface beyond the original SURVEY §2 inventory:
pivot/unpivot reshaping, positional window values and bucketed co-located
joins. Registered like every other operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.registry import Tables

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


@register(
    "win_nth_value",
    oracle="""
SELECT DISTINCT o_custkey,
       first_value(o_orderkey) OVER w AS top_order,
       nth_value(o_orderkey, 2) OVER w AS second_order,
       last_value(o_orderkey)  OVER w AS smallest_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/nth/last order keys per customer over the full-partition frame
    (nth_value(2) is null for single-order customers in both engines)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        Tables(spark, sf_dir)
        .orders.select(
            "o_custkey",
            F.first("o_orderkey").over(w).alias("top_order"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
            F.last("o_orderkey").over(w).alias("smallest_order"),
        )
        .distinct()
    )


def _build_bucket_table(spark: SparkSession, tab: str, df: DataFrame, key: str) -> None:
    """Create bucketed table ``tab`` crash-safely: write under a temp name,
    bind the final name only after the write completed (rename). A run
    killed mid-write can therefore only leave a stale ``_w*`` temp — cleaned
    on the next call — never a half-written table under the final name.
    The final-name directory may still exist without a catalog entry (the
    in-memory catalog dies with its session; the warehouse dir does not),
    so it is cleared right before the rename."""
    import glob
    import os
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    # Only reclaim temp dirs whose owner pid is dead: a blanket {tab}_w*
    # sweep would clobber another live process's mid-write temp when two
    # runs share a warehouse (ADVICE r2). Crashed runs' leftovers still get
    # reaped (their pid no longer exists); os.kill(pid, 0) probes liveness.
    for stale in glob.glob(f"{warehouse}/{tab}_w*"):
        pid_part = stale.rsplit("_w", 1)[-1]
        try:
            os.kill(int(pid_part), 0)
            continue  # owner alive: leave its in-progress write alone
        except ValueError:
            pass  # malformed suffix: not one of ours? still stale — reap
        except ProcessLookupError:
            pass  # owner dead: stale — reap
        except PermissionError:
            continue  # pid exists under another uid: treat as alive
        shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{tab}_w{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    (
        df.write.bucketBy(8, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(tmp)
    )
    shutil.rmtree(f"{warehouse}/{tab}", ignore_errors=True)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {tab}")


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
    pay the partitioning once at ingest, amortize over every later join."""
    t = Tables(spark, sf_dir)
    # stable per-corpus table names; first call pays the bucketed write.
    # Sanitized leaf + path hash, not sf-number parsing: corpus dirs that
    # don't match the sf* naming (the skew fixture, scratch tiers) would
    # otherwise leak '/' into the table identifier (ParseException), and
    # two dirs with the same leaf must not share stale bucket data.
    import hashlib
    import os
    import re

    canon = os.path.realpath(sf_dir)  # one table per corpus, however spelled
    leaf = re.sub(r"[^0-9A-Za-z_]", "_", os.path.basename(canon))
    suffix = f"{leaf}_{hashlib.md5(canon.encode()).hexdigest()[:6]}"
    li_tab, o_tab = f"li_bkt_{suffix}", f"o_bkt_{suffix}"
    for tab, df, key in ((li_tab, t.lineitem, "l_orderkey"), (o_tab, t.orders, "o_orderkey")):
        if not spark.catalog.tableExists(tab):
            _build_bucket_table(spark, tab, df, key)
    li, o = spark.table(li_tab), spark.table(o_tab)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            stable_rounded_sum("l_extendedprice", 2).alias("total"),
        )
    )
