"""§2.AB round-13 seventh block: pipeline observability — observed metrics
(df.observe / Observation) and the approx_top_k frequency sketch.

The ops-side surface a production ingest runs CONTINUOUSLY: quality-gate
metrics collected on the side of the real computation (one pass, no second
scan) and heavy-hitter inventories cheap enough to run on every batch.
Scale notes per op; the common thread is that both ride ON the existing
pass — observability here never costs a second read of the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.registry import load_table


@register(
    "fn_observe_metrics_gate",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(l_quantity) AS BIGINT) AS n_qty_set,
       coalesce(CAST(round(sum(l_extendedprice) * 100) AS BIGINT), 0)
         AS price_cents,
       round(min(l_discount), 4) AS min_disc,
       round(max(l_discount), 4) AS max_disc
FROM lineitem
""",
)
def fn_observe_metrics_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed metrics (SPARK-34806): the quality-gate aggregates ride ON
    the pipeline's own pass via df.observe — count, null-coverage, money
    total, discount bounds are collected by an AggregatingAccumulator
    DURING the scan the pipeline already pays (driven here by a noop-sink
    write), never by a second job. The returned relation is the observed
    metric row itself; the oracle recomputes the same gates as plain
    aggregates, so green means the side-channel numbers equal the real
    ones — the property that lets a 100 TB ingest alert on row drift
    without doubling its read volume. The observe() call adds no shuffle
    and no plan barrier."""
    from pyspark.sql import Observation

    obs = Observation("quality_gate")
    li = load_table(spark, sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_qty_set"),
        F.coalesce(
            F.round(F.sum("l_extendedprice") * 100).cast("bigint"), F.lit(0)
        ).alias("price_cents"),
        F.round(F.min("l_discount"), 4).alias("min_disc"),
        F.round(F.max("l_discount"), 4).alias("max_disc"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_qty_set"], m["price_cents"],
          m["min_disc"], m["max_disc"])],
        "n_rows bigint, n_qty_set bigint, price_cents bigint, "
        "min_disc double, max_disc double",
    )


@register(
    "fn_approx_top_k_types",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
)
def fn_approx_top_k_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (SPARK-48506): the heavy-hitter sketch over
    events.event_type, exploded from its [struct<item,count>] result to
    scalar rows. k=50 deliberately exceeds the type-domain cardinality, so
    the sketch tracks every value exactly and the frequency table must
    EQUAL the exact GROUP BY — pinning both the sketch's exact-regime
    contract and its NULL handling (NULL is a tracked item with its own
    count, symmetric with the GROUP BY NULL group; measured). In the real
    regime (domains above the tracking budget) the same expression gives
    the approximate top-k in one partial-aggregable pass — the per-batch
    vocabulary monitor of an event feed, constant state per executor."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 50)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("bigint").alias("n"),
        )
    )
