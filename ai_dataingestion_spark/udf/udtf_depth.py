"""§2.T round-12 follow-on block: Python UDTF depth (Spark 4, SPARK-43798+).

``udtf_python`` (udf/udfs.py) covers the basic static-schema LATERAL explode
shape. This module covers the three Spark-4 UDTF capabilities a production
pipeline actually builds on, each verified against a classic-SQL DuckDB
oracle:

1. **``analyze()``-driven polymorphic output schemas** — the output schema is
   computed at plan time from the call site's arguments (a constant scalar in
   ``udtf_analyze_word_cols``, the input TABLE's own schema in
   ``udtf_analyze_passthrough``), so one UDTF serves many shapes without
   casting or re-parsing.
2. **TABLE arguments with SQL-side ``PARTITION BY`` / ``ORDER BY``**
   (``udtf_table_partition_stats``) — the engine shuffles rows so each UDTF
   instance sees exactly one key's rows in a guaranteed order; ``__init__`` /
   ``terminate`` bracket the partition, giving per-key streaming aggregation
   with O(1) state per instance.
3. **``analyze()``-requested partitioning** (``udtf_self_partition_counts``)
   — the UDTF itself declares ``partitionBy`` in its ``AnalyzeResult``, so
   callers write ``f(TABLE(t))`` and the repartition is part of the
   function's contract, not the call site's.

100-TB posture, stated once for the block: UDTFs are row-at-a-time Python —
the deliberate slow path that exists to prove the API surface (SURVEY.md
§3.2). Every op here is either bounded by construction (50 docs, a
25-row dim) or per-key streaming with O(1) instance state (the partitioned
stats ops: state is 4 scalars regardless of partition size, and the shuffle
is the same exchange a groupBy would pay). Real pipelines use the
expression-based twins (text_tokenize, agg_groupby); the docstring of each
op names its twin.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult, PartitioningColumn

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import tokens_sql
from ai_dataingestion_spark.registry import register_views


@register(
    "udtf_analyze_word_cols",
    oracle=f"""
SELECT doc_id,
       {tokens_sql()}[1] AS w1,
       {tokens_sql()}[2] AS w2,
       {tokens_sql()}[3] AS w3
FROM documents
WHERE doc_id < 50
""",
)
def udtf_analyze_word_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic-schema UDTF: ``analyze()`` reads the constant ``k``
    argument at plan time and emits k string columns ``w1..wk`` — the
    leading-tokens widener a feature pipeline uses without hand-declaring a
    schema per call site. NULL text yields a row of NULLs (the row survives,
    mirroring list-indexing a NULL list in SQL); short texts pad with NULL
    exactly like out-of-range list indexes. Bounded to doc_id < 50 — the
    scale path for tokenization is the expression-based text_tokenize."""

    @udtf
    class WordCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            n = int(k.value)
            return AnalyzeResult(
                schema=StructType(
                    [StructField(f"w{i}", StringType()) for i in range(1, n + 1)]
                )
            )

        def eval(self, text, k):
            if text is None:
                yield tuple([None] * k)
                return
            toks = text.split(" ")
            yield tuple(toks[i] if i < len(toks) else None for i in range(k))

    spark.udtf.register("word_cols_udtf", WordCols)
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT d.doc_id, t.w1, t.w2, t.w3 "
        "FROM documents d, LATERAL word_cols_udtf(d.text, 3) t "
        "WHERE d.doc_id < 50"
    )


@register(
    "udtf_table_partition_stats",
    oracle="""
WITH e AS (
  SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
r AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM e
)
SELECT user_id,
       count(*) AS n_events,
       max(CASE WHEN ra = 1 THEN event_type END) AS first_type,
       max(CASE WHEN rd = 1 THEN event_type END) AS last_type,
       CAST(round(sum(CASE WHEN isfinite(value) THEN value ELSE 0 END), 2)
            AS DOUBLE) AS sum_value
FROM r
GROUP BY user_id
""",
)
def udtf_table_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE-argument UDTF with SQL-side PARTITION BY user_id ORDER BY
    (ts, event_id): per-user first/last event type plus finite-value sum,
    computed as a single ordered streaming pass per key — eval() folds each
    row into 4 scalars of instance state, terminate() emits once per
    partition. The ORDER BY contract means first/last need no window
    functions Python-side; NULL user_id / NULL ts rows are quarantined on
    both engines (NULL ordering semantics differ between them). Finite-sum
    skips NULL and non-finite values on both sides (nan-tier contract).
    Expression twin for the scale path: win_first_last + agg_groupby."""

    @udtf(
        returnType="user_id bigint, n_events bigint, first_type string, "
        "last_type string, sum_value double"
    )
    class UserStats:
        def __init__(self):
            self.uid = None
            self.seen = False
            self.n = 0
            self.first = None
            self.last = None
            self.s = 0.0

        def eval(self, row):
            self.uid = row["user_id"]
            self.seen = True
            self.n += 1
            if self.n == 1:
                # positional, NOT `if self.first is None`: a NULL event_type
                # on the key's first event must YIELD NULL (the oracle's
                # row_number semantics), not fall through to the next
                # non-null type (null-tier contract)
                self.first = row["event_type"]
            self.last = row["event_type"]
            v = row["value"]
            if v is not None and math.isfinite(v):
                self.s += v

        def terminate(self):
            if self.seen:
                yield self.uid, self.n, self.first, self.last, round(self.s, 2)

    spark.udtf.register("user_stats_udtf", UserStats)
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT user_id, n_events, first_type, last_type, sum_value "
        "FROM user_stats_udtf("
        "  TABLE(SELECT * FROM events "
        "        WHERE user_id IS NOT NULL AND ts IS NOT NULL) "
        "  PARTITION BY user_id ORDER BY (ts, event_id))"
    )


@register(
    "udtf_analyze_passthrough",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey,
       (n_nationkey IS NOT NULL)::BIGINT
       + (n_name IS NOT NULL)::BIGINT
       + (n_regionkey IS NOT NULL)::BIGINT AS n_set
FROM nation
""",
)
def udtf_analyze_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-mirroring UDTF: ``analyze()`` receives the TABLE argument's
    ``dataType`` (a StructType) and returns it verbatim plus a computed
    ``n_set`` column — the generic row-auditor shape (works on ANY input
    table without per-table code, the polymorphism ``udtf_python``'s static
    returnType cannot express). Runs on the 25-row nation dim; the
    expression twin for wide tables is quality_profile's stack() scan."""

    @udtf
    class WithNonNullCount:
        @staticmethod
        def analyze(t: AnalyzeArgument) -> AnalyzeResult:
            fields = list(t.dataType.fields)
            return AnalyzeResult(
                schema=StructType(fields + [StructField("n_set", LongType())])
            )

        def eval(self, row):
            vals = tuple(row)
            yield vals + (sum(v is not None for v in vals),)

    spark.udtf.register("with_non_null_count_udtf", WithNonNullCount)
    register_views(spark, sf_dir)
    return spark.sql("SELECT * FROM with_non_null_count_udtf(TABLE(nation))")


@register(
    "udtf_self_partition_counts",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(round(sum(CASE WHEN isfinite(value) THEN value ELSE 0 END), 2)
            AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
)
def udtf_self_partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-partitioning UDTF: ``analyze()`` returns
    ``partitionBy=[PartitioningColumn("event_type")]``, so the caller passes
    a bare TABLE argument and the engine inserts the repartition — the
    partitioning is part of the function's contract. Per-type count +
    finite-value sum via O(1) instance state; NULL event_type forms its own
    partition on the engine exactly as GROUP BY groups NULLs on the oracle.
    Expression twin: agg_groupby (the shuffle is the identical exchange).
    r17 (guide §4.1): the TABLE argument projects the two columns eval()
    reads — a UDTF is opaque to Catalyst, so an unprojected TABLE(events)
    shipped all 6 columns (ts, props, ids) through the exchange and the
    per-row Python boundary for nothing (measured 1.41 s -> 1.09 s; the
    remaining wall is the per-row eval, which IS the §2.T feature under
    demonstration — guide §4.1: a UDTF's eval is row-at-a-time by
    definition)."""

    @udtf
    class TypeCounts:
        @staticmethod
        def analyze(t: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(
                schema=StructType(
                    [
                        StructField("event_type", StringType()),
                        StructField("n_events", LongType()),
                        StructField("sum_value", DoubleType()),
                    ]
                ),
                partitionBy=[PartitioningColumn("event_type")],
            )

        def __init__(self):
            self.et = None
            self.seen = False
            self.n = 0
            self.s = 0.0

        def eval(self, row):
            self.et = row["event_type"]
            self.seen = True
            self.n += 1
            v = row["value"]
            if v is not None and math.isfinite(v):
                self.s += v

        def terminate(self):
            if self.seen:
                yield self.et, self.n, round(self.s, 2)

    spark.udtf.register("type_counts_udtf", TypeCounts)
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT * FROM type_counts_udtf("
        "TABLE(SELECT event_type, value FROM events))"
    )
