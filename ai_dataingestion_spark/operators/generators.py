"""§2.AI round-14 block: generator expressions — stack / inline /
posexplode_outer (the row-producing expression family beyond plain
explode, which §2.B/§2.K ops use throughout).

Generators are Catalyst's bounded per-row fan-out (the Generate node —
never a join, never a shuffle): stack is the expression-level
wide-to-long unpivot, inline flattens an array<struct> into columns+rows
in one step, and the _outer variants preserve parent rows whose array is
empty/NULL — the left-join-shaped semantics every flatten-then-aggregate
pipeline silently depends on (an inner explode DROPS parents, deflating
denominators downstream).

Scale posture: Generate output is rows-per-row bounded (3 measures, ≤K
tokens), pipelined inside the scan stage; the aggregations after it are
the same shuffles a non-generated query would pay. No driver loops, no
Python."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import tokens, tokens_sql
from ai_dataingestion_spark.registry import Tables


@register(
    "fn_stack_wide_to_long",
    oracle="""
SELECT measure, count(*) AS n,
       CAST(round(sum(CAST(val AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
FROM (
  SELECT 'retail' AS measure, p_retailprice AS val FROM part
  UNION ALL
  SELECT 'size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT 'key' AS measure, CAST(p_partkey AS DOUBLE) AS val FROM part
) GROUP BY measure
""",
)
def fn_stack_wide_to_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack(3, ...) unpivots three part measures to (measure, val) rows
    inside ONE Generate — the expression-level wide-to-long (the
    DataFrame unpivot API is covered by unpivot_melt; stack is what SQL
    text and selectExpr pipelines reach for). Oracle = the equivalent
    UNION ALL. NULL measure values stay as rows (stack does not drop
    NULLs — unlike an array explode of filtered values), so the counts
    pin that property on the nulls tier; sums ride the DECIMAL(38,6)
    money discipline."""
    t = Tables(spark, sf_dir)
    return (
        t.part.selectExpr(
            "stack(3, 'retail', p_retailprice, "
            "'size', CAST(p_size AS DOUBLE), "
            "'key', CAST(p_partkey AS DOUBLE)) AS (measure, val)"
        )
        .groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("val").cast("decimal(38,6)")), 2)
            .cast("double").alias("total"),
        )
    )


@register(
    "fn_inline_struct_array",
    oracle="""
SELECT l_returnflag,
       count(*) AS n_lines,
       CAST(sum(l_linenumber) AS BIGINT) AS sum_linenos,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS sum_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def fn_inline_struct_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list(struct(...)) per order, then inline() flattens the
    array<struct> back to columns+rows in one Generate — the
    nest-then-flatten identity every array-of-struct pipeline (chunking,
    packing, CDC batching) relies on: green means no line was lost,
    duplicated, or field-shuffled through the nesting. The per-order
    array is order-line bounded (≤7 rows), the 100 TB-safe fan-out."""
    t = Tables(spark, sf_dir)
    nested = (
        t.lineitem.groupBy("l_orderkey")
        .agg(
            F.collect_list(
                F.struct("l_returnflag", "l_linenumber", "l_quantity")
            ).alias("lines")
        )
    )
    flat = nested.select(F.inline("lines"))
    return flat.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("l_linenumber").cast("bigint").alias("sum_linenos"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(38,6)")), 2)
        .cast("double").alias("sum_qty"),
    )


@register(
    "fn_posexplode_outer_preserving",
    oracle=f"""
WITH toks AS (
  SELECT lang,
         list_filter({tokens_sql("coalesce(text, '')")},
                     x -> length(x) >= 8) AS long_words
  FROM documents
)
SELECT lang,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN len(long_words) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty_docs,
       CAST(sum(CASE WHEN len(long_words) > 0 THEN len(long_words)
                     ELSE 1 END) AS BIGINT) AS n_exploded_rows,
       CAST(sum(CASE WHEN len(long_words) > 0
                     THEN len(long_words) * (len(long_words) - 1) / 2
                     ELSE 0 END) AS BIGINT) AS sum_positions
FROM toks
GROUP BY lang
""",
)
def fn_posexplode_outer_preserving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """posexplode_outer over each document's long-word list (length ≥ 8
    after split): documents with NO long words survive as a single
    (NULL pos, NULL token) row instead of vanishing — the
    denominator-preserving property an inner explode silently breaks.
    n_rows counts PARENT documents recovered from the exploded relation
    (exactly one NULL-pos row per empty doc), n_exploded_rows counts the
    generated relation itself, and sum_positions (Σ 0..k-1 per doc) pins
    that pos enumerates 0-based without gaps. NULL text is coalesced to
    '' symmetrically (split of '' yields one sub-8 token → empty list →
    preserved row on both engines)."""
    t = Tables(spark, sf_dir)
    words = F.filter(
        tokens(F.coalesce(F.col("text"), F.lit(""))),
        lambda w: F.length(w) >= 8,
    )
    exploded = t.documents.select(
        "lang", F.posexplode_outer(words).alias("pos", "token")
    )
    is_empty_doc = F.col("pos").isNull()
    per_parent = exploded.groupBy("lang").agg(
        F.sum(F.when(is_empty_doc, 1).otherwise(0)).cast("bigint")
        .alias("n_empty_docs"),
        F.count(F.lit(1)).alias("n_exploded_rows"),
        F.coalesce(F.sum("pos"), F.lit(0)).cast("bigint")
        .alias("sum_positions"),
        # parents = empty docs (1 row each) + distinct-by-construction
        # pos=0 rows (each non-empty doc contributes exactly one)
        (
            F.sum(F.when(is_empty_doc | (F.col("pos") == 0), 1).otherwise(0))
        ).cast("bigint").alias("n_rows"),
    )
    return per_parent.select(
        "lang", "n_rows", "n_empty_docs", "n_exploded_rows", "sum_positions"
    )
