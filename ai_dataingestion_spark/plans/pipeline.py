"""Declarative ingestion pipelines: a config of named transform steps is
compiled into ONE lazy DataFrame chain — Catalyst sees the whole pipeline as
a single logical plan, so filters written as late steps still push down to
the scan, and nothing materializes between steps.

This is the composition surface a pipeline author uses: transforms are
registered by name, a plan is data (list of step names + params), and the
runner folds them over a source relation.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import tokens, tokens_sql
from ai_dataingestion_spark.lexicons import STOPWORDS
from ai_dataingestion_spark.registry import load_table

Transform = Callable[..., DataFrame]

TRANSFORMS: dict[str, Transform] = {}


def transform(name: str):
    """Register a reusable pipeline step: (df, **params) -> df."""

    def wrap(fn: Transform) -> Transform:
        TRANSFORMS[name] = fn
        return fn

    return wrap


@dataclass(frozen=True)
class PipelinePlan:
    """A pipeline as data: source table + ordered steps (+ params)."""

    source: str
    steps: tuple = ()
    name: str = "pipeline"

    def build(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load_table(spark, sf_dir, self.source)
        for step in self.steps:
            step_name, params = (
                step if isinstance(step, tuple) else (step, {})
            )
            df = TRANSFORMS[step_name](df, **params)
        return df


@transform("clean_text")
def _clean_text(df: DataFrame) -> DataFrame:
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return df.withColumn("text", cleaned).withColumn(
        "n_chars", F.length("text").cast("bigint")
    )


@transform("quality_gate")
def _quality_gate(
    df: DataFrame, min_tokens: int = 20, max_tokens: int = 800
) -> DataFrame:
    n_tokens = F.size(tokens())
    return df.filter(n_tokens.between(min_tokens, max_tokens))


@transform("lang_whitelist")
def _lang_whitelist(df: DataFrame, langs: tuple = ("en", "es", "fr", "de")) -> DataFrame:
    return df.filter(F.col("lang").isin(*langs))


@transform("drop_stopword_heavy")
def _drop_stopword_heavy(df: DataFrame, max_ratio: float = 0.5) -> DataFrame:
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    toks = tokens()
    ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast(
        "double"
    ) / F.size(toks)
    return df.filter(ratio <= max_ratio)


@transform("dedup_exact_text")
def _dedup_exact_text(df: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@transform("fingerprint")
def _fingerprint(df: DataFrame) -> DataFrame:
    return df.withColumn("text_sha", F.sha2("text", 256))


# The curated text-ingestion plan a training-data pipeline would run.
TEXT_INGEST_PLAN = PipelinePlan(
    source="documents",
    steps=(
        "clean_text",
        ("quality_gate", {"min_tokens": 20, "max_tokens": 800}),
        ("lang_whitelist", {"langs": ("en", "es", "fr", "de")}),
        ("drop_stopword_heavy", {"max_ratio": 0.5}),
        "dedup_exact_text",
        "fingerprint",
    ),
    name="text_ingest",
)


@register(
    "pipeline_e2e_text",
    oracle=f"""
WITH cleaned AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS text
  FROM documents
),
gated AS (
  SELECT * FROM cleaned
  WHERE len({tokens_sql()}) BETWEEN 20 AND 800
    AND lang IN ('en', 'es', 'fr', 'de')
    AND CAST(len(list_filter({tokens_sql()},
          t -> list_contains(['{"','".join(STOPWORDS)}'], t))) AS DOUBLE)
        / len({tokens_sql()}) <= 0.5
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
)
SELECT lang, count(*) AS n_docs,
       count(DISTINCT sha256(text)) AS n_unique,
       CAST(sum(len({tokens_sql()})) AS BIGINT) AS total_tokens
FROM deduped
GROUP BY lang
""",
)
def pipeline_e2e_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end declarative text-ingestion pipeline (clean → quality gate
    → language whitelist → stopword-ratio gate → exact dedup → fingerprint),
    summarized per language. The whole chain is ONE Catalyst plan — the
    language filter, although declared as step 3, is pushed into the scan."""
    curated = TEXT_INGEST_PLAN.build(spark, sf_dir)
    return curated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text_sha").alias("n_unique"),
        F.sum(F.size(tokens()).cast("bigint")).alias("total_tokens"),
    )
