"""Lexicon-based sentiment scoring (§2.K, pattern per PAPERS.md: Spark
sentiment pipelines) — tokenize, join a broadcast lexicon, aggregate."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import tokens, tokens_sql
from ai_dataingestion_spark.lexicons import SENTIMENT_LEXICON, sentiment_sql_values
from ai_dataingestion_spark.registry import Tables


@register(
    "sentiment_lexicon",
    oracle=f"""
WITH lexicon(term, score) AS (VALUES {sentiment_sql_values()}),
toks AS (
  SELECT doc_id, lang, source, len({tokens_sql()}) AS n_tokens,
         unnest({tokens_sql()}) AS token
  FROM documents
),
doc_scores AS (
  SELECT t.doc_id, any_value(t.lang) AS lang, any_value(t.source) AS source,
         sum(l.score) / any_value(t.n_tokens) AS doc_score
  FROM toks t JOIN lexicon l ON t.token = l.term
  GROUP BY t.doc_id
),
all_docs AS (
  SELECT d.doc_id, d.lang, d.source, coalesce(s.doc_score, 0.0) AS doc_score
  FROM documents d LEFT JOIN doc_scores s ON d.doc_id = s.doc_id
)
SELECT lang, source,
       count(*) AS n_docs,
       round(avg(doc_score), 6) AS avg_sentiment
FROM all_docs
GROUP BY lang, source
""",
)
def sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sentiment = Σ lexicon scores / token count; averaged by
    (lang, source). The lexicon is a broadcast inline DataFrame — the
    standard small-dim join, so the only big-data shuffle is the final
    aggregate."""
    d = Tables(spark, sf_dir).documents
    lex = spark.createDataFrame(
        list(SENTIMENT_LEXICON),
        StructType(
            [
                StructField("term", StringType(), False),
                StructField("score", DoubleType(), False),
            ]
        ),
    )
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens()).alias("n_tokens"),
        F.explode(tokens()).alias("token"),
    )
    doc_scores = (
        toks.join(F.broadcast(lex), toks.token == lex.term)
        .groupBy("doc_id")
        .agg(
            (F.sum("score") / F.any_value("n_tokens")).alias("doc_score"),
        )
    )
    all_docs = d.select("doc_id", "lang", "source").join(
        doc_scores, "doc_id", "left"
    ).withColumn("doc_score", F.coalesce("doc_score", F.lit(0.0)))
    return all_docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_score"), 6).alias("avg_sentiment"),
    )
