"""§2.J UDF / UDAF / UDTF surface.

This module is the ONLY place engine data deliberately crosses the JVM↔Python
boundary at execution time. Rules of engagement for 100 TB (SURVEY.md §3.2):
row-at-a-time `F.udf` exists to prove the surface but is the slow path;
everything else is Arrow-batched (pandas UDFs, applyInPandas, mapInPandas,
UDTF) so the transfer is columnar and the Python work vectorized.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType, StringType

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import tokens_sql
from ai_dataingestion_spark.registry import Tables


@register(
    "udf_python",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice IS NULL THEN NULL
            WHEN o_totalprice >= 200000 THEN 'platinum'
            WHEN o_totalprice >= 100000 THEN 'gold'
            WHEN o_totalprice >= 25000  THEN 'silver'
            ELSE 'bronze' END AS tier_udf
FROM orders
""",
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (price-tier label). Exists to cover the
    classic UDF surface; the identical logic lives in fn_cond as a CASE
    expression, which is what a hot path should use."""

    @F.udf(StringType())
    def tier(price: float) -> str:
        if price is None:  # unknown price has no tier (oracle: explicit
            return None    # IS NULL branch — a bare CASE would say bronze)
        if price >= 200000:
            return "platinum"
        if price >= 100000:
            return "gold"
        if price >= 25000:
            return "silver"
        return "bronze"

    o = Tables(spark, sf_dir).orders
    return o.select("o_orderkey", tier("o_totalprice").alias("tier_udf"))


@register(
    "udf_python_arrow",
    oracle="""
SELECT o_orderkey,
       lower(replace(o_orderpriority, '-', '_')) AS priority_slug
FROM orders
""",
)
def udf_python_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`useArrow=True`, Spark 3.5+): same
    row-wise signature as the classic pickled UDF but the executor⇄Python
    transfer is Arrow-batched — the migration path for legacy UDF code
    that can't be vectorized yet (§2.J surface completion next to
    udf_python / udf_pandas_scalar). The logic (priority slugging) is
    deliberately trivial; what's under test is the Arrow serialization
    round-trip of the modern UDF flavor."""

    @F.udf(StringType(), useArrow=True)
    def slug(p: str) -> str:
        if p is None:  # replace(NULL, ...) is NULL in the oracle
            return None
        return p.replace("-", "_").lower()

    o = Tables(spark, sf_dir).orders
    return o.select("o_orderkey", slug("o_orderpriority").alias("priority_slug"))


@register(
    "udf_pandas_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price_udf
FROM lineitem
""",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF (Arrow batches): net price. NumPy
    executes the same IEEE multiply as the JVM, so raw doubles match the
    oracle bit-for-bit."""

    @pandas_udf(DoubleType())
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1.0 - discount)

    li = Tables(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price_udf"),
    )


@register(
    "udf_pandas_agg",
    oracle="""
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
         AS wavg_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def udf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: quantity-weighted mean price per
    returnflag. Rounded because numpy's pairwise summation and SQL's
    sequential summation differ in float ordering."""

    @pandas_udf(DoubleType())
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_extendedprice", "l_quantity"), 4).alias("wavg_price")
    )


@register(
    "udf_grouped_map",
    oracle="""
SELECT event_id, user_id,
       round((value - avg(value) OVER (PARTITION BY user_id))
             / stddev_samp(value) OVER (PARTITION BY user_id), 6) AS value_z
FROM events
WHERE (value IS NULL OR isfinite(value))
""",
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization via applyInPandas (grouped-map):
    each user's events arrive as one pandas frame. The SQL-window twin in
    the oracle pins semantics (ddof=1 == stddev_samp). Gated to the
    FINITE domain (nan-tier contract, mirrored in the oracle): pandas
    mean/std silently SKIP NaN while the oracle's window stddev kernel
    raises Out of Range on it — the z-score of a non-finite observation
    is undefined, so the row quarantines on both sides."""
    from ai_dataingestion_spark.functions.portable import finite

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        z = (v - v.mean()) / v.std(ddof=1)
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"],
             "value_z": np.round(z, 6)}
        )

    e = Tables(spark, sf_dir).events.where(finite("value"))
    return e.groupBy("user_id").applyInPandas(
        normalize, "event_id bigint, user_id bigint, value_z double"
    )


@register(
    "udf_map_in_pandas",
    oracle="""
SELECT event_id,
       CASE WHEN isfinite(value) AND value > -1
            THEN round(ln(1 + value), 6) END AS log1p_value,
       length(event_type)       AS type_len
FROM events
""",
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise mapInPandas featurizer (the batch-transform shape used
    for tokenizers/featurizers): log1p(value) + a string feature. The log
    feature NULLs outside its domain — finite values > -1 — on BOTH sides
    (nan-tier contract): numpy log1p propagates NaN/-Inf where the oracle's
    ln() raises on negatives, and a featurizer must not drop the ROW (the
    string feature is still good) just because one numeric feature is
    uncomputable."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            v = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)
            ok = np.isfinite(v) & (v > -1.0)
            lv = pd.array(
                np.round(np.log1p(np.where(ok, v, 0.0)), 6), dtype="Float64"
            )
            lv[~ok] = pd.NA  # ships to Arrow as NULL, not NaN
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "log1p_value": lv,
                    # nullable Int64: .str.len() of a missing string is
                    # <NA>, which Arrow ships back as a NULL bigint —
                    # astype("int64") would crash the worker on it
                    "type_len": pdf["event_type"].str.len().astype("Int64"),
                }
            )

    e = Tables(spark, sf_dir).events
    return e.mapInPandas(
        featurize, "event_id bigint, log1p_value double, type_len bigint"
    )


@register(
    "udtf_python",
    oracle=f"""
SELECT doc_id, token, CAST(pos AS BIGINT) AS pos
FROM (
  SELECT doc_id,
         unnest({tokens_sql()}) AS token,
         generate_subscripts({tokens_sql()}, 1) AS pos
  FROM documents
)
WHERE doc_id < 50
""",
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 @udtf): explode text into (token, position)
    rows — one eval per input row yields N output rows (1-based positions to
    mirror SQL subscripts). Restricted to doc_id < 50 to keep the UDTF's
    row-at-a-time cost test-sized; tokenization at scale uses the
    expression-based text_tokenize instead."""

    @udtf(returnType="doc_id: bigint, token: string, pos: bigint")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            if text is None:  # string_split(NULL) unnests to zero rows
                return
            for i, tok in enumerate(text.split(" "), start=1):
                yield doc_id, tok, i

    spark.udtf.register("tokenize_udtf", Tokenize)
    d = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT t.doc_id, t.token, t.pos "
        "FROM _udtf_docs, LATERAL tokenize_udtf(doc_id, text) t"
    )
