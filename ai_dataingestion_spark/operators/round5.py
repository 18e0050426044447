"""Round-5 surface extensions (SURVEY.md §2.P): duplicate-family
accounting, corpus source statistics, and cross-table reconciliation
quality checks.

Float discipline follows SURVEY.md §5.4: sums of money PRODUCTS go through
DECIMAL(38,6) and are rounded in the decimal domain before the double
cast; quotients round at 6 dp on both sides; counts and keys are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.ai.dedup import _EXACT_CORPUS_CTE
from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import tokens, tokens_sql
from ai_dataingestion_spark.registry import Tables


# ---------------------------------------------------------------------------
# §2.P.3 training-data pipeline statistics
# ---------------------------------------------------------------------------


@register(
    "dedup_family_sizes",
    oracle=f"""
WITH {_EXACT_CORPUS_CTE},
families AS (
  SELECT md5(text) AS h, count(*) AS family_size FROM corpus GROUP BY md5(text)
)
SELECT family_size, count(*) AS n_families,
       CAST(sum(family_size) AS BIGINT) AS n_docs,
       CAST(sum(family_size - 1) AS BIGINT) AS n_removable
FROM families GROUP BY family_size
""",
)
def dedup_family_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family accounting: the size distribution of exact-dup
    clusters and how many documents dedup would remove — the budgeting
    number a pipeline reports before actually dropping rows. Two chained
    partial-aggregable groupBys (hash → family size → distribution); the
    second input is one row per family."""
    from ai_dataingestion_spark.ai.dedup import _corpus_with_exact_dups

    corpus = _corpus_with_exact_dups(spark, sf_dir)
    families = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return families.groupBy("family_size").agg(
        F.count(F.lit(1)).alias("n_families"),
        F.sum("family_size").alias("n_docs"),
        F.sum(F.col("family_size") - 1).alias("n_removable"),
    )


@register(
    "corpus_source_entropy",
    oracle=f"""
WITH per_source AS (
  SELECT source, sum(len({tokens_sql()})) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS total FROM per_source)
SELECT count(*) AS n_sources,
       round(-sum((CAST(n_tokens AS DOUBLE) / total)
                  * log2(CAST(n_tokens AS DOUBLE) / total)), 6)
         AS source_entropy_bits,
       round(pow(2.0, -sum((CAST(n_tokens AS DOUBLE) / total)
                           * log2(CAST(n_tokens AS DOUBLE) / total))), 6)
         AS effective_sources
FROM per_source, tot
""",
)
def corpus_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversity entropy: token-weighted Shannon entropy over the
    corpus's source distribution and its exponential (effective source
    count) — the mixture-health number next to text_mixture_weights.
    Two tiny aggregates over the per-source relation; one row out."""
    t = Tables(spark, sf_dir)
    per_source = t.documents.groupBy("source").agg(
        F.sum(F.size(tokens())).alias("n_tokens")
    )
    tot = per_source.agg(F.sum("n_tokens").alias("total"))
    p = F.col("n_tokens").cast("double") / F.col("total")
    ent = -F.sum(p * F.log2(p))
    return (
        per_source.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.round(ent, 6).alias("source_entropy_bits"),
            F.round(F.pow(F.lit(2.0), ent), 6).alias("effective_sources"),
        )
    )


@register(
    "dedup_affix_prefix",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
         array_to_string(list_slice({tokens_sql()}, 1, 5), ' ')
           AS prefix,
         md5(text) AS full_hash
  FROM documents
)
SELECT prefix,
       count(*) AS n_docs,
       count(DISTINCT full_hash) AS n_distinct_bodies
FROM keyed
GROUP BY prefix HAVING count(*) > 1
""",
)
def dedup_affix_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix (affix) duplication: documents opening with the same
    5-token prefix — the template/boilerplate-header signal that exact
    dedup misses because the bodies differ. Groups shuffle on the short
    prefix key only; the distinct-body count rides the same shuffle."""
    t = Tables(spark, sf_dir)
    keyed = t.documents.select(
        "doc_id",
        F.array_join(F.slice(tokens(), 1, 5), " ").alias("prefix"),
        F.md5("text").alias("full_hash"),
    )
    return (
        keyed.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("full_hash").alias("n_distinct_bodies"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# §2.P.4 embeddings, existence joins, interval arithmetic, data quality
# ---------------------------------------------------------------------------


@register(
    "embed_cosine_histogram",
    oracle="""
WITH pairs AS (
  SELECT round(
           list_sum(list_transform(a.embedding,
             (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 9) AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE (a.embedding IS NOT NULL
         AND len(list_filter(a.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0)
    AND (b.embedding IS NOT NULL
         AND len(list_filter(b.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0)
)
SELECT CAST(floor(cos * 10) AS INT) AS bin,
       count(*) AS n_pairs
FROM pairs GROUP BY bin
""",
)
def embed_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label pairwise-cosine distribution, binned at width 0.1 —
    the corpus-geometry health check run before choosing a dedup
    threshold. One groupBy-label shuffle and ONE Arrow crossing per vector
    (the sim_pair_dedup data-movement shape): each block bins its pairwise
    cosines with a chunked block-local matmul and emits per-block bin
    counts, which a 21-row final aggregate merges. The numpy round(9) ≡
    DuckDB round(9) parity discipline is the one sim_pair_dedup's kernel
    already established (a first cut computed per-pair cosines with the
    aggregate/zip_with EXPRESSION for bit-exactness and measured 87 s at
    the 10x sweep vs ~2 s for this kernel — per-pair interpreted HOF work
    is the slow path; Σ block² pair COUNT is identical). At corpus scale
    the block key becomes sim_pair_dedup_lsh's bucket."""
    import numpy as np
    import pandas as pd

    def block_bins(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"bin": [], "n": []}).astype(
                {"bin": "int32", "n": "int64"}
            )
        G = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        Gn = G / np.sqrt((G * G).sum(axis=1, keepdims=True))
        counts: dict[int, int] = {}
        chunk = 4096
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            C = np.round(Gn[lo:hi] @ Gn.T, 9)
            ri, cj = np.indices(C.shape)
            keep = (ri + lo) < cj  # each unordered pair once, no self-pairs
            bins = np.floor(C[keep] * 10).astype("int32")
            b, c = np.unique(bins, return_counts=True)
            for bb, cc in zip(b.tolist(), c.tolist()):
                counts[bb] = counts.get(bb, 0) + int(cc)
        return pd.DataFrame(
            {"bin": list(counts), "n": list(counts.values())}
        ).astype({"bin": "int32", "n": "int64"})

    # Null/nan-tier contract (mirrored in the oracle): NULL embeddings have
    # no geometry, non-finite components poison the block matmul (NaN rows
    # bin differently than the oracle's NaN floor), and the oracle's
    # a.label = b.label join never matches NULL labels while groupBy would
    # form a NULL block — quarantine all three here.
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = (
        Tables(spark, sf_dir)
        .embeddings.where(finite_vec("embedding") & F.col("label").isNotNull())
        .select("vec_id", "embedding", "label")
    )
    per_block = e.groupBy("label").applyInPandas(block_bins, "bin int, n bigint")
    return per_block.groupBy("bin").agg(F.sum("n").alias("n_pairs"))


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
    "fn_interval_arith",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m,
       CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS qtr_start,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(dayofyear(o_orderdate) AS INT) AS doy
FROM orders
""",
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic parity surface: add_months, quarter
    truncation, month-end, quarter and day-of-year extraction — all
    whole-stage-codegen expressions. Spark's add_months and DuckDB's
    + INTERVAL MONTH share end-of-month clamping semantics."""
    t = Tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).cast("timestamp_ntz").alias("plus_3m"),
        F.date_trunc("quarter", "o_orderdate")
        .cast("timestamp_ntz")
        .alias("qtr_start"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.dayofyear("o_orderdate").cast("int").alias("doy"),
    )


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


# ---------------------------------------------------------------------------
# §2.P.5 norm percentiles, higher moments
# ---------------------------------------------------------------------------


@register(
    "embed_norm_percentiles",
    oracle="""
WITH norms AS (
  SELECT sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
)
SELECT count(*) AS n_vectors,
       round(quantile_cont(l2, 0.10), 6) AS p10,
       round(quantile_cont(l2, 0.50), 6) AS p50,
       round(quantile_cont(l2, 0.90), 6) AS p90
FROM norms
""",
)
def embed_norm_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution percentiles of the embedding corpus — the
    un-normalized-vector detector. Norms use the left-to-right aggregate
    (bit-identical to list_sum), so the interpolated percentiles agree
    exactly; one aggregate, one row out. Computed over VALID vectors only
    (nan-tier contract, mirrored in the oracle): a NaN/Inf component makes
    the norm non-finite, which this engine's percentile ranks greatest but
    the oracle's quantile_cont propagates as NaN — quarantine, don't rank.
    n_vectors therefore counts valid vectors."""
    from ai_dataingestion_spark.ai.similarity import _norm, _vectors

    e = _vectors(Tables(spark, sf_dir).embeddings)
    norms = e.select(_norm(F.col("embedding")).alias("l2"))
    return norms.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.percentile("l2", 0.10), 6).alias("p10"),
        F.round(F.percentile("l2", 0.50), 6).alias("p50"),
        F.round(F.percentile("l2", 0.90), 6).alias("p90"),
    )


@register(
    "agg_higher_moments",
    oracle="""
WITH powers AS (
  SELECT l_returnflag,
         avg(l_quantity) AS m1,
         avg(l_quantity * l_quantity) AS e2,
         avg(l_quantity * l_quantity * l_quantity) AS e3,
         avg(l_quantity * l_quantity * l_quantity * l_quantity) AS e4,
         count(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1)
             / pow(e2 - m1 * m1, 1.5), 6) AS skewness,
       round((e4 - 4 * m1 * e3 + 6 * m1 * m1 * e2 - 3 * m1 * m1 * m1 * m1)
             / pow(e2 - m1 * m1, 2.0) - 3.0, 6) AS excess_kurtosis
FROM powers
""",
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag, computed
    from raw power sums (E[x],E[x²],E[x³],E[x⁴] → central moments) so both
    engines evaluate the IDENTICAL formula — Spark's built-in skewness()
    and DuckDB's use different bias corrections, which is exactly the
    cross-engine trap this query pins down. Single partial-aggregable
    pass; 6-dp rounding absorbs summation-order noise."""
    t = Tables(spark, sf_dir)
    q = F.col("l_quantity")
    powers = t.lineitem.groupBy("l_returnflag").agg(
        F.avg(q).alias("m1"),
        F.avg(q * q).alias("e2"),
        F.avg(q * q * q).alias("e3"),
        F.avg(q * q * q * q).alias("e4"),
        F.count(F.lit(1)).alias("n"),
    )
    m1, e2, e3, e4 = (F.col(c) for c in ("m1", "e2", "e3", "e4"))
    var = e2 - m1 * m1
    return powers.select(
        "l_returnflag",
        "n",
        F.round((e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5), 6).alias(
            "skewness"
        ),
        F.round(
            (e4 - 4 * m1 * e3 + 6 * m1 * m1 * e2 - 3 * m1 * m1 * m1 * m1)
            / F.pow(var, 2.0)
            - 3.0,
            6,
        ).alias("excess_kurtosis"),
    )
