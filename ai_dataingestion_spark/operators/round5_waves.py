"""Round-5 operator waves (SURVEY.md §2.Q), consolidated from the former
per-wave modules round5b–round5z (registration order preserved: sections
appear exactly in the old alphabetical import order, so catalog rotation
indices are unchanged). Each section keeps its original wave docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    pround,
    stable_rounded_sum,
    stable_rounded_sum_sql,
    stable_sum,
    stable_sum_sql,
    tokens,
    tokens_sql,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.scale import broadcast_if_small
from ai_dataingestion_spark.tmpdirs import op_tmpdir
from pyspark.sql.types import StringType
from ai_dataingestion_spark.registry import Tables
import os


# ===========================================================================
# wave module round5b (formerly operators/round5b.py)
# Round-5 second wave (SURVEY.md §2.Q): blocked edit-distance dedup,
# alternative means, a per-column data-quality matrix, and a per-dimension
# label-separability (eta-squared) profile over the embedding corpus.
#
# Float discipline follows SURVEY.md §5.4: ratios/doubles rounded at 6 dp
# on BOTH sides; counts, keys, and day deltas exact.
# ===========================================================================


# ---------------------------------------------------------------------------
# §2.Q.5 blocked edit-distance dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_edit_distance_blocked",
    oracle=f"""
WITH blocked AS (
  SELECT doc_id, text,
         n_chars // 32 AS len_bucket,
         array_to_string(list_slice({tokens_sql()}, 1, 5), ' ')
           AS prefix5
  FROM documents
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY len_bucket, prefix5) AS block_n
  FROM blocked
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         -- DP length cap (VERDICT-r9 item 6): when BOTH texts exceed
         -- 4,000 chars, compare their first 4,000 chars — identical
         -- contract on the Spark side
         CASE WHEN len(a.text) > 4000 AND len(b.text) > 4000
              THEN a.text[1:4000] ELSE a.text END AS ta,
         CASE WHEN len(a.text) > 4000 AND len(b.text) > 4000
              THEN b.text[1:4000] ELSE b.text END AS tb,
         len(a.text) AS la_full, len(b.text) AS lb_full
  FROM sized a JOIN sized b
    ON a.len_bucket = b.len_bucket AND a.prefix5 = b.prefix5
   AND a.doc_id < b.doc_id
  WHERE a.block_n <= 100
    -- ASCII operands only: edit distance is an ENCODING-UNIT metric and
    -- the engines count different units outside printable ASCII (bytes
    -- here, UTF-16 units there) — real pipelines transliterate before
    -- edit distance
    AND NOT regexp_matches(a.text, '[^ -~]')
    AND NOT regexp_matches(b.text, '[^ -~]')
),
scored AS (
  -- equality short-circuit BEFORE the DP: identical operands (the
  -- dominant candidate class once a corpus accumulates exact copies)
  -- cost a string compare, never O(n*m) cells
  SELECT doc_a, doc_b, la_full, lb_full,
         CASE WHEN ta = tb THEN 0 ELSE levenshtein(ta, tb) END AS edit_dist,
         greatest(len(ta), len(tb)) AS cap_len
  FROM cand
)
SELECT doc_a, doc_b, edit_dist
FROM scored
WHERE edit_dist <= 0.2 * cap_len
  -- full-length agreement guard (ADVICE r10 #2): the prefix cap makes the
  -- DP blind past 4,000 chars, so two book-length docs sharing a 4,000-char
  -- preamble scored 0 no matter how different their tails; edit distance
  -- over the FULL texts is >= their length delta, so requiring the delta
  -- within threshold of the FULL max length is a sound necessary condition
  -- the cap was discarding (implied by the main predicate for uncapped
  -- pairs, so it only bites the capped branch)
  AND abs(la_full - lb_full) <= 0.2 * greatest(la_full, lb_full)
""",
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded edit-distance near-dup pairs: candidates are generated by
    a (length-bucket, 5-token-prefix) equality block — two docs whose
    lengths differ by more than the bucket width or whose openings
    differ can't be small-edit variants — then verified with exact
    Levenshtein ≤ 20% of the longer text. Blocks over 100 docs are
    dropped (deterministic skew cap, mirrored in the oracle): quadratic
    work is bounded by 100² per block, never corpus². Complements
    dedup_ngram_jaccard (bag-of-shingles) with an ORDER-sensitive edit
    measure.

    DP cost contract (mirrored in the oracle): when
    BOTH operands exceed 4,000 chars the distance is computed over their
    first 4,000 chars (an O(cap²) bound — near-dup triage on book-length
    docs is a prefix decision, and the extremes tier's identical 100k-char
    docs cost ~1e10 DP cells per pair per engine without it), and
    byte-equal operands short-circuit to 0 before any DP on either engine
    (the oracle's CASE guards DuckDB, which has no equality fast path).
    The capped branch additionally requires full-length agreement —
    abs(len_a - len_b) <= 0.2 * max(len_a, len_b) on the FULL texts:
    a necessary condition of the uncapped metric (edit
    distance >= length delta) that the prefix cap was blind to, so two
    book-length docs sharing a 4,000-char preamble but wildly different
    tails no longer report edit_dist 0. Mirrored on both engines;
    implied-by-threshold (hence a no-op) for uncapped pairs."""
    t = Tables(spark, sf_dir)
    blocked = t.documents.select(
        "doc_id",
        "text",
        (F.col("n_chars") / F.lit(32)).cast("bigint").alias("len_bucket"),
        F.array_join(F.slice(tokens(), 1, 5), " ").alias("prefix5"),
    )
    sized = blocked.withColumn(
        "block_n", F.count(F.lit(1)).over(Window.partitionBy("len_bucket", "prefix5"))
    ).filter(F.col("block_n") <= 100)
    a = sized.alias("a")
    b = sized.alias("b")
    both_long = (F.length(F.col("a.text")) > 4000) & (
        F.length(F.col("b.text")) > 4000
    )
    ta = F.when(both_long, F.substring(F.col("a.text"), 1, 4000)).otherwise(
        F.col("a.text")
    )
    tb = F.when(both_long, F.substring(F.col("b.text"), 1, 4000)).otherwise(
        F.col("b.text")
    )
    cap_len = F.greatest(F.length(ta), F.length(tb))
    # Semantics-preserving cost cuts (mirrored contract): edit distance is
    # >= |len(a)-len(b)|, so pairs whose length delta already exceeds the
    # threshold drop BEFORE any O(n*m) work, and byte-equal pairs
    # short-circuit to 0. Measured: 101 s -> 17.5 s on the 10x sweep.
    len_delta = F.abs(F.length(ta) - F.length(tb))
    # full-length agreement guard: necessary condition of
    # the UNCAPPED metric on the full texts; only bites the capped branch
    la_full, lb_full = F.length(F.col("a.text")), F.length(F.col("b.text"))
    full_len_ok = F.abs(la_full - lb_full) <= 0.2 * F.greatest(la_full, lb_full)
    dist = F.when(ta == tb, F.lit(0)).otherwise(F.levenshtein(ta, tb))
    return (
        a.join(
            b,
            (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.prefix5") == F.col("b.prefix5"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # ASCII operands only (oracle mirrors): engines count different
        # encoding units outside ASCII — bytes vs UTF-16 code units
        .filter(
            ~F.col("a.text").rlike("[^ -~]")
            & ~F.col("b.text").rlike("[^ -~]")
        )
        .filter(full_len_ok)
        .filter(len_delta <= 0.2 * cap_len)
        .filter(dist <= 0.2 * cap_len)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# §2.Q.6 alternative means + quality matrix + label separability
# ---------------------------------------------------------------------------


@register(
    "agg_geo_harmonic_means",
    oracle=f"""
SELECT l_returnflag, count(*) AS n,
       round(avg(l_quantity), 6) AS arith_mean,
       round(exp(avg(ln(l_quantity))), 6) AS geo_mean,
       round(count(*) / {stable_sum_sql("1.0 / l_quantity")}, 6) AS harm_mean
-- POSITIVE domain only: the geometric and harmonic means are undefined
-- at zero (ln(0), 1/0), and the engines disagree on the failure mode
FROM lineitem WHERE l_quantity > 0 GROUP BY l_returnflag
""",
)
def agg_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic means of quantity per return
    flag — the Pythagorean-means pin (quantity ≥ 1, so ln and 1/x are
    always finite). Geometric goes through exp∘avg∘ln (partial-aggregable,
    no product overflow). The harmonic denominator Σ(1/q) accumulates in
    DECIMAL(38,6) (portable.py:stable_sum — 1/q is identical on both
    engines, so its 1e-6 quantization is too); the remaining avg-based
    means divide by the group count, which scales summation-order noise
    well below the 6dp boundary."""
    t = Tables(spark, sf_dir)
    q = F.col("l_quantity")
    # q > 0 both sides: ln(0) and 1/0 leave the means' domain (ANSI
    # crash here, NULL/inf there) — the classical definitions assume it
    return t.lineitem.where(q > 0).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(q), 6).alias("arith_mean"),
        F.round(F.exp(F.avg(F.log(q))), 6).alias("geo_mean"),
        F.round(
            F.count(F.lit(1)) / stable_sum(F.lit(1.0) / q), 6
        ).alias("harm_mean"),
    )


@register(
    "quality_null_blank_matrix",
    oracle="""
SELECT 'text' AS column_name, count(*) AS n_rows,
       count(CASE WHEN text IS NULL THEN 1 END) AS n_null,
       count(CASE WHEN trim(text) = '' THEN 1 END) AS n_blank,
       count(DISTINCT text) AS n_distinct
FROM documents
UNION ALL
SELECT 'lang', count(*),
       count(CASE WHEN lang IS NULL THEN 1 END),
       count(CASE WHEN trim(lang) = '' THEN 1 END),
       count(DISTINCT lang)
FROM documents
UNION ALL
SELECT 'source', count(*),
       count(CASE WHEN source IS NULL THEN 1 END),
       count(CASE WHEN trim(source) = '' THEN 1 END),
       count(DISTINCT source)
FROM documents
""",
)
def quality_null_blank_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column completeness matrix over the documents table: null /
    blank / distinct counts for each string column, emitted as one ROW
    PER COLUMN (the profiling shape downstream dashboards join on).
    Spark computes all twelve aggregates in a SINGLE pass and unpivots
    the 1-row result with stack() — the oracle's UNION ALL of three
    scans is the semantic spec, not the plan."""
    t = Tables(spark, sf_dir)
    aggs = []
    for c in ("text", "lang", "source"):
        aggs += [
            F.count(F.lit(1)).alias(f"{c}_rows"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_null"),
            F.count(F.when(F.trim(F.col(c)) == "", 1)).alias(f"{c}_blank"),
            F.count_distinct(F.col(c)).alias(f"{c}_distinct"),
        ]
    one = t.documents.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}_rows, {c}_null, {c}_blank, {c}_distinct"
        for c in ("text", "lang", "source")
    )
    return one.select(
        F.expr(
            f"stack(3, {stack_expr}) AS "
            "(column_name, n_rows, n_null, n_blank, n_distinct)"
        )
    )


@register(
    "embed_label_eta_squared",
    oracle="""
WITH dims AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
per_label AS (
  SELECT dim, label, count(*) AS n_l, avg(val) AS mu_l
  FROM dims GROUP BY dim, label
),
overall AS (
  SELECT dim, avg(val) AS mu, var_pop(val) AS var_total, count(*) AS n
  FROM dims GROUP BY dim
)
SELECT o.dim,
       round(o.var_total, 6) AS var_total,
       round(sum(p.n_l * (p.mu_l - o.mu) * (p.mu_l - o.mu)) / o.n
             / o.var_total, 6) AS eta_squared
FROM per_label p JOIN overall o ON p.dim = o.dim
GROUP BY o.dim, o.var_total, o.n
""",
)
def embed_label_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension label separability: eta² = between-label variance /
    total variance for each of the 64 embedding dimensions — the ANOVA
    screen for which dimensions actually encode the label structure
    (feature selection before clustering). posexplode fans out to
    n×64 rows once; both aggregations are partial-aggregable and the
    output is 64 rows at ANY corpus size. 6-dp rounding absorbs
    summation-order noise in the double sums. ANOVA runs over VALID
    vectors only (nan-tier contract, mirrored in the oracle): one NaN
    component turns a dimension's var_pop into NaN here and an Out of
    Range ERROR in the oracle's kernel."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    t = Tables(spark, sf_dir)
    dims = t.embeddings.where(finite_vec("embedding")).select(
        "label", F.posexplode("embedding").alias("dim", "raw")
    ).select("label", "dim", F.col("raw").cast("double").alias("val"))
    per_label = dims.groupBy("dim", "label").agg(
        F.count(F.lit(1)).alias("n_l"), F.avg("val").alias("mu_l")
    )
    overall = dims.groupBy("dim").agg(
        F.avg("val").alias("mu"),
        F.var_pop("val").alias("var_total"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_label.join(overall, "dim")
        .groupBy("dim", "var_total", "n")
        .agg(
            F.round(
                F.sum(
                    F.col("n_l") * (F.col("mu_l") - F.col("mu"))
                    * (F.col("mu_l") - F.col("mu"))
                )
                / F.col("n")
                / F.col("var_total"),
                6,
            ).alias("eta_squared")
        )
        .select("dim", F.round("var_total", 6).alias("var_total"), "eta_squared")
    )


# ===========================================================================
# wave module round5c (formerly operators/round5c.py)
# Round-5 third wave (SURVEY.md §2.Q, continued): the two partition-
# pruning scan paths every 100 TB lake lives on (static partition pruning
# and dynamic partition pruning through a join) and binary-codec function
# parity.
# ===========================================================================

# ---------------------------------------------------------------------------
# §2.Q.7 partition-pruning scan paths
# ---------------------------------------------------------------------------


@register(
    "scan_partition_pruned",
    oracle="""
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning: orders written partitionBy(priority) to
    a scratch lake, read back with a priority predicate — the scan must
    touch ONLY the two matching partition directories (PartitionFilters
    in the formatted plan, pinned by tests/test_plans.py). At 100 TB
    this is the difference between reading 2/5 of the table and all of
    it; the oracle is the equivalent filter on the logical relation."""
    out = op_tmpdir("scan_part_prune_")
    o = Tables(spark, sf_dir).orders
    (
        o.repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    back = spark.read.schema(o.schema).parquet(out)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("revenue"),
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


# ---------------------------------------------------------------------------
# §2.Q.10 codec parity
# ---------------------------------------------------------------------------


@register(
    "fn_string_codec",
    oracle="""
SELECT doc_id,
       to_base64(encode(substring(text, 1, 24))) AS b64_prefix,
       coalesce(decode(from_base64(to_base64(encode(substring(text, 1, 24)))))
         = substring(text, 1, 24), false) AS b64_roundtrip_ok,
       lower(hex(lang)) AS lang_hex,
       coalesce(decode(unhex(hex(lang))) = lang, false) AS hex_roundtrip_ok
FROM documents
""",
)
def fn_string_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-codec scalar functions: base64/unbase64 and hex/unhex
    round-trips over document text (§2.H family completion — the codecs
    every wire-format ingest path needs). The 24-char prefix stays under
    every base64 line-wrap threshold so both engines emit the unchunked
    form; hex is case-normalized (Spark uppercases, DuckDB lowercases).
    Pure expression plan — no shuffle, no UDF."""
    t = Tables(spark, sf_dir)
    prefix = F.substring("text", 1, 24)
    return t.documents.select(
        "doc_id",
        F.base64(prefix.cast("binary")).alias("b64_prefix"),
        # coalesce(false) both sides: NULL input has no roundtrip to pass,
        # and a NULL boolean crosses the compare harness asymmetrically
        F.coalesce(
            F.unbase64(F.base64(prefix.cast("binary"))).cast("string") == prefix,
            F.lit(False),
        ).alias("b64_roundtrip_ok"),
        F.lower(F.hex("lang")).alias("lang_hex"),
        F.coalesce(
            F.unhex(F.hex("lang")).cast("string") == F.col("lang"),
            F.lit(False),
        ).alias("hex_roundtrip_ok"),
    )


# ===========================================================================
# wave module round5d (formerly operators/round5d.py)
# Round-5 fourth wave (SURVEY.md §2.Q, continued): statistical screens —
# chi-squared independence and Benford first-digit conformance. Every formula is
# written as raw power sums / explicit ratios so Spark and DuckDB evaluate
# the IDENTICAL expression (the agg_higher_moments rule: built-in
# corr/stddev differ in bias correction across engines); 6-dp rounding
# absorbs summation order.
# ===========================================================================

@register(
    "agg_chi_square_independence",
    oracle="""
WITH cells AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS pri, count(*) AS o
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
),
marged AS (
  SELECT o,
         sum(o) OVER (PARTITION BY seg) AS rt,
         sum(o) OVER (PARTITION BY pri) AS ct,
         sum(o) OVER () AS n
  FROM cells
),
dims AS (
  SELECT count(DISTINCT seg) AS r, count(DISTINCT pri) AS c FROM cells
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST((max(r) - 1) * (max(c) - 1) AS BIGINT) AS dof,
       round(sum(pow(CAST(o AS DOUBLE)
                     - CAST(rt AS DOUBLE) * ct / n, 2)
                 / (CAST(rt AS DOUBLE) * ct / n)), 6) AS chi2,
       round(sqrt(sum(pow(CAST(o AS DOUBLE)
                          - CAST(rt AS DOUBLE) * ct / n, 2)
                      / (CAST(rt AS DOUBLE) * ct / n))
                  / (max(n) * least(max(r) - 1, max(c) - 1))), 6)
         AS cramers_v
FROM marged CROSS JOIN dims
""",
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between customer market segment
    and order priority, plus Cramér's V effect size — the categorical
    drift screen of a data-quality suite. Aggregate-first: the
    contingency cells are one groupBy (R×C = 25 rows at any corpus
    size); margins are window sums over the cells; the expected-count
    formula is written identically on both sides."""
    t = Tables(spark, sf_dir)
    cells = (
        t.orders.join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_mktsegment"), sf_dir, "customer"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    marged = cells.select(
        "o",
        "seg",
        "pri",
        F.sum("o").over(Window.partitionBy("seg")).alias("rt"),
        F.sum("o").over(Window.partitionBy("pri")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = F.pow(F.col("o").cast("double") - e, 2) / e
    stats = marged.agg(
        F.max("n").alias("n_raw"),
        F.count_distinct("seg").alias("r"),
        F.count_distinct("pri").alias("c"),
        F.sum(term).alias("chi2_raw"),
    )
    return stats.select(
        F.col("n_raw").cast("bigint").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        F.round("chi2_raw", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (F.col("n_raw") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "quality_benford_first_digit",
    oracle="""
WITH digits AS (
  SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit,
         count(*) AS n_orders
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
)
SELECT digit, n_orders,
       round(CAST(n_orders AS DOUBLE) / sum(n_orders) OVER (), 6) AS share,
       round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
         AS benford_expected,
       round(CAST(n_orders AS DOUBLE) / sum(n_orders) OVER ()
             - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
         AS deviation
FROM digits
""",
)
def quality_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance of order totals — the
    classic fabricated-data / unit-mixing screen. One groupBy to the
    9-row digit histogram; expected shares via ln(1+1/d)/ln(10) written
    identically on both sides (synthetic uniform-ish prices will deviate
    — the DEVIATION column is the signal, not an error)."""
    t = Tables(spark, sf_dir)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    )
    digits = (
        t.orders.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    share = F.col("n_orders").cast("double") / F.sum("n_orders").over(
        Window.partitionBy()
    )
    expected = F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(
        F.lit(10.0)
    )
    return digits.select(
        "digit",
        "n_orders",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_expected"),
        F.round(share - expected, 6).alias("deviation"),
    )


# ===========================================================================
# wave module round5e (formerly operators/round5e.py)
# Round-5 fifth wave (SURVEY.md §2.Q, continued): a catalog-level
# table-profiling operator and the PCA flagship: dominant
# principal component of the embedding corpus via a partial-Gram Arrow
# kernel + five unrolled power iterations on the 64×64 covariance.
# ===========================================================================


@register(
    "catalog_table_stats",
    oracle="""
SELECT 'customer' AS table_name, count(*) AS n_rows,
       count(DISTINCT c_custkey) AS n_distinct_keys FROM customer
UNION ALL
SELECT 'orders', count(*), count(DISTINCT o_orderkey) FROM orders
UNION ALL
SELECT 'lineitem', count(*),
       count(DISTINCT l_orderkey * 8 + l_linenumber) FROM lineitem
UNION ALL
SELECT 'part', count(*), count(DISTINCT p_partkey) FROM part
UNION ALL
SELECT 'supplier', count(*), count(DISTINCT s_suppkey) FROM supplier
UNION ALL
SELECT 'events', count(*), count(DISTINCT event_id) FROM events
UNION ALL
SELECT 'documents', count(*), count(DISTINCT doc_id) FROM documents
UNION ALL
SELECT 'embeddings', count(*), count(DISTINCT vec_id) FROM embeddings
""",
)
def catalog_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level profiling: row count + primary-key distinct count
    for every non-dim table — the table of numbers an ingest pipeline
    publishes after each load (key uniqueness == rows ⇔ no duplicate
    ingestion). Eight independent single-table aggregates unioned; each
    is one partial-aggregable pass, so the whole profile costs one scan
    per table and ships eight rows."""
    t = Tables(spark, sf_dir)
    li_key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    parts = [
        ("customer", t.customer, F.col("c_custkey")),
        ("orders", t.orders, F.col("o_orderkey")),
        ("lineitem", t.lineitem, li_key),
        ("part", t.part, F.col("p_partkey")),
        ("supplier", t.supplier, F.col("s_suppkey")),
        ("events", t.events, F.col("event_id")),
        ("documents", t.documents, F.col("doc_id")),
        ("embeddings", t.embeddings, F.col("vec_id")),
    ]
    out = None
    for name, df, key in parts:
        stats = df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(key).alias("n_distinct_keys"),
        ).select("table_name", "n_rows", "n_distinct_keys")
        out = stats if out is None else out.unionByName(stats)
    return out


_GRAM_SCHEMA = "i int, j int, s double"


def _partial_gram_kernel(it):
    """Per-Arrow-batch partial sufficient statistics for PCA: the upper
    triangle of Σ x·xᵀ as (i, j, s) rows, per-dimension sums as
    (i, -1, Σx_i), and the row count as (-1, -1, n). Each vector crosses
    into Python exactly once and each batch ships ≤ 64·65/2 + 65 rows
    regardless of batch size — the partial-aggregable Gram shape that
    tree-reduces on a cluster."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        if len(pdf) == 0:
            continue
        X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        d = X.shape[1]
        G = X.T @ X
        iu, ju = np.triu_indices(d)
        sums = X.sum(axis=0)
        yield pd.DataFrame(
            {
                "i": np.concatenate([iu, np.arange(d), [-1]]).astype("int32"),
                "j": np.concatenate([ju, np.full(d, -1), [-1]]).astype("int32"),
                "s": np.concatenate([G[iu, ju], sums, [float(len(pdf))]]),
            }
        )


@register(
    "embed_pca_top_component",
    oracle="""
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE embedding IS NOT NULL
),
mu AS (SELECT i, avg(x) AS m FROM ex GROUP BY i),
cov AS (
  SELECT a.i AS i, b.i AS j,
         avg(a.x * b.x) - ma.m * mb.m AS c
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id
  JOIN mu ma ON a.i = ma.i
  JOIN mu mb ON b.i = mb.i
  GROUP BY a.i, b.i, ma.m, mb.m
),
v0 AS (SELECT i, 0.125 AS v FROM mu),
w1 AS (SELECT c.i, sum(c.c * v0.v) AS w FROM cov c JOIN v0 ON c.j = v0.i GROUP BY c.i),
v1 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w1),
w2 AS (SELECT c.i, sum(c.c * v1.v) AS w FROM cov c JOIN v1 ON c.j = v1.i GROUP BY c.i),
v2 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w2),
w3 AS (SELECT c.i, sum(c.c * v2.v) AS w FROM cov c JOIN v2 ON c.j = v2.i GROUP BY c.i),
v3 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w3),
w4 AS (SELECT c.i, sum(c.c * v3.v) AS w FROM cov c JOIN v3 ON c.j = v3.i GROUP BY c.i),
v4 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w4),
w5 AS (SELECT c.i, sum(c.c * v4.v) AS w FROM cov c JOIN v4 ON c.j = v4.i GROUP BY c.i)
SELECT i AS dim,
       round(w / sqrt(sum(w * w) OVER ()), 6) AS loading,
       round(sqrt(sum(w * w) OVER ()), 6) AS eigenvalue
FROM w5
""",
)
def embed_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus: covariance
    via sufficient statistics, then five unrolled power iterations from
    the uniform start vector (1/8 per dim, ‖v₀‖=1 for d=64).

    Scale shape: the ONLY pass over the corpus is an Arrow mapInPandas
    kernel emitting per-batch partial Gram statistics (≤ 2145 rows per
    batch, independent of batch size) that a single groupBy(i, j)
    tree-reduces — never the 4096·n explode-self-join the SQL oracle
    spells (that is the semantic spec, quadratic in d·n and fine at
    oracle scale only). The reduced statistics are d²-bounded (2,145
    doubles regardless of corpus size — the same bounded-collect class
    as sim_ann_ivf's 16 centroids), so the 64×64 eigen-iteration runs
    driver-side in numpy: a first cut that expressed the five
    iterations as chained DataFrame joins paid ~50 tiny-stage
    schedulings (28 s at sf0.01 vs 1.5 s this way) to move 4-KB
    relations around. Power iteration from a positive start converges
    to the dominant eigenvector with deterministic sign; 6-dp rounding
    absorbs the engines' summation-order noise."""
    import numpy as np

    t = Tables(spark, sf_dir)
    # NULL embeddings have no geometry (oracle mirrors the exclusion);
    # np.stack over an Arrow batch containing None is a hard crash.
    partial = (
        t.embeddings.where(F.col("embedding").isNotNull())
        .select("embedding")
        .mapInPandas(_partial_gram_kernel, schema=_GRAM_SCHEMA)
    )
    stats = partial.groupBy("i", "j").agg(F.sum("s").alias("s"))
    rows = stats.collect()  # d*(d+1)/2 + d + 1 rows — dimension-bounded
    schema = "dim int, loading double, eigenvalue double"
    if not rows:  # empty corpus: no statistics, no component
        return spark.createDataFrame([], schema)
    d = max(r["i"] for r in rows) + 1
    S = np.zeros((d, d))
    sums = np.zeros(d)
    n = 0.0
    for r in rows:
        if r["i"] == -1:
            n = r["s"]
        elif r["j"] == -1:
            sums[r["i"]] = r["s"]
        else:
            S[r["i"], r["j"]] = r["s"]
            S[r["j"], r["i"]] = r["s"]
    mu = sums / n
    cov = S / n - np.outer(mu, mu)
    v = np.full(d, 0.125)
    for _ in range(5):
        w = cov @ v
        norm = float(np.sqrt((w * w).sum()))
        v = w / norm
    out = [(int(i), float(v[i]), float(norm)) for i in range(d)]
    # round via F.round (HALF_UP, the DuckDB round semantics) — Python's
    # built-in round is banker's and could diverge on exact .5e-6 ties
    return spark.createDataFrame(out, schema).select(
        "dim",
        F.round("loading", 6).alias("loading"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
    )


@register(
    "agg_hll_sketch_merge",
    oracle=None,  # output carries the HLL estimate, which no portable SQL
    # reproduces bit-for-bit; semantics pinned by
    # tests/test_edges.py::test_hll_merge_matches_whole_corpus_sketch
    # (merge-consistency) and the <2% relative-error bound asserted there.
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — THE distributed cardinality
    pattern at 100 TB: build one Apache DataSketches HLL per day
    (hll_sketch_agg), union the constant-size sketches (hll_union_agg),
    estimate once. No re-scan of history when a new day lands: union its
    sketch in. Output: per-corpus estimated vs exact distinct users and
    the relative error (exact derivable at test scale only — at target
    scale the exact pass is precisely what this operator exists to
    avoid). Rows-only by design (the estimate has no portable SQL twin);
    a unit test pins merge-consistency (daily-union ≡ whole-corpus
    sketch) and the error bound."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimated_users")
    )
    exact = t.events.agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        merged.crossJoin(F.broadcast(exact))
        .select(
            "estimated_users",
            "exact_users",
            F.round(
                F.abs(F.col("estimated_users") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ).alias("rel_err"),
        )
    )


# ===========================================================================
# wave module round5f (formerly operators/round5f.py)
# Round-5 sixth wave (SURVEY.md §2.Q, continued): ANSI error-safe
# arithmetic (try_*) and permissive malformed-CSV ingestion with corrupt-
# record capture.
# ===========================================================================

@register(
    "fn_try_safe_arith",
    oracle="""
SELECT doc_id,
       round(CAST(n_chars AS DOUBLE) / nullif(doc_id % 7, 0), 6)
         AS safe_div,
       TRY_CAST(lang AS INTEGER) AS lang_as_int,
       TRY_CAST(substring(text, 1, 3) AS INTEGER) AS prefix_as_int,
       CAST(n_chars AS DOUBLE) / nullif(doc_id % 7, 0) IS NULL
         AS div_was_unsafe
FROM documents
""",
)
def fn_try_safe_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe function family (§2.H completion): try_divide
    nulls out division-by-zero instead of raising under ANSI mode, and
    try_cast nulls unparseable strings — the semantics an ingest
    pipeline needs so one bad row degrades to NULL instead of failing a
    100 TB job. DuckDB twins: a/nullif(b,0) and TRY_CAST. Pure
    expression plan, no shuffle."""
    t = Tables(spark, sf_dir)
    div = F.try_divide(
        F.col("n_chars").cast("double"), (F.col("doc_id") % 7).cast("double")
    )
    return t.documents.select(
        "doc_id",
        F.round(div, 6).alias("safe_div"),
        F.col("lang").try_cast("int").alias("lang_as_int"),
        F.substring("text", 1, 3).try_cast("int").alias("prefix_as_int"),
        div.isNull().alias("div_was_unsafe"),
    )


@register(
    "scan_csv_malformed_permissive",
    oracle="""
SELECT count(*) AS n_rows,
       count(CASE WHEN doc_id % 17 = 0 THEN 1 END) AS n_corrupt,
       count(CASE WHEN doc_id % 17 <> 0 THEN 1 END) AS n_good,
       CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN n_chars END) AS BIGINT)
         AS good_chars
FROM documents
""",
)
def scan_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive CSV ingestion with corrupt-record capture: a CSV lake
    is written with every 17th row type-corrupted (its numeric column
    replaced by a word), then re-read under PERMISSIVE mode with an
    explicit schema + columnNameOfCorruptRecord — bad rows surface as
    NULL fields with the raw line preserved in the corrupt column
    instead of failing the scan. The dead-letter counts reconcile
    exactly with the corruption rule, which is what the oracle states.
    The r5 ingest-robustness check next to pipeline_dead_letter (which
    validates semantic rules; this one validates PARSE failures)."""
    out = op_tmpdir("csv_malformed_")
    d = Tables(spark, sf_dir).documents
    line = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat_ws(",", F.col("doc_id"), F.lit("notanumber")),
    ).otherwise(F.concat_ws(",", F.col("doc_id"), F.col("n_chars")))
    d.select(line.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.schema("doc_id long, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    corrupt = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(corrupt, 1)).alias("n_corrupt"),
        F.count(F.when(~corrupt, 1)).alias("n_good"),
        F.sum(F.when(~corrupt, F.col("n_chars"))).cast("bigint").alias(
            "good_chars"
        ),
    )


# ===========================================================================
# wave module round5g (formerly operators/round5g.py)
# Round-5 seventh wave (SURVEY.md §2.Q, continued): a cross-table
# referential-integrity audit with injected violations.
# ===========================================================================

_RI_OFFSET = 900_000_000


@register(
    "quality_referential_integrity",
    oracle=f"""
WITH bad_orders AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + {_RI_OFFSET}
              ELSE o_custkey END AS o_custkey
  FROM orders
),
bad_lineitem AS (
  SELECT l_orderkey,
         CASE WHEN (l_orderkey * 8 + l_linenumber) % 101 = 0
              THEN l_partkey + {_RI_OFFSET} ELSE l_partkey END AS l_partkey,
         CASE WHEN (l_orderkey * 8 + l_linenumber) % 103 = 0
              THEN l_suppkey + {_RI_OFFSET} ELSE l_suppkey END AS l_suppkey
  FROM lineitem
)
SELECT 'orders.custkey->customer' AS fk, count(*) AS n_rows,
       count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_orphans
FROM bad_orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'lineitem.partkey->part', count(*),
       count(CASE WHEN p_partkey IS NULL THEN 1 END)
FROM bad_lineitem LEFT JOIN part ON l_partkey = p_partkey
UNION ALL
SELECT 'lineitem.suppkey->supplier', count(*),
       count(CASE WHEN s_suppkey IS NULL THEN 1 END)
FROM bad_lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
""",
)
def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: orphan counts for three
    foreign keys, against a corpus with deterministically injected FK
    violations (every 97th order's custkey, every 101st/103rd line's
    part/supp key pushed out of range — the corpus itself is FK-clean,
    so an un-mutated audit proves nothing). Each check is one left join
    + conditional count; the dimension sides broadcast. The cross-table
    sibling of quality_constraints (single-table rules) and
    pipeline_reconcile_totals (value-level reconciliation)."""
    t = Tables(spark, sf_dir)
    bad_orders = t.orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + _RI_OFFSET
        )
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    lk = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    bad_lineitem = t.lineitem.select(
        "l_orderkey",
        F.when(lk % 101 == 0, F.col("l_partkey") + _RI_OFFSET)
        .otherwise(F.col("l_partkey"))
        .alias("l_partkey"),
        F.when(lk % 103 == 0, F.col("l_suppkey") + _RI_OFFSET)
        .otherwise(F.col("l_suppkey"))
        .alias("l_suppkey"),
    )

    def audit(name, child, child_key, dim, dim_key, dim_table):
        joined = child.join(
            broadcast_if_small(dim, sf_dir, dim_table),
            F.col(child_key) == F.col(dim_key),
            "left",
        )
        return joined.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col(dim_key).isNull(), 1)).alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    return (
        audit(
            "orders.custkey->customer",
            bad_orders,
            "o_custkey",
            t.customer.select("c_custkey"),
            "c_custkey",
                "customer",
        )
        .unionByName(
            audit(
                "lineitem.partkey->part",
                bad_lineitem,
                "l_partkey",
                t.part.select("p_partkey"),
                "p_partkey",
                "part",
            )
        )
        .unionByName(
            audit(
                "lineitem.suppkey->supplier",
                bad_lineitem,
                "l_suppkey",
                t.supplier.select("s_suppkey"),
                "s_suppkey",
                "supplier",
            )
        )
    )


# ===========================================================================
# wave module round5h (formerly operators/round5h.py)
# Round-5 eighth wave (SURVEY.md §2.Q, continued): discrete-vs-continuous
# percentile parity and a per-type ingestion freshness report.
# ===========================================================================

@register(
    "win_percentile_disc_vs_cont",
    oracle="""
SELECT l_returnflag, count(*) AS n,
       CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS p50_disc,
       CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS p50_cont,
       CAST(quantile_disc(l_quantity, 0.9) AS DOUBLE) AS p90_disc,
       CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE) AS p90_cont
FROM lineitem GROUP BY l_returnflag
""",
)
def win_percentile_disc_vs_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete vs continuous percentiles side by side (§2.D family
    completion): percentile_disc returns an actual data value (what a
    'p90 order actually looked like'), percentile_cont interpolates —
    the distinction that matters when the value is fed back into a
    filter. Quantity values carry ≤ 2 decimals and midpoints halve
    exactly in binary, so no rounding layer is needed for parity."""
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p50_disc"),
        F.expr(
            "percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p50_cont"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p90_disc"),
        F.expr(
            "percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p90_cont"),
    )


@register(
    "pipeline_watermark_lag_report",
    oracle="""
WITH per_type AS (
  SELECT event_type, max(ts) AS last_seen, count(*) AS n_events
  FROM events GROUP BY event_type
)
SELECT event_type, last_seen, n_events,
       CAST(floor((epoch(max(last_seen) OVER ()) - epoch(last_seen)) / 60)
            AS BIGINT) AS minutes_behind,
       floor((epoch(max(last_seen) OVER ()) - epoch(last_seen)) / 60) >= 60
         AS is_stale
FROM per_type
""",
)
def pipeline_watermark_lag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion freshness report: per event type, the last event seen
    and how many whole minutes it trails the freshest type — the
    watermark-lag table an ingest pipeline publishes so a stalled
    upstream (≥ 60 min behind) pages someone. Aggregate-first: the
    global anchor is a window over the types-sized relation; lag is
    integer minutes (floor of an epoch-second difference — exact
    arithmetic, no float parity surface)."""
    t = Tables(spark, sf_dir)
    per_type = t.events.groupBy("event_type").agg(
        F.max("ts").alias("last_seen"), F.count(F.lit(1)).alias("n_events")
    )
    anchor = F.max("last_seen").over(Window.partitionBy())
    behind = F.floor(
        (F.unix_timestamp(anchor) - F.unix_timestamp("last_seen")) / 60
    ).cast("bigint")
    return per_type.select(
        "event_type",
        "last_seen",
        "n_events",
        behind.alias("minutes_behind"),
        (behind >= 60).alias("is_stale"),
    )


def _range_search_oracle() -> str:
    from ai_dataingestion_spark.ai.similarity import _COSINE_PAIRS_SQL

    return f"""
WITH {_COSINE_PAIRS_SQL}
SELECT probe_id, neighbor_id, round(cos, 9) AS cos
FROM pairs WHERE round(cos, 9) >= 0.3
"""


@register("sim_cosine_range_search", oracle=_range_search_oracle())
def sim_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range similarity search: EVERY neighbor with cosine ≥ 0.3 of each
    probe — the epsilon-ball companion to sim_cosine_topk's kNN (a range
    query returns all sufficiently-similar items, however many; top-k
    returns k, however dissimilar — retrieval pipelines need both). Same
    one-Arrow-crossing matmul kernel and 9-dp parity rounding; the
    threshold filter replaces the rank window, so no per-probe sort at
    all — at scale this is strictly cheaper than top-k."""
    import numpy as np
    import pandas as pd

    from ai_dataingestion_spark.ai.similarity import _probe_matrix, _vectors

    e = _vectors(Tables(spark, sf_dir).embeddings)
    pids, Pn = _probe_matrix(spark, sf_dir)

    def score(batches):
        for pdf in batches:
            if not len(pdf) or not len(pids):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Bn = B / np.sqrt((B * B).sum(axis=1, keepdims=True))
            C = np.round(Bn @ Pn.T, 9)  # (n_batch, n_probes)
            ni, pi = np.nonzero(C >= 0.3)  # kernel-side threshold: only
            # qualifying pairs cross back out of the Python worker
            yield pd.DataFrame(
                {
                    "probe_id": np.asarray(pids)[pi],
                    "neighbor_id": pdf["vec_id"].to_numpy()[ni],
                    "cos": C[ni, pi],
                }
            )

    return (
        e.select("vec_id", "embedding")
        .mapInPandas(score, "probe_id bigint, neighbor_id bigint, cos double")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
    )


# ===========================================================================
# wave module round5i (formerly operators/round5i.py)
# Round-5 ninth wave (SURVEY.md §2.Q, continued): the string-formatting
# parity family.
# ===========================================================================


@register(
    "fn_string_format",
    oracle="""
SELECT p_partkey,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
       rpad(p_brand, 12, '.') AS brand_padded,
       translate(p_name, 'aeiou', 'AEIOU') AS name_devoweled,
       repeat(substring(p_name, 1, 2), 3) AS name_stutter,
       -- reverse is CODEPOINT-wise on the engine side but GRAPHEME-aware
       -- here: names carrying joiners/combining marks are out of the
       -- portable domain (NULL on both sides)
       CASE WHEN NOT regexp_matches(p_name,
                 '[' || chr(8203) || '-' || chr(8205) || chr(768) || '-'
                     || chr(879) || ']')
            THEN reverse(p_name) END AS name_reversed,
       printf('%s-%05d', p_brand, p_size) AS brand_size_code,
       concat_ws('|', p_brand, p_type, CAST(p_size AS VARCHAR)) AS packed
FROM part
""",
)
def fn_string_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting/padding family (§2.H completion): lpad/rpad,
    translate, repeat, reverse, printf-style format_string, and
    concat_ws — the fixed-width-key and display-formatting toolbox.
    Spark format_string and DuckDB printf share C printf semantics
    (verified for %s / %0Nd). Pure per-row expressions: zero shuffles,
    whole-stage codegen end to end."""
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias(
            "key_padded"
        ),
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_devoweled"),
        F.repeat(F.substring("p_name", 1, 2), 3).alias("name_stutter"),
        F.when(
            ~F.col("p_name").rlike(
                "[\u200b-\u200d\u0300-\u036f]"
            ),
            F.reverse("p_name"),
        ).alias("name_reversed"),
        # format_string renders a NULL arg as the text "null"; DuckDB's
        # printf NULL-propagates. The guard pins the SQL-idiomatic contract.
        F.when(
            F.col("p_brand").isNull() | F.col("p_size").isNull(),
            F.lit(None).cast("string"),
        )
        .otherwise(F.format_string("%s-%05d", "p_brand", "p_size"))
        .alias("brand_size_code"),
        F.concat_ws(
            "|", "p_brand", "p_type", F.col("p_size").cast("string")
        ).alias("packed"),
    )


# ===========================================================================
# wave module round5j (formerly operators/round5j.py)
# Round-5 tenth wave (SURVEY.md §2.Q, continued): a schema-evolution
# mergeSchema scan and a parquet compression-codec round-trip sink.
# ===========================================================================


@register(
    "scan_parquet_schema_merge",
    oracle="""
SELECT 'v1' AS src, count(*) AS n,
       CAST(count(*) AS BIGINT) AS n_null_acctbal,
       CAST(NULL AS DOUBLE) AS acctbal_sum
FROM customer WHERE c_custkey % 2 = 0
UNION ALL
-- v2 null count is the SOURCE's own null acctbals (not a pinned 0): the
-- evolved file carries the column, nullable like any other
SELECT 'v2', count(*), CAST(count(*) - count(c_acctbal) AS BIGINT),
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))), 2) AS DOUBLE)
FROM customer WHERE c_custkey % 2 = 1
""",
)
def scan_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution lake read: a v1 writer emitted (custkey, name)
    and a v2 writer later added acctbal — written to src=v1/ and src=v2/
    under one root. One mergeSchema parquet read reconstructs the union
    schema (src resolves as a partition column from the directory
    names); v1 rows surface NULL acctbal, exactly as a schema-evolved
    lake should, and the aggregate proves both the merged schema and the
    per-version null semantics. The acctbal sum runs in DECIMAL so the
    v2 checksum is order-independent. Complements schema_evolve (which
    evolves the DataFrame); this evolves the FILES."""
    c = Tables(spark, sf_dir).customer
    root = op_tmpdir("schema_merge_")
    v1 = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    v2 = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v1.write.mode("overwrite").parquet(f"{root}/src=v1")
    v2.write.mode("overwrite").parquet(f"{root}/src=v2")
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_acctbal"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(38,2)")), 2
        )
        .cast("double")
        .alias("acctbal_sum"),
    )


@register(
    "sink_parquet_codecs",
    oracle="""
SELECT 'gzip' AS codec, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
UNION ALL
SELECT 'snappy', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'zstd', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
""",
)
def sink_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec round-trip: the same relation written
    under snappy (the splittable default), gzip (cold storage), and zstd
    (the modern ratio/speed frontier — the lake default at 100 TB), each
    re-read and checksummed. Proves codec interop end to end; codec
    choice is a table-level storage policy an ingestion engine must
    support per sink."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_orderstatus")
    out = None
    for codec in ["gzip", "snappy", "zstd"]:
        path = op_tmpdir(f"sink_codec_{codec}_")
        o.write.mode("overwrite").option("compression", codec).parquet(path)
        back = (
            spark.read.schema("o_orderkey bigint, o_orderstatus string")
            .parquet(path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
            .select(F.lit(codec).alias("codec"), "n", "key_sum")
        )
        out = back if out is None else out.unionByName(back)
    return out


# ===========================================================================
# wave module round5k (formerly operators/round5k.py)
# Round-5 eleventh wave (SURVEY.md §2.Q, continued): JSONL schema
# inference and numeric RANGE window frames.
# ===========================================================================

@register(
    "scan_json_schema_infer",
    oracle="""
SELECT 'o_orderdate' AS col_name, 'timestamp' AS inferred_type
UNION ALL SELECT 'o_orderkey', 'bigint'
UNION ALL SELECT 'o_orderpriority', 'string'
UNION ALL SELECT 'o_totalprice', 'double'
""",
)
def scan_json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read inference for JSONL: a typed slice of orders is
    exported to JSON lines and re-read WITHOUT a declared schema — the
    reader must sample the files and infer (bigint, double, string,
    timestamp). The emitted relation is the inferred schema itself, so
    the oracle pins exactly what inference must produce; a regression
    to string-everything (the classic inference failure) or a type
    widening change breaks the hash. Inference is a sampling scan —
    the one scan an ingestion engine pays once per discovery, never per
    query."""
    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate"
    )
    out = op_tmpdir("scan_json_infer_")
    o.write.mode("overwrite").json(out)
    inferred = spark.read.option(
        "inferTimestamp", "true"
    ).json(out)
    rows = sorted(
        (f.name, f.dataType.simpleString()) for f in inferred.schema.fields
    )
    return spark.createDataFrame(
        rows, "col_name string, inferred_type string"
    )


@register(
    "win_range_numeric_frame",
    oracle="""
SELECT c_mktsegment, c_custkey, c_acctbal,
       CAST(count(*) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal
         RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_within_500_below,
       CAST(count(*) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal
         RANGE BETWEEN 250 PRECEDING AND 250 FOLLOWING) AS BIGINT)
         AS n_within_250_band
FROM customer
""",
)
def win_range_numeric_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE window frames (§2.E completion): peer-density
    queries — for each customer, how many same-segment customers sit
    within a VALUE band of their balance (not a row count, not a time
    interval) — the frame type behind local-density scoring and
    percentile-free outlier screens. RANGE frames are tie-deterministic
    (peer rows share a frame), so no unique tie-break column is needed
    for cross-engine parity, unlike every ROWS frame in §2.E."""
    c = Tables(spark, sf_dir).customer
    w1 = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(-500, Window.currentRow)
    )
    w2 = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(-250, 250)
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.count(F.lit(1)).over(w1).cast("bigint").alias("n_within_500_below"),
        F.count(F.lit(1)).over(w2).cast("bigint").alias("n_within_250_band"),
    )


# ===========================================================================
# wave module round5l (formerly operators/round5l.py)
# Round-5 twelfth wave (SURVEY.md §2.Q, continued): embedding
# label-confusion matrix and IANA timezone conversion parity.
# ===========================================================================

@register(
    "embed_label_confusion",
    oracle="""
WITH cent AS (
  SELECT label, list(c ORDER BY dim) AS cvec FROM (
    SELECT label, i AS dim, round(avg(x), 6) AS c FROM (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ) GROUP BY label, i
  ) GROUP BY label
),
dists AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS other_label,
         floor(list_sum(list_transform(e.embedding,
                 (x, i) -> (CAST(x AS DOUBLE) - c.cvec[i])
                           * (CAST(x AS DOUBLE) - c.cvec[i])))
               * 1000000 + 0.5) / 1000000 AS d2
  FROM embeddings e JOIN cent c ON e.label <> c.label
  WHERE e.embedding IS NOT NULL
    AND len(list_filter(e.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
nearest AS (
  SELECT vec_id, true_label, other_label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, other_label) AS rn
  FROM dists
)
SELECT true_label, other_label AS nearest_other_label, count(*) AS n
FROM nearest WHERE rn = 1
GROUP BY true_label, other_label
""",
)
def embed_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-confusion matrix for the embedding space: each vector is
    assigned the nearest OTHER label's centroid, and the (true label →
    nearest other label) counts expose which classes blur together —
    the prototype-based confusability screen run before spending on a
    classifier. Centroids are rounded to 6dp on BOTH sides before any
    distance (the rounded-before-compare rule), distances are
    left-to-right folds (Spark aggregate ≡ DuckDB list_sum — the
    similarity.py float discipline) rounded before the argmin with an
    other-label tiebreak. Scale shape: the labels-sized centroid
    relation broadcasts; distances are map-side n×(k−1); output is
    bounded by labels² at any corpus size. Runs over VALID vectors only
    (nan-tier contract, mirrored twice in the oracle — centroid build and
    scoring): one NaN component poisons a centroid AND makes the argmin
    rank NaN distances differently across engines."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.where(finite_vec("embedding"))
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s.getField("c"),
            ).alias("cvec")
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dists = (
        e.crossJoin(
            F.broadcast(
                cent.select(
                    F.col("label").alias("other_label"), "cvec"
                )
            )
        )
        .filter(F.col("label") != F.col("other_label"))
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            "other_label",
            pround(d2).alias("d2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "other_label")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_label", F.col("other_label").alias("nearest_other_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_TZ_ZONES = ["America/New_York", "Asia/Tokyo", "Europe/Berlin"]


@register(
    "fn_timezone_convert",
    oracle="""
WITH zoned AS (
  {}
)
SELECT zone, local_hour, count(*) AS n
FROM zoned GROUP BY zone, local_hour
""".format(
        "\n  UNION ALL\n  ".join(
            f"SELECT '{z}' AS zone, "
            f"hour((ts AT TIME ZONE 'UTC') AT TIME ZONE '{z}') AS local_hour "
            f"FROM events"
            for z in _TZ_ZONES
        )
    ),
)
def fn_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IANA timezone conversion parity (§2.H family completion): UTC
    event times rendered into three zones' local wall clocks, counted
    per local hour — the localization step every global analytics
    rollup needs, pinned so both engines agree on tzdata semantics
    (offset application, not just formatting). Spark from_utc_timestamp
    ≡ DuckDB (ts AT TIME ZONE 'UTC') AT TIME ZONE zone. Pure
    expressions before a 3×24-row aggregate."""
    e = Tables(spark, sf_dir).events
    out = None
    for z in _TZ_ZONES:
        part = e.select(
            F.lit(z).alias("zone"),
            F.hour(
                F.from_utc_timestamp(F.col("ts").cast("timestamp"), z)
            ).alias("local_hour"),
        )
        out = part if out is None else out.unionByName(part)
    return out.groupBy("zone", "local_hour").agg(
        F.count(F.lit(1)).alias("n")
    )


# ===========================================================================
# wave module round5m (formerly operators/round5m.py)
# Round-5 thirteenth wave (SURVEY.md §2.Q, continued): binary-payload
# exact dedup over the multimodal column.
# ===========================================================================


_PAYLOAD_PREFIX = 64
_REPLAY_OFFSET = 5_000_000


@register(
    "multimodal_payload_dedup",
    oracle=f"""
WITH assets AS (
  SELECT doc_id, substring(text, 1, {_PAYLOAD_PREFIX}) AS payload_str
  FROM documents
  UNION ALL
  SELECT doc_id + {_REPLAY_OFFSET}, substring(text, 1, {_PAYLOAD_PREFIX})
  FROM documents WHERE doc_id % 11 = 0
)
SELECT md5(payload_str) AS payload_md5,
       count(*) AS n_copies,
       min(doc_id) AS first_id,
       max(doc_id) AS last_id,
       CAST(octet_length(encode(payload_str)) AS BIGINT) AS payload_bytes
FROM assets
GROUP BY payload_str
HAVING count(*) >= 2
""",
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload column — the asset-level
    twin of dedup_exact for image/audio blobs, where byte-identical
    payloads recur under different asset ids (re-uploads, replayed
    ingest batches). Payloads are the deterministic UTF-8 stub bytes
    (multimodal.py's documented codec posture); a replayed batch is
    injected (every 11th asset re-enters under a shifted id) so the
    detector provably catches it. Spark hashes the BINARY column
    directly — md5(bytes) ≡ DuckDB md5(varchar) on UTF-8 — and groups
    by the digest: payload bytes never shuffle, only 16-byte hashes
    do. The grouping key at scale is the digest of a multi-MB blob —
    the only workable equality key for binary assets."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    replays = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + _REPLAY_OFFSET).alias("doc_id"), "text"
    )
    assets = d.unionByName(replays).select(
        "doc_id",
        F.encode(F.substring("text", 1, _PAYLOAD_PREFIX), "UTF-8").alias(
            "payload"
        ),
    )
    return (
        assets.groupBy(F.md5("payload").alias("payload_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
            F.max(F.octet_length("payload")).cast("bigint").alias(
                "payload_bytes"
            ),
        )
        .filter(F.col("n_copies") >= 2)
    )


# ===========================================================================
# wave module round5n (formerly operators/round5n.py)
# Round-5 fourteenth wave (SURVEY.md §2.Q, continued): Arrow-optimized
# Python UDF surface, write-mode semantics matrix, and a data-contract
# rule check.
# ===========================================================================

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
    "sink_write_modes",
    oracle="""
WITH n AS (SELECT count(*) AS c FROM orders WHERE o_orderkey % 10 = 0)
SELECT 'overwrite' AS step, c AS rows_after FROM n
UNION ALL SELECT 'append', 2 * c FROM n
UNION ALL SELECT 'ignore', 2 * c FROM n
UNION ALL SELECT 'error_caught', 1
""",
)
def sink_write_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-mode semantics matrix against one parquet target: overwrite
    establishes n rows, append doubles them, ignore against the existing
    target is a silent no-op (still 2n), and errorifexists raises — the
    four-mode contract every idempotent-ingestion design builds on
    (re-run safety = ignore or overwrite; at-least-once landing =
    append + downstream dedup). Each step re-reads and counts the
    target; the raised error is caught and reported as its own row."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_orderkey") % 10 == 0)
    target = op_tmpdir("sink_modes_")
    schema = "o_orderkey bigint, o_orderstatus string"
    slim = o.select("o_orderkey", "o_orderstatus")

    def count_target() -> int:
        return spark.read.schema(schema).parquet(target).count()

    rows = []
    slim.write.mode("overwrite").parquet(target)
    rows.append(("overwrite", count_target()))
    slim.write.mode("append").parquet(target)
    rows.append(("append", count_target()))
    slim.write.mode("ignore").parquet(target)
    rows.append(("ignore", count_target()))
    try:
        slim.write.mode("errorifexists").parquet(target)
        rows.append(("error_caught", 0))
    except Exception:
        rows.append(("error_caught", 1))
    return spark.createDataFrame(rows, "step string, rows_after bigint")


@register(
    "quality_schema_contract",
    oracle="""
SELECT 'orderkey_unique' AS rule,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
FROM orders
UNION ALL
SELECT 'orderkey_not_null',
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'status_in_domain',
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'totalprice_positive',
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orderdate_in_range',
       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                       OR o_orderdate >= TIMESTAMP '2010-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'priority_pattern',
       CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
""",
)
def quality_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract enforcement report: six declarative rules (key
    uniqueness, non-null key, enum domain, positivity, date range,
    format pattern) evaluated in ONE pass over orders — violations per
    rule, zero meaning the contract holds. This is the producer-side
    gate of a data-mesh handoff: the consumer pins the contract, the
    pipeline ships the report. Spark computes all six aggregates in a
    single scan and unpivots with stack() (the quality_null_blank_matrix
    idiom); the oracle spells the per-rule UNION ALL contract."""
    o = Tables(spark, sf_dir).orders
    agg = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("orderkey_unique"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orderkey_not_null"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("status_in_domain"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("totalprice_positive"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2010-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("orderdate_in_range"),
        F.sum(
            F.when(~F.col("o_orderpriority").rlike("^[1-5]-"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("priority_pattern"),
    )
    return agg.select(
        F.expr(
            "stack(6, "
            "'orderkey_unique', orderkey_unique, "
            "'orderkey_not_null', orderkey_not_null, "
            "'status_in_domain', status_in_domain, "
            "'totalprice_positive', totalprice_positive, "
            "'orderdate_in_range', orderdate_in_range, "
            "'priority_pattern', priority_pattern) AS (rule, violations)"
        )
    )


# ===========================================================================
# wave module round5o (formerly operators/round5o.py)
# Round-5 fifteenth wave (SURVEY.md §2.Q, continued): CSV quoting round-trip
# with embedded delimiters/newlines, running-distinct-count windows, and
# incremental batch dedup against an existing lake.
# ===========================================================================

@register(
    "sink_csv_quoted_roundtrip",
    oracle="""
WITH src AS (
  SELECT o_orderkey,
         o_orderstatus || ',"x' || chr(10) || o_orderpriority AS tricky
  FROM orders
)
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN contains(tricky, ',') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_comma,
       CAST(sum(CASE WHEN contains(tricky, chr(10)) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_newline,
       count(DISTINCT tricky) AS n_distinct_tricky,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM src
""",
)
def sink_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting torture round-trip: a field carrying an embedded
    delimiter, a double-quote, AND a newline is written to CSV with
    standard RFC-4180 quote doubling (escape='\"') and re-read with
    multiLine=true — the three classic CSV-corruption vectors in one
    value. The checksummed aggregate comes from the RE-READ relation,
    so any quoting/escaping asymmetry between writer and reader breaks
    row count, distinct count, or the key checksum against the oracle's
    file-free recomputation. multiLine honesty note: quoted-newline CSV
    is NOT splittable — at 100 TB this path is for moderate-size
    interchange files; columnar formats carry the bulk (scan/sink
    parquet ops)."""
    o = Tables(spark, sf_dir).orders
    tricky = F.concat(
        F.col("o_orderstatus"),
        F.lit(',"x\n'),
        F.col("o_orderpriority"),
    )
    src = o.select("o_orderkey", tricky.alias("tricky"))
    out = op_tmpdir("sink_csv_quoted_")
    (
        src.write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(out)
    )
    back = (
        spark.read.schema("o_orderkey bigint, tricky string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("tricky").contains(","), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_comma"),
        F.sum(F.when(F.col("tricky").contains("\n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_newline"),
        F.countDistinct("tricky").alias("n_distinct_tricky"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "win_running_distinct",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id,
       CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_distinct_types_so_far
FROM flagged
""",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over an ordered window — a frame Spark
    (and ANSI SQL) cannot express directly — via the first-occurrence
    decomposition: flag each (user, type)'s first event with a
    row_number, then running-sum the flags along the user's timeline.
    Feature-adoption breadth over time, in two windows whose second
    reuses the first's user_id hash partitioning (one extra sort, no
    extra shuffle). The pattern generalizes to any running-distinct
    metric at any scale; collect_set-based spellings ship growing
    arrays through the window and do not."""
    e = Tables(spark, sf_dir).events
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_run).cast("bigint").alias(
            "n_distinct_types_so_far"
        ),
    )


_RESUBMIT_OFFSET = 7_000_000


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH lake AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {_RESUBMIT_OFFSET}, text
  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 4 = 0
),
hashed AS (SELECT doc_id, md5(text) AS h FROM batch),
batch_deduped AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h,
           row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed)
  WHERE rn = 1
)
SELECT b.doc_id, b.h AS content_md5
FROM batch_deduped b
WHERE NOT EXISTS (SELECT 1 FROM lake l WHERE l.h = b.h)
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production shape where a new ingest batch
    is deduplicated against the already-accepted lake without
    re-deduplicating the lake itself: (1) dedup within the batch (keep
    the smallest id per digest), (2) anti-join the survivors against
    the lake's digest index. Resubmissions of lake content are injected
    (every 4th lake doc re-enters under a shifted id) and must all be
    rejected by stage 2. At 100 TB the lake side is exactly the digest
    column — 16 bytes/doc, the index a lakehouse keeps materialized —
    and both stages shuffle digests only; full text never moves."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    lake = d.filter(F.col("doc_id") % 3 != 0).select(
        F.md5("text").alias("h")
    )
    batch = d.filter(F.col("doc_id") % 3 == 0).unionByName(
        d.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 4 == 0))
        .select((F.col("doc_id") + _RESUBMIT_OFFSET).alias("doc_id"), "text")
    )
    hashed = batch.select("doc_id", F.md5("text").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    batch_deduped = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "h")
    )
    return batch_deduped.join(lake, "h", "left_anti").select(
        "doc_id", F.col("h").alias("content_md5")
    )


# ===========================================================================
# wave module round5p (formerly operators/round5p.py)
# Round-5 sixteenth wave (SURVEY.md §2.Q, continued): exactly-once
# batch ledger semantics, stable k-per-group sampling, and deterministic
# content-UUID minting.
# ===========================================================================

@register(
    "pipeline_idempotent_ledger",
    oracle="""
WITH feed AS (
  -- at-least-once delivery: batches 0-4 once, batches 1 and 3 replayed
  SELECT o_orderkey % 5 AS batch_id, o_orderkey, o_totalprice FROM orders
  UNION ALL
  SELECT o_orderkey % 5, o_orderkey, o_totalprice FROM orders
  WHERE o_orderkey % 5 IN (1, 3)
),
delivery AS (
  SELECT batch_id, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY batch_id, o_orderkey
                            ORDER BY o_orderkey) AS attempt
  FROM feed
),
applied AS (SELECT * FROM delivery WHERE attempt = 1)
SELECT batch_id,
       count(*) AS n_applied,
       CAST((SELECT count(*) FROM delivery d
             WHERE d.batch_id = a.batch_id AND d.attempt > 1) AS BIGINT)
         AS n_deduped_replays,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38, 2))), 2) AS DOUBLE)
         AS applied_total
FROM applied a
GROUP BY batch_id
""",
)
def pipeline_idempotent_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once semantics over an at-least-once feed: batches land
    once, two of them are replayed (the crash-retry reality of every
    delivery system), and the ledger — first-attempt-wins per
    (batch, key) — makes application idempotent: per-batch applied
    counts and totals must equal the single-delivery truth, with the
    replayed rows accounted as deduped. This is the keystone pipeline
    guarantee the write-mode matrix (sink_write_modes) builds toward:
    append-landing + ledger = effective exactly-once. One window over
    the delivery log keyed (batch, key); totals in DECIMAL."""
    o = Tables(spark, sf_dir).orders
    base = o.select(
        (F.col("o_orderkey") % 5).alias("batch_id"),
        "o_orderkey",
        "o_totalprice",
    )
    feed = base.unionByName(base.filter(F.col("batch_id").isin(1, 3)))
    w = Window.partitionBy("batch_id", "o_orderkey").orderBy("o_orderkey")
    delivery = feed.withColumn("attempt", F.row_number().over(w))
    applied = delivery.filter(F.col("attempt") == 1)
    replays = (
        delivery.filter(F.col("attempt") > 1)
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n_deduped_replays"))
    )
    return (
        applied.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_applied"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,2)")), 2
            )
            .cast("double")
            .alias("applied_total"),
        )
        .join(F.broadcast(replays), "batch_id", "left")
        .select(
            "batch_id",
            "n_applied",
            F.coalesce("n_deduped_replays", F.lit(0))
            .cast("bigint")
            .alias("n_deduped_replays"),
            "applied_total",
        )
    )


@register(
    "sample_k_per_group_stable",
    oracle="""
SELECT c_mktsegment, c_custkey, sample_rank FROM (
  SELECT c_mktsegment, c_custkey,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
         ) AS sample_rank
  FROM customer)
WHERE sample_rank <= 10
""",
)
def sample_k_per_group_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: exactly 10 customers per
    segment, chosen by ranking on the md5 of the key — uniform-ish,
    seedless, and STABLE under repartitioning, re-runs, and engine
    choice (rand()-based sampling is none of those; this is the
    debugging/eyeballing sample you can cite in a bug report and
    reproduce tomorrow). The per-group rank plans as WindowGroupLimit:
    each partition locally top-k's before the shuffle, so the full
    group never moves — the split_train_eval hash idiom applied to
    fixed-size sampling."""
    c = Tables(spark, sf_dir).customer
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 10)
    )


@register(
    "fn_content_uuid",
    oracle="""
SELECT doc_id,
       substring(md5(text), 1, 8) || '-' ||
       substring(md5(text), 9, 4) || '-' ||
       substring(md5(text), 13, 4) || '-' ||
       substring(md5(text), 17, 4) || '-' ||
       substring(md5(text), 21, 12) AS content_uuid
FROM documents
""",
)
def fn_content_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-derived UUID minting (the UUIDv3/v5 idea
    with the portable md5 digest): the same bytes always mint the same
    id, so re-ingestion is naturally idempotent and ids survive
    backfills — unlike uuid()/monotonically_increasing_id(), which are
    non-deterministic and unusable as content keys. Pure string
    slicing of the hex digest into 8-4-4-4-12; zero shuffles."""
    d = Tables(spark, sf_dir).documents
    h = F.md5("text")
    # F.concat, not concat_ws: concat_ws SKIPS null parts, minting the
    # empty string as a "uuid" for a NULL document — concat propagates
    # the NULL like the oracle's || chain (no content, no content key).
    uuid = F.concat(
        F.substring(h, 1, 8),
        F.lit("-"),
        F.substring(h, 9, 4),
        F.lit("-"),
        F.substring(h, 13, 4),
        F.lit("-"),
        F.substring(h, 17, 4),
        F.lit("-"),
        F.substring(h, 21, 12),
    )
    return d.select("doc_id", uuid.alias("content_uuid"))


# ===========================================================================
# wave module round5q (formerly operators/round5q.py)
# Round-5 seventeenth wave (SURVEY.md §2.Q, continued): co-purchase
# graph triangle census, whole-file text ingestion, and a
# top-k-per-group strategy-equivalence proof.
# ===========================================================================

@register(
    "graph_copurchase_triangles",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
tri AS (
  SELECT count(*) AS n_tri
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT n_tri FROM tri) AS n_triangles,
       floor(3.0 * (SELECT n_tri FROM tri)
             / (SELECT CAST(sum(d * (d - 1) / 2) AS DOUBLE) FROM deg)
             * 1000000 + 0.5) / 1000000 AS global_clustering
""",
)
def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph — the distributed-graph
    kernel (triangle counting / global clustering coefficient) expressed
    as pure relational ops: edges are part pairs co-occurring in ≥2
    orders (oriented u < v so each triangle is found exactly once), and
    triangles come from the two-hop edge join e(u,v)⋈e(v,w)⋈e(u,w) —
    the standard all-edges/compact-forward algorithm whose join fan-out
    is Σ deg², bounded here by the basket-bounded co-purchase degrees.
    Global clustering = 3·triangles / wedges with exact integer wedge
    counts and one portable-rounded division. High clustering signals
    bundle-like demand; the same kernel over a near-dup candidate graph
    detects template families."""
    t = Tables(spark, sf_dir)
    # Optimization r16 (guide §2.4): per-order part pairs come from
    # scale.basket_pair_explode — one partial-aggregable basket groupBy +
    # JVM-side combination generator — instead of the first draft's
    # distinct + corpus×corpus self-equi-join (a distinct exchange plus
    # two join exchanges for the identical pair multiset).
    from ai_dataingestion_spark.scale import basket_pair_explode

    edges = (
        basket_pair_explode(
            t.lineitem.select("l_orderkey", "l_partkey"),
            "l_orderkey", "l_partkey", out=("u", "v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
        .transform(op_cache)  # edges feed degree, wedge, and all three triangle sides
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = edges.select(F.col("u").alias("a1"), F.col("v").alias("b1"))
    e2 = edges.select(F.col("u").alias("b1"), F.col("v").alias("c1"))
    e3 = edges.select(F.col("u").alias("a1"), F.col("v").alias("c1"))
    tri = (
        e1.join(e2, "b1")
        .join(e3, ["a1", "c1"])
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_tri").alias("n_triangles"),
            pround(
                3.0 * F.col("n_tri") / F.col("n_wedges").cast("double")
            ).alias("global_clustering"),
        )
    )


@register(
    "scan_text_wholefile",
    oracle="""
WITH content AS (
  -- r_name IS NOT NULL (explicit; string_agg would skip it anyway): a
  -- NULL has no line representation in the text format
  SELECT string_agg(r_name, chr(10) ORDER BY r_name) || chr(10) AS body
  FROM region WHERE r_name IS NOT NULL
)
SELECT 1 AS n_files,
       CAST(length(body) AS BIGINT) AS content_chars,
       md5(body) AS content_md5
FROM content
""",
)
def scan_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingestion (`wholetext=true`): each FILE becomes
    one row — the scan mode for document formats where line splitting
    destroys the record (a contract per file, a log dump per file).
    One sorted single-partition text export (sortWithinPartitions makes
    the file bytes deterministic), re-read as a whole file and
    checksummed against the oracle's reconstruction of the exact byte
    stream (ordered lines + trailing newline). The non-splittability is
    the point: one file = one task, so at scale this pairs with
    many-small-files layouts, never one giant blob."""
    r = Tables(spark, sf_dir).region.where(F.col("r_name").isNotNull())
    out = op_tmpdir("scan_wholefile_")
    (
        r.select("r_name")
        .coalesce(1)
        .sortWithinPartitions("r_name")
        .write.mode("overwrite")
        .text(out)
    )
    # NB: wholetext must be the text() PARAMETER — the .option() spelling
    # is silently ignored by this reader and degrades to line mode
    whole = spark.read.text(out, wholetext=True)
    return whole.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length("value")).cast("bigint").alias("content_chars"),
        F.max(F.md5("value")).alias("content_md5"),
    )


@register(
    "topk_per_group_strategies",
    oracle="""
WITH rev AS (
  SELECT p_brand, l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS r
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_partkey
),
ranked AS (
  SELECT p_brand, l_partkey, r,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY r DESC, l_partkey) AS rn
  FROM rev
)
SELECT p_brand, l_partkey,
       CAST(r AS DOUBLE) AS revenue, rn,
       0 AS strategies_disagree
FROM ranked WHERE rn <= 3
""",
)
def topk_per_group_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand computed by TWO physical strategies and
    proven equivalent in-plan: (A) the window row_number over the
    aggregated (brand, part) revenue — plans WindowGroupLimit, the
    general answer — and (B) the aggregation spelling
    slice(array_sort(collect_list(struct(-r, partkey))), 1, 3), which
    is PARTIAL-AGGREGABLE: each map task keeps only its local struct
    list, so for small k over huge groups it ships k·tasks rows where
    the window ships the whole group into a sort. The emitted column
    strategies_disagree is the size of the symmetric difference
    between A and B — the oracle pins it to 0, so the equivalence is
    hash-checked every round, not just claimed. DECIMAL revenue makes
    the ranking tie-exact; partkey breaks residual ties."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("r")
        )
        .transform(op_cache)  # feeds both strategies
    )
    # strategy A: window
    w = Window.partitionBy("p_brand").orderBy(F.desc("r"), F.asc("l_partkey"))
    a = (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "l_partkey", "r", "rn")
    )
    # strategy B: partial-aggregable sorted-struct slice
    b = (
        rev.groupBy("p_brand")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("r")).alias("nr"), "l_partkey"))
                ),
                1,
                3,
            ).alias("top")
        )
        .select("p_brand", F.posexplode("top").alias("pos0", "s"))
        .select(
            "p_brand",
            F.col("s.l_partkey").alias("l_partkey"),
            (-F.col("s.nr")).alias("r"),
            (F.col("pos0") + 1).alias("rn"),
        )
    )
    disagree = a.select("p_brand", "l_partkey", "rn").exceptAll(
        b.select("p_brand", "l_partkey", "rn")
    ).unionAll(
        b.select("p_brand", "l_partkey", "rn").exceptAll(
            a.select("p_brand", "l_partkey", "rn")
        )
    ).agg(F.count(F.lit(1)).alias("n_diff"))
    return a.crossJoin(F.broadcast(disagree)).select(
        "p_brand",
        "l_partkey",
        F.col("r").cast("double").alias("revenue"),
        "rn",
        F.col("n_diff").cast("int").alias("strategies_disagree"),
    )


# ===========================================================================
# wave module round5r (formerly operators/round5r.py)
# Round-5 eighteenth wave (SURVEY.md §2.Q, continued): a small-files
# compaction planner.
# ===========================================================================

_TARGET_FILE_BYTES = 4 * 1024 * 1024  # 4 MiB scratch-scale stand-in


@register(
    "pipeline_compaction_planner",
    oracle=f"""
WITH sized AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         -- serialized-width proxy: fixed numeric widths + string bytes
         8 + 8 + 8 + octet_length(encode(o_orderstatus))
           + octet_length(encode(o_orderpriority)) AS row_bytes
  FROM orders
)
SELECT day,
       count(*) AS n_rows,
       CAST(sum(row_bytes) AS BIGINT) AS est_bytes,
       CAST(greatest(1, ceil(CAST(sum(row_bytes) AS DOUBLE)
                             / {_TARGET_FILE_BYTES})) AS BIGINT)
         AS planned_files
FROM sized GROUP BY day
""",
)
def pipeline_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: per day-partition, estimate the
    serialized byte weight (fixed numeric widths + measured string
    bytes) and emit the target file count ceil(bytes/target) — the
    work-list a nightly OPTIMIZE/compaction job executes, and the
    repartition(n) argument pipeline_compact_latest would consume. The
    byte model is a proxy (parquet encodes/compresses), but it is the
    SAME deterministic proxy in both engines, and proxy-driven planning
    is exactly how real compactors size output without a dry-run write.
    One partial-aggregable pass; output is days-sized."""
    o = Tables(spark, sf_dir).orders
    row_bytes = (
        F.lit(8 + 8 + 8)
        + F.octet_length(F.encode("o_orderstatus", "UTF-8"))
        + F.octet_length(F.encode("o_orderpriority", "UTF-8"))
    )
    sized = o.select(
        F.date_trunc("day", "o_orderdate").alias("day"),
        row_bytes.alias("row_bytes"),
    )
    return sized.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("row_bytes").cast("bigint").alias("est_bytes"),
        F.greatest(
            F.lit(1),
            F.ceil(
                F.sum("row_bytes").cast("double") / _TARGET_FILE_BYTES
            ),
        )
        .cast("bigint")
        .alias("planned_files"),
    )


# ===========================================================================
# wave module round5s (formerly operators/round5s.py)
# Round-5 nineteenth wave (SURVEY.md §2.Q, continued): array set
# operations, binaryFile ingestion, ISO week/year calendar parity, and
# an equi-depth (quantile-binned) histogram.
# ===========================================================================

@register(
    "fn_array_set_ops",
    oracle=f"""
WITH halves AS (
  SELECT doc_id,
         list_slice({tokens_sql()}, 1,
                    len({tokens_sql()}) // 2) AS a,
         list_slice({tokens_sql()},
                    len({tokens_sql()}) // 2 + 1,
                    len({tokens_sql()})) AS b
  FROM documents
)
SELECT doc_id,
       len(list_distinct(list_concat(a, b)))                  AS n_union,
       len(list_distinct(list_filter(a,
             x -> list_contains(b, x))))                      AS n_intersect,
       len(list_distinct(list_filter(a,
             x -> NOT list_contains(b, x))))                  AS n_a_only,
       coalesce(len(list_filter(a, x -> list_contains(b, x))) > 0,
                false)                                          AS overlaps,
       CAST(coalesce(list_position(a, 'data'), 0) AS BIGINT)  AS pos_data
FROM halves
""",
)
def fn_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array SET operations (§2.H array-family completion): union /
    intersect / difference cardinalities, overlap test, and first-
    position lookup between the two token halves of each document —
    the building blocks under every shingle/containment operator,
    pinned here directly. Spark's dedicated builtins (array_union,
    array_intersect, array_except, arrays_overlap, array_position) ≡
    DuckDB's list_distinct/list_filter/list_contains spellings;
    outputs are scalar cardinalities, so no array ordering ever
    crosses the compare harness."""
    d = Tables(spark, sf_dir).documents.withColumn("toks", tokens())
    half = (F.size("toks") / 2).cast("int")
    halved = d.select(
        "doc_id",
        F.slice("toks", 1, half).alias("a"),
        F.expr("slice(toks, int(size(toks) / 2) + 1, size(toks))").alias("b"),
    )
    return halved.select(
        "doc_id",
        F.size(F.array_union("a", "b")).cast("bigint").alias("n_union"),
        F.size(F.array_intersect("a", "b")).cast("bigint").alias("n_intersect"),
        F.size(F.array_except("a", "b")).cast("bigint").alias("n_a_only"),
        # coalesce(false): a NULL token list overlaps nothing (and a NULL
        # boolean crosses the compare harness asymmetrically)
        F.coalesce(F.arrays_overlap("a", "b"), F.lit(False)).alias("overlaps"),
        F.coalesce(F.array_position("a", "data"), F.lit(0))
        .cast("bigint")
        .alias("pos_data"),
    )


@register(
    "scan_binary_files",
    oracle="""
WITH payloads AS (
  -- r_name IS NOT NULL: an asset without a name cannot be staged as a
  -- file (and || NULL would null the body on this side only)
  SELECT r_name, 'ASSET:' || r_name || ':' || CAST(r_regionkey AS VARCHAR)
           AS body
  FROM region WHERE r_name IS NOT NULL
)
SELECT count(*) AS n_files,
       CAST(sum(octet_length(encode(body))) AS BIGINT) AS total_bytes,
       md5(string_agg(md5(body), '|' ORDER BY md5(body))) AS digest_of_digests
FROM payloads
""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile ingestion — the REAL entry point for multimodal
    assets: each file lands as (path, modificationTime, length,
    content: binary) with no decoding. Five deterministic payload
    files are staged and read back through the binaryFile source; the
    comparison covers file count, total byte length, and an
    order-canonicalized digest-of-digests over the CONTENT bytes —
    path and mtime (host-dependent) are deliberately excluded from the
    compared schema. Pairs with multimodal_payload_dedup (dedup after
    this ingest) and the mapInPandas featurizers (decode after this
    ingest)."""
    r = (
        Tables(spark, sf_dir)
        .region.where(F.col("r_name").isNotNull())  # oracle mirrors
        .select("r_name", "r_regionkey")
        .collect()
    )
    out = op_tmpdir("scan_binary_")
    for row in r:  # 5 rows — bounded driver-side staging
        body = f"ASSET:{row['r_name']}:{row['r_regionkey']}".encode()
        with open(os.path.join(out, f"{row['r_name']}.bin"), "wb") as f:
            f.write(body)
    files = spark.read.format("binaryFile").load(out)
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.octet_length("content")).cast("bigint").alias("total_bytes"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.md5("content"))), "|")
        ).alias("digest_of_digests"),
    )


@register(
    "fn_iso_week_parity",
    oracle="""
WITH tagged AS (
  SELECT year(CAST(o_orderdate AS DATE)
              + CAST(4 - isodow(o_orderdate) AS INT)) AS iso_year,
         weekofyear(o_orderdate) AS iso_week
  FROM orders
)
SELECT iso_year, iso_week, count(*) AS n
FROM tagged GROUP BY iso_year, iso_week
""",
)
def fn_iso_week_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 week/year calendar parity: orders counted per
    (iso_year, iso_week), where the ISO YEAR is derived explicitly as
    year(date + (4 − isodow) days) — the Thursday rule — because
    Jan 1/Dec 31 belong to the NEIGHBORING iso year whenever the week
    straddles the boundary (this corpus spans 1995-2001, so those edge
    weeks are exercised for real). Calling year() next to weekofyear()
    is the classic silently-wrong weekly rollup; this operator pins
    the correct derivation in both engines (Spark weekday()+1 ≡ DuckDB
    isodow)."""
    o = Tables(spark, sf_dir).orders
    d = F.to_date("o_orderdate")
    isodow = F.weekday(d) + 1
    iso_year = F.year(F.date_add(d, (F.lit(4) - isodow)))
    return (
        o.select(
            iso_year.alias("iso_year"),
            F.weekofyear(d).alias("iso_week"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_equidepth_histogram",
    oracle="""
WITH cuts AS (
  SELECT CAST(quantile_cont(c_acctbal, 0.1) AS DOUBLE) AS q1,
         CAST(quantile_cont(c_acctbal, 0.2) AS DOUBLE) AS q2,
         CAST(quantile_cont(c_acctbal, 0.3) AS DOUBLE) AS q3,
         CAST(quantile_cont(c_acctbal, 0.4) AS DOUBLE) AS q4,
         CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE) AS q5,
         CAST(quantile_cont(c_acctbal, 0.6) AS DOUBLE) AS q6,
         CAST(quantile_cont(c_acctbal, 0.7) AS DOUBLE) AS q7,
         CAST(quantile_cont(c_acctbal, 0.8) AS DOUBLE) AS q8,
         CAST(quantile_cont(c_acctbal, 0.9) AS DOUBLE) AS q9
  FROM customer
)
SELECT bin, count(*) AS n FROM (
  SELECT CAST(
           (CASE WHEN c_acctbal > q1 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q2 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q3 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q4 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q5 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q6 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q7 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q8 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q9 THEN 1 ELSE 0 END) AS BIGINT) AS bin
  FROM customer CROSS JOIN cuts
) GROUP BY bin
""",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: bin edges are the deciles of the data
    itself, so every bin holds ~10% of rows — the histogram query
    optimizers and drift monitors actually keep (equi-width bins, as
    in agg_histogram_bins, starve on skewed data; equi-depth adapts).
    The 9 decile cuts are one broadcast row; each value's bin is the
    count of cuts it exceeds — pure comparisons against bit-identical
    interpolated quantiles, no division, no rounding surface. Two
    passes: quantiles, then classify+count."""
    c = Tables(spark, sf_dir).customer
    cuts = c.agg(
        *[
            F.expr(
                f"percentile_cont({q / 10}) WITHIN GROUP (ORDER BY c_acctbal)"
            ).alias(f"q{q}")
            for q in range(1, 10)
        ]
    )
    bin_expr = sum(
        F.when(F.col("c_acctbal") > F.col(f"q{q}"), 1).otherwise(0)
        for q in range(1, 10)
    ).cast("bigint")
    return (
        c.crossJoin(F.broadcast(cuts))
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# wave module round5t (formerly operators/round5t.py)
# Round-5 twentieth wave (SURVEY.md §2.Q, continued): empty-relation
# aggregate semantics and the default-window-frame ties pin.
# ===========================================================================

@register(
    "agg_empty_relation_semantics",
    oracle="""
WITH empty AS (SELECT * FROM orders WHERE o_orderkey < 0)
SELECT
  (SELECT count(*) FROM empty) AS count_star,
  (SELECT count(o_totalprice) FROM empty) AS count_col,
  CAST((SELECT sum(o_totalprice) FROM empty) IS NULL AS INT) AS sum_is_null,
  CAST((SELECT min(o_orderdate) FROM empty) IS NULL AS INT) AS min_is_null,
  CAST((SELECT avg(o_totalprice) FROM empty) IS NULL AS INT) AS avg_is_null,
  (SELECT count(*) FROM (SELECT o_orderstatus, count(*) AS c
                         FROM empty GROUP BY o_orderstatus))
    AS grouped_rows
""",
)
def agg_empty_relation_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregate semantics over the EMPTY relation, pinned: global
    count(*) returns 0 (a row, not nothing), sum/min/avg return NULL
    (not 0 — the bug every naive "default 0" rewrite introduces), and
    a GROUP BY over empty input yields ZERO rows (no null-group row) —
    the asymmetry between global and grouped aggregation that ANSI
    mandates and downstream coalesce logic must respect. One
    impossible-predicate scan (pruned to nothing at planning time);
    every check lands in a single comparison row."""
    o = Tables(spark, sf_dir).orders
    empty = o.filter(F.col("o_orderkey") < 0)
    glob = empty.agg(
        F.count(F.lit(1)).alias("count_star"),
        F.count("o_totalprice").alias("count_col"),
        F.sum("o_totalprice").isNull().cast("int").alias("sum_is_null"),
        F.min("o_orderdate").isNull().cast("int").alias("min_is_null"),
        F.avg("o_totalprice").isNull().cast("int").alias("avg_is_null"),
    )
    grouped = (
        empty.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.count(F.lit(1)).alias("grouped_rows"))
    )
    return glob.crossJoin(F.broadcast(grouped))


@register(
    "win_default_frame_ties",
    oracle="""
SELECT c_mktsegment, c_custkey,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))) OVER (
              PARTITION BY c_mktsegment
              ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT)), 2)
            AS DOUBLE) AS running_default_frame,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))) OVER (
              PARTITION BY c_mktsegment
              ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT), c_custkey
              ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
         AS running_rows_tiebroken,
       CAST(count(*) OVER (
              PARTITION BY c_mktsegment,
                           CAST(floor(c_acctbal / 1000) AS BIGINT))
            AS BIGINT) AS n_peers
FROM customer
""",
)
def win_default_frame_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default-window-frame ties pin (§2.E semantics completion):
    with ORDER BY on a non-unique band, the ANSI default frame is
    RANGE UNBOUNDED PRECEDING..CURRENT ROW — all PEERS of the current
    row are included at once, so the running sum jumps by whole tied
    groups — while the ROWS spelling with a unique tiebreak advances
    row by row. Both are emitted side by side (they differ exactly
    where n_peers > 1), pinning the classic silent running-total bug
    in both engines. DECIMAL sums keep every value exact; ties are
    engineered via the coarse floor(bal/1000) band."""
    c = Tables(spark, sf_dir).customer
    band = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    dec = F.col("c_acctbal").cast("decimal(38,2)")
    # asc_nulls_last: NULL band (NULL acctbal) must sit at the partition
    # END as in the oracle engine, so its RANGE frame spans the whole
    # partition rather than opening it with a NULL-sum prefix
    w_default = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("band")
    )
    w_rows = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.asc_nulls_last("band"), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_peers = Window.partitionBy("c_mktsegment", "band")
    return c.withColumn("band", band).select(
        "c_mktsegment",
        "c_custkey",
        "band",
        F.round(F.sum(dec).over(w_default), 2)
        .cast("double")
        .alias("running_default_frame"),
        F.round(F.sum(dec).over(w_rows), 2)
        .cast("double")
        .alias("running_rows_tiebroken"),
        F.count(F.lit(1)).over(w_peers).cast("bigint").alias("n_peers"),
    )


# ===========================================================================
# wave module round5u (formerly operators/round5u.py)
# Round-5 twenty-first wave (SURVEY.md §2.Q, continued): inverted-index
# boolean search and doc⇄embedding coverage audit.
# ===========================================================================


@register(
    "search_inverted_index_and_query",
    oracle=f"""
WITH idx AS (
  SELECT DISTINCT doc_id, unnest({tokens_sql()}) AS term
  FROM documents
)
SELECT 'hash AND join' AS query, count(*) AS n_matches,
       min(a.doc_id) AS first_doc, max(a.doc_id) AS last_doc
FROM idx a JOIN idx b ON a.doc_id = b.doc_id
WHERE a.term = 'hash' AND b.term = 'join'
UNION ALL
SELECT 'filter AND merge', count(*), min(a.doc_id), max(a.doc_id)
FROM idx a JOIN idx b ON a.doc_id = b.doc_id
WHERE a.term = 'filter' AND b.term = 'merge'
UNION ALL
SELECT 'scan AND NOT batch', count(*), min(a.doc_id), max(a.doc_id)
FROM idx a
WHERE a.term = 'scan'
  AND NOT EXISTS (SELECT 1 FROM idx b
                  WHERE b.doc_id = a.doc_id AND b.term = 'batch')
""",
)
def search_inverted_index_and_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inverted-index boolean retrieval: the postings relation
    (term → doc) built once, then three query shapes answered from it —
    conjunction (postings self-join on doc), and negation (anti join) —
    the boolean-search core of every lexical engine, and the same
    candidate-generation shape the rare-shingle dedup index uses.
    Postings are distinct (term, doc) pairs; each query touches only
    its terms' postings lists. The index is cached across the three
    queries."""
    d = Tables(spark, sf_dir).documents
    idx = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .distinct()
        .transform(op_cache)
    )

    def postings(term: str) -> DataFrame:
        return idx.filter(F.col("term") == term).select("doc_id")

    def q_and(name: str, t1: str, t2: str) -> DataFrame:
        m = postings(t1).join(postings(t2), "doc_id")
        return m.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        ).select(F.lit(name).alias("query"), "n_matches", "first_doc", "last_doc")

    def q_and_not(name: str, t1: str, t2: str) -> DataFrame:
        m = postings(t1).join(postings(t2), "doc_id", "left_anti")
        return m.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        ).select(F.lit(name).alias("query"), "n_matches", "first_doc", "last_doc")

    return (
        q_and("hash AND join", "hash", "join")
        .unionByName(q_and("filter AND merge", "filter", "merge"))
        .unionByName(q_and_not("scan AND NOT batch", "scan", "batch"))
    )


@register(
    "multimodal_coverage_audit",
    oracle="""
WITH avail AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0)
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM avail) AS n_vectors,
  (SELECT count(*) FROM documents d
   WHERE NOT EXISTS (SELECT 1 FROM avail a WHERE a.vec_id = d.doc_id))
    AS docs_missing_vector,
  (SELECT count(*) FROM avail a
   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = a.vec_id))
    AS dangling_vectors,
  floor((SELECT CAST(count(*) AS DOUBLE) FROM documents d
         WHERE EXISTS (SELECT 1 FROM avail a WHERE a.vec_id = d.doc_id))
        / (SELECT count(*) FROM documents) * 1000000 + 0.5) / 1000000
    AS coverage_ratio
""",
)
def multimodal_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal referential coverage: how many documents lack an
    embedding, how many embeddings dangle without a document, and the
    coverage ratio — the audit run before any multimodal join is
    trusted (a silent inner join would just drop the uncovered rows).
    The corpus ships with PERFECT 1:1 coverage [measured], so gaps are
    injected (vectors with vec_id % 7 = 0 withheld — the simulated
    failed-embedding-job slice) to keep the audit non-degenerate. Two
    anti-join counts + one semi count over key-only projections."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id")
    avail = t.embeddings.filter(F.col("vec_id") % 7 != 0).select("vec_id")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_vec = avail.agg(F.count(F.lit(1)).alias("n_vectors"))
    missing = docs.join(
        avail, docs.doc_id == avail.vec_id, "left_anti"
    ).agg(F.count(F.lit(1)).alias("docs_missing_vector"))
    dangling = avail.join(
        docs, docs.doc_id == avail.vec_id, "left_anti"
    ).agg(F.count(F.lit(1)).alias("dangling_vectors"))
    covered = docs.join(
        avail, docs.doc_id == avail.vec_id, "left_semi"
    ).agg(F.count(F.lit(1)).cast("double").alias("n_cov"))
    return (
        n_docs.crossJoin(F.broadcast(n_vec))
        .crossJoin(F.broadcast(missing))
        .crossJoin(F.broadcast(dangling))
        .crossJoin(F.broadcast(covered))
        .select(
            "n_docs",
            "n_vectors",
            "docs_missing_vector",
            "dangling_vectors",
            pround(F.col("n_cov") / F.col("n_docs")).alias(
                "coverage_ratio"
            ),
        )
    )


# ===========================================================================
# wave module round5v (formerly operators/round5v.py)
# Round-5 twenty-second wave (SURVEY.md §2.Q, continued):
# maximal-marginal-relevance diversified selection and a
# partition-invariance determinism proof.
# ===========================================================================


_MMR_LAMBDA = 0.7
_MMR_K = 4

_DUCK_COS = (
    "floor((list_sum(list_transform({a}, (x, i) -> CAST(x AS DOUBLE)"
    " * CAST({b}[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)"
    " * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE)"
    " * CAST(x AS DOUBLE)))))) * 1000000000 + 0.5) / 1000000000"
)


def _mmr_oracle() -> str:
    """Unrolled k-step MMR selection as chained CTEs (the kmeans
    unrolled-oracle precedent). Every stage reads the `emb` CTE — the
    valid-vector quarantine (nan-tier contract, the engine side's
    finite_vec): a NaN component would poison the greedy chain's very
    first argmax and every penalty after it."""
    cos_qd = _DUCK_COS.format(a="q.embedding", b="e.embedding")
    parts = [
        f"""
emb AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
qv AS (SELECT embedding FROM emb
       WHERE vec_id = (SELECT min(vec_id) FROM emb)),
scored AS (
  SELECT e.vec_id, {cos_qd} AS sim
  FROM emb e CROSS JOIN qv q
  WHERE e.vec_id <> (SELECT min(vec_id) FROM emb)
),
sel1 AS (SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 1)
"""
    ]
    prev_sel = "sel1"
    sel_union = "SELECT vec_id FROM sel1"
    for step in range(2, _MMR_K + 1):
        cos_ds = _DUCK_COS.format(a="d.embedding", b="s.embedding")
        parts.append(
            f"""
pen{step} AS (
  SELECT d.vec_id, max({cos_ds}) AS max_sel_sim
  FROM emb d
  JOIN emb s ON s.vec_id IN ({sel_union})
  WHERE d.vec_id NOT IN ({sel_union})
    AND d.vec_id <> (SELECT min(vec_id) FROM emb)
  GROUP BY d.vec_id
),
sel{step} AS (
  SELECT sc.vec_id, sc.sim
  FROM scored sc JOIN pen{step} p ON sc.vec_id = p.vec_id
  ORDER BY {_MMR_LAMBDA} * sc.sim - {1 - _MMR_LAMBDA} * p.max_sel_sim DESC,
           sc.vec_id
  LIMIT 1
)"""
        )
        sel_union += f" UNION ALL SELECT vec_id FROM sel{step}"
        prev_sel = f"sel{step}"
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS pick_order, vec_id, sim FROM sel{i + 1}"
        for i in range(_MMR_K)
    )
    return "WITH " + ",".join(parts) + "\n" + selects


@register("embed_mmr_select", oracle=_mmr_oracle())
def embed_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell-Goldstein 1998) diversified
    top-k: greedily pick the candidate maximizing
    λ·sim(query, d) − (1−λ)·max_sim(d, already-selected) — the
    diversification step RAG retrieval runs after ANN so the k passages
    aren't five copies of the same paragraph. λ=0.7, k=4, query = the
    lowest-id vector. The greedy loop is inherently sequential, so each
    of the k−1 penalty rounds is one distributed pass (map-side cosines
    vs the ≤k-row broadcast selected set, argmax with vec_id tiebreak);
    the driver collects ONE row per round — the bounded-collect budget
    the kmeans/centroid ops established. Cosines are left-to-right
    folds rounded to 9dp before every argmax; the oracle unrolls the
    identical greedy chain as CTEs over the same valid-vector quarantine
    (nan-tier contract: a NaN component would poison the first argmax
    and every penalty round after it)."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.where(finite_vec("embedding"))
    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    if qrow is None:  # empty corpus: no query vector, empty result
        return spark.createDataFrame(
            [], "pick_order int, vec_id bigint, sim double"
        )
    q_id, q_vec = qrow["vec_id"], qrow["embedding"]

    def cos(col_name: str, lit_vec: list) -> F.Column:
        # r17 driver-build rewrite (guide §5, the _cw_sig_agg_exprs
        # technique): ONE parsed expression per cosine. The Column form
        # issued ~64 py4j lit() calls per literal vector plus lambda
        # plumbing, re-paid every round of the greedy loop. repr() floats
        # with the D suffix round-trip the exact IEEE doubles; 0.0D/0.5D
        # keep every literal DOUBLE (a bare SQL decimal is DECIMAL).
        # Pinned term-for-term against the Column form by
        # tests/test_r17_optimizations.py::test_mmr_cos_string_expr...
        arr = "array({})".format(
            ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in lit_vec)
        )
        dot = (
            f"aggregate(zip_with({col_name}, {arr},"
            " (x, y) -> CAST(x AS DOUBLE) * y),"
            " 0.0D, (acc, v) -> acc + v)"
        )
        na = (
            f"sqrt(aggregate({col_name}, 0.0D,"
            " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        )
        nb = f"sqrt(aggregate({arr}, 0.0D, (acc, x) -> acc + x * x))"
        return F.expr(
            f"floor({dot} / ({na} * {nb}) * 1000000000 + 0.5D) / 1000000000"
        )

    cand = e.filter(F.col("vec_id") != q_id).select(
        "vec_id", "embedding", cos("embedding", q_vec).alias("sim")
    ).transform(op_cache)

    selected: list = []  # (vec_id, sim, embedding)
    for _ in range(_MMR_K):
        if not selected:
            pick = cand.orderBy(F.desc("sim"), F.asc("vec_id")).first()
        else:
            sel_ids = [s[0] for s in selected]
            pen = None
            for _sid, _ssim, svec in selected:
                p = cos("embedding", svec)
                pen = p if pen is None else F.greatest(pen, p)
            pick = (
                cand.filter(~F.col("vec_id").isin(sel_ids))
                .withColumn(
                    "mmr",
                    _MMR_LAMBDA * F.col("sim") - (1 - _MMR_LAMBDA) * pen,
                )
                .orderBy(F.desc("mmr"), F.asc("vec_id"))
                .first()
            )
        if pick is None:  # fewer than k candidates exist: stop early
            break
        selected.append((pick["vec_id"], pick["sim"], pick["embedding"]))

    rows = [
        (i + 1, int(vid), float(sim))
        for i, (vid, sim, _vec) in enumerate(selected)
    ]
    return spark.createDataFrame(
        rows, "pick_order int, vec_id bigint, sim double"
    )


@register(
    "dedup_partition_invariance",
    oracle="""
WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
survivors AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed)
  WHERE rn = 1
)
SELECT count(*) AS n_survivors,
       CAST(sum(doc_id) AS BIGINT) AS survivor_id_sum,
       0 AS layouts_disagree
FROM survivors
""",
)
def dedup_partition_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout invariance proof for dedup: the SAME keep-min
    exact dedup is executed under two adversarial physical layouts —
    repartition(7, by text) and repartition(13, by doc_id) — and the
    emitted layouts_disagree is the size of the symmetric difference
    between their survivor sets, pinned to 0 by the oracle. This is
    the determinism contract that makes dedup results reproducible
    across cluster sizes, AQE decisions, and re-runs — asserted as a
    hash-checked output every round (the topk_per_group_strategies
    proof pattern applied to data layout)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")

    def survivors(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id")
        )

    s1 = survivors(d.repartition(7, "text"))
    s2 = survivors(d.repartition(13, "doc_id"))
    diff = (
        s1.exceptAll(s2)
        .unionAll(s2.exceptAll(s1))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    return (
        s1.agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("doc_id").cast("bigint").alias("survivor_id_sum"),
        )
        .crossJoin(F.broadcast(diff))
        .select(
            "n_survivors",
            "survivor_id_sum",
            F.col("n_diff").cast("int").alias("layouts_disagree"),
        )
    )


# ===========================================================================
# wave module round5w (formerly operators/round5w.py)
# Round-5 twenty-third wave (SURVEY.md §2.Q, continued): partial-
# aggregation merge proof and training-shard manifest build.
# ===========================================================================

@register(
    "agg_partial_merge_proof",
    oracle="""
WITH whole AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders
),
h1 AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders WHERE o_orderkey % 2 = 0
),
h2 AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders WHERE o_orderkey % 2 = 1
)
, vars AS (
  SELECT w.n AS n_rows,
         (CAST(w.s2 AS DOUBLE) - CAST(w.s AS DOUBLE)
          * CAST(w.s AS DOUBLE) / w.n) / (w.n - 1) AS vw,
         (CAST(h1.s2 + h2.s2 AS DOUBLE) - CAST(h1.s + h2.s AS DOUBLE)
          * CAST(h1.s + h2.s AS DOUBLE) / (h1.n + h2.n))
         / (h1.n + h2.n - 1) AS vm,
         CAST(CASE WHEN w.n = h1.n + h2.n AND w.s = h1.s + h2.s
                    AND w.s2 = h1.s2 + h2.s2
                   THEN 0 ELSE 1 END AS INT) AS merge_mismatch
  FROM whole w CROSS JOIN h1 CROSS JOIN h2
)
SELECT n_rows,
       CASE WHEN vw = 0 THEN 0.0
            ELSE round(vw / pow(10, floor(log10(abs(vw)))), 6)
       END AS variance_whole_mant,
       CAST(CASE WHEN vw = 0 THEN 0
                 ELSE floor(log10(abs(vw))) END AS INT) AS variance_whole_exp10,
       CASE WHEN vm = 0 THEN 0.0
            ELSE round(vm / pow(10, floor(log10(abs(vm)))), 6)
       END AS variance_merged_mant,
       CAST(CASE WHEN vm = 0 THEN 0
                 ELSE floor(log10(abs(vm))) END AS INT) AS variance_merged_exp10,
       merge_mismatch
FROM vars
""",
)
def agg_partial_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregation merge soundness, proven as output: the
    (n, Σx, Σx²) moment state computed over the WHOLE relation must
    equal the component-wise merge of the two half-relations' states —
    the algebraic property that makes map-side combine, AQE re-plans,
    and incremental rollups all return the same answer. States live in
    DECIMAL so the equality is EXACT (merge_mismatch is pinned 0, not
    approximately 0), and the variance derived from whole vs merged
    states is emitted from both paths with identical IEEE order. This
    is the engine-correctness invariant behind every partial-aggregable
    claim in SCALE.md, made hash-checkable."""
    o = Tables(spark, sf_dir).orders
    dec = F.col("o_totalprice").cast("decimal(38,2)")

    def state(df: DataFrame, prefix: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(f"{prefix}n"),
            F.sum(dec).alias(f"{prefix}s"),
            F.sum(dec * dec).alias(f"{prefix}s2"),
        )

    whole = state(o, "w_")
    h1 = state(o.filter(F.col("o_orderkey") % 2 == 0), "a_")
    h2 = state(o.filter(F.col("o_orderkey") % 2 == 1), "b_")
    j = whole.crossJoin(F.broadcast(h1)).crossJoin(F.broadcast(h2))
    var_whole = (
        F.col("w_s2").cast("double")
        - F.col("w_s").cast("double") * F.col("w_s").cast("double") / F.col("w_n")
    ) / (F.col("w_n") - 1)
    ms = F.col("a_s") + F.col("b_s")
    ms2 = F.col("a_s2") + F.col("b_s2")
    mn = F.col("a_n") + F.col("b_n")
    var_merged = (
        ms2.cast("double") - ms.cast("double") * ms.cast("double") / mn
    ) / (mn - 1)
    mismatch = F.when(
        (F.col("w_n") == mn)
        & (F.col("w_s") == ms)
        & (F.col("w_s2") == ms2),
        0,
    ).otherwise(1)

    # RELATIVE (mantissa/exponent) emission, not absolute decimals: at
    # sfx1.0 the Σx² decimal state is ~4.5e20 and the engines'
    # int128->double casts may differ by 1 ulp, a legitimate ~1e-5
    # ABSOLUTE difference at variance magnitude ~2e10 (measured at the
    # sfx1.0 sweep) — see functions/portable.py.
    from ai_dataingestion_spark.functions.portable import mant_exp_cols

    return j.select(
        F.col("w_n").alias("n_rows"),
        *mant_exp_cols(var_whole, "variance_whole"),
        *mant_exp_cols(var_merged, "variance_merged"),
        mismatch.cast("int").alias("merge_mismatch"),
    )


_SHARD_DOCS = 500


@register(
    "pipeline_shard_manifest",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         len({tokens_sql()}) AS n_tokens,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 8 AS shard_id
  FROM documents
)
SELECT shard_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       CAST(CASE WHEN count(*) > {_SHARD_DOCS} THEN 1 ELSE 0 END AS INT)
         AS needs_split
FROM assigned GROUP BY shard_id
""",
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest build (the WebDataset/tar-shard prep
    step): docs are hash-assigned to 8 shards (md5 of the id — stable
    under re-runs and appends, the split_train_eval idiom), and the
    manifest reports per-shard doc/token/char budgets plus a
    needs_split flag against the {_SHARD_DOCS}-doc target — exactly
    what a dataloader needs to plan balanced, reproducible epochs.
    One partial-aggregable pass; hash assignment means shard sizes
    stay balanced at any corpus size without a shuffle-by-range."""
    d = Tables(spark, sf_dir).documents
    shard = (
        F.expr(
            "CAST(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)"
            " AS BIGINT)"
        )
        % 8
    )
    assigned = d.select(
        "doc_id",
        "n_chars",
        F.size(tokens()).alias("n_tokens"),
        shard.alias("shard_id"),
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("token_sum"),
        F.sum("n_chars").cast("bigint").alias("char_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.when(F.count(F.lit(1)) > _SHARD_DOCS, 1)
        .otherwise(0)
        .cast("int")
        .alias("needs_split"),
    )


# ===========================================================================
# wave module round5x (formerly operators/round5x.py)
# Round-5 twenty-fourth wave (SURVEY.md §2.Q, continued): vector-index
# upsert refresh, two-sample Kolmogorov-Smirnov drift test, and keyset
# (seek) pagination.
# ===========================================================================

@register(
    "embed_index_upsert_refresh",
    oracle="""
WITH emb AS (
  -- valid-vector quarantine (nan-tier contract): an index never admits a
  -- vector with NaN/Inf components, so neither lake nor batch sees one
  SELECT vec_id, embedding, label FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
lake AS (
  SELECT vec_id, embedding, label FROM emb WHERE vec_id % 5 <> 0
),
batch AS (
  -- new vectors (the %5 slice) + re-embeddings of every 10th lake vector
  -- (negated -> provably different), which must REPLACE their lake rows
  SELECT vec_id, embedding, label FROM emb WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id, list_transform(embedding, x -> -x), label
  FROM emb WHERE vec_id % 5 <> 0 AND vec_id % 10 = 0
),
merged AS (
  SELECT vec_id, embedding, label FROM batch
  UNION ALL
  SELECT l.vec_id, l.embedding, l.label FROM lake l
  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.vec_id = l.vec_id)
)
SELECT label,
       count(*) AS n_vectors,
       CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inserted,
       CAST(sum(CASE WHEN vec_id % 5 <> 0 AND vec_id % 10 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_replaced,
       floor(sum(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE)))) * 1000000 + 0.5) / 1000000
         AS component_sum
FROM merged GROUP BY label
""",
)
def embed_index_upsert_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index upsert: a batch of NEW vectors plus RE-EMBEDDINGS of
    existing ids (model-version bump — injected as negations so
    replacement is provable) merges into the vector lake with
    last-writer-wins on vec_id — the refresh cycle every embedding
    store runs when the encoder changes. The merge is the anti-join
    upsert (batch ∪ lake-not-in-batch), keyed on vec_id; the per-label
    report checksums the post-merge state via each vector's component
    sum (left-to-right fold), which flips sign for replaced vectors —
    so a botched merge (duplicate id, missed replacement) breaks the
    hash, not just the count. The index admits VALID vectors only
    (nan-tier contract, mirrored in the oracle's emb CTE): a NaN
    component would poison the per-label checksum."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.where(finite_vec("embedding"))
    lake = e.filter(F.col("vec_id") % 5 != 0)
    re_embedded = (
        e.filter((F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 10 == 0))
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
            "label",
        )
    )
    batch = e.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", "embedding", "label"
    ).unionByName(re_embedded)
    merged = batch.unionByName(
        lake.join(batch.select("vec_id"), "vec_id", "left_anti").select(
            "vec_id", "embedding", "label"
        )
    )
    comp_sum = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return merged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("vec_id") % 5 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserted"),
        F.sum(
            F.when(
                (F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 10 == 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_replaced"),
        pround(F.sum(comp_sum)).alias("component_sum"),
    )


_KS_CUT = "2024-01-15"


@register(
    "quality_ks_two_sample",
    oracle=f"""
WITH tagged AS (
  -- value IS NOT NULL: an ECDF is over OBSERVED values; a NULL value is
  -- not an observation and its group has no seat in the ordered walk
  SELECT value,
         CASE WHEN ts < TIMESTAMP '{_KS_CUT}' THEN 1 ELSE 0 END AS pre
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT value,
         CAST(sum(pre) AS BIGINT) AS c1,
         CAST(sum(1 - pre) AS BIGINT) AS c2
  FROM tagged GROUP BY value
),
tot AS (
  SELECT CAST(sum(c1) AS DOUBLE) AS n1, CAST(sum(c2) AS DOUBLE) AS n2
  FROM counts
),
ecdf AS (
  SELECT value,
         sum(c1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS r1,
         sum(c2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS r2
  FROM counts
),
gaps AS (
  SELECT value,
         abs(CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2) AS gap
  FROM ecdf CROSS JOIN tot
)
SELECT floor((SELECT max(gap) FROM gaps) * 1000000 + 0.5) / 1000000
         AS ks_statistic,
       (SELECT value FROM gaps ORDER BY gap DESC, value LIMIT 1)
         AS ks_location,
       (SELECT CAST(n1 AS BIGINT) FROM tot) AS n_pre,
       (SELECT CAST(n2 AS BIGINT) FROM tot) AS n_post
""",
)
def quality_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test on the value column
    around a cutover: D = max |ECDF_pre − ECDF_post| plus the value
    where the gap peaks — the distribution-shape drift detector that
    mean/variance screens (Welch t) are blind to. Scale shape: raw
    rows first collapse to per-DISTINCT-VALUE counts (the 2-decimal
    domain bounds this relation regardless of event volume), and the
    ECDFs are running sums over that bounded relation — the global
    ordered window never sees raw events. Exact integer ranks, two
    divisions per distinct value, deterministic argmax with a value
    tiebreak."""
    e = Tables(spark, sf_dir).events.where(
        F.col("value").isNotNull()  # oracle mirrors: ECDF over observations
    )
    tagged = e.select(
        "value",
        F.when(F.col("ts") < F.lit(_KS_CUT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("pre"),
    )
    counts = tagged.groupBy("value").agg(
        F.sum("pre").cast("bigint").alias("c1"),
        F.sum(1 - F.col("pre")).cast("bigint").alias("c2"),
    )
    tot = counts.agg(
        F.sum("c1").cast("double").alias("n1"),
        F.sum("c2").cast("double").alias("n2"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ecdf = counts.select(
        "value",
        F.sum("c1").over(w).alias("r1"),
        F.sum("c2").over(w).alias("r2"),
    )
    gaps = ecdf.crossJoin(F.broadcast(tot)).select(
        "value",
        F.abs(
            F.col("r1").cast("double") / F.col("n1")
            - F.col("r2").cast("double") / F.col("n2")
        ).alias("gap"),
    )
    top = (
        gaps.orderBy(F.desc("gap"), F.asc("value"))
        .limit(1)
        .select(
            pround(F.col("gap")).alias("ks_statistic"),
            F.col("value").alias("ks_location"),
        )
    )
    return top.crossJoin(
        F.broadcast(
            tot.select(
                F.col("n1").cast("bigint").alias("n_pre"),
                F.col("n2").cast("bigint").alias("n_post"),
            )
        )
    )


_PAGE_SIZE = 50


@register(
    "sort_keyset_pagination",
    oracle=f"""
WITH ranked AS (
  -- o_orderdate IS NOT NULL: keyset pagination requires a totally
  -- ordered, seekable cursor; a NULL date cannot anchor the predicate
  -- (o_orderdate > NULL is never true) so such rows are out of scope
  SELECT o_orderkey, o_orderdate, o_totalprice,
         row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_orderdate IS NOT NULL
)
SELECT CAST((rn - 1) // {_PAGE_SIZE} + 1 AS INT) AS page,
       o_orderkey, o_orderdate, o_totalprice
FROM ranked WHERE rn <= {3 * _PAGE_SIZE}
""",
)
def sort_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: three consecutive pages fetched
    by CURSOR PREDICATE — page n+1 filters (date, key) > (last row of
    page n) and takes the next {_PAGE_SIZE} — instead of OFFSET, which
    re-sorts and discards n·page rows per request (limit_offset
    documents that cost; this is the serving-scale answer). Each page
    is a pushdown-able range predicate + TakeOrderedAndProject; the
    oracle spells the same three pages as one ranked window. The
    (date, key) cursor is totally ordered because orderkey is unique —
    the precondition keyset pagination always needs."""
    o = (
        Tables(spark, sf_dir)
        .orders.where(F.col("o_orderdate").isNotNull())  # oracle mirrors
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )
    pages = []
    cursor = None  # (date, key) of last row seen
    for page_no in range(1, 4):
        q = o
        if cursor is not None:
            cd, ck = cursor
            q = q.filter(
                (F.col("o_orderdate") > F.lit(cd))
                | (
                    (F.col("o_orderdate") == F.lit(cd))
                    & (F.col("o_orderkey") > F.lit(ck))
                )
            )
        page = q.orderBy("o_orderdate", "o_orderkey").limit(_PAGE_SIZE)
        rows = page.collect()  # bounded: _PAGE_SIZE rows per fetch
        pages.append((page_no, rows))
        if not rows:  # exhausted relation (e.g. empty corpus): stop seeking
            break
        last = rows[-1]
        cursor = (last["o_orderdate"], last["o_orderkey"])
    flat = [
        (p, r["o_orderkey"], r["o_orderdate"], r["o_totalprice"])
        for p, rows in pages
        for r in rows
    ]
    return spark.createDataFrame(
        flat,
        "page int, o_orderkey bigint, o_orderdate timestamp_ntz,"
        " o_totalprice double",
    )


# ===========================================================================
# wave module round5y (formerly operators/round5y.py)
# Round-5 twenty-fifth wave (SURVEY.md §2.Q, continued): business-day
# latency arithmetic and min-max feature scaling with invariant checks.
# ===========================================================================

@register(
    "fn_business_days_diff",
    oracle="""
WITH lat AS (
  SELECT o_orderpriority,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS cal_days,
         -- business days between d1 (excl) and d2 (incl), Mon=1..Sun=7:
         -- full weeks x5 + weekday-remainder correction via a
         -- cumulative-business-day index bd(d) = 5*floor(d/7) +
         -- min(pmod(d,7), 5) anchored on a known Monday epoch. FLOOR
         -- division and POSITIVE modulo on both sides (epoch tier): for
         -- dates BEFORE the anchor d is negative, where // truncates
         -- toward zero in this engine while Spark's floor() rounds down,
         -- and % takes the dividend's sign in both — the explicit
         -- floor/pmod forms are sign-correct everywhere
         (5 * CAST(floor(date_diff('day', DATE '1990-01-01',
                                   CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT)
          + least(((date_diff('day', DATE '1990-01-01',
                              CAST(l_shipdate AS DATE)) % 7) + 7) % 7, 5))
         - (5 * CAST(floor(date_diff('day', DATE '1990-01-01',
                                     CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT)
            + least(((date_diff('day', DATE '1990-01-01',
                                CAST(o_orderdate AS DATE)) % 7) + 7) % 7, 5))
           AS bus_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n,
       floor(CAST(sum(cal_days) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mean_cal_days,
       floor(CAST(sum(bus_days) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mean_bus_days,
       CAST(sum(CASE WHEN bus_days > 65 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sla_breach
FROM lat GROUP BY o_orderpriority
""",
)
def fn_business_days_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day latency arithmetic: order→ship deltas counted in
    WEEKDAYS via the cumulative-business-day index bd(d) = 5·⌊d/7⌋ +
    min(d mod 7, 5) anchored on a known Monday — bus_days = bd(ship) −
    bd(order), the closed form that replaces a calendar explode (and
    the correction every "datediff/7·5" approximation gets wrong at
    week boundaries). Calendar vs business means side by side per
    priority, plus a 65-business-day SLA breach count. Exact integer
    arithmetic throughout; one orderkey join, fixed literals shared
    with the oracle."""
    t = Tables(spark, sf_dir)
    anchor = F.lit("1990-01-01")  # a known Monday; dates BEFORE it give
    # negative offsets, so the index uses FLOOR division and POSITIVE
    # modulo explicitly on both sides (epoch tier: DuckDB // truncates
    # toward zero on negatives while F.floor rounds down, and % takes the
    # dividend sign in both engines — pmod is the portable weekday)

    def bd(col):
        d = F.datediff(F.to_date(col), F.to_date(anchor))
        return 5 * F.floor(d / 7) + F.least(F.pmod(d, 7), F.lit(5))

    lat = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .select(
            "o_orderpriority",
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).alias("cal_days"),
            (bd(F.col("l_shipdate")) - bd(F.col("o_orderdate"))).alias(
                "bus_days"
            ),
        )
    )
    n = F.count(F.lit(1))
    return lat.groupBy("o_orderpriority").agg(
        n.alias("n"),
        pround(F.sum("cal_days").cast("double") / n).alias("mean_cal_days"),
        pround(F.sum("bus_days").cast("double") / n).alias("mean_bus_days"),
        F.sum(F.when(F.col("bus_days") > 65, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sla_breach"),
    )


@register(
    "fn_minmax_scale_check",
    oracle="""
WITH cuts AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY event_type
),
scaled AS (
  SELECT e.event_type,
         (e.value - c.lo) / nullif(c.hi - c.lo, 0) AS s
  FROM events e JOIN cuts c ON e.event_type = c.event_type
  WHERE (e.value IS NULL OR isfinite(e.value))
)
SELECT event_type,
       count(*) AS n,
       floor(min(s) * 1000000 + 0.5) / 1000000 AS scaled_min,
       floor(max(s) * 1000000 + 0.5) / 1000000 AS scaled_max,
       floor(CAST(sum(CAST(floor(s * 1000000000 + 0.5) / 1000000000
                           AS DECIMAL(38, 9))) AS DOUBLE) / count(*)
             * 1000000 + 0.5) / 1000000 AS scaled_mean
FROM scaled GROUP BY event_type
""",
)
def fn_minmax_scale_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling with its invariants emitted as output:
    per type, scaled min must be 0 and max must be 1 (nullif guards
    the degenerate constant column), and the scaled mean summarizes
    the distribution's position in-range — the feature-engineering
    normalization step with its unit test built into the result. The
    mean uses the 9dp-round-then-DECIMAL-sum idiom
    (events_attribution_linear) so the Σ of scaled doubles is
    order-independent; min/max are order-free already. Cuts are
    types-sized and broadcast. Scales the FINITE domain only (nan-tier
    contract, mirrored in the oracle): a single +Inf makes hi-lo
    infinite — every scaled value collapses to 0 — and NaN through the
    9dp floor grid is an INT128 conversion error in the oracle; min-max
    scaling of non-finite features is undefined, so they quarantine."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    cuts = e.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    s = (F.col("value") - F.col("lo")) / F.nullif(
        F.col("hi") - F.col("lo"), F.lit(0.0)
    )
    scaled = e.join(F.broadcast(cuts), "event_type").select(
        "event_type", s.alias("s")
    )
    n = F.count(F.lit(1))
    return scaled.groupBy("event_type").agg(
        n.alias("n"),
        pround(F.min("s")).alias("scaled_min"),
        pround(F.max("s")).alias("scaled_max"),
        pround(
            F.sum(pround(F.col("s"), 9).cast("decimal(38,9)")).cast("double")
            / n
        ).alias("scaled_mean"),
    )


# ===========================================================================
# wave module round5z (formerly operators/round5z.py)
# Round-5 twenty-sixth wave (SURVEY.md §2.Q, continued): as-of join
# direction variants, key-sequence gap auditing via the two-level
# decomposition, and a snapshot-retention GC planner.
# ===========================================================================


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


_GAP_BUCKET = 4096


@register(
    "quality_key_sequence_gaps",
    oracle=f"""
WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
buckets AS (
  SELECT k // {_GAP_BUCKET} AS b, min(k) AS kmin, max(k) AS kmax,
         count(*) AS n
  FROM keys GROUP BY b
),
intra AS (
  -- gap mass inside each bucket: span+1 minus present keys
  SELECT CAST(sum(kmax - kmin + 1 - n) AS BIGINT) AS intra_missing
  FROM buckets
),
inter AS (
  -- gap mass between consecutive buckets' boundary keys
  SELECT CAST(sum(kmin - prev_kmax - 1) AS BIGINT) AS inter_missing,
         CAST(max(kmin - prev_kmax - 1) AS BIGINT) AS largest_boundary_gap
  FROM (SELECT kmin, lag(kmax) OVER (ORDER BY b) AS prev_kmax FROM buckets)
  WHERE prev_kmax IS NOT NULL
),
bounds AS (
  SELECT min(k) AS k_lo, max(k) AS k_hi, count(*) AS n_keys FROM keys
)
SELECT n_keys,
       k_hi - k_lo + 1 AS span,
       CAST(k_hi - k_lo + 1 - n_keys AS BIGINT) AS total_missing,
       intra_missing,
       inter_missing,
       largest_boundary_gap
FROM bounds CROSS JOIN intra CROSS JOIN inter
""",
)
def quality_key_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-sequence gap audit — lost-data detection for a should-be-
    dense key space: total missing keys in the observed span,
    decomposed into intra-bucket and bucket-boundary gap mass (the two
    must sum to the total — an internal consistency check the oracle
    hashes). Scale shape: keys aggregate into {_GAP_BUCKET}-wide
    buckets FIRST, so the only ordered window runs over the
    buckets-sized relation — the two-level decomposition
    (events_peak_concurrency's prefix-sum argument) applied to gap
    detection; a naive lag over raw sorted keys would serialize the
    whole key space through one partition."""
    o = Tables(spark, sf_dir).orders
    keys = o.select(F.col("o_orderkey").alias("k")).distinct()
    buckets = keys.groupBy(
        (F.col("k") / _GAP_BUCKET).cast("bigint").alias("b")
    ).agg(
        F.min("k").alias("kmin"),
        F.max("k").alias("kmax"),
        F.count(F.lit(1)).alias("n"),
    )
    intra = buckets.agg(
        F.sum(F.col("kmax") - F.col("kmin") + 1 - F.col("n"))
        .cast("bigint")
        .alias("intra_missing")
    )
    w = Window.orderBy("b")
    inter = (
        buckets.select(
            "kmin", F.lag("kmax").over(w).alias("prev_kmax")
        )
        .filter(F.col("prev_kmax").isNotNull())
        .agg(
            F.sum(F.col("kmin") - F.col("prev_kmax") - 1)
            .cast("bigint")
            .alias("inter_missing"),
            F.max(F.col("kmin") - F.col("prev_kmax") - 1)
            .cast("bigint")
            .alias("largest_boundary_gap"),
        )
    )
    bounds = keys.agg(
        F.min("k").alias("k_lo"),
        F.max("k").alias("k_hi"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        bounds.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(inter))
        .select(
            "n_keys",
            (F.col("k_hi") - F.col("k_lo") + 1).alias("span"),
            (F.col("k_hi") - F.col("k_lo") + 1 - F.col("n_keys"))
            .cast("bigint")
            .alias("total_missing"),
            "intra_missing",
            "inter_missing",
            "largest_boundary_gap",
        )
    )


@register(
    "pipeline_retention_gc_plan",
    oracle="""
WITH snapshots AS (
  -- o_orderdate IS NOT NULL: a snapshot without a date has no age (and
  -- the oracle engine's window ranking over a NULL grouped date is
  -- unreliable — see orders_cumulative_share_monthly)
  SELECT DISTINCT date_trunc('month', o_orderdate) AS snap
  FROM orders WHERE o_orderdate IS NOT NULL
),
ranked AS (
  SELECT snap,
         row_number() OVER (ORDER BY snap DESC) AS age_rank
  FROM snapshots
)
SELECT snap,
       CAST(age_rank AS BIGINT) AS age_rank,
       CASE WHEN age_rank <= 3 THEN 'keep_recent'
            WHEN (age_rank - 4) % 3 = 0 THEN 'keep_thinned'
            ELSE 'delete' END AS action
FROM ranked
""",
)
def pipeline_retention_gc_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-retention GC planner (the VACUUM work-list): monthly
    snapshots ranked newest-first, the 3 most recent kept outright,
    every 3rd older snapshot kept as the thinned history, the rest
    marked delete — the keep-recent + exponential/periodic-thinning
    policy every lakehouse table ages under. Rank arithmetic only, over
    the snapshots-sized relation; the emitted plan is the input a GC
    executor consumes (and what retention audits diff against)."""
    o = Tables(spark, sf_dir).orders.where(F.col("o_orderdate").isNotNull())
    snaps = o.select(
        F.date_trunc("month", "o_orderdate").alias("snap")
    ).distinct()
    w = Window.orderBy(F.desc("snap"))
    ranked = snaps.withColumn("age_rank", F.row_number().over(w))
    action = (
        F.when(F.col("age_rank") <= 3, "keep_recent")
        .when((F.col("age_rank") - 4) % 3 == 0, "keep_thinned")
        .otherwise("delete")
    )
    return ranked.select(
        "snap",
        F.col("age_rank").cast("bigint").alias("age_rank"),
        action.alias("action"),
    )
