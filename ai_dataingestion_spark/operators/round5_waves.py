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


# ===========================================================================
# wave module round5b (formerly operators/round5b.py)
# Round-5 second wave (SURVEY.md §2.Q): alternative means.
#
# Float discipline follows SURVEY.md §5.4: ratios/doubles rounded at 6 dp
# on BOTH sides; counts, keys, and day deltas exact.
# ===========================================================================


# ---------------------------------------------------------------------------
# §2.Q.6 alternative means
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


# ===========================================================================
# wave module round5c (formerly operators/round5c.py)
# Round-5 third wave (SURVEY.md §2.Q, continued): dynamic partition
# pruning through a join and binary-codec function parity.
# ===========================================================================

# ---------------------------------------------------------------------------
# §2.Q.7 partition-pruning scan paths
# ---------------------------------------------------------------------------


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
# Round-5 fourth wave (SURVEY.md §2.Q, continued): the chi-squared
# independence screen. Every formula is
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
# arithmetic (try_*).
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


# ===========================================================================
# wave module round5h (formerly operators/round5h.py)
# Round-5 eighth wave (SURVEY.md §2.Q, continued): discrete-vs-continuous
# percentile parity.
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
# wave module round5k (formerly operators/round5k.py)
# Round-5 eleventh wave (SURVEY.md §2.Q, continued): numeric RANGE window
# frames.
# ===========================================================================


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
# Round-5 twelfth wave (SURVEY.md §2.Q, continued): IANA timezone
# conversion parity.
# ===========================================================================


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
# wave module round5n (formerly operators/round5n.py)
# Round-5 fourteenth wave (SURVEY.md §2.Q, continued): Arrow-optimized
# Python UDF surface.
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


# ===========================================================================
# wave module round5o (formerly operators/round5o.py)
# Round-5 fifteenth wave (SURVEY.md §2.Q, continued): running-distinct-count
# windows.
# ===========================================================================


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


# ===========================================================================
# wave module round5p (formerly operators/round5p.py)
# Round-5 sixteenth wave (SURVEY.md §2.Q, continued): stable
# k-per-group sampling and deterministic content-UUID minting.
# ===========================================================================


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
# graph triangle census and a top-k-per-group strategy-equivalence proof.
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
# wave module round5s (formerly operators/round5s.py)
# Round-5 nineteenth wave (SURVEY.md §2.Q, continued): array set
# operations, ISO week/year calendar parity, and an equi-depth
# (quantile-binned) histogram.
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
# boolean search.
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


# ===========================================================================
# wave module round5w (formerly operators/round5w.py)
# Round-5 twenty-third wave (SURVEY.md §2.Q, continued): partial-
# aggregation merge proof.
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


# ===========================================================================
# wave module round5x (formerly operators/round5x.py)
# Round-5 twenty-fourth wave (SURVEY.md §2.Q, continued): keyset (seek)
# pagination.
# ===========================================================================


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
# direction variants.
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
