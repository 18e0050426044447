"""§2.E Window functions: ranking, offsets, running and moving frames
(ROWS, numeric RANGE and INTERVAL RANGE), percentiles and gaps-and-islands.

Every ORDER BY inside a ROWS frame or a ranking carries a unique tie-break
key (o_orderkey / event_id) — rank ties are the #1 cross-engine hash killer
(SURVEY.md §5.4). A RANGE frame needs none: peer rows share a frame, which
is also why the default frame under ORDER BY (RANGE UNBOUNDED PRECEDING ..
CURRENT ROW) jumps by whole tied groups. The engines' ASC defaults place
NULLs differently (Spark first, DuckDB last), so an ORDER BY over a nullable
key spells the position (``asc_nulls_last``). Window partitioning keys
(o_custkey, user_id) are the natural distribution keys at 100 TB: one
shuffle on the partition key, then each window evaluates partition-locally,
and windows sharing that key reuse the one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import percentile, percentile_sql
from ai_dataingestion_spark.registry import Tables

_HOUR_US = 3_600_000_000  # one hour in microseconds


def _epoch_us(col):
    """TIMESTAMP_NTZ → int64 epoch microseconds (session TZ is UTC, so the
    NTZ→TS cast is instant-preserving; mirrors DuckDB epoch_us)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


@register(
    "win_rank",
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
       row_number() OVER w AS rn,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
""",
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank of orders per customer by price."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return Tables(spark, sf_dir).orders.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_topk_group",
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rn
  FROM orders
)
WHERE rn <= 3
""",
)
def win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (rank + filter). Catalyst inserts a
    WindowGroupLimit so each partition only keeps 3 rows before the final
    window evaluation — the grouped-top-k plan that scales."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        Tables(spark, sf_dir)
        .orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "rn",
        )
    )


@register(
    "win_lag_lead",
    oracle="""
SELECT event_id, user_id,
       epoch_us(ts) - epoch_us(lag(ts) OVER w)  AS gap_us,
       lead(event_type) OVER w                  AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap (µs) via lag; next event type via lead, per user."""
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), F.asc("event_id"))
    e = Tables(spark, sf_dir).events.withColumn("_us", _epoch_us("ts"))
    return e.select(
        "event_id",
        "user_id",
        (F.col("_us") - F.lag("_us").over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_running",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS running_spend
FROM orders
""",
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer in order-date order."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return Tables(spark, sf_dir).orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "win_moving",
    oracle="""
SELECT event_id, user_id,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
       ), 4) AS mavg3
FROM events
""",
)
def win_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average of value over the last 3 events per user (ROWS frame)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), F.asc("event_id"))
        .rowsBetween(-2, Window.currentRow)
    )
    return Tables(spark, sf_dir).events.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("mavg3"),
    )


@register(
    "win_moving_range",
    oracle=f"""
SELECT event_id, user_id,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts) ASC
         RANGE BETWEEN {_HOUR_US} PRECEDING AND CURRENT ROW
       ), 4) AS sum_1h
FROM events
""",
)
def win_moving_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour sum of value per user (RANGE frame over epoch µs) —
    time-based frames need a numeric ordering column in Spark."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("_us"))
        .rangeBetween(-_HOUR_US, Window.currentRow)
    )
    e = Tables(spark, sf_dir).events.withColumn("_us", _epoch_us("ts"))
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


@register(
    "win_ntile_dist",
    oracle="""
SELECT c_custkey,
       ntile(4)       OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist()    OVER w AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal ASC, c_custkey ASC)
""",
)
def win_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucket + distribution ranks over account balances.
    percent_rank/cume_dist are exact rationals of row counts, so raw doubles
    match bit-for-bit; ntile is cast to bigint (DuckDB's type)."""
    w = Window.orderBy(F.asc_nulls_last("c_acctbal"), F.asc("c_custkey"))
    return Tables(spark, sf_dir).customer.select(
        "c_custkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "win_first_last",
    oracle="""
WITH ranked AS (
  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts ASC,  event_id ASC)  AS rn_a,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, day,
       max(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
       max(CASE WHEN rn_d = 1 THEN event_type END) AS last_type
FROM ranked
GROUP BY user_id, day
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event type per user-day (deterministic orderBy, day emitted
    as ISO string to keep DATE out of the output schema)."""
    e = Tables(spark, sf_dir).events.withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    w = Window.partitionBy("user_id", "day").orderBy(F.asc_nulls_last("ts"), F.asc("event_id"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        e.select(
            "user_id",
            "day",
            F.first("event_type").over(wfull).alias("first_type"),
            F.last("event_type").over(wfull).alias("last_type"),
        )
        .distinct()
    )


@register(
    "win_lag_default",
    oracle="""
SELECT event_id, user_id,
       lag(event_type, 2, 'none') OVER w  AS type_2back,
       lead(event_type, 3, 'end') OVER w  AS type_3ahead
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
)
def win_lag_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead with multi-row offsets and explicit defaults (the partition
    edges take the default instead of NULL)."""
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), F.asc("event_id"))
    return Tables(spark, sf_dir).events.select(
        "event_id",
        "user_id",
        F.lag("event_type", 2, "none").over(w).alias("type_2back"),
        F.lead("event_type", 3, "end").over(w).alias("type_3ahead"),
    )


@register(
    "win_percentile_disc_vs_cont",
    oracle=f"""
SELECT l_returnflag, count(*) AS n,
       CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS p50_disc,
       {percentile_sql("l_quantity", 0.5)} AS p50_cont,
       CAST(quantile_disc(l_quantity, 0.9) AS DOUBLE) AS p90_disc,
       {percentile_sql("l_quantity", 0.9)} AS p90_cont
FROM lineitem GROUP BY l_returnflag
""",
)
def win_percentile_disc_vs_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete vs continuous percentiles side by side: percentile_disc
    returns an actual data value (what a 'p90 order actually looked
    like'), the continuous ``percentile`` interpolates —
    the distinction that matters when the value is fed back into a
    filter. Quantity values carry ≤ 2 decimals and midpoints halve
    exactly in binary, so no rounding layer is needed for parity."""
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p50_disc"),
        percentile("l_quantity", 0.5).alias("p50_cont"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p90_disc"),
        percentile("l_quantity", 0.9).alias("p90_cont"),
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


@register(
    "win_loo_outlier_zscore",
    oracle="""
WITH m AS (
  SELECT l_returnflag AS flag,
         CAST(CAST(l_extendedprice AS DECIMAL(38,2)) AS DOUBLE) AS xd,
         count(*) OVER w AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) OVER w
              AS DOUBLE) AS s1,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))
                  * CAST(l_extendedprice AS DECIMAL(38,2))) OVER w
              AS DOUBLE) AS s2
  FROM lineitem
  WINDOW w AS (PARTITION BY l_returnflag)
),
loo AS (
  SELECT flag, n,
         (xd - (s1 - xd) / (n - 1))
         / sqrt(((n - 1) * (s2 - xd * xd) - (s1 - xd) * (s1 - xd))
                / (CAST(n - 1 AS DOUBLE) * (n - 2))) AS z
  FROM m WHERE n > 2
)
SELECT flag AS l_returnflag,
       CAST(max(n) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_loo_outliers,
       round(max(abs(z)), 6) AS max_abs_z
FROM loo GROUP BY flag
""",
)
def win_loo_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out outlier scoring: each line's z-score against the
    mean and stddev of its group WITHOUT ITSELF — the estimator that
    fixes plain z-scores' self-masking (a huge outlier inflates the σ
    it is judged by; quality_outlier_iqr sidesteps via quantiles, this
    stays in moment space). No per-row re-aggregation: the LOO moments
    are pure frame arithmetic on the group totals — mean₋ᵢ = (S−x)/
    (n−1), var₋ᵢ from (n−1)(S₂−x²)−(S−x)² — so ONE partition window
    pass prices every row's held-out estimate. All sums are DECIMAL
    (the moment-sum portability rule) and floats appear only in the
    final ratio; output rolls up to 3 rows at any scale."""
    li = Tables(spark, sf_dir).lineitem
    xdec = F.col("l_extendedprice").cast("decimal(38,2)")
    w = Window.partitionBy("l_returnflag")
    # Exact DECIMAL window sums, converted ONCE to double: both engines
    # then run identical IEEE arithmetic (the burstiness rule applied to
    # per-row frame math; DECIMAL(38,2) operands per the 5.4 HHI rule).
    m = li.select(
        "l_returnflag",
        xdec.cast("double").alias("xd"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(xdec).over(w).cast("double").alias("s1"),
        F.sum(xdec * xdec).over(w).cast("double").alias("s2"),
    ).where(F.col("n") > 2)
    mean_loo = (F.col("s1") - F.col("xd")) / (F.col("n") - 1)
    var_num = (F.col("n") - 1) * (
        F.col("s2") - F.col("xd") * F.col("xd")
    ) - (F.col("s1") - F.col("xd")) * (F.col("s1") - F.col("xd"))
    sd_loo = F.sqrt(
        var_num / ((F.col("n") - 1).cast("double") * (F.col("n") - 2))
    )
    loo = m.select(
        "l_returnflag",
        "n",
        ((F.col("xd") - mean_loo) / sd_loo).alias("z"),
    )
    # keep the SAME l_returnflag attribute end-to-end: renaming the key
    # anywhere between the window and the rollup breaks exchange reuse
    # (measured: an aliased grouping key forced a second shuffle)
    return loo.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.abs("z") > 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_loo_outliers"),
        F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
    )


_IVFRAME_SQL = """
SELECT o_custkey, CAST(CAST(o_orderdate AS DATE) AS {STR}) AS od,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
         PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS TIMESTAMP)
         RANGE BETWEEN {IV} PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS spend_7d
FROM orders
"""


sql_op(
    "win_range_interval_frame",
    spark_sql=_IVFRAME_SQL.replace("{IV}", "INTERVAL '7' DAY").replace(
            "{STR}", "STRING"
        ),
    oracle=_IVFRAME_SQL.replace("{IV}", "INTERVAL 7 DAY").replace(
        "{STR}", "VARCHAR"
    ),
    doc="""Time-based RANGE window frame with an INTERVAL literal: trailing
    7-day spend per customer, `RANGE BETWEEN INTERVAL '7' DAY PRECEDING
    AND CURRENT ROW` over the order timestamp. Unlike a ROWS frame this
    is value-based — gaps and same-day multiples are handled by the time
    axis, not row counts — and unlike the numeric rangeBetween operators
    (win_moving_range, win_range_numeric_frame) it exercises the calendar
    INTERVAL boundary type end-to-end. Per-customer partitions keep the
    window parallel (no global sort); frame evaluation is the standard
    sliding-sum pass. Oracle: DuckDB runs the identical statement
    (INTERVAL 7 DAY spelling).""",
)


@register(
    "win_gaps_islands",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn_all,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
),
islands AS (
  SELECT user_id, event_type, rn_all - rn_type AS grp, count(*) AS run_len
  FROM seq GROUP BY user_id, event_type, rn_all - rn_type
)
SELECT user_id, count(*) AS n_islands, max(run_len) AS longest_run
FROM islands
GROUP BY user_id
ORDER BY user_id
""",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (consecutive same-type event runs per user) via the
    classic two-row_number difference: both windows partition by user, so
    ONE shuffle on user_id feeds both rankings, the island grouping, and
    the final per-user rollup. Deterministic ordering ties broken by
    event_id."""
    e = Tables(spark, sf_dir).events
    w_all = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    seq = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w_all).alias("rn_all"),
        F.row_number().over(w_type).alias("rn_type"),
    )
    islands = seq.groupBy(
        "user_id", "event_type", (F.col("rn_all") - F.col("rn_type")).alias("grp")
    ).agg(F.count(F.lit(1)).alias("run_len"))
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("longest_run"),
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
