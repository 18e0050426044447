"""§2.I event-time windows, batch form.

`F.window` / `F.session_window` are the SAME expressions in batch and
streaming plans — these operators verify the window semantics against the
DuckDB oracle in batch mode, and streaming/incremental.py reuses them under
readStream with watermarks.

Timestamps in outputs: hour-aligned boundaries are emitted as strings (no
sub-second digits, so formats agree); session boundaries carry microseconds,
where engine string formats diverge — those are emitted as epoch-µs int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.registry import Tables

# Order-independent total (round-14 ties catch — see stable_rounded_sum):
# all three window ops share the same per-group value sum.
_TOTAL_SQL = stable_rounded_sum_sql("value")

GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap in microseconds


@register(
    "stream_tumbling",
    oracle=f"""
SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR) AS win_start,
       event_type,
       count(*)             AS n,
       {_TOTAL_SQL} AS total
-- ts IS NOT NULL: Spark's time-window operator injects an isnotnull(ts)
-- filter, so a NULL timestamp has no window on either side
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling count/sum per event_type (same expr streams with a
    watermark in incremental mode)."""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_rounded_sum("value").alias("total"),
        )
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


@register(
    "stream_sliding",
    oracle=f"""
SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
            - k.k * INTERVAL '15 minutes' AS VARCHAR) AS win_start,
       event_type,
       count(*)             AS n,
       {_TOTAL_SQL} AS total
FROM events
CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
-- ts IS NOT NULL: see stream_tumbling (Spark windows drop NULL ts)
WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes: each event lands in exactly 4
    windows (window/slide = 4); the oracle reproduces Spark's slide-aligned
    window starts by shifting the 15-min bucket k = 0..3 slides back."""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_rounded_sum("value").alias("total"),
        )
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


@register(
    "stream_session",
    oracle=f"""
WITH seq AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE ts IS NOT NULL  -- session_window drops NULL ts too
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  -- ORDER BY ts, event_id — the SAME total order as seq's window. With
  -- ts ties (the ties tier), 'ORDER BY ts ROWS UNBOUNDED PRECEDING'
  -- leaves peer order engine-arbitrary, so a row tied with an is_new=1
  -- row could scan BEFORE it and land in the previous session — an
  -- INTERMITTENT oracle mismatch that fired twice in r14 full sweeps
  -- (DuckDB's parallel window scan orders peers differently per draw)
  -- while every standalone probe passed. ROWS mode + a total order is
  -- deterministic; this was the true root cause of the stream_session
  -- ties flake (the decimal-sum hardening was necessary for the float
  -- class but did not explain the recurrence).
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM seq
)
SELECT user_id,
       epoch_us(min(ts))            AS session_start_us,
       epoch_us(max(ts)) + {GAP_US} AS session_end_us,
       count(*)                     AS n_events,
       {_TOTAL_SQL} AS total
FROM sess
GROUP BY user_id, sess_id
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap per user.

    Spark session semantics (pinned by the oracle's gap-and-island twin):
    each event spans [ts, ts + gap), and session_window merges spans that
    overlap or touch: an event at exactly last_ts + gap still joins the
    session (`>` in the oracle's gap test, the rule of
    operators/events.py:_sessions), and a session reports
    [first_ts, last_ts + gap). Boundaries are emitted as epoch-µs (string
    formats diverge on sub-second timestamps across engines).

    Two determinism hardenings from the r14 ties-tier flake (an
    intermittent full-sweep mismatch this op produced twice while every
    standalone probe passed):

    - the TRUE root cause was the ORACLE's sess_id running sum ordering
      by ts alone in ROWS mode — with tied timestamps, peer order is
      engine-arbitrary, so a row tied with an is_new=1 row could scan
      before it and land in the previous session on some DuckDB draws
      (parallel window scan). Fixed by the (ts, event_id) total order;
      24/24 post-fix sequence probes green vs ~1-in-8 flaking before.
    - the finite-group total also sums through DECIMAL(38,6)
      (portable.py:stable_rounded_sum): round(sum(double), 4) carries its
      own order-of-accumulation half-ulp boundary, a separate latent
      class hardened while diagnosing the above. NaN/±Inf groups keep the
      raw double sum (order-independent propagation; DuckDB raises on
      casting non-finites to decimal — the oracle CASE is lazy)."""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_rounded_sum("value").alias("total"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("session_end_us"),
            "n_events",
            "total",
        )
    )
