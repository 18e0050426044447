"""Operators over the ``events`` stream table: sessions, per-user calendars
and time series, anomaly and rate screens, funnels, paths and attribution,
and A/B-test statistics.

Invariants:

- One session rule (``_sessions``, DuckDB twin ``_sessions_sql``): an event
  opens a new session when it is its user's first event or follows the
  previous one by strictly more than the gap.
- Every sessionized plan partitions by ``user_id``, and within a user the
  total order is ``(ts, event_id)`` with NULL ``ts`` last.
- One per-user daily calendar (``_user_day_calendar``, DuckDB twin
  ``_USER_DAY_CALENDAR_SQL``): every day from the user's first to last
  observed day.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import (
    grid_sum,
    grid_sum_sql,
    hash_bucket,
    hash_bucket_sql,
    mant_exp_cols,
    mant_exp_sql,
    percentile,
    percentile_sql,
    PRE_PERIOD_SQL,
    pre_period,
    pround,
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables


# ---------------------------------------------------------------------------
# Sessions
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30


def _sessions(
    events: DataFrame, keep: tuple[str, ...] = (), gap_min: int = _SESSION_GAP_MIN
) -> DataFrame:
    """(user_id, ts, event_id, *keep, session_id): each user's events cut
    into sessions numbered from 1 in (ts, event_id) order. An event opens a
    session when it is its user's first event or its gap to the previous
    one is STRICTLY greater than ``gap_min`` minutes (``>``), so an event
    exactly ``gap_min`` after the previous one stays in its session. Spark's
    ``session_window`` (``stream_session``) follows the same rule: it merges
    the spans [ts, ts + gap) of events that overlap or touch."""
    # event_id breaks ts ties in both windows: ordered by ts alone, tied
    # rows scan in an engine-arbitrary order, and one tied with a session
    # start can land in the previous session (an intermittent oracle
    # mismatch on the ties tier)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    cols = ("user_id", "ts", "event_id", *keep)
    seq = events.select(
        *cols,
        F.when(prev.isNull() | (gap_us > gap_min * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return seq.select(*cols, F.sum("is_new").over(cum).alias("session_id"))


def _sessions_sql(
    events: str = "events",
    keep: tuple[str, ...] = (),
    gap_min: int = _SESSION_GAP_MIN,
) -> str:
    """DuckDB twin of ``_sessions``: a SELECT over the FROM item ``events``."""
    cols = ", ".join(("user_id", "ts", "event_id", *keep))
    return f"""SELECT {cols},
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM (
    SELECT {cols},
           CASE WHEN ts - lag(ts) OVER w > INTERVAL {gap_min} MINUTE
                OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
    FROM {events}
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )"""


@register(
    "events_sessionize_batch",
    oracle=f"""
WITH sess AS (
  {_sessions_sql()}
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       max(n_events) AS max_session_events,
       CAST(max(dur_us) AS BIGINT) AS max_session_dur_us
FROM per_session
GROUP BY user_id
ORDER BY user_id
""",
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with the 30-minute-gap rule of ``_sessions``
    (the offline twin of ``stream_session``'s session windows, which keep
    an event exactly 30 minutes after the previous one in its session
    too), rolled up per session and per user. All four
    windows/aggregations partition by user_id — one shuffle feeds the
    entire pipeline. Durations exported as epoch-µs deltas (sub-second
    timestamps never cross engines as strings)."""
    sess = _sessions(Tables(spark, sf_dir).events)
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("dur_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.max("dur_us").alias("max_session_dur_us"),
    )


@register(
    "events_sessions_bounce_rate",
    oracle=f"""
WITH sess AS (
  -- an event with no timestamp cannot be sessionized onto a day
  {_sessions_sql("(SELECT * FROM events WHERE ts IS NOT NULL)")}
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         date_trunc('day', min(ts)) AS day
  FROM sess GROUP BY user_id, session_id
)
SELECT day,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       floor(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS bounce_rate
FROM per_session GROUP BY day
""",
)
def events_sessions_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of 30-minute-gap sessions containing
    exactly one event, attributed to the day the session started — the
    engagement-quality headline next to events_dau_mau's volume view.
    Same single user-partitioned shuffle as events_sessionize_batch;
    the daily rollup is days-sized."""
    sess = _sessions(Tables(spark, sf_dir).events.where(F.col("ts").isNotNull()))
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_trunc("day", F.min("ts")).alias("day"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounces.cast("bigint").alias("n_bounces"),
        pround(bounces.cast("double") / F.count(F.lit(1))).alias(
            "bounce_rate"
        ),
    )


@register(
    "events_session_depth_survival",
    oracle=f"""
WITH sess AS (
  {_sessions_sql()}
),
lengths AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sess GROUP BY user_id, session_id
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_sessions FROM lengths)
SELECT k,
       CAST(n_ge_k AS BIGINT) AS n_sessions_ge_k,
       floor(CAST(n_ge_k AS DOUBLE) / n_sessions * 1000000 + 0.5) / 1000000
         AS survival
FROM (
  SELECT g.k, count(*) AS n_ge_k
  FROM (SELECT unnest(generate_series(1, 8)) AS k) g
  JOIN lengths l ON l.n_events >= g.k
  GROUP BY g.k
) CROSS JOIN tot
""",
)
def events_session_depth_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-depth survival curve: the share of sessions reaching at
    least k events, k = 1..8 — the engagement-depth complement of the
    bounce rate (its k=2 point is 1 − bounce), and the curve whose
    slope says where sessions die. Session lengths come from one
    sessionize pass; the ≥k counts join the 8-row k spine against the
    AGGREGATED lengths relation (the events_survival_weeks explode
    pattern) — never against raw events."""
    lengths = (
        _sessions(Tables(spark, sf_dir).events)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("n_sessions")
    )
    spine = spark.range(1, 9).select(F.col("id").alias("k"))
    ge_k = (
        F.broadcast(spine)
        .join(lengths, lengths.n_events >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_ge_k"))
    )
    return ge_k.crossJoin(F.broadcast(tot)).select(
        "k",
        F.col("n_ge_k").cast("bigint").alias("n_sessions_ge_k"),
        pround(F.col("n_ge_k").cast("double") / F.col("n_sessions")).alias(
            "survival"
        ),
    )


_GAPS_MIN = [15, 30, 60]


def _gap_cfg_sql(gap: int) -> str:
    return (
        "SELECT "
        + str(gap)
        + " AS gap_minutes, count(*) AS n_sessions, "
        + f"{percentile_sql('n_events', 0.5)} AS p50_events, "
        + "floor(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) "
        + "AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS bounce_rate "
        + "FROM lengths_"
        + str(gap)
    )


@register(
    "events_session_gap_sensitivity",
    oracle="WITH "
    + ",".join(
        f"""
sess_{g} AS (
  {_sessions_sql(gap_min=g)}
),
lengths_{g} AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sess_{g} GROUP BY user_id, session_id
)"""
        for g in _GAPS_MIN
    )
    + "\n"
    + "\nUNION ALL\n".join(_gap_cfg_sql(g) for g in _GAPS_MIN),
)
def events_session_gap_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sessionization gap-parameter sensitivity: the same corpus
    sessionized under 15 / 30 / 60-minute inactivity gaps, reporting
    session count, median depth, and bounce rate per configuration —
    the sweep that turns the 30-minute industry default into a
    justified choice for THIS traffic (the dedup_lsh_band_tuning
    introspection pattern applied to sessionization). Each config is
    one user-partitioned window pass; all three share the same scan."""
    e = Tables(spark, sf_dir).events
    out = None
    for gap in _GAPS_MIN:
        lengths = (
            _sessions(e, gap_min=gap)
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        cfg = lengths.agg(
            F.count(F.lit(1)).alias("n_sessions"),
            percentile("n_events", 0.5).alias("p50_events"),
            pround(bounce.cast("double") / F.count(F.lit(1))).alias(
                "bounce_rate"
            ),
        ).select(
            F.lit(gap).alias("gap_minutes"),
            "n_sessions",
            "p50_events",
            "bounce_rate",
        )
        out = cfg if out is None else out.unionByName(cfg)
    return out


@register(
    "events_peak_concurrency",
    oracle=f"""
WITH sess AS (
  -- an event with no timestamp cannot sit on a concurrency timeline
  {_sessions_sql("(SELECT * FROM events WHERE ts IS NOT NULL)")}
),
intervals AS (
  SELECT user_id, session_id,
         epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
  FROM sess GROUP BY user_id, session_id
),
deltas AS (
  SELECT start_us AS t, 1 AS d FROM intervals
  UNION ALL
  SELECT end_us + 1 AS t, -1 AS d FROM intervals
),
bounds AS (
  SELECT t, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY t
),
running AS (
  SELECT t,
         CAST(sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS conc
  FROM bounds
),
peaks AS (
  SELECT date_trunc('day', make_timestamp(t)) AS day,
         max(conc) AS peak_concurrency,
         count(*) AS n_boundary_points
  FROM running GROUP BY 1
),
starts AS (
  SELECT date_trunc('day', make_timestamp(start_us)) AS day,
         count(*) AS sessions_started
  FROM intervals GROUP BY 1
)
SELECT p.day, coalesce(s.sessions_started, 0) AS sessions_started,
       p.peak_concurrency, p.n_boundary_points
FROM peaks p LEFT JOIN starts s ON p.day = s.day
""",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line / interval-
    concurrency primitive (capacity planning, rate limiting). Sessions
    are 30-minute-gap sessionized (the events_sessionize_batch rule);
    each interval [start, end] emits +1 at start and -1 at end+1µs, and
    peak concurrency is the max of the boundary-point prefix sum.

    The prefix sum is DISTRIBUTED: a single global ordered window would
    serialize session-count boundary points through one partition at
    100 TB, so Spark computes it in two levels — a within-day running
    sum (partitioned window) plus each day's carried-in offset from a
    days-sized cumulative of per-day totals — the classic parallel
    scan decomposition. The oracle spells the same quantity as one
    global window; peaks are always attained at +1 boundary points, so
    the per-day max over boundary points is the true within-day peak.
    """
    sess = _sessions(Tables(spark, sf_dir).events.where(F.col("ts").isNotNull()))
    # intervals feeds THREE branches (start deltas, end deltas, per-day
    # session starts): cache the sessions-sized relation so the two-window
    # sessionize chain over events runs once, not per branch
    intervals = sess.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("end_us"),
    ).transform(op_cache)
    deltas = intervals.select(
        F.col("start_us").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        intervals.select(
            (F.col("end_us") + 1).alias("t"), F.lit(-1).alias("d")
        )
    )
    bounds = deltas.groupBy("t").agg(F.sum("d").alias("net"))
    # UTC session tz: LTZ->NTZ cast renders the same wall clock DuckDB's
    # tz-less make_timestamp(µs) produces; date_trunc timestamps (not
    # DATE) cross the compare harness losslessly (events_dau_mau idiom)
    day = F.date_trunc(
        "day", F.timestamp_micros(F.col("t")).cast("timestamp_ntz")
    )
    # level 1: running sum within each day (parallel across days)
    w_day = Window.partitionBy("day").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = bounds.withColumn("day", day).withColumn(
        "within", F.sum("net").over(w_day)
    )
    # level 2: days-sized carried-in offsets (broadcast back to level 1)
    day_tot = within.groupBy("day").agg(F.sum("net").alias("day_net"))
    w_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_tot.select(
        "day", F.coalesce(F.sum("day_net").over(w_days), F.lit(0)).alias("off")
    )
    conc = within.join(F.broadcast(offsets), "day").withColumn(
        "conc", F.col("off") + F.col("within")
    )
    peaks = conc.groupBy("day").agg(
        F.max("conc").alias("peak_concurrency"),
        F.count(F.lit(1)).alias("n_boundary_points"),
    )
    starts = intervals.groupBy(
        F.date_trunc(
            "day",
            F.timestamp_micros(F.col("start_us")).cast("timestamp_ntz"),
        ).alias("day")
    ).agg(F.count(F.lit(1)).alias("sessions_started"))
    return peaks.join(F.broadcast(starts), "day", "left").select(
        "day",
        F.coalesce("sessions_started", F.lit(0)).alias("sessions_started"),
        "peak_concurrency",
        "n_boundary_points",
    )


@register(
    "events_cep_triple_pattern",
    oracle=f"""
WITH sess AS (
  {_sessions_sql(keep=("event_type",))}
),
pat AS (
  SELECT user_id, session_id, event_type AS e1,
         lead(event_type, 1) OVER w2 AS e2,
         lead(event_type, 2) OVER w2 AS e3,
         lead(session_id, 2) OVER w2 AS s3
  FROM sess
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*) AS n_matches
FROM pat
WHERE e1 = 'view' AND e2 = 'click' AND e3 = 'purchase'
  AND s3 = session_id
GROUP BY user_id
""",
)
def events_cep_triple_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style pattern detection without a CEP engine:
    strictly consecutive view→click→purchase triples, all three inside
    ONE 30-minute session (a lead() across a session boundary must not
    match — checked by comparing the 3rd row's session id). The
    Flink-CEP/MATCH_RECOGNIZE workload expressed as two stacked windows
    over one user partitioning: sessionize, then a lead-chain predicate.
    Per-user match counts; strict contiguity is what separates this
    from events_markov_2step_paths' unconditional trigram census."""
    sess = _sessions(Tables(spark, sf_dir).events, keep=("event_type",))
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    pat = sess.select(
        "user_id",
        "session_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("session_id", 2).over(w).alias("s3"),
    )
    return (
        pat.filter(
            (F.col("e1") == "view")
            & (F.col("e2") == "click")
            & (F.col("e3") == "purchase")
            & (F.col("s3") == F.col("session_id"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


@register(
    "events_top_session_paths",
    oracle=f"""
WITH sess AS (
  {_sessions_sql(keep=("event_type",))}
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess
  GROUP BY user_id, session_id
  HAVING count(*) <= 8
),
counted AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY path)
SELECT path, n_sessions FROM (
  SELECT path, n_sessions,
         row_number() OVER (ORDER BY n_sessions DESC, path) AS rn
  FROM counted)
WHERE rn <= 20
""",
)
def events_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths: each 30-minute session rendered as its
    ordered event-type string (view>click>purchase…), counted across
    sessions — the "what do users actually do" report behind every
    funnel hypothesis. Sessions longer than 8 events are excluded (long
    tails are unique paths that never rank and only bloat the shuffle).
    Path strings are built ORDER-DETERMINISTICALLY: Spark sorts the
    collected (ts, event_id, type) structs before joining — collect_list
    alone has nondeterministic shuffle order (the §5.4 trap) — matching
    DuckDB's ordered string_agg. Top-20 cut is count-then-path
    deterministic."""
    sess = _sessions(Tables(spark, sf_dir).events, keep=("event_type",))
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    # the +inf sentinel sorts NULL-ts events LAST (struct
                    # field comparison would put them first; the oracle's
                    # ORDER BY ts is NULLS LAST) — event_id tiebreaks both
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.coalesce(
                                    F.col("ts"),
                                    F.lit("9999-12-31").cast("timestamp"),
                                ).alias("ts_k"),
                                "event_id",
                                "event_type",
                            )
                        )
                    ),
                    lambda s: s.getField("event_type"),
                ),
                ">",
            ).alias("path_raw"),
        )
        .filter(F.col("n_events") <= 8)
        # all-NULL-type sessions: array_join renders '', the oracle's
        # string_agg renders NULL — nullif pins the NULL contract (no
        # event_type in this corpus is the empty string)
        .withColumn("path", F.nullif(F.col("path_raw"), F.lit("")))
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    wr = Window.orderBy(F.desc("n_sessions"), F.asc_nulls_last("path"))
    return (
        counted.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select("path", "n_sessions")
    )


# ---------------------------------------------------------------------------
# Calendars and time series
# ---------------------------------------------------------------------------


def _user_day_calendar(daily: DataFrame) -> DataFrame:
    """(user_id, day): every day from each user's first to last ``day`` in
    ``daily``. The rows are generated map-side (sequence + explode), never
    collected, and bounded by each user's own span."""
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    return spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )


# DuckDB twin of _user_day_calendar, over a relation named daily
_USER_DAY_CALENDAR_SQL = """SELECT user_id,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM daily GROUP BY user_id)"""


@register(
    "events_gap_fill_locf",
    oracle=f"""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         {stable_rounded_sum_sql("value", 6)} AS day_value
  FROM events WHERE user_id % 50 = 0
  GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
),
calendar AS (
  {_USER_DAY_CALENDAR_SQL}
),
joined AS (
  SELECT c.user_id, c.day, d.day_value,
         count(d.day_value) OVER (PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM calendar c LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id, day,
       max(day_value) OVER (PARTITION BY user_id, grp) AS filled_value,
       CAST(day_value IS NULL AS BOOLEAN) AS was_gap
FROM joined
""",
)
def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward: each
    sampled user's daily value series is densified to a full calendar
    (sequence + explode — rows generated map-side, never collected) and
    gaps take the most recent observed value via last(ignorenulls) over an
    ordered window. One shuffle on user_id serves the window; the calendar
    explode is bounded by each user's own span. day_value accumulates
    order-independently (portable.py:stable_rounded_sum) so the value each
    gap CARRIES FORWARD is draw-deterministic — a boundary flip here would
    propagate into every filled day after it."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("user_id") % 50 == 0)
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(stable_rounded_sum("value", 6).alias("day_value"))
    )
    joined = _user_day_calendar(daily).join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # day goes out as timestamp_ntz: DuckDB DATE arrives in pandas as a
    # midnight datetime64, and Spark DateType as datetime.date — the driver
    # canonicalizer treats those as distinct values (same class as the
    # int-vs-float strictness), so both sides emit midnight timestamps
    return joined.select(
        "user_id",
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("day_value").isNull().alias("was_gap"),
    )


@register(
    "events_gap_fill_linear",
    oracle=f"""
WITH daily AS (
  -- finite gate (nan-tier contract): one NaN day total would ramp NaN
  -- into every interpolated neighbor, and floor-rounded NaN arithmetic
  -- diverges between the engines
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         {stable_rounded_sum_sql("value", 6)} AS day_value
  FROM events WHERE user_id % 50 = 0
    AND (value IS NULL OR isfinite(value))
  GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
),
calendar AS (
  {_USER_DAY_CALENDAR_SQL}
),
joined AS (
  SELECT c.user_id, c.day, d.day_value,
         last_value(d.day_value IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN d.day_value IS NOT NULL THEN c.day END
                    IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(d.day_value IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN d.day_value IS NOT NULL THEN c.day END
                     IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM calendar c LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id, day,
       CASE
         WHEN day_value IS NOT NULL THEN day_value
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           floor((pv + (nv - pv) * (CAST(day - pd AS DOUBLE)
                                    / CAST(nd - pd AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000
         WHEN pv IS NOT NULL THEN pv
         ELSE nv
       END AS filled_value,
       CAST(day_value IS NULL AS BOOLEAN) AS was_gap
FROM joined
""",
)
def events_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification with LINEAR interpolation — the two-sided
    sibling of events_gap_fill_locf for series where a gap should ramp
    between its endpoints (sensor readings, balances) instead of
    holding flat: filled = prev + (next − prev) · elapsed/gap_span,
    with one-sided gaps extended from the available endpoint. Four
    ignore-nulls windows over the SAME user-partitioned ordering — one
    shuffle serves them all; the calendar explode is bounded by each
    user's own span. The interpolation formula is written with
    identical operation order in both engines and portable-6dp-rounded
    (observed values pass through un-re-rounded)."""
    from ai_dataingestion_spark.functions.portable import finite

    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter((F.col("user_id") % 50 == 0) & finite("value"))
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        # order-independent endpoints (portable.py:stable_rounded_sum): a
        # boundary flip in one day total would ramp into every
        # interpolated day between its neighbors
        .agg(stable_rounded_sum("value", 6).alias("day_value"))
    )
    joined = _user_day_calendar(daily).join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward carry as a REVERSED running frame, not CURRENT..UNBOUNDED
    # FOLLOWING: Spark's unbounded-following frame re-scans the partition
    # tail per row (O(n²) — 186 s on the extremes tier's 83k-day calendar
    # span, measured round 10), while a running frame over the descending
    # order is a single O(n) pass. first(ignore nulls) at-or-after in
    # ascending order == last(ignore nulls) at-or-before in descending.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    pv = F.last("day_value", ignorenulls=True).over(wb)
    pd_ = F.last(obs_day, ignorenulls=True).over(wb)
    nv = F.last("day_value", ignorenulls=True).over(wf)
    nd = F.last(obs_day, ignorenulls=True).over(wf)
    interp = pround(
        pv
        + (nv - pv)
        * (
            F.datediff(F.col("day"), pd_).cast("double")
            / F.datediff(nd, pd_).cast("double")
        )
    )
    filled = (
        F.when(F.col("day_value").isNotNull(), F.col("day_value"))
        .when(pv.isNotNull() & nv.isNotNull(), interp)
        .when(pv.isNotNull(), pv)
        .otherwise(nv)
    )
    # day crosses as timestamp_ntz (the events_gap_fill_locf rule: DuckDB
    # DATE lands in pandas as midnight datetime64, Spark DateType as
    # datetime.date — distinct to the driver canonicalizer)
    return joined.select(
        "user_id",
        F.col("day").cast("timestamp_ntz").alias("day"),
        filled.alias("filled_value"),
        F.col("day_value").isNull().alias("was_gap"),
    )


@register(
    "events_timeseries_rollup",
    oracle="""
WITH spine AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS d
),
daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
)
SELECT CAST(s.d AS VARCHAR) AS day,
       coalesce(dy.n, 0) AS n,
       round(avg(coalesce(dy.n, 0)) OVER (
         ORDER BY s.d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
FROM spine s LEFT JOIN daily dy ON s.d = dy.d
""",
)
def events_timeseries_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily rollup + 7-day trailing mean: a generated date spine
    LEFT-JOINs the daily aggregate so silent gaps become explicit zeros
    (a rolling window over a gappy series silently averages the wrong
    days), then a rows-frame moving average. At 100 TB the spine is trivially
    broadcast and the daily aggregate is the only real shuffle."""
    e = Tables(spark, sf_dir).events
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (
        spine.join(daily, "d", "left")
        .select("d", F.coalesce("n_raw", F.lit(0)).alias("n"))
        .select(
            F.col("d").cast("string").alias("day"),
            "n",
            F.round(F.avg("n").over(w), 6).alias("ma7"),
        )
    )


@register(
    "events_hourly_matrix",
    oracle="""
SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
       count(*) AS n_events,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY dayofweek(ts), hour(ts)
""",
)
def events_hourly_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality matrix: event count and mean value per (day-of-week,
    hour-of-day) cell — a 7 x 24-bounded output at any corpus size, fully
    partial-aggregable (map-side combine carries 168 cells per task).
    Dialect note: Spark dayofweek() is 1=Sunday..7=Saturday; DuckDB
    dayofweek() is 0=Sunday..6 — aligned by matching Spark to DuckDB+1
    via the expression below."""
    t = Tables(spark, sf_dir)
    # Spark dayofweek: Sunday=1; DuckDB dayofweek: Sunday=0 -> use Spark-1
    return (
        t.events.groupBy(
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hod")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "events_dau_mau",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         date_trunc('month', ts) AS month,
         count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1, 2
),
monthly AS (
  SELECT date_trunc('month', ts) AS month,
         count(DISTINCT user_id) AS mau
  FROM events GROUP BY 1
)
SELECT d.day, d.dau, m.mau,
       round(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
FROM daily d JOIN monthly m USING (month)
""",
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU engagement: distinct users per day, per month, and the
    day-over-month stickiness ratio. Two partial-aggregable distinct
    counts; the day->month join is broadcast-sized (one row per month) at
    any scale. The month column rides along in the daily aggregate so the
    join needs no recomputation from day values."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("month", "ts").alias("month"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    monthly = e.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return daily.join(F.broadcast(monthly), "month").select(
        "day",
        "dau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
            "stickiness"
        ),
    )


@register(
    "events_rolling_7d_active_users",
    oracle="""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
expanded AS (
  SELECT user_id, day + CAST(off AS INT) AS window_day
  FROM user_days, unnest(generate_series(0, 6)) g(off)
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM user_days)
SELECT CAST(window_day AS TIMESTAMP) AS window_day,
       count(DISTINCT user_id) AS active_7d
FROM expanded CROSS JOIN bounds
WHERE window_day >= d0 AND window_day <= d1
GROUP BY window_day
""",
)
def events_rolling_7d_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day distinct active users per day — the windowed
    DISTINCT that neither window frames (no COUNT DISTINCT OVER) nor
    plain grouping can express — via the EXPLODE-OFFSET pattern: each
    distinct (user, day) activity emits itself into the 7 window-days
    it contributes to (map-side ×7 fan-out of user-day rows, never raw
    events), then one distinct-count per window-day. Calendar edges
    trimmed to observed days. This is the standard WAU/rolling-MAU
    shape at any scale: fan-out is bounded by window length, not data
    skew."""
    e = Tables(spark, sf_dir).events
    user_days = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    bounds = user_days.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    expanded = user_days.select(
        "user_id",
        F.explode(
            F.expr("sequence(0, 6)")
        ).alias("off"),
        "day",
    ).select(
        "user_id", F.expr("date_add(day, off)").alias("window_day")
    )
    return (
        expanded.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("window_day") >= F.col("d0"))
            & (F.col("window_day") <= F.col("d1"))
        )
        .groupBy(F.col("window_day").cast("timestamp").alias("window_day"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


_EWMA_ALPHA = 0.3


@register(
    "events_ewma_daily",
    oracle=f"""
WITH daily AS (
  -- NULL timestamps have no day: a daily series cannot seat them, and
  -- the two engines would disagree on which end of the sequence the
  -- NULL day occupies (t=0 poisons x0 on one side)
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS DOUBLE) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
seq AS (
  SELECT event_type, day, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t,
         first_value(x) OVER (PARTITION BY event_type ORDER BY day) AS x0
  FROM daily
),
acc AS (
  SELECT event_type, day, x, t, x0,
         sum(CASE WHEN t = 0 THEN 0.0
                  ELSE x * power({1 - _EWMA_ALPHA}, -t) END)
           OVER (PARTITION BY event_type ORDER BY t) AS wsum
  FROM seq
)
SELECT event_type, day, CAST(x AS BIGINT) AS n_events,
       round(power({1 - _EWMA_ALPHA}, t) * (x0 + {_EWMA_ALPHA} * wsum), 6)
         AS ewma
FROM acc
""",
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume per
    type (recursive y_t = (1-α)y_(t-1) + αx_t, y_0 = x_0) — the smoothing
    primitive of anomaly/trend monitors, expressed NON-recursively via the
    closed form y_t = (1-α)^t·x_0 + α·Σ (1-α)^(t-i)·x_i, which is one
    running window sum of power-weighted terms. The weight (1-α)^(-i)
    grows only to (0.7)^-30 ≈ 4e4 over this corpus's 30-day span, so the
    prefix-sum trick is numerically safe; both engines evaluate identical
    double math, rounded to 6 dp. One shuffle on event_type; window input
    is days × types — broadcast-sized at any event volume."""
    e = Tables(spark, sf_dir).events.where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    w_ord = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type",
        "day",
        "x",
        (F.row_number().over(w_ord) - 1).alias("t"),
        F.first("x").over(w_ord).alias("x0"),
    )
    w_acc = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    beta = 1 - _EWMA_ALPHA
    wsum = F.sum(
        F.when(F.col("t") == 0, 0.0).otherwise(
            F.col("x") * F.pow(F.lit(beta), -F.col("t"))
        )
    ).over(w_acc)
    return seq.select(
        "event_type",
        "day",
        F.col("x").cast("bigint").alias("n_events"),
        F.round(
            F.pow(F.lit(beta), F.col("t"))
            * (F.col("x0") + _EWMA_ALPHA * wsum),
            6,
        ).alias("ewma"),
    )


@register(
    "events_autocorrelation_daily",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY CAST(ts AS DATE)
),
pairs AS (
  SELECT k.lag, a.x AS x0, b.x AS x1
  FROM daily a
  JOIN (SELECT unnest(generate_series(1, 7)) AS lag) k ON true
  JOIN daily b ON b.day = a.day + CAST(k.lag AS INTEGER)
)
SELECT lag, count(*) AS n_pairs,
       round((avg(x0 * x1) - avg(x0) * avg(x1))
             / sqrt((avg(x0 * x0) - avg(x0) * avg(x0))
                    * (avg(x1 * x1) - avg(x1) * avg(x1))), 6) AS acf
FROM pairs GROUP BY lag
""",
)
def events_autocorrelation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1-7 —
    the weekly-seasonality detector. Aggregate-first: events collapse to
    the days-sized series in one shuffle; the lag pairing is a keyed
    self-join of that tiny relation against a 7-row lag spine (never the
    raw events), and Pearson r is raw power sums (identical on both
    engines)."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("day").alias("day0"), F.col("x").alias("x0"))
    b = daily.select(F.col("day").alias("day1"), F.col("x").alias("x1"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("day1 = date_add(day0, lag)"))
    )
    x0, x1 = F.col("x0"), F.col("x1")
    r = (F.avg(x0 * x1) - F.avg(x0) * F.avg(x1)) / F.sqrt(
        (F.avg(x0 * x0) - F.avg(x0) * F.avg(x0))
        * (F.avg(x1 * x1) - F.avg(x1) * F.avg(x1))
    )
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(r, 6).alias("acf"),
    )


@register(
    "events_rolling_corr_daily",
    oracle="""
WITH daily AS (
  -- NULL timestamps have no day; the engines would seat the NULL day at
  -- opposite ends of the rolling ORDER BY day sequence
  SELECT CAST(ts AS DATE) AS day,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS x,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
mom AS (
  SELECT day,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
         row_number() OVER (ORDER BY day) AS rn
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS VARCHAR) AS day,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
            ELSE round(
              CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS corr_7d
FROM mom WHERE rn >= 7
""",
)
def events_rolling_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between daily click and
    purchase volumes — the co-movement monitor behind 'did engagement
    decouple from conversion this week'. Correlation over a sliding
    frame isn't a built-in window aggregate in either engine, so it is
    assembled from the five moment sums (Σx, Σy, Σxy, Σx², Σy²), each
    an INTEGER window sum over the days-sized daily relation — exact in
    any accumulation order, so the only float op is the final fraction.
    Days with a degenerate window (zero variance) yield NULL on both
    sides; the first six ramp-up days are excluded by row_number."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.where(F.col("ts").isNotNull())  # oracle mirrors: no day
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    mom = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.where(F.col("rn") >= 7).select(
        F.col("day").cast("string").alias("day"),
        F.when(vx * vy == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                cov.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                6,
            )
        )
        .alias("corr_7d"),
    )


@register(
    "events_seasonal_naive_backtest",
    oracle="""
WITH daily AS (
  -- ts IS NOT NULL: a NULL day has no lag-7 seat, and the oracle
  -- engine's window over a NULL grouped date is nondeterministic
  -- (observed flipping across identical runs on this corpus)
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, n,
         lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
  FROM daily
),
scored AS (SELECT * FROM lagged WHERE fc IS NOT NULL)
SELECT event_type,
       count(*) AS n_days_scored,
       CAST(sum(abs(n - fc)) AS BIGINT) AS abs_err_sum,
       floor(CAST(sum(abs(n - fc)) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mae,
       floor(sqrt(CAST(sum((n - fc) * (n - fc)) AS DOUBLE) / count(*))
             * 1000000 + 0.5) / 1000000 AS rmse,
       CAST(sum(n - fc) AS BIGINT) AS bias
FROM scored GROUP BY event_type
""",
)
def events_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event volume
    with the same weekday's count one week earlier (lag-7) and score
    MAE / RMSE / bias per type — THE baseline every fancier forecaster
    must beat before it earns a deploy (and the denominator of a MASE
    score). Error sums are exact integer arithmetic; the two final
    divisions and the sqrt are portable-rounded. Windows run over the
    types×days aggregate — broadcast-sized at any event volume."""
    e = Tables(spark, sf_dir).events.where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn("fc", F.lag("n", 7).over(w)).filter(
        F.col("fc").isNotNull()
    )
    err = F.col("n") - F.col("fc")
    cnt = F.count(F.lit(1))
    return scored.groupBy("event_type").agg(
        cnt.alias("n_days_scored"),
        F.sum(F.abs(err)).cast("bigint").alias("abs_err_sum"),
        pround(F.sum(F.abs(err)).cast("double") / cnt).alias("mae"),
        pround(F.sqrt(F.sum(err * err).cast("double") / cnt)).alias("rmse"),
        F.sum(err).cast("bigint").alias("bias"),
    )


@register(
    "events_wow_change_contributions",
    oracle="""
WITH cells AS (
  -- a NULL timestamp has no week; the engines would seat the NULL week
  -- at opposite ends of each type's lag sequence
  SELECT date_trunc('week', ts) AS m, event_type, count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
lagged AS (
  SELECT m, event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY m) AS prev_n
  FROM cells
),
deltas AS (
  SELECT m, event_type, n, n - prev_n AS delta
  FROM lagged WHERE prev_n IS NOT NULL
)
SELECT m, event_type,
       CAST(n AS BIGINT) AS n,
       CAST(delta AS BIGINT) AS delta,
       CAST(sum(delta) OVER (PARTITION BY m) AS BIGINT) AS total_delta,
       CASE WHEN sum(delta) OVER (PARTITION BY m) <> 0 THEN
         floor(CAST(delta AS DOUBLE)
               / CAST(sum(delta) OVER (PARTITION BY m) AS DOUBLE)
               * 1000000 + 0.5) / 1000000
       END AS contribution_share
FROM deltas
""",
)
def events_wow_change_contributions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Week-over-week change decomposition (the waterfall chart's
    data — the events corpus spans ONE month, so weeks are the
    non-degenerate period): per (week, type), the volume delta vs the
    prior week and its share of the week's TOTAL change — the "which segment moved
    the number" attribution every growth review starts with, exact
    because Δtotal ≡ ΣΔtype. Integer deltas; the only division is the
    guarded share. Windows over the weeks×types aggregate."""
    e = Tables(spark, sf_dir).events.where(F.col("ts").isNotNull())
    cells = e.groupBy(
        F.date_trunc("week", "ts").alias("m"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w_lag = Window.partitionBy("event_type").orderBy("m")
    deltas = (
        cells.withColumn("prev_n", F.lag("n").over(w_lag))
        .filter(F.col("prev_n").isNotNull())
        .withColumn("delta", F.col("n") - F.col("prev_n"))
    )
    w_m = Window.partitionBy("m")
    total = F.sum("delta").over(w_m)
    return deltas.select(
        "m",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("delta").cast("bigint").alias("delta"),
        total.cast("bigint").alias("total_delta"),
        F.when(
            total != 0,
            pround(F.col("delta").cast("double") / total.cast("double")),
        ).alias("contribution_share"),
    )


@register(
    "events_hour_gap_ranges",
    oracle="""
WITH span AS (
  SELECT event_type,
         min(date_trunc('hour', ts)) AS h0,
         max(date_trunc('hour', ts)) AS h1
  FROM events GROUP BY event_type
),
calendar AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM span
),
observed AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hour FROM events
),
missing AS (
  SELECT c.event_type, c.hour,
         row_number() OVER (PARTITION BY c.event_type ORDER BY c.hour) AS rn
  FROM calendar c ANTI JOIN observed o
    ON c.event_type = o.event_type AND c.hour = o.hour
)
SELECT event_type,
       min(hour) AS gap_start, max(hour) AS gap_end,
       count(*) AS n_hours
FROM missing
GROUP BY event_type, hour - rn * INTERVAL 1 HOUR
""",
)
def events_hour_gap_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-gap detection: for each event type, the contiguous hour
    ranges inside its [first, last] span with NO events — the backfill
    work-list of an ingest pipeline. Aggregate-first: the dense hourly
    calendar is sequence()-exploded from the types-sized span relation
    (span-bounded, not event-bounded), missing hours are an anti join
    against the distinct observed hours, and ranges come from the
    gaps-and-islands rn-difference key. Everything past the two distinct
    reductions is calendar-sized."""
    t = Tables(spark, sf_dir)
    hour = F.date_trunc("hour", "ts")
    span = t.events.groupBy("event_type").agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    calendar = span.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    observed = t.events.select(
        "event_type", hour.alias("hour")
    ).distinct()
    missing = calendar.join(observed, ["event_type", "hour"], "left_anti")
    w = Window.partitionBy("event_type").orderBy("hour")
    keyed = missing.select(
        "event_type",
        "hour",
        (
            # rn cast to LONG before the multiply: a multi-century gap
            # calendar puts rn in the millions and rn*3600 past int32
            F.col("hour").cast("long")
            - F.row_number().over(w).cast("long") * 3600
        ).alias("island"),
    )
    return keyed.groupBy("event_type", "island").agg(
        F.min("hour").alias("gap_start"),
        F.max("hour").alias("gap_end"),
        F.count(F.lit(1)).alias("n_hours"),
    ).select("event_type", "gap_start", "gap_end", "n_hours")


@register(
    "events_max_sliding_hour_rate",
    oracle="""
WITH sec AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
rates AS (
  SELECT event_type,
         count(*) OVER (PARTITION BY event_type ORDER BY t
                        RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
           AS hour_count
  FROM sec
)
SELECT event_type,
       CAST(max(hour_count) AS BIGINT) AS max_hour_count,
       count(*) AS n_events
FROM rates GROUP BY event_type
""",
)
def events_max_sliding_hour_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak TRUE-sliding one-hour event rate per type: for every event,
    how many same-type events landed in the trailing 3600 s, then the
    max — the rate-limiter / burst-SLA view that bucketed variants
    (events_error_burst_5min) systematically understate when a burst
    straddles a bucket edge. The time-interval RANGE frame (§2.E's
    value-range frame applied to epoch seconds) makes the window
    VALUE-based: timestamp ties all share one frame, so the count is
    deterministic with no tie-break key needed. One shuffle on
    event_type; the frame never materializes the hour — Spark's
    running RANGE frame is O(n) per partition."""
    e = Tables(spark, sf_dir).events
    sec = e.select(
        "event_type",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
        ).alias("t"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rangeBetween(-3599, Window.currentRow)
    )
    rates = sec.select(
        "event_type", F.count(F.lit(1)).over(w).alias("hour_count")
    )
    return rates.groupBy("event_type").agg(
        F.max("hour_count").cast("bigint").alias("max_hour_count"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "events_interarrival_burstiness",
    oracle="""
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS d
  FROM events
),
mom AS (
  SELECT event_type,
         count(*) AS n,
         sum(d) AS s1,
         sum(CAST(d AS HUGEINT) * d) AS s2
  FROM gaps WHERE d IS NOT NULL
  GROUP BY event_type
),
stats AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / n / 1000000.0 AS mu,
         sqrt(CAST(CAST(n AS HUGEINT) * s2
                   - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1))) / 1000000.0 AS sd
  FROM mom
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_gaps,
       round(mu, 6) AS mean_gap_s,
       round(sd, 6) AS sd_gap_s,
       round(sd / mu, 6) AS cv,
       round((sd - mu) / (sd + mu), 6) AS burstiness
FROM stats
""",
)
def events_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-arrival burstiness per event type: the Goh–Barabási index
    B = (σ−μ)/(σ+μ) of the gap distribution (−1 = metronome, 0 =
    Poisson, →1 = heavy-tailed bursts) plus the coefficient of
    variation. The portability trap: stddev_samp on ~10⁹-magnitude
    microsecond gaps diverges across engines' accumulation algorithms
    beyond 6-dp rounding, so the variance is assembled from EXACT
    integer moment sums instead — Σd in BIGINT, Σd² in DECIMAL(38,0)
    (HUGEINT on the oracle side) — and floats appear only in the final
    n·Σd²−(Σd)² → double conversion, identical on both engines. Gaps
    order by (ts, event_id) so timestamp ties break deterministically;
    one corpus shuffle on event_type for the lag, then a 5-row rollup."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("ts"), "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("d")
    ).where(F.col("d").isNotNull())
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("s2"),
    )
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    )
    mu = F.col("s1").cast("double") / F.col("n") / 1e6
    sd = (
        F.sqrt(
            num.cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        )
        / 1e6
    )
    stats = mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        mu.alias("mu"),
        sd.alias("sd"),
    )
    return stats.select(
        "event_type",
        "n_gaps",
        F.round("mu", 6).alias("mean_gap_s"),
        F.round("sd", 6).alias("sd_gap_s"),
        F.round(F.col("sd") / F.col("mu"), 6).alias("cv"),
        F.round(
            (F.col("sd") - F.col("mu")) / (F.col("sd") + F.col("mu")), 6
        ).alias("burstiness"),
    )


_TWO_PI = 2 * math.pi


@register(
    "events_circular_time_stats",
    oracle=f"""
WITH ang AS (
  SELECT event_type,
         {_TWO_PI} * (CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 86400.0
           AS theta
  FROM events
),
mom AS (
  SELECT event_type, count(*) AS n,
         {grid_sum_sql("cos(theta)")} AS sc,
         {grid_sum_sql("sin(theta)")} AS ss
  FROM ang GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       round(sqrt(sc * sc + ss * ss) / n, 6) AS resultant_length,
       round(
         (CASE WHEN atan2(ss, sc) < 0
               THEN atan2(ss, sc) + {_TWO_PI}
               ELSE atan2(ss, sc) END) * 24.0 / {_TWO_PI}, 4)
         AS mean_hour
FROM mom
""",
)
def events_circular_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics of event time-of-day per type:
    hours live on a circle, so the arithmetic mean of 23:00 and 01:00
    is the nonsense 12:00 — the right estimator maps each time to an
    angle and averages the unit vectors: mean hour from atan2(Σsin,
    Σcos) and concentration R = |Σe^iθ|/n (R→0: uniform around the
    clock, R→1: sharply peaked). The stability rule: on near-uniform
    data Σcos/Σsin are small differences of large sums, and atan2
    AMPLIFIES accumulation-order noise — so both vector sums
    accumulate on the exact 1e-6 integer grid (portable.py:grid_sum:
    bit-identical per-term quantization with pure IEEE ops, exact
    order-independent BIGINT sum — no decimal-cast midpoint semantics
    on trial) BEFORE atan2, making the angle bit-identical AND
    draw-deterministic. One shuffle to the 5-type rollup."""
    e = Tables(spark, sf_dir).events
    theta = (
        F.lit(_TWO_PI)
        * (
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
            )
            % 86400
        )
        / 86400.0
    )
    mom = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        grid_sum(F.cos(theta)).alias("sc"),
        grid_sum(F.sin(theta)).alias("ss"),
    )
    ang = F.atan2(F.col("ss"), F.col("sc"))
    wrapped = F.when(ang < 0, ang + _TWO_PI).otherwise(ang)
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(
            F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
            / F.col("n"),
            6,
        ).alias("resultant_length"),
        F.round(wrapped * 24.0 / _TWO_PI, 4).alias("mean_hour"),
    )


_ARRIVAL_BUCKET = 1000  # events per arrival bucket (event_id DIV 1000)


@register(
    "events_late_arrival_audit",
    oracle=f"""
WITH feed AS (
  -- injected disorder: every 37th event's event-time shifts back by
  -- 1..7 minutes while its ARRIVAL position (event_id) stays put
  SELECT event_id, event_type,
         CASE WHEN event_id % 37 = 0
              THEN ts - to_minutes(CAST(event_id % 7 + 1 AS BIGINT))
              ELSE ts END AS ts,
         event_id // {_ARRIVAL_BUCKET} AS bkt
  FROM events
),
bucket_max AS (
  SELECT event_type, bkt, max(ts) AS bmax
  FROM feed GROUP BY event_type, bkt
),
wm AS (
  SELECT event_type, bkt,
         max(bmax) OVER (PARTITION BY event_type ORDER BY bkt
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS watermark
  FROM bucket_max
),
scored AS (
  SELECT f.event_type,
         CASE
           WHEN w.watermark IS NULL OR f.ts >= w.watermark THEN 'on_time'
           WHEN epoch_us(w.watermark) - epoch_us(f.ts) <= 60000000
             THEN 'late_1m'
           WHEN epoch_us(w.watermark) - epoch_us(f.ts) <= 300000000
             THEN 'late_5m'
           ELSE 'late_over_5m'
         END AS lateness_band
  FROM feed f JOIN wm w
    ON f.event_type = w.event_type AND f.bkt = w.bkt
)
SELECT event_type, lateness_band, count(*) AS n
FROM scored GROUP BY event_type, lateness_band
""",
)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning audit: how late do events actually arrive? Event
    time is compared against the per-type watermark carried into each
    ARRIVAL bucket (1000-event ingestion batches by event_id — arrival
    order), and lateness is banded on_time / ≤1 min / ≤5 min / >5 min —
    exactly the histogram that justifies a `withWatermark` delay choice
    for stream_watermark_late. The corpus arrives perfectly ordered
    (measured: zero late events), so disorder is deterministically
    injected: every 37th event's event-time shifts back 1-7 minutes
    while its arrival position stays put. Scale shape: the watermark is
    a running max over the BUCKETS-sized aggregate (never an
    events-sized ordered window), joined back by (type, bucket)."""
    e = Tables(spark, sf_dir).events
    shifted = F.when(
        F.col("event_id") % 37 == 0,
        F.col("ts")
        - F.make_interval(mins=(F.col("event_id") % 7 + 1).cast("int")),
    ).otherwise(F.col("ts"))
    feed = e.select(
        "event_id",
        "event_type",
        shifted.alias("ts"),
        (F.col("event_id") / _ARRIVAL_BUCKET).cast("bigint").alias("bkt"),
    )
    bucket_max = feed.groupBy("event_type", "bkt").agg(
        F.max("ts").alias("bmax")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = bucket_max.select(
        "event_type", "bkt", F.max("bmax").over(w).alias("watermark")
    )
    joined = feed.join(F.broadcast(wm), ["event_type", "bkt"])
    late_us = F.unix_micros(F.col("watermark").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    band = (
        F.when(
            F.col("watermark").isNull() | (F.col("ts") >= F.col("watermark")),
            "on_time",
        )
        .when(late_us <= 60_000_000, "late_1m")
        .when(late_us <= 300_000_000, "late_5m")
        .otherwise("late_over_5m")
    )
    return joined.groupBy(
        "event_type", band.alias("lateness_band")
    ).agg(F.count(F.lit(1)).alias("n"))


_WEEK_S = 7 * 24 * 3600


@register(
    "events_pit_training_features",
    oracle=f"""
WITH sec AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS day,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
),
feat AS (
  SELECT day, event_type,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           OVER w AS trailing_clicks,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER w AS trailing_views,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           OVER w AS trailing_errors
  FROM sec
  WINDOW w AS (PARTITION BY user_id ORDER BY t
               RANGE BETWEEN {_WEEK_S} PRECEDING AND 1 PRECEDING)
)
SELECT CAST(day AS VARCHAR) AS day,
       count(*) AS n_purchases,
       round(avg(coalesce(trailing_clicks, 0)), 6) AS avg_trailing_clicks,
       round(avg(coalesce(trailing_views, 0)), 6) AS avg_trailing_views,
       round(avg(coalesce(trailing_errors, 0)), 6) AS avg_trailing_errors
FROM feat WHERE event_type = 'purchase'
GROUP BY day
""",
)
def events_pit_training_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time-correct training-feature assembly — the
    feature-store pattern behind leakage-free ML datasets: for every
    purchase (the label event), per-user behavioral counts over the
    trailing 7 days STRICTLY BEFORE the purchase second (the RANGE
    frame ends at 1 PRECEDING, so nothing co-timed with or after the
    label leaks into its features; join_asof picks one nearest value,
    this aggregates a whole window). The frame is value-based on epoch
    seconds — deterministic under timestamp ties, no tie-break key
    needed — and all three feature columns come from ONE window pass
    over the user partition; the label filter then drops to the
    days-sized report. One corpus shuffle on user_id."""
    e = Tables(spark, sf_dir).events
    sec = e.select(
        "user_id",
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
        ).alias("t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-_WEEK_S, -1)
    )
    feat = sec.select(
        "day",
        "event_type",
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .over(w)
        .alias("trailing_clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .over(w)
        .alias("trailing_views"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w)
        .alias("trailing_errors"),
    )
    return (
        feat.where(F.col("event_type") == "purchase")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.avg(F.coalesce("trailing_clicks", F.lit(0))), 6
            ).alias("avg_trailing_clicks"),
            F.round(
                F.avg(F.coalesce("trailing_views", F.lit(0))), 6
            ).alias("avg_trailing_views"),
            F.round(
                F.avg(F.coalesce("trailing_errors", F.lit(0))), 6
            ).alias("avg_trailing_errors"),
        )
    )


# ---------------------------------------------------------------------------
# Anomaly and rate screens
# ---------------------------------------------------------------------------


@register(
    "events_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
  FROM daily GROUP BY event_type
)
SELECT d.event_type, CAST(d.d AS VARCHAR) AS day, d.n,
       round((d.n - s.mu) / s.sigma, 6) AS z
FROM daily d JOIN stats s ON d.event_type = s.event_type
WHERE abs((d.n - s.mu) / s.sigma) >= 1.5
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection (pipeline observability): per-type daily
    counts z-scored against that type's own mean/stddev; days beyond
    |z| >= 1.5 are flagged. Two partial-aggregable passes with the tiny
    stats table broadcast back — the same shape as quality_outlier_iqr but
    over a derived time series. z is a quotient of identically-computed
    doubles, stable at 6 dp."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) >= 1.5)
        .select(
            "event_type",
            F.col("d").cast("string").alias("day"),
            "n",
            F.round(z, 6).alias("z"),
        )
    )


@register(
    "events_anomaly_mad",
    oracle=f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, {percentile_sql("n", 0.5)} AS med FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS adev
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
mad AS (
  SELECT event_type, {percentile_sql("adev", 0.5)} AS mad FROM dev GROUP BY 1
)
SELECT d.event_type, d.day, d.n,
       floor(0.6745 * (d.n - d.med) / nullif(m.mad, 0) * 1000000 + 0.5)
         / 1000000 AS robust_z,
       CAST(CASE WHEN abs(0.6745 * (d.n - d.med) / nullif(m.mad, 0)) > 3.5
                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM dev d JOIN mad m ON d.event_type = m.event_type
""",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen on daily event volumes: the median-absolute-
    deviation z-score 0.6745·(x − median)/MAD with the |z| > 3.5 flag
    (Iglewicz-Hoaglin) — the outlier-resistant twin of
    events_anomaly_zscore, which a single traffic spike can mask by
    inflating the stddev it is judged against. Two types-sized median
    aggregates broadcast back onto the (type, day) grid; daily counts are
    integers and medians interpolate at exact binary halves, so the only
    rounding layer needed is the portable 6-dp formula on the ratio."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(percentile("n", 0.5).alias("med"))
    # dev feeds BOTH the MAD aggregate and the final select: cache the
    # (types x days)-sized grid so events is scanned once, not per branch
    dev = (
        daily.join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("n") - F.col("med")))
        .transform(op_cache)
    )
    mad = dev.groupBy("event_type").agg(percentile("adev", 0.5).alias("mad"))
    z = (
        F.lit(0.6745)
        * (F.col("n") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            "n",
            pround(z).alias("robust_z"),
            F.when(F.abs(z) > 3.5, 1).otherwise(0).cast("int").alias(
                "is_anomaly"
            ),
        )
    )


@register(
    "events_value_winsorized_stats",
    oracle="""
WITH cuts AS (
  -- DISC percentiles: the cuts must be actual data values, not
  -- interpolations — at sfx1.0 the interpolated cut lands INSIDE a tie
  -- run and the engines' last-ulp interpolation differences flip the
  -- hard value<p05 comparison for the whole tie group (measured: a
  -- 50-row n_clamped drift). percentile_disc/quantile_disc agree
  -- bit-exactly cross-engine (win_percentile_disc_vs_cont).
  SELECT event_type,
         CAST(quantile_disc(value, 0.05) AS DOUBLE) AS p05,
         CAST(quantile_disc(value, 0.95) AS DOUBLE) AS p95
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n,
       floor(CAST(sum(CAST(e.value AS DECIMAL(38, 6))) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS mean_raw,
       floor(CAST(sum(CAST(least(greatest(e.value, c.p05), c.p95)
                           AS DECIMAL(38, 6))) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS mean_winsorized,
       CAST(sum(CASE WHEN e.value < c.p05 OR e.value > c.p95
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
FROM events e JOIN cuts c ON e.event_type = c.event_type
WHERE (e.value IS NULL OR isfinite(e.value))
GROUP BY e.event_type
""",
)
def events_value_winsorized_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorized mean per event type: values clamped to [p05, p95]
    (DISC percentiles — actual data values, so the clamp boundary is
    tie-stable cross-engine at any scale) before averaging — the robust-stats answer to 'one whale event
    wrecked the average' that a trimmed count can't give (n is
    preserved). The corpus value column carries exactly 2 decimals, so
    the DECIMAL(38,6) accumulation is EXACT (order-independent) and
    each mean is one portable-rounded IEEE division; the percentile
    cut relation is types-sized and broadcasts back. Two aggregate
    passes over events, no window. Gated to the FINITE domain (nan-tier
    contract, mirrored in the oracle): winsorization exists to clamp
    whales, but clamping NaN is undefined (least/greatest NaN ordering
    diverges cross-engine) and ±Inf breaks the exact DECIMAL sums —
    non-finite rows are quarantined, not clamped."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    cuts = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").alias(
            "p05"
        ),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias(
            "p95"
        ),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    n = F.count(F.lit(1))
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            n.alias("n"),
            pround(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double") / n
            ).alias("mean_raw"),
            pround(
                F.sum(clamped.cast("decimal(38,6)")).cast("double") / n
            ).alias("mean_winsorized"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("p05"))
                    | (F.col("value") > F.col("p95")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clamped"),
        )
    )


@register(
    "events_error_burst_5min",
    oracle="""
WITH buckets AS (
  SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
         count(*) AS n_errors
  FROM events WHERE event_type = 'error'
  GROUP BY 1
),
stats AS (
  SELECT bucket, n_errors,
         avg(n_errors) OVER () AS mu,
         sqrt(avg(n_errors * n_errors) OVER ()
              - avg(n_errors) OVER () * avg(n_errors) OVER ()) AS sigma
  FROM buckets
)
SELECT bucket, n_errors,
       round((n_errors - mu) / sigma, 6) AS zscore
FROM stats
WHERE n_errors > mu + 3 * sigma
""",
)
def events_error_burst_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection at 5-minute granularity: buckets whose
    error count exceeds mean + 3σ of the bucket distribution — the
    paging rule of an ingest monitor, and the fine-grained sibling of
    events_anomaly_zscore (daily). Buckets are integer epoch/300 keys
    (no timestamp-zone parity surface); σ is population form from raw
    power sums; all windows run over the buckets-sized relation."""
    t = Tables(spark, sf_dir)
    buckets = (
        t.events.filter(F.col("event_type") == "error")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 300).cast("bigint").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    w = Window.partitionBy()
    n = F.col("n_errors")
    stats = buckets.select(
        "bucket",
        "n_errors",
        F.avg(n).over(w).alias("mu"),
        F.sqrt(
            F.avg(n * n).over(w) - F.avg(n).over(w) * F.avg(n).over(w)
        ).alias("sigma"),
    )
    return stats.filter(
        n > F.col("mu") + 3 * F.col("sigma")
    ).select(
        "bucket",
        "n_errors",
        F.round((n - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
    )


@register(
    "events_alert_rules",
    oracle=f"""
WITH totals AS (
  SELECT count(*) AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
  FROM events
),
daily AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1
),
daily_stats AS (
  SELECT min(CAST(n AS DOUBLE)) AS min_daily,
         CAST(sum(n) AS DOUBLE) / count(*) AS mean_daily
  FROM daily
),
p95v AS (
  -- finite gate (nan-tier contract): the engines' quantile kernels
  -- disagree on NaN placement, and an alert threshold compared to NaN
  -- never fires — rank the observable domain only
  SELECT {percentile_sql("value", 0.95)} AS p95 FROM events
  WHERE (value IS NULL OR isfinite(value))
)
SELECT 'error_rate_gt_19pct' AS rule,
       floor(CAST(n_err AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS metric,
       0.19 AS threshold,
       CAST(CASE WHEN CAST(n_err AS DOUBLE) / n > 0.19
                 THEN 1 ELSE 0 END AS INT) AS fired
FROM totals
UNION ALL
SELECT 'daily_volume_drop_gt_50pct',
       floor(min_daily / mean_daily * 1000000 + 0.5) / 1000000,
       0.5,
       CAST(CASE WHEN min_daily / mean_daily < 0.5 THEN 1 ELSE 0 END AS INT)
FROM daily_stats
UNION ALL
SELECT 'value_p95_gt_100',
       floor(p95 * 1000000 + 0.5) / 1000000,
       100.0,
       CAST(CASE WHEN p95 > 100 THEN 1 ELSE 0 END AS INT)
FROM p95v
""",
)
def events_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative monitoring rules engine: three alert rules (error
    share, worst-day volume drop vs mean, value p95 ceiling) evaluated
    over the corpus into one (rule, metric, threshold, fired) report —
    the operator a scheduler runs after every ingest, and the shape
    (metric expression + threshold + comparator per row) that makes
    alert definitions DATA instead of code. Each rule is an
    aggregate-first scalar; thresholds are literals shared verbatim
    with the oracle; metrics are portable-rounded, firing decisions
    computed on the UNROUNDED metric in both engines."""
    e = Tables(spark, sf_dir).events
    totals = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
    )
    err_rate = F.col("n_err").cast("double") / F.col("n")
    r1 = totals.select(
        F.lit("error_rate_gt_19pct").alias("rule"),
        pround(err_rate).alias("metric"),
        F.lit(0.19).alias("threshold"),
        F.when(err_rate > 0.19, 1).otherwise(0).cast("int").alias("fired"),
    )
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ds = daily.agg(
        F.min(F.col("n").cast("double")).alias("min_daily"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_daily"),
    )
    drop = F.col("min_daily") / F.col("mean_daily")
    r2 = ds.select(
        F.lit("daily_volume_drop_gt_50pct").alias("rule"),
        pround(drop).alias("metric"),
        F.lit(0.5).alias("threshold"),
        F.when(drop < 0.5, 1).otherwise(0).cast("int").alias("fired"),
    )
    # finite gate on the ranked metric only (nan-tier contract, mirrored
    # in the oracle's p95v CTE); the count-based rules keep every row
    from ai_dataingestion_spark.functions.portable import finite

    p95 = e.where(finite("value")).agg(percentile("value", 0.95).alias("p95"))
    r3 = p95.select(
        F.lit("value_p95_gt_100").alias("rule"),
        pround(F.col("p95")).alias("metric"),
        F.lit(100.0).alias("threshold"),
        F.when(F.col("p95") > 100, 1).otherwise(0).cast("int").alias("fired"),
    )
    return r1.unionByName(r2).unionByName(r3)


@register(
    "events_pchart_error_rate",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         count(*) AS n,
         count(CASE WHEN event_type = 'error' THEN 1 END) AS x
  FROM events GROUP BY 1
),
g AS (
  SELECT day, n, x,
         CAST(sum(x) OVER () AS DOUBLE) / sum(n) OVER () AS pbar
  FROM daily
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n AS BIGINT) AS n_events,
       CAST(x AS BIGINT) AS n_errors,
       round(CAST(x AS DOUBLE) / n, 6) AS rate,
       round(greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n), 0.0), 6)
         AS lcl,
       round(pbar + 3 * sqrt(pbar * (1 - pbar) / n), 6) AS ucl,
       CAST(x AS DOUBLE) / n
         > pbar + 3 * sqrt(pbar * (1 - pbar) / n)
       OR CAST(x AS DOUBLE) / n
         < greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n), 0.0)
         AS out_of_control
FROM g
""",
)
def events_pchart_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart over the daily error-event share: 3σ binomial
    control limits around the center line p̄ = Σx/Σn, with per-day
    limits widening on low-volume days (the √(p̄(1−p̄)/n_t) term) — the
    attribute-control-chart sibling of lineitem_quantity_cusum_shift
    (which detects small sustained shifts; the p-chart flags single
    out-of-control days). Everything derives from exact integer daily
    counts and two window totals over the days-sized relation; the
    flag compares the SAME float expressions on both engines, so no
    epsilon is needed at the boundary."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("x"),
    )
    w_all = Window.partitionBy()
    g = daily.select(
        "day",
        "n",
        "x",
        (
            F.sum("x").over(w_all).cast("double")
            / F.sum("n").over(w_all)
        ).alias("pbar"),
    )
    rate = F.col("x").cast("double") / F.col("n")
    sig = F.sqrt(
        F.col("pbar") * (1 - F.col("pbar")) / F.col("n")
    )
    lcl = F.greatest(F.col("pbar") - 3 * sig, F.lit(0.0))
    ucl = F.col("pbar") + 3 * sig
    return g.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("x").cast("bigint").alias("n_errors"),
        F.round(rate, 6).alias("rate"),
        F.round(lcl, 6).alias("lcl"),
        F.round(ucl, 6).alias("ucl"),
        ((rate > ucl) | (rate < lcl)).alias("out_of_control"),
    )


@register(
    "events_bot_rate_flag",
    oracle="""
WITH rate AS (
  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         max(n) AS peak_daily,
         CAST(sum(n) AS BIGINT) AS total_events,
         count(*) AS active_days
  FROM rate GROUP BY user_id
)
SELECT user_id, peak_daily, total_events, active_days
FROM per_user WHERE peak_daily >= 7
""",
)
def events_bot_rate_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based bot/abuse screen (the ingestion gate a training pipeline
    runs before trusting behavioral data): bucket events per (user, day),
    flag users whose peak daily rate >= 7 (the measured p99+ of this
    corpus), reporting peak, volume, and active days. Two stacked
    partial-aggregable groupBys — the (user, day) relation is the only
    shuffle that scales with data, and it carries counts, not events."""
    e = Tables(spark, sf_dir).events
    rate = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_user = rate.groupBy("user_id").agg(
        F.max("n").alias("peak_daily"),
        F.sum("n").alias("total_events"),
        F.count(F.lit(1)).alias("active_days"),
    )
    return per_user.filter(F.col("peak_daily") >= 7)


# ---------------------------------------------------------------------------
# Funnels, retention, paths and attribution
# ---------------------------------------------------------------------------


@register(
    "events_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT count(*)                                             AS n_users,
       count(t_signup)                                      AS n_signup,
       count(CASE WHEN t_click > t_signup THEN 1 END)       AS n_click_after,
       count(CASE WHEN t_purchase > t_click
                   AND t_click > t_signup THEN 1 END)       AS n_full_funnel
FROM firsts
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup → first click after signup → first purchase
    after that click. One conditional-min aggregation pass per user, then a
    single funnel rollup — no self-joins (each stage gate is a comparison
    of first-occurrence times), which is what keeps funnels linear-cost at
    100 TB."""
    e = Tables(spark, sf_dir).events
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1)).alias(
            "n_click_after"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "events_funnel_time_bounded",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_viewed,
       (SELECT count(*) FROM c) AS n_clicked_24h,
       (SELECT count(*) FROM p) AS n_purchased_24h
""",
)
def events_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: first view → first click within
    24 h of it → first purchase within 24 h of that. The unbounded
    events_funnel counts eventual converters; this one enforces the
    step deadline product analytics actually uses. Each stage is one
    per-user aggregate + one user-keyed join — the stage relations
    shrink monotonically, and nothing self-joins raw events against raw
    events."""
    t = Tables(spark, sf_dir)
    ev = t.events
    # v and c each feed BOTH their own stage count and the next stage:
    # uncached, Spark recomputes the chain per count (events scanned
    # 1+2+3 = 6 times; measured 9.6 s -> 4.3 s at the 10x sweep). The
    # cached relations are per-user aggregates (users-sized, spill-safe).
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .transform(op_cache)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v.select(F.col("user_id").alias("vu"), "t1"),
              F.col("user_id") == F.col("vu"))
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .transform(op_cache)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select(F.col("user_id").alias("cu"), "t2"),
              F.col("user_id") == F.col("cu"))
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    nc = c.agg(F.count(F.lit(1)).alias("n_clicked_24h"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased_24h"))
    return nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))


@register(
    "events_time_to_convert_quantiles",
    oracle=f"""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
),
lat AS (
  SELECT user_id,
         CAST((epoch_us(first_purchase) - epoch_us(first_view)) / 60000000.0
              AS DOUBLE) AS minutes
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view
)
SELECT count(*) AS n_converted,
       floor({percentile_sql("minutes", 0.5)} * 1000000 + 0.5)
         / 1000000 AS p50_minutes,
       floor({percentile_sql("minutes", 0.9)} * 1000000 + 0.5)
         / 1000000 AS p90_minutes,
       floor(CAST(max(minutes) AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS max_minutes
FROM lat
""",
)
def events_time_to_convert_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion-latency distribution: minutes from each user's FIRST
    view to their FIRST subsequent purchase, summarized as p50/p90/max —
    the funnel-velocity headline ("half convert within X minutes") that
    events_funnel's pure counts can't answer. One per-user conditional-
    min reduce (partial-aggregable), then quantiles over the
    users-sized latency relation. Latency is exact integer µs divided
    once by 6e7 — bit-identical before the interpolating quantile."""
    e = Tables(spark, sf_dir).events
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    lat = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (
            (
                F.unix_micros(F.col("first_purchase").cast("timestamp"))
                - F.unix_micros(F.col("first_view").cast("timestamp"))
            )
            / 60_000_000.0
        ).alias("minutes")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        pround(percentile("minutes", 0.5)).alias("p50_minutes"),
        pround(percentile("minutes", 0.9)).alias("p90_minutes"),
        pround(F.max("minutes")).alias("max_minutes"),
    )


@register(
    "events_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(cohort_day AS VARCHAR) AS cohort,
       day_offset,
       count(*) AS n_active
FROM activity
WHERE day_offset BETWEEN 0 AND 7
GROUP BY cohort_day, day_offset
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted
    as active per day-offset 0..7. The cohort assignment is a per-user
    aggregate joined back (broadcastable: one row per user), then a
    distinct + rollup — the standard retention shape."""
    e = Tables(spark, sf_dir).events
    firsts = e.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset").between(0, 7))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.col("cohort_day").cast("string").alias("cohort"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_active",
        )
    )


@register(
    "events_survival_weeks",
    oracle="""
WITH lifespans AS (
  SELECT user_id,
         datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) // 7
           AS weeks_active
  FROM events GROUP BY user_id
),
ks AS (
  SELECT unnest(generate_series(0, weeks_active)) AS week FROM lifespans
),
counts AS (SELECT week, count(*) AS n_surviving FROM ks GROUP BY week)
SELECT week, n_surviving,
       round(CAST(n_surviving AS DOUBLE)
             / max(n_surviving) OVER (), 6) AS survival_rate
FROM counts
""",
)
def events_survival_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-retention survival curve: the fraction of users whose
    observed activity span reaches ≥ k weeks, for every k. Per-user
    lifespans aggregate first (one shuffle on user_id); each user then
    explodes into weeks_active+1 rows — fan-out bounded by the
    observation window in weeks, not by event volume — and the share
    normalizes against the k=0 row (every user survives week 0) via a
    window over the weeks-sized histogram."""
    t = Tables(spark, sf_dir)
    lifespans = t.events.groupBy("user_id").agg(
        (
            F.datediff(
                F.max(F.col("ts").cast("date")),
                F.min(F.col("ts").cast("date")),
            )
            / 7
        )
        .cast("bigint")
        .alias("weeks_active")
    )
    ks = lifespans.select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), "weeks_active")).alias(
            "week"
        )
    )
    counts = ks.groupBy("week").agg(F.count(F.lit(1)).alias("n_surviving"))
    return counts.select(
        "week",
        "n_surviving",
        F.round(
            F.col("n_surviving").cast("double")
            / F.max("n_surviving").over(Window.partitionBy()),
            6,
        ).alias("survival_rate"),
    )


@register(
    "events_kaplan_meier_daily",
    oracle="""
WITH uw AS (
  SELECT user_id,
         max(CAST(datediff('day', DATE '2024-01-01',
                          CAST(ts AS DATE)) + 1 AS INTEGER)) AS last_day
  FROM events GROUP BY user_id
),
mx AS (SELECT max(last_day) AS mw FROM uw),
cnt AS (
  SELECT last_day, count(*) AS ended FROM uw GROUP BY last_day
),
days AS (
  SELECT last_day AS day, ended,
         sum(ended) OVER (ORDER BY last_day DESC
                          ROWS UNBOUNDED PRECEDING) AS n_at_risk,
         CASE WHEN last_day < (SELECT mw FROM mx) THEN ended ELSE 0 END
           AS churned
  FROM cnt
)
SELECT day,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(churned AS BIGINT) AS n_churned,
       round(exp(sum(ln(1.0 - CAST(churned AS DOUBLE) / n_at_risk))
                 OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6)
         AS survival
FROM days
""",
)
def events_kaplan_meier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve over user activity
    days WITH censoring — the estimator events_survival_weeks's naive
    share-active curve is not: users whose last activity falls on the
    final observed day are censored (still alive at cutoff), not
    churned, so they contribute to the risk set but not to any failure
    count. S(t) = Π_{i≤t}(1 − d_i/n_i) computed as exp∘cumsum∘ln over
    the days-sized relation; the risk set n_i is a DESCENDING
    cumulative sum (everyone whose last day is ≥ i), so the whole
    estimator runs in two windows over ≤ n_days rows after one
    per-user max aggregate — the only corpus-sized shuffle."""
    e = Tables(spark, sf_dir).events
    day = (
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("int")
    uw = e.groupBy("user_id").agg(F.max(day).alias("last_day"))
    cnt = uw.groupBy("last_day").agg(F.count(F.lit(1)).alias("ended"))
    w_all = Window.partitionBy()
    w_desc = Window.orderBy(F.desc("last_day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    days = cnt.select(
        F.col("last_day").alias("day"),
        "ended",
        F.sum("ended").over(w_desc).alias("n_at_risk"),
        F.when(
            F.col("last_day") < F.max("last_day").over(w_all),
            F.col("ended"),
        )
        .otherwise(F.lit(0))
        .alias("churned"),
    )
    w_asc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return days.select(
        "day",
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("churned").cast("bigint").alias("n_churned"),
        F.round(
            F.exp(
                F.sum(
                    F.log(
                        1.0
                        - F.col("churned").cast("double")
                        / F.col("n_at_risk")
                    )
                ).over(w_asc)
            ),
            6,
        ).alias("survival"),
    )


_EPOCH = "DATE '2024-01-01'"


@register(
    "events_user_lifecycle_states",
    oracle=f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         datediff('day', {_EPOCH}, CAST(ts AS DATE)) // 7 AS week
  FROM events
),
maxw AS (SELECT max(week) AS max_week FROM uw),
flagged AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS first_week,
         lag(week)  OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
  FROM uw
),
states AS (
  SELECT week,
         count(CASE WHEN week = first_week THEN 1 END) AS n_new,
         count(CASE WHEN week > first_week AND prev_week = week - 1
                    THEN 1 END) AS n_retained,
         count(CASE WHEN week > first_week
                     AND (prev_week IS NULL OR prev_week < week - 1)
                    THEN 1 END) AS n_resurrected
  FROM flagged GROUP BY week
),
churn AS (
  SELECT f.week + 1 AS week, count(*) AS n_churned
  FROM flagged f CROSS JOIN maxw m
  WHERE (f.next_week IS NULL OR f.next_week > f.week + 1)
    AND f.week + 1 <= m.max_week
  GROUP BY f.week + 1
)
SELECT s.week, s.n_new, s.n_retained, s.n_resurrected,
       COALESCE(c.n_churned, 0) AS n_churned
FROM states s LEFT JOIN churn c ON s.week = c.week
""",
)
def events_user_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per week, users who are NEW (first activity),
    RETAINED (also active the prior week), RESURRECTED (returning after
    a gap), and CHURNED (active the prior week, absent now) — the
    canonical DAU-quality decomposition. Distinct-reduce first: every
    window runs over the (user, week) relation (≤ users × weeks rows);
    the churn anchor week comes from a scalar broadcast, never a global
    window over the grid."""
    t = Tables(spark, sf_dir)
    week = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 7
    ).cast("bigint")
    uw = t.events.select("user_id", week.alias("week")).distinct()
    # churn anchor from RAW events (same max as over the distinct grid):
    # deriving it from uw would replay the distinct shuffle for a scalar
    maxw = t.events.agg(F.max(week).alias("max_week"))
    w_user = Window.partitionBy("user_id")
    w_seq = Window.partitionBy("user_id").orderBy("week")
    flagged = uw.select(
        "user_id",
        "week",
        F.min("week").over(w_user).alias("first_week"),
        F.lag("week").over(w_seq).alias("prev_week"),
        F.lead("week").over(w_seq).alias("next_week"),
    )
    states = flagged.groupBy("week").agg(
        F.count(F.when(F.col("week") == F.col("first_week"), 1)).alias("n_new"),
        F.count(
            F.when(
                (F.col("week") > F.col("first_week"))
                & (F.col("prev_week") == F.col("week") - 1),
                1,
            )
        ).alias("n_retained"),
        F.count(
            F.when(
                (F.col("week") > F.col("first_week"))
                & (
                    F.col("prev_week").isNull()
                    | (F.col("prev_week") < F.col("week") - 1)
                ),
                1,
            )
        ).alias("n_resurrected"),
    )
    churn = (
        flagged.crossJoin(F.broadcast(maxw))
        .filter(
            (F.col("next_week").isNull() | (F.col("next_week") > F.col("week") + 1))
            & (F.col("week") + 1 <= F.col("max_week"))
        )
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        states.join(churn, "week", "left")
        .select(
            "week",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0)).alias("n_churned"),
        )
    )


@register(
    "events_transition_matrix",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE) /
             sum(n) OVER (PARTITION BY prev_type), 6) AS p
FROM counts
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    lag(event_type) within (user, ts-order) gives bigrams, counted and
    normalized per source state. The lag window shuffles once on user_id;
    the transition counts then collapse to |event_types|² rows, so the
    normalizing window runs on a broadcast-sized relation at any corpus
    size. Deterministic ordering via the (ts, event_id) tie-break."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    ordered = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    counts = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wp), 6
        ).alias("p"),
    )


@register(
    "events_markov_2step_paths",
    oracle="""
WITH seq AS (
  SELECT event_type AS step3,
         lag(event_type, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS step2,
         lag(event_type, 2) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS step1
  FROM events
)
SELECT step1, step2, step3, count(*) AS n_paths
FROM seq WHERE step1 IS NOT NULL AND step2 IS NOT NULL
GROUP BY step1, step2, step3
""",
)
def events_markov_2step_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step path mining: counts of every (A → B → C) event-type
    trigram along user timelines — the sequence-mining extension of
    events_transition_matrix (1-step). One user-partitioned window
    carrying only the type column produces both lags; output is bounded
    by |types|³ at any event volume."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    seq = t.events.select(
        F.col("event_type").alias("step3"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.lag("event_type", 2).over(w).alias("step1"),
    )
    return (
        seq.filter(F.col("step1").isNotNull() & F.col("step2").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


@register(
    "events_markov_entropy_rate",
    oracle="""
WITH seq AS (
  SELECT event_type AS nxt,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prv
  FROM events
),
cells AS (
  SELECT prv, nxt, count(*) AS c FROM seq WHERE prv IS NOT NULL
  GROUP BY prv, nxt
),
probs AS (
  SELECT prv, c,
         CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY prv) AS pij,
         CAST(sum(c) OVER (PARTITION BY prv) AS DOUBLE)
           / sum(c) OVER () AS pi
  FROM cells
)
SELECT round(-sum(pi * pij * ln(pij)), 6) AS entropy_rate_nats,
       round(-sum(pi * pij * ln(pij)) / ln(5.0), 6)
         AS normalized_entropy_rate,
       CAST(sum(c) AS BIGINT) AS n_transitions
FROM probs
""",
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain:
    H = −Σ_i π_i Σ_j P_ij ln P_ij with the stationary weight π taken
    empirically from transition counts — ONE number for 'how
    predictable is the next event given the current one' (0 =
    deterministic flows, ln(5) = uniform chaos), normalized by ln(k).
    This is the summary scalar over the same relation
    events_transition_matrix reports cell-by-cell and the conditional
    sibling of corpus_source_entropy. One corpus shuffle for the
    per-user lag; everything after runs on the ≤ types² cell
    aggregate, probabilities as exact integer-count ratios."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    seq = e.select(
        F.col("event_type").alias("nxt"),
        F.lag("event_type").over(w).alias("prv"),
    ).where(F.col("prv").isNotNull())
    cells = seq.groupBy("prv", "nxt").agg(F.count(F.lit(1)).alias("c"))
    w_prv = Window.partitionBy("prv")
    w_all = Window.partitionBy()
    probs = cells.select(
        "c",
        (F.col("c").cast("double") / F.sum("c").over(w_prv)).alias("pij"),
        (
            F.sum("c").over(w_prv).cast("double") / F.sum("c").over(w_all)
        ).alias("pi"),
    )
    h = -F.sum(F.col("pi") * F.col("pij") * F.log(F.col("pij")))
    return probs.agg(
        F.round(h, 6).alias("entropy_rate_nats"),
        F.round(h / F.log(F.lit(5.0)), 6).alias(
            "normalized_entropy_rate"
        ),
        F.sum("c").cast("bigint").alias("n_transitions"),
    )


@register(
    "events_transition_dwell_stats",
    oracle=f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS dwell_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev_type, event_type AS next_type,
       count(*) AS n_transitions,
       CAST(sum(dwell_us) AS BIGINT) AS dwell_us_sum,
       floor(CAST(sum(dwell_us) AS DOUBLE) / count(*) / 1000000
             * 1000000 + 0.5) / 1000000 AS mean_dwell_s,
       {percentile_sql("dwell_us", 0.5)} AS p50_dwell_us
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def events_transition_dwell_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dwell time per transition: how long users linger BETWEEN each
    (from → to) event-type pair — the timing layer the count-only
    events_transition_matrix lacks (a view→purchase edge that takes 2
    seconds vs 20 minutes is a different product story). One
    user-partitioned lag window emits (prev, next, µs delta); exact
    integer µs sums, one rounded division for the mean, interpolating
    median over exact integers. Output bounded by types²."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    dwell = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    seq = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
        dwell.alias("dwell_us"),
    ).filter(F.col("prev_type").isNotNull())
    n = F.count(F.lit(1))
    return seq.groupBy("prev_type", "next_type").agg(
        n.alias("n_transitions"),
        F.sum("dwell_us").cast("bigint").alias("dwell_us_sum"),
        pround(F.sum("dwell_us").cast("double") / n / 1_000_000).alias(
            "mean_dwell_s"
        ),
        percentile("dwell_us", 0.5).alias("p50_dwell_us"),
    )


@register(
    "events_longest_same_type_run",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN event_type = lag(event_type)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 0 ELSE 1 END AS brk
  FROM events
),
runs AS (
  SELECT user_id, event_type,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
  FROM seq
),
run_lengths AS (
  SELECT user_id, event_type, run_id, count(*) AS run_len
  FROM runs GROUP BY user_id, event_type, run_id
)
SELECT event_type,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       CAST(count(*) AS BIGINT) AS n_runs,
       floor(CAST(sum(run_len) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mean_run_len
FROM run_lengths GROUP BY event_type
""",
)
def events_longest_same_type_run(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run-length encoding of user timelines: consecutive same-type
    event runs (break-flag + running sum — the gaps-and-islands kernel
    keyed on VALUE CHANGE instead of time gap), rolled up to longest /
    count / mean run per type. Long error runs mean retry storms; long
    click runs mean scripted traffic — RLE is the compression-and-
    anomaly primitive over ordered categorical streams. One user
    partitioning serves both windows."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    brk = F.when(
        F.col("event_type") == F.lag("event_type").over(w), 0
    ).otherwise(1)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = e.select(
        "user_id",
        "event_type",
        F.sum(brk).over(cum).alias("run_id"),
    )
    run_lengths = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    n = F.count(F.lit(1))
    return run_lengths.groupBy("event_type").agg(
        F.max("run_len").cast("bigint").alias("longest_run"),
        n.cast("bigint").alias("n_runs"),
        pround(F.sum("run_len").cast("double") / n).alias("mean_run_len"),
    )


@register(
    "events_type_cooccurrence",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
  FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*) AS n_user_days
FROM ud a JOIN ud b
  ON a.user_id = b.user_id AND a.day = b.day
 AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
""",
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence: for every unordered type pair, the
    number of (user, day) contexts where both occurred. Distinct-reduce
    FIRST (≤ |types| rows per user-day — here ≤ 5), then a self-join
    keyed on (user, day): the quadratic blow-up is bounded by types², not
    by event volume, so the plan survives arbitrarily hot users."""
    t = Tables(spark, sf_dir)
    ud = t.events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
    ).distinct()
    a = ud.alias("a")
    b = ud.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_user_days"))
    )


@register(
    "events_type_day_jaccard",
    oracle="""
WITH td AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
),
sizes AS (SELECT event_type, count(*) AS n_days FROM td GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM td a JOIN td b ON a.day = b.day AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_both,
       round(CAST(n_both AS DOUBLE)
             / (sa.n_days + sb.n_days - n_both), 6) AS jaccard
FROM inter
JOIN sizes sa ON type_a = sa.event_type
JOIN sizes sb ON type_b = sb.event_type
""",
)
def events_type_day_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-day Jaccard similarity between event types — the set-
    similarity twin of events_type_cooccurrence, measuring whether two
    event types live on the same calendar (deploy markers vs errors,
    campaigns vs purchases). Distinct-reduce FIRST: the join operates on
    the (type, day) relation, ≤ |types|·|days| rows at any event volume,
    and the type-marginal sizes broadcast onto the pairs."""
    t = Tables(spark, sf_dir)
    td = t.events.select(
        "event_type", F.col("ts").cast("date").alias("day")
    ).distinct()
    sizes = td.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    a = td.alias("a")
    b = td.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("ta"), F.col("n_days").alias("na"))
    sb = sizes.select(F.col("event_type").alias("tb"), F.col("n_days").alias("nb"))
    return (
        inter.join(F.broadcast(sa), F.col("type_a") == F.col("ta"))
        .join(F.broadcast(sb), F.col("type_b") == F.col("tb"))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "events_attribution_last_touch",
    oracle="""
WITH touched AS (
  SELECT event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS attributed
  FROM events
)
SELECT attributed, count(*) AS conversions
FROM touched
WHERE event_type = 'purchase' AND attributed IS NOT NULL
GROUP BY attributed
""",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRIOR non-purchase event type (marketing-attribution
    core). One user-partitioned window carrying only (type, ts, id) —
    the ignore-nulls last_value trick replaces a per-purchase history
    self-join, so lineage never leaves the user's partition."""
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = t.events.select(
        "event_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("attributed"),
    )
    return (
        touched.filter(
            (F.col("event_type") == "purchase") & F.col("attributed").isNotNull()
        )
        .groupBy("attributed")
        .agg(F.count(F.lit(1)).alias("conversions"))
    )


@register(
    "events_attribution_linear",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(ts AS DATE) AS day
  FROM events
),
purchases AS (
  SELECT user_id, day, ts, event_id FROM seq WHERE event_type = 'purchase'
),
touches AS (
  SELECT s.user_id, p.event_id AS purchase_id, s.event_type AS touch_type,
         count(*) OVER (PARTITION BY p.event_id) AS k
  FROM purchases p
  JOIN seq s
    ON s.user_id = p.user_id AND s.day = p.day
   AND (s.ts < p.ts OR (s.ts = p.ts AND s.event_id < p.event_id))
   AND s.event_type <> 'purchase'
),
credited AS (
  SELECT touch_type,
         CAST(floor(1.0 / k * 1000000000 + 0.5) / 1000000000
              AS DECIMAL(38, 9)) AS credit
  FROM touches
)
SELECT touch_type,
       count(*) AS n_touches,
       CAST(sum(credit) AS DOUBLE) AS linear_credit
FROM credited GROUP BY touch_type
""",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every same-day touch preceding a
    purchase shares the conversion credit equally (1/k each) — the
    equal-weight sibling of events_attribution_last_touch, the model
    marketing uses when no single touch deserves the win. Determinism
    trick: each 1/k credit is portable-rounded to 9dp FIRST and then
    accumulated as DECIMAL(38,9) — rounded terms sum exactly and
    order-independently, where a raw double Σ(1/k) would differ by
    summation order across engines/partitionings. The purchase⇄touch
    join is keyed (user, day): fan-out bounded by a user's daily
    activity, never cross-user."""
    e = Tables(spark, sf_dir).events
    seq = e.select(
        "user_id", "ts", "event_id", "event_type", F.to_date("ts").alias("day")
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "day",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    touches = (
        purchases.join(seq, ["user_id", "day"])
        .filter(
            (
                (F.col("ts") < F.col("pts"))
                | (
                    (F.col("ts") == F.col("pts"))
                    & (F.col("event_id") < F.col("purchase_id"))
                )
            )
            & (F.col("event_type") != "purchase")
        )
        .select("purchase_id", F.col("event_type").alias("touch_type"))
    )
    k = F.count(F.lit(1)).over(Window.partitionBy("purchase_id"))
    credited = touches.select(
        "touch_type",
        pround(F.lit(1.0) / k, 9).cast("decimal(38,9)").alias("credit"),
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit").cast("double").alias("linear_credit"),
    )


# ---------------------------------------------------------------------------
# A/B-test statistics
# ---------------------------------------------------------------------------


@register(
    "events_ab_proportion_ztest",
    oracle=f"""
WITH users AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || {hash_bucket_sql("user_id")} AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS grp,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   > 13 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
cells AS (
  SELECT CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN grp = 'A' THEN conv ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(sum(CASE WHEN grp = 'B' THEN conv ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM users
)
SELECT n_a, n_b, conv_a, conv_b,
       floor(CAST(conv_a AS DOUBLE) / n_a * 1000000 + 0.5) / 1000000
         AS rate_a,
       floor(CAST(conv_b AS DOUBLE) / n_b * 1000000 + 0.5) / 1000000
         AS rate_b,
       floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / nullif(sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 0)
             * 1000000 + 0.5) / 1000000 AS z_score
FROM cells
""",
)
def events_ab_proportion_ztest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-proportion z-test for a deterministic A/B split: users are
    hash-assigned (the parity of their ``hash_bucket``, so assignment is
    reproducible and balanced) and the pooled-variance z
    statistic compares the two conversion rates — the experimentation
    primitive of a product analytics engine. The conversion predicate is
    the pluggable part; in this corpus EVERY user purchases at least
    once (150/150 at sf0.01 — "any purchase" degenerates to pooled
    p = 1 and a 0/0 z), so the demo predicate is "more than 13
    purchases", which splits the population. Per-user reduce, then four
    conditional sums to ONE row; the z formula is written with identical
    operation order in both engines (pure IEEE mul/div/sqrt are
    correctly rounded, hence bit-identical), nullif-guarded against a
    degenerate pooled rate, and portable-6dp-rounded."""
    e = Tables(spark, sf_dir).events
    grp = F.when(
        F.conv(hash_bucket("user_id"), 16, 10).cast("bigint") % 2 == 0, "A"
    ).otherwise("B")
    users = e.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > 13,
            1,
        )
        .otherwise(0)
        .alias("conv")
    ).select(grp.alias("grp"), "conv")
    cells = users.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == "A", F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("grp") == "B", F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (ra - rb) / F.nullif(
        F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
        F.lit(0.0),
    )
    return cells.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        pround(ra).alias("rate_a"),
        pround(rb).alias("rate_b"),
        pround(z).alias("z_score"),
    )


_CHI2_95_DF1 = 3.841458820694124


@register(
    "events_ab_srm_check",
    oracle=f"""
WITH arms AS (
  SELECT CASE WHEN {hash_bucket_sql("user_id", "srm")} <= '7'
              THEN 'A' ELSE 'B' END AS arm
  FROM (SELECT DISTINCT user_id FROM events)
),
cnt AS (
  SELECT count(CASE WHEN arm = 'A' THEN 1 END) AS na,
         count(CASE WHEN arm = 'B' THEN 1 END) AS nb,
         count(*) AS n
  FROM arms
)
SELECT CAST(na AS BIGINT) AS n_arm_a,
       CAST(nb AS BIGINT) AS n_arm_b,
       round((na - n / 2.0) * (na - n / 2.0) / (n / 2.0)
             + (nb - n / 2.0) * (nb - n / 2.0) / (n / 2.0), 6) AS chi2,
       (na - n / 2.0) * (na - n / 2.0) / (n / 2.0)
         + (nb - n / 2.0) * (nb - n / 2.0) / (n / 2.0)
         > {_CHI2_95_DF1} AS srm_detected
FROM cnt
""",
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guard for the deterministic 50/50
    hash-bucket user split every A/B operator here relies on
    (events_ab_proportion_ztest, CUPED, DiD): a χ²₁ goodness-of-fit of
    observed arm sizes against the designed ratio — THE pre-test that
    invalidates an experiment before any metric is read (Fabijan
    2019). Nibbles 0-7 vs 8-f give an exactly-50/50 design; all
    inputs are integer counts off the distinct-user aggregate, the
    χ² threshold is the same literal on both engines, and the flag
    compares identical doubles. One distinct + one 1-row reduce."""
    e = Tables(spark, sf_dir).events
    arm = F.when(hash_bucket("user_id", "srm") <= "7", "A").otherwise("B")
    arms = e.select("user_id").distinct().select(arm.alias("arm"))
    cnt = arms.agg(
        F.count(F.when(F.col("arm") == "A", 1)).alias("na"),
        F.count(F.when(F.col("arm") == "B", 1)).alias("nb"),
        F.count(F.lit(1)).alias("n"),
    )
    half = F.col("n") / 2.0
    chi2 = (F.col("na") - half) * (F.col("na") - half) / half + (
        F.col("nb") - half
    ) * (F.col("nb") - half) / half
    return cnt.select(
        F.col("na").cast("bigint").alias("n_arm_a"),
        F.col("nb").cast("bigint").alias("n_arm_b"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > _CHI2_95_DF1).alias("srm_detected"),
    )


@register(
    "events_pre_post_welch_t",
    oracle=f"""
WITH sides AS (
  SELECT event_type,
         CASE WHEN {PRE_PERIOD_SQL} THEN 'pre' ELSE 'post' END
           AS side,
         CAST(value AS DECIMAL(38, 2)) AS v
  FROM events
  WHERE (value IS NULL OR isfinite(value))
),
mo AS (
  SELECT event_type, side, count(*) AS n,
         CAST(sum(v) AS DOUBLE) AS sx,
         CAST(sum(v * v) AS DOUBLE) AS sx2
  FROM sides GROUP BY event_type, side
),
wide AS (
  SELECT event_type,
         max(CASE WHEN side = 'pre' THEN n END) AS n1,
         max(CASE WHEN side = 'pre' THEN sx END) AS sx1,
         max(CASE WHEN side = 'pre' THEN sx2 END) AS sxx1,
         max(CASE WHEN side = 'post' THEN n END) AS n2,
         max(CASE WHEN side = 'post' THEN sx END) AS sx2_,
         max(CASE WHEN side = 'post' THEN sx2 END) AS sxx2
  FROM mo GROUP BY event_type
)
SELECT event_type, n1, n2,
       floor(sx1 / n1 * 1000000 + 0.5) / 1000000 AS mean_pre,
       floor(sx2_ / n2 * 1000000 + 0.5) / 1000000 AS mean_post,
       floor((sx1 / n1 - sx2_ / n2)
             / sqrt((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                    + (sxx2 - sx2_ * sx2_ / n2) / (n2 - 1) / n2)
             * 1000000 + 0.5) / 1000000 AS welch_t
FROM wide
""",
)
def events_pre_post_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre/post intervention comparison: Welch's unequal-variance t
    statistic on the value column around a cutover date, per event
    type — the release-impact / experiment-readout primitive for
    continuous metrics (the proportions twin is
    events_ab_proportion_ztest). Raw power sums (n, Σx, Σx²)
    accumulate in DECIMAL — exact and order-independent (values carry
    2 decimals) — then means, variances, and t are derived with
    IDENTICAL IEEE operation order in both engines and portable-
    rounded. One partial-aggregable pass; output is types-sized. The
    metric is gated to the FINITE domain (nan-tier contract, mirrored
    in the oracle): ±Inf is a DECIMAL conversion error in the oracle's
    exact-sum path and a t of NaN answers nothing."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    v = F.col("value").cast("decimal(38,2)")
    sides = e.select(
        "event_type",
        F.when(pre_period(), "pre").otherwise("post").alias("side"),
        v.alias("v"),
    )
    mo = sides.groupBy("event_type", "side").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("sx"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("sx2"),
    )
    wide = mo.groupBy("event_type").agg(
        F.max(F.when(F.col("side") == "pre", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("side") == "pre", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("side") == "pre", F.col("sx2"))).alias("sxx1"),
        F.max(F.when(F.col("side") == "post", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("side") == "post", F.col("sx"))).alias("sx2_"),
        F.max(F.when(F.col("side") == "post", F.col("sx2"))).alias("sxx2"),
    )
    m1 = F.col("sx1") / F.col("n1")
    m2 = F.col("sx2_") / F.col("n2")
    se2 = (
        (F.col("sxx1") - F.col("sx1") * F.col("sx1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
        + (F.col("sxx2") - F.col("sx2_") * F.col("sx2_") / F.col("n2"))
        / (F.col("n2") - 1)
        / F.col("n2")
    )
    return wide.select(
        "event_type",
        "n1",
        "n2",
        pround(m1).alias("mean_pre"),
        pround(m2).alias("mean_post"),
        pround((m1 - m2) / F.sqrt(se2)).alias("welch_t"),
    )


@register(
    "events_diff_in_differences",
    oracle=f"""
WITH tagged AS (
  SELECT CASE WHEN CAST('0x' || {hash_bucket_sql("user_id")} AS BIGINT) % 2 = 0
              THEN 'treated' ELSE 'control' END AS grp,
         CASE WHEN {PRE_PERIOD_SQL} THEN 'pre' ELSE 'post' END
           AS period,
         CAST(value AS DECIMAL(38, 2)) AS v
  FROM events
  WHERE (value IS NULL OR isfinite(value))
),
cells AS (
  SELECT grp, period, count(*) AS n,
         CAST(sum(v) AS DOUBLE) AS s
  FROM tagged GROUP BY grp, period
),
wide AS (
  SELECT
    max(CASE WHEN grp = 'treated' AND period = 'pre'  THEN s / n END) AS t0,
    max(CASE WHEN grp = 'treated' AND period = 'post' THEN s / n END) AS t1,
    max(CASE WHEN grp = 'control' AND period = 'pre'  THEN s / n END) AS c0,
    max(CASE WHEN grp = 'control' AND period = 'post' THEN s / n END) AS c1,
    CAST(sum(n) AS BIGINT) AS n_events
  FROM cells
)
SELECT n_events,
       floor(t0 * 1000000 + 0.5) / 1000000 AS treated_pre,
       floor(t1 * 1000000 + 0.5) / 1000000 AS treated_post,
       floor(c0 * 1000000 + 0.5) / 1000000 AS control_pre,
       floor(c1 * 1000000 + 0.5) / 1000000 AS control_post,
       floor(((t1 - t0) - (c1 - c0)) * 1000000 + 0.5) / 1000000
         AS did_estimate
FROM wide
""",
)
def events_diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (post − pre) for the treated group
    minus (post − pre) for control — the workhorse causal estimator
    when randomization is only at the group level, composed from the
    repo's two established idioms (hash-bucket deterministic group
    assignment, cutover-date period split). Four cell means from
    exact DECIMAL sums, the DiD contrast derived with identical IEEE
    order in both engines. One partial-aggregable pass to a 4-cell
    relation. Metric gated to the FINITE domain (nan-tier contract,
    mirrored in the oracle): ±Inf is a DECIMAL conversion error in the
    oracle's exact-sum path."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    grp = F.when(
        F.conv(hash_bucket("user_id"), 16, 10).cast("bigint") % 2 == 0,
        "treated",
    ).otherwise("control")
    period = F.when(pre_period(), "pre").otherwise("post")
    cells = e.select(
        grp.alias("grp"),
        period.alias("period"),
        F.col("value").cast("decimal(38,2)").alias("v"),
    ).groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").cast("double").alias("s")
    )

    def cell(g: str, p: str):
        return F.max(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.col("s") / F.col("n"),
            )
        )

    wide = cells.agg(
        cell("treated", "pre").alias("t0"),
        cell("treated", "post").alias("t1"),
        cell("control", "pre").alias("c0"),
        cell("control", "post").alias("c1"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    return wide.select(
        "n_events",
        pround(F.col("t0")).alias("treated_pre"),
        pround(F.col("t1")).alias("treated_post"),
        pround(F.col("c0")).alias("control_pre"),
        pround(F.col("c1")).alias("control_post"),
        pround(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
        ).alias("did_estimate"),
    )


@register(
    "events_cuped_adjustment",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN {PRE_PERIOD_SQL}
                       THEN CAST(value AS DECIMAL(38, 2)) ELSE 0 END)
              AS DOUBLE) AS x,
         CAST(sum(CASE WHEN NOT ({PRE_PERIOD_SQL})
                       THEN CAST(value AS DECIMAL(38, 2)) ELSE 0 END)
              AS DOUBLE) AS y
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY user_id
),
mo AS (
  -- first moments through the 6dp-round-then-DECIMAL idiom (its domain,
  -- |x| < ~9e12, covers any per-user total); SECOND moments are raw
  -- double sums: x*y at lake magnitudes (~1e20) is past both the idiom's
  -- floor-grid exactness and the engine's integer floor range, and the
  -- downstream ratios are scale-free while the variances are emitted as
  -- mantissa/exponent pairs (functions/portable.py)
  SELECT count(*) AS n,
         CAST(sum(CAST(floor(x * 1000000 + 0.5) / 1000000
                       AS DECIMAL(38, 6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(floor(y * 1000000 + 0.5) / 1000000
                       AS DECIMAL(38, 6))) AS DOUBLE) AS sy,
         sum(x * y) AS sxy,
         sum(x * x) AS sxx,
         sum(y * y) AS syy
  FROM per_user
),
derived AS (
  SELECT n,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta_raw,
         (syy - sy * sy / n) / (n - 1) AS var_y_raw,
         ((syy - sy * sy / n)
          - (sxy - sx * sy / n) * (sxy - sx * sy / n)
            / (sxx - sx * sx / n)) / (n - 1) AS var_cuped_raw,
         1 - ((syy - sy * sy / n)
              - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                / (sxx - sx * sx / n))
             / (syy - sy * sy / n) AS vr_raw
  FROM mo
)
SELECT n,
       floor(theta_raw * 1000000 + 0.5) / 1000000 AS theta,
       {mant_exp_sql("var_y_raw", "var_y")},
       {mant_exp_sql("var_cuped_raw", "var_y_cuped")},
       floor(vr_raw * 1000000 + 0.5) / 1000000 AS variance_reduction
FROM derived
""",
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): per user, the
    pre-period value total X becomes the covariate for the post-period
    metric Y; θ = cov(X,Y)/var(X), and var(Y − θX) = var(Y)·(1 − ρ²) —
    the standard trick that cuts experiment runtimes by the squared
    pre/post correlation. Per-user X/Y from exact DECIMAL sums; cross
    moments use the 6dp-round-then-DECIMAL-accumulate idiom so Σxy is
    order-independent; θ and both variances derive with identical IEEE
    order. One per-user reduce, then a single moment row. The metric is
    gated to the FINITE domain (nan-tier contract, mirrored in the
    oracle): a ±Inf value is a DECIMAL conversion error in the oracle
    and would zero the covariance structure here."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    dec = F.col("value").cast("decimal(38,2)")
    pre = pre_period()
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(pre, dec).otherwise(F.lit(0))).cast("double").alias("x"),
        F.sum(F.when(~pre, dec).otherwise(F.lit(0)))
        .cast("double")
        .alias("y"),
    )
    # second moments are RAW double sums (the 6dp-round idiom's floor
    # grid is exact only below ~9e12; x*y reaches ~1e20 at lake
    # magnitudes); the scale-free ratios stay 6dp, the variances emit as
    # mantissa/exponent pairs (oracle mirrors both shapes)
    mo = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pround(F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(pround(F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    var_y = cyy / (F.col("n") - 1)
    var_cuped = (cyy - cxy * cxy / cxx) / (F.col("n") - 1)
    return mo.select(
        "n",
        pround(cxy / cxx).alias("theta"),
        *mant_exp_cols(var_y, "var_y"),
        *mant_exp_cols(var_cuped, "var_y_cuped"),
        pround(1 - (cyy - cxy * cxy / cxx) / cyy).alias(
            "variance_reduction"
        ),
    )


@register(
    "events_sample_size_calc",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(38, 2))) AS DOUBLE) AS y
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY user_id
),
mo AS (
  -- syy is a RAW double sum: y*y at lake magnitudes exceeds the 6dp
  -- floor-grid's exact domain; the variance is emitted as a mantissa/
  -- exponent pair and n-per-arm is a scale-free ratio (sigma^2/mean^2)
  SELECT count(*) AS n,
         CAST(sum(CAST(floor(y * 1000000 + 0.5) / 1000000
                       AS DECIMAL(38, 6))) AS DOUBLE) AS sy,
         sum(y * y) AS syy
  FROM per_user
),
derived AS (
  SELECT n, (syy - sy * sy / n) / (n - 1) AS var_raw,
         ceil(2 * ((syy - sy * sy / n) / (n - 1))
              * (1.959964 + 0.841621) * (1.959964 + 0.841621)
              / ((0.05 * (sy / n)) * (0.05 * (sy / n)))) AS n_req
  FROM mo
)
SELECT n AS n_users_observed,
       {mant_exp_sql("var_raw", "metric_variance")},
       CAST(n_req AS BIGINT) AS n_per_arm_required,
       CAST(CASE WHEN n >= 2 * n_req THEN 1 ELSE 0 END AS INT)
         AS currently_powered
FROM derived
""",
)
def events_sample_size_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power / sample-size calculation from observed data:
    n-per-arm = 2σ²(z_{α/2}+z_β)²/δ² for α=0.05, power 0.8, and a
    minimum detectable effect of 5% of the current mean — the
    answer to "can we even run this test?", computed from the
    per-user metric's observed variance (the same moment pipeline as
    CUPED, whose variance_reduction directly shrinks this n). The z
    constants are fixed literals shared with the oracle; moments use
    the round-then-DECIMAL idiom; output is one row with the
    go/no-go flag. Metric gated to the FINITE domain (nan-tier
    contract, mirrored in the oracle): ±Inf is a DECIMAL conversion
    error in the oracle's exact-sum path."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("y")
    )
    # syy raw double (the 6dp idiom's floor grid stops being exact at
    # lake magnitudes); variance emits as mantissa/exponent, n-per-arm
    # is scale-free (sigma^2/mean^2) — oracle mirrors both shapes
    mo = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pround(F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    var = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    )
    z = 1.959964 + 0.841621
    delta = 0.05 * (F.col("sy") / F.col("n"))
    n_req = F.ceil(2 * var * z * z / (delta * delta))
    return mo.select(
        F.col("n").alias("n_users_observed"),
        *mant_exp_cols(var, "metric_variance"),
        n_req.cast("bigint").alias("n_per_arm_required"),
        F.when(F.col("n") >= 2 * n_req, 1)
        .otherwise(0)
        .cast("int")
        .alias("currently_powered"),
    )


_BAYES_SQL = """
WITH arms AS (
  SELECT user_id % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
post AS (
  -- all-DOUBLE posterior arithmetic: a bare 1.0 literal is DECIMAL in
  -- both engines, and Spark's decimal-division scale rules truncate the
  -- Beta variance (~1.8e-8 at sfx1.0, where every user converts) to a
  -- hard 0.000000 at scale 6 -> sqrt(0) -> ANSI DIVIDE_BY_ZERO; doubles
  -- also keep the (1+c)(1+n-c) numerator from overflowing BIGINT at
  -- lake-scale n. Measured at the round-8 sfx1.0 full-surface sweep.
  SELECT arm, count(*) AS n, sum(conv) AS conv,
         (CAST(1 AS DOUBLE) + sum(conv)) / (2 + count(*)) AS pmean,
         ((CAST(1 AS DOUBLE) + sum(conv))
          * (CAST(1 AS DOUBLE) + count(*) - sum(conv)))
           / ((2 + count(*)) * CAST(2 + count(*) AS DOUBLE)
              * (3 + count(*)))
           AS pvar
  FROM arms GROUP BY arm),
pair AS (
  SELECT a.pmean AS ma, a.pvar AS va, b.pmean AS mb, b.pvar AS vb,
         a.n AS n_a, a.conv AS c_a, b.n AS n_b, b.conv AS c_b
  FROM post a, post b WHERE a.arm = 0 AND b.arm = 1)
SELECT n_a, CAST(c_a AS BIGINT) AS conv_a, n_b, CAST(c_b AS BIGINT) AS conv_b,
       CAST(round(ma, 6) AS DOUBLE) AS post_mean_a,
       CAST(round(mb, 6) AS DOUBLE) AS post_mean_b,
       CAST(round(1.0 / (1.0 + exp(-1.702 *
            round((mb - ma) / sqrt(va + vb), 6))), 4) AS DOUBLE)
         AS prob_b_beats_a
FROM pair
"""


sql_op(
    "events_bayesian_ab_posterior",
    spark_sql=_BAYES_SQL,
    oracle=_BAYES_SQL,
    doc="""Bayesian A/B conversion analysis with Beta(1,1)-Binomial
    posteriors: per-arm (user_id parity) purchase conversion yields
    posterior means/variances in closed form, and P(B beats A) via the
    moment-matched normal approximation with the logistic sigmoid proxy
    for Phi (|Phi(z) - sigma(1.702 z)| < 0.0095 uniformly — Bowling 2009,
    "A logistic approximation to the cumulative normal distribution";
    chosen because neither engine ships erf, and the proxy is identical
    portable arithmetic on both). This is the decision-facing complement
    to the frequentist battery (events_ab_proportion_ztest, CUPED, SRM):
    a probability statement, not a p-value. One user-grain shuffle + a
    2-row reduce; the z input is rounded to 6 dp before the sigmoid so
    both engines saturate identically. Both engines run the identical
    statement.""",
)
