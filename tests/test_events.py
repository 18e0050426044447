"""Events domain: the shared session rule and per-user calendar give the same
answer on both engines at their boundaries."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import duckdb
import pytest

from ai_dataingestion_spark.catalog import all_specs
from ai_dataingestion_spark.operators import events
from ai_dataingestion_spark.registry import SCHEMAS, Tables
from tests.parity import compare

SPECS = all_specs()

SESSION_OPS = (
    "events_sessionize_batch",
    "events_sessions_bounce_rate",
    "events_session_depth_survival",
    "events_session_gap_sensitivity",
    "events_peak_concurrency",
    "events_cep_triple_pattern",
    "events_top_session_paths",
)
CALENDAR_OPS = ("events_gap_fill_locf", "events_gap_fill_linear")

T0 = datetime(2024, 1, 1, 10, 0, 0)
GAP = timedelta(minutes=30)
US = timedelta(microseconds=1)


def _rows():
    """User 50 (sampled by the gap-fill operators) walks the session
    boundary: +30 min exactly, then +30 min + 1 µs, then a ts tie broken by
    event_id, a NULL ts, and two later days so the calendar has gaps. Its
    view → click → purchase crosses a session boundary; user 7's does not."""
    t1 = T0 + GAP
    t2 = t1 + GAP + US
    return [
        # (event_id, ts, user_id, event_type, value, props)
        (1, T0, 50, "view", 1.5, None),
        (2, t1, 50, "click", 2.0, None),
        (4, t2, 50, "view", 3.25, None),
        (3, t2, 50, "purchase", 0.5, None),
        (5, None, 50, "click", 7.0, None),
        (6, T0 + timedelta(days=2), 50, "view", 4.0, None),
        (7, T0 + timedelta(days=5, hours=3), 50, "click", 10.0, None),
        (10, T0, 7, "view", 1.0, None),
        (11, T0 + timedelta(minutes=5), 7, "click", 1.0, None),
        (12, T0 + timedelta(minutes=9), 7, "purchase", 1.0, None),
    ]


@pytest.fixture(scope="module")
def boundary_corpus(spark, tmp_path_factory):
    sf_dir = str(tmp_path_factory.mktemp("events_boundary"))
    spark.createDataFrame(_rows(), SCHEMAS["events"]).coalesce(1).write.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return sf_dir


@pytest.mark.parametrize("name", SESSION_OPS + CALENDAR_OPS + ("stream_session",))
def test_shared_steps_match_oracle_at_the_boundary(spark, boundary_corpus, name):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{boundary_corpus}/events.parquet/*.parquet')"
    )
    spec = SPECS[name]
    report = compare(spec.fn(spark, boundary_corpus), con, spec.oracle)
    con.close()
    assert report["ok"], report


def test_session_rule_matches_session_window_at_exactly_the_gap(
    spark, boundary_corpus
):
    """_sessions keeps an event exactly 30 minutes after the previous one in
    its session (only a gap > 30 min opens one), and so does Spark's
    session_window in stream_session: it merges touching [ts, ts + gap)
    spans. 30 min + 1 µs opens a session in both."""
    e = Tables(spark, boundary_corpus).events.where("user_id = 50 AND ts IS NOT NULL")
    sess = events._sessions(e).orderBy("ts", "event_id").collect()
    assert [(r.event_id, r.session_id) for r in sess[:4]] == [
        (1, 1), (2, 1), (3, 2), (4, 2)
    ]
    windows = (
        SPECS["stream_session"].fn(spark, boundary_corpus)
        .where("user_id = 50")
        .orderBy("session_start_us")
        .collect()
    )
    assert [r.n_events for r in windows[:2]] == [2, 2]

