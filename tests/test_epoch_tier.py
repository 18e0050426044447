"""Negative-epoch / int32-edge timestamp tier regression tests (round 9).

Every prior tier kept timestamps in positive epoch territory; the epoch
tier (scripts/epoch_fixture.py) shifts slices of events/orders/lineitem
back 100 years (1895-1924, negative epoch seconds) and forward past the
int32-seconds 2038 rollover. The full sweep surfaced three defects:

- Spark's streaming watermark initializes at EPOCH 0, so pre-1970 event
  times are behind the watermark before the first batch and every
  watermark-stateful operator silently drops them -> streamable-domain
  gate (ts >= 1970-01-01, NULL-safe) on both sides of stream_dedup.
- DuckDB `//` truncates toward zero on negative operands while Spark's
  floor() rounds down, and `%` takes the dividend's sign in both ->
  fn_business_days_diff's cumulative business-day index now uses explicit
  floor division + positive modulo (F.pmod) on both sides.
- Dynamic partition overwrite replaces only partitions PRESENT in the
  incoming frame; sparse shifted days with zero clicks survive intact,
  which the old oracle formula (every pre-cutoff day is touched) missed.

This module rebuilds a small epoch corpus from sf0.001 and re-runs parity
for the three fixed operators plus date-heavy surface that must KEEP
passing on negative epochs (calendar rollups, windows, gaps/islands,
fiscal calendars, ISO weeks, sessionization).
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os

import pytest

from ai_dataingestion_spark.catalog import all_specs
from tests.parity import compare, duckdb_connect

_SPEC = importlib.util.spec_from_file_location(
    "epoch_fixture",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "epoch_fixture.py"),
)
_ep = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_ep)

SPECS = all_specs()

EPOCH_TIER_IDS = [
    # the three fixed defect classes
    "stream_dedup", "fn_business_days_diff",
    "sink_dynamic_partition_overwrite",
    # date-heavy surface that must KEEP passing under negative epochs
    "fn_date", "fn_timestamp", "fn_iso_week_parity",
    "orders_fiscal_calendar_rollup", "events_dau_mau",
    "events_sessionize_batch", "win_gaps_islands",
    "events_timeseries_rollup", "stream_tumbling",
    "lineitem_shipping_delay_stats", "orders_ytd_vs_prior_year",
]


@pytest.fixture(scope="module")
def epoch_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("epoch_sf0001"))
    _ep.write_tier("/root/testdata/sf0.001", out, _ep.inject)
    return out


@pytest.fixture(scope="module")
def epoch_con(epoch_dir):
    c = duckdb_connect(epoch_dir)
    yield c
    c.close()


def test_fixture_actually_injects_negative_epochs(epoch_dir):
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(epoch_dir, "events.parquet"))
    tss = [t for t in ev.column("ts").to_pylist() if t is not None]
    assert min(tss) < dt.datetime(1970, 1, 1), "no negative-epoch event"
    assert max(tss) > dt.datetime(2038, 1, 20), "no post-2038 event"
    o = pq.read_table(os.path.join(epoch_dir, "orders.parquet"))
    odates = [t for t in o.column("o_orderdate").to_pylist() if t is not None]
    assert min(odates) < dt.datetime(1970, 1, 1), "no negative-epoch order"


@pytest.mark.parametrize("qid", EPOCH_TIER_IDS)
def test_epoch_tier_parity(qid, spark, epoch_dir, epoch_con):
    spec = SPECS[qid]
    df = spec.fn(spark, epoch_dir)
    report = compare(df, epoch_con, spec.oracle)
    assert report["ok"], f"{qid}: {report}"
