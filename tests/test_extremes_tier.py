"""Extreme-values tier parity regression tests (round 8).

The driver corpus's numerics live in a comfortable band, so the three
defect classes the full /tmp extremes sweep surfaced (SCALE.md round 8)
would silently regress without a CI pin:

- DECIMAL overflow: money casts must hold lake-scale sums (precision 38)
- raw-double money sums lose cents at magnitude: rounded money contracts
  accumulate in DECIMAL; variance-scale outputs emit mantissa/exponent
- domain guards: sqrt/ln of negative money, zero-quantity means,
  multi-century gap calendars overflowing int32 arithmetic

This module rebuilds a small extremes corpus from sf0.001 (same
deterministic injections; long docs shortened to keep the dedup family
CI-fast) and re-runs parity for representatives of each class.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from ai_dataingestion_spark.catalog import all_specs
from tests.parity import compare, duckdb_connect

_SPEC = importlib.util.spec_from_file_location(
    "extremes_fixture",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "extremes_fixture.py"),
)
_ext = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_ext)

SPECS = all_specs()

EXTREMES_TIER_IDS = [
    # decimal width + decimal-domain money sums
    "agg_groupby", "agg_global", "agg_cube", "agg_salted_skew",
    "join_multiway", "pipeline_reconcile_totals", "stream_tumbling",
    "sales_yoy_growth", "lineitem_abc_pareto", "supplier_revenue_gini",
    # variance-scale mantissa emissions
    "agg_stats", "events_cuped_adjustment", "events_sample_size_calc",
    "agg_corr_regression",
    # domain guards
    "fn_math", "agg_geo_harmonic_means", "events_hour_gap_ranges",
    # long documents + negative/zero paths through text and quality ops
    "text_token_count", "quality_profile", "quality_constraints",
]


@pytest.fixture(scope="module")
def extremes_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("extremes_sf0001"))
    _ext.write_tier("/root/testdata/sf0.001", out, _ext.inject)
    return out


@pytest.fixture(scope="module")
def extremes_con(extremes_dir):
    c = duckdb_connect(extremes_dir)
    yield c
    c.close()


def test_fixture_actually_injects_extremes(extremes_dir):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    li = pq.read_table(os.path.join(extremes_dir, "lineitem.parquet"))
    assert pc.max(li.column("l_extendedprice")).as_py() > 1e8
    assert pc.min(li.column("l_quantity")).as_py() == 0.0
    o = pq.read_table(os.path.join(extremes_dir, "orders.parquet"))
    assert pc.min(o.column("o_totalprice")).as_py() < 0
    ev = pq.read_table(os.path.join(extremes_dir, "events.parquet"))
    assert pc.min(ev.column("ts")).as_py().year < 1980
    assert pc.max(ev.column("ts")).as_py().year > 2100


@pytest.mark.parametrize("qid", EXTREMES_TIER_IDS)
def test_extremes_tier_parity(qid, spark, extremes_dir, extremes_con):
    spec = SPECS[qid]
    df = spec.fn(spark, extremes_dir)
    report = compare(df, extremes_con, spec.oracle)
    assert report["ok"], f"{qid}: {report}"
