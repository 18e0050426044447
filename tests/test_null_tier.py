"""Null-tier parity regression tests (round 8).

The driver corpus has zero NULLs anywhere, so every null-semantics defect
class found by the full /tmp null-injected sweep (SCALE.md round 8) would
be invisible to the standard tier-2 loop. This module rebuilds a SMALL
null-injected corpus from sf0.001 (same deterministic injection as
scripts/null_fixture.py, plus empty/whitespace document text) and re-runs
oracle parity for one representative operator per fixed defect class:

- kernel crashes on NULL input (np.stack, ANSI divide, array indexing,
  UDF bodies)
- Spark-vs-oracle null ORDERING divergence (ASC NULLS FIRST vs LAST)
- constructs that INVENT values for NULL (concat_ws skipping, size(NULL)
  = -1 minting [''] shingles)
- aggregate null-skipping asymmetries (arg_max vs max_by, len(list))
- null keys dropped by null-unsafe equijoins after a NULL-grouping groupBy
- format round-trips (text/CSV/parquet-partition NULL representations)
- NULL booleans crossing the compare harness asymmetrically
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from ai_dataingestion_spark.catalog import all_specs
from tests.parity import compare, duckdb_connect

_SPEC = importlib.util.spec_from_file_location(
    "null_fixture",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "null_fixture.py"),
)
_null_fixture = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_null_fixture)

SPECS = all_specs()

# one-or-two representatives per defect class; full coverage lives in the
# /tmp/spark_graft_nulls sweep (scripts/driver_sim.py --sf-dir ...)
NULL_TIER_IDS = [
    # kernel crashes
    "sim_cosine_topk", "embed_pca_top_component", "udf_python",
    "udf_map_in_pandas", "udtf_python", "multimodal_binary_features",
    "fn_ip_cidr_match", "text_ngrams", "text_charset_stats",
    "orders_priority_mix_shift",
    # ordering divergence
    "win_rank", "win_running", "win_default_frame_ties",
    "agg_weighted_median", "tpch_q2_min_cost_supplier",
    "fn_levenshtein_match", "orders_repeat_customer_rate",
    # invented values for NULL
    "fn_content_uuid", "fn_string_format", "project_select",
    "dedup_near_minhash", "text_fingerprint",
    # aggregate null-skipping
    "agg_arg_minmax", "agg_collect", "pipeline_compact_latest",
    # null keys vs equijoins
    "join_asof", "join_spatial_grid", "quality_constraints",
    # format round-trips
    "scan_text", "scan_csv_multichar_delim", "scan_parquet_schema_merge",
    # harness boolean asymmetry
    "fn_json", "fn_regex",
]


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    """sf0.001-derived null-injected corpus, built once per test run."""
    out = str(tmp_path_factory.mktemp("nulls_sf0001"))
    _null_fixture.write_tier("/root/testdata/sf0.001", out, _null_fixture.inject)
    return out


@pytest.fixture(scope="module")
def nulls_con(nulls_dir):
    c = duckdb_connect(nulls_dir)
    yield c
    c.close()


def test_fixture_actually_injects_nulls(nulls_dir):
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(nulls_dir, "orders.parquet"))
    assert tbl.column("o_orderdate").null_count > 0
    assert tbl.column("o_orderpriority").null_count > 0
    docs = pq.read_table(os.path.join(nulls_dir, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    assert any(t is None for t in texts)
    assert any(t == "" for t in texts)


@pytest.mark.parametrize("qid", NULL_TIER_IDS)
def test_null_tier_parity(qid, spark, nulls_dir, nulls_con):
    spec = SPECS[qid]
    df = spec.fn(spark, nulls_dir)
    report = compare(df, nulls_con, spec.oracle)
    assert report["ok"], f"{qid}: {report}"
