"""NaN/Inf tier parity regression tests (round 9).

The extremes tier deliberately excluded NaN/±Inf; the round-9 nan tier
(scripts/nan_fixture.py) injects them where production AI pipelines grow
them — events.value metric streams and embedding vector components — and
the full sweep surfaced 27 cross-engine divergences in three classes:

- the oracle engine's stddev/var/corr kernels RAISE Out of Range on any
  non-finite input while this engine propagates NaN; CAST(nan/inf AS
  DECIMAL/INT) is a conversion error there and a CAST_OVERFLOW here
- quantile kernels disagree on NaN placement (percentile ranks it
  greatest here; quantile_cont propagates NaN there)
- one NaN vector component poisons every dot product / norm / centroid /
  codebook it touches

The contracts: vector kernels quarantine non-finite vectors
(portable.finite_vec == VEC_FINITE_SQL) and give a zero-norm vector a NULL
cosine and NULL unit components (portable.cosine_expr == cosine_sql ==
unit_rows), metric
statistics compute over the FINITE value domain (portable.finite ==
FINITE_SQL), and featurizers NULL a feature outside its domain rather
than dropping the row. This module rebuilds a small nan corpus from
sf0.001 and re-runs parity for representatives of each fixed class plus
ops that must KEEP passing by pure propagation (embed_normalize).
"""

from __future__ import annotations

import importlib.util
import math
import os

import pytest

from ai_dataingestion_spark.catalog import all_specs
from tests.parity import compare, duckdb_connect

_SPEC = importlib.util.spec_from_file_location(
    "nan_fixture",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "nan_fixture.py"),
)
_nan = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_nan)

SPECS = all_specs()

NAN_TIER_IDS = [
    # vector-kernel quarantine (finite_vec / VEC_FINITE_SQL)
    "sim_cosine_topk", "sim_knn_label", "sim_pair_dedup",
    "embed_dim_stats", "embed_mmr_select", "embed_quantize_int8",
    "embed_label_confusion", "embed_pq_reconstruction_error",
    # finite metric domain (finite / FINITE_SQL)
    "events_cuped_adjustment", "events_diff_in_differences",
    "events_pre_post_welch_t", "events_value_winsorized_stats",
    "quality_psi_drift", "fn_minmax_scale_check", "events_alert_rules",
    "udf_grouped_map",
    # feature-NULL-outside-domain
    "udf_map_in_pandas",
    # pure-propagation ops that must KEEP passing ungated
    "agg_groupby", "stream_tumbling",
    # finite-domain stateful tail (round 11): the Arrow float64 crossing
    # makes NULL and NaN indistinguishable inside a pandas stateful
    # processor while DuckDB SUM propagates NaN — tail_sum sums FINITE
    # values only on both engines (state_v2._summable / isfinite CASE)
    "stream_tws_list_state",
    # NULL-COMPONENT quarantine (round 10, ADVICE r9): Spark's exists()
    # 3VL vs DuckDB's list_filter NULL-dropping diverge on [1.0, NULL,
    # 2.0]-shaped vectors; NaN/Inf-ungated reductions additionally
    # diverge because acc+NULL nulls the whole Spark aggregate while
    # list_sum skips NULL elements (portable.component_complete /
    # COMPONENT_COMPLETE_SQL; the 11 round-10 fixes)
    "embed_normalize", "fn_array_hof", "embed_kmeans_iterations",
    "embed_cosine_histogram", "embed_norm_percentiles",
    "embed_index_upsert_refresh", "embed_dim_corr_pairs",
    "embed_label_eta_squared",
]


@pytest.fixture(scope="module")
def nan_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nan_sf0001"))
    _nan.write_tier("/root/testdata/sf0.001", out, _nan.inject)
    return out


@pytest.fixture(scope="module")
def nan_con(nan_dir):
    c = duckdb_connect(nan_dir)
    yield c
    c.close()


def test_fixture_actually_injects_nonfinite(nan_dir):
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(nan_dir, "events.parquet"))
    vals = [v for v in ev.column("value").to_pylist() if v is not None]
    assert any(math.isnan(v) for v in vals), "no NaN in events.value"
    assert any(v == math.inf for v in vals), "no +Inf in events.value"
    assert any(v == -math.inf for v in vals), "no -Inf in events.value"
    emb = pq.read_table(os.path.join(nan_dir, "embeddings.parquet"))
    vecs = [v for v in emb.column("embedding").to_pylist() if v]
    assert any(
        any(x is not None and not math.isfinite(x) for x in v) for v in vecs
    ), "no non-finite embedding component"
    assert any(
        any(x is None for x in v) for v in vecs
    ), "no NULL embedding component (round-10 component_complete class)"


@pytest.mark.parametrize("qid", NAN_TIER_IDS)
def test_nan_tier_parity(qid, spark, nan_dir, nan_con):
    spec = SPECS[qid]
    df = spec.fn(spark, nan_dir)
    report = compare(df, nan_con, spec.oracle)
    assert report["ok"], f"{qid}: {report}"
