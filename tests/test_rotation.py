"""Driver-rotation bookkeeping: the packaged recert_order.json agrees with
the CORRECTNESS files, and a code fingerprint moves exactly the operators
whose code changed to the re-check rank."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from ai_dataingestion_spark import catalog, registry, tmpdirs
from ai_dataingestion_spark.ai import dedup, similarity, text
from ai_dataingestion_spark.functions import portable
from ai_dataingestion_spark.operators import analytics, events, graph
from ai_dataingestion_spark.pipeline import quality
from ai_dataingestion_spark.sources import scans

REPO = Path(__file__).resolve().parent.parent
SPECS = catalog.all_specs()


def test_rotation_plan_audit_passes(capsys):
    """A committed CORRECTNESS file without `rotation_plan.py --write`
    leaves the table stale; that must fail here, not mis-plan a window."""
    from scripts import rotation_plan

    assert rotation_plan.main([]) == 0, capsys.readouterr().out


@pytest.fixture(scope="module")
def certified():
    """Every operator certified at round 1 on the code as it is now."""
    return {n: catalog.fingerprint(s) for n, s in SPECS.items()}


def _ranks(certified: dict[str, str]) -> dict[str, int]:
    latest = dict.fromkeys(SPECS, 1)
    return {
        n: catalog._rotation_rank(s, latest, certified, catalog.fingerprint)
        for n, s in SPECS.items()
    }


def test_unchanged_code_ranks_behind_everything(certified):
    assert set(_ranks(certified).values()) == {4}


@pytest.mark.parametrize(
    "module, name, value, moved",
    [
        (dedup, "_minhash_near_pairs", lambda docs, sf_dir: docs,
         "dedup_near_minhash dedup_eval_precision_recall dedup_removal_plan"),
        # reached through function-local imports in ai/text.py and its own
        # module's dedup_family_sizes
        (dedup, "_corpus_with_exact_dups", lambda spark, sf_dir: None,
         "dedup_exact dedup_simhash dedup_removal_plan text_paragraph_dedup "
         "dedup_family_sizes"),
        # reached through _shingled_docs
        (dedup, "_SHINGLES_EXPR", "array()",
         "dedup_eval_precision_recall dedup_lsh_band_tuning "
         "dedup_minhash_estimate_error dedup_near_minhash dedup_ngram_jaccard "
         "dedup_removal_plan text_containment_pairs text_shingle_df_cap_loss "
         "text_shingle_df_spectrum"),
        (events, "_sessions", lambda e, keep=(), gap_min=30: e,
         "events_sessionize_batch events_sessions_bounce_rate "
         "events_session_depth_survival events_session_gap_sensitivity "
         "events_peak_concurrency events_cep_triple_pattern "
         "events_top_session_paths"),
        (events, "_user_day_calendar", lambda daily: daily,
         "events_gap_fill_locf events_gap_fill_linear"),
        (analytics, "net_price", lambda: None,
         "tpch_q3_shipping_priority tpch_q5_local_volume "
         "tpch_q7_volume_shipping tpch_q8_market_share "
         "tpch_q9_profit_by_nation_year tpch_q10_returned_items "
         "tpch_q11_part_value_concentration tpch_q14_promo_revenue "
         "tpch_q15_top_supplier tpch_q19_disjunctive lineitem_abc_pareto "
         "part_brand_share supplier_revenue_gini"),
        (analytics, "money_sum", lambda col: col,
         "tpch_q3_shipping_priority tpch_q5_local_volume "
         "tpch_q6_forecast_revenue tpch_q7_volume_shipping "
         "tpch_q9_profit_by_nation_year tpch_q10_returned_items "
         "tpch_q15_top_supplier tpch_q19_disjunctive tpch_q22_idle_customers "
         "customer_rfm_segments customer_cohort_ltv lineitem_abc_pareto"),
        (text, "source_token_counts", lambda documents: documents,
         "text_kl_divergence_sources text_hapax_ratio "
         "text_js_divergence_pairwise"),
        (dedup, "DF_CAP", 49,
         "dedup_ngram_jaccard text_containment_pairs text_shingle_df_cap_loss"),
        # reached through a nested function: the MMR cosine builder
        (similarity, "cosine_expr", lambda a, b: "0.0D", "embed_mmr_select"),
        (quality, "content_fingerprint", lambda canon: None,
         "quality_table_fingerprint quality_partition_fingerprint_diff"),
        (scans, "_parquet_footers", lambda paths: paths,
         "scan_parquet_footer_audit sink_max_records_per_file"),
        # a constant of another module, reached through the pre_period twin
        (portable, "CUTOVER_DATE", "2024-01-16",
         "quality_psi_drift quality_ks_two_sample events_pre_post_welch_t "
         "events_diff_in_differences events_cuped_adjustment"),
        # a twin's code: every operator whose Spark side calls it moves
        (portable.percentile, "__code__", (lambda col, q: None).__code__,
         "agg_median agg_percentile agg_median_of_means agg_equidepth_histogram "
         "win_percentile_disc_vs_cont text_lang_stats text_readability_score "
         "text_length_band_filter embed_norm_percentiles "
         "lineitem_ship_latency_by_nation supplier_quadrant_classification "
         "events_session_gap_sensitivity events_anomaly_mad events_alert_rules "
         "events_time_to_convert_quantiles events_transition_dwell_stats "
         "quality_outlier_iqr quality_psi_drift"),
        (portable.decile_bin, "__code__", (lambda col: None).__code__,
         "agg_equidepth_histogram quality_psi_drift"),
        (portable.mant_exp_cols, "__code__",
         (lambda col, name, dp=6: []).__code__,
         "agg_stats agg_partial_merge_proof "
         "orders_seasonal_decomposition_additive events_cuped_adjustment "
         "events_sample_size_calc"),
        (portable.hash_bucket, "__code__", (lambda key, salt="": None).__code__,
         "split_train_eval sample_stratified text_naive_bayes_source_classifier "
         "text_contamination_ngram events_ab_proportion_ztest "
         "events_ab_srm_check events_diff_in_differences"),
        (graph.copurchase_pairs, "__code__",
         (lambda lineitem, min_orders=1, out=(): lineitem).__code__,
         "graph_copurchase_triangles graph_degree_distribution "
         "graph_link_prediction_jaccard market_basket_pairs"),
        (registry.warehouse_table, "__code__",
         (lambda spark, sf_dir, base, df, configure: base).__code__,
         "join_bucketed catalog_show_partitions_inventory"),
        # run-time state: a global op_tmpdir rebinds, and a cache dict
        (tmpdirs, "_ROOT", "/elsewhere", ""),
        (registry, "_events_ts_unit", {("a",): "ns"}, ""),
    ],
    ids=["helper", "helper-local-import", "module-sql-constant",
         "sessions-helper", "calendar-helper", "net-price-helper",
         "money-sum-helper", "source-token-counts-helper", "df-cap-constant",
         "cosine-helper", "fingerprint-helper", "footer-reader",
         "cutover-constant", "percentile-twin", "decile-twin", "mant-exp-twin",
         "hash-bucket-twin", "copurchase-twin", "warehouse-table-helper",
         "rebound-global", "cache-dict"],
)
def test_changed_dependency_moves_exactly_its_operators(
    certified, monkeypatch, module, name, value, moved
):
    monkeypatch.setattr(module, name, value)
    assert _ranks(certified) == {n: 1 if n in moved.split() else 4 for n in SPECS}


def test_module_names_stay_out_of_fingerprints(certified, monkeypatch):
    """A class body reads its module's ``__name__``; renaming every package
    module, as a move to another module would, leaves every digest as it
    was."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("ai_dataingestion_spark"):
            monkeypatch.setattr(mod, "__name__", f"{mod.__name__}_moved")
    assert _ranks(certified) == dict.fromkeys(SPECS, 4)


def test_moving_next_to_imported_names_keeps_the_digest():
    """A function-local import from the operator's own module reads that
    module's scope once, so moving an operator into the module it imports
    from leaves its digest as it was."""
    import dataclasses
    import types

    spec = SPECS["stream_foreachbatch_upsert"]
    code = spec.fn.__wrapped__.__code__
    home = vars(sys.modules["ai_dataingestion_spark.streaming.incremental"])
    imported = {"_RAW_EVENTS_DDL", "_read_stream", "_run_available_now",
                "stage_event_files"}
    away = {k: v for k, v in home.items() if k not in imported}
    digests = {
        catalog.fingerprint(
            dataclasses.replace(spec, fn=types.FunctionType(code, scope))
        )
        for scope in (home, away)
    }
    assert len(digests) == 1


def test_rank_one_orders_oldest_green_round_first(certified, monkeypatch):
    """Among operators whose code changed since green, the one that has
    waited longest for fresh evidence leads, whatever its registration
    index: otherwise a large edit to early-registering operators pushes
    older re-checks out of the driver window."""
    with_oracle = [n for n, s in catalog._REGISTRY.items() if s.oracle]
    early, late = with_oracle[0], with_oracle[-1]
    latest = dict.fromkeys(SPECS, 12) | {early: 10, late: 3}
    stale = dict(certified) | {early: "stale", late: "stale"}
    monkeypatch.setattr(catalog, "_recert_table", lambda: (latest, stale))
    assert list(catalog.all_specs())[:2] == [late, early]


def test_changed_factory_closure_sql_moves_one_operator(certified, monkeypatch):
    fn = SPECS["fn_listagg_within_group"].fn.__wrapped__
    cell = fn.__closure__[fn.__code__.co_freevars.index("stmts")]
    monkeypatch.setattr(cell, "cell_contents", ("SELECT 1 AS x",))
    assert _ranks(certified) == {
        n: 1 if n == "fn_listagg_within_group" else 4 for n in SPECS
    }


def test_fingerprint_depends_on_code_only(certified):
    """A fresh process with another hash seed agrees with this one, whatever
    operators this process has run before."""
    code = (
        "import json; from ai_dataingestion_spark import catalog; "
        "print(json.dumps({n: catalog.fingerprint(s) "
        "for n, s in catalog.all_specs().items()}))"
    )
    env = dict(os.environ, PYTHONHASHSEED="12345", PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout
    assert json.loads(out) == certified
