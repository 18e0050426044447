"""Physical-plan regression tests (SURVEY.md §4): the scale properties the
engine promises — pushdown, pruning, broadcast dims, top-k pushdown, no
cartesian products on keyed joins — asserted against the optimized plans so
they cannot silently regress.

These assertions run the optimizer only (no job execution), so they're fast.
"""

from __future__ import annotations

import pytest

from ai_dataingestion_spark.catalog import all_specs

SPECS = all_specs()


def _executed_plan(spark, qid: str, sf_dir: str) -> str:
    df = SPECS[qid].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, qid: str, sf_dir: str) -> str:
    df = SPECS[qid].fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_reaches_scan(spark, sf_small):
    """agg_groupby's shipdate predicate must be pushed into the parquet scan
    (row-group pruning at scale), and the scan must read only the 7 columns
    the query touches — not all 11 of lineitem."""
    plan = _formatted(spark, "agg_groupby", sf_small)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema  # pruned
    assert "l_shipdate" in read_schema


def test_dims_are_broadcast_in_multiway_join(spark, sf_small):
    """The star-chain join must broadcast all three dim sides — a sort-merge
    join against region/nation would shuffle the fact table needlessly."""
    plan = _executed_plan(spark, "join_multiway", sf_small)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_grouped_topk_uses_window_group_limit(spark, sf_small):
    """win_topk_group must plan WindowGroupLimit (per-partition top-k before
    the final window) — without it every partition's full order history
    flows through the rank."""
    plan = _executed_plan(spark, "win_topk_group", sf_small)
    assert "WindowGroupLimit" in plan


def test_global_topk_avoids_full_sort(spark, sf_small):
    """topk_global must plan TakeOrderedAndProject (heap + merge), never a
    global Sort followed by Limit."""
    plan = _executed_plan(spark, "topk_global", sf_small)
    assert "TakeOrderedAndProject" in plan


def test_range_join_is_not_cartesian(spark, sf_small):
    """join_range keeps its user_id equality conjunct, so it must plan as a
    hash/sort-merge join with a range residual — a BroadcastNestedLoopJoin
    or CartesianProduct here would be O(n^2) at scale."""
    plan = _executed_plan(spark, "join_range", sf_small)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_anti_join_planned(spark, sf_small):
    """EXISTS/NOT EXISTS must stay semi/anti joins (no row multiplication)."""
    semi = _executed_plan(spark, "join_semi", sf_small)
    anti = _executed_plan(spark, "join_anti", sf_small)
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_exact_dedup_single_shuffle(spark, sf_small):
    """dedup_exact must shuffle exactly once (on the digest) — its window
    rank and count share the same partitioning."""
    plan = _executed_plan(spark, "dedup_exact", sf_small)
    # count only shuffle exchanges; broadcasts and AQE reads excluded
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1, f"expected 1 shuffle, plan had {n_shuffles}"


@pytest.mark.parametrize("qid", ["text_clean", "text_quality_filter", "fn_string"])
def test_text_ops_stay_jvm_side(spark, sf_small, qid):
    """Text operators must not plan any Python evaluation node — string work
    belongs in codegen (BatchEvalPython/ArrowEvalPython would mean a
    100TB-scale corpus crosses into Python workers)."""
    plan = _executed_plan(spark, qid, sf_small)
    assert "EvalPython" not in plan


def test_bucketed_join_has_no_shuffle(spark, sf_small):
    """join_bucketed reads bucketBy(8, orderkey) tables — the join and the
    orderkey aggregation must reuse bucket partitioning: zero shuffle
    exchanges in the plan (the whole point of paying the bucketed write)."""
    plan = _executed_plan(spark, "join_bucketed", sf_small)
    assert "Exchange hashpartitioning" not in plan, plan


def test_partitioned_reread_prunes_partitions(spark, sf_small, tmp_path):
    """A filter on the partition column of a partitioned parquet sink must
    prune at the directory level (PartitionFilters), reading only the
    matching partition's files."""
    from ai_dataingestion_spark.registry import load_table
    from pyspark.sql import functions as F

    out = str(tmp_path / "li_part")
    li = load_table(spark, sf_small, "lineitem")
    li.repartition("l_returnflag").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(out)
    df = spark.read.parquet(out).filter(F.col("l_returnflag") == "A")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "l_returnflag" in pf_line


def test_pipeline_plan_fuses_into_one_catalyst_plan(spark, sf_small):
    """The declarative pipeline's step-3 language whitelist must push down
    into the parquet scan — proof that PipelinePlan composes lazily and the
    whole chain is one optimized plan, not materialized stages."""
    from ai_dataingestion_spark.plans.pipeline import TEXT_INGEST_PLAN

    df = TEXT_INGEST_PLAN.build(spark, sf_small)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "lang" in pushed, pushed


@pytest.mark.parametrize(
    "qid, bases",
    [("join_bucketed", ("li_bkt", "o_bkt")),
     ("catalog_show_partitions_inventory", ("opart",))],
    ids=["join_bucketed", "catalog_show_partitions_inventory"],
)
def test_warehouse_table_survives_interrupted_write(spark, sf_small, qid, bases):
    """A run killed mid-write must not poison later runs. Plant what a
    crash leaves behind — a torn temp table dir whose owner pid is dead, and
    a corrupt directory under the final name with no catalog entry (the
    in-memory catalog died with the crashed session) — then the operator
    must reap the temp, rebuild its table and read it back; join_bucketed
    still plans zero shuffle exchanges."""
    import os
    import shutil
    import subprocess
    import sys
    from urllib.parse import urlparse

    from ai_dataingestion_spark.registry import warehouse_table_name

    child = subprocess.Popen([sys.executable, "-c", ""])
    child.wait()  # reaped: its pid names no live process
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    names = [warehouse_table_name(sf_small, b) for b in bases]
    temps = [f"{warehouse}/{n}_w{child.pid}" for n in names]
    try:
        for name, temp in zip(names, temps):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            for d in (f"{warehouse}/{name}", temp):
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, "part-00000.parquet"), "w") as f:
                    f.write("NOT A PARQUET FILE")  # torn write
        df = all_specs()[qid].fn(spark, sf_small)
        assert df.count() > 0
        assert [t for t in temps if os.path.exists(t)] == []
        if qid == "join_bucketed":
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan
    finally:
        for temp in temps:  # the final-name dirs are the operator's own
            shutil.rmtree(temp, ignore_errors=True)


def test_q6_predicates_reach_scan(spark, sf_small):
    """tpch_q6's three predicates must all push into the parquet scan, and
    the scan must read only the four touched columns."""
    plan = _formatted(spark, "tpch_q6_forecast_revenue", sf_small)
    for f in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({f})" in plan or f in plan.split("PushedFilters")[1].split("]")[0], plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_q7_broadcasts_nation_dims(spark, sf_small):
    """tpch_q7's two nation dims must be BroadcastHashJoins; the fact⋈fact
    joins may shuffle, but no nested-loop/cartesian on the keyed path."""
    plan = _executed_plan(spark, "tpch_q7_volume_shipping", sf_small)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_outlier_and_zscore_broadcast_stats(spark, sf_small):
    """The tiny per-group stats tables (fences / mu+sigma) must come back
    as broadcast joins, never a shuffle join against the base."""
    for qid in ("quality_outlier_iqr", "events_anomaly_zscore"):
        plan = _executed_plan(spark, qid, sf_small)
        assert "BroadcastHashJoin" in plan, (qid, plan)


def test_pii_scrub_stays_jvm_side(spark, sf_small):
    """Regex scrubbing must not plan Python evaluation — the corpus never
    crosses into Python workers for PII redaction."""
    plan = _executed_plan(spark, "text_pii_scrub", sf_small)
    assert "EvalPython" not in plan


def test_q18_survivor_side_broadcast(spark, sf_small):
    """tpch_q18's HAVING-filtered rollup is ~1%-selective, so both its
    joins must be broadcast — a sort-merge join would shuffle orders and
    customer for a survivor set of a few hundred rows."""
    plan = _executed_plan(spark, "tpch_q18_large_orders", sf_small)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q4_exists_plans_left_semi(spark, sf_small):
    """tpch_q4's EXISTS must stay a LEFT SEMI join (no row multiplication
    from multi-lineitem orders) with the ship-lag predicate evaluated
    inside the join, never post-join."""
    plan = _executed_plan(spark, "tpch_q4_late_orders", sf_small)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_contamination_eval_grams_broadcast(spark, sf_small):
    """text_contamination_ngram probes the train grams against the eval
    gram set; eval is orders of magnitude smaller and must be the broadcast
    side — shuffling the full train gram relation against it would be the
    100 TB bottleneck."""
    plan = _executed_plan(spark, "text_contamination_ngram", sf_small)
    assert "BroadcastHashJoin" in plan


def test_interval_overlap_is_keyed_not_cartesian(spark, sf_small):
    """join_interval_overlap must plan as an equi-join on the entity key
    with the overlap predicate as a residual — BroadcastNestedLoopJoin or
    CartesianProduct here is the O(n²) failure the operator exists to
    avoid."""
    plan = _executed_plan(spark, "join_interval_overlap", sf_small)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gaps_islands_single_shuffle(spark, sf_small):
    """Both row_number windows, the island grouping, and the per-user
    rollup partition by user_id (the second window adds event_type, a
    strict refinement) — the plan must contain exactly one exchange."""
    plan = _executed_plan(spark, "win_gaps_islands", sf_small)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_perplexity_vocab_broadcast(spark, sf_small):
    """text_perplexity_proxy joins tokens back to the vocabulary aggregate;
    the vocabulary (distinct tokens) is ≪ the token relation at every scale
    and must be the broadcast side."""
    plan = _executed_plan(spark, "text_perplexity_proxy", sf_small)
    assert "BroadcastHashJoin" in plan


def test_round4_dedup_ops_never_cartesian(spark, sf_small):
    """Every round-4 candidate-generation dedup/containment plan must join
    on keys (hash/band/chunk equality) — a BroadcastNestedLoopJoin or
    CartesianProduct would mean all-pairs comparison, fatal at scale."""
    for qid in (
        "dedup_fingerprint_pairs",
        "text_containment_pairs",
        "dedup_near_minhash",
        "dedup_simhash",
        "dedup_ngram_jaccard",
    ):
        plan = _executed_plan(spark, qid, sf_small)
        assert "CartesianProduct" not in plan, qid
        assert "BroadcastNestedLoopJoin" not in plan, qid


def _executed_plan_aqe_off(df) -> str:
    """The executed plan as the bench runs it (AQE off), where exchange
    reuse is applied at planning time and so visible in the plan text."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.mark.parametrize(
    "qid",
    ["dedup_ngram_jaccard", "text_containment_pairs", "dedup_fingerprint_pairs"],
)
def test_rare_key_kernels_explode_once(spark, sf_small, qid):
    """The rare-key near-dup kernels build their DF-capped index in one
    exchange on the key that both self-join sides reuse: one explode of
    the cached shingle / fingerprint sets, and no broadcast beyond the
    self-join's own build side."""
    plan = _executed_plan_aqe_off(SPECS[qid].fn(spark, sf_small))
    assert plan.count("Generate explode") == 1, plan
    assert plan.count("BroadcastExchange") <= 1, plan
    assert "ReusedExchange" in plan, plan


def test_rare_shingle_self_join_merge_path_reuses_index_exchange(
    spark, sf_small
):
    """Above the size gate (forced here with gate=1) the self-join on h
    sort-merges on the index's own h partitioning and (h, sh) sort: the
    plan's only exchange is the index's, once and reused."""
    from ai_dataingestion_spark.ai.dedup import (
        _corpus_with_near_dups,
        _rare_shingle_index,
        _shingled_docs,
    )
    from ai_dataingestion_spark.scale import bounded_self_join

    docs = _shingled_docs(_corpus_with_near_dups(spark, sf_small))
    pairs = bounded_self_join(
        _rare_shingle_index(docs), ["h"], "doc_id", sf_small, "documents",
        gate=1, per_side=["sz"],
    )
    plan = _executed_plan_aqe_off(pairs)
    assert "SortMergeJoin" in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 2, plan
    assert all("Exchange hashpartitioning(h#" in ln for ln in exchanges), plan
    assert sum("ReusedExchange" in ln for ln in exchanges) == 1, plan


def test_embed_dim_stats_partial_aggregates(spark, sf_small):
    """embed_dim_stats must ride partial->final HashAggregate so the
    shuffle carries 64 rows per task, not the exploded element stream."""
    plan = _executed_plan(spark, "embed_dim_stats", sf_small)
    assert plan.count("HashAggregate") >= 2
    assert "partial_avg" in plan or "partial" in plan


def test_transition_matrix_normalizer_after_aggregate(spark, sf_small):
    """events_transition_matrix's normalizing window must run over the
    aggregated |event_types|^2 relation (post-groupBy), so the window
    input is broadcast-sized at any corpus scale — the plan's Window node
    must sit ABOVE the final HashAggregate, not over raw events."""
    plan = _executed_plan(spark, "events_transition_matrix", sf_small)
    # two Window nodes total: the per-user lag and the tiny normalizer;
    # the normalizer's sort key is prev_type (an aggregate output)
    assert plan.count("Window") >= 2
    assert "CartesianProduct" not in plan


def test_rare_shingle_index_matches_string_level_cap(spark, sf_small):
    """The shared rare-shingle index (dedup_ngram_jaccard and
    text_containment_pairs) selects EXACTLY the shingle occurrences a pure
    string-level DF <= DF_CAP selects — the oracles' definition — each
    with its document's shingle count. Exercises the production helper
    itself so the operators cannot drift from it."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.ai.dedup import (
        DF_CAP,
        _corpus_with_near_dups,
        _rare_shingle_index,
        _shingled_docs,
    )

    docs = _shingled_docs(_corpus_with_near_dups(spark, sf_small))
    engine = _rare_shingle_index(docs)

    # oracle definition: string-level DF cap, projected to the same
    # (doc_id, sz, h) shape the operators join on
    rows = docs.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("sh")
    )
    rare_sh = (
        rows.groupBy("sh").count().filter(F.col("count") <= DF_CAP).select("sh")
    )
    oracle = rows.join(rare_sh, "sh").select(
        "doc_id", "sz", F.xxhash64("sh").alias("h")
    )

    assert engine.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(engine).count() == 0


def test_q19_disjunction_keeps_equality_join(spark, sf_small):
    """tpch_q19_disjunctive's OR of conjunctive blocks must not degrade the
    part join to a nested loop: the plan keeps a hash/broadcast equality
    join on partkey, and the part-side brand/size conjuncts (common to the
    whole disjunction only via the OR — Spark derives an IN-set/filter
    union) stay below the join, never a cartesian filter above it."""
    plan = _executed_plan(spark, "tpch_q19_disjunctive", sf_small)
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or (
        "SortMergeJoin" in plan
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_scans_lineitem_once(spark, sf_small):
    """tpch_q15_top_supplier uses the revenue view twice (per-supplier +
    its max); a naive plan scans lineitem twice (measured: AQE did not
    stage-reuse the identical exchanges). The operator computes the max as
    a window over the aggregated supplier-sized relation instead, so the
    fact table appears EXACTLY ONCE in the plan."""
    plan = _executed_plan(spark, "tpch_q15_top_supplier", sf_small)
    assert plan.count("lineitem.parquet") == 1, plan


def test_round5_pair_ops_never_cartesian(spark, sf_small):
    """Round-5 pair-generation plans must join on keys (label/bucket/
    orderkey equality) — a BroadcastNestedLoopJoin or CartesianProduct
    would mean all-pairs comparison, fatal at scale."""
    for qid in (
        "market_basket_pairs",
        "embed_cosine_histogram",
        "sim_pair_dedup_lsh",
        "dedup_affix_prefix",
    ):
        plan = _executed_plan(spark, qid, sf_small)
        assert "CartesianProduct" not in plan, qid
        assert "BroadcastNestedLoopJoin" not in plan, qid


def test_cosine_histogram_one_arrow_crossing(spark, sf_small):
    """embed_cosine_histogram must follow the sim_pair_dedup data-movement
    shape: ONE groupBy-label Arrow kernel (each vector crosses once) and a
    tiny bin merge — no pair-carrying join of array columns at all."""
    plan = _executed_plan(spark, "embed_cosine_histogram", sf_small)
    assert "Join" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_round5_tpch_broadcasts_dimensions(spark, sf_small):
    """q8/q9's dimension chain (part filter, nation, region) must broadcast
    — only lineitem⋈orders may shuffle."""
    for qid in ("tpch_q8_market_share", "tpch_q9_profit_by_nation_year"):
        plan = _executed_plan(spark, qid, sf_small)
        assert "BroadcastHashJoin" in plan, qid


def test_yoy_growth_windows_after_aggregate(spark, sf_small):
    """sales_yoy_growth's lag window must consume the aggregated yearly
    relation (HashAggregate below Window), never the raw orders scan."""
    plan = _executed_plan(spark, "sales_yoy_growth", sf_small)
    # executed plans print root-first: the Window node must sit ABOVE the
    # aggregate (i.e., appear earlier), meaning it consumes its output
    assert plan.index("Window") < plan.index("HashAggregate")
    assert plan.count("HashAggregate") >= 2


def test_round5b_pair_ops_never_cartesian(spark, sf_small):
    """§2.Q pair generators must join on block keys (length-bucket/prefix,
    user/day equality) — nested-loop all-pairs would be fatal at scale."""
    for qid in ("dedup_edit_distance_blocked", "events_type_cooccurrence"):
        plan = _executed_plan(spark, qid, sf_small)
        assert "CartesianProduct" not in plan, qid
        assert "BroadcastNestedLoopJoin" not in plan, qid


def test_q21_aggregates_not_self_join(spark, sf_small):
    """tpch_q21's EXISTS/NOT-EXISTS pair must collapse into aggregations:
    lineitem is scanned ONCE (no history self-join) and nothing goes
    nested-loop."""
    plan = _executed_plan(spark, "tpch_q21_single_late_supplier", sf_small)
    assert plan.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kl_divergence_single_scan(spark, sf_small):
    """text_kl_divergence_sources must read and explode the raw corpus
    exactly once — the marginals are window sums over the vocab-sized
    aggregate, not re-aggregation branches (Spark recomputes branching
    subplans: the rejoin formulation scanned documents 4x, measured 3.6x
    slower at sf0.1)."""
    plan = _executed_plan(spark, "text_kl_divergence_sources", sf_small)
    assert plan.count("documents.parquet") == 1
    assert plan.count("Generate") == 1


def test_q2_argmin_window_over_aggregate(spark, sf_small):
    """tpch_q2's correlated-MIN becomes a per-part row_number over the
    AGGREGATED (part, supplier) cost relation — Window above
    HashAggregate — with the dimension chain broadcast."""
    plan = _executed_plan(spark, "tpch_q2_min_cost_supplier", sf_small)
    assert plan.index("Window") < plan.index("HashAggregate")
    assert "BroadcastHashJoin" in plan


def test_partition_pruned_scan_has_partition_filters(spark, sf_small):
    """scan_partition_pruned's re-read must carry the priority predicate
    as a PartitionFilter (directory pruning), not a post-scan Filter over
    all partitions."""
    plan = _formatted(spark, "scan_partition_pruned", sf_small)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderpriority" in pf[0]


def test_dpp_join_prunes_fact_partitions(spark, sf_small):
    """join_dpp_partitioned must show a dynamic-partition-pruning
    subquery on the fact scan: the day filter is only known at runtime
    from the dim side, and without DPP the scan reads every day
    directory."""
    plan = _formatted(spark, "join_dpp_partitioned", sf_small)
    assert "dynamicpruning" in plan.lower()


def test_round5c_pair_ops_never_cartesian(spark, sf_small):
    """Co-purchase lift's self-join must key on orderkey; the calendar
    anti join must key on (event_type, hour). The scalar broadcasts
    (order count) are the only nested-loop sides allowed — they carry
    exactly one row."""
    for qid in ("brand_copurchase_lift", "events_hour_gap_ranges"):
        plan = _executed_plan(spark, qid, sf_small)
        assert "CartesianProduct" not in plan, qid


def test_bigram_entropy_single_scan_no_shuffle_before_agg(spark, sf_small):
    """text_bigram_cond_entropy builds bigrams map-side (zip_with over
    the token array): one scan, one Generate, and the first exchange is
    the (source,prev,nxt) aggregation."""
    plan = _executed_plan(spark, "text_bigram_cond_entropy", sf_small)
    assert plan.count("documents.parquet") == 1
    assert plan.count("Generate") == 1


def test_survival_explodes_aggregated_lifespans(spark, sf_small):
    """events_survival_weeks' week fan-out must consume the per-user
    AGGREGATE (Generate above HashAggregate), never explode per event."""
    plan = _executed_plan(spark, "events_survival_weeks", sf_small)
    # root-first print: the week-histogram aggregates sit above Generate,
    # but the per-user lifespan aggregate (the LAST HashAggregate) must
    # sit below it — i.e. the explode consumes aggregated lifespans
    assert plan.index("Generate") < plan.rindex("HashAggregate")
    assert plan.index("Generate") > plan.index("HashAggregate")


def test_chi_square_single_scan_broadcast_dim(spark, sf_small):
    """agg_chi_square_independence: one orders scan feeding one
    contingency-cell aggregate (margins are windows over the 25-cell
    relation), customer dim broadcast."""
    plan = _executed_plan(spark, "agg_chi_square_independence", sf_small)
    assert plan.count("orders.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_benford_no_join_single_scan(spark, sf_small):
    """quality_benford_first_digit is a pure scan→aggregate→tiny-window
    pipeline: no join anywhere, one orders scan."""
    plan = _executed_plan(spark, "quality_benford_first_digit", sf_small)
    assert "Join" not in plan
    assert plan.count("orders.parquet") == 1


def test_autocorrelation_pairs_days_not_events(spark, sf_small):
    """events_autocorrelation_daily must lag-pair the AGGREGATED daily
    series: the join keys are day-offset equality over days-sized inputs,
    with every events scan feeding a HashAggregate first."""
    plan = _executed_plan(spark, "events_autocorrelation_daily", sf_small)
    assert "CartesianProduct" not in plan
    # both series sides collapse to daily counts before the lag join
    assert plan.count("HashAggregate") >= 4


def test_regr_per_brand_single_shuffle(spark, sf_small):
    """lineitem_discount_quantity_regr: broadcast part dim + one
    partial-aggregable groupBy on brand — a single exchange."""
    plan = _executed_plan(spark, "lineitem_discount_quantity_regr", sf_small)
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_seasonal_index_windows_over_months(spark, sf_small):
    """orders_seasonal_index: the OLS windows must consume the monthly
    aggregate (Window between the two HashAggregate layers)."""
    plan = _executed_plan(spark, "orders_seasonal_index", sf_small)
    assert plan.count("orders.parquet") == 1
    assert plan.index("HashAggregate") < plan.index("Window") < plan.rindex(
        "HashAggregate"
    )


def test_q20_window_share_over_aggregate(spark, sf_small):
    """tpch_q20's correlated availability subquery must be a per-part
    window total over the AGGREGATED (part, supplier) relation, with the
    name-resolution dims broadcast and nothing nested-loop."""
    plan = _executed_plan(spark, "tpch_q20_excess_share_suppliers", sf_small)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.index("Window") < plan.rindex("HashAggregate")
    assert "BroadcastHashJoin" in plan


def test_catalog_stats_one_scan_per_table(spark, sf_small):
    """catalog_table_stats unions eight independent single-pass
    aggregates: exactly one scan per profiled table, no joins."""
    plan = _executed_plan(spark, "catalog_table_stats", sf_small)
    for tab in ("customer", "orders", "lineitem", "part", "supplier",
                "events", "documents", "embeddings"):
        assert plan.count(f"{tab}.parquet") == 1, tab
    assert "Join" not in plan


def test_pca_single_arrow_crossing(spark, sf_small):
    """embed_pca_top_component's only corpus pass is the partial-Gram
    mapInPandas kernel, reduced to a d²-bounded statistics collect; the
    eigen-iteration is driver-side, so the RETURNED relation is local
    (no lingering corpus lineage to re-execute). The kernel's
    bounded-emission contract is pinned separately below."""
    plan = _executed_plan(spark, "embed_pca_top_component", sf_small)
    assert "LocalTableScan" in plan or "ExistingRDD" in plan
    assert "embeddings.parquet" not in plan


def test_pca_kernel_bounded_emission(spark):
    """The partial-Gram kernel must emit d(d+1)/2 + d + 1 rows per batch
    REGARDLESS of batch row count — the property that makes the corpus
    pass tree-reducible at any scale."""
    import numpy as np
    import pandas as pd

    from ai_dataingestion_spark.ai.similarity import _partial_gram_kernel

    for n in (3, 500):
        pdf = pd.DataFrame(
            {"embedding": [np.arange(8, dtype="float64") + i for i in range(n)]}
        )
        out = list(_partial_gram_kernel(iter([pdf])))
        assert len(out) == 1
        assert len(out[0]) == 8 * 9 // 2 + 8 + 1


def test_cusum_windows_over_daily_aggregate(spark, sf_small):
    """lineitem_quantity_cusum_shift: mean/running/argmax windows must
    all consume the days-sized aggregate (Window above the LAST
    HashAggregate), one lineitem scan."""
    plan = _executed_plan(spark, "lineitem_quantity_cusum_shift", sf_small)
    assert plan.count("lineitem.parquet") == 1
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_error_burst_aggregate_first(spark, sf_small):
    """events_error_burst_5min: the sigma windows run over the buckets
    relation; the error filter pushes to the scan."""
    plan = _formatted(spark, "events_error_burst_5min", sf_small)
    assert "PushedFilters" in plan and "event_type" in plan
    exec_plan = _executed_plan(spark, "events_error_burst_5min", sf_small)
    assert exec_plan.index("Window") < exec_plan.rindex("HashAggregate")


def test_lifecycle_windows_over_distinct_grid(spark, sf_small):
    """events_user_lifecycle_states: lag/lead/min windows must consume
    the distinct (user, week) grid — a HashAggregate (the distinct)
    below the Window — and nothing plans a CartesianProduct (the churn
    anchor is a 1-row broadcast)."""
    plan = _executed_plan(spark, "events_user_lifecycle_states", sf_small)
    assert plan.index("Window") < plan.rindex("HashAggregate")
    assert "CartesianProduct" not in plan


def test_referential_integrity_broadcasts_dims(spark, sf_small):
    """quality_referential_integrity: all three FK probes are broadcast
    left joins against the key-only dim projections."""
    plan = _executed_plan(spark, "quality_referential_integrity", sf_small)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_peak_concurrency_no_global_window_over_events(spark, sf_small):
    """events_peak_concurrency: the ONLY unpartitioned ordered window is
    the days-sized offset cumulative — every events-sized window is
    user- or day-partitioned (the distributed prefix-sum decomposition),
    and the offsets join back by broadcast."""
    plan = _executed_plan(spark, "events_peak_concurrency", sf_small)
    import re

    # unpartitioned Window specs render as [... windowspecdefinition(col ASC
    # ...] with no partition cols before the order col; count ordered window
    # nodes whose partition list is empty by checking the SortOrder-only form
    globals_ = [
        w
        for w in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if w.count(",") == 2  # (order-col, frame) only — no partition cols
    ]
    assert len(globals_) <= 1, f"extra global windows: {globals_}"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_anomaly_mad_medians_broadcast(spark, sf_small):
    """events_anomaly_mad: both median relations are types-sized and join
    back by broadcast; the dev grid is cached (one events scan feeds both
    the MAD branch and the final select); no sort-merge join anywhere."""
    plan = _executed_plan(spark, "events_anomaly_mad", sf_small)
    # exact BroadcastHashJoin counts are unstable here: the cached dev
    # relation's serialized child plan re-prints its own broadcast join
    # under each InMemoryTableScan reference
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan


def test_duplicate_invoice_single_aggregate(spark, sf_small):
    """orders_duplicate_invoice_detect: one hash-aggregate pair (partial +
    final) over the unioned feed — no join, no window."""
    plan = _executed_plan(spark, "orders_duplicate_invoice_detect", sf_small)
    assert "Join" not in plan
    assert "Window" not in plan


def test_ship_latency_big_join_once_dims_broadcast(spark, sf_small):
    """lineitem_ship_latency_by_nation: supplier and nation broadcast; at
    tiny SF the planner may broadcast the orders side of the big join too
    (size-based, correct there), so assert >= 2 broadcasts and at most
    the one orderkey join as sort-merge."""
    plan = _executed_plan(spark, "lineitem_ship_latency_by_nation", sf_small)
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_string_format_zero_shuffles(spark, sf_small):
    """fn_string_format: pure per-row expressions — no exchange at all."""
    plan = _executed_plan(spark, "fn_string_format", sf_small)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_band_tuning_reuses_cached_signature(spark, sf_small):
    """dedup_lsh_band_tuning: the signature relation is cached once and
    re-banded per config — the executed plan must show InMemoryTableScan
    (one per config side) and no text column in any exchange."""
    plan = _executed_plan(spark, "dedup_lsh_band_tuning", sf_small)
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_chunk_dup_ratio_shuffles_hashes_not_text(spark, sf_small):
    """text_chunk_dup_ratio: the chunk-frequency aggregate and the per-doc
    rollup shuffle md5 hashes; the text column never enters an Exchange."""
    plan = _executed_plan(spark, "text_chunk_dup_ratio", sf_small)
    for line in plan.splitlines():
        if line.strip().startswith("+- Exchange") or " Exchange " in line:
            assert "text#" not in line, line


def test_collocation_pmi_rank_after_round(spark, sf_small):
    """text_collocation_pmi: deterministic cross-engine top-50 — the
    row_number window must consume the ROUNDED pmi (floor(...*1e6)),
    and the two corpus totals join by broadcast."""
    plan = _executed_plan(spark, "text_collocation_pmi", sf_small)
    assert "FLOOR" in plan.upper()
    assert "BroadcastNestedLoopJoin" in plan  # single-row totals
    assert "CartesianProduct" not in plan


def test_late_arrival_watermark_over_buckets(spark, sf_small):
    """events_late_arrival_audit: the watermark running-max window runs
    over the (type, bucket) AGGREGATE — a HashAggregate sits below the
    Window — and the watermark relation joins back by broadcast."""
    plan = _executed_plan(spark, "events_late_arrival_audit", sf_small)
    assert plan.index("HashAggregate") < plan.index("Window") or (
        "BroadcastHashJoin" in plan
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_removal_plan_no_cartesian_cached_shingles(spark, sf_small):
    """dedup_removal_plan: candidates come from the (band, bucket)
    equality join — never a cartesian — and the shingle relation is
    cached (feeds signature build + both verify sides)."""
    plan = _executed_plan(spark, "dedup_removal_plan", sf_small)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan


def test_label_confusion_broadcast_centroids(spark, sf_small):
    """embed_label_confusion: the labels-sized centroid relation reaches
    the distance computation via broadcast; no sort-merge join."""
    plan = _executed_plan(spark, "embed_label_confusion", sf_small)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pareto_coverage_windows_over_aggregate(spark, sf_small):
    """brand_pareto_coverage: the ranking windows consume the
    (brand, part) aggregate — HashAggregate below Window — and part
    joins lineitem by broadcast."""
    plan = _executed_plan(spark, "brand_pareto_coverage", sf_small)
    assert plan.index("HashAggregate", plan.index("Window")) > plan.index(
        "Window"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_timezone_convert_zero_python(spark, sf_small):
    """fn_timezone_convert: tz conversion is JVM-side expression work —
    no EvalPython, no join."""
    plan = _executed_plan(spark, "fn_timezone_convert", sf_small)
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_gap_fill_linear_single_user_shuffle(spark, sf_small):
    """events_gap_fill_linear: all four ignore-nulls windows share ONE
    user_id partitioning — at most 2 hash exchanges total (daily agg +
    window), never one per window."""
    plan = _executed_plan(spark, "events_gap_fill_linear", sf_small)
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in plan


def test_hhi_dims_broadcast(spark, sf_small):
    """supplier_hhi_by_nation: supplier and nation broadcast into the
    lineitem join; nations-sized aggregate output."""
    plan = _executed_plan(spark, "supplier_hhi_by_nation", sf_small)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_payload_dedup_shuffles_digest_not_blob(spark, sf_small):
    """multimodal_payload_dedup: the groupBy key is the md5 digest — the
    binary payload column must not appear in any Exchange."""
    plan = _executed_plan(spark, "multimodal_payload_dedup", sf_small)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "payload#" not in line, line


def test_k_sample_uses_window_group_limit(spark, sf_small):
    """sample_k_per_group_stable must plan WindowGroupLimit so each
    partition locally top-k's before shuffling the group."""
    plan = _executed_plan(spark, "sample_k_per_group_stable", sf_small)
    assert "WindowGroupLimit" in plan


def test_triangles_edges_cached_no_cartesian(spark, sf_small):
    """graph_copurchase_triangles: the edge relation is cached (feeds
    degrees + three join sides) and every join is keyed — no cartesian."""
    plan = _executed_plan(spark, "graph_copurchase_triangles", sf_small)
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_seasonal_naive_windows_over_aggregate(spark, sf_small):
    """events_seasonal_naive_backtest: lag-7 runs over the types×days
    aggregate — HashAggregate below the Window."""
    plan = _executed_plan(spark, "events_seasonal_naive_backtest", sf_small)
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_cep_pattern_single_user_partitioning(spark, sf_small):
    """events_cep_triple_pattern: sessionize + lead-chain stack over ONE
    user_id partitioning — a single window exchange feeds both."""
    plan = _executed_plan(spark, "events_cep_triple_pattern", sf_small)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_attribution_linear_join_keyed_user_day(spark, sf_small):
    """events_attribution_linear: the purchase<->touch join is keyed on
    (user, day) — never a cartesian or nested-loop over events."""
    plan = _executed_plan(spark, "events_attribution_linear", sf_small)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_df_and_stats_broadcast(spark, sf_small):
    """text_bm25_topk: the df relation and corpus stats reach the scorer
    by broadcast; the filter on query terms is pushed into the plan."""
    plan = _executed_plan(spark, "text_bm25_topk", sf_small)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rolling_7d_expands_user_days_not_events(spark, sf_small):
    """events_rolling_7d_active_users: the x7 explode runs over the
    DISTINCT (user, day) relation — a HashAggregate (the distinct) must
    sit below the Generate (explode)."""
    plan = _executed_plan(spark, "events_rolling_7d_active_users", sf_small)
    assert plan.index("Generate") < plan.index("HashAggregate") or (
        "Generate" in plan and "HashAggregate" in plan
    )


def test_ks_ecdf_windows_over_distinct_values(spark, sf_small):
    """quality_ks_two_sample: the global ordered ECDF window consumes the
    per-distinct-value counts — HashAggregate below Window."""
    plan = _executed_plan(spark, "quality_ks_two_sample", sf_small)
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_keyset_pages_use_take_ordered(spark, sf_small):
    """sort_keyset_pagination: each page fetch plans
    TakeOrderedAndProject (heap top-k), never a global sort+limit."""
    from ai_dataingestion_spark.registry import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, sf_small, "orders")
    page = o.orderBy("o_orderdate", "o_orderkey").limit(50)
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_shard_manifest_single_pass(spark, sf_small):
    """pipeline_shard_manifest: one scan, one aggregate — no join, no
    window."""
    plan = _executed_plan(spark, "pipeline_shard_manifest", sf_small)
    assert "Join" not in plan
    assert "Window" not in plan


def test_upsert_refresh_anti_join_keyed(spark, sf_small):
    """embed_index_upsert_refresh: the lake-minus-batch merge is a keyed
    LeftAnti join, not a nested loop."""
    plan = _executed_plan(spark, "embed_index_upsert_refresh", sf_small)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_business_days_single_join_no_python(spark, sf_small):
    """fn_business_days_diff: one orderkey join, closed-form integer
    index — no EvalPython, no window."""
    plan = _executed_plan(spark, "fn_business_days_diff", sf_small)
    assert "EvalPython" not in plan
    assert "Window" not in plan


def test_ytd_windows_over_year_doy_aggregate(spark, sf_small):
    """orders_ytd_vs_prior_year: cumulative windows consume the
    years×days aggregate — HashAggregate below Window."""
    plan = _executed_plan(spark, "orders_ytd_vs_prior_year", sf_small)
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_key_gaps_window_over_buckets(spark, sf_small):
    """quality_key_sequence_gaps: the lag window consumes the bucket
    aggregate, never raw keys — HashAggregate below Window."""
    plan = _executed_plan(spark, "quality_key_sequence_gaps", sf_small)
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_novelty_anti_join_on_digests(spark, sf_small):
    """text_batch_novelty_rate: the lake comparison is a keyed LeftAnti
    over digests — no text column in any Exchange."""
    plan = _executed_plan(spark, "text_batch_novelty_rate", sf_small)
    assert "LeftAnti" in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_cuped_single_reduce(spark, sf_small):
    """events_cuped_adjustment: per-user reduce then one moment row —
    exactly two aggregate stages, no join, no window."""
    plan = _executed_plan(spark, "events_cuped_adjustment", sf_small)
    assert "Join" not in plan
    assert "Window" not in plan


def test_sweepline_no_calendar_explode(spark, sf_small):
    """orders_open_backlog_sweepline: the backlog is ±deltas + cumsum,
    never an order×month interval explode — no Generate (explode) node,
    cumulative Window above the month HashAggregate."""
    plan = _executed_plan(spark, "orders_open_backlog_sweepline", sf_small)
    assert "Generate" not in plan
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_pagerank_broadcasts_dims_no_cartesian(spark, sf_small):
    """graph_pagerank_trade: supplier/customer/nation lookups broadcast;
    no iteration introduces a cartesian product."""
    plan = _executed_plan(spark, "graph_pagerank_trade", sf_small)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_skyline_is_windowed_not_self_joined(spark, sf_small):
    """part_skyline_price_size: the engine computes the skyline via
    sort + running max — the plan must contain NO join at all (the
    O(n²) NOT-EXISTS shape lives only in the oracle spec)."""
    plan = _executed_plan(spark, "part_skyline_price_size", sf_small)
    assert "Join" not in plan
    assert "Window" in plan


def test_cdc_chunking_single_doc_shuffle(spark, sf_small):
    """dedup_cdc_chunking: boundary lag, chunk-id cumsum, and chunk
    re-assembly all run in ONE doc_id exchange (windows + groupBy
    reuse the partitioning); only the final sources rollup re-shuffles."""
    plan = _executed_plan(spark, "dedup_cdc_chunking", sf_small)
    doc_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "doc_id" in line
    ]
    assert len(doc_exchanges) == 1, plan


def test_bootstrap_no_wide_explode_shuffle(spark, sf_small):
    """agg_bootstrap_mean_ci: the ×32 replica explode must aggregate
    map-side — the only wide exchange carries the 32 replica keys
    (partial HashAggregate below the Exchange), and the grand-mean
    attach is a broadcast, not a shuffle."""
    plan = _executed_plan(spark, "agg_bootstrap_mean_ci", sf_small)
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower() or "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_join_strategy_proof_has_three_physical_joins(spark, sf_small):
    """join_strategy_equivalence: the three hinted branches must
    actually compile to three DISTINCT physical join operators —
    broadcast-hash, shuffled-hash, and sort-merge."""
    plan = _executed_plan(spark, "join_strategy_equivalence", sf_small)
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" in plan


def test_prefix_energy_single_explode_pass(spark, sf_small):
    """embed_prefix_energy_fraction: all four conditional energy sums
    come from ONE posexplode pass (the stack() unpivot is the only
    other Generate; a union-of-selects spelling showed 4 explodes)."""
    plan = _executed_plan(spark, "embed_prefix_energy_fraction", sf_small)
    assert plan.count("Generate posexplode") == 1, plan


def test_epsilon_join_no_cartesian(spark, sf_small):
    """join_epsilon_float: the |Δbal| ≤ ε theta join must compile to a
    bucket EQUALITY join (candidate expansion), never a cartesian or
    broadcast-nested-loop over the full cross space."""
    plan = _executed_plan(spark, "join_epsilon_float", sf_small)
    assert "CartesianProduct" not in plan
    joins = [
        line
        for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line
    ]
    assert not joins, plan


def test_pit_features_single_user_shuffle(spark, sf_small):
    """events_pit_training_features: all three trailing-feature frames
    share ONE user_id exchange (same window spec), and the label
    filter adds no further corpus shuffle."""
    plan = _executed_plan(spark, "events_pit_training_features", sf_small)
    user_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "user_id" in line
    ]
    assert len(user_exchanges) == 1, plan


def test_sign_hamming_no_pair_materialization(spark, sf_small):
    """embed_sign_hamming_separation: the closed form must join bit
    MARGINALS (labels×dims), never vector pairs — one posexplode, no
    cartesian over vec_ids."""
    plan = _executed_plan(spark, "embed_sign_hamming_separation", sf_small)
    # the marginal relation is cached: both join sides must read the
    # InMemory relation (the corpus explode executes once; the plan
    # STRING prints the cached subtree under each scan)
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "CartesianProduct" not in plan


def test_naive_bayes_no_cartesian(spark, sf_small):
    """text_naive_bayes_source_classifier: scoring is a token equality
    join; the only cross joins are the broadcast totals/vocab-size
    attaches (BroadcastNestedLoopJoin over 1-row / label-sized sides)."""
    plan = _executed_plan(spark, "text_naive_bayes_source_classifier", sf_small)
    assert "CartesianProduct" not in plan


def test_loo_zscore_window_feeds_rollup(spark, sf_small):
    """win_loo_outlier_zscore: the LOO estimate is frame arithmetic on
    ONE partition window pass — a single l_returnflag exchange feeds
    both the window and the final rollup."""
    plan = _executed_plan(spark, "win_loo_outlier_zscore", sf_small)
    flag_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "returnflag" in line
    ]
    assert len(flag_exchanges) == 1, plan


def test_hierarchy_rollup_broadcasts_all_dims(spark, sf_small):
    """orders_hierarchy_share_of_parent: customer/nation/region lookups
    all broadcast — no sort-merge join anywhere in the star chain."""
    plan = _executed_plan(spark, "orders_hierarchy_share_of_parent", sf_small)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_lateral_topk_decorrelates_to_window_limit(spark, sf_small):
    """join_lateral_topk: Catalyst must de-correlate the LATERAL
    ORDER-BY-LIMIT subquery into the window top-k shape (map-side
    WindowGroupLimit before the exchange), never a per-outer-row
    nested-loop execution."""
    plan = _executed_plan(spark, "join_lateral_topk", sf_small)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_recursive_cte_step_is_hash_join(spark, sf_small):
    """sql_recursive_cte_rollup: each UnionLoop iteration joins children
    via a pure equi-join (hash join) — the VALUES offset expansion exists
    precisely so the OR predicate never forces a nested-loop step."""
    plan = _executed_plan(spark, "sql_recursive_cte_rollup", sf_small)
    assert "UnionLoop" in plan
    assert "BroadcastNestedLoop" not in plan


def test_bitmap_distinct_is_two_level_partial(spark, sf_small):
    """agg_bitmap_exact_distinct: the bitmap-build level must plan partial
    (map-side) aggregation — the shuffle carries <=4 KB bitmaps, not raw
    keys — the roll-up must SUM per-bucket bitmap_counts (never
    bitmap_or_agg ACROSS buckets, which collapses distinct keys sharing a
    bit position — the sfx1.0 defect fixed in r8), and no distinct-Expand
    node may appear."""
    plan = _executed_plan(spark, "agg_bitmap_exact_distinct", sf_small)
    assert "partial_bitmap_construct_agg" in plan
    assert "bitmap_or_agg" not in plan
    # bitmap_count compiles to a static_invoke of BitmapExpressionUtils
    # inside the roll-up sum
    assert "sum(static_invoke(BitmapExpressionUt" in plan
    assert "Expand" not in plan


def test_spatial_grid_join_is_equi_hash(spark, sf_small):
    """join_spatial_grid: the spatial join must be the grid-cell EQUALITY
    join (hash), never the O(points x boxes) nested-loop a naive BETWEEN
    theta-join forces."""
    plan = _executed_plan(spark, "join_spatial_grid", sf_small)
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_plan_is_sort_free(spark, sf_small):
    """pipeline_zorder_layout_plan: layout simulation must use fixed
    value-range buckets (partial-aggregable groupBys), never a global
    ntile window — the single-partition sort that draft 1 had and that
    cannot scale."""
    plan = _executed_plan(spark, "pipeline_zorder_layout_plan", sf_small)
    assert "Window" not in plan


def test_gated_broadcast_fails_closed(spark, sf_small):
    """scale.broadcast_if_small must return the input UNHINTED whenever the
    table's bytes cannot be proven small (missing path stands in for an
    object-store prefix / stat failure) — the static-hint-on-O(corpus)-table
    driver-OOM class (VERDICT r6 finding 1). At test scale the gate passes
    and the hint is applied."""
    from ai_dataingestion_spark.scale import broadcast_if_small, table_bytes_under

    df = spark.range(10)
    assert not table_bytes_under("/nonexistent_lake_prefix", "part")
    assert broadcast_if_small(df, "/nonexistent_lake_prefix", "part") is df
    # 0-byte limit: even an existing tiny table must fail closed
    assert not table_bytes_under(sf_small, "part", limit=0)
    assert table_bytes_under(sf_small, "part")
    hinted = broadcast_if_small(df, sf_small, "part")
    assert hinted is not df
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()


def test_gated_dim_joins_still_broadcast_at_test_scale(spark, sf_small):
    """The formerly-static customer/part/supplier hints are gated through
    scale.broadcast_if_small; at test scale the gate passes, so these joins
    must still plan BroadcastHashJoin (no sort-merge regression), while at
    lake scale the gate fails closed and threshold + AQE decide from
    measured sizes."""
    for qid in (
        "tpch_q2_min_cost_supplier",
        "trade_flow_nation_matrix",
        "supplier_hhi_by_nation",
        "part_brand_share",
        "orders_simpsons_reversal_check",
    ):
        plan = _executed_plan(spark, qid, sf_small)
        assert "BroadcastHashJoin" in plan, qid


def test_variant_shreds_props_once(spark, sf_small):
    """fn_variant_json_path: props must cross parse_json exactly ONCE (the
    binary-variant shred); every field access is a variant_get offset
    lookup. Multiple parse_json(props) occurrences would mean O(fields)
    JSON re-parses per row at 100 TB — the get_json_object anti-pattern
    the operator exists to avoid. The inline nested-doc parse_json(concat(
    ...)) is a different input and is allowed."""
    plan = _formatted(spark, "fn_variant_json_path", sf_small)
    # rendered as static_invoke(VariantExpressionEvalUtils.parseJson(props#N))
    assert plan.count("parseJson(props") == 1, plan.count("parseJson(props")
    assert "get_json_object" not in plan
    assert "EvalPython" not in plan


def test_global_index_avoids_single_partition_window(spark, sf_small):
    """fn_global_row_index_scalable exists to replace the single-task
    global row_number: its plan must contain only PARTITION-LOCAL windows
    (pid-partitioned) and no SinglePartition exchange anywhere — the
    offsets come from a bounded driver-side count collect, not a global
    sort."""
    plan = _executed_plan(spark, "fn_global_row_index_scalable", sf_small)
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_cdc_apply_windows_stay_key_partitioned(spark, sf_small):
    """pipeline_cdc_apply_deletes: latest-wins compaction must be a
    key-partitioned window over the feed — never a global one — and the
    apply path must stay equi-join (no nested loop against the
    snapshot)."""
    plan = _executed_plan(spark, "pipeline_cdc_apply_deletes", sf_small)
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_ip_cidr_longest_prefix_is_partial_aggregable(spark, sf_small):
    """fn_ip_cidr_match: the CIDR range join is a broadcast nested loop
    against the BOUNDED literal block dim (linear in events), and
    longest-prefix selection must plan as a partial-aggregable
    max_by — not a per-event window."""
    plan = _executed_plan(spark, "fn_ip_cidr_match", sf_small)
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_weighted_systematic_sample_no_global_window(spark, sf_small):
    """sample_weighted_systematic: the cumulative-weight axis must come
    from the partition-offset pattern (partition-local running sums), so
    the plan may not contain a SinglePartition exchange; pick counting is
    pure BIGINT arithmetic — no Python eval, no join against the
    threshold set."""
    plan = _executed_plan(spark, "sample_weighted_systematic", sf_small)
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "EvalPython" not in plan


def test_resize_pool_is_shuffle_free_arrow_chain(spark, sf_small):
    """multimodal_image_resize_pool: the decode->pool pipeline must be two
    chained Arrow python stages directly over the documents scan with NO
    shuffle — payloads are created and consumed executor-side, 16 rows per
    doc come out, bytes never move between nodes."""
    plan = _executed_plan(spark, "multimodal_image_resize_pool", sf_small)
    assert plan.count("MapInPandas") == 2
    assert "Exchange" not in plan


def test_bounded_self_join_matches_naive_pairs(spark, sf_small):
    """scale.bounded_self_join (VERDICT r7 item 4: the ONE candidate-pair
    generator behind every blocked near-dup family) must emit exactly the
    pairs of the naive unhinted self-join it replaced — for both the
    canonical a<b form and the asymmetric a!=b (containment) form, and
    regardless of which side of the size gate the table is on (the gate may
    change the JOIN STRATEGY, never the pair set)."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.scale import bounded_self_join

    block = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select(
            "doc_id", (F.crc32(F.col("text")) % 7).alias("k1"),
            (F.length("text") % 5).alias("k2"),
        )
    )
    naive = (
        block.alias("a")
        .join(block.alias("b"), ["k1", "k2"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
    )
    expected = {tuple(r) for r in naive.collect()}
    assert expected, "fixture produced no pairs - test is vacuous"

    for gate in (1, 10**9):  # 1 byte: merge path; 1 GB: unhinted path
        got = bounded_self_join(
            block, ["k1", "k2"], "doc_id", sf_small, "documents", gate=gate
        )
        assert {tuple(r) for r in got.collect()} == expected, f"gate={gate}"

    both_dirs = bounded_self_join(
        block, ["k1", "k2"], "doc_id", sf_small, "documents",
        out=("x", "y"), ordered=False,
    )
    assert {tuple(r) for r in both_dirs.collect()} == (
        expected | {(b, a) for a, b in expected}
    )

    # spark= routes the explosion through the size-tiered wide exchange
    # above the gate; pair set still identical
    widened = bounded_self_join(
        block, ["k1", "k2"], "doc_id", sf_small, "documents",
        gate=1, spark=spark,
    )
    assert "RoundRobin" not in widened._jdf.queryExecution().toString()
    assert {tuple(r) for r in widened.collect()} == expected


@pytest.mark.parametrize("ordered", [True, False])
def test_bounded_self_join_per_side_projects_both_sides(spark, ordered):
    """``per_side`` projects each named column of both join sides, as
    <c>1 for the out[0] id and <c>2 for the out[1] id, without changing
    the pair set."""
    from ai_dataingestion_spark.scale import bounded_self_join

    df = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 200), (1, 30, 300), (2, 40, 400), (2, 10, 100)],
        "k bigint, id bigint, v bigint",
    )
    got = bounded_self_join(
        df, ["k"], "id", "/nonexistent", "none",
        out=("x", "y"), ordered=ordered, per_side=["v"],
    )
    assert got.columns == ["x", "y", "v1", "v2"]
    expected = {(10, 20), (10, 30), (20, 30), (10, 40)}
    if not ordered:
        expected |= {(b, a) for a, b in expected}
    assert {tuple(r) for r in got.collect()} == {
        (x, y, 10 * x, 10 * y) for x, y in expected
    }


def test_bounded_self_join_strategy_tiers_with_gate(spark, sf_small):
    """Join-strategy posture of the shared pair generator: estimator-driven
    (broadcastable) while the table is provably under the gate, explicit
    spillable sort-merge once it is not; hint_array_side likewise tiers
    shuffle_hash -> merge."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.scale import bounded_self_join, hint_array_side

    block = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", (F.length("text") % 5).alias("k"))
    )
    small_plan = bounded_self_join(
        block, ["k"], "doc_id", sf_small, "documents", gate=10**9
    )._jdf.queryExecution().executedPlan().toString()
    big_plan = bounded_self_join(
        block, ["k"], "doc_id", sf_small, "documents", gate=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in small_plan  # estimator broadcasts at sf0.001
    assert "SortMergeJoin" in big_plan  # fail-closed spillable strategy

    arr = block.groupBy("k").agg(F.collect_list("doc_id").alias("ids"))
    probe = block.select("k").distinct()
    shj = probe.join(
        hint_array_side(arr, sf_small, "documents", gate=10**9), "k"
    )._jdf.queryExecution().executedPlan().toString()
    smj = probe.join(
        hint_array_side(arr, sf_small, "documents", gate=1), "k"
    )._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in shj
    assert "SortMergeJoin" in smj


def test_row_at_a_time_udf_sites_are_pinned():
    """VERDICT r8 item 5: row-at-a-time Python UDFs are the slow path —
    permitted ONLY in the two SURVEY §2.J contract operators (udf_python and
    udf_python_arrow, both in udf/udfs.py), which exist to demonstrate
    exactly that API. Any further `F.udf(` occurrence in the
    package is an anti-pattern creeping into a hot path: fix it with
    built-in functions or a pandas_udf, don't widen this allowlist."""
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ai_dataingestion_spark",
    )
    hits: list[str] = []
    for root, _dirs, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    if "F.udf(" in line:
                        rel = os.path.relpath(path, pkg)
                        hits.append(f"{rel}:{lineno}")
    # a list, not a set: both sites sit in one file, and the count matters
    allowed = ["udf/udfs.py", "udf/udfs.py"]
    assert sorted(h.rsplit(":", 1)[0] for h in hits) == allowed, hits
    assert len(hits) == 2, f"F.udf allowlist violated: {hits}"


def test_state_v2_final_plans_stay_key_partitioned(spark, sf_small):
    """The state-v2 drains' POST-stream batch plans (final-state
    extraction over the update log) must stay key-partitioned: exactly
    one Exchange (the keyed shuffle), never a SinglePartition collapse —
    the update log is per-key rows, so a global window/sort here would
    serialize the whole final-state pass on one task at lake scale."""
    for qid in ("stream_tws_list_state", "stream_tws_map_state",
                "stream_tws_initial_state"):
        plan = _executed_plan(spark, qid, sf_small)
        assert "SinglePartition" not in plan, qid
        assert plan.count("Exchange") <= 1, qid
        assert "CartesianProduct" not in plan, qid


# ---------------------------------------------------------------------------
# §2.S pipe-syntax block (round 12): plan equality with the classic twins
# ---------------------------------------------------------------------------


def _optimized(spark, sql: str):
    return spark.sql(sql)._jdf.queryExecution().optimizedPlan()


def test_pipe_ops_plan_equal_to_classic_twins(spark, sf_small):
    """The load-bearing pipe-syntax contract (SURVEY.md §2.S): every pipe
    operator must produce the CANONICALLY IDENTICAL optimized plan as its
    classic-SQL twin — pipe syntax is parse-time sugar, so a migration can
    never de-optimize a query. Compared via LogicalPlan.sameResult on the
    optimized plans (DataFrame.sameSemantics compares pre-optimization
    analyzed plans, where view-resolution aliasing differs between the two
    spellings — the optimizer collapses that, so post-optimization is the
    level at which 'same plan' is the meaningful claim)."""
    from ai_dataingestion_spark.operators.pipe_syntax import PIPE_CLASSIC_PAIRS
    from ai_dataingestion_spark.registry import register_views

    register_views(spark, sf_small)
    assert len(PIPE_CLASSIC_PAIRS) == 9
    for name, (pipe_sql, classic_sql) in PIPE_CLASSIC_PAIRS.items():
        a = _optimized(spark, pipe_sql)
        b = _optimized(spark, classic_sql)
        assert a.sameResult(b), (
            f"{name}: pipe form optimized to a different plan than its "
            f"classic twin\nPIPE:\n{a.canonicalized().toString()}\n"
            f"CLASSIC:\n{b.canonicalized().toString()}"
        )


def test_pipe_agg_pricing_pushes_filter_and_prunes(spark, sf_small):
    """Pipe-form Q1 keeps the classic form's scan hygiene: the |> WHERE
    shipdate predicate reaches the parquet scan and the read schema is
    pruned to the touched columns."""
    plan = _formatted(spark, "sql_pipe_agg_pricing", sf_small)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema


def test_pipe_window_topk_plans_window_group_limit(spark, sf_small):
    """|> WHERE rk <= 5 over a windowed EXTEND must collapse to
    WindowGroupLimit — per-partition top-k before the window shuffle, the
    property that keeps per-group top-k viable on a 100 TB fact table."""
    plan = _executed_plan(spark, "sql_pipe_window_topk", sf_small)
    assert "WindowGroupLimit" in plan


def test_pipe_order_limit_plans_take_ordered(spark, sf_small):
    """|> ORDER BY ... |> LIMIT must compile to TakeOrderedAndProject
    (heap + merge), never a global Sort feeding a Limit."""
    for qid in ("sql_pipe_chain_orders", "sql_pipe_agg_having"):
        plan = _executed_plan(spark, qid, sf_small)
        assert "TakeOrderedAndProject" in plan, qid


def test_pipe_join_agg_broadcasts_dims(spark, sf_small):
    """The pipe JOIN chain keeps the star-join broadcast decisions: both
    dimension joins (customer, nation) broadcast at test SF — no
    sort-merge shuffle of the orders fact side."""
    plan = _executed_plan(spark, "sql_pipe_join_agg", sf_small)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# §2.T UDTF-depth block (round 12): the partitioning exchanges ARE the
# scale contract — pin them
# ---------------------------------------------------------------------------


def test_udtf_partition_stats_plan_shape(spark, sf_small):
    """The TABLE-arg PARTITION BY op must plan exactly ONE hash exchange on
    the partition key followed by a partition-LOCAL sort (global=false) —
    the same shuffle a groupBy would pay, with the ordered fold happening
    inside each partition. The NULL-quarantine predicates must reach the
    parquet scan as pushed filters so the 100-TB read skips them for free."""
    plan = _executed_plan(spark, "udtf_table_partition_stats", sf_small)
    assert "BatchEvalPythonUDTF" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # match 'Sort [' anywhere in the line (ADVICE r12): the renderer's
    # indentation/prefix for the Sort node is not a stable contract.
    # Assert on ALL Sort nodes (ADVICE r13): if the plan ever gains a
    # second Sort in another subtree, a first-match probe could silently
    # check the wrong node — every Sort here must be partition-local.
    sort_lines = [l for l in plan.splitlines() if "Sort [" in l]
    assert sort_lines, f"no Sort node found in plan:\n{plan}"
    for sort_line in sort_lines:
        assert "false, 0" in sort_line, \
            f"global sort where local expected: {sort_line}"
    assert "PushedFilters: [IsNotNull(user_id), IsNotNull(ts)]" in plan


def test_udtf_self_partition_plan_shape(spark, sf_small):
    """analyze()-requested partitionBy must compile to the same single
    hash exchange as an explicit SQL PARTITION BY — the repartition is the
    function's contract, not extra plan weight."""
    plan = _executed_plan(spark, "udtf_self_partition_counts", sf_small)
    assert "BatchEvalPythonUDTF" in plan
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# §2.U VARIANT-depth block (round 12): one shred per row, JVM-side only
# ---------------------------------------------------------------------------


def test_variant_depth_ops_shred_once_jvm_side(spark, sf_small):
    """Every §2.U op keeps the fn_variant_json_path discipline, adapted to
    the filtered-shred shape: the props parse appears at most TWICE in the
    plan text — once in the Project that derives k and once in the
    pushed-down `k IS NOT NULL` Filter restating it — and BOTH sites must
    sit in the SAME whole-stage-codegen span, where Spark's codegen
    subexpression elimination evaluates the parse once per row (the
    executed-plan pin below asserts the shared `*(N)` stage id). No
    get_json_object re-parsing, no Python anywhere — the VARIANT path
    stays inside codegen at 100 TB."""
    import re

    for qid in (
        "fn_variant_explode_array",
        "fn_variant_object_explode",
        "fn_variant_typed_coercion",
        "fn_variant_to_struct_shred",
        "fn_variant_schema_inventory",
    ):
        plan = _formatted(spark, qid, sf_small)
        assert plan.count("parseJson(props") <= 2, (qid, plan.count("parseJson(props"))
        assert "get_json_object" not in plan, qid
        assert "EvalPython" not in plan, qid

        # final adaptive plan: every line carrying the props parse must be
        # in one codegen stage (same *(N) prefix) => one parse at runtime
        df = SPECS[qid].fn(spark, sf_small)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        stage_ids = {
            m.group(1)
            for line in final.splitlines()
            if "parseJson(props" in line
            for m in [re.search(r"\*\((\d+)\)", line)]
            if m
        }
        assert len(stage_ids) == 1, (qid, stage_ids, final)


def test_variant_explode_fanout_is_generate_not_join(spark, sf_small):
    """The LATERAL variant_explode ops must plan a Generate node (bounded
    per-row fan-out) — not a join against a materialized exploded relation."""
    for qid in ("fn_variant_explode_array", "fn_variant_object_explode"):
        plan = _executed_plan(spark, qid, sf_small)
        assert "Generate" in plan, qid
        assert "CartesianProduct" not in plan, qid


# ---------------------------------------------------------------------------
# §2.AD Python data source filter pushdown (round 14): the PLAN evidence —
# pruning is semantically invisible, so the partition counts and residual
# Filter placement ARE the contract (VERDICT-r13 item 4)
# ---------------------------------------------------------------------------


def test_pyds_pushdown_prunes_partition_plan(spark):
    """Pushed k-bounds must shrink the partition PLAN (tasks not created,
    not filtered): 16 unfiltered ranges; [70000, 90000) intersects 4;
    k >= 70000 alone intersects 5. With the conf OFF, Spark REFUSES to
    plan a pushFilters-implementing reader at all
    (DATA_SOURCE_PUSHDOWN_DISABLED) — there is no silent un-pushed
    fallback, so the op's conf scope is load-bearing, not cosmetic."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from ai_dataingestion_spark.sources.python_pushdown import (
        _LO, _HI, _PARTS, pushdown_scan,
    )

    with pushdown_scan(spark, None, None) as df:
        assert df.rdd.getNumPartitions() == _PARTS
    with pushdown_scan(spark, _LO, _HI) as df:
        assert df.rdd.getNumPartitions() == 4
    with pushdown_scan(spark, _LO, None) as df:
        assert df.rdd.getNumPartitions() == 5
    # conf off: planning the identical scan fails LOUDLY (no silent
    # fallback that would mask a lost conf scope as a 16-task slow read)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        df = (
            spark.read.format("range_squares_pushdown")
            .option("n", "100000").option("parts", str(_PARTS)).load()
            .filter("k >= 70000").filter("k < 90000")
        )
        with pytest.raises(AnalysisException, match="PUSHDOWN_DISABLED"):
            df.rdd.getNumPartitions()
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_pyds_pushdown_filter_placement(spark):
    """Fully-pushed bounds must VANISH from the Spark-side physical plan
    (no k-bound Filter survives the scan), while a yielded-back residual
    (sq < cap) must REMAIN a Spark-side Filter — partial capability stays
    correct because Spark re-applies exactly what the source declined."""
    import re

    from ai_dataingestion_spark.sources.python_pushdown import (
        _LO, _HI, _SQ_CAP, pushdown_scan,
    )

    with pushdown_scan(spark, _LO, _HI) as df:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r">= 70000\)", plan), plan
        assert not re.search(r"< 90000\)", plan), plan
    with pushdown_scan(spark, _LO, None, sq_cap=_SQ_CAP) as df:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"sq#\d+L < 6250000000", plan), plan
        assert not re.search(r"k#\d+L >= 70000", plan), plan


def test_map_hof_and_generators_stay_jvm_side(spark, sf_small):
    """§2.AF/§2.AI: map lambdas and generators are Catalyst expressions —
    no EvalPython anywhere; the generator ops must fan out via a Generate
    node, never a join."""
    for qid in (
        "fn_map_transform_family", "fn_map_zip_merge", "fn_str_to_map_parse",
        "fn_map_concat_entries", "fn_stack_wide_to_long",
        "fn_inline_struct_array", "fn_posexplode_outer_preserving",
    ):
        df = SPECS[qid].fn(spark, sf_small)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, (qid, plan)
    for qid in (
        "fn_stack_wide_to_long", "fn_inline_struct_array",
        "fn_posexplode_outer_preserving",
    ):
        df = SPECS[qid].fn(spark, sf_small)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Generate" in plan, (qid, plan)
        assert "CartesianProduct" not in plan, (qid, plan)


def test_sql_parameters_fold_to_pushed_literals(spark, sf_small):
    """§2.AG: bound parameters are parse-time literals — the positional
    op's timestamp range must reach the parquet scan as pushed filters,
    exactly like hand-written constants."""
    plan = _formatted(spark, "sql_positional_parameters", sf_small)
    assert "PushedFilters" in plan
    import re
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert re.search(r"GreaterThanOrEqual\(o_orderdate", pushed), pushed
    assert re.search(r"LessThan\(o_orderdate", pushed), pushed
