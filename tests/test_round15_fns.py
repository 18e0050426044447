"""Semantic tests for the round-15 §2.AK block (now in
operators/aggregates.py and functions/scalar.py) — properties the per-op
oracle hash can't state: theta set-algebra obeys inclusion-exclusion
internally, the sketch estimates are EXACT (not merely close) in the
pinned regime, and mask() preserves shape while changing only the classes
it claims to."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_dataingestion_spark.catalog import all_specs
from ai_dataingestion_spark.registry import load_table

SPECS = all_specs()


def test_theta_inclusion_exclusion_and_exactness(spark, sf_small):
    """|A∪B| = |A| + |B| − |A∩B| and |A∖B| = |A| − |A∩B| must hold
    EXACTLY on the op's own output (exact-regime pin: the sketch keeps
    every hash below 4096 entries), and each per-type estimate must equal
    the recomputed countDistinct."""
    rows = {
        r["scope"]: r["n_distinct"]
        for r in SPECS["agg_theta_sketch_sets"].fn(spark, sf_small).collect()
    }
    a, b = rows["type:click"], rows["type:view"]
    union = rows["click_union_view"]
    inter = rows["click_intersect_view"]
    minus = rows["click_minus_view"]
    assert union == a + b - inter
    assert minus == a - inter
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_small, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct(F.col("user_id") % 2048).alias("n"))
        .collect()
        if r["event_type"] is not None
    }
    for t, n in exact.items():
        assert rows[f"type:{t}"] == n, (t, rows[f"type:{t}"], n)


def test_bitwise_monoids_recompute(spark, sf_small):
    """bit_or must be the union of set bits, bit_and their intersection,
    and count_if the plain filtered count — recomputed with independent
    expressions."""
    got = {
        r["l_returnflag"]: r
        for r in SPECS["agg_bitwise_conditional"].fn(spark, sf_small).collect()
    }
    li = load_table(spark, sf_small, "lineitem")
    ref = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0)).alias("n"),
            F.max("l_linenumber").alias("mx"),
        )
        .collect()
    }
    for flag, row in got.items():
        assert row["n_bulk"] == ref[flag]["n"]
        # every set bit of any value is set in bit_or; bit_and only keeps
        # bits common to all values, so and <= or bitwise
        assert row["and_lines"] & row["or_lines"] == row["and_lines"]
        assert row["or_lines"] >= ref[flag]["mx"]


def test_mask_is_shape_preserving(spark, sf_small):
    """masked_default has the same length as the sanitized input, differs
    from it ONLY at alphanumeric positions, and digits_redacted differs
    only at digit positions."""
    df = SPECS["fn_mask_redaction_family"].fn(spark, sf_small)
    c = load_table(spark, sf_small, "customer").select(
        "c_custkey",
        F.regexp_replace(F.col("c_name"), r"[^\x20-\x7E]", "").alias("nm"),
    )
    j = df.join(c, "c_custkey").where(F.col("nm").isNotNull())
    bad = j.where(
        (F.length("masked_default") != F.length("nm"))
        | (F.length("digits_redacted") != F.length("nm"))
        | (
            F.regexp_replace("nm", r"[A-Za-z0-9]", "")
            != F.regexp_replace("masked_default", r"[Xxn]", "")
        )
        | (
            # digits-only form recomputed via an independent API (regexp
            # vs mask's class engine)
            F.regexp_replace("nm", r"[0-9]", "#")
            != F.col("digits_redacted")
        )
    ).count()
    assert bad == 0
