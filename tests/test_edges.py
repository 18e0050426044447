"""Tier-1 degenerate-input tests: the engine's building blocks on empty
relations, single rows, and all-null columns — the edges the corpus (dense,
null-free, well-populated) never exercises."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F


def _empty_events(spark):
    return spark.createDataFrame(
        [], "event_id bigint, user_id bigint, value double, event_type string"
    )


def test_groupby_on_empty_input_returns_no_groups(spark):
    out = _empty_events(spark).groupBy("event_type").agg(F.sum("value")).collect()
    assert out == []


def test_global_agg_on_empty_input_is_one_row_of_nulls(spark):
    row = (
        _empty_events(spark)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.avg("value").alias("a"),
        )
        .collect()[0]
    )
    assert (row.n, row.s, row.a) == (0, None, None)


def test_window_on_single_row(spark):
    df = spark.createDataFrame([(1, 10.0)], "k bigint, v double")
    w = Window.partitionBy("k").orderBy("v")
    row = df.select(
        F.row_number().over(w).alias("rn"),
        F.lag("v").over(w).alias("prev"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
    ).collect()[0]
    assert (row.rn, row.prev, row.run) == (1, None, 10.0)


def test_all_null_column_aggregates(spark):
    df = spark.createDataFrame([(None,), (None,)], "v double")
    row = df.agg(
        F.sum("v").alias("s"),
        F.avg("v").alias("a"),
        F.min("v").alias("mn"),
        F.count("v").alias("c"),
    ).collect()[0]
    assert (row.s, row.a, row.mn, row.c) == (None, None, None, 0)


def test_join_empty_side_behaviors(spark):
    left = spark.createDataFrame([(1, "a")], "k bigint, s string")
    empty = spark.createDataFrame([], "k bigint, t string")
    assert left.join(empty, "k").count() == 0
    out = left.join(empty, "k", "left").collect()
    assert len(out) == 1 and out[0].t is None
    assert left.join(empty, "k", "left_anti").count() == 1


def test_explode_of_empty_array_drops_row_but_outer_keeps_it(spark):
    df = spark.createDataFrame([(1, []), (2, ["x"])], "k bigint, a array<string>")
    assert df.select("k", F.explode("a")).count() == 1
    outer = df.select("k", F.explode_outer("a").alias("e")).collect()
    assert len(outer) == 2
    assert {r.k: r.e for r in outer} == {1: None, 2: "x"}


def test_minhash_shingle_guard_short_docs(spark, sf_small):
    """Docs shorter than the shingle width must not crash shingling (the
    greatest(size-2, 1) guard) — exercised with a synthetic 1-token doc."""
    from ai_dataingestion_spark.ai.dedup import _SHINGLES_EXPR

    df = spark.createDataFrame([("x",), ("a b",)], "text string").withColumn(
        "toks", F.split("text", " ")
    )
    rows = df.select(F.expr(_SHINGLES_EXPR).alias("sh")).collect()
    assert rows[0].sh == ["x"]       # degenerate: the whole doc is the shingle
    assert rows[1].sh == ["a b"]


def test_last_touch_attribution_semantics(spark):
    """Pin the ignore-nulls last_value frame: a purchase with NO prior
    non-purchase touch attributes to nothing (dropped); back-to-back
    purchases both attribute to the same last touch; later touches
    override earlier ones."""
    rows = [
        (1, 1, "purchase"),   # no prior touch -> dropped
        (2, 1, "click"),
        (3, 1, "purchase"),   # -> click
        (4, 1, "purchase"),   # still -> click (purchases don't re-touch)
        (5, 1, "view"),
        (6, 1, "purchase"),   # -> view
        (1, 2, "signup"),
        (2, 2, "purchase"),   # -> signup
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = df.select(
        "event_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w).alias("attributed"),
    )
    out = {
        (r["attributed"]): r["n"]
        for r in touched.filter(
            (F.col("event_type") == "purchase") & F.col("attributed").isNotNull()
        )
        .groupBy("attributed")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == {"click": 2, "view": 1, "signup": 1}


def test_hll_merge_matches_whole_corpus_sketch(spark):
    """Merge-consistency of the HLL path: unioning per-day sketches must
    estimate the same cardinality as one sketch over the whole corpus
    (the property that makes incremental ingestion sound), and both must
    land within 2% of exact on this cardinality range."""
    from ai_dataingestion_spark.catalog import all_specs

    row = (
        all_specs()["agg_hll_sketch_merge"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()[0]
    )
    assert row["rel_err"] < 0.02, row
    whole = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .agg(F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("e"))
        .collect()[0]["e"]
    )
    assert row["estimated_users"] == whole


def test_running_distinct_final_equals_count_distinct(spark, sf_small):
    """win_running_distinct's first-occurrence decomposition must converge:
    each user's LAST running value equals the plain countDistinct of their
    event types — the invariant that makes the two-window spelling a valid
    stand-in for the inexpressible COUNT(DISTINCT) OVER frame."""
    from ai_dataingestion_spark.catalog import all_specs
    from ai_dataingestion_spark.registry import load_table

    out = all_specs()["win_running_distinct"].fn(spark, sf_small)
    finals = {
        r["user_id"]: r["mx"]
        for r in out.groupBy("user_id")
        .agg(F.max("n_distinct_types_so_far").alias("mx"))
        .collect()
    }
    truth = {
        r["user_id"]: r["nd"]
        for r in load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nd"))
        .collect()
    }
    assert finals == truth


def test_removal_plan_catches_every_injected_duplicate(spark, sf_small):
    """dedup_removal_plan recall on the injections: every exact copy
    (+1e6 id) must be removed with reason 'exact'; every near copy
    (+2e6 id, last token dropped) must be removed with some reason —
    and no original doc below the offsets is removed as 'exact' unless
    its id has an exact twin (min-id-keeps rule means originals stay)."""
    from ai_dataingestion_spark.catalog import all_specs
    from ai_dataingestion_spark.registry import load_table

    plan = {
        r["doc_id"]: r["reason"]
        for r in all_specs()["dedup_removal_plan"].fn(spark, sf_small).collect()
    }
    docs = [
        r["doc_id"]
        for r in load_table(spark, sf_small, "documents")
        .select("doc_id")
        .collect()
    ]
    for d in docs:
        if d % 2 == 0:
            assert plan.get(d + 1_000_000) == "exact", d
        if d % 5 == 0:
            assert (d + 2_000_000) in plan, d
        assert plan.get(d) != "exact" or False, f"original {d} removed as exact"


def test_incremental_dedup_rejects_all_resubmissions(spark, sf_small):
    """dedup_incremental_batch: no accepted doc may carry a resubmission
    id (>= 7e6 offset) — stage 2's lake anti-join must reject them all —
    and every genuinely-new batch doc with a unique text is accepted."""
    from ai_dataingestion_spark.catalog import all_specs

    accepted = [
        r["doc_id"]
        for r in all_specs()["dedup_incremental_batch"]
        .fn(spark, sf_small)
        .collect()
    ]
    assert accepted, "no rows accepted — degenerate corpus?"
    assert all(a < 7_000_000 for a in accepted)


def test_idempotent_ledger_matches_single_delivery_truth(spark, sf_small):
    """pipeline_idempotent_ledger: applied counts must equal the plain
    per-batch counts of orders (single-delivery truth), and the replayed
    batches (1, 3) must report their full size as deduped replays."""
    from ai_dataingestion_spark.catalog import all_specs
    from ai_dataingestion_spark.registry import load_table

    rows = {
        r["batch_id"]: r
        for r in all_specs()["pipeline_idempotent_ledger"]
        .fn(spark, sf_small)
        .collect()
    }
    truth = {
        r["b"]: r["n"]
        for r in load_table(spark, sf_small, "orders")
        .groupBy((F.col("o_orderkey") % 5).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for b, n in truth.items():
        assert rows[b]["n_applied"] == n
        assert rows[b]["n_deduped_replays"] == (n if b in (1, 3) else 0)


def test_sink_write_modes_propagates_other_write_errors(spark, sf_small, monkeypatch):
    """sink_write_modes reports only the errorifexists refusal
    (PATH_ALREADY_EXISTS) as its caught row: any other failure of that
    write, here a RuntimeError, must reach the caller instead."""
    from pyspark.sql.readwriter import DataFrameWriter

    from ai_dataingestion_spark.catalog import all_specs

    mode, parquet = DataFrameWriter.mode, DataFrameWriter.parquet

    def tracking_mode(self, save_mode):
        self._save_mode = save_mode
        return mode(self, save_mode)

    def failing_parquet(self, path, *args, **kwargs):
        if getattr(self, "_save_mode", None) == "errorifexists":
            raise RuntimeError("injected write failure")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "mode", tracking_mode)
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(RuntimeError, match="injected write failure"):
        all_specs()["sink_write_modes"].fn(spark, sf_small)


def test_weighted_systematic_closed_form_properties():
    """Pure-python property check of sample_weighted_systematic's closed
    form f(x) = (x*2k + W) div (2W): for arbitrary positive weight
    sequences, total picks sum to exactly k, per-doc picks are bounded by
    ceil(w*k/W)+1, and zero-weight docs are never picked — the invariants
    that make the sampler a probability-proportional-to-size design."""
    import math
    import random

    rng = random.Random(58)
    for trial in range(200):
        n = rng.randint(1, 40)
        k = rng.choice([1, 7, 100, 1000])
        wts = [rng.choice([0, 1, 2, 5, 1000, 10**12]) for _ in range(n)]
        big_w = sum(wts)
        if big_w == 0:
            continue

        def f(x):
            return (x * 2 * k + big_w) // (2 * big_w)

        cum, total = 0, 0
        for w in wts:
            prev = cum
            cum += w
            picks = f(cum) - f(prev)
            assert picks >= 0
            if w == 0:
                assert picks == 0
            else:
                assert picks <= math.ceil(w * k / big_w) + 1
            total += picks
        assert total == f(big_w) == k, (wts, k, total)


def test_pii_email_guard_pattern_is_match_equivalent():
    """text_pii_scrub's Spark pattern carries a run-initial negative
    lookbehind purely as a COST guard (Java regex re-scans a class-run
    from every interior start — O(n²) on the extremes tier's 100k-char
    single-token docs, 617 s -> 4 s measured). RE2 has no lookbehind, so
    the oracle anchors run-initial starts with a CONSUMING prefix group
    `(^|[^class])(EMAIL)` instead (ADVICE r10 #1: the previously-plain
    oracle pattern resumed mid-run after a match — 'a@b.cc+x@d.ee'
    yielded 2 oracle emails vs 1 Spark email). This pins three-way
    match-set equivalence on adversarial strings INCLUDING
    restart-after-match positions:

      Java-lookbehind findall == anchored-group-2 findall
      Java-lookbehind sub     == anchored '\\1<E>' sub
      and both against live DuckDB regexp_extract_all/regexp_replace.
    """
    import re

    import duckdb

    from ai_dataingestion_spark.ai.text import _EMAIL_RE_ORACLE, _EMAIL_RE_SPARK

    cases = [
        "a@b.io", "..a@b.io x y", "ab@cd@ef.com", "a@@b.com",
        "x" * 500 + "@example.com tail", "pre a.b-c@d.e.fg post",
        "no match here", "x" * 500, "a@b.c", "1@2.ab,z9@q.cd",
        "-@a.bc", "%+._-@x.yz", "foo@bar.c",
        "a" * 10 + "@" + "b" * 10 + ".ab",
        "two a@b.cd then c@d.ef", "dot.end@x.yz.", "@@a.bc@@d.ef@@",
        # abutting emails: previous match's tail chars sit in the
        # local-part class, so the scan-resume position is mid-run —
        # exactly where plain-vs-lookbehind diverged before round 11
        "a@b.cc+x@d.ee", "a@b.io-c@d.io", "a@b.cc.x@d.ee",
        "u1@example.com+u2@example.com or x",
        "a@b.ccx@d.ee", "e@f.gh%i@j.kl-m@n.op",
    ]
    con = duckdb.connect()
    try:
        for c in cases:
            spark_find = re.findall(_EMAIL_RE_SPARK, c)
            spark_sub = re.sub(_EMAIL_RE_SPARK, "<E>", c)
            anch_find = [m.group(2) for m in re.finditer(_EMAIL_RE_ORACLE, c)]
            anch_sub = re.sub(_EMAIL_RE_ORACLE, r"\1<E>", c)
            assert spark_find == anch_find, c
            assert spark_sub == anch_sub, c
            duck_find, duck_sub = con.execute(
                r"SELECT regexp_extract_all(?, ?, 2),"
                r"       regexp_replace(?, ?, '\1<E>', 'g')",
                [c, _EMAIL_RE_ORACLE, c, _EMAIL_RE_ORACLE],
            ).fetchone()
            assert spark_find == duck_find, c
            assert spark_sub == duck_sub, c
    finally:
        con.close()


def test_edit_distance_cap_requires_full_length_agreement(spark, tmp_path):
    """ADVICE r10 #2: the 4,000-char DP cap made dedup_edit_distance_blocked
    blind past the prefix — two docs sharing a 4,000-char preamble reported
    edit_dist 0 no matter how different their tails. The len_bucket block
    normally bounds within-block length spread to 32 chars, but it keys on
    the n_chars METADATA column; when metadata is stale (drifted corpus,
    upstream mutation without recount — a real production hazard) the block
    admits wildly different-length texts. The round-11 guard re-checks the
    FULL text lengths: abs(la-lb) <= 0.2*max(la,lb), a necessary condition
    of the uncapped metric. Pins: same-length prefix-twins stay paired
    (capped contract), a stale-metadata 13k-char doc sharing the preamble is
    rejected, and Spark/DuckDB agree cell-for-cell on the crafted corpus."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ai_dataingestion_spark.catalog import all_specs
    from tests.parity import compare, duckdb_connect

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "capguard")
    os.makedirs(out)
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "documents.parquet":
            shutil.copy(os.path.join(src, f), os.path.join(out, f))

    prefix = ("lorem ipsum dolor sit amet " * 200)[:4000]  # shared preamble
    texts = [
        prefix + "a" * 100,   # doc 0: 4100 chars
        prefix + "b" * 100,   # doc 1: 4100 chars, prefix-twin of doc 0
        prefix + "c" * 9000,  # doc 2: 13000 chars, stale n_chars metadata
    ]
    docs = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["synthetic"] * 3, pa.string()),
            # doc 2's n_chars is STALE on purpose: same len_bucket as 0/1
            "n_chars": pa.array([4100, 4100, 4100], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    spec = all_specs()["dedup_edit_distance_blocked"]
    rows = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in spec.fn(spark, out).collect()
    }
    assert rows == {(0, 1): 0}, rows  # twins pair; 13k-tail doc rejected

    con = duckdb_connect(out)
    try:
        report = compare(spec.fn(spark, out), con, spec.oracle)
        assert report["ok"], report
    finally:
        con.close()


def test_pii_email_anchoring_property():
    """Property sweep of the round-11 anchored-oracle equivalence (ADVICE
    r10 #1): for RANDOM strings over an alphabet dense in the divergence
    machinery (local-part class chars incl. '+'/'-'/'.'/'%', '@', TLD
    letters, separators), the Java-lookbehind pattern (Python re is the
    same backtracking family Spark's JVM regex is) and the RE2-compatible
    consuming-prefix oracle pattern must agree on BOTH the extracted email
    multiset and the scrub output — including restart-after-match
    positions no hand-picked case list can enumerate. DuckDB is consulted
    on every disagreement-prone shape (any string with >= 2 '@') so the
    RE2 engine itself is in the loop, not just Python's approximation."""
    import re

    import duckdb
    from hypothesis import given, settings, strategies as st

    from ai_dataingestion_spark.ai.text import _EMAIL_RE_ORACLE, _EMAIL_RE_SPARK

    alphabet = st.sampled_from(list("ab1._%+-@. cd") + ["cc", "io", "@@"])
    strings = st.lists(alphabet, min_size=0, max_size=24).map("".join)
    con = duckdb.connect()

    @settings(max_examples=300, deadline=None)
    @given(strings)
    def prop(s):
        spark_find = re.findall(_EMAIL_RE_SPARK, s)
        spark_sub = re.sub(_EMAIL_RE_SPARK, "<E>", s)
        anch_find = [m.group(2) for m in re.finditer(_EMAIL_RE_ORACLE, s)]
        anch_sub = re.sub(_EMAIL_RE_ORACLE, r"\1<E>", s)
        assert spark_find == anch_find, s
        assert spark_sub == anch_sub, s
        if s.count("@") >= 2:  # the divergence-prone shapes hit real RE2
            duck_find, duck_sub = con.execute(
                r"SELECT regexp_extract_all(?, ?, 2),"
                r"       regexp_replace(?, ?, '\1<E>', 'g')",
                [s, _EMAIL_RE_ORACLE, s, _EMAIL_RE_ORACLE],
            ).fetchone()
            assert spark_find == duck_find, s
            assert spark_sub == duck_sub, s

    try:
        prop()
    finally:
        con.close()
