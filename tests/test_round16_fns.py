"""Semantic tests for the round-16 block (functions/scalar.py +
operators/catalog_meta.py) — properties the per-op oracle hash can't state:
TIME arithmetic is internally consistent (bands partition the corpus,
truncation lands on its grid), width_bucket agrees with independent
floor arithmetic, the try_* constructors only ever admit genuinely valid
components, the DF-cap loss curve (ai/dedup.py) is monotone in the
duplication factor, and the catalog round-trips preserve row mass."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_dataingestion_spark.catalog import all_specs
from ai_dataingestion_spark.registry import load_table

SPECS = all_specs()


def test_time_family_partitions_events(spark, sf_small):
    """Hour-of-day groups partition the non-NULL-ts events; the time(2)
    truncation lands exactly on the 10 ms grid; active minutes never
    exceed the group's row count."""
    rows = SPECS["fn_time_type_family"].fn(spark, sf_small).collect()
    n_events = (
        load_table(spark, sf_small, "events")
        .where(F.col("ts").isNotNull())
        .count()
    )
    assert sum(r["n"] for r in rows) == n_events
    for r in rows:
        assert 0 <= r["hod"] <= 23
        assert r["min_us2"] % 10000 == 0
        assert r["n_active_min"] <= r["n"]
        assert r["first_s"] <= r["last_s"]


def test_time_trunc_diff_signs_and_bounds(spark, sf_small):
    """The reversed diff is the negation of the forward span in seconds
    (to whole-minute vs whole-second truncation tolerance), active hours
    fit inside the span, and the malformed-parse rows are excluded."""
    rows = SPECS["fn_time_trunc_diff_family"].fn(spark, sf_small).collect()
    for r in rows:
        if r["span_min"] is None:
            continue
        assert r["span_min"] >= 0
        assert r["neg_span_s"] <= 0
        # second-truncated span and minute-truncated span agree to <60 s
        assert abs(-r["neg_span_s"] - r["span_min"] * 60) < 60
        assert r["n_active_hours"] <= r["span_min"] // 60 + 1
        assert r["n_parsed"] <= r["n"]
        assert len(r["first_whole_s"]) == 8  # HH:MM:SS, no fraction


def test_time_of_day_rollup_bands(spark, sf_small):
    """48 possible bands, labels derived from the band index, and the
    band histogram partitions the corpus."""
    rows = SPECS["events_time_of_day_rollup"].fn(spark, sf_small).collect()
    n_events = (
        load_table(spark, sf_small, "events")
        .where(F.col("ts").isNotNull())
        .count()
    )
    assert sum(r["n"] for r in rows) == n_events
    for r in rows:
        assert 0 <= r["band"] <= 47
        assert r["band_start"] == "%02d:%02d:00" % (
            r["band"] // 2, r["band"] % 2 * 30
        )
        assert r["n_users"] <= r["n"]


def test_width_bucket_matches_floor_arithmetic(spark, sf_small):
    """Spark's width_bucket must agree with independent floor arithmetic
    on every lineitem row (the exact power-of-two width makes the two
    formulas bit-identical), and both edge buckets occur."""
    rows = SPECS["fn_width_bucket_binning"].fn(spark, sf_small).collect()
    li = load_table(spark, sf_small, "lineitem")
    ref = {
        (r["wp"], r["wm"]): r["n"]
        for r in li.select(
            F.expr(
                "CASE WHEN l_extendedprice >= 65536 THEN 18"  # 17+1 guard
                " WHEN l_extendedprice < 0 THEN 0"
                " ELSE cast(floor(l_extendedprice / 4096.0) as bigint) + 1"
                " END"
            ).alias("wp"),
            F.expr(
                "CASE WHEN l_extendedprice - 51000.0 >= 65536 THEN 18"
                " WHEN l_extendedprice - 51000.0 < 0 THEN 0"
                " ELSE cast(floor((l_extendedprice - 51000.0) / 4096.0)"
                "      as bigint) + 1 END"
            ).alias("wm"),
        )
        .groupBy("wp", "wm")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        (min(r["wb_price"], 18), min(r["wb_margin"], 18)): r["n"]
        for r in rows
        if r["wb_price"] is not None
    }
    # over-range buckets: op emits 17 (n+1), ref folds >=hi to 18 — remap
    ref2 = {
        (17 if a == 18 else a, 17 if b == 18 else b): n
        for (a, b), n in ref.items()
    }
    got2 = {
        (17 if a == 18 else a, 17 if b == 18 else b): n
        for (a, b), n in got.items()
    }
    assert got2 == ref2
    assert any(k[1] == 0 for k in got2), "no under-range margin bucket"
    assert any(k[0] == 17 for k in got2), "no over-range price bucket"


def test_string_pick_domains(spark, sf_small):
    """find_in_set stays inside [0, 4]; getbit is 0/1; the pick column's
    distinct count never exceeds the group size."""
    rows = SPECS["fn_string_pick_family"].fn(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["fis"] in (0, 1, 2, 3, 4, None)
        assert r["gb"] in (0, 1, None)
        assert 0 < r["n_picks"] <= r["n"]


def test_try_datetime_only_valid_components(spark, sf_small):
    """A surviving timestamp's day must be 29-31 (day+28 admitted only
    for day<=3), the interval anchor shift preserves the anchor date
    range, and overflow rows vanish from n_shifted."""
    rows = SPECS["fn_try_datetime_make"].fn(spark, sf_small).collect()
    o = load_table(spark, sf_small, "orders")
    n_total = o.count()
    assert sum(r["n"] for r in rows) == n_total
    for r in rows:
        assert r["n_valid"] <= r["n"]
        if r["min_ts"] is not None:
            assert int(r["min_ts"][8:10]) >= 29
        if r["min_shifted"] is not None:
            assert r["min_shifted"].startswith("2024-01-")
        assert r["n_shifted"] <= r["n"]


def test_json_introspect_recompute(spark, sf_small):
    """Element totals recompute from the construction formula; every
    non-NULL props row is a non-array."""
    rows = SPECS["fn_json_array_introspect"].fn(spark, sf_small).collect()
    e = load_table(spark, sf_small, "events")
    ref = {
        r["event_type"]: (r["na"], r["tot"], r["np"])
        for r in e.groupBy("event_type")
        .agg(
            F.count(
                F.when(
                    F.col("event_id").isNotNull()
                    & (F.col("event_id") % 7 != 0),
                    1,
                )
            ).alias("na"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_id").isNotNull()
                        & (F.col("event_id") % 7 != 0),
                        F.expr("(event_id % 4 + 4) % 4"),
                    )
                ).cast("bigint"),
                F.lit(0),
            ).alias("tot"),
            F.count("props").alias("np"),
        )
        .collect()
    }
    for r in rows:
        na, tot, np_ = ref[r["event_type"]]
        assert r["n_arrays"] == na
        assert r["total_elems"] == tot
        assert r["n_props_nonarray"] == np_


def test_aes_roundtrip_totals(spark, sf_small):
    """Both cipher modes round-trip every non-NULL name, the wrong GCM
    key always fails, and ECB ciphertext length is a positive multiple
    of the block size."""
    rows = SPECS["fn_aes_roundtrip_property"].fn(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_ecb_roundtrip"] == r["n_names"]
        assert r["n_gcm_roundtrip"] == r["n_names"]
        assert r["n_gcm_wrongkey_null"] == r["n_names"]
        assert r["ecb_cipher_bytes"] % 16 == 0
        if r["n_names"]:
            assert r["ecb_cipher_bytes"] >= 16 * r["n_names"]


def test_cap_loss_curve_monotone(spark, sf_small):
    """The loss curve is monotone non-decreasing in the duplication
    factor on all three axes, totals are factor-invariant, and k=50 caps
    exactly the shingles with df >= 2."""
    rows = sorted(
        SPECS["text_shingle_df_cap_loss"].fn(spark, sf_small).collect(),
        key=lambda r: r["dup_factor"],
    )
    assert [r["dup_factor"] for r in rows] == [1, 2, 5, 10, 25, 50]
    assert len({r["n_shingles"] for r in rows}) == 1
    assert len({r["n_docs"] for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a["n_capped"] <= b["n_capped"]
        assert a["inst_capped"] <= b["inst_capped"]
        assert a["n_docs_blind"] <= b["n_docs_blind"]
        assert a["capped_frac"] <= b["capped_frac"]
    for r in rows:
        assert 0.0 <= r["capped_frac"] <= 1.0
        assert r["inst_capped"] >= r["n_capped"]  # df >= 1 per shingle
    # k=50: df*50 > 50  <=>  df >= 2 — recompute the df>=2 vocabulary
    from ai_dataingestion_spark.ai.dedup import _SHINGLES_EXPR

    docs = (
        load_table(spark, sf_small, "documents")
        .withColumn("toks", F.split("text", " "))
        .select("doc_id", F.expr(_SHINGLES_EXPR).alias("sh"))
    )
    df2 = (
        docs.select(F.explode("sh").alias("s"))
        .groupBy("s")
        .count()
        .where(F.col("count") >= 2)
        .count()
    )
    assert rows[-1]["n_capped"] == df2


def test_partition_inventory_preserves_mass(spark, sf_small):
    """Every partition the catalog lists carries rows, and the listed
    row mass equals the source row count (nothing dropped or
    double-written by the partitioned sink)."""
    rows = (
        SPECS["catalog_show_partitions_inventory"].fn(spark, sf_small)
        .collect()
    )
    n_orders = load_table(spark, sf_small, "orders").count()
    assert sum(r["n_rows"] for r in rows) == n_orders
    assert 1 <= len(rows) <= 9  # 8 buckets + the hive NULL partition
    for r in rows:
        assert r["n_rows"] > 0


def test_tblproperties_exact_bag(spark, sf_small):
    """SET overrides, UNSET removes: the surviving property bag is
    exactly retention+tier with the post-ALTER values."""
    rows = {
        r["key"]: r["value"]
        for r in SPECS["catalog_tblproperties_roundtrip"].fn(spark, sf_small)
        .collect()
    }
    assert rows == {"graft.retention": "30d", "graft.tier": "silver"}
