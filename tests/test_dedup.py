"""Near-dup family: the shared MinHash detector and the near-copy fixture
behave the same in every operator built on them."""

from __future__ import annotations

import os

import duckdb

from ai_dataingestion_spark.catalog import all_specs
from ai_dataingestion_spark.registry import SCHEMAS
from tests.parity import compare

SPECS = all_specs()


def test_eval_scores_exactly_the_near_minhash_pairs(spark, sf_small):
    """dedup_eval_precision_recall and dedup_near_minhash run one detector
    (_minhash_near_pairs), so the evaluation's n_detected is the row count
    of the detector's own output."""
    (row,) = SPECS["dedup_eval_precision_recall"].fn(spark, sf_small).collect()
    assert row["n_detected"] > 0
    assert row["n_detected"] == SPECS["dedup_near_minhash"].fn(spark, sf_small).count()


def test_removal_plan_single_token_near_copy_matches_oracle(spark, tmp_path):
    """Dropping the only token of a single-token document leaves no text.
    Unguarded, Spark's array_join([]) is '' — whose md5 equals the empty
    document's, so the near copy 2000005 of 'abc' would be removed as an
    'exact' duplicate of doc 7 — while the oracle's array_to_string([]) is
    NULL and removes nothing. The shared guarded near-copy mutation makes
    the copy NULL on both engines."""
    sf_dir = str(tmp_path)
    docs = spark.createDataFrame(
        [(5, "abc", "en", "web", 3), (7, "", "en", "web", 0)], SCHEMAS["documents"]
    )
    docs.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    spec = SPECS["dedup_removal_plan"]
    report = compare(spec.fn(spark, sf_dir), con, spec.oracle)
    con.close()
    assert report["ok"], report
