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
    con = _write_documents(spark, sf_dir, {5: "abc", 7: ""})
    spec = SPECS["dedup_removal_plan"]
    report = compare(spec.fn(spark, sf_dir), con, spec.oracle)
    con.close()
    assert report["ok"], report


def _write_documents(spark, sf_dir: str, texts: dict[int, str]):
    """Write ``texts`` (doc_id -> text) as sf_dir's documents table and
    return a DuckDB connection with it as the ``documents`` view."""
    rows = [(i, t, "en", "web", len(t)) for i, t in sorted(texts.items())]
    docs = spark.createDataFrame(rows, SCHEMAS["documents"])
    docs.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return con


def test_rare_shingle_index_cuts_exactly_above_df_cap(spark, tmp_path):
    """The DF cap's boundary: a shingle in exactly DF_CAP documents is
    indexed and one in DF_CAP + 1 is not, in the index and in both kernels
    built on it. Each one-shingle document of the at-cap group pairs with
    every other (Jaccard and containment 1); the over-cap group yields no
    pair. The group ids avoid the kernels' %5 near-copy and %7 truncated-
    copy mutations, so the groups' document frequencies are the same in
    both kernels' corpora; three longer documents carry the mutations."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.ai.dedup import (
        DF_CAP,
        _rare_shingle_index,
        _shingled_docs,
    )

    free = [i for i in range(1, 1000) if i % 5 and i % 7]
    at_cap, over_cap = free[:DF_CAP], free[DF_CAP : 2 * DF_CAP + 1]
    texts = {i: "cap at limit" for i in at_cap}
    texts.update({i: "cap over limit" for i in over_cap})
    texts[10] = "one two three four five six"
    texts[14] = "red orange yellow green blue indigo violet"
    texts[35] = "alpha beta gamma delta epsilon zeta eta"
    sf_dir = str(tmp_path)
    con = _write_documents(spark, sf_dir, texts)

    docs = _shingled_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    index = _rare_shingle_index(docs)
    (h_at, h_over) = spark.range(1).select(
        F.xxhash64(F.lit("cap at limit")), F.xxhash64(F.lit("cap over limit"))
    ).first()
    assert index.filter(F.col("h") == h_at).count() == DF_CAP
    assert index.filter(F.col("h") == h_over).count() == 0

    # at-cap pairs, plus the near copies of 10 and 35 / the truncated
    # copies of 14 and 35
    expected_rows = {
        "dedup_ngram_jaccard": DF_CAP * (DF_CAP - 1) // 2 + 2,
        "text_containment_pairs": DF_CAP * (DF_CAP - 1) + 2,
    }
    for qid, n in expected_rows.items():
        spec = SPECS[qid]
        report = compare(spec.fn(spark, sf_dir), con, spec.oracle)
        assert report["ok"], (qid, report)
        assert report["spark_rows"] == n, (qid, report)
    con.close()
