"""Unicode-tier parity regression tests (round 8).

The driver corpus is pure printable ASCII, so codepoint-level dialect
gaps between the JVM and the oracle engine are invisible to the standard
tiers. The full /tmp unicode sweep (scripts/unicode_fixture.py + SCALE.md
round 8) found four real divergence classes; this module rebuilds a small
unicode-adversarial corpus from sf0.001 and re-runs parity for the fixed
operators plus the unicode-critical text surface that must KEEP passing:

- levenshtein counts BYTES in the oracle engine and UTF-16 code units in
  the JVM -> edit-distance contracts scope to printable-ASCII operands
- Java FULL case mapping (sharp-s -> SS) vs utf8proc simple mapping ->
  case columns gate the known-divergent codepoints
- reverse() is grapheme-aware in the oracle engine, codepoint-wise in the
  JVM -> gated on joiner/combining characters
- from_json with a numeric value type nulls the WHOLE map when one JSON
  value is a string -> maps parse as string->string
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from ai_dataingestion_spark.catalog import all_specs
from tests.parity import compare, duckdb_connect

_SPEC = importlib.util.spec_from_file_location(
    "unicode_fixture",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "unicode_fixture.py"),
)
_uni = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_uni)

SPECS = all_specs()

UNICODE_TIER_IDS = [
    # the four fixed divergence classes
    "fn_levenshtein_match", "dedup_edit_distance_blocked",
    "fn_string", "fn_string_format", "fn_map", "dedup_normalized_text",
    # unicode-critical surface that must keep passing (md5/shingles/
    # tokenization/length semantics over multibyte text)
    "text_tokenize", "text_charset_stats", "text_langid", "fn_hash",
    "dedup_exact", "dedup_near_minhash", "text_fingerprint",
    "fn_utf8_multibyte_semantics", "text_token_count", "fn_string_parts",
]


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("unicode_sf0001"))
    _uni.write_tier("/root/testdata/sf0.001", out, _uni.inject)
    return out


@pytest.fixture(scope="module")
def unicode_con(unicode_dir):
    c = duckdb_connect(unicode_dir)
    yield c
    c.close()


def test_fixture_actually_injects_unicode(unicode_dir):
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(unicode_dir, "documents.parquet"))
    texts = [t for t in docs.column("text").to_pylist() if t]
    assert any(any(ord(c) > 127 for c in t) for t in texts)
    assert any(any(ord(c) > 0xFFFF for c in t) for t in texts), "no emoji"


@pytest.mark.parametrize("qid", UNICODE_TIER_IDS)
def test_unicode_tier_parity(qid, spark, unicode_dir, unicode_con):
    spec = SPECS[qid]
    df = spec.fn(spark, unicode_dir)
    report = compare(df, unicode_con, spec.oracle)
    assert report["ok"], f"{qid}: {report}"
