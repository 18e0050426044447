"""Hostile-JSON tier parity regression tests (round 9).

The clean corpus's events.props is uniformly flat `{"k": N}`; the json
tier (scripts/json_fixture.py) injects deep nesting, escape salads,
scalar zoos (null/bool/exponent/30-digit integers), pretty-printed
whitespace, MALFORMED documents, and duplicate top-level keys. The full
sweep surfaced three defects:

- DuckDB's json_keys/json_extract RAISE on malformed JSON while Spark's
  get_json_object/from_json return NULL -> validity CASE gates in the
  fn_json oracle, map-admissible relation gate in fn_map.
- Spark's VARIANT parser (parse_json) is FAILFAST on malformed JSON and
  REJECTS duplicate object keys, while DuckDB treats dup-key documents
  as valid (path extraction keeps the FIRST duplicate; Spark's
  from_json map keeps the LAST) -> fn_variant_json_path uses
  try_parse_json and its oracle gates to the variant-admissible domain
  (json_valid + a json_keys duplicate check).
- Map key ORDER is not a contract (map insertion vs document order) ->
  fn_map emits keys sorted on both sides.

This module rebuilds a small json corpus from sf0.001 and re-runs parity
for the three fixed ops plus props-adjacent surface that must KEEP
passing (scan_json_schema_infer parses its own staged files, quality
profiling treats props as an opaque string).
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from ai_dataingestion_spark.catalog import all_specs
from tests.parity import compare, duckdb_connect

_SPEC = importlib.util.spec_from_file_location(
    "json_fixture",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "json_fixture.py"),
)
_js = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_js)

SPECS = all_specs()

JSON_TIER_IDS = [
    "fn_json", "fn_map", "fn_variant_json_path",
    # props-adjacent surface that must KEEP passing
    "fn_json_nested_roundtrip", "quality_profile", "stream_dedup",
]


@pytest.fixture(scope="module")
def json_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("json_sf0001"))
    _js.write_tier("/root/testdata/sf0.001", out, _js.inject)
    return out


@pytest.fixture(scope="module")
def json_con(json_dir):
    c = duckdb_connect(json_dir)
    yield c
    c.close()


def test_fixture_actually_injects_hostile_json(json_dir):
    import json as jsonlib

    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(json_dir, "events.parquet"))
    vals = [v for v in ev.column("props").to_pylist() if v]
    malformed = nested = dup = 0
    for v in vals:
        try:
            doc = jsonlib.loads(v)
            if isinstance(doc, dict) and any(
                isinstance(x, (dict, list)) for x in doc.values()
            ):
                nested += 1
        except ValueError:
            malformed += 1
        if '"k": 777}' in v:
            dup += 1
    assert malformed > 0, "no malformed JSON injected"
    assert nested > 0, "no nested JSON injected"
    assert dup > 0, "no duplicate-key JSON injected"


@pytest.mark.parametrize("qid", JSON_TIER_IDS)
def test_json_tier_parity(qid, spark, json_dir, json_con):
    spec = SPECS[qid]
    df = spec.fn(spark, json_dir)
    report = compare(df, json_con, spec.oracle)
    assert report["ok"], f"{qid}: {report}"
