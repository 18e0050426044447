"""Build a HOSTILE-JSON corpus tier at /tmp/spark_graft_json (round 9).

The clean corpus's events.props is uniformly flat single-key JSON
(`{"k": N}`), so the JSON surface — path extraction, map parsing, variant
shredding, validity checks — never sees what a real event pipeline sees.
Deterministic injections into ~9% of props rows (each class keeps the
original `"k": N` pair FIRST so flat `$.k` extraction stays well-defined,
except where the class is specifically about breaking it):

- deep nesting: objects in arrays in objects, 4 levels, unicode values
- escape salad: embedded quotes, backslashes, forward slashes, newlines,
  unicode escapes (\\u00e9) inside string values
- scalar zoo: null, true/false, exponent floats, a 30-digit integer
  (overflows BIGINT: CAST errors in one engine, NULL in the other —
  extraction contracts must stay in the string domain until validated)
- pretty-printed whitespace variants of the same flat object
- INVALID JSON (truncated object, bare word) — json_valid paths and
  permissive parsers must agree row-by-row
- duplicate keys (`{"k":1,"k":2}`) — first-wins vs last-wins is an
  engine-defined choice JSON-path contracts must pin or avoid
- VALID non-object docs (`[1,2,3]`, bare `5`) — Spark json_object_keys
  NULLs them while DuckDB json_keys returns [], so object-shaped
  contracts must gate on json_type (ADVICE r9)

Usage: python scripts/json_fixture.py  (idempotent; rm -rf to rebuild)
Sweep: python scripts/driver_sim.py --sf-dir /tmp/spark_graft_json
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import row_mask, write_tier  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_JSON_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_JSON_DIR", "/tmp/spark_graft_json")


def _mutants(k: str) -> list:
    """One mutant per adversarial class; `k` is the original k-value text
    (kept as the FIRST pair so flat $.k extraction stays defined)."""
    return [
        # deep nesting + unicode values
        ('{"k": %s, "nest": {"a": [1, 2, {"b": "数据", "c": [true, null]}],'
         ' "d": {"e": {"f": "éß"}}}}' % k),
        # escape salad inside string values
        ('{"k": %s, "s": "he said \\"hi\\" \\\\ then\\nleft \\u00e9/end"}' % k),
        # scalar zoo incl. BIGINT-overflow integer
        ('{"k": %s, "z": null, "b": true, "f": 1.5e-3,'
         ' "big": 999999999999999999999999999999}' % k),
        # pretty-printed whitespace variant
        ('{\n  "k" : %s ,\n  "pad" : "x"\n}' % k),
        # INVALID: truncated object
        '{"k": %s, "broken": ' % k,
        # duplicate keys: engine-defined first-vs-last wins
        '{"k": %s, "k": 777}' % k,
        # VALID but NON-OBJECT (ADVICE r9): Spark json_object_keys -> NULL
        # (row dropped) vs DuckDB json_keys -> [] (row kept) — map/object
        # contracts must state json_type='OBJECT' on the oracle side
        "[%s, 2, 3]" % k,
        # VALID bare scalar: same divergence class, scalar flavor
        "%s" % k,
    ]


def inject(table: str, tbl: pa.Table) -> pa.Table:
    if table != "events":
        return tbl
    n = tbl.num_rows
    cols = {c: tbl.column(c).combine_chunks() for c in tbl.column_names}
    vals = cols["props"].to_pylist()
    m = row_mask("events.props#json", n, 0.09)
    for i in np.flatnonzero(m):
        v = vals[i]
        if not v:
            continue
        # original flat form is {"k": N} — recover N textually
        k = v.split(":", 1)[1].rstrip("} ").strip() if ":" in v else "0"
        muts = _mutants(k)
        vals[i] = muts[int(i) % len(muts)]
    cols["props"] = pa.array(vals, type=pa.string())
    return pa.table(cols)


def main() -> None:
    write_tier(SRC, OUT, inject)


if __name__ == "__main__":
    sys.exit(main())
