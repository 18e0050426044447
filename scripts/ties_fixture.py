"""Build a TIE-AMPLIFIED corpus tier at /tmp/spark_graft_ties.

Every ranked contract in the engine — row_number cutoffs, argmin/argmax
winners, top-k, keep-min dedup, percentile_disc locations — is only
deterministic if its ORDER BY carries a complete tie-break. The driver
corpus has essentially unique sort values (2-dp money over small key
ranges), so a MISSING tie-break is invisible: both engines happen to
agree because nothing ties. Real lakes tie constantly (price points,
batch-stamped timestamps, enum scores).

This fixture derives from sf0.01 and re-emits each fact row k times
under FRESH primary keys with IDENTICAL attribute values:

- orders x3 (fresh o_orderkey at +20M/+40M; same custkey, price, date,
  status, priority) and lineitem x3 under the SAME key offsets, so the
  order/lineitem FK stays valid and join families see tied rows.
- events x3 (fresh event_id; same ts/user/type/value/props): exact
  timestamp ties inside every per-user timeline — the sessionize / lag /
  rank tie-break stress.
- customer/supplier/part x2 (fresh keys, same attributes): acctbal /
  retailprice / size rank ties, skyline ties, fuzzy-match ties.
- documents x2 (fresh doc_id, same text): exact-duplicate corpora.
- embeddings x2 (fresh vec_id, same vector, same label): exact cosine
  ties in every top-k and pair-dedup ranking.
- region/nation copy through (dimension identity must stay unique).

A hash mismatch on this tier means a ranked contract is either
nondeterministic or tie-broken differently by the two engines — both
worth failing loudly. Oracle parity transfers: DuckDB reads the SAME
parquet.

Usage: python scripts/ties_fixture.py  (idempotent; rm -rf to rebuild)
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import write_tier  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_TIES_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_TIES_DIR", "/tmp/spark_graft_ties")

OFFSET = 20_000_000  # far above every corpus key domain

# table -> (copies, [key columns to offset per extra copy])
PLAN: dict[str, tuple[int, list[str]]] = {
    "region": (1, []),
    "nation": (1, []),
    "customer": (2, ["c_custkey"]),
    "supplier": (2, ["s_suppkey"]),
    "part": (2, ["p_partkey"]),
    "orders": (3, ["o_orderkey"]),
    "lineitem": (3, ["l_orderkey"]),  # mirrors orders' offsets: FK-valid
    "events": (3, ["event_id"]),
    "documents": (2, ["doc_id"]),
    "embeddings": (2, ["vec_id"]),
}


def build_table(t: str, tbl: pa.Table) -> pa.Table:
    copies, keys = PLAN[t]
    parts = [tbl]
    for c in range(1, copies):
        cols = {}
        for name in tbl.column_names:
            col = tbl.column(name).combine_chunks()
            if name in keys:
                col = pc.add(col, pa.scalar(OFFSET * c, type=col.type))
            cols[name] = col
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def main() -> None:
    write_tier(
        SRC, OUT, build_table, tables=PLAN,
        note=lambda tbl, out: f": {tbl.num_rows} -> {out.num_rows} rows",
    )


if __name__ == "__main__":
    sys.exit(main())
