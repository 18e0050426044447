"""Build a SCHEMA-DRIFT corpus tier at /tmp/spark_graft_drift (round 10).

The layout tier (round 9) proved corpus-SHAPE tiers pay off; the untested
shape is schema EVOLUTION: one logical table whose parquet directory
accumulated files written by different producer versions — columns added,
dropped, and retyped across files (VERDICT-r9 item 7). The engine reads
every table with a DECLARED schema (registry.load_table), which is exactly
the posture that must absorb drift: missing columns surface as NULL blocks,
extra columns are pruned, narrowed physical types widen to the declared
type. The DuckDB oracle mirrors it with
``read_parquet(..., union_by_name=true)`` projected to the declared columns
(driver_sim.py builds directory views that way).

Both behaviors were probed empirically before this fixture was written:
Spark 4.1 declared-schema reads widen int32->long and float->double, fill
file-missing columns with NULL, and prune file-extra columns; DuckDB
union_by_name coerces to the common wide type and NULL-fills — the engines
agree cell-for-cell on the probe corpus.

Drift classes injected (deterministic row-range splits, values preserved
bit-exactly except float32-narrowed columns, which BOTH engines widen from
the same float32 bits):

- customer: 3 files — full | MISSING c_mktsegment (a whole file's worth of
  correlated NULLs, unlike the null tier's uniform sprinkle) | EXTRA
  c_phone column (must be pruned by both sides)
- orders: 3 files — full | o_custkey RETYPED int64->int32 (lossless: keys
  fit) | EXTRA o_channel column
- lineitem: 2 files — full | l_quantity RETYPED double->int32 (lossless:
  TPC-H quantities are whole numbers)
- part: 2 files — full | p_partkey int64->int32 AND p_retailprice
  double->float32 (LOSSY narrow: both engines must widen the same bits)
- documents: 2 files — full | EXTRA ingest_batch column + column order
  PERMUTED (parquet reads are by-name; order is not a contract)
- events: 2 files — full | MISSING props (ts type untouched in both files:
  the registry's ns/us sniffer requires one unit per directory)
- region/nation/supplier/embeddings: copied unchanged (control group)

Usage: python scripts/drift_fixture.py  (idempotent; rm -rf to rebuild)
Sweep: python scripts/driver_sim.py --sf-dir /tmp/spark_graft_drift
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import TABLES  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_DRIFT_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_DRIFT_DIR", "/tmp/spark_graft_drift")


def _slice(tbl: pa.Table, lo: float, hi: float) -> pa.Table:
    n = tbl.num_rows
    a, b = int(n * lo), int(n * hi)
    return tbl.slice(a, b - a)


def _drop(tbl: pa.Table, col: str) -> pa.Table:
    return tbl.drop_columns([col])


def _retype(tbl: pa.Table, col: str, typ: pa.DataType) -> pa.Table:
    i = tbl.column_names.index(col)
    return tbl.set_column(i, col, tbl.column(col).cast(typ))


def _extra(tbl: pa.Table, col: str, arr: pa.Array) -> pa.Table:
    return tbl.append_column(col, arr)


def _parts(table: str, tbl: pa.Table) -> list[pa.Table] | None:
    """The drifted part files for one table, or None to copy unchanged."""
    if table == "customer":
        p1 = _slice(tbl, 0.0, 0.4)
        p2 = _drop(_slice(tbl, 0.4, 0.7), "c_mktsegment")
        p3 = _slice(tbl, 0.7, 1.0)
        p3 = _extra(
            p3, "c_phone",
            pa.array([f"555-{i % 10000:04d}" for i in range(p3.num_rows)]),
        )
        return [p1, p2, p3]
    if table == "orders":
        p1 = _slice(tbl, 0.0, 0.4)
        p2 = _retype(_slice(tbl, 0.4, 0.7), "o_custkey", pa.int32())
        p3 = _slice(tbl, 0.7, 1.0)
        p3 = _extra(
            p3, "o_channel",
            pa.array(["web" if i % 2 else "store" for i in range(p3.num_rows)]),
        )
        return [p1, p2, p3]
    if table == "lineitem":
        p1 = _slice(tbl, 0.0, 0.5)
        p2 = _retype(_slice(tbl, 0.5, 1.0), "l_quantity", pa.int32())
        return [p1, p2]
    if table == "part":
        p1 = _slice(tbl, 0.0, 0.5)
        p2 = _retype(
            _retype(_slice(tbl, 0.5, 1.0), "p_partkey", pa.int32()),
            "p_retailprice", pa.float32(),
        )
        return [p1, p2]
    if table == "documents":
        p1 = _slice(tbl, 0.0, 0.5)
        p2 = _slice(tbl, 0.5, 1.0)
        p2 = _extra(
            p2, "ingest_batch",
            pa.array([i % 7 for i in range(p2.num_rows)], pa.int64()),
        )
        p2 = p2.select(list(reversed(p2.column_names)))  # order permuted
        return [p1, p2]
    if table == "events":
        p1 = _slice(tbl, 0.0, 0.5)
        p2 = _drop(_slice(tbl, 0.5, 1.0), "props")
        return [p1, p2]
    return None  # control group: copy unchanged


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(OUT, f"{t}.parquet")
        if os.path.exists(dst):
            print(f"[skip] {t} (exists)")
            continue
        tbl = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        parts = _parts(t, tbl)
        if parts is None:
            pq.write_table(tbl, dst)
            print(f"[ok] {t} (unchanged, single file)")
        else:
            os.makedirs(dst)
            for i, p in enumerate(parts):
                pq.write_table(p, os.path.join(dst, f"part-{i:02d}.parquet"))
            print(f"[ok] {t} ({len(parts)} drifted part files)")


if __name__ == "__main__":
    sys.exit(main())
