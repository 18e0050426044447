"""Build a NULL-injected corpus tier at /tmp/spark_graft_nulls (SCALE.md round 8).

The driver corpus contains ZERO nulls in any column of any table (verified
with pyarrow null_count over all ten tables), so the null-semantics behavior
of the whole 448-operator surface is unexercised: three-valued logic in
filters, NULL group keys, null-ordering divergence in top-k truncation
(Spark defaults NULLS FIRST on ASC where DuckDB defaults NULLS LAST),
count(*) vs count(col), avg/sum null-skipping, null join keys, and Python
paths that .collect() dimension values and assume they are non-None. At
100 TB, real data is full of nulls — an engine that has never seen one is
untested where production lives.

Injection contract:
- PRIMARY KEYS STAY NON-NULL (r_regionkey, n_nationkey, c_custkey,
  s_suppkey, p_partkey, o_orderkey, l_orderkey+l_linenumber, event_id,
  doc_id, vec_id): the tables remain entity tables; it is the attributes
  and foreign keys that go missing in real pipelines.
- Every other column gets a deterministic per-(table,column) seeded mask
  at a low rate (1-5%), so DuckDB and Spark read the SAME parquet and the
  driver-sim oracle comparison is full value parity under nulls.
- documents.text additionally gets EMPTY ('') and WHITESPACE-ONLY rows —
  the classes between "missing" and "present" that text pipelines must
  distinguish.

Usage: python scripts/null_fixture.py  (idempotent; rm -rf the dir to
rebuild). Derives from sf0.01 — the driver's certification scale.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import row_mask, write_tier  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_NULLS_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_NULLS_DIR", "/tmp/spark_graft_nulls")

# (table, column) -> null rate. Columns not listed pass through unchanged.
RATES: dict[str, dict[str, float]] = {
    "region": {"r_name": 0.20},  # exactly 1 of the 5 regions
    "nation": {"n_name": 0.04, "n_regionkey": 0.04},  # ~1 of 25 each
    "customer": {
        "c_name": 0.02,
        "c_nationkey": 0.03,
        "c_acctbal": 0.05,
        "c_mktsegment": 0.03,
    },
    "supplier": {"s_name": 0.02, "s_nationkey": 0.03, "s_acctbal": 0.05},
    "part": {
        "p_name": 0.02,
        "p_brand": 0.03,
        "p_type": 0.03,
        "p_size": 0.03,
        "p_retailprice": 0.05,
    },
    "orders": {
        "o_custkey": 0.02,
        "o_orderstatus": 0.02,
        "o_totalprice": 0.05,
        "o_orderdate": 0.02,
        "o_orderpriority": 0.03,
    },
    "lineitem": {
        "l_partkey": 0.01,
        "l_suppkey": 0.01,
        "l_quantity": 0.02,
        "l_extendedprice": 0.02,
        "l_discount": 0.03,
        "l_tax": 0.03,
        "l_returnflag": 0.02,
        "l_linestatus": 0.02,
        "l_shipdate": 0.02,
    },
    "events": {
        "user_id": 0.02,
        "event_type": 0.02,
        "value": 0.05,
        "props": 0.05,
        "ts": 0.01,
    },
    "documents": {
        "text": 0.02,
        "lang": 0.03,
        "source": 0.02,
        "n_chars": 0.03,
    },
    "embeddings": {"embedding": 0.01, "label": 0.05},
}

# documents.text degenerate-but-present classes (disjoint from the nulls).
EMPTY_TEXT_RATE = 0.01
BLANK_TEXT_RATE = 0.01


def inject(table: str, tbl: pa.Table) -> pa.Table:
    n = tbl.num_rows
    rates = RATES.get(table, {})
    cols = {}
    for name in tbl.column_names:
        arr = tbl.column(name).combine_chunks()
        if name in rates:
            m = row_mask(f"{table}.{name}", n, rates[name])
            arr = pc.if_else(pa.array(~m), arr, pa.nulls(n, arr.type))
        cols[name] = arr
    if table == "documents":
        # empty + whitespace-only text on rows NOT already nulled
        text = cols["text"]
        base = np.asarray(pc.is_null(text))
        m_empty = row_mask(f"{table}.text#empty", n, EMPTY_TEXT_RATE) & ~base
        m_blank = row_mask(f"{table}.text#blank", n, BLANK_TEXT_RATE) & ~base & ~m_empty
        py = text.to_pylist()
        for i in np.flatnonzero(m_empty):
            py[i] = ""
        for i in np.flatnonzero(m_blank):
            py[i] = "  \t \n "
        cols["text"] = pa.array(py, type=text.type)
    return pa.table(cols)


def _null_note(_, out: pa.Table) -> str:
    injected = {
        c: out.column(c).null_count for c in out.column_names if out.column(c).null_count
    }
    return f": {out.num_rows} rows, nulls {injected or '{}'}"


def main() -> None:
    write_tier(SRC, OUT, inject, note=_null_note)


if __name__ == "__main__":
    sys.exit(main())
