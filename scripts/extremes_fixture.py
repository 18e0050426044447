"""Build an EXTREME-VALUES corpus tier at /tmp/spark_graft_extremes.

The driver corpus's numerics live in a comfortable band (2-dp money in
[0, ~500k], quantities 1-50, one month of 2024 timestamps), so magnitude
and range edges are unexercised: decimal-cast overflow headroom, rounding
at lake magnitudes, negative money through ABC/pareto cumulative logic, zero
quantities through weighted means, epoch arithmetic across decades, and
degenerate 100k-char documents through tokenizers and shingle windows.

Deterministic low-rate injections (derived from sf0.01):

- lineitem: ~1% of l_extendedprice scaled x1e4 (single rows up to
  ~5e9 — the largest money a REAL ledger row carries; per-row values
  beyond ~1e13 are out of every engine's cent-exact double domain and
  belong to no realistic schema), ~1% of l_quantity set to 0, ~0.5%
  of l_discount set to 1.0 (full discount -> zero net revenue rows).
- orders: ~1% of o_totalprice negated (credit notes/chargebacks), ~1%
  scaled x1e4 (~5e9).
- customer: ~2% of c_acctbal at +/-1e9.
- events: ~1% of value scaled x1e6 (~1e8), ~1% at 1e-9; ~1% of ts moved to
  1971-02-03 and ~1% to 2199-11-30 (decade-spanning windows, epoch
  seconds ~7e9 — BIGINT-safe everywhere, but any int32 or
  day-granularity assumption breaks).
- documents: 3 docs replaced by ~100k-char synthetic texts (repeated
  sentence with a counter so shingles stay distinct), 3 docs by one
  very long single token (no spaces).

Deliberately EXCLUDED: NaN and +/-Inf. Their comparison/grouping/
aggregation semantics are a documented cross-engine divergence (Spark
orders NaN greatest and groups NaN==NaN; the oracle engine follows IEEE
in comparisons) — a domain contract for a future round, not a silent mix.

Usage: python scripts/extremes_fixture.py  (idempotent; rm -rf to rebuild)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import row_mask, write_tier  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_EXTREMES_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_EXTREMES_DIR", "/tmp/spark_graft_extremes")


def inject(table: str, tbl: pa.Table) -> pa.Table:
    n = tbl.num_rows
    cols = {c: tbl.column(c).combine_chunks() for c in tbl.column_names}

    def mutate(col: str, tag: str, rate: float, fn):
        vals = cols[col].to_pylist()
        for i in np.flatnonzero(row_mask(f"{table}.{col}#{tag}", n, rate)):
            if vals[i] is not None:
                vals[i] = fn(vals[i], int(i))
        cols[col] = pa.array(vals, type=tbl.schema.field(col).type)

    if table == "lineitem":
        mutate("l_extendedprice", "huge", 0.01,
               lambda v, i: round(v * 1e4, 2))
        mutate("l_quantity", "zero", 0.01, lambda v, i: 0.0)
        mutate("l_discount", "full", 0.005, lambda v, i: 1.0)
    elif table == "orders":
        mutate("o_totalprice", "neg", 0.01, lambda v, i: round(-v, 2))
        mutate("o_totalprice", "huge", 0.01, lambda v, i: round(v * 1e4, 2))
    elif table == "customer":
        mutate("c_acctbal", "big", 0.02,
               lambda v, i: round((1e9 if i % 2 else -1e9) + v, 2))
    elif table == "events":
        mutate("value", "huge", 0.01, lambda v, i: v * 1e6)
        mutate("value", "tiny", 0.01, lambda v, i: v * 1e-9)
        import datetime as dt

        past = dt.datetime(1971, 2, 3, 4, 5, 6)
        future = dt.datetime(2199, 11, 30, 23, 59, 58)
        mutate("ts", "past", 0.01, lambda v, i: past)
        mutate("ts", "future", 0.01, lambda v, i: future)
    elif table == "documents":
        vals = cols["text"].to_pylist()
        lens = cols["n_chars"].to_pylist()
        picks = sorted(
            int(i) for i in np.flatnonzero(row_mask("documents#long", n, 1.0))
        )[:6]
        for j, i in enumerate(picks):
            if j < 3:  # ~100k chars of distinct-shingle sentences
                vals[i] = " ".join(
                    f"extreme doc{j} sentence {k} with filler tokens"
                    for k in range(2100)
                )
            else:  # one giant token, no separators at all
                vals[i] = "x" * 100_000
            lens[i] = len(vals[i])
        cols["text"] = pa.array(vals, type=pa.string())
        cols["n_chars"] = pa.array(lens, type=tbl.schema.field("n_chars").type)
    return pa.table(cols)


def main() -> None:
    write_tier(SRC, OUT, inject)


if __name__ == "__main__":
    sys.exit(main())
