"""Build a NEGATIVE-EPOCH / int32-edge timestamp tier at
/tmp/spark_graft_epoch (round 9).

Every prior tier kept timestamps in POSITIVE epoch territory (the clean
corpus is one 2024 month; the extremes tier spans 1971-2199, still
epoch > 0). Pre-1970 timestamps flip the sign of every derived epoch
number, and negative integer arithmetic is a classic cross-engine trap:
CAST(x AS INT) truncates toward zero while floor() rounds down, %
takes the dividend's sign in both engines but any bucket computed with
truncating division shifts by one whole bucket for negative epochs, and
date parts (ISO week, day-of-week, quarter) run through different
negative-years code paths. The int32-seconds edges (1901-12-13 /
2038-01-19) sit inside the injected band so any 32-bit seconds
assumption breaks loudly.

Deterministic injections (derived from sf0.01):

- events: ~2% of rows get ts shifted back exactly 100 YEARS of days
  (36524 days — calendar-safe, lands 1923-1924: negative epoch, pre-dates
  the int32-seconds minimum's neighborhood), ~0.5% shifted forward
  5200 weeks (lands 2123 — past the int32-seconds 2038 rollover).
  Shifts are whole days/weeks so intra-day time-of-day distributions
  stay identical (hour/session ops see the same local shapes).
- orders + lineitem: orders with o_orderkey % 97 == 0 (~1%) get
  o_orderdate shifted back 36524 days, and THEIR lineitems (same key
  predicate on l_orderkey) get l_shipdate shifted identically — the
  ship-after-order invariant and every datediff stay coherent; only the
  epoch sign flips.

Keys and all other columns copy through unchanged. DuckDB reads the SAME
parquet, so `driver_sim.py --sf-dir /tmp/spark_graft_epoch` is full value
parity under negative epochs.

Usage: python scripts/epoch_fixture.py  (idempotent; rm -rf to rebuild)
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import row_mask, write_tier  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_EPOCH_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_EPOCH_DIR", "/tmp/spark_graft_epoch")

BACK = dt.timedelta(days=36524)  # 100 Gregorian years of days
FWD = dt.timedelta(weeks=5200)  # ~99.7 years forward (2123)
ORDER_MOD = 97  # orders/lineitem coherent-shift key predicate


def inject(table: str, tbl: pa.Table) -> pa.Table:
    n = tbl.num_rows
    cols = {c: tbl.column(c).combine_chunks() for c in tbl.column_names}

    def shift(col: str, mask: np.ndarray, delta: dt.timedelta):
        vals = cols[col].to_pylist()
        for i in np.flatnonzero(mask):
            if vals[i] is not None:
                vals[i] = vals[i] + delta
        cols[col] = pa.array(vals, type=tbl.schema.field(col).type)

    if table == "events":
        m_back = row_mask("events.ts#back", n, 0.02)
        m_fwd = row_mask("events.ts#fwd", n, 0.005) & ~m_back
        shift("ts", m_back, -BACK)
        shift("ts", m_fwd, FWD)
    elif table == "orders":
        keys = np.array(cols["o_orderkey"].to_pylist())
        shift("o_orderdate", keys % ORDER_MOD == 0, -BACK)
    elif table == "lineitem":
        keys = np.array(cols["l_orderkey"].to_pylist())
        shift("l_shipdate", keys % ORDER_MOD == 0, -BACK)
    return pa.table(cols)


def main() -> None:
    write_tier(SRC, OUT, inject)


if __name__ == "__main__":
    sys.exit(main())
