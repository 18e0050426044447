"""Build a DST/timezone-boundary corpus tier at /tmp/spark_graft_dst
(round 11, VERDICT-r10 item 7).

Every prior tier keeps event times in fixed-offset territory: the clean
corpus is one January month, so even fn_timezone_convert's three-zone sweep
never crosses a daylight-saving transition. DST boundaries are the classic
silent-divergence zone between Spark's Java time rules and DuckDB's ICU:

- UTC -> local: every UTC instant has exactly ONE local rendering; probed
  2024 NY/Berlin transitions — the engines AGREE (including the skipped
  spring-forward hour and the doubled fall-back hour).
- local -> UTC on AMBIGUOUS local times (fall-back hour): **measured
  divergence** — Spark `to_utc_timestamp` resolves to the EARLIER instant
  (the pre-transition DST offset: NY '2024-11-03 01:30' -> 05:30Z), DuckDB
  `AT TIME ZONE` to the LATER one (standard offset: -> 06:30Z). Pinned in
  tests/test_dst_tier.py as a dialect contract: any local->UTC operator
  must gate or normalize the ambiguous hour.
- local -> UTC on NONEXISTENT local times (spring-forward gap): both
  engines shift forward identically (NY '2024-03-10 02:30' -> 07:30Z).

This fixture makes the UTC->local agreement LOAD-BEARING: events.ts rows
are re-timed to sweep minute-by-minute across the four 2024 transition
windows of the zones fn_timezone_convert actually converts to, so its
local-hour histogram (and every other time-bearing operator) runs straight
through the transitions on both engines.

Deterministic injections (derived from sf0.01; ~2% of events re-timed,
seconds/µs within the minute preserved so tie-free uniqueness survives):

- 0.5% -> 2024-03-10 06:00Z + (k mod 120) minutes  (NY spring forward)
- 0.5% -> 2024-11-03 05:00Z + (k mod 120) minutes  (NY fall back;
          every minute of the ambiguous 01:00-02:00 local hour, twice)
- 0.5% -> 2024-03-31 00:00Z + (k mod 120) minutes  (Berlin spring forward)
- 0.5% -> 2024-10-27 00:00Z + (k mod 120) minutes  (Berlin fall back)

All other tables copy through unchanged (DST is a timestamp-conversion
concern; the date-typed orders/lineitem columns don't convert).

Usage: python scripts/dst_fixture.py  (idempotent; rm -rf to rebuild)
Sweep: python scripts/driver_sim.py --sf-dir /tmp/spark_graft_dst
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import TABLES, stable_hash  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_DST_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_DST_DIR", "/tmp/spark_graft_dst")

# UTC window starts covering each 2024 transition of the converted zones
WINDOWS = [
    dt.datetime(2024, 3, 10, 6, 0),   # America/New_York spring forward (07:00Z)
    dt.datetime(2024, 11, 3, 5, 0),   # America/New_York fall back (06:00Z)
    dt.datetime(2024, 3, 31, 0, 0),   # Europe/Berlin spring forward (01:00Z)
    dt.datetime(2024, 10, 27, 0, 0),  # Europe/Berlin fall back (01:00Z)
]
WINDOW_MINUTES = 120
RATE_PER_WINDOW = 0.005


def inject(table: str, tbl: pa.Table) -> pa.Table:
    if table != "events":
        return tbl
    n = tbl.num_rows
    rng = np.random.default_rng(stable_hash("dst-events") % (2**32))
    pick = rng.random((len(WINDOWS), n))
    vals = tbl.column("ts").combine_chunks().to_pylist()
    for w, base in enumerate(WINDOWS):
        idx = np.flatnonzero(pick[w] < RATE_PER_WINDOW)
        for j, i in enumerate(idx):
            if vals[i] is None:
                continue
            # keep the original second/µs phase inside the minute. NOTE
            # (ADVICE r11 #4): minute slots recycle with period 120, so
            # once a window picks >120 rows — or two picked rows share a
            # second/µs phase — re-timed timestamps CAN collide with each
            # other or with untouched events; ties remain possible and are
            # absorbed by the corpus-wide (ts, event_id) tiebreak contract,
            # not prevented here
            phase = dt.timedelta(
                seconds=vals[i].second, microseconds=vals[i].microsecond
            )
            # stride 37 (coprime with 120): even a handful of picked rows
            # (small source corpora) scatters across the whole window
            # instead of bunching in its first minutes
            vals[i] = (
                base + dt.timedelta(minutes=(int(j) * 37) % WINDOW_MINUTES) + phase
            )
    cols = {c: tbl.column(c) for c in tbl.column_names}
    cols["ts"] = pa.array(vals, type=tbl.schema.field("ts").type)
    return pa.table(cols, schema=tbl.schema)


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(OUT, f"{t}.parquet")
        if t != "events":
            if os.path.isdir(src):
                if not os.path.isdir(dst):
                    shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
            continue
        pq.write_table(inject(t, pq.read_table(src)), dst)
    print(f"DST tier written to {OUT}")


if __name__ == "__main__":
    sys.exit(main())
