"""Build a MULTI-FILE-LAYOUT corpus tier at /tmp/spark_graft_layout.

The driver corpus is one single-row-group parquet FILE per table; a real
100 TB lake is a DIRECTORY of many part files per table. The difference
is not cosmetic: round 9's skew audit found that single-file layout makes
every whale partition one atomic map block (silently disabling AQE skew
splitting), and any operator that touches the physical layout — footer
audits, file-count reports, scan task shaping, corpus fingerprints — can
bake in a files==1 assumption the clean corpus never challenges. This
tier rewrites every table as a directory of 4 part files (row-split with
pyarrow, one row group each, same rows in the same global order across
the sorted file names), so a full driver_sim sweep proves the whole
surface is layout-agnostic. DuckDB reads the same directories via
read_parquet('<dir>/*.parquet') — driver_sim already handles both
layouts.

Usage: python scripts/layout_fixture.py  (idempotent; rm -rf to rebuild)
Sweep: python scripts/driver_sim.py --sf-dir /tmp/spark_graft_layout
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import TABLES  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_LAYOUT_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_LAYOUT_DIR", "/tmp/spark_graft_layout")

N_FILES = 4


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(OUT, f"{t}.parquet")
        if os.path.exists(dst):
            print(f"[skip] {t} (exists)")
            continue
        tbl = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        os.makedirs(dst, exist_ok=True)
        n = tbl.num_rows
        step = max(1, -(-n // N_FILES))  # ceil; tiny dims may fill < N files
        for i, lo in enumerate(range(0, max(n, 1), step)):
            part = tbl.slice(lo, step)
            if part.num_rows == 0 and n > 0:
                break
            pq.write_table(
                part, os.path.join(dst, f"part-{i:05d}.parquet")
            )
        print(f"[ok] {t}: {n} rows in {min(N_FILES, max(1, -(-n // step)))} files")


if __name__ == "__main__":
    sys.exit(main())
