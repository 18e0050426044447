"""Build a NaN/Inf corpus tier at /tmp/spark_graft_nan (round 9).

The extremes tier (round 8) deliberately excluded NaN and +/-Inf; this tier
injects them where production AI pipelines actually grow them — METRIC
streams and EMBEDDING vectors — and nowhere else:

- events.value: ~1% NaN, ~0.5% +Inf, ~0.5% -Inf (a metrics pipeline's
  divide-by-zero rates, overflowed counters, corrupt agent payloads).
- embeddings.embedding: ~1% of vectors get one NaN component, ~0.5% get one
  +Inf component (fp16 training overflow, bad normalization upstream —
  the single most common real-world embedding-corpus defect), ~0.5% get
  one NULL component, and ~0.5% are all-zero (a failed encoder call padded
  with zeros: finite, but with no direction, so every cosine and unit
  vector of it is NULL on both engines).

Money/quantity columns stay finite ON PURPOSE: Spark 4 runs ANSI mode, so
CAST(NaN AS DECIMAL) — the r8 DECIMAL(38) money spine — is a runtime error,
and a ledger schema carrying NaN prices is not a corpus any engine should
accept silently; quality_constraints/quality_profile are the defense there,
not per-operator NaN contracts.

Cross-engine semantics this tier puts on trial (SURVEY §5.4 addendum):
- Spark SQL orders NaN GREATEST and groups NaN==NaN; DuckDB sorts NaN
  greatest too but aggregate kernels differ (e.g. min/max/quantile NaN
  handling).
- sum/avg propagate NaN in both engines; Inf + -Inf = NaN in both.
- stddev/var/corr over any Inf produce NaN in both engines — but only if
  neither engine's kernel short-circuits differently.
- Arrow float32 NaN crosses to pandas as NaN (not None) on the Spark side;
  DuckDB FLOAT[] list extraction must agree.

Usage: python scripts/nan_fixture.py  (idempotent; rm -rf to rebuild)
Sweep: python scripts/driver_sim.py --sf-dir /tmp/spark_graft_nan
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import row_mask, write_tier  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_NAN_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_NAN_DIR", "/tmp/spark_graft_nan")


def inject(table: str, tbl: pa.Table) -> pa.Table:
    n = tbl.num_rows
    cols = {c: tbl.column(c).combine_chunks() for c in tbl.column_names}

    if table == "events":
        vals = cols["value"].to_pylist()
        m_nan = row_mask("events.value#nan", n, 0.01)
        m_pinf = row_mask("events.value#pinf", n, 0.005) & ~m_nan
        m_ninf = row_mask("events.value#ninf", n, 0.005) & ~m_nan & ~m_pinf
        for i in np.flatnonzero(m_nan):
            if vals[i] is not None:
                vals[i] = math.nan
        for i in np.flatnonzero(m_pinf):
            if vals[i] is not None:
                vals[i] = math.inf
        for i in np.flatnonzero(m_ninf):
            if vals[i] is not None:
                vals[i] = -math.inf
        cols["value"] = pa.array(vals, type=tbl.schema.field("value").type)
    elif table == "embeddings":
        vecs = cols["embedding"].to_pylist()
        m_nan = row_mask("embeddings.vec#nan", n, 0.01)
        m_inf = row_mask("embeddings.vec#inf", n, 0.005) & ~m_nan
        # NULL components (ADVICE r9): a vector like [1.0, NULL, 2.0] is the
        # exact shape where Spark's exists() 3VL and DuckDB's list_filter
        # NULL-dropping diverge — inject it so the finite_vec/VEC_FINITE_SQL
        # twins are exercised, not just whole-vector NULLs (null tier).
        m_null = row_mask("embeddings.vec#nullcomp", n, 0.005) & ~m_nan & ~m_inf
        m_zero = row_mask("embeddings.vec#zero", n, 0.005) & ~m_nan & ~m_inf & ~m_null
        for i in np.flatnonzero(m_nan):
            v = vecs[i]
            if v:
                v[int(i) % len(v)] = math.nan
        for i in np.flatnonzero(m_inf):
            v = vecs[i]
            if v:
                v[int(i) % len(v)] = math.inf
        for i in np.flatnonzero(m_null):
            v = vecs[i]
            if v:
                v[int(i) % len(v)] = None
        for i in np.flatnonzero(m_zero):
            if vecs[i]:
                vecs[i] = [0.0] * len(vecs[i])
        cols["embedding"] = pa.array(
            vecs, type=tbl.schema.field("embedding").type
        )
    return pa.table(cols)


def main() -> None:
    write_tier(SRC, OUT, inject)


if __name__ == "__main__":
    sys.exit(main())
