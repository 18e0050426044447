"""Shared parts of the adversarial-tier fixture scripts (scripts/*_fixture.py):
the corpus table list, seeded per-tag row masks, and the skip-if-exists
table writer. The scripts import it from their own directory, so it loads
both when a script runs directly and when a test loads a script by file
path through importlib.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def stable_hash(s: str) -> int:
    """64-bit FNV-1a of ``s``: hash() is salted per process, this is not,
    so reruns inject identical rows."""
    h = 14695981039346656037
    for b in s.encode():
        h = ((h ^ b) * 1099511628211) % (2**64)
    return h


def row_mask(tag: str, n: int, rate: float) -> np.ndarray:
    """Deterministic boolean mask over ``n`` rows, True at about ``rate``,
    seeded by ``tag``."""
    rng = np.random.default_rng(stable_hash(tag) % (2**32))
    return rng.random(n) < rate


def write_tier(
    src: str,
    out: str,
    build: Callable[[str, pa.Table], pa.Table],
    tables: Iterable[str] = TABLES,
    note: Callable[[pa.Table, pa.Table], str] = lambda before, after: "",
) -> None:
    """Write ``build(name, table)`` of every source table to
    ``out/<name>.parquet``, skipping tables already there; ``note(before,
    after)`` is appended to each table's progress line."""
    os.makedirs(out, exist_ok=True)
    for t in tables:
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            print(f"[skip] {t} (exists)")
            continue
        tbl = pq.read_table(os.path.join(src, f"{t}.parquet"))
        built = build(t, tbl)
        pq.write_table(built, dst)
        print(f"[ok] {t}{note(tbl, built)}")
