"""Build a UNICODE-adversarial corpus tier at /tmp/spark_graft_unicode.

The driver corpus is pure printable ASCII, so every codepoint-level
behavior of the text surface is unexercised: JVM vs utf8proc case
mapping (Turkish I, German sharp-s), codepoint-vs-byte length and
position semantics, combining diacritics (NFC vs NFD), bidi text,
surrogate-pair emoji, full-width digits, and zero-width characters —
the daily diet of a web-scale text pipeline. This fixture derives from
sf0.01 and splices deterministic unicode fragments into a slice of the
text-bearing columns; DuckDB reads the SAME parquet, so a
driver_sim --sf-dir sweep is full value parity under unicode.

Injection contract:
- documents.text: ~10% of docs get a fragment APPENDED (token-appended,
  so tokenization still sees ASCII words plus unicode tokens) and ~4%
  get a fragment EMBEDDED mid-text.
- customer.c_name / part.p_name / supplier.s_name: ~3% get an accented
  suffix (name-matching and levenshtein paths).
- events.props: ~5% carry unicode inside the JSON string values.
- Keys, numerics, dates, categorical enums stay ASCII: the tier tests
  codepoint semantics, not enum-domain drift.

Usage: python scripts/unicode_fixture.py  (idempotent; rm -rf to rebuild)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_common import row_mask, stable_hash, write_tier  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_UNICODE_SRC", "/root/testdata/sf0.01")
OUT = os.environ.get("SPARK_GRAFT_UNICODE_DIR", "/tmp/spark_graft_unicode")

# Deterministic fragment pool — one per adversarial class.
FRAGMENTS = [
    "数据处理引擎",                 # CJK (3-byte UTF-8, no spaces)
    "🚀🧪💡",                      # emoji (surrogate pairs / 4-byte)
    "بيانات ضخمة",                 # Arabic RTL with space
    "café noël",         # precomposed accents (NFC)
    "café noël",       # combining accents (NFD) — same glyphs
    "straße STRASSE",         # sharp-s casefold trap
    "İstanbul ıssuz",    # Turkish dotted/dotless I
    "ＦＵＬＬｗｉｄｔｈ１２３",       # full-width latin + digits
    "zero​width‍join",   # ZWSP / ZWJ inside a token
    "Ωμέγα ω ΣΙΓΜΑ ς",            # Greek final sigma casing trap
    # SpecialCasing.txt multi-char expansions beyond sharp-s (ADVICE r8):
    # Latin/Armenian ligatures, ŉ, ǰ, ев-yiwn, combining-mark Latins,
    # Greek iota-subscript composite — Java upper() grows these, utf8proc
    # maps 1:1, so the case-stable-domain gate must catch them.
    "ﬁﬂﬀﬆ ŉǰ և ﬓﬔ ẖẗ ᾷᾼ",
]


def _frag(tag: str, i: int) -> str:
    return FRAGMENTS[(stable_hash(f"{tag}:{i}")) % len(FRAGMENTS)]


def inject(table: str, tbl: pa.Table) -> pa.Table:
    n = tbl.num_rows
    cols = {name: tbl.column(name).combine_chunks() for name in tbl.column_names}

    def splice(col: str, rate_append: float, rate_embed: float = 0.0):
        vals = cols[col].to_pylist()
        m_app = row_mask(f"{table}.{col}#app", n, rate_append)
        m_emb = row_mask(f"{table}.{col}#emb", n, rate_embed) & ~m_app
        for i in np.flatnonzero(m_app):
            if vals[i] is not None:
                vals[i] = f"{vals[i]} {_frag(col, int(i))}"
        for i in np.flatnonzero(m_emb):
            v = vals[i]
            if v:
                mid = len(v) // 2
                vals[i] = f"{v[:mid]} {_frag(col + '#e', int(i))} {v[mid:]}"
        cols[col] = pa.array(vals, type=pa.string())

    if table == "documents":
        splice("text", 0.10, 0.04)
    elif table == "customer":
        splice("c_name", 0.03)
    elif table == "supplier":
        splice("s_name", 0.03)
    elif table == "part":
        splice("p_name", 0.03)
    elif table == "events":
        # unicode INSIDE JSON string values: parse-safe, value-adversarial
        vals = cols["props"].to_pylist()
        m = row_mask("events.props", n, 0.05)
        for i in np.flatnonzero(m):
            v = vals[i]
            if v and v.endswith("}") and '"' in v:
                vals[i] = v[:-1] + f', "u": "{_frag("props", int(i))}"' + "}"
        cols["props"] = pa.array(vals, type=pa.string())
    return pa.table(cols)


def main() -> None:
    write_tier(SRC, OUT, inject, note=lambda _, out: f": {out.num_rows} rows")


if __name__ == "__main__":
    sys.exit(main())
