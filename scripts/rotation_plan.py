"""Compute the driver-window rotation plan and audit its bookkeeping.

Usage:
    python scripts/rotation_plan.py           # report + consistency audit
    python scripts/rotation_plan.py --write   # regenerate recert_order.json

The driver hash-checks only the first 50 entries of queries() per round, in
the order catalog.all_specs() computes (rank table in catalog.py). A driver
row is green when rows, schema and hash match with no error, or when it is a
rows-only ``no_oracle`` row that recorded a row count.

--write folds the repo-root CORRECTNESS_r*.json files into
ai_dataingestion_spark/recert_order.json: every ID's latest green round and,
for each ID whose latest green round advanced, the fingerprint of its current
code; other IDs keep the fingerprint already recorded. Run it right after a
driver round's CORRECTNESS file is committed, before the code changes again.

The default mode prints the backlog (IDs with no green row) and the next
50-ID window, and exits 1 if the packaged table disagrees with the
CORRECTNESS files or a prose operator count disagrees with the registry.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def is_green(row: dict) -> bool:
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None and row["spark_rows"] >= 0
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") is not False
        and row.get("err") is None
    )


def latest_green_round() -> dict[str, int]:
    """ID -> the highest round number whose CORRECTNESS file has it green."""
    latest: dict[str, int] = {}
    for path in REPO.glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"r(\d+)", path.name).group(1))
        for qid, row in json.loads(path.read_text()).items():
            if is_green(row):
                latest[qid] = max(latest.get(qid, 0), rnd)
    return latest


def write_recert_table() -> dict[str, int]:
    from ai_dataingestion_spark.catalog import (
        _RECERT_PATH,
        _recert_table,
        all_specs,
        fingerprint,
    )

    specs = all_specs()
    old_latest, certified = _recert_table()
    latest = latest_green_round()
    for qid, rnd in latest.items():
        if qid in specs and rnd > old_latest.get(qid, 0):
            certified[qid] = fingerprint(specs[qid])
    table = {
        "_comment": "Generated by scripts/rotation_plan.py --write.",
        "latest_green_round": dict(sorted(latest.items())),
        "certified_fingerprint": dict(sorted(certified.items())),
    }
    _RECERT_PATH.write_text(json.dumps(table, indent=1) + "\n")
    return latest


def main(argv: list[str]) -> int:
    if "--write" in argv:
        latest = write_recert_table()
        print(f"wrote recert_order.json ({len(latest)} IDs)")
        return 0

    from ai_dataingestion_spark.catalog import _recert_table, _rotation_rank, all_specs

    specs = all_specs()
    names = list(specs)
    latest = latest_green_round()
    packaged_latest, certified = _recert_table()
    changed = {
        n for n in names
        if _rotation_rank(specs[n], packaged_latest, certified) == 1
    }
    pending = [n for n in names if n not in latest]
    window = names[:50]

    print(f"registered operators : {len(names)}")
    print(f"attested green (files): {len(set(latest) & set(names))}")
    print(f"pending backlog      : {len(pending)}  (~{-(-len(pending) // 50)} window(s) at 50/round)")
    print(f"code changed since green: {len(changed)}")
    print("\nnext driver window (first 50 of queries()):")
    for i, n in enumerate(window):
        if n not in latest:
            tag = "pending"
        elif n in changed:
            tag = f"re-check(code changed since green r{latest[n]})"
        else:
            tag = f"re-certify(last green r{latest[n]})"
        print(f"  {i + 1:2d}. {n}  [{tag}]")
    tail = [n for n in pending if n not in window]
    if tail:
        print(f"\npending after this window ({len(tail)} IDs):")
        for n in tail:
            print(f"  - {n}")

    problems = []
    # Every prose operator count must equal the live registry: README's
    # "**N registered operators**" headline, tests/test_oracle_parity.py's
    # TOTAL_OPERATORS, and the last "→ N registered" line in SURVEY.md §7.2.
    n = len(names)
    readme = (REPO / "README.md").read_text()
    m = re.search(r"\*\*(\d+) registered operators\*\*", readme)
    if not m or int(m.group(1)) != n:
        problems.append(
            f"LEDGER: README.md headline says {m.group(1) if m else '??'} "
            f"operators, registry has {n}"
        )
    parity = (REPO / "tests" / "test_oracle_parity.py").read_text()
    m = re.search(r"TOTAL_OPERATORS = (\d+)", parity)
    if not m or int(m.group(1)) != n:
        problems.append(
            f"LEDGER: TOTAL_OPERATORS = {m.group(1) if m else '??'} "
            f"(test_oracle_parity.py), registry has {n}"
        )
    survey = (REPO / "SURVEY.md").read_text()
    arrows = re.findall(r"\d+ → (\d+) registered", survey)
    if not arrows or int(arrows[-1]) != n:
        problems.append(
            f"LEDGER: SURVEY.md's last round-outcome line says "
            f"→ {arrows[-1] if arrows else '??'} registered, registry has {n}"
        )
    # The packaged table must match the CORRECTNESS files, else the window
    # re-certifies the wrong IDs. (Only IDs in the registry matter.)
    for qid in sorted(set(latest) & set(specs)):
        if packaged_latest.get(qid) != latest[qid]:
            problems.append(
                f"STALE-TABLE: {qid} recert_order.json says "
                f"r{packaged_latest.get(qid)} but files say r{latest[qid]} "
                "(run: python scripts/rotation_plan.py --write)"
            )
    if problems:
        print("\nBOOKKEEPING DISAGREEMENTS:")
        for p in problems:
            print(f"  {p}")
        return 1
    print("\nbookkeeping consistent: recert_order.json == CORRECTNESS greens,"
          " prose counts == registry")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
