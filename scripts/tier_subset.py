"""Sweep a SUBSET of operator IDs through every adversarial tier.

The per-round workflow for a new surface block: register the ops, then run
them through all 13 tiers BEFORE they enter the driver window —
tier_certify.py sweeps the full registry per tier (~80 min), which is the
round-close gate, while this harness sweeps just the named IDs (~10 min
for a 13-op block) so new-code defects surface while the code is still
fresh (round 12: caught udtf_table_partition_stats' first-event NULL
conflation on the nulls tier within minutes of writing it).

Reuses tier_certify's tier table, corpus builder (corpora are built once
and reused via the keep semantics) and sweep(): each tier runs driver_sim
in a fresh subprocess with the ID list, and a failing tier's full output
is kept in /tmp/tier_subset_fail_<tier>.log.

Usage: python scripts/tier_subset.py id1 [id2 ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tier_certify as tc  # noqa: E402


def main() -> int:
    ids = sys.argv[1:]
    if not ids:
        print("usage: tier_subset.py id1 [id2 ...]")
        return 2
    fail = False
    for tier, (steps, sf_dir) in tc.TIERS.items():
        tc.build_corpus(steps, keep=True)
        dump = f"/tmp/tier_subset_fail_{tier}.log"
        line, ok = tc.sweep(sf_dir, ids, dump=dump)
        print(f"{tier:10s} {line}", flush=True)
        if not ok:
            fail = True
            print(f"{'':10s} full output -> {dump}", flush=True)
    print("TIER SUBSET:", "FAIL" if fail else "PASS")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
