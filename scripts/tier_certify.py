"""One-command adversarial-tier certification (VERDICT r8 item 3).

The five hostile corpus tiers + the chained combined corpus found ~170 real
cross-engine contract defects in round 8 that every clean SF hid. This
script makes the whole certification a single command so it runs at every
round close instead of as a one-round event:

    python scripts/tier_certify.py                # all tiers
    python scripts/tier_certify.py nulls extremes # a subset
    python scripts/tier_certify.py --keep         # reuse existing corpora

Per tier it (re)builds the fixture corpus from the clean sf0.01 parquet
(deleting any stale copy first — fixture scripts are skip-if-exists, and a
stale corpus silently certifies old code against old data), then runs the
FULL `scripts/driver_sim.py --sf-dir <tier>` oracle-parity sweep in a fresh
subprocess (fresh SparkSession per tier: the sweeps mutate session-level
state like the nanos shim, and a shared JVM heap accumulates 6 sweeps of
cache pressure). The combined tier chains nulls -> ties -> unicode via the
fixture scripts' SRC/DIR env vars — the chaining caught an interaction
defect in r8 that no single tier saw.

Prints one summary line per tier plus a final PASS/FAIL verdict; exit 0 iff
every sweep is green. Paste the summary block into SCALE.md at round close.

Runtime expectations (quiet box): most tiers sweep in ~4-6 min. The
EXTREMES tier ran 45-70 min through round 9; round 10 removed its two
walls — the exact-Levenshtein DP on identical 100k-char docs (now a
mirrored 4k length-cap + byte-equality short-circuit contract in
dedup_edit_distance_blocked) and the shingle family's pathological
re-tokenization of giant docs (now op_cache'd once per operator) — so it
runs in the same band as the other tiers, except for the DuckDB oracle
side of the minhash/shingle queries which still pays real minutes on
100k-char documents. Budget ~45 min for the full 12-tier command.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
PY = sys.executable

# tier name -> (fixture steps [(script, env)], sweep dir)
# Each step's env maps the fixture script's SRC/DIR vars; chaining feeds one
# tier's output dir into the next script's SRC.
_T = "/tmp"
TIERS: dict[str, tuple[list[tuple[str, dict[str, str]]], str]] = {
    "clean": ([], "/root/testdata/sf0.01"),
    "nulls": (
        [("null_fixture.py", {"SPARK_GRAFT_NULLS_DIR": f"{_T}/spark_graft_nulls"})],
        f"{_T}/spark_graft_nulls",
    ),
    "unicode": (
        [("unicode_fixture.py", {"SPARK_GRAFT_UNICODE_DIR": f"{_T}/spark_graft_unicode"})],
        f"{_T}/spark_graft_unicode",
    ),
    "ties": (
        [("ties_fixture.py", {"SPARK_GRAFT_TIES_DIR": f"{_T}/spark_graft_ties"})],
        f"{_T}/spark_graft_ties",
    ),
    "extremes": (
        [("extremes_fixture.py", {"SPARK_GRAFT_EXTREMES_DIR": f"{_T}/spark_graft_extremes"})],
        f"{_T}/spark_graft_extremes",
    ),
    "nan": (
        [("nan_fixture.py", {"SPARK_GRAFT_NAN_DIR": f"{_T}/spark_graft_nan"})],
        f"{_T}/spark_graft_nan",
    ),
    "epoch": (
        [("epoch_fixture.py", {"SPARK_GRAFT_EPOCH_DIR": f"{_T}/spark_graft_epoch"})],
        f"{_T}/spark_graft_epoch",
    ),
    "json": (
        [("json_fixture.py", {"SPARK_GRAFT_JSON_DIR": f"{_T}/spark_graft_json"})],
        f"{_T}/spark_graft_json",
    ),
    "layout": (
        [("layout_fixture.py", {"SPARK_GRAFT_LAYOUT_DIR": f"{_T}/spark_graft_layout"})],
        f"{_T}/spark_graft_layout",
    ),
    "drift": (
        [("drift_fixture.py", {"SPARK_GRAFT_DRIFT_DIR": f"{_T}/spark_graft_drift"})],
        f"{_T}/spark_graft_drift",
    ),
    "dst": (
        [("dst_fixture.py", {"SPARK_GRAFT_DST_DIR": f"{_T}/spark_graft_dst"})],
        f"{_T}/spark_graft_dst",
    ),
    "skew": (
        [("skew_fixture.py", {
            "SPARK_GRAFT_SKEW_SRC": "/root/testdata/sf0.01",
            "SPARK_GRAFT_SKEW_DIR": f"{_T}/spark_graft_skew001",
        })],
        f"{_T}/spark_graft_skew001",
    ),
    # nulls -> ties -> unicode chained on one corpus (r8's interaction tier)
    "combined": (
        [
            ("null_fixture.py", {"SPARK_GRAFT_NULLS_DIR": f"{_T}/spark_graft_comb_n"}),
            ("ties_fixture.py", {
                "SPARK_GRAFT_TIES_SRC": f"{_T}/spark_graft_comb_n",
                "SPARK_GRAFT_TIES_DIR": f"{_T}/spark_graft_comb_nt",
            }),
            ("unicode_fixture.py", {
                "SPARK_GRAFT_UNICODE_SRC": f"{_T}/spark_graft_comb_nt",
                "SPARK_GRAFT_UNICODE_DIR": f"{_T}/spark_graft_combined",
            }),
        ],
        f"{_T}/spark_graft_combined",
    ),
}

_SUMMARY_RE = re.compile(r"(\d+) ok, (\d+) rows-only, (\d+) fail, smoke=(\w+)")


def build_corpus(steps: list[tuple[str, dict[str, str]]], keep: bool) -> None:
    for script, env in steps:
        out_dir = next(v for k, v in env.items() if k.endswith("_DIR"))
        if os.path.isdir(out_dir):
            if keep:
                continue
            shutil.rmtree(out_dir)  # fixtures skip-if-exists; stale = lies
        subprocess.run(
            [PY, os.path.join(SCRIPTS, script)],
            env={**os.environ, **env},
            check=True,
            capture_output=True,
            text=True,
        )


def sweep(
    sf_dir: str, ids: list[str] | tuple[str, ...] = (), dump: str | None = None
) -> tuple[str, bool]:
    """Run driver_sim over ``sf_dir`` — every operator, or just ``ids`` —
    in a fresh subprocess; return (summary line, passed). On failure the
    FULL driver_sim output is written to ``dump`` when one is given: the
    one-line summary drops the spark-vs-oracle row diff, which twice left
    an intermittent mismatch undiagnosable after the fact."""
    proc = subprocess.run(
        [PY, os.path.join(SCRIPTS, "driver_sim.py"), "--sf-dir", sf_dir, *ids],
        capture_output=True,
        text=True,
    )
    ok = proc.returncode == 0
    if dump and not ok:
        with open(dump, "w") as fh:
            fh.write(f"{proc.stdout}\n--- stderr ---\n{proc.stderr or ''}")
    tail = proc.stdout.strip().splitlines()
    m = _SUMMARY_RE.search(tail[-1]) if tail else None
    if m is None:
        err = (proc.stderr or proc.stdout).strip().splitlines()[-8:]
        return f"NO SUMMARY (exit {proc.returncode}): " + " | ".join(err), False
    fails = [ln for ln in tail if ln.startswith(("[FAIL]", "[ ERR"))]
    line = m.group(0)
    if fails:
        line += "  FIRST FAILURES: " + "; ".join(fails[:5])
    return line, ok


def main() -> int:
    ap = argparse.ArgumentParser()
    # no argparse `choices`: this Python's argparse validates the empty
    # nargs="*" default against them and rejects a bare invocation
    ap.add_argument("tiers", nargs="*", metavar="tier",
                    help=f"subset of {list(TIERS)} (default all)")
    ap.add_argument("--keep", action="store_true",
                    help="reuse existing tier corpora instead of rebuilding")
    args = ap.parse_args()
    unknown = [t for t in args.tiers if t not in TIERS]
    if unknown:
        ap.error(f"unknown tier(s) {unknown}; choose from {list(TIERS)}")
    if not args.tiers:
        args.tiers = list(TIERS)

    results: dict[str, tuple[str, bool]] = {}
    for name in args.tiers:
        steps, sf_dir = TIERS[name]
        t0 = time.time()
        print(f"=== tier {name}: building corpus ...", flush=True)
        build_corpus(steps, args.keep)
        print(f"=== tier {name}: sweeping {sf_dir} ...", flush=True)
        line, ok = sweep(sf_dir)
        results[name] = (f"{line}  [{time.time() - t0:.0f}s]", ok)
        print(f"=== tier {name}: {results[name][0]}", flush=True)

    print("\n--- tier certification summary ---")
    all_ok = True
    for name, (line, ok) in results.items():
        print(f"{'PASS' if ok else 'FAIL'}  {name:9s} {line}")
        all_ok &= ok
    print(f"\nTIER CERTIFICATION: {'GREEN' if all_ok else 'RED'}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
