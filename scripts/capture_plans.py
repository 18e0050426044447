"""Capture .explain("formatted") for bench queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> [query ...]
  tag     subdirectory under plans/ and filename suffix, e.g. "r16/before"
          writes plans/r16/<query>_before.txt
  query   subset of query ids (default: bench HEADLINE + NEW_BLOCKS)

Runs under the same session shape as bench.py (warm tables, AQE off at
sf<1, shuffle partitions min(16, cpus)) so the captured plan is the plan
the bench actually times. Expression IDs (`#123`) and `plan_id=123` are
stripped before writing, so `diff -r` between two captures shows only
real plan changes.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
_RUN_IDS = re.compile(r"(#|plan_id=)\d+")


def main() -> int:
    if len(sys.argv) < 2 or "/" not in sys.argv[1]:
        print("usage: capture_plans.py <round>/<suffix> [query ...]")
        return 2
    rdir, suffix = sys.argv[1].split("/", 1)
    ids = sys.argv[2:]

    import bench
    from ai_dataingestion_spark.catalog import queries
    from ai_dataingestion_spark.registry import warm_tables
    from ai_dataingestion_spark.session import get_spark

    if not ids:
        ids = list(bench.HEADLINE) + list(bench.NEW_BLOCKS)

    spark = get_spark(
        "ai_dataingestion_spark-plans",
        master=f"local[{CPUS}]",
        shuffle_partitions=min(16, int(CPUS)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        bench_sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        bench_sf = 1.0
    if bench_sf < 1:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    warm_tables(spark, SF_DIR, n_partitions=min(16, int(CPUS)))

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rdir,
    )
    os.makedirs(out_dir, exist_ok=True)

    qs = queries()
    for qid in ids:
        if qid not in qs:
            print(f"[skip] {qid}: not registered")
            continue
        try:
            import contextlib
            import io

            df = qs[qid](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = _RUN_IDS.sub(r"\1", buf.getvalue())
        except Exception as e:  # capture what we can, keep going
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{qid}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"[ok] {qid} -> {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
