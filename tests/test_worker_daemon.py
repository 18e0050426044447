"""The engine's PySpark daemon (ai_dataingestion_spark/worker_daemon.py).

A reused Python worker must not re-read an unchanged zip archive at the start
of each task, must run with its import-time heap frozen, and must start from
any driver working directory. These tests assert those structural facts, not
timings.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from ai_dataingestion_spark import worker_daemon
from ai_dataingestion_spark.session import _PACKAGE_ROOT


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_shim_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wd_probe_a": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wd_probe_a", "wd_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_probe_a").VALUE == 1

    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the first call records the archive's stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"wd_probe_a": "VALUE = 1\n", "wd_probe_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("wd_probe_b").VALUE == 2

    archive.unlink()
    importlib.invalidate_caches()  # a deleted archive must not raise


def test_reused_worker_skips_archive_reads_and_runs_frozen(spark):
    # defined here so that it is pickled by value: workers cannot import tests/
    def _probe(batches):
        """Report, from inside a worker, which daemon forked it, whether the shim
        is installed, the frozen-object count, and how many zip directories the
        start of this task re-read (-1 on a worker's first probe)."""
        import gc
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        counter = getattr(zipimport, "_probe_reads", None)
        if counter is None:
            counter = zipimport._probe_reads = [0]
            real = zipimport._read_directory

            def counting(path):
                counter[0] += 1
                return real(path)

            zipimport._read_directory = counting
            reads = -1
        else:
            reads, counter[0] = counter[0], 0
        daemon = sys.modules["__main__"]
        spec = getattr(daemon, "__spec__", None)
        yield pd.DataFrame({
            "daemon": [spec.name if spec else ""],
            "shim": [zipimport.zipimporter.invalidate_caches is getattr(daemon, "invalidate_caches", None)],
            "frozen": [gc.get_freeze_count()],
            "reads": [reads],
        })

    schema = "daemon string, shim boolean, frozen long, reads long"
    rows = []
    # 64 one-row tasks on at most a few reused workers: many land on a worker
    # that already ran a probe, whose task start is then counted
    for _ in range(3):
        rows += spark.range(0, 64, 1, 64).mapInPandas(_probe, schema).collect()
        if any(r.reads >= 0 for r in rows):
            break
    assert {r.daemon for r in rows} == {"ai_dataingestion_spark.worker_daemon"}
    assert all(r.shim for r in rows)
    assert all(r.frozen > 0 for r in rows)
    counted = [r.reads for r in rows if r.reads >= 0]
    assert counted and set(counted) == {0}


def test_udf_runs_when_the_driver_starts_outside_the_repo(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {_PACKAGE_ROOT!r})
        from ai_dataingestion_spark.session import session_builder

        spark = (session_builder("cwd-probe", master="local[1]", shuffle_partitions=1)
                 .config("spark.ui.enabled", "false").getOrCreate())
        rows = spark.range(3).mapInPandas(lambda it: it, "id long").collect()
        print("ROWS", sorted(r.id for r in rows))
        spark.stop()
    """)
    # the driver finds the engine through sys.path only, so nothing hands the
    # repository to the JVM or its workers except the session's own conf
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != _PACKAGE_ROOT
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS [0, 1, 2]" in out.stdout, out.stderr[-3000:]
