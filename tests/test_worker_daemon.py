"""The pre-importing worker daemon (gpq_tiles_spark/worker_daemon.py):
lazy zip-import revalidation, frozen preload heap, visible preload
failures, and proof that session workers actually run under it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_with_daemon_imported(body: str) -> subprocess.CompletedProcess:
    """Run ``body`` in a fresh interpreter after importing the daemon
    module (which runs its preload and patches, but not ``manager()``)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    code = "import gpq_tiles_spark.worker_daemon as wd\n" + textwrap.dedent(body)
    return subprocess.run([sys.executable, "-c", code], env=env,
                          capture_output=True, text=True, timeout=300)


def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    proc = _run_with_daemon_imported(f"""
        import importlib, json, sys, zipfile, zipimport

        zpath = {zpath!r}
        with zipfile.ZipFile(zpath, "w") as zf:
            zf.writestr("mod_a.py", "A = 1\\n")
        sys.path.insert(0, zpath)
        import mod_a

        reads = []
        stock = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        for _ in range(20):
            importlib.invalidate_caches()
        idle_reads = len(reads)

        with zipfile.ZipFile(zpath, "w") as zf:
            zf.writestr("mod_a.py", "A = 1\\n")
            zf.writestr("mod_b.py", "B = 2\\n")
        importlib.invalidate_caches()
        import mod_b
        print(json.dumps({{"idle_reads": idle_reads, "a": mod_a.A,
                          "b": mod_b.B}}))
    """)
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    if sys.version_info < (3, 12):
        assert out["idle_reads"] == 0
    assert (out["a"], out["b"]) == (1, 2)


def test_preload_reports_failures_and_never_raises():
    proc = _run_with_daemon_imported("""
        import json
        failed = wd._preload(["numpy", "gpq_tiles_spark_no_such_module"])
        print(json.dumps(failed))
    """)
    assert proc.returncode == 0, proc.stderr
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [
        "gpq_tiles_spark_no_such_module"]
    lines = [ln for ln in proc.stderr.splitlines() if "preload of" in ln]
    assert len(lines) == 1 and "gpq_tiles_spark_no_such_module" in lines[0]


def test_daemon_preload_has_no_failures():
    proc = _run_with_daemon_imported("""
        print(wd._preload(wd.PRELOAD))
    """)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip().splitlines()[-1] == "[]"


@pytest.mark.skipif(bool(os.environ.get("SPARK_GRAFT_NO_DAEMON_PRELOAD")),
                    reason="stock daemon selected")
def test_session_workers_run_under_the_daemon(spark):
    import pandas as pd

    def probe(batches):
        import gc
        import zipimport

        for _ in batches:
            pass
        inv = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({
            "frozen": [gc.get_freeze_count()],
            "lazy_zip": [inv.__name__ == "_lazy_invalidate_caches"],
        })

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, schema="frozen long, lazy_zip boolean")
           .collect()[0])
    assert row["frozen"] > 0
    if sys.version_info < (3, 12):
        assert row["lazy_zip"]
