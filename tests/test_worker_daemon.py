"""The engine's Python worker daemon (a5pg_spark/worker_daemon.py): its
``zipimporter.invalidate_caches`` re-reads an archive only when the archive
changed, every ``get_spark`` worker runs it, and it starts from any cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_DAEMON = "a5pg_spark.worker_daemon" if sys.version_info < (3, 12) else "zipimport"


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12 invalidates zip directories lazily; "
                           "the daemon installs nothing there")
def test_zip_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    from a5pg_spark import worker_daemon as W

    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a5_zipped_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", W.invalidate_caches)
    monkeypatch.setattr(W, "_read_at", {})
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        assert importlib.import_module("a5_zipped_a").X == 1
        importlib.invalidate_caches()  # the first call reads and records the stat
        n = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == n

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("a5_zipped_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads[n:] == [archive]
        assert importlib.import_module("a5_zipped_b").Y == 2
    finally:
        for name in ("a5_zipped_a", "a5_zipped_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_get_spark_workers_run_the_engine_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(0, 8, numPartitions=2).mapInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {ENGINE_DAEMON}


def test_daemon_starts_from_a_cwd_outside_the_repo(tmp_path):
    """The daemon module is imported by ``python -m`` in the worker; only
    ``get_spark``'s PYTHONPATH entry makes it importable from here."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from a5pg_spark.session import get_spark

        spark = get_spark(master="local[1]", app_name="a5pg_spark_cwd_test")
        try:
            @pandas_udf("string")
            def daemon_of(x: pd.Series) -> pd.Series:
                import zipimport
                return x.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

            print("DAEMON", {{r.m for r in spark.range(3).select(daemon_of("id").alias("m")).collect()}})
        finally:
            spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    run = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert f"DAEMON {{{ENGINE_DAEMON!r}}}" in run.stdout
