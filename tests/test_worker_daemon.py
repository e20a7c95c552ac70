"""The engine's worker daemon: Python tasks do not re-read zip archives
on the path that did not change (see geo_inference_spark/worker_daemon.py)."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from geo_inference_spark.worker_daemon import patch_zipimport

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's zipimporter re-reads lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    """A zip on sys.path stands in for pyspark.zip or a --py-files
    engine zip: invalidate_caches() keeps an unchanged archive's
    directory object and reads nothing; after a rewrite it re-reads
    and the new module imports."""
    archive = str(tmp_path / "engine.zip")
    _write_zip(archive, {"zdaemon_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zdaemon_a").X == 1
    # restored at teardown, like every other attribute set below
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    patch_zipimport()
    importlib.invalidate_caches()  # stamps the archive

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    before = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert zipimport._zip_directory_cache[archive] is before

    _write_zip(archive, {"zdaemon_a": "X = 2\n", "zdaemon_b": "Y = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert zipimport._zip_directory_cache[archive] is not before
    assert importlib.import_module("zdaemon_b").Y == 3


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """Consecutive tasks of one job in one reused Python worker see the
    same directory object of pyspark.zip and read no zip directory.
    The stock daemon re-reads it (and every other zip) per task: that
    read was ~180 ms of each MapInPandas task's pythonInitTime."""

    def probe(batches):
        import os
        import zipimport

        for _ in batches:
            pass
        counted = zipimport._read_directory
        if not hasattr(counted, "calls"):  # this worker's first task
            def counted(path, _read=counted):
                counted.calls += 1
                return _read(path)

            counted.calls = 0
            zipimport._read_directory = counted
        path = next(p for p in zipimport._zip_directory_cache
                    if p.endswith("pyspark.zip"))
        yield pd.DataFrame({
            "pid": [os.getpid()], "reads": [counted.calls],
            "dir_id": [id(zipimport._zip_directory_cache[path])],
        })

    # 16 one-row tasks on 4 slots: reused workers run several each
    tasks = spark.range(0, 16, 1, 16).mapInPandas(
        probe, "pid long, reads long, dir_id long"
    ).toPandas()
    per_worker = tasks.groupby("pid").agg(
        n=("pid", "size"), reads=("reads", "max"), dirs=("dir_id", "nunique")
    )
    assert (per_worker["n"] >= 2).any(), per_worker
    assert (per_worker["reads"] == 0).all(), per_worker
    assert (per_worker["dirs"] == 1).all(), per_worker


def test_workers_import_the_daemon_from_any_cwd(spark, tmp_path):
    """The daemon module is imported before any task can ship the
    engine, so the workers' own PYTHONPATH must hold it, whatever the
    driver's cwd or sys.path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = spark.sparkContext.environment["PYTHONPATH"]
    subprocess.run(
        [sys.executable, "-c", "import geo_inference_spark.worker_daemon"],
        cwd=tmp_path, env=env, check=True,
    )
