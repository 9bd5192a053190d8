"""skewer_spark.worker_daemon: the stat-guarded zipimporter cache that
the Python worker daemon installs (see skewer_spark/session.py)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from skewer_spark import worker_daemon


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.invalidate_if_changed,
    )
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    _write_zip(archive, {"zd_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zd_first").X == 1
        importlib.invalidate_caches()  # the first guarded call stamps
        n = reads.count(archive)
        assert n >= 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == n  # unchanged: not re-read

        _write_zip(archive, {"zd_first": "X = 1\n", "zd_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1  # changed: re-read once
        assert importlib.import_module("zd_second").Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
    finally:
        for name in ("zd_first", "zd_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_spark_workers_run_the_guarded_invalidate(spark):
    # the session's Python workers fork from skewer_spark.worker_daemon,
    # so a task's importlib.invalidate_caches() is the guarded one and
    # costs a few stat calls, not a re-parse of pyspark.zip and the
    # spark-core jar (about 224 ms of CPU per task unguarded)
    def probe(batches):
        import importlib
        import time
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        ms = []
        for _ in range(5):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            ms.append((time.perf_counter() - t0) * 1000)
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pylist(
            [{"fn": f"{fn.__code__.co_filename}:{fn.__name__}", "ms": min(ms)}]
        )

    rows = spark.range(2, numPartitions=2).mapInArrow(
        probe, "fn string, ms double"
    ).collect()
    want = os.path.join("skewer_spark", "worker_daemon.py") + ":invalidate_if_changed"
    assert len(rows) == 2
    for r in rows:
        assert r.fn.endswith(want), r.fn
        assert r.ms < 5, r.ms
