"""The worker daemon's per-task savings: the stat-guarded zipimport
invalidation and the frozen warm heap, and the guard in the
DataSource planner workers Spark forks from its stock daemon."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from hbase_bulkload_spark import daemon_preload


def _write_zip(path, members: dict[str, str]) -> None:
    # write aside and rename over, so the archive gets a new inode the
    # way a redeployed file does
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path``; on teardown ``sys.path``, the
    modules imported from it, its importers and the stock
    ``zipimporter.invalidate_caches`` are restored."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(
        archive,
        {
            "guard_probe_m.py": "X = 1\n",
            "guard_probe_pkg/__init__.py": "",
            "guard_probe_pkg/a.py": "A = 1\n",
        },
    )
    # importing the package installed the guard: restore the method it
    # replaced, not the one in place now
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        daemon_preload._stock_invalidate_caches,
    )
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.startswith("guard_probe_")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


@pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily; no guard",
)
def test_guard_rereads_a_zip_only_when_it_changed(zip_on_path, monkeypatch):
    assert daemon_preload.install_zip_invalidation_guard()
    import guard_probe_m  # noqa: F401
    import guard_probe_pkg.a  # noqa: F401  — a second importer over the archive

    importers = [
        v
        for k, v in sys.path_importer_cache.items()
        if k.startswith(zip_on_path) and isinstance(v, zipimport.zipimporter)
    ]
    assert len(importers) == 2

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # first call per importer: read and stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(
        zip_on_path,
        {
            "guard_probe_m.py": "X = 1\n",
            "guard_probe_n.py": "Y = 2\n",
            "guard_probe_pkg/__init__.py": "",
            "guard_probe_pkg/a.py": "A = 1\n",
            "guard_probe_pkg/b.py": "B = 3\n",
        },
    )
    importlib.invalidate_caches()
    # the signature is per importer: each importer of the archive re-reads
    assert reads == [zip_on_path] * 2
    import guard_probe_n
    import guard_probe_pkg.b

    assert (guard_probe_n.Y, guard_probe_pkg.b.B) == (2, 3)


def test_guard_falls_back_to_the_stock_reread_when_stat_fails(
    zip_on_path, monkeypatch
):
    import guard_probe_m  # noqa: F401

    importer = sys.path_importer_cache[zip_on_path]
    calls = []
    monkeypatch.setattr(daemon_preload, "_stock_invalidate_caches", calls.append)
    os.remove(zip_on_path)
    daemon_preload.stat_guarded_invalidate_caches(importer)
    assert calls == [importer]


def test_workers_run_under_the_preload_daemon(spark):
    """From inside a Python worker: the guard is the one installed by
    ``daemon_preload`` and the inherited heap is frozen. Either failing
    means the workers silently run under the stock daemon."""

    def probe(batches):
        import gc
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "guard": [zipimport.zipimporter.invalidate_caches.__module__],
                "frozen": [gc.get_freeze_count()],
            }
        )

    (row,) = (
        spark.range(0, 1, 1, 1)
        .mapInArrow(probe, "guard string, frozen long")
        .collect()
    )
    if sys.version_info < (3, 12):
        assert row.guard == "hbase_bulkload_spark.daemon_preload"
    assert row.frozen > 0


def test_datasource_planner_runs_with_the_guard(spark):
    """The ``format(...)`` planner calls (``schema()``, pushdown and
    ``partitions()``) run in workers of Spark's stock ``pyspark.daemon``,
    which ignores ``spark.python.daemon.module``. Unpickling an engine
    DataSource imports the package, which installs the guard there too.
    A local subclass is pickled by value, so the base class is what
    brings the package in."""
    from hbase_bulkload_spark.sources.hfile_datasource import HFileDataSource

    class GuardProbe(HFileDataSource):
        @classmethod
        def name(cls) -> str:
            return "guard_probe"

        def schema(self) -> str:
            import zipimport

            return f"`{zipimport.zipimporter.invalidate_caches.__module__}` string"

    spark.dataSource.register(GuardProbe)
    columns = spark.read.format("guard_probe").load("unused").columns
    if sys.version_info < (3, 12):
        assert columns == ["hbase_bulkload_spark.daemon_preload"]
