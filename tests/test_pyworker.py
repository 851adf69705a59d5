"""The Python worker's zip-archive guard (gregor_spark/_pyworker.py): a
reused worker does not re-read an unchanged archive's directory on each
task, a changed archive is re-read, and the driver is left alone."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark.core.files import SparkFiles
from pyspark.sql import functions as F

from gregor_spark import _pyworker, assign_cells_df
from gregor_spark.model.zones import ZoneSet

below_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 re-reads archives lazily; no guard"
)


def _unguarded() -> bool:
    return zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def _zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def guarded(monkeypatch, tmp_path):
    """The guard installed in this process as a worker installs it, a
    zip with one module on ``sys.path``, and a list of the archives
    ``zipimport`` reads; all undone after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_pyworker, "_reread", None)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    _pyworker.install()
    assert not _unguarded()
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))
    archive = str(tmp_path / "mods.zip")
    _zip(archive, ["gw_first"])
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("gw_first", "gw_added"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@below_313
def test_unchanged_archive_is_not_reread(guarded):
    archive, reads = guarded
    assert importlib.import_module("gw_first").NAME == "gw_first"
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads


@below_313
def test_changed_archive_is_reread(guarded):
    archive, reads = guarded
    importlib.import_module("gw_first")
    importlib.invalidate_caches()
    size = os.path.getsize(archive)
    _zip(archive, ["gw_first", "gw_added"])
    assert os.path.getsize(archive) != size
    reads.clear()
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("gw_added").NAME == "gw_added"


def test_guard_scope(monkeypatch):
    """Not installed in the driver, even with gregor_spark imported, and
    a no-op on Python 3.13 inside a worker."""
    assert _unguarded()
    _pyworker.install()
    assert _unguarded()
    monkeypatch.setattr(_pyworker, "_reread", None)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    _pyworker.install()
    assert _unguarded() and _pyworker._reread is None


@below_313
def test_worker_tasks_do_not_reread_archives(spark):
    """A gregor Arrow UDF and a probe share each task's worker: once a
    worker has run them, its next task starts with no archive read, and
    the rows do not change.  The probe counts ``zipimport`` reads per
    worker since its previous task; a worker's first probe reports -1."""

    def probe(ids: pa.Array) -> pa.Array:
        import os
        import zipimport

        if not hasattr(zipimport, "_probe_reads"):
            zipimport._probe_reads = []
            read = zipimport._read_directory
            zipimport._read_directory = lambda a: zipimport._probe_reads.append(a) or read(a)
            n = -1
        else:
            n = len(zipimport._probe_reads)
        zipimport._probe_reads.clear()
        guard = zipimport.zipimporter.invalidate_caches.__module__
        return pa.array([f"{os.getpid()} {n} {guard}"] * len(ids))

    zones = ZoneSet.from_bboxes([(0, 0.0, 0.0, 20.0, 4.0), (1, 20.0, 0.0, 40.0, 4.0)])
    facts = spark.range(0, 40, 1, 4).selectExpr("id", "id + 0.5 AS x", "1.0 AS y")
    q = assign_cells_df(facts, zones).withColumn("probe", F.arrow_udf(probe, "string")("id"))
    first = q.collect()
    want = sorted((r.id, r.zone_id) for r in first)
    assert want == [(i, int(i >= 20)) for i in range(40)]
    for _ in range(8):
        rows = q.collect()
        assert sorted((r.id, r.zone_id) for r in rows) == want
        tasks = {r.probe.split()[0]: r.probe.split()[1:] for r in rows}
        assert {g for _n, g in tasks.values()} == {"gregor_spark._pyworker"}
        assert {int(n) for n, _g in tasks.values()} <= {-1, 0}
        if len(tasks) == 4 and all(n == "0" for n, _g in tasks.values()):
            break
    else:
        pytest.fail("no job ran all 4 tasks on workers seen before")
