"""Per-task worker cost (tokenc/_mem.py): every tokenc Python task drops the
zip importers pyspark's worker would otherwise re-read at the start of the
next task on the same reused worker."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from tokenc._mem import drop_zip_importers, worker_batches
from tokenc.files import _unit_tasks


def _zip_importers() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding two modules, first on sys.path; yields their names."""
    names = ("tokenc_zip_mod_a", "tokenc_zip_mod_b")
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(f"{n}.py", f"NAME = {n!r}\n")
    sys.path.insert(0, path)
    try:
        yield names
    finally:
        sys.path.remove(path)
        for n in names:
            sys.modules.pop(n, None)
        sys.path_importer_cache.pop(path, None)


def test_drop_then_import_rebuilds(zip_on_path):
    a, b = zip_on_path
    assert __import__(a).NAME == a
    assert _zip_importers()
    drop_zip_importers()
    assert _zip_importers() == []
    # PathFinder rebuilds the dropped importer from sys.path_hooks
    assert __import__(b).NAME == b
    assert _zip_importers()


def test_task_drops_at_end_and_on_raise(zip_on_path):
    a, b = zip_on_path

    def task(batches, fail):
        for x in worker_batches(batches):
            __import__(a if x == 0 else b)  # rebuilds the zip importer
            assert _zip_importers()  # still held while the task runs
            if fail:
                raise RuntimeError("task failed")
            yield x

    assert list(task(iter([0, 1]), fail=False)) == [0, 1]
    assert _zip_importers() == []
    sys.modules.pop(a)
    with pytest.raises(RuntimeError, match="task failed"):
        list(task(iter([0]), fail=True))
    assert _zip_importers() == []
    # closed early, as Spark closes a task's output iterator
    sys.modules.pop(a)
    it = task(iter([0, 1]), fail=False)
    assert next(it) == 0
    it.close()
    assert _zip_importers() == []


def test_reused_worker_holds_no_zip_importer(spark):
    """_unit_tasks jobs back to back: a task on a worker whose previous task
    was one of them finds no zip importer for pyspark's invalidate_caches()
    to re-read (16 when nothing drops them). Spark hands idle workers out
    first-in first-out, so the jobs repeat until some worker has run three
    of them: a worker's first task here may follow another test's task,
    and on a fresh worker the first `from_pylist` below, after the input
    ends, imports pandas, which rebuilds the 3 sys.path zip importers."""
    units = list(range(8))
    held: dict[int, list[int]] = {}

    def job():
        tasks, task_units = _unit_tasks(spark, units)

        def fn(batches):
            import os

            import pyarrow as pa
            n_zip = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
            n = sum(1 for _ in task_units(batches))
            yield pa.RecordBatch.from_pylist(
                [{"pid": os.getpid(), "held": n_zip, "n": n}])

        rows = tasks.mapInArrow(fn, "pid long, held long, n long").collect()
        assert sum(r["n"] for r in rows) == len(units)
        for r in rows:
            held.setdefault(r["pid"], []).append(r["held"])

    for _ in range(32):
        job()
        if max(map(len, held.values())) >= 3:
            break
    reused = [h[2:] for h in held.values() if len(h) >= 3]
    assert reused, f"no worker ran three of the jobs: {held}"
    assert all(c == 0 for h in reused for c in h), held
