"""Per-worker process tuning: allocator thresholds and zip importers.

Allocator tuning for hosts where first-touch page faults are expensive.

In this environment, first-touch page faults on fresh mmap'd memory run at
~25 MB/s while warmed pages run at GB/s. glibc hands every large numpy temp
a fresh mmap (cold pages) and unmaps it on free. Raising the mmap/trim
thresholds keeps big allocations on the heap, so freed pages are reused warm.
Executed at `import tokenc`, which also covers Spark's Python UDF workers.

Equivalent env vars (used by bench scripts for full coverage before the
interpreter's first malloc): MALLOC_MMAP_THRESHOLD_ / MALLOC_TRIM_THRESHOLD_.

Zip importers: pyspark's worker calls `importlib.invalidate_caches()` at the
start of every task (`worker_util.setup_spark_files`), and each
`zipimport.zipimporter` cached in `sys.path_importer_cache` then re-reads
its archive's central directory in pure Python. A reused worker holds 16 of
them (pyspark.zip and 11 of its package dirs, the py4j zip and its `py4j`
dir, the spark-core jar and its `/org` dir): a median of 128 ms of CPU per
task (103-193 ms in reused `local[4]` workers, 4 vCPUs).
`worker_batches` drops them at the end of every tokenc task, so the next
task's invalidation on the same worker finds none to re-read.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import sys
import zipimport
from collections.abc import Iterator

_M_MMAP_THRESHOLD = -3
_M_TRIM_THRESHOLD = -1


def apply_malloc_tuning() -> bool:
    try:
        libc = ctypes.CDLL(ctypes.util.find_library("c") or "libc.so.6", use_errno=True)
        ok1 = libc.mallopt(_M_MMAP_THRESHOLD, 0x7FFFFFFF)
        ok2 = libc.mallopt(_M_TRIM_THRESHOLD, 0x7FFFFFFF)
        return bool(ok1 and ok2)
    except Exception:
        return False


def drop_zip_importers() -> None:
    """Delete every zipimporter from `sys.path_importer_cache`. Safe:
    `PathFinder` rebuilds a dropped entry from `sys.path_hooks` on the next
    import that reaches its path, and the rebuild reads the directory from
    `zipimport._zip_directory_cache`, not from the archive."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def worker_batches(batches: Iterator) -> Iterator:
    """A Python task's input batches, with the zip importers dropped when
    the input ends: exhausted, closed early by Spark, or the task raising.
    The task bodies consume their input lazily, so that is the task's end;
    not its start, because the task's own first-time imports walk
    `sys.path` and rebuild them."""
    try:
        yield from batches
    finally:
        drop_zip_importers()
