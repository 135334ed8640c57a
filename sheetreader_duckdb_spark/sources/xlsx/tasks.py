"""What a Spark Python task pays before the reader runs, and how much of
it this package can remove.

Every Python task and every driver-side planning call (schema, partition
planning, filter pushdown) starts with the worker's ``setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython releases where
``zipimport.zipimporter.invalidate_caches`` is eager, that re-reads the
central directory of every zip on the worker's path, once per cached
importer: 12 importers over ``pyspark.zip`` (1,328 entries), 2 over the
py4j zip, 2 over the spark-core jar (5,359 entries) and 4 over this
package's shipped zip, 0.21-0.24 s of CPU per call on a 4-core box, against
about 0.05-0.07 s to parse a 2,500-row workbook.

``stat_checked_zip_invalidation`` makes that re-read happen only when an
archive changed on disk. A reused worker still pays it in its first task
(before the install) and its second (to record each archive's key), and
after that only when an archive changes.
Packing still pays: ``pack_contiguous`` groups consecutive small files into
at most ``width`` tasks, which saves per-task scheduling, serialization and
the Python worker hop.
"""

from __future__ import annotations

import os
import sys
import zipimport


def pack_contiguous(items: list, sizes: list[int], width: int | None) -> list[list]:
    """Split ``items`` (with their byte ``sizes``) into at most ``width``
    contiguous, byte-balanced groups, keeping input order and never
    splitting an item. ``width`` None (unknown cluster width) keeps one
    group per item.

    Each item goes to the group its byte midpoint falls in when the total
    is cut into ``width`` equal spans, so groups hold about
    ``total / width`` bytes each and an item larger than a span takes a
    group of its own. A zero-byte item counts as one byte, so a run of
    empty files still spreads across the width."""
    if width is None:
        return [[x] for x in items]
    width = max(1, int(width))
    sizes = [max(1, int(s)) for s in sizes]
    total = sum(sizes)
    groups: list[list] = []
    last = -1
    cum = 0
    for x, s in zip(items, sizes):
        # 2*cum + s < 2*total, so g <= width - 1.
        g = width * (2 * cum + s) // (2 * total)
        if g != last:
            groups.append([])
            last = g
        groups[-1].append(x)
        cum += s
    return groups


def stat_checked_zip_invalidation() -> None:
    """In a Spark Python worker, make a zip importer's cache invalidation
    re-read its archive's directory only when the archive changed on disk.

    Wraps ``zipimport.zipimporter.invalidate_caches``: the wrapper stats the
    archive (``st_mtime_ns``, ``st_size``, ``st_ino``) and skips the re-read
    when that key equals the one the importer recorded at its last read;
    otherwise it calls the stdlib method and records the key (only when the
    read succeeded). An archive that cannot be stat'ed goes to the stdlib
    method unchanged. The stat is taken before the read, so a write that
    races the read changes the key and the next call re-reads.

    Called first thing in every worker-side entry of the package; a no-op
    when already installed, outside a Spark Python worker (the driver and
    test processes keep the stdlib method), and on CPython releases whose
    invalidation no longer reads the directory eagerly."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "stat_checked", False):
        return
    # setup_spark_files imports SparkFiles and sets this flag in task and
    # planning workers alike; elsewhere the module may not even be loaded.
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    if "_read_directory" not in stdlib.__code__.co_names:
        return  # lazy upstream: invalidation already reads nothing

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is not None and self.__dict__.get("_dir_key") == key:
            return
        self.__dict__.pop("_dir_key", None)
        stdlib(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            self._dir_key = key

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
