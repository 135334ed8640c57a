"""How many Python tasks a multi-file read or sweep launches.

Every Python task on a Spark cluster pays a fixed CPU cost before the
reader runs: the worker's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which re-reads the central directory of
``pyspark.zip`` and of the spark-core jar once per zip importer (0.23 s of
CPU, timed inside a task on a 4-core box, against about 0.05-0.07 s to parse a
2,500-row workbook). So the task count of a read or sweep over many small
files should follow the cluster width, not the file count:
``pack_contiguous`` groups consecutive files into at most ``width`` tasks.
"""

from __future__ import annotations


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
