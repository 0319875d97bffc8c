"""Helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics


def clear_memos(spark) -> None:
    """Drop every in-process cache and memo the engine keeps, so each
    timed operation starts cold."""
    from notion_vector_store_etl_pipeline_spark.operators.bloom import clear_sketch_memo
    from notion_vector_store_etl_pipeline_spark.operators.cache import clear_df_memo, release_cache
    from notion_vector_store_etl_pipeline_spark.operators.similarity import clear_centroid_memo

    release_cache()
    spark.catalog.clearCache()
    clear_sketch_memo()
    clear_centroid_memo()
    clear_df_memo()


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            parent[int(entry)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(c for c, p in parent.items() if p == pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants, counting the descendants they have already reaped."""
    ticks = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")
