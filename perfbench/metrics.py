"""Metric definitions and the statistics the benchmark reports."""

from __future__ import annotations

import os
import threading

#: end-to-end metrics: every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "sweep_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mib": "MiB",
}

#: per-layer metrics of the traced run; a layer a workload never enters reports 0
PER_LAYER = {
    "queries.registry.t.calls": "count",
    "queries.registry.t.s": "s",
    "queries.registry.t.jobs": "count",
    "queries.build.s": "s",
    "queries.build.jobs": "count",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "python.boot_s": "s",
    "python.total_s": "s",
    "python.bytes_sent": "B",
    "python.rows_received": "count",
    "materialize.resident_rdds": "count",
    "materialize.resident_bytes": "B",
    "sources.cmr.s": "s",
    "sources.cmr.partitions": "count",
    "sources.cmr.granules": "count",
    "plans.daily_ingest.extract.s": "s",
    "plans.daily_ingest.links_kept_frac": "ratio",
    "sinks.manifest.write.s": "s",
    "sinks.manifest.files": "count",
    "store.calls": "count",
    "sinks.manifest.read.s": "s",
    "operators.completeness.s": "s",
    "sources.stac_fetch.s": "s",
    "sources.stac_fetch.urls": "count",
    "sources.stac_fetch.failed": "count",
    "stac.parse.s": "s",
    "functions.mgrs.s": "s",
    "functions.spatial.hilbert.s": "s",
    "plans.monthly_compact.dead_count.s": "s",
    "plans.monthly_compact.jobs": "count",
    "sinks.geoparquet.s": "s",
    "sinks.geoparquet.files": "count",
    "sinks.geoparquet.bytes": "B",
    "ingest_granules_per_s": "granules/s",
    "compact_items_per_s": "items/s",
    "bytes_per_item": "B",
    "failed_frac": "ratio",
    "trace.wall_s": "s",
    "trace.layer_sum_s": "s",
    "trace.hook_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}

#: fewer samples beyond the tail percentile than this make it a guess
TAIL_MIN_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    above it: ``(value, percentile, n)``. With too few samples for that,
    the maximum (percentile 100)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return xs[-1], 100.0, n
    k = n - TAIL_MIN_BEYOND - 1
    return xs[k], 100.0 * (k + 1) / n, n


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """``(children by parent pid, RSS bytes by pid)`` of every live
    process, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    return children, rss


def descendants(root_pid: int, children: dict[int, list[int]] | None = None) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    if children is None:
        children, _ = _proc_table()
    out, stack = [], list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants, from /proc."""
    children, rss = _proc_table()
    return sum(rss.get(pid, 0) for pid in [root_pid, *descendants(root_pid, children)])


class PeakRss:
    """Samples the process tree's RSS in a thread while open."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def mib(self) -> float:
        return self.peak / 2**20


def process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
