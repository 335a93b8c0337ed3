"""Measurement helpers shared by the workloads.

Everything here observes the program from outside: wall clocks around calls
into ``spark_signals``, Spark's own status store read over py4j, streaming
query progress, file listings, and /proc for memory. Nothing is patched into
the program.
"""

from __future__ import annotations

import math
import os
import statistics
import threading


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values)


# ----------------------------------------------------------------- memory
def process_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, state, start time) for every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended between listing and reading
            table[int(entry)] = (int(fields[1]), fields[0], fields[19])
    return table


def descendants(roots, table) -> set[int]:
    """Every live process below any of ``roots`` (the roots excluded)."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _state, _start) in table.items():
        children.setdefault(ppid, []).append(pid)
    found: set[int] = set()
    stack = list(roots)
    while stack:
        for child in children.get(stack.pop(), []):
            if child not in found:
                found.add(child)
                stack.append(child)
    return found


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _statm(pid: int) -> tuple[int, int]:
    # statm, not smaps_rollup: walking the JVM's page tables takes ~30 ms
    # under its mmap lock, which would perturb what is measured
    try:
        with open(f"/proc/{pid}/statm") as f:
            size, resident = f.read().split()[:2]
        return int(size), int(resident) * _PAGE
    except (OSError, ValueError):
        return 0, 0  # the process ended


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """(summed RSS, process count) of every process below ``root``. A child
    that still shares its parent's memory (the JVM spawning a helper
    command, a fork not yet diverged) has its parent's virtual size and is
    skipped, or it would count the parent twice. Its resident size is no
    test: the parent's changes between the two reads."""
    table = process_table()
    below = descendants([root], table)
    statm = {pid: _statm(pid) for pid in below | {table[p][0] for p in below}}
    counted = [p for p in below if statm[p][1] and statm[p][0] != statm[table[p][0]][0]]
    return sum(statm[p][1] for p in counted), len(counted)


class MemorySampler:
    """Background sampler of the peak memory of the JVM and the Python
    workers: the summed RSS of every process below this driver process."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_processes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss, n = tree_rss_bytes(os.getpid())
            if rss > self.peak_bytes:
                self.peak_bytes, self.peak_processes = rss, n
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        """Peak summed RSS in MiB."""
        return self.peak_bytes / 2**20


# ------------------------------------------------------ Spark status store
class SparkCounters:
    """Stage-level counters from Spark's AppStatusStore, summed over the
    stages submitted after ``start()``."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._first_stage = 0

    def _stages(self):
        store = self._store
        defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        seq = store.stageList(None, *defaults)
        return [seq.apply(i) for i in range(seq.size())]

    def start(self) -> None:
        self._first_stage = 1 + max((s.stageId() for s in self._stages()), default=-1)

    def read(self) -> dict[str, float]:
        """Shuffle/spill bytes, executor run and GC seconds, task count and
        the task skew (max over median task run time) of the slowest stage."""
        stages = [
            s for s in self._stages()
            if s.stageId() >= self._first_stage and s.status().toString() == "COMPLETE"
        ]
        out = {
            "spark.shuffle_write_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
            "spark.spill_bytes": float(
                sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages)
            ),
            "spark.executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "spark.tasks": float(sum(s.numTasks() for s in stages)),
            "spark.task_skew": 0.0,
        }
        if stages:
            slowest = max(stages, key=lambda s: s.executorRunTime())
            quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 2)
            quantiles[0], quantiles[1] = 0.5, 1.0
            summary = self._store.taskSummary(slowest.stageId(), slowest.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                p50, p100 = run.apply(0), run.apply(1)
                out["spark.task_skew"] = p100 / p50 if p50 > 0 else 1.0
        return out


# --------------------------------------------------------------- files
def parquet_files(root: str) -> tuple[int, int]:
    """(data file count, data bytes) of the parquet files under ``root``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


