"""Benchmark entry point.

    python3 perfbench/run.py --workload backtest|live \
        --seed N --seconds S --trace 0|1

Run from the repository root. This launcher sizes Spark to the host, points
every scratch directory Spark, the JVM and Python use at a per-run directory
under ``.perfbench_tmp/`` in the checkout, runs ``perfbench/bench.py`` as its
own process, and afterwards stops every process it started below it and
removes the per-run directory. The benchmark's result is the last line
``bench.py`` prints; its exit code is passed through.
"""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD_TIMEOUT_S = 175

sys.path.insert(0, ROOT)
from perfbench.probe import descendants, process_table  # noqa: E402


def host_env(work: str) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    # the session's own default asks for 90 GB; leave most of the host to
    # the Python workers, DuckDB and the page cache. The heap is committed
    # and touched up front (-Xms = -Xmx, AlwaysPreTouch) so the JVM's RSS does
    # not follow the GC's heap resizing from run to run; peak RSS then moves
    # with off-heap and Python-worker memory.
    driver_gb = max(1, min(2, int(mem_gb * 0.15)))
    tmp = os.path.join(work, "tmp")
    java_opts = f"-Xms{driver_gb}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "pyspark-shell",
    ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # the short-lived JVM spark-submit runs to build the driver command
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit),
        # the applyInPandasWithState workers import spark_signals too
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PERFBENCH_T0=repr(T0),
        PERFBENCH_WORK=work,
    )
    return env


def tree(roots, table) -> set[tuple[int, str]]:
    """(pid, start time) of the live ``roots`` and every process below them."""
    pids = descendants(roots, table) | {r for r in roots if r in table}
    return {(p, table[p][2]) for p in pids}


def alive(procs: set[tuple[int, str]]) -> set[tuple[int, str]]:
    """The processes of ``procs`` still running (same pid and start time,
    not a zombie waiting to be reaped)."""
    table = process_table()
    return {(p, st) for p, st in procs if p in table and table[p][2] == st and table[p][1] != "Z"}


def stop_all(procs: set[tuple[int, str]]) -> None:
    """SIGTERM every process seen below the benchmark (the PySpark daemon
    moves its workers into a process group of their own, so the group of
    the benchmark process is not enough), escalate to SIGKILL, and wait
    until each has ended."""
    procs |= tree({p for p, _ in alive(procs)}, process_table())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid, _st in alive(procs):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10.0
        while alive(procs) and time.time() < deadline:
            time.sleep(0.1)
        if not alive(procs):
            return


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    # a SIGTERM to the launcher still stops the run's processes and cleans up
    signal.signal(signal.SIGTERM, _terminate)
    work = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{int(T0)}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    child = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "bench.py"), *sys.argv[1:]],
        cwd=work,
        env=host_env(work),
    )
    seen: set[tuple[int, str]] = set()
    deadline = time.time() + CHILD_TIMEOUT_S
    try:
        while True:
            # remember every process below the benchmark while the links exist
            seen |= tree({child.pid}, process_table())
            try:
                code = child.wait(timeout=1.0)
                break
            except subprocess.TimeoutExpired:
                if time.time() > deadline:
                    print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s, stopping it", file=sys.stderr)
                    code = 1
                    break
    finally:
        stop_all(seen)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    return code


if __name__ == "__main__":
    sys.exit(main())
