"""``live`` workload: the streaming job under an open-loop feed, then a
backlog drain.

Path: streaming.job.read_tick_stream (JSON files) -> build_streaming_features
-> foreachBatch(multi_sink_writer), default (back-to-back) trigger.

* Set-up: session start, the pre-written backlog staged out of the
  source's sight, and the query started on a first file whose micro-batch
  is cold.
* Catch-up (the restart/replay case): the staged backlog directory is
  renamed into the source in one step; the drain rate is its tick count
  over the time until its last tick is committed. Its batches also finish warming the JIT.
* Open loop: a file of ``FILE_TICKS`` ticks over ``N_INSTRUMENTS`` uniform
  keys every ``FILE_INTERVAL_S``, for ``WARMUP_S`` unmeasured seconds and
  then ``--seconds`` measured ones, written on schedule whatever the job
  does. A tick's latency runs from its file's due
  time (when the generator publishes it, i.e. when the newest tick in it
  was created) to the end of the sink writes of the micro-batch that
  carried it. p50 is over every tick; p99 is the median over ``WINDOW_S``
  windows of due times of each window's p99. Each file but the first
  carries a tick stamped far behind the watermark.

Checks: every on-time tick is in ``prices_normalized`` (a missing one is a
failed operation), no late tick is, and the four streaming sinks equal the
DuckDB chain of ``spark_signals.oracle`` over the on-time ticks.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading
import time

import numpy as np

from perfbench import check, gen
from perfbench.probe import MemorySampler, SparkCounters, median, quantile

# 1,000 ticks/s as four files a second: a micro-batch takes ~3 s on a
# 4-core host whatever its size, so this is well under capacity, and four
# due times a second sample the batch cycle finely enough for steady
# latency percentiles
FILE_TICKS = 250
FILE_INTERVAL_S = 0.25
N_INSTRUMENTS = 256
LATE_PER_FILE = 1  # a tick far behind the watermark in each open-loop file but the first
BACKLOG_FILES = 64
BACKLOG_FILE_TICKS = 1_250
BACKLOG_SPAN_US = 50_000  # event time per backlog file: all of it precedes the open loop
MAX_FILES_PER_TRIGGER = 16
# the open loop runs this long before its files are measured: after the
# catch-up the JIT is still compiling the per-batch path (its compiler
# threads take about a core), and latency keeps falling through the first
# ~25 s of small batches. A longer warm-up does not fit the time the
# benchmark may take.
WARMUP_S = 10.0
# p99 is taken per window of due times and the median over windows is
# reported: the nearest-rank p99 of a whole run is its single slowest batch
# cycle, which a short stall of the host sets
WINDOW_S = 5.0
WAIT_S = 60.0
SPAN_US = int(FILE_INTERVAL_S * 1e6)  # event time each file covers


class _Feed:
    """Files written so far: name -> (due time, publish time, on-time
    sequences, late sequences)."""

    def __init__(self) -> None:
        self.files: dict[str, tuple[float, float, np.ndarray, np.ndarray]] = {}
        self.rows = 0

    def add(self, name: str, rows: dict, due: float, published: float) -> None:
        late = rows["late"]
        self.files[name] = (due, published, rows["sequence"][~late], rows["sequence"][late])
        self.rows += len(late)

    def sequences(self, late: bool = False) -> np.ndarray:
        picked = [v[3 if late else 2] for v in self.files.values()]
        return np.concatenate(picked) if picked else np.empty(0, dtype=np.int64)


def _progress_listener():
    """A StreamingQueryListener keeping every batch's progress record, by
    batch id (delivered on Spark's listener bus, so none is missed between
    polls)."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.by_batch: dict[int, dict] = {}
            self.lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self.lock:
                # an idle trigger may report the last batch id again, empty
                if p["numInputRows"] or p["batchId"] not in self.by_batch:
                    self.by_batch[p["batchId"]] = p

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def snapshot(self) -> dict[int, dict]:
            with self.lock:
                return dict(self.by_batch)

        def wait_rows(self, query, rows: int, deadline: float) -> bool:
            """Wait until the query has read ``rows`` input rows in total."""
            while time.time() < deadline:
                if sum(p["numInputRows"] for p in self.snapshot().values()) >= rows:
                    return True
                if query.exception() is not None:
                    return False
                time.sleep(0.05)
            return False

    return Progress()


def _ts(progress: dict) -> float:
    return dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def run(spark_factory, seed: int, seconds: float, trace: bool, work: str, t_start: float) -> dict:
    from spark_signals.config import EngineConfig
    from spark_signals.streaming.job import (
        build_streaming_features,
        multi_sink_writer,
        read_tick_stream,
    )

    # the source reads every directory under src: the open-loop files land
    # in src/feed one by one, and the staged backlog directory is renamed
    # into src in one step, so no trigger lists only part of it
    src, staging, out = (os.path.join(work, d) for d in ("src", "staging", "out"))
    feed_dir, backlog_dir = os.path.join(src, "feed"), os.path.join(staging, "backlog")
    for d in (feed_dir, backlog_dir):
        os.makedirs(d)
    cfg = EngineConfig()
    feed = gen.LiveFeed(seed, N_INSTRUMENTS)
    log = _Feed()

    spark = spark_factory()
    now = time.time()
    first_t0_us = int((now - 3.0) * 1e6)
    # every late tick is older than anything the stream has seen, so it is
    # behind the watermark whichever batch reads it
    feed.late_before_us = first_t0_us - 10_000_000
    backlog_t0_us = first_t0_us + 500_000
    backlog = []
    for j in range(BACKLOG_FILES):
        rows = feed.file(backlog_t0_us + j * BACKLOG_SPAN_US, BACKLOG_SPAN_US, BACKLOG_FILE_TICKS)
        name = f"b-{j:04d}.json"
        gen.publish(rows, backlog_dir, name)
        backlog.append((name, rows))

    commits: dict[int, tuple[float, float, float]] = {}  # batch -> (start, inner end, end)
    writer = multi_sink_writer(out, cfg)

    def on_batch(batch_df, batch_id: int) -> None:
        t0 = time.time()
        writer(batch_df, batch_id)
        t1 = time.time()
        commits[batch_id] = (t0, t1, time.time())

    rows = feed.file(first_t0_us, SPAN_US, FILE_TICKS)
    gen.publish(rows, feed_dir, "f-0000.json")
    log.add("f-0000.json", rows, now, now)
    listener = _progress_listener()
    spark.streams.addListener(listener)
    ticks = read_tick_stream(
        spark, os.path.join(src, "*"), fmt="json", max_files_per_trigger=MAX_FILES_PER_TRIGGER
    )
    query = (
        build_streaming_features(ticks, cfg)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .outputMode("append")
        .start()
    )
    ok = listener.wait_rows(query, log.rows, time.time() + 120.0)
    setup_s = time.time() - t_start

    counters = SparkCounters(spark)
    counters.start()
    with MemorySampler() as rss:
        first_batch = max(commits, default=0) + 1
        # catch-up: the staged backlog lands at once
        t2 = time.time()
        os.rename(backlog_dir, os.path.join(src, "backlog"))
        for name, rows in backlog:
            log.add(name, rows, t2, t2)
        ok = ok and listener.wait_rows(query, log.rows, time.time() + WAIT_S)
        last = max(listener.snapshot())
        while ok and last not in commits and query.exception() is None:
            time.sleep(0.01)
        drain_s = (commits[last][2] if last in commits else float("inf")) - t2

        # open loop: file k due k intervals from now, written on schedule
        # whatever the job is doing (the job runs in the JVM and its callback
        # thread; this thread only keeps the schedule). The first WARMUP_S
        # of files are not measured.
        warmup = int(round(WARMUP_S / FILE_INTERVAL_S))
        t0 = time.time()
        planned = []
        for k in range(1, warmup + max(1, int(round(seconds / FILE_INTERVAL_S))) + 1):
            due = t0 + k * FILE_INTERVAL_S
            rows = feed.file(int(due * 1e6) - SPAN_US, SPAN_US, FILE_TICKS, LATE_PER_FILE if k > 1 else 0)
            planned.append((f"f-{k:04d}.json", rows, due))
        for name, rows, due in planned:
            time.sleep(max(0.0, due - time.time()))
            gen.publish(rows, feed_dir, name)
            log.add(name, rows, due, time.time())
        paced_files = [name for name, _, _ in planned[warmup:]]
        ok = ok and listener.wait_rows(query, log.rows, time.time() + WAIT_S)
    batch_error = query.exception()
    if batch_error is not None:
        print(f"[live] query failed: {batch_error}", file=sys.stderr)
    query.stop()
    spark.streams.removeListener(listener)
    progress = listener.snapshot()
    spark_counts = counters.read()

    # which batch committed each tick, from the sink's _batch_id partitions
    con = check.connect()
    got = con.execute(
        "SELECT sequence, _batch_id FROM read_parquet("
        f"'{out}/prices_normalized/**/*.parquet', hive_partitioning = true)"
    ).fetchnumpy()
    batch_of = dict(zip(got["sequence"].tolist(), got["_batch_id"].tolist()))
    on_time = log.sequences()
    late = log.sequences(late=True)
    missing = int(sum(1 for s in on_time.tolist() if s not in batch_of))
    late_present = int(sum(1 for s in late.tolist() if s in batch_of))

    latencies: list[float] = []
    windows: dict[int, list[float]] = {}  # due-time window -> its ticks' latencies
    file_batch: dict[str, int] = {}
    for i, name in enumerate(paced_files):
        due, _pub, seqs, _late = log.files[name]
        window = windows.setdefault(int(i * FILE_INTERVAL_S / WINDOW_S + 1e-9), [])
        for s in seqs.tolist():
            b = batch_of.get(s)
            latencies.append(commits[b][2] - due if b in commits else float("inf"))
            window.append(latencies[-1])
            if b is not None:
                file_batch[name] = b
    window_p50 = [quantile(w, 0.5) for _, w in sorted(windows.items())]
    window_p99 = [quantile(w, 0.99) for _, w in sorted(windows.items())]
    lateness = [log.files[n][1] - log.files[n][0] for n in paced_files]
    backlog_ticks = BACKLOG_FILES * BACKLOG_FILE_TICKS
    print(
        f"[live] catch-up: {backlog_ticks} ticks drained in {drain_s:.3f}s; open loop:"
        f" {len(paced_files)} files, {len(latencies)} on-time ticks, {len(set(file_batch.values()))}"
        f" batches, generator max lateness {max(lateness):.4f}s; p50, p99 per {WINDOW_S:g}s"
        f" window {[round(v, 3) for v in window_p50]}, {[round(v, 3) for v in window_p99]};"
        f" batch walls"
        f" {[(b, round(c[2] - c[0], 2)) for b, c in sorted(commits.items())]}",
        file=sys.stderr,
    )

    metrics: dict[str, float] = {
        "setup_s": setup_s,
        "throughput_per_s": backlog_ticks / drain_s,
        "latency_p50_s": quantile(latencies, 0.5),
        "latency_p99_s": median(window_p99),
        "peak_rss_mb": rss.peak_mb,
    }
    print(f"[live] peak memory {rss.peak_mb:.0f} MiB over {rss.peak_processes} processes", file=sys.stderr)
    if trace:
        metrics.update(spark_counts)
        metrics.update(
            _traced(progress, commits, log, first_batch, paced_files, file_batch, batch_of)
        )

    con.execute("CREATE TABLE late_ticks (sequence BIGINT)")
    con.executemany("INSERT INTO late_ticks VALUES (?)", [[s] for s in late.tolist()])
    check.materialize_references(
        con, check.STREAMING_SINKS, check.live_ticks_cte(f"{src}/*/*.json", "late_ticks")
    )
    bad = 0
    for name in check.STREAMING_SINKS:
        n_bad, desc = check.compare_sink(con, name, os.path.join(out, name))
        bad += n_bad
        if n_bad:
            print(f"[live] CHECK FAIL {desc}", file=sys.stderr)
    print(
        f"[live] checked {len(check.STREAMING_SINKS)} sinks: {bad} mismatching rows;"
        f" on-time missing {missing}; late present {late_present} of {len(late)}",
        file=sys.stderr,
    )
    return {
        "correct": bad == 0 and missing == 0 and late_present == 0 and batch_error is None,
        "attempted": len(on_time),
        "failed": missing,
        "failed_means": "on-time ticks missing from prices_normalized",
        "metrics": metrics,
    }


def _traced(progress, commits, log, first_batch, paced_files, file_batch, batch_of) -> dict[str, float]:
    from spark_signals.control.latency import progress_to_rows

    batches = sorted(b for b in progress if b >= first_batch)
    by_component: dict[str, list[float]] = {}
    for b in batches:
        for row in progress_to_rows(progress[b]):
            by_component.setdefault(row["component"], []).append(row["value_ms"] / 1e3)

    def comp(name: str) -> float:
        return median(by_component.get(name, [0.0]))

    state = [progress[b]["stateOperators"][0] for b in batches if progress[b]["stateOperators"]]
    # a file waits from its due time until the trigger that read it starts
    queue_wait = [
        _ts(progress[b]) - log.files[name][0]
        for name, b in file_batch.items()
        if b in progress
    ]
    backlog = []
    for b in sorted(set(file_batch.values())):
        if b not in progress:
            continue
        start = _ts(progress[b])
        waiting = [
            n for n in paced_files
            if log.files[n][1] <= start and file_batch.get(n, b) >= b
        ]
        backlog.append(len(waiting))
    rows_read = sum(progress[b]["numInputRows"] for b in progress)
    return {
        "io.sinks.batch_write_s": median([commits[b][1] - commits[b][0] for b in batches if b in commits] or [0.0]),
        "streaming.job.trigger_s": comp("triggerExecution"),
        "streaming.job.add_batch_s": comp("addBatch"),
        "streaming.job.planning_s": comp("queryPlanning"),
        "streaming.job.wal_commit_s": comp("walCommit"),
        "streaming.job.latest_offset_s": comp("latestOffset"),
        "streaming.job.batches": float(len(batches)),
        "streaming.job.rows_per_batch": (
            sum(progress[b]["numInputRows"] for b in batches) / len(batches) if batches else 0.0
        ),
        "streaming.job.queue_wait_s": median(queue_wait) if queue_wait else 0.0,
        "streaming.job.backlog_files_max": float(max(backlog, default=0)),
        "streaming.features.state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
        "streaming.features.state_bytes": float(max(s["memoryUsedBytes"] for s in state)) if state else 0.0,
        "streaming.features.state_commit_s": median([s["commitTimeMs"] / 1e3 for s in state]) if state else 0.0,
        # rows read minus rows written: the ticks the feature stage dropped
        "streaming.features.late_dropped": float(rows_read - len(batch_of)),
        "trace.overhead_s": median([commits[b][2] - commits[b][1] for b in batches if b in commits] or [0.0]),
    }
