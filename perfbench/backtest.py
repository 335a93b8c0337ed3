"""``backtest`` workload: batch replay of a seeded, Zipf-skewed tick archive.

Path: events.parquet -> io.sources.load_ticks -> replay.backtest ->
io.sinks.write_sinks (all six sinks). One pass is one backtest run; the first
pass is cold and belongs to set-up. Every pass writes its own sink root and
every pass's sinks are checked against the DuckDB chain in
``spark_signals.oracle`` over the same events file.

Traced run: one untraced pass (Spark counters around it), then each
cumulative stage prefix materialised in turn through the ``noop`` sink
(fastest of ``PREFIX_REPEATS``); a stage's self time is its prefix minus its
parent's prefix. The last prefix
is a full ``write_sinks``, whose tables then serve the Grafana panel reads
of ``perfbench.panels`` (serving and io.layout layers).
"""

from __future__ import annotations

import os
import sys
import time

from perfbench import check, gen, panels
from perfbench.probe import MemorySampler, SparkCounters, median, parquet_files

N_TICKS = 120_000
N_INSTRUMENTS = 64
SKEW = 1.1
ERROR_FRAC = 0.01
DAYS = 7.0
PREFIX_REPEATS = 2
MIN_PASSES = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark_factory, seed: int, seconds: float, trace: bool, work: str, t_start: float) -> dict:
    from spark_signals.config import EngineConfig
    from spark_signals.io.sinks import write_sinks
    from spark_signals.io.sources import load_ticks
    from spark_signals.replay import backtest

    src = os.path.join(work, "events")
    summary = gen.write_events(src, seed, N_TICKS, N_INSTRUMENTS, SKEW, ERROR_FRAC, DAYS)
    print(f"[backtest] input {summary}", file=sys.stderr)
    spark = spark_factory()
    cfg = EngineConfig()
    roots: list[str] = []
    failed = 0

    def one_pass() -> float:
        nonlocal failed
        root = os.path.join(work, f"sinks{len(roots)}")
        t0 = time.perf_counter()
        try:
            write_sinks(backtest(load_ticks(spark, src), cfg), root)
        except Exception as e:  # a failed run is counted, not fatal
            failed += 1
            print(f"[backtest] pass failed: {type(e).__name__}: {e}", file=sys.stderr)
            return float("inf")
        finally:
            roots.append(root)
        return time.perf_counter() - t0

    one_pass()  # cold: JIT, codegen and file-system caches
    setup_s = time.time() - t_start

    metrics: dict[str, float] = {"setup_s": setup_s}
    panel_queries = panel_failed = 0
    with MemorySampler() as rss:
        if trace:
            metrics.update(_traced(spark, cfg, src, work, one_pass))
            layer, panel_queries, panel_failed = panels.measure(
                spark, os.path.join(work, "traced_sinks"), seed, N_TICKS, DAYS
            )
            metrics.update(layer)
        else:
            walls: list[float] = []
            t0 = time.perf_counter()
            # at least MIN_PASSES, so one pass slowed by the host does not
            # set the median
            while len(walls) < MIN_PASSES or time.perf_counter() - t0 < seconds:
                walls.append(one_pass())
            lat = median(walls)
            metrics.update(
                throughput_per_s=N_TICKS / lat,
                latency_p50_s=lat,
                # nearest-rank p99 of fewer than 100 passes is the slowest pass
                latency_p99_s=max(walls),
            )
            print(f"[backtest] pass walls {[round(w, 3) for w in walls]}", file=sys.stderr)
    metrics["peak_rss_mb"] = rss.peak_mb
    print(f"[backtest] peak memory {rss.peak_mb:.0f} MiB over {rss.peak_processes} processes", file=sys.stderr)

    con = check.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/events.parquet')")
    check.materialize_references(con, check.SINK_REFERENCES)
    bad_total = 0
    for root in roots:
        if not os.path.isdir(root):
            continue
        for name in check.SINK_REFERENCES:
            bad, desc = check.compare_sink(con, name, os.path.join(root, name))
            bad_total += bad
            if bad:
                print(f"[backtest] CHECK FAIL {os.path.basename(root)} {desc}", file=sys.stderr)
    print(
        f"[backtest] checked {len(roots)} passes x {len(check.SINK_REFERENCES)} sinks:"
        f" {bad_total} mismatching rows",
        file=sys.stderr,
    )
    return {
        "correct": bad_total == 0 and failed == 0 and panel_failed == 0,
        "attempted": len(roots) + panel_queries,
        "failed": failed + panel_failed,
        "failed_means": "backtest runs that raised, and in a traced run panel queries"
        " that raised or returned a wrong answer",
        "metrics": metrics,
    }


def _traced(spark, cfg, src, work, one_pass) -> dict[str, float]:
    from spark_signals.io.sinks import write_sinks
    from spark_signals.io.sources import load_ticks
    from spark_signals.pipeline import normalize as N
    from spark_signals.pipeline import sma_cross as S
    from spark_signals.replay import backtest

    counters = SparkCounters(spark)
    counters.start()
    untraced = one_pass()
    out = counters.read()

    t0 = time.perf_counter()
    outputs = backtest(load_ticks(spark, src), cfg)
    out["pipeline.builder.plan_s"] = time.perf_counter() - t0
    ticks = load_ticks(spark, src)
    enriched = N.enriched_ticks(ticks, cfg)
    prefixes = [
        ("io.sources.load_ticks_s", lambda: _noop(ticks)),
        ("pipeline.normalize.enriched_ticks_s", lambda: _noop(enriched)),
        (
            "pipeline.sma_cross.crossover_signals_s",
            lambda: _noop(S.crossover_signals_enriched(enriched, cfg)),
        ),
        ("pipeline.positions.positions_costs_s", lambda: _noop(outputs.positions_costs)),
        ("pipeline.metrics.metrics_enriched_s", lambda: _noop(outputs.metrics)),
        ("pipeline.rollup.hourly_rollup_s", lambda: _noop(outputs.hourly_rollup)),
        ("io.sinks.write_sinks_s", lambda: write_sinks(outputs, os.path.join(work, "traced_sinks"))),
    ]
    walls = []
    for _name, materialize in prefixes:
        reps = []
        for _ in range(PREFIX_REPEATS):
            t0 = time.perf_counter()
            materialize()
            reps.append(time.perf_counter() - t0)
        walls.append(min(reps))
    parent = 0.0
    for (name, _), wall in zip(prefixes, walls):
        out[name] = wall - parent  # self time: this prefix minus its parent
        parent = wall
    traced_total = sum(walls)
    self_sum = sum(out[name] for name, _ in prefixes)
    print(
        f"[backtest] prefix walls {[round(w, 3) for w in walls]}; self-time sum"
        f" {self_sum:.3f}s within traced total {traced_total:.3f}s: {self_sum <= traced_total}",
        file=sys.stderr,
    )
    out["trace.overhead_s"] = traced_total - untraced
    out["io.sources.rows_in"] = float(ticks.count())
    files, size = parquet_files(os.path.join(work, "traced_sinks"))
    out["io.sinks.files_written"] = float(files)
    out["io.sinks.bytes_written"] = float(size)
    return out
