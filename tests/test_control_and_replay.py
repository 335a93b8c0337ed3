"""Tests: replay/backtest mode, control plane, feeder validation, sinks."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from spark_signals.config import EngineConfig
from spark_signals.control.runs import (
    RunStore,
    engine_config_from_strategy,
    load_strategy_config,
)
from spark_signals.io.feeder import (
    generate_ticks,
    paced_replay,
    parse_event_time,
    prepare_payload,
    write_json_ticks,
)
from spark_signals.io.sinks import apply_retention, write_sinks
from spark_signals.io.sources import load_ticks, read_prices_raw
from spark_signals.pipeline import build_pipeline
from spark_signals.replay import backtest, replay_window
from spark_signals.strategies import get_strategy_module, register_strategy

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ replay
def test_replay_window_bounds(spark):
    ticks = load_ticks(spark, SF)
    win = replay_window(ticks, start_ts="2024-01-08 00:00:00", end_ts="2024-01-22 00:00:00")
    lo, hi = win.agg(F.min("event_time"), F.max("event_time")).first()
    assert lo >= dt.datetime(2024, 1, 8)
    assert hi <= dt.datetime(2024, 1, 22)
    assert 0 < win.count() < ticks.count()


def test_replay_offset_seek(spark):
    ticks = load_ticks(spark, SF)
    win = replay_window(ticks, start_offset=500)
    assert win.agg(F.min("sequence")).first()[0] == 500


def test_replay_predicates_push_down(spark):
    # bounds passed to the adapter apply to the raw int64 column BEFORE the
    # ns->us conversion, so they reach the parquet scan as PushedFilters
    win = load_ticks(spark, SF, start_ts="2024-01-08 00:00:00")
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts," in plan.split("PushedFilters: [", 1)[1]


def test_backtest_runs_strategy_over_window(spark):
    out = backtest(
        load_ticks(spark, SF), EngineConfig(), start_ts="2024-01-08", end_ts="2024-01-22"
    )
    sigs = out.signals_decisions
    times = sigs.agg(F.min("signal_time"), F.max("signal_time")).first()
    assert times[0] >= dt.datetime(2024, 1, 8)
    assert times[1] <= dt.datetime(2024, 1, 22)


# ----------------------------------------------------------- control plane
def test_run_store_lifecycle(tmp_path):
    store = RunStore(str(tmp_path))
    store.upsert_strategy("sma_cross", "baseline")
    store.upsert_strategy("sma_cross", "baseline v2")  # upsert, not dup
    assert store.strategies()["sma_cross"]["description"] == "baseline v2"

    run = store.start_run("sma_cross", "BACKTEST", {"SMA_FAST_WINDOW": 5})
    assert run.run_id in {r["run_id"] for r in store.active_runs()}
    store.end_run(run.run_id)
    assert store.active_runs() == []
    assert store.list_runs(5)[0]["run_id"] == run.run_id

    # D6 CHECK constraint analog
    with pytest.raises(ValueError):
        store.start_run("sma_cross", "YOLO")
    # can't retire a strategy with runs (J5 guard)
    assert store.retire_strategy("sma_cross") is False


def test_strategy_config_shapes(tmp_path):
    import json

    cfg = {
        "name": "mock_breakout",
        "module": "sma_cross",
        "run_type": "REPLAY",
        "execution_mode": "replay",
        "parameters": {"SMA_FAST_WINDOW": 5, "SMA_SLOW_WINDOW": 30, "TRANSACTION_COST_BPS": 3},
    }
    p = tmp_path / "s.json"
    p.write_text(json.dumps(cfg))
    loaded = load_strategy_config(str(p))
    ec = engine_config_from_strategy(loaded)
    assert ec.sma_fast_window == 5 and ec.sma_slow_window == 30
    assert ec.transaction_cost_rate == 3 / 10_000
    assert ec.execution_mode == "replay"

    bad = dict(cfg, run_type="NOPE")
    p.write_text(json.dumps(bad))
    with pytest.raises(ValueError):
        load_strategy_config(str(p))


def test_strategy_registry_resolution():
    mod = get_strategy_module("sma_cross")
    assert hasattr(mod, "build_pipeline")
    register_strategy("alias_test", "spark_signals.strategies.sma_cross")
    assert get_strategy_module("alias_test") is mod
    with pytest.raises(ModuleNotFoundError):
        get_strategy_module("not_a_strategy")


# ------------------------------------------------------------- feeder/P13/14
def test_payload_golden_case():
    raw = {
        "product_id": "BTC-USD",
        "price": "41000.1234",
        "best_bid": 40999.9,
        "best_ask": 41000.5,
        "volume_24h": 123.45,
        "sequence": 42,
        "side": "buy",
        "event_time": "2024-06-01T12:00:00Z",
        "source": "coinbase",
    }
    out = prepare_payload(raw)
    assert out["price"] == 41000.1234
    assert out["event_time"] == "2024-06-01T12:00:00+00:00"  # Z normalized
    assert out["sequence"] == 42


@pytest.mark.parametrize(
    "mutation",
    [
        {"price": None},
        {"event_time": "not-a-time"},
        {"event_time": None},
        {"product_id": None},
        {"best_bid": "abc"},
        {"price": "inf"},
    ],
)
def test_payload_malformed_dropped(mutation):
    raw = {
        "product_id": "BTC-USD",
        "price": 1.0,
        "event_time": "2024-06-01T12:00:00Z",
    }
    raw.update(mutation)
    assert prepare_payload(raw) is None


def test_parse_event_time_offsets():
    assert parse_event_time("2024-06-01T12:00:00Z").hour == 12
    assert parse_event_time("2024-06-01T14:00:00+02:00").hour == 12  # normalized to UTC
    assert parse_event_time("garbage") is None


def test_feeder_roundtrip_through_json_source(spark, tmp_path):
    rows = generate_ticks(200)
    rows.append({"product_id": None, "price": 1, "event_time": "x"})  # dropped
    out = str(tmp_path / "ticks")
    write_json_ticks(rows, out, batch_size=64)
    df = read_prices_raw(spark, out, fmt="json")
    assert df.count() == 200
    assert set(r.product_id for r in df.select("product_id").distinct().collect()) == {
        "BTC-USD",
        "ETH-USD",
    }
    # pipeline runs end-to-end on fed data
    assert build_pipeline(df).normalized_prices.count() == 200


# ------------------------------------------------------- paced replay (S10)
def _replay_fixture():
    """4 ticks, 1s/2s/4s apart, plus one malformed row in the middle."""
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    rows = []
    for i, off in enumerate([0, 1, 3, 7]):
        rows.append(
            {
                "product_id": "BTC-USD",
                "price": 100.0 + i,
                "sequence": i,
                "event_time": (t0 + dt.timedelta(seconds=off)).isoformat(),
            }
        )
    rows.insert(2, {"product_id": "BTC-USD", "price": "garbage", "event_time": "x"})
    return t0, rows


def test_paced_replay_sleeps_event_time_delta_over_speedup():
    _, rows = _replay_fixture()
    sleeps, out = [], []
    n = paced_replay(rows, out.append, speedup_factor=2.0, sleep=sleeps.append)
    assert n == 4 and [p["sequence"] for p in out] == [0, 1, 2, 3]
    # gaps 1s, 2s, 4s ÷ speedup 2 — first record immediate, malformed row
    # contributes no gap
    assert sleeps == [0.5, 1.0, 2.0]


def test_paced_replay_end_timestamp_bound():
    t0, rows = _replay_fixture()
    out = []
    end_ms = int(t0.timestamp() * 1000) + 1500  # between 2nd and 3rd tick
    n = paced_replay(rows, out.append, end_timestamp_ms=end_ms, sleep=lambda s: None)
    assert n == 2 and [p["sequence"] for p in out] == [0, 1]


def test_paced_replay_seek_by_timestamp_wins_over_offset():
    t0, rows = _replay_fixture()
    out = []
    start_ms = int(t0.timestamp() * 1000) + 2000  # skips ticks at +0s, +1s
    paced_replay(
        rows,
        out.append,
        start_timestamp_ms=start_ms,
        start_offset=0,  # would include everything — timestamp must win
        sleep=lambda s: None,
    )
    assert [p["sequence"] for p in out] == [2, 3]


def test_paced_replay_seek_by_offset():
    _, rows = _replay_fixture()
    out = []
    paced_replay(rows, out.append, start_offset=2, sleep=lambda s: None)
    assert [p["sequence"] for p in out] == [2, 3]


def test_paced_replay_feeds_streaming_source_dir(spark, tmp_path):
    """Replayed payloads land as JSON batches the streaming job can read."""
    _, rows = _replay_fixture()
    buf = []
    paced_replay(rows, buf.append, speedup_factor=1e9, sleep=lambda s: None)
    out = str(tmp_path / "replayed")
    write_json_ticks(buf, out)
    assert read_prices_raw(spark, out, fmt="json").count() == 4


# ------------------------------------------------------------------- sinks
def test_write_sinks_partitioned_and_retention(spark, tmp_path):
    out = build_pipeline(load_ticks(spark, SF))
    root = str(tmp_path / "wh")
    paths = write_sinks(out, root)
    assert set(paths) == {
        "prices_normalized",
        "signals_decisions",
        "strategy_executions",
        "strategy_positions",
        "strategy_metrics",
        "strategy_metrics_hourly",
    }
    norm_path = paths["prices_normalized"]
    parts = [d for d in os.listdir(norm_path) if d.startswith("event_date=")]
    assert len(parts) > 5  # date-partitioned (Jan 2024 days)
    # partition pruning works on read
    pruned = spark.read.parquet(norm_path).filter(F.col("event_date") == "2024-01-05")
    assert pruned.count() > 0

    # retention: keep 10 days from 2024-01-31 → drop partitions < 01-21
    import datetime as dt

    dropped = apply_retention(spark, norm_path, keep_days=10, now=dt.date(2024, 1, 31))
    assert dropped > 0
    remaining = [d for d in os.listdir(norm_path) if d.startswith("event_date=")]
    assert all(d.split("=")[1] >= "2024-01-21" for d in remaining)


# ----------------------------------------------------------------- fan-out
FANOUT_STRATEGIES = ["sma_cross", "ewma_zscore", "breakout"]


def _fanout_outputs(spark, strategy):
    return get_strategy_module(strategy).build_pipeline(load_ticks(spark, SF), EngineConfig())


def _plan_leaves(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


@pytest.mark.parametrize("strategy", FANOUT_STRATEGIES)
def test_fanout_sinks_read_pinned_relation(spark, strategy):
    """While the shared relation is pinned, every sink plan bottoms out in
    the InMemoryRelation only: no sink re-scans the parquet source."""
    from spark_signals.pipeline.builder import persist_for_fanout

    out = persist_for_fanout(_fanout_outputs(spark, strategy))
    try:
        for name, df in out.sinks().items():
            leaves = _plan_leaves(df)
            assert leaves and set(leaves) == {"InMemoryRelation"}, (name, leaves)
    finally:
        out.shared.unpersist()
    # un-pinned, a fresh build's sinks read the source again
    fresh = _fanout_outputs(spark, strategy).sinks()
    assert all("InMemoryRelation" not in _plan_leaves(df) for df in fresh.values())


@pytest.mark.parametrize("strategy", ["sma_cross", "breakout"])
def test_fanout_shared_relation_single_window_stage(spark, strategy):
    """The pinned relation holds the whole window stage — features,
    strategy columns, forward-fill and position lag — on one partition and
    one sort: exactly one Exchange and one Sort."""
    from tests.test_plans import count_op, plan_str

    p = plan_str(_fanout_outputs(spark, strategy).shared)
    assert count_op(p, "Exchange") == 1
    assert count_op(p, "Sort") == 1


def _gridded(df):
    """Doubles on a 1e-10 grid, every other column as is: a double SUM/AVG
    is summation-order dependent, and the pinned and un-pinned plans feed
    their aggregates differently partitioned input (a last-ulp difference
    seen in the hourly AVG of the EWMA run)."""
    return df.select(
        *[F.round(c, 10).alias(c) if t == "double" else F.col(c) for c, t in df.dtypes]
    )


@pytest.mark.parametrize("strategy", FANOUT_STRATEGIES)
def test_write_sinks_matches_unpinned_sinks(spark, tmp_path, strategy):
    """The concurrent, pinned fan-out writes the rows each sink DataFrame
    produces on its own, un-pinned plan."""
    paths = write_sinks(_fanout_outputs(spark, strategy), str(tmp_path / "wh"))
    want = _fanout_outputs(spark, strategy).sinks()
    assert set(paths) == set(want)
    for name, df in want.items():
        got = _gridded(spark.read.parquet(paths[name]).select(*df.columns))
        df = _gridded(df)
        assert got.count() == df.count() > 0, name
        assert got.exceptAll(df).count() == 0, name
        assert df.exceptAll(got).count() == 0, name


def test_write_sinks_failure_awaits_writes_and_unpersists(spark, tmp_path):
    """One sink's target is an existing regular file: write_sinks raises,
    but only after the other five writes finished, and the shared relation
    is no longer pinned. (Static overwrite would delete whatever sits at the
    target; dynamic partition overwrite renames partitions into the target
    directory and so cannot replace a file.)"""
    root = tmp_path / "wh"
    root.mkdir()
    (root / "strategy_metrics").write_text("not a directory")
    out = _fanout_outputs(spark, "sma_cross")
    jsc = spark.sparkContext._jsc
    pinned_before = jsc.getPersistentRDDs().size()
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        with pytest.raises(Exception, match="strategy_metrics"):
            write_sinks(out, str(root))
    finally:
        spark.conf.set(key, prev)
    assert (root / "strategy_metrics").is_file()
    # dynamic overwrite moves partitions into place only at job commit
    for name, df in _fanout_outputs(spark, "sma_cross").sinks().items():
        if name != "strategy_metrics":
            assert spark.read.parquet(str(root / name)).count() == df.count() > 0, name
    level = out.shared.storageLevel
    assert not (level.useMemory or level.useDisk)
    assert jsc.getPersistentRDDs().size() == pinned_before


def test_write_sinks_jobs_inherit_callers_job_group(spark, tmp_path):
    """The sink threads carry the caller's local properties, so a job group
    set around write_sinks covers every job the fan-out runs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = build_pipeline(load_ticks(spark, SF))
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("fanout-group", "fan-out job-group inheritance")
    try:
        write_sinks(out, str(tmp_path / "wh"))
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert len(tracker.getJobIdsForGroup("fanout-group")) >= len(out.sinks())
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()


# ----------------------------------------------------------------- sources
def test_directory_table_schema_not_cached(spark, tmp_path):
    """A Spark-written directory table must not be served a cached schema:
    rewriting a data file inside it leaves the directory's own mtime and
    size unchanged, so a directory-keyed cache would go stale."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_signals.io.sources import read_table

    table_dir = tmp_path / "t.parquet"
    spark.createDataFrame([(1, "a")], "k long, old_col string").coalesce(1).write.parquet(
        str(table_dir)
    )
    # drop the checksum side files now: a stale .crc would fail the re-read
    for crc in table_dir.glob(".*.crc"):
        crc.unlink()
    assert read_table(spark, str(tmp_path), "t").columns == ["k", "old_col"]
    stat_before = os.stat(table_dir)
    (part,) = [p for p in table_dir.iterdir() if p.name.endswith(".parquet")]
    pq.write_table(pa.table({"k": [2], "new_col": [1.5]}), str(part))
    stat_after = os.stat(table_dir)
    assert (stat_after.st_mtime_ns, stat_after.st_size) == (
        stat_before.st_mtime_ns, stat_before.st_size
    )
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "new_col"]
    assert [tuple(r) for r in df.collect()] == [(2, 1.5)]


# -------------------------------------------------------------------- skew
def test_salted_join_matches_plain_join(spark):
    from spark_signals.pipeline.skew import salted_join

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(customer, "o_custkey").groupBy("c_mktsegment").count()
    salted = salted_join(orders, customer, "o_custkey").groupBy("c_mktsegment").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # the salted plan joins on (key, salt) - both key columns in the join
    plan = salted_join(orders, customer, "o_custkey")._jdf.queryExecution().toString()
    assert "_salt" in plan
