"""Grafana panel reads over the backtest's sink tables (the serving and
io.layout layers), measured in the ``backtest`` workload's traced run.

The tables are the six sinks of one backtest pass plus a zone registry on
``sequence`` for the two tables read by time range. Event ids grow with time
in the backtest input, so a ``sequence`` range is a time range. A panel
call's time runs from building its DataFrame to holding its rows in pandas;
its plan share ends when the DataFrame is built. Every answer is compared
with DuckDB over the same sink parquet.

Panels: the four ``serving.dashboard_*`` panels,
``latest_price_per_instrument`` and ``recent_ticks_per_instrument`` over a
time range, and a one-instrument price series; every time-range read goes
through ``io.layout.read_pruned_registered``.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

from perfbench import check
from perfbench.probe import median, parquet_files

N_RANGES = 3
RANGE_HOURS = (2, 6, 24)
PANELS = (
    "cumret_series",
    "recent_positions",
    "execution_costs",
    "run_ids",
    "latest_price",
    "recent_ticks",
    "price_series",
)
RANGED = {"execution_costs", "latest_price", "recent_ticks", "price_series"}


class Panels:
    """Builds each panel's DataFrame (Spark) and reference SQL (DuckDB)."""

    def __init__(self, spark, sinks: str) -> None:
        self.spark = spark
        self.t = {n: os.path.join(sinks, n) for n in os.listdir(sinks)}
        self.pruned: list[tuple[float, object, str]] = []  # (seconds, DataFrame, table)

    def _pruned(self, table: str, lo: int, hi: int):
        from spark_signals.io.layout import read_pruned_registered

        path = self.t[table]
        t0 = time.perf_counter()
        df = read_pruned_registered(self.spark, path, path + "_zones", {"sequence": (lo, hi)})
        self.pruned.append((time.perf_counter() - t0, df, path))
        return df

    def build(self, panel: str, param):
        from spark_signals import serving as S

        read = self.spark.read.parquet
        if panel == "cumret_series":
            return S.dashboard_cumret_series(read(self.t["strategy_metrics_hourly"]))
        if panel == "recent_positions":
            return S.dashboard_recent_positions(read(self.t["strategy_positions"]))
        if panel == "run_ids":
            return S.dashboard_run_ids(read(self.t["strategy_metrics_hourly"]))
        lo, hi, product = param
        if panel == "execution_costs":
            return S.dashboard_execution_costs(self._pruned("strategy_executions", lo, hi))
        prices = self._pruned("prices_normalized", lo, hi)
        if panel == "latest_price":
            return S.latest_price_per_instrument(prices.withColumnRenamed("mid_price", "price"))
        if panel == "recent_ticks":
            return S.recent_ticks_per_instrument(prices.withColumnRenamed("mid_price", "price"))
        return prices.filter(prices.product_id == product).select("event_time", "mid_price")

    def reference_sql(self, panel: str, param) -> str:
        def rel(name):
            return check.sink_relation(self.t[name])

        if panel == "cumret_series":
            return (
                "SELECT bucket AS time, cumulative_return_last AS cumulative_return"
                f" FROM {rel('strategy_metrics_hourly')} WHERE window_label = '5m'"
            )
        if panel == "recent_positions":
            return (
                "SELECT event_time, product_id, position, position_change, trade_cost,"
                f" transaction_cost, slippage_cost FROM {rel('strategy_positions')}"
                " ORDER BY event_time DESC, product_id LIMIT 200"
            )
        if panel == "run_ids":
            return (
                "SELECT DISTINCT CAST(strategy_run_id AS VARCHAR) AS run_id"
                f" FROM {rel('strategy_metrics_hourly')}"
            )
        lo, hi, product = param
        where = f"sequence BETWEEN {lo} AND {hi}"
        if panel == "execution_costs":
            return (
                "SELECT execution_time AS time, transaction_cost + slippage_cost AS trade_cost"
                f" FROM {rel('strategy_executions')} WHERE {where}"
            )
        prices = f"(SELECT * FROM {rel('prices_normalized')} WHERE {where})"
        if panel == "latest_price":
            return (
                "SELECT product_id, arg_max(mid_price, event_time) AS last_price,"
                " max(event_time) AS last_event_time, count(*) AS n_ticks"
                f" FROM {prices} GROUP BY product_id"
            )
        if panel == "recent_ticks":
            return (
                "SELECT product_id, event_time, sequence, mid_price AS price, rn FROM ("
                " SELECT *, row_number() OVER (PARTITION BY product_id"
                f" ORDER BY event_time DESC, sequence DESC) AS rn FROM {prices}) WHERE rn <= 50"
            )
        return f"SELECT event_time, mid_price FROM {prices} WHERE product_id = '{product}'"


def _canonical(df: pd.DataFrame) -> list[tuple]:
    """Rows as sorted tuples: timestamps as UTC epoch microseconds, numbers
    as Python floats, so Spark's and DuckDB's pandas dtypes compare equal."""
    cols = []
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            cols.append((s.astype("datetime64[us]").astype("int64")).tolist())
        elif pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            cols.append([None if pd.isna(v) else float(v) for v in s.tolist()])
        else:
            cols.append([None if v is None or v is pd.NA else v for v in s.tolist()])
    return sorted(zip(*cols), key=repr)


def query_mix(seed: int, n_ticks: int, days: float) -> list:
    """Seeded (panel, param) pairs, param = (lo, hi, instrument)."""
    rng = np.random.default_rng(seed + 7)
    span_h = days * 24
    ranges = []
    for i in range(N_RANGES):
        width = int(n_ticks * RANGE_HOURS[i % len(RANGE_HOURS)] / span_h)
        lo = int(rng.integers(0, n_ticks - width))
        # the top Zipf keys are the instruments a user charts
        ranges.append((lo, lo + width, f"P-{int(rng.integers(0, 8))}"))
    return [(p, r if p in RANGED else None) for p in PANELS for r in (ranges if p in RANGED else [None])]


def measure(spark, sinks: str, seed: int, n_ticks: int, days: float) -> tuple[dict[str, float], int, int]:
    """Write the zone registries, then run every query of the mix once
    after one warm-up call per panel. Returns (per-layer metrics, queries,
    failed queries); a failed query raised or returned a wrong answer."""
    from spark_signals.io.layout import write_zone_registry

    t0 = time.perf_counter()
    for table in ("prices_normalized", "strategy_executions"):
        path = os.path.join(sinks, table)
        write_zone_registry(spark, path, path + "_zones", ["sequence"])
    registry_write_s = time.perf_counter() - t0

    panels = Panels(spark, sinks)
    mix = query_mix(seed, n_ticks, days)
    for panel in PANELS:  # first call of each shape: codegen and caches
        panels.build(panel, next(p for q, p in mix if q == panel)).toPandas()
    panels.pruned.clear()

    con = check.connect()
    calls: dict[str, list[float]] = {p: [] for p in PANELS}
    plan: list[float] = []
    failed = 0
    for panel, param in mix:
        t0 = time.perf_counter()
        try:
            df = panels.build(panel, param)
            plan.append(time.perf_counter() - t0)
            rows = df.toPandas()
        except Exception as e:  # a failed query is counted, not fatal
            failed += 1
            print(f"[panels] {panel} {param} failed: {type(e).__name__}: {e}", file=sys.stderr)
            continue
        calls[panel].append(time.perf_counter() - t0)
        if _canonical(rows) != _canonical(con.execute(panels.reference_sql(panel, param)).fetchdf()):
            failed += 1
            print(f"[panels] wrong answer {panel} {param}", file=sys.stderr)
    out = {f"serving.{p}_s": median(v or [0.0]) for p, v in calls.items()}
    out["serving.plan_s"] = median(plan or [0.0])
    # files scanned over files in the table, counted after the timed calls
    kept = [len(df.inputFiles()) / parquet_files(path)[0] for _s, df, path in panels.pruned]
    out["io.layout.pruned_read_s"] = median([s for s, _df, _path in panels.pruned] or [0.0])
    out["io.layout.files_kept_frac"] = float(np.mean(kept or [0.0]))
    out["io.layout.registry_write_s"] = registry_write_s
    print(f"[panels] {len(mix)} queries, {failed} failed", file=sys.stderr)
    return out, len(mix), failed
