"""Output checks against independent DuckDB references.

Sink tables are read back with DuckDB and joined on their row keys to a
reference relation. A float column the correctness suite grids to ``dp``
decimals (``spark_signals.parity``) may differ by at most ``10**-dp``; a
fixed-precision number inside the JSON ``metadata`` column may differ by one
unit in its last printed place (it prints an un-gridded window average, whose
last ulp differs between engines); every other column must be equal. A row
missing on either side, or a duplicated key, is a mismatch.
"""

from __future__ import annotations

import json

import duckdb

from spark_signals import oracle, parity

DP, DP_PNL = parity.DP, parity.DP_PNL

# sink name -> (reference SQL from the correctness suite, row key, {column: dp})
SINK_REFERENCES = {
    "prices_normalized": (
        parity.SQL_NORMALIZED,
        ["product_id", "sequence"],
        {"volatility": DP},
    ),
    "signals_decisions": (
        parity.SQL_SIGNALS_DECISIONS,
        ["instrument_id", "signal_time"],
        {"confidence": DP},
    ),
    "strategy_executions": (
        parity.SQL_EXECUTIONS,
        ["product_id", "sequence"],
        {"execution_price": DP, "transaction_cost": DP_PNL, "slippage_cost": DP_PNL},
    ),
    "strategy_positions": (
        parity.SQL_POSITION_TRANSITIONS,
        ["product_id", "sequence"],
        {"transaction_cost": DP_PNL, "slippage_cost": DP_PNL, "trade_cost": DP_PNL},
    ),
    "strategy_metrics": (
        parity.SQL_METRICS,
        ["window_start"],
        {
            "sharpe_ratio": DP,
            "sortino_ratio": DP,
            "cumulative_return": DP_PNL,
            "drawdown": DP_PNL,
            "volatility": DP_PNL,
            "avg_exposure_notional": DP,
            "total_trade_cost": DP_PNL,
            "total_transaction_cost": DP_PNL,
            "total_slippage_cost": DP_PNL,
        },
    ),
    "strategy_metrics_hourly": (
        parity.SQL_HOURLY_ROLLUP,
        ["bucket"],
        {"sharpe_avg": DP, "sortino_avg": DP, "cumulative_return_last": DP_PNL, "max_drawdown": DP_PNL},
    ),
}

# the streaming job writes these four sinks (streaming.job.multi_sink_writer)
STREAMING_SINKS = ("prices_normalized", "signals_decisions", "strategy_executions", "strategy_positions")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def sink_relation(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def live_ticks_cte(json_glob: str, late_sequences_table: str) -> str:
    """The oracle's ``ticks`` CTE over the live JSON tick files, minus the
    late ticks (they must be dropped behind the watermark)."""
    return f"""
ticks AS (
    SELECT product_id, price, best_bid, best_ask, volume_24h, sequence, side,
           CAST(replace(event_time, 'Z', '') AS TIMESTAMP) AS event_time, source
    FROM read_json('{json_glob}', format = 'newline_delimited', columns = {{
        product_id: 'VARCHAR', price: 'DOUBLE', best_bid: 'DOUBLE',
        best_ask: 'DOUBLE', volume_24h: 'DOUBLE', sequence: 'BIGINT',
        side: 'VARCHAR', event_time: 'VARCHAR', source: 'VARCHAR'}})
    WHERE sequence NOT IN (SELECT sequence FROM {late_sequences_table})
)"""


def materialize_references(con, sinks, ticks_cte: str | None = None) -> None:
    """Create ``ref_<sink>`` tables from the suite's reference SQL; with
    ``ticks_cte`` the chain's input is swapped for that CTE."""
    for name in sinks:
        sql = SINK_REFERENCES[name][0]
        if ticks_cte is not None:
            sql = sql.replace(oracle.ticks_cte(), ticks_cte, 1)
        con.execute(f"CREATE OR REPLACE TABLE ref_{name} AS {sql}")


def _json_close(got: str | None, want: str | None) -> bool:
    """Equal JSON objects, except that a number printed with d decimals may
    be off by 10**-d."""
    if got is None or want is None:
        return got is want
    a, b = json.loads(got), json.loads(want)
    if a.keys() != b.keys():
        return False
    for k, w in b.items():
        g = a[k]
        if g == w:
            continue
        try:
            decimals = len(w.split(".")[1]) if "." in w else 0
            if abs(float(g) - float(w)) > 10.0**-decimals * (1 + 1e-6):
                return False
        except (AttributeError, ValueError):
            return False
    return True


def compare_sink(con, name: str, got_path: str) -> tuple[int, str]:
    """(mismatching rows, description) of one sink against ``ref_<name>``."""
    _sql, keys, dps = SINK_REFERENCES[name]
    cols = [r[0] for r in con.execute(f"DESCRIBE ref_{name}").fetchall()]
    got = sink_relation(got_path)
    diffs = []
    for c in cols:
        if c in keys or c == "metadata":
            continue
        if c in dps:
            tol = 10.0 ** -dps[c]
            diffs.append(f"NOT (g.{c} IS NOT DISTINCT FROM w.{c} OR abs(g.{c} - w.{c}) <= {tol!r})")
        else:
            diffs.append(f"g.{c} IS DISTINCT FROM w.{c}")
    on = " AND ".join(f"g.{k} = w.{k}" for k in keys)
    key_list = ", ".join(keys)
    missing, extra, differ = con.execute(
        f"""
        SELECT count(*) FILTER (WHERE g.{keys[0]} IS NULL),
               count(*) FILTER (WHERE w.{keys[0]} IS NULL),
               count(*) FILTER (WHERE g.{keys[0]} IS NOT NULL AND w.{keys[0]} IS NOT NULL
                                AND ({' OR '.join(diffs) or 'false'}))
        FROM (SELECT {', '.join(cols)} FROM {got}) g
        FULL OUTER JOIN ref_{name} w ON {on}"""
    ).fetchone()
    if "metadata" in cols:
        pairs = con.execute(
            f"SELECT g.metadata, w.metadata FROM {got} g JOIN ref_{name} w ON {on}"
            " WHERE g.metadata IS DISTINCT FROM w.metadata"
        ).fetchall()
        differ += sum(1 for g, w in pairs if not _json_close(g, w))
    dup = con.execute(
        f"SELECT (SELECT count(*) - count(DISTINCT ({key_list})) FROM {got})"
        f" + (SELECT count(*) - count(DISTINCT ({key_list})) FROM ref_{name})"
    ).fetchone()[0]
    bad = missing + extra + differ + dup
    return bad, f"{name}: missing={missing} extra={extra} differ={differ} dup_keys={dup}"
