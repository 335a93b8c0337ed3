"""One logical pipeline, shared by batch and streaming.

``build_pipeline(ticks, cfg)`` assembles the full dataflow as a dict of
DataFrames — the Spark analog of the reference's CREATE TEMPORARY VIEW chain
(sma_cross.py:18-395 + metrics/performance.py:10-201). The input ``ticks``
may come from ``spark.read`` (backtest/correctness) or ``spark.readStream``
(live); the window-function stages require batch, streaming wraps them via
spark_signals.streaming.

Multi-sink plan reuse (SURVEY.md §4): the reference's StatementSet merges its
INSERTs into one job sharing the upstream subgraph. Here every sink is a
projection or aggregate of ONE shared relation (``PipelineOutputs.shared``:
the forward-filled positions chain over a base that carries every column a
sink needs, normalized prices and the strategy's signal inputs included).
Spark re-plans per action, so ``persist_for_fanout`` pins that relation and
the six sink writes each read it from memory — the scan, shuffle, sort and
window stage run once per pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from spark_signals.config import EngineConfig
from spark_signals.pipeline import metrics as M
from spark_signals.pipeline import positions as P
from spark_signals.pipeline import rollup as R
from spark_signals.pipeline import normalize as N
from spark_signals.pipeline import sma_cross as S

#: The prices_normalized sink's columns, projected from the shared relation.
NORMALIZED_COLUMNS = (
    "product_id", "event_time", "sequence", "mid_price",
    "best_bid", "best_ask", "returns", "volatility",
)


@dataclass
class PipelineOutputs:
    shared: DataFrame
    normalized_prices: DataFrame
    crossover_signals: DataFrame
    signals_decisions: DataFrame
    positions_costs: DataFrame
    executions: DataFrame
    position_transitions: DataFrame
    position_returns: DataFrame
    performance_windows: DataFrame
    signal_counts: DataFrame
    metrics: DataFrame
    hourly_rollup: DataFrame

    def sinks(self) -> dict[str, DataFrame]:
        """The five reference sink relations (+ rollup), by sink name
        (reference: __main__.py:76-227)."""
        return {
            "prices_normalized": self.normalized_prices,
            "signals_decisions": self.signals_decisions,
            "strategy_executions": self.executions,
            "strategy_positions": self.position_transitions,
            "strategy_metrics": self.metrics,
            "strategy_metrics_hourly": self.hourly_rollup,
        }


def shared_positions(base: DataFrame, cfg: EngineConfig) -> DataFrame:
    """positions_base-shaped ``base`` (normalized columns + sparse
    ``signal_position`` + any strategy columns) → the fan-out's shared
    relation: forward-filled position, its lag and the cost ratios, with
    every base column carried through."""
    return P.positions_enriched(P.positions_stream(base, cfg), cfg)


def assemble_outputs(
    shared: DataFrame, signals: DataFrame, cfg: EngineConfig
) -> PipelineOutputs:
    """Shared downstream machinery: normalized projection, cost model →
    executions/transitions → tumbling metrics → rollup.

    ``shared`` is a :func:`shared_positions` relation and ``signals`` the
    strategy's signal stream (crossover_signals schema) projected from it,
    so every output derives from ``shared`` alone. Custom strategies (e.g.
    the pandas-UDF EWMA strategy) supply their own base and signal
    projection and reuse everything below it.
    """
    costs = P.positions_costs(shared, cfg)

    execs = P.executions(costs, cfg)
    transitions = P.position_transitions(costs, cfg)

    returns = M.position_returns(costs, cfg)
    perf = M.performance_windows(returns, cfg)
    counts = M.signal_counts(signals, cfg)
    metr = M.metrics_enriched(perf, counts, cfg)
    roll = R.hourly_rollup(metr, cfg)

    return PipelineOutputs(
        shared=shared,
        normalized_prices=shared.select(*NORMALIZED_COLUMNS),
        crossover_signals=signals,
        signals_decisions=S.signals_decisions(signals),
        positions_costs=costs,
        executions=execs,
        position_transitions=transitions,
        position_returns=returns,
        performance_windows=perf,
        signal_counts=counts,
        metrics=metr,
        hourly_rollup=roll,
    )


def build_pipeline(ticks: DataFrame, cfg: EngineConfig | None = None) -> PipelineOutputs:
    cfg = cfg or EngineConfig()
    # one shared window stage; the positions chain stacks on the same
    # partition+sort and carries the crossover inputs, so the signal stream
    # is a projection of the shared relation too (J2's signal_counts reads
    # it instead of a second scan)
    base = P.positions_base_inline(N.enriched_ticks(ticks, cfg), cfg)
    shared = shared_positions(base, cfg)
    return assemble_outputs(shared, S.crossover_signals_enriched(shared, cfg), cfg)


def persist_for_fanout(outputs: PipelineOutputs) -> PipelineOutputs:
    """Pin the shared relation before multi-sink fan-out (batch mode).

    Every sink is a projection or aggregate of ``outputs.shared``, so with
    it persisted each sink write reads the cached relation instead of
    re-running the scan and window stage — the reference's single merged
    job. The caller unpersists it once the writes are done.
    """
    outputs.shared.persist(StorageLevel.MEMORY_AND_DISK)
    return outputs
