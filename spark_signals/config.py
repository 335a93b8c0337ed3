"""Engine configuration.

Mirrors the reference's runtime knobs (reference: flink_jobs/config.py:39-77 —
SMA windows, bps-denominated cost model with derived rates /10_000, latency
model) as a frozen dataclass. Defaults follow the reference's *paper-trading*
config (configs/sma_cross_paper.json: 5 bps transaction, 12 bps slippage)
rather than the zero-cost env defaults, so the cost paths are exercised.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

BPS = 10_000.0


@dataclass(frozen=True)
class EngineConfig:
    # strategy windows (reference: flink_jobs/config.py:49-51)
    sma_fast_window: int = 20
    sma_slow_window: int = 60
    sma_confirmation_window: int = 3

    # identity (reference: flink_jobs/config.py:52-53)
    strategy_run_id: str = "sma-cross-paper"
    execution_mode: str = "paper"

    # cost model, basis points (reference: flink_jobs/config.py:59-73)
    transaction_cost_bps: float = 5.0
    slippage_bps: float = 12.0
    slippage_max_bps: float = 50.0
    slippage_volatility_multiplier: float = 0.35
    slippage_spread_multiplier: float = 0.5

    # fill-latency model, milliseconds (reference: flink_jobs/config.py:74-76)
    fill_latency_ms: int = 250
    fill_latency_jitter_ms: int = 500
    fill_latency_volatility_ms: int = 1200

    # rolling-feature windows (reference: sma_cross.py:92 — 60-tick stddev_pop)
    volatility_window: int = 60

    # event-time semantics (reference: __main__.py:63, metrics/performance.py:14-15)
    watermark_delay: str = "5 seconds"
    metrics_window: str = "5 minutes"
    metrics_window_label: str = "5m"
    rollup_window: str = "1 hour"

    def __post_init__(self) -> None:
        # a zero-row frame is no window at all: the streaming volatility
        # window would grow without bound and diverge from the batch plan
        for name in ("sma_fast_window", "sma_slow_window", "volatility_window"):
            if getattr(self, name) < 1:
                raise ValueError(f"{name} must be at least 1")
        if self.sma_fast_window >= self.sma_slow_window:
            raise ValueError("sma_fast_window must be smaller than sma_slow_window")

    # derived rates (reference: config.py:60-73 — bps / 10_000)
    @property
    def transaction_cost_rate(self) -> float:
        return self.transaction_cost_bps / BPS

    @property
    def slippage_rate(self) -> float:
        return self.slippage_bps / BPS

    @property
    def slippage_max_rate(self) -> float:
        return self.slippage_max_bps / BPS

    @property
    def total_trade_cost_rate(self) -> float:
        return (self.transaction_cost_bps + self.slippage_bps) / BPS

    @property
    def confirmation(self) -> int:
        # reference: sma_cross.py:54 — confirmation floor of 1
        return max(1, self.sma_confirmation_window)

    @classmethod
    def from_env(cls) -> "EngineConfig":
        """Environment-variable construction (reference: config.py:39-77)."""
        g = os.getenv
        return cls(
            sma_fast_window=int(g("SMA_FAST_WINDOW", "20")),
            sma_slow_window=int(g("SMA_SLOW_WINDOW", "60")),
            sma_confirmation_window=int(g("SMA_CONFIRMATION_WINDOW", "3")),
            strategy_run_id=g("STRATEGY_RUN_ID", "sma-cross-paper"),
            execution_mode=g("EXECUTION_MODE", "paper"),
            transaction_cost_bps=float(g("TRANSACTION_COST_BPS", "5")),
            slippage_bps=float(g("SLIPPAGE_BPS", "12")),
            slippage_max_bps=float(g("SLIPPAGE_MAX_BPS", "50")),
            slippage_volatility_multiplier=float(g("SLIPPAGE_VOLATILITY_MULTIPLIER", "0.35")),
            slippage_spread_multiplier=float(g("SLIPPAGE_SPREAD_MULTIPLIER", "0.5")),
            fill_latency_ms=int(g("FILL_LATENCY_MS", "250")),
            fill_latency_jitter_ms=int(g("FILL_LATENCY_JITTER_MS", "500")),
            fill_latency_volatility_ms=int(g("FILL_LATENCY_VOLATILITY_MS", "1200")),
        )


DEFAULT_CONFIG = EngineConfig()
