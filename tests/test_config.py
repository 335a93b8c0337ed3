import pytest

from spark_signals.config import EngineConfig


def test_bps_to_rate_derivation():
    # reference: config.py:60-73 — bps / 10_000
    cfg = EngineConfig(transaction_cost_bps=5, slippage_bps=12, slippage_max_bps=50)
    assert cfg.transaction_cost_rate == 5 / 10_000
    assert cfg.slippage_rate == 12 / 10_000
    assert cfg.slippage_max_rate == 50 / 10_000
    assert cfg.total_trade_cost_rate == (5 + 12) / 10_000


def test_confirmation_floor():
    # reference: sma_cross.py:54 — max(1, confirmation)
    assert EngineConfig(sma_confirmation_window=0).confirmation == 1
    assert EngineConfig(sma_confirmation_window=3).confirmation == 3


def test_fast_must_be_less_than_slow():
    # reference: sma_cross.py:39-40
    with pytest.raises(ValueError):
        EngineConfig(sma_fast_window=60, sma_slow_window=60)


@pytest.mark.parametrize(
    "kwargs",
    [
        {"volatility_window": 0},
        {"volatility_window": -5},
        {"sma_fast_window": 0},
        {"sma_fast_window": -1, "sma_slow_window": 10},
        {"sma_fast_window": -3, "sma_slow_window": 0},
    ],
)
def test_windows_must_be_positive(kwargs):
    # a zero-row volatility window made the streaming window unbounded
    with pytest.raises(ValueError, match="at least 1"):
        EngineConfig(**kwargs)


def test_smallest_windows_accepted():
    cfg = EngineConfig(sma_fast_window=1, sma_slow_window=2, volatility_window=1)
    assert (cfg.sma_fast_window, cfg.sma_slow_window, cfg.volatility_window) == (1, 2, 1)


def test_from_env(monkeypatch):
    monkeypatch.setenv("SMA_FAST_WINDOW", "5")
    monkeypatch.setenv("SMA_SLOW_WINDOW", "15")
    monkeypatch.setenv("TRANSACTION_COST_BPS", "7")
    cfg = EngineConfig.from_env()
    assert cfg.sma_fast_window == 5
    assert cfg.sma_slow_window == 15
    assert cfg.transaction_cost_rate == 7 / 10_000
