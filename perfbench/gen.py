"""Seeded input generators for the benchmark workloads.

Everything is vectorised with numpy; the same seed always gives
byte-identical inputs. The program under test only ever sees the files
written here.

* ``write_events`` writes an ``events.parquet`` in the testdata schema
  (event_id, ts, user_id, event_type, value, props) that
  ``spark_signals.io.sources.load_ticks`` and the DuckDB chain in
  ``spark_signals.oracle`` both read unchanged. Instruments are
  Zipf-skewed, prices are per-instrument random walks, a share of rows is
  ``event_type='error'`` (null quotes downstream) and timestamps are
  strictly increasing, so ``event_id`` order is time order and every
  (instrument, time) pair is unique.
* ``LiveFeed`` builds the ``live`` workload's JSON tick files in the
  ``prices_raw`` contract. Each file covers its own span of event time with
  shuffled rows inside it (disorder within the file, never across files,
  so the streaming state sees each key in event-time order); some files
  carry ticks stamped far behind the 5 s watermark. ``publish`` writes a
  file under a hidden temp name and renames it into place, so the stream
  source never lists a partial file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIDES = np.array(["click", "view", "signup", "purchase"])

# Prices stay below ~30,370: above it the squared micro-unit sum in the
# batch volatility window (pipeline.normalize, VOL_DP=5) overflows BIGINT and
# the backtest fails with ARITHMETIC_OVERFLOW. Walks start at most here and
# drift by a few sigma over a run.
MAX_BASE_PRICE = 5_000.0

# 2024-06-01T00:00:00Z in microseconds
BACKTEST_START_US = 1_717_200_000_000_000


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, skew: float) -> np.ndarray:
    """``n`` draws over ``n_keys`` keys with P(k) proportional to 1/(k+1)^skew
    (skew 0 is uniform)."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** skew
    return rng.choice(n_keys, size=n, p=p / p.sum())


def _group_cumsum(keys: np.ndarray, values: np.ndarray, order: np.ndarray, n_keys: int) -> np.ndarray:
    """Running sum of ``values`` within each key, taken in ``order`` (an
    ordering that groups rows by key); returned in row order."""
    k = keys[order]
    v = values[order]
    csum = np.cumsum(v)
    counts = np.bincount(k, minlength=n_keys)
    present = counts > 0
    starts = (np.cumsum(counts) - counts)[present]
    out = np.empty(len(keys))
    out[order] = csum - np.repeat((csum - v)[starts], counts[present])
    return out


def _random_walk(rng: np.random.Generator, keys: np.ndarray, n_keys: int, vol: float) -> np.ndarray:
    """Per-key geometric random walk, in row order, from a per-key base price."""
    base = np.exp(rng.uniform(np.log(5.0), np.log(MAX_BASE_PRICE), size=n_keys))
    steps = rng.normal(0.0, vol, size=len(keys))
    walk = _group_cumsum(keys, steps, np.argsort(keys, kind="stable"), n_keys)
    return np.round(base[keys] * np.exp(walk), 4)


def write_events(
    path: str,
    seed: int,
    n_ticks: int,
    n_instruments: int = 64,
    skew: float = 1.1,
    error_frac: float = 0.01,
    days: float = 14.0,
) -> dict:
    """Write ``events.parquet`` into directory ``path``; returns a summary."""
    rng = np.random.default_rng(seed)
    keys = _zipf_keys(rng, n_ticks, n_instruments, skew)
    gaps = rng.exponential(1.0, size=n_ticks)
    span_us = days * 86_400e6
    # + row index: strictly increasing even where two gaps floor to one µs
    ts = (
        BACKTEST_START_US
        + np.floor(np.cumsum(gaps) * (span_us / gaps.sum())).astype(np.int64)
        + np.arange(n_ticks, dtype=np.int64)
    )
    error = rng.random(n_ticks) < error_frac
    sides = SIDES[rng.integers(0, len(SIDES), size=n_ticks)]
    event_type = np.where(error, "error", sides)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n_ticks).astype(str)), "}")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_ticks, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(keys.astype(np.int64)),
            "event_type": pa.array(event_type.astype(object), type=pa.string()),
            "value": pa.array(_random_walk(rng, keys, n_instruments, 0.001)),
            "props": pa.array(props.astype(object), type=pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))
    counts = np.bincount(keys, minlength=n_instruments)
    return {
        "ticks": n_ticks,
        "instruments": int((counts > 0).sum()),
        "max_key_share": float(counts.max() / n_ticks),
        "error_rows": int(error.sum()),
        "first_ts_us": int(ts[0]),
        "last_ts_us": int(ts[-1]),
    }


class LiveFeed:
    """Seeded source of JSON tick files for the ``live`` workload.

    ``file(t0_us, span_us, n_ticks, n_late)`` returns the rows of one file
    whose on-time ticks cover event time [t0_us, t0_us + span_us) in
    shuffled order, plus ``n_late`` ticks stamped ``late_lag`` seconds or
    more behind ``late_before_us`` (set it to before the first event time
    the stream has seen, so the ticks are behind the watermark whenever they
    arrive). Sequences are unique across the whole feed.
    """

    def __init__(self, seed: int, n_instruments: int = 256, late_lag_s: float = 30.0):
        self.rng = np.random.default_rng(seed)
        self.n_instruments = n_instruments
        self.late_lag_us = int(late_lag_s * 1e6)
        self.price = np.exp(self.rng.uniform(np.log(5.0), np.log(MAX_BASE_PRICE), size=n_instruments))
        self.next_seq = 0
        self.late_before_us: int | None = None

    def _ticks(self, ts_us: np.ndarray, keys: np.ndarray) -> dict:
        n = len(keys)
        steps = self.rng.normal(0.0, 0.002, size=n)
        # walk each instrument forward in event-time order from its last price
        order = np.lexsort((ts_us, keys))
        log_px = np.log(self.price[keys]) + _group_cumsum(keys, steps, order, self.n_instruments)
        px = np.round(np.exp(log_px), 4)
        last = order[np.append(keys[order][1:] != keys[order][:-1], True)]
        self.price[keys[last]] = np.exp(log_px[last])
        null_quote = self.rng.random(n) < 0.01
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        return {
            "product_id": np.char.add("L-", keys.astype(str)),
            "price": px,
            "best_bid": np.where(null_quote, np.nan, np.round(px * 0.9995, 6)),
            "best_ask": np.where(null_quote, np.nan, np.round(px * 1.0005, 6)),
            "sequence": seq,
            "ts_us": ts_us,
        }

    def file(self, t0_us: int, span_us: int, n_ticks: int, n_late: int = 0) -> dict:
        """Rows of one file (column arrays); ``late`` marks the late ticks."""
        keys = self.rng.integers(0, self.n_instruments, size=n_ticks)
        ts = t0_us + np.sort(self.rng.choice(span_us, size=n_ticks, replace=False)).astype(np.int64)
        rows = self._ticks(ts, keys)
        late = np.zeros(n_ticks, dtype=bool)
        if n_late:
            if self.late_before_us is None:
                raise ValueError("late ticks need late_before_us set")
            lkeys = self.rng.integers(0, self.n_instruments, size=n_late)
            lts = self.late_before_us - self.late_lag_us - self.rng.integers(0, 60_000_000, size=n_late)
            late_rows = self._ticks(lts.astype(np.int64), lkeys)
            rows = {c: np.concatenate([rows[c], late_rows[c]]) for c in rows}
            late = np.concatenate([late, np.ones(n_late, dtype=bool)])
        perm = self.rng.permutation(len(late))
        rows = {c: v[perm] for c, v in rows.items()}
        rows["late"] = late[perm]
        return rows


def _iso(ts_us: np.ndarray) -> np.ndarray:
    return np.char.add(np.datetime_as_string(ts_us.astype("datetime64[us]"), unit="us"), "Z")


def publish(rows: dict, directory: str, name: str) -> str:
    """Write one JSON-lines tick file atomically (hidden temp name, then
    rename) and return its final path."""

    def num(values: np.ndarray) -> np.ndarray:
        # repr() round-trips every double exactly; NaN is a null quote
        return np.array(["null" if np.isnan(v) else repr(float(v)) for v in values])

    fields = [
        ('{"product_id": "', rows["product_id"]),
        ('", "price": ', num(rows["price"])),
        (', "best_bid": ', num(rows["best_bid"])),
        (', "best_ask": ', num(rows["best_ask"])),
        (', "volume_24h": null, "sequence": ', rows["sequence"].astype(str)),
        (', "side": "buy", "event_time": "', _iso(rows["ts_us"])),
        ('", "source": "perfbench"}', None),
    ]
    line = np.full(len(rows["sequence"]), "", dtype=object)
    for literal, values in fields:
        line = line + literal
        if values is not None:
            line = line + values.astype(object)
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, name)
    with open(tmp, "w") as f:
        f.write("\n".join(line.tolist()) + "\n")
    os.rename(tmp, final)
    return final
