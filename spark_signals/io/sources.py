"""Tick-stream sources.

The engine's primary input is the ``prices_raw`` stream (reference DDL:
flink_jobs/__main__.py:51-74 — product_id, price, best_bid, best_ask,
volume_24h, sequence, side, event_time, source). Batch mode reads parquet/JSON
archives; streaming mode (spark_signals.streaming) reads file or Kafka sources
with the same schema and a 5s watermark.

``load_ticks`` adapts the driver's synthetic ``events`` table
(event_id, ts, user_id, event_type, value, props — see TESTDATA.md) into that
contract deterministically, per FIXTURES.md §5:

    event_id  → sequence
    ts        → event_time
    user_id   → product_id   ("P-<id>")
    value     → price; best_bid/ask synthesized as value ∓ 5 bps,
                NULL on event_type='error' rows to exercise the
                mid-price fallback (reference: sma_cross.py:67-70)
    event_type→ side

The same mapping is expressed in ANSI SQL in spark_signals.oracle so DuckDB
sees bit-identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_signals.rounding import sql_str_lit

# Fixed schema — no runtime inference, parse errors dropped
# (reference: __main__.py:53-71, 'json.ignore-parse-errors').
PRICES_RAW_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType(), False),
        T.StructField("price", T.DoubleType(), False),
        T.StructField("best_bid", T.DoubleType(), True),
        T.StructField("best_ask", T.DoubleType(), True),
        T.StructField("volume_24h", T.DoubleType(), True),
        T.StructField("sequence", T.LongType(), True),
        T.StructField("side", T.StringType(), True),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

BID_FACTOR = 0.9995
ASK_FACTOR = 1.0005


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime session confs the engine's semantics depend on.

    Called defensively from every reader because the driver may hand us a
    SparkSession it built itself: the test parquet stores timestamp[ns]
    (unreadable without nanosAsLong), and event-time semantics are defined
    in UTC (SURVEY.md §1.3).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def utc_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    The driver's parquet has shipped as both int64-ns and timestamp-µs
    (isAdjustedToUTC=false); the latter surfaces as TIMESTAMP_NTZ, which
    `unix_micros` and streaming `withWatermark` both reject. Event-time
    semantics are defined in UTC (SURVEY.md §1.3) and the session TZ is
    pinned to UTC, so the cast is an exact reinterpretation — every consumer
    sees ONE type regardless of which parquet flavor was generated.
    """
    ntz = {
        cname: F.col(cname).cast("timestamp")
        for cname, dtype in df.dtypes
        if dtype == "timestamp_ntz"
    }
    # one withColumns projection, not a per-column withColumn loop: every
    # DataFrame op re-analyzes the whole plan on the driver, and this runs
    # inside every read_table call (r16: ~3 NTZ columns on lineitem alone)
    return df.withColumns(ntz) if ntz else df


# Inferred-schema cache keyed by (path, mtime_ns, size). A bare
# spark.read.parquet re-infers the schema with a small driver-side
# footer-read job on EVERY query build — ~50-100 ms per table per query at
# r16. A catalog-backed warehouse table carries its schema in the metastore
# and never pays this; passing the once-inferred schema explicitly mirrors
# that. The mtime+size token invalidates on in-place regeneration — the
# driver has rewritten testdata between rounds, even switching parquet
# timestamp flavor (same keying as streaming.parity._materialize_tick_files;
# r16 advisory). Only the fixed source tables go through this cache —
# mutable pipeline outputs keep full inference. (Schemas are inferred under
# ensure_session_confs, so the nanosAsLong / NTZ flavor baked into the cache
# matches what inference would return.)
_PARQUET_SCHEMA_CACHE: dict[tuple[str, int, int], T.StructType] = {}


def _schema_cache_key(path: str) -> tuple[str, int, int]:
    import os

    # never cache (the sentinel key can't match any stored entry):
    # a directory table's own mtime/size does not change when a data file
    # inside it is rewritten, and a remote path has no stat target at all
    if os.path.isdir(path):
        return (path, -1, -1)
    try:
        st = os.stat(path)
    except OSError:
        return (path, -1, -1)
    return (path, st.st_mtime_ns, st.st_size)


def _read_fixed_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = _schema_cache_key(path)
    schema = _PARQUET_SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if key[1] >= 0:
            _PARQUET_SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = _read_fixed_parquet(spark, f"{sf_dir}/{name}.parquet")
    # events.ts is parquet timestamp[ns] in some driver generations;
    # nanosAsLong surfaces the raw int64 — truncate to µs exactly as DuckDB
    # does reading the same file.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return utc_timestamps(df)


def load_ticks(
    spark: SparkSession,
    sf_dir: str,
    source: str = "events",
    start_ts=None,
    end_ts=None,
) -> DataFrame:
    """events.parquet → prices_raw tick stream (deterministic adapter).

    Optional replay bounds are applied to the RAW int64 nanosecond column
    *before* the ns→µs conversion so they reach the parquet scan as
    PushedFilters (a bound on the converted timestamp would sit above the
    projection and scan everything) — the Kafka seek-by-timestamp analog
    with rowgroup pruning.
    """
    ensure_session_confs(spark)
    ev = _read_fixed_parquet(spark, f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        import datetime as dt

        def _ns(b):
            if isinstance(b, str):
                b = dt.datetime.fromisoformat(b)
            return int(b.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000_000)

        if start_ts is not None:
            ev = ev.filter(F.col("ts") >= F.lit(_ns(start_ts)))
        if end_ts is not None:
            # +999 ns: inclusive at µs resolution after the ns→µs truncation
            ev = ev.filter(F.col("ts") <= F.lit(_ns(end_ts) + 999))
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # timestamp-µs parquet: bounds are cast to the RAW column's own type
        # (TIMESTAMP_NTZ in that flavor) so the comparison sits directly on
        # the scanned column and reaches the scan as PushedFilters; the
        # NTZ→LTZ normalization happens in the projection above them.
        ts_type = dict(ev.dtypes)["ts"]
        if start_ts is not None:
            ev = ev.filter(F.col("ts") >= F.lit(start_ts).cast(ts_type))
        if end_ts is not None:
            ev = ev.filter(F.col("ts") <= F.lit(end_ts).cast(ts_type))
        ev = utc_timestamps(ev)
    # SQL-text projection: one py4j round trip instead of ~30 Column calls
    # (identical Catalyst expressions — tests/test_plan_equality.py); the D
    # suffixes keep the bid/ask factors double literals.
    return ev.selectExpr(
        "concat('P-', CAST(user_id AS STRING)) AS product_id",
        "value AS price",
        f"CASE WHEN NOT (event_type = 'error') THEN value * {BID_FACTOR!r}D END"
        " AS best_bid",
        f"CASE WHEN NOT (event_type = 'error') THEN value * {ASK_FACTOR!r}D END"
        " AS best_ask",
        "CAST(NULL AS DOUBLE) AS volume_24h",
        "event_id AS sequence",
        "event_type AS side",
        "ts AS event_time",
        f"{sql_str_lit(source)} AS source",
    )


def read_prices_raw(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
) -> DataFrame:
    """Batch read of an archived tick stream in the prices_raw schema.

    JSON mode enforces the fixed schema and silently drops malformed rows —
    the Spark analog of the reference's ``json.ignore-parse-errors=true``
    (reference: __main__.py:71) + producer-side validation-drop
    (producer/run.py:62-91): PERMISSIVE parsing nulls out bad fields, and the
    NOT NULL contract columns filter those rows away.
    """
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        df = spark.read.schema(PRICES_RAW_SCHEMA).option("mode", "PERMISSIVE").json(path)
        return df.filter(
            F.col("product_id").isNotNull()
            & F.col("price").isNotNull()
            & F.col("event_time").isNotNull()
        )
    raise ValueError(f"unsupported tick format: {fmt}")


def union_with_replay(live: DataFrame, replay: DataFrame) -> DataFrame:
    """U1 — live ∪ replayed history for backtests (reference: sma_cross.py:43-52).

    unionByName keeps the operation position-independent; both inputs must
    already be in the prices_raw contract.
    """
    return live.unionByName(replay)
