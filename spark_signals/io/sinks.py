"""Batch sinks + storage maintenance — S2-S7, D1, D2.

The reference fans out to Kafka topics and TimescaleDB hypertables with
date-chunked, instrument-subpartitioned layout, 12h compression and 90-day
retention (reference __main__.py:76-227, 02_schema.sql:48-66). The Spark
analog (SURVEY.md §2.10): date-partitioned parquet per sink table —
natively columnar-compressed (D2's compression policy is free), partition
pruning standing in for chunk exclusion (D1), and retention as a partition
delete job. JDBC sinks are the same `df.write` call behind an option
(`jdbc_url`) — buffered/batched writes map to the JDBC `batchsize` option
(reference's sink.buffer-flush.max-rows=100-200, __main__.py:168-224).
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from spark_signals.pipeline.builder import PipelineOutputs, persist_for_fanout

# per-sink event-time column for date partitioning (D1 chunking analog)
SINK_TIME_COLUMNS = {
    "prices_normalized": "event_time",
    "signals_decisions": "signal_time",
    "strategy_executions": "signal_time",
    "strategy_positions": "event_time",
    "strategy_metrics": "metric_time",
    "strategy_metrics_hourly": "bucket",
}


def _write_sink(
    name: str,
    df: DataFrame,
    path: str,
    jdbc_url: str | None,
    jdbc_batchsize: int,
) -> None:
    out = df.withColumn("event_date", F.to_date(F.col(SINK_TIME_COLUMNS[name])))
    out.write.mode("overwrite").partitionBy("event_date").parquet(path)
    if jdbc_url is not None:
        # buffered JDBC append (S5-S7): batchsize = the reference's
        # sink.buffer-flush.max-rows. Exercised end-to-end against
        # an embedded Derby database (bundled with Spark) in
        # tests/test_jdbc_sink.py; a Postgres URL drops in unchanged.
        df.write.format("jdbc").option("url", jdbc_url).option(
            "dbtable", name
        ).option("batchsize", jdbc_batchsize).mode("append").save()


def write_sinks(
    outputs: PipelineOutputs,
    root: str,
    jdbc_url: str | None = None,
    jdbc_batchsize: int = 200,
) -> dict[str, str]:
    """Batch multi-sink fan-out: one shared relation, concurrent writes.

    persist_for_fanout pins ``outputs.shared``, the one relation every sink
    projects or aggregates, so the window stage runs once per pass (the
    reference StatementSet merge, SURVEY.md §4). The six sink writes are
    small jobs whose fixed scheduling cost dominates, so they are submitted
    at once from a pool with one thread per sink; the scheduler interleaves
    their stages on the shared executors. Each thread inherits the caller's
    job group and local properties. A sink's JDBC append follows its own
    parquet write. Every write is awaited before the shared relation is
    unpersisted; then the first failure (in sink order) is re-raised, with
    any further failures attached as notes.

    Each table is written date-partitioned; at 100 TB this is what makes
    retention (partition delete) and time-ranged reads (partition pruning)
    O(touched days), not O(history).
    """
    sinks = outputs.sinks()
    paths = {name: os.path.join(root, name) for name in sinks}
    spark = outputs.shared.sparkSession
    persist_for_fanout(outputs)
    try:
        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            # one wrap per sink: each clones the caller's local properties,
            # so the threads' SQL execution ids never share a Properties
            futures = [
                pool.submit(
                    inheritable_thread_target(spark)(_write_sink),
                    name, df, paths[name], jdbc_url, jdbc_batchsize,
                )
                for name, df in sinks.items()
            ]
        # leaving the pool's block waited for every write
        failures = [(name, f.exception()) for name, f in zip(sinks, futures)]
    finally:
        outputs.shared.unpersist()
    errors = [(name, err) for name, err in failures if err is not None]
    if errors:
        first = errors[0][1]
        for name, err in errors[1:]:
            first.add_note(f"sink {name} also failed: {err!r}")
        raise first
    return paths


def apply_retention(spark: SparkSession, table_path: str, keep_days: int, now=None) -> int:
    """D2 retention policy analog: drop date partitions older than the
    horizon (reference: add_retention_policy '90 days', 02_schema.sql:63).

    Partition-level deletes — no data rewrite, no scan of survivors.
    Returns the number of dropped partitions.
    """
    import datetime as dt

    now = now or dt.date.today()
    horizon = now - dt.timedelta(days=keep_days)
    dropped = 0
    if not os.path.isdir(table_path):
        return 0
    for entry in os.listdir(table_path):
        if not entry.startswith("event_date="):
            continue
        try:
            pdate = dt.date.fromisoformat(entry.split("=", 1)[1])
        except ValueError:
            continue
        if pdate < horizon:
            shutil.rmtree(os.path.join(table_path, entry))
            dropped += 1
    return dropped


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str = "product_id",
    buckets: int = 32,
) -> str:
    """Hash-bucketed, per-bucket-sorted table layout (D1's hash
    subpartitioning, reference 02_schema.sql:48-55, as a *join co-location*
    lever).

    Two tables bucketed on the same key with the same bucket count
    equi-join with ZERO exchanges — at 100 TB this converts the nightly
    fact⋈fact joins (e.g. positions ⋈ executions by instrument) from a
    full dual shuffle into a local zipper per bucket. The write itself
    shuffles once into `buckets` output tasks; reads are shuffle-free
    forever after (write-once, join-many amortization).
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
    return table
