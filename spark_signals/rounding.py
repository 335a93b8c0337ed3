"""Cross-engine deterministic rounding primitives.

Shared by the parity layer (output rounding), the pipeline stages
(decision-boundary gridding), and the streaming replay (Python twin).
Lives in its own module so pipeline code can use the grid without a
circular import through spark_signals.parity.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def sround(col, dp: int):
    """Cross-engine-deterministic rounding: floor(x*10^dp + 0.5000001)/10^dp.

    Built from IEEE-exact primitives (multiply, add, floor, divide) so Spark
    and DuckDB produce bit-identical results — engine-native round
    implementations disagree on half-way doubles (Spark rounds the exact
    decimal expansion HALF_UP; DuckDB rounds x*10^dp in float space).

    The offset is 0.5 + 1e-7, not 0.5: input prices have 2-decimal structure,
    so frame averages land *exactly* on half-way boundaries where a 1-ulp
    cross-engine difference in the aggregate flips the rounded digit. The
    nudge moves the decision boundary to an unstructured point whose
    neighborhood (±ulp) real data essentially never hits.
    """
    scale = F.lit(float(10**dp))
    return F.floor(col * scale + F.lit(0.5000001)) / scale


def sround_sql(expr: str, dp: int) -> str:
    """:func:`sround` as Spark-SQL text (for selectExpr/F.expr call sites).

    Parses to the IDENTICAL Catalyst expression as the Column form — the
    ``D`` suffixes force double literals (a bare ``0.5000001`` would parse
    as DECIMAL(8,7) and change the arithmetic). String-built expressions
    cost ONE py4j round trip instead of ~6 Column calls; the pipeline
    chains are rebuilt per bench pass, where that construction tax is
    30-60% of query wall at sf0.1 (r16 measurement). Plan equality vs the
    Column form is pinned by tests/test_plan_equality.py."""
    scale = float(10**dp)
    return f"FLOOR(({expr}) * {scale!r}D + 0.5000001D) / {scale!r}D"


def micro_units_sql(expr: str, dp: int) -> str:
    """:func:`micro_units` as Spark-SQL text (see sround_sql)."""
    scale = float(10**dp)
    return f"FLOOR(({expr}) * {scale!r}D + 0.5000001D)"


def sql_str_lit(value) -> str:
    """A Python string as a Spark-SQL string literal, quotes and
    backslashes escaped.

    The SQL-text construction rewrite (r16) interpolates config/user
    strings (strategy_run_id, execution_mode, window labels, source names)
    into selectExpr text; a bare f-string ``'{value}'`` breaks — or injects
    SQL — the moment a value carries a single quote, where the former
    ``F.lit`` handled arbitrary strings (r16 advisory). Doubling embedded
    quotes is the ANSI escape both engines parse. Spark's default parser
    (``spark.sql.parser.escapedStringLiterals=false``) also reads backslash
    escapes inside literals — a trailing ``\\`` leaves the literal
    unterminated and ``\\n`` becomes a newline — so backslashes are doubled
    first. The result is Spark-only text: DuckDB reads backslashes
    literally."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "''") + "'"


def sround_py(x: float, dp: int) -> float:
    """Python twin of :func:`sround` — the identical IEEE operation sequence
    (multiply, add, floor, divide), so the streaming replay stays
    bit-identical to the batch plan wherever both grid the same double."""
    scale = float(10**dp)
    return math.floor(x * scale + 0.5000001) / scale


def micro_units(col, dp: int):
    """Exact integer grid units: floor(x·10^dp + 0.5000001) as BIGINT.

    Same grid + nudge as sround, but materialized as an integer so
    downstream SUM/AVG is exact and associative — summation order (partition
    count, AQE coalescing, micro-batch boundaries, engine) cannot change the
    result by even 1 ulp. (Spark's floor(double) already returns LongType;
    no cast needed.)

    Precondition for the bit-identical claim: |Σ micro-units| per group must
    stay < 2^53 so the BIGINT→DOUBLE cast in the final division is exact.
    Holds with huge margin here (dp≤9 over sub-unit-magnitude values,
    ≤~10^4 rows/bucket ⇒ |Σ| ≲ 10^13 ≪ 2^53 ≈ 9·10^15); re-check before
    reusing at higher dp or group sizes.
    """
    return F.floor(col * F.lit(float(10**dp)) + F.lit(0.5000001))


def exact_avg(sum_col, count_col, dp: int):
    """(Σ micro-units / n) / 10^dp with one IEEE-exact division chain.

    Both operands are exact integers (< 2^53 — see micro_units), so every
    engine computes bit-identical doubles (IEEE division is exactly
    rounded). NULL-safe: an all-NULL group yields SUM=NULL → NULL."""
    return (sum_col.cast("double") / count_col.cast("double")) / F.lit(float(10**dp))
