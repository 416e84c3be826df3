"""Cross-engine-deterministic expression helpers.

The driver verifies each query by order-insensitive **value hashing** against
DuckDB (SURVEY.md §0.1 [V]) — so float results must be *bit-identical*, not
merely close.  Two hazards and their engine-wide mitigations:

1. **Cross-row float aggregation order.**  ``SUM(double)`` over shuffled
   partitions sums in a different order than DuckDB's scan → last-ulp drift,
   which at lineitem-money magnitudes (~1e9 at sf0.1) can flip even a
   4-decimal rounding.  Mitigation: aggregate through ``DECIMAL`` — exact,
   associative, order-insensitive — then cast the (identical) decimal back
   to double.  ``money_sum`` (2-decimal data), ``stat_sum`` (float32-ish
   data rounded to 6 decimals per row first, where double→decimal rounding
   is unambiguous in both engines).

2. **Per-row transcendentals** (ln/exp/sin): JVM vs libm can differ by one
   ulp.  Per-row results are rounded (``r6``); anything *aggregated* from
   them goes through the decimal path so a one-ulp input difference cannot
   survive into a group total.

At 100 TB you would relax decimals back to doubles + tolerance comparison;
this is a correctness-gate posture, isolated here so the swap is one-line.
Integer outputs are normalized to BIGINT on both engines, temporal outputs
to strings/epoch seconds (driver-side dtype normalization is unspecified).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def money(col: Column | str) -> Column:
    """2-decimal monetary double -> exact DECIMAL(8,2).

    Precision 8 (max 999,999.99) covers every driver money column
    (l_extendedprice ≤ 105k, o_totalprice ≤ 500k — row *values* don't grow
    with scale factor, only sums do).  The point of 8 rather than 18:
    Spark's SUM over DECIMAL(p,s) yields DECIMAL(p+10,s), and p+10 ≤ 18
    keeps the accumulator long-backed (fast codegen path) instead of
    JavaBigDecimal — measured ~2.5× faster on the q1 aggregate.  The
    18-digit sum holds $10^14: at TPC-H sf100 the global revenue sum is
    ~$2·10^13, so there is headroom; widen to DECIMAL(9,2)+ only past that.
    """
    return _c(col).cast("decimal(8,2)")


def money_sum(col: Column | str, alias: str) -> Column:
    """Order-insensitive SUM for monetary columns, surfaced as double.

    DuckDB oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(8,2))) AS DOUBLE)``.
    """
    return F.sum(money(col)).cast("double").alias(alias)


def rev_sum(price: Column | str, disc: Column | str, alias: str) -> Column:
    """Exact Σ price·(1−disc) via integer cents: price and discount are
    2-decimal, so ``round(x·100)`` is an exact bigint and the whole sum is
    integer arithmetic — order-insensitive, overflow-safe to ~$9·10^14 of
    summed revenue per group, and on the fast long codegen path (no decimal
    multiply, which would widen past the long-backed precision).  The final
    /10^4 is exact while the integer sum < 2^53.

    DuckDB twin: ``dd_rev_sum``.
    """
    # floor(t + 0.5) == round-half-up for the positive 2-decimal inputs, and
    # stays in pure FP/long codegen — F.round on double goes through a
    # per-row BigDecimal (measured ~140 ms / 600k rows on q1).
    pc = F.floor(_c(price) * 100 + F.lit(0.5))
    dc = F.floor(_c(disc) * 100 + F.lit(0.5))
    return (F.sum(pc * (F.lit(100) - dc)).cast("double") / F.lit(10000.0)).alias(alias)


def money_avg(col: Column | str, alias: str) -> Column:
    """AVG via exact decimal sum / count (identical IEEE division).

    DuckDB twin: ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)/COUNT(x)``.
    """
    c = _c(col)
    return (F.sum(money(c)).cast("double") / F.count(c)).alias(alias)


def stat6(col: Column | str) -> Column:
    """float-ish value -> round 6 -> DECIMAL(18,6): deterministic row prep
    for order-insensitive statistics.  DuckDB twin:
    ``CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(18,6))``."""
    return F.round(_c(col).cast("double"), 6).cast("decimal(18,6)")


def stat_sum(col: Column | str, alias: str) -> Column:
    """Order-insensitive sum of 6-decimal-quantized values, as double."""
    return F.sum(stat6(col)).cast("double").alias(alias)


def big(col: Column | str, alias: str | None = None) -> Column:
    """Normalize derived integers (size(), row_number(), ...) to BIGINT."""
    out = _c(col).cast("bigint")
    return out.alias(alias) if alias else out


def r6(col: Column | str, alias: str | None = None) -> Column:
    """Round per-row float math to 6 decimals (transcendental insurance)."""
    out = F.round(_c(col).cast("double"), 6)
    return out.alias(alias) if alias else out


def day_str(ts_col: Column | str, alias: str | None = None) -> Column:
    """TIMESTAMP_NTZ -> 'yyyy-MM-dd' string (timezone-free; DuckDB twin:
    ``strftime(x, '%Y-%m-%d')``)."""
    out = F.date_format(_c(ts_col), "yyyy-MM-dd")
    return out.alias(alias) if alias else out


# --- DuckDB-side SQL fragment builders (keep the two dialects adjacent) ---

def dd_money_sum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(8,2))) AS DOUBLE) AS {alias}"


def dd_money_avg(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(8,2))) AS DOUBLE)/COUNT({expr}) AS {alias}"


def dd_rev_sum(price: str, disc: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(round({price} * 100) AS BIGINT)"
        f" * (100 - CAST(round({disc} * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS {alias}"
    )
