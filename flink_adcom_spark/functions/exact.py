"""Cross-engine-exact aggregation helpers.

Problem: double-precision SUM/AVG results differ between engines in the last
ulps (summation order), and ROUND on doubles is not portable either — Spark
rounds the value's shortest decimal representation HALF_UP (BigDecimal.valueOf),
DuckDB rounds the raw binary double — so a sum landing on a half-boundary
(x.xx50, common for 2-4-decimal money data) rounds differently per engine.

Fix: the synthetic money columns carry at most 2 true decimals, so we lift them
into DECIMAL before aggregating. Decimal arithmetic is exact and
order-independent, hence bit-identical across Spark and DuckDB; the final
CAST(.. AS DOUBLE) is correctly rounded in both. Averages are computed as
exact-sum / count (double division of identical operands — identical bits).

Precisions are kept small (prices DECIMAL(12,2), rates DECIMAL(3,2)) so that
decimal multiplication never exceeds precision 38 and never triggers Spark's
precision-loss truncation.

This mirrors what a production TPC-H schema does anyway (money IS decimal);
here the parquet carries doubles, so the cast is part of the query contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "DECIMAL(12,2)"  # prices / balances: < 10^10, 2 decimals
RATE = "DECIMAL(3,2)"  # discount / tax: [0, 1], 2 decimals


def dec_sum(expr: Column | str, typ: str = MONEY) -> Column:
    """Exact SUM of a ≤2-decimal double column, returned as double."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.sum(c.cast(typ)).cast("double")


def dec_avg(expr: Column | str, typ: str = MONEY) -> Column:
    """Exact-sum average with AVG's NULL semantics (sum / non-null count),
    returned as double. COUNT(col), not COUNT(*): dividing by the row count
    would silently deflate the average of any nullable column (SUM skips
    NULLs, so the denominators must skip the same rows)."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.sum(c.cast(typ)).cast("double") / F.count(c)


def sql_dec_sum(expr: str, typ: str = MONEY) -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE)"


# -- decimal column factories for derived money expressions -------------------

def money(col: str) -> Column:
    return F.col(col).cast(MONEY)


def rate(col: str) -> Column:
    return F.col(col).cast(RATE)


def sql_money(col: str) -> str:
    return f"CAST({col} AS {MONEY})"


def sql_rate(col: str) -> str:
    return f"CAST({col} AS {RATE})"
