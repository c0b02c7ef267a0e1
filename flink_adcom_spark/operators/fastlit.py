"""Constant-folding-friendly literal builders for matrix/array constants.

PySpark's ``F.lit`` on a Python list expands to ``F.array(*[F.lit(x) ...])``
— ONE py4j round trip per element. A PQ codebook (16 x 8 doubles) costs
~125 ms of pure driver-side py4j chatter to build, and the vector-family
queries embed 8-16 such matrices per plan BUILD (the bench builds each
query 3x): measured 0.99 s for 8 codebooks via ``F.lit`` vs 0.009 s via a
single ``F.expr`` parse of the equivalent SQL array literal (110x). The
guide's §1.2 "per-task work" step applied to the DRIVER: the resulting
Catalyst literal is value- and dtype-identical (asserted in
tests/test_fastlit.py), only its construction path changes.

A double MATRIX is one further step: spelled as nested ``array(...)`` calls
it still parses in one py4j trip, but it enters the analysed plan as a
k x d ``CreateArray`` tree that the analyzer and optimizer walk node by
node (a 16 x 8 PQ codebook is ~1,000 nodes; an 8-codebook select carries
eight). ``double_matrix_lit`` therefore spells the matrix as
``from_json('<json>', 'array<array<double>>')``: ONE string literal in the
analysed plan, which constant folding turns into ONE array literal before
execution, so the executed plan is unchanged. Measured on one 8-code select
(similarity.pq_index_codes over the sf0.01 embeddings, 4 vCPUs, median of 12
builds to the analysed plan): 327 ms with nested arrays, 88 ms with this
spelling (437 ms when the fold was also built through PySpark's lambda
API); the collected codes are identical.

Float portability: ``repr(float)`` emits the shortest decimal that
round-trips to the same IEEE-754 binary64 in Python; Java's
``Double.parseDouble`` (behind both the SQL parser and the JSON reader) is
also correctly rounded, so the parsed literal is bit-identical to what
``F.lit`` would have produced. Non-finite values (inf/nan) have no SQL or
JSON spelling and raise instead — no call site ever embeds them in a matrix
constant.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _r(x: float) -> str:
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite value {x!r} has no SQL double literal")
    return repr(x)


def _d(x: float) -> str:
    return _r(x) + "D"


def double_array_lit(vec) -> Column:
    """array<double> literal via one F.expr parse (empty -> typed empty)."""
    vec = list(vec)
    if not vec:
        return F.expr("CAST(array() AS array<double>)")
    return F.expr("array(" + ",".join(_d(x) for x in vec) + ")")


def double_matrix_sql(matrix) -> str:
    """SQL text of an array<array<double>> literal that analyses to ONE
    literal node (module docstring), for embedding in a larger F.expr.

    Empty rows (the lloyd_kmeans empty-cluster placeholder shape) are
    rejected loudly: callers never pass them (lloyd_kmeans re-inserts the
    previous centroid)."""
    rows = [list(r) for r in matrix]
    if not rows or any(not r for r in rows):
        raise ValueError("double_matrix_lit: empty matrix/row")
    body = ",".join("[" + ",".join(_r(x) for x in r) + "]" for r in rows)
    return f"from_json('[{body}]', 'array<array<double>>')"


def double_matrix_lit(matrix) -> Column:
    """array<array<double>> literal via one F.expr parse (double_matrix_sql)."""
    return F.expr(double_matrix_sql(matrix))


def _i32(v: int) -> bool:
    return -(1 << 31) <= v < (1 << 31)


def int_array_lit(vec) -> Column:
    """array<int> literal via one F.expr parse. Values outside int32 fall
    back to the element-wise F.lit path, which (like the original call
    sites) widens them to bigint — same dtype the old code would produce."""
    vals = [int(x) for x in vec]
    if not vals or not all(_i32(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(str(v) for v in vals) + ")")


def int_matrix_lit(matrix) -> Column:
    """array<array<int>> literal via one F.expr parse (int32 overflow falls
    back to the element-wise path, as int_array_lit)."""
    rows = [[int(x) for x in r] for r in matrix]
    if not rows or any(not r for r in rows) or not all(
        _i32(v) for r in rows for v in r
    ):
        return F.array(*[F.array(*[F.lit(v) for v in r]) for r in rows])
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(str(v) for v in r) + ")" for r in rows)
        + ")"
    )
