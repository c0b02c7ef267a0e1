"""fastlit literals must be value- and dtype-identical to F.lit(list).

The optimization (operators/fastlit.py) only changes HOW the Catalyst
literal is constructed (one F.expr parse vs one py4j call per element);
any value or dtype drift would silently change every kmeans assignment,
PQ codebook lookup and perceptron margin, so equality is asserted against
the original F.lit path on representative and adversarial values
(round-trip-critical doubles, int32 boundaries, the bigint fallback).
"""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from flink_adcom_spark.operators.fastlit import (
    double_array_lit,
    double_matrix_lit,
    int_array_lit,
    int_matrix_lit,
)

ADVERSARIAL_DOUBLES = [
    0.0, -0.0, 1.0, -1.5, 1 / 3, 2 / 3, 0.1, 1e-300, -1e300, 5e-324,
    1.7976931348623157e308, 123456789.123456789, math.pi, -math.e,
    6.02214076e23, 1e-05,
]


def _flatten(v):
    if isinstance(v, (list, tuple)):
        out = []
        for x in v:
            out.extend(_flatten(x))
        return out
    return [v]


def _cmp(spark, fast_col, slow_col):
    df = spark.range(1).select(fast_col.alias("a"), slow_col.alias("b"))
    assert (
        df.schema["a"].dataType.simpleString()
        == df.schema["b"].dataType.simpleString()
    )
    row = df.select("a", "b").collect()[0]
    a, b = _flatten(row["a"]), _flatten(row["b"])
    assert len(a) == len(b), f"shape drift: {row['a']!r} != {row['b']!r}"
    for x, y in zip(a, b):
        # BIT-level equality (ADVICE r14): SQL `a = b` treats -0.0 == 0.0,
        # so a sign-of-zero drift between the F.expr and F.lit paths would
        # pass silently; struct.pack compares the raw 8/4-byte payloads. A
        # None on either side is a value drift, reported as one before
        # struct.pack would raise a TypeError that hides it.
        if x is None or y is None:
            assert x is y, f"value drift: {x!r} != {y!r}"
        elif isinstance(x, float) or isinstance(y, float):
            assert struct.pack("<d", x) == struct.pack("<d", y), (
                f"bit drift: {x!r} != {y!r} (of {row['a']!r} vs {row['b']!r})"
            )
        else:
            assert x == y, f"value drift: {x!r} != {y!r}"


def test_double_array_lit_matches_f_lit(spark):
    _cmp(
        spark,
        double_array_lit(ADVERSARIAL_DOUBLES),
        F.lit([float(x) for x in ADVERSARIAL_DOUBLES]),
    )


def test_double_matrix_lit_matches_f_lit(spark):
    mat = [ADVERSARIAL_DOUBLES[i : i + 4] for i in range(0, 16, 4)]
    _cmp(spark, double_matrix_lit(mat), F.lit([[float(x) for x in r] for r in mat]))


def test_double_matrix_lit_rejects_empty_row():
    with pytest.raises(ValueError):
        double_matrix_lit([[1.0], []])


def test_double_lit_rejects_nonfinite():
    with pytest.raises(ValueError):
        double_array_lit([1.0, float("inf")])


def test_int_array_lit_matches_f_lit(spark):
    vals = [0, 1, -1, (1 << 31) - 1, -(1 << 31), 42]
    _cmp(spark, int_array_lit(vals), F.array(*[F.lit(int(v)) for v in vals]))


def test_int_array_lit_bigint_fallback(spark):
    vals = [1, 1 << 40]  # out of int32: must widen exactly like F.lit
    _cmp(spark, int_array_lit(vals), F.array(*[F.lit(int(v)) for v in vals]))


def test_int_matrix_lit_matches_f_lit(spark):
    mat = [[1, 2, 3], [-4, 5, 6], [0, (1 << 31) - 1, -(1 << 31)]]
    _cmp(
        spark,
        int_matrix_lit(mat),
        F.array(*[F.array(*[F.lit(int(v)) for v in r]) for r in mat]),
    )


def _bits(v):
    return [struct.pack("<d", x) for x in v]


def _lambda_dists(vec_col, matrix):
    """The per-centroid fold as the lambda API spelled it before
    operators/kmeans.py::sq_dists: the reference the one-parse form must
    reproduce bit for bit."""
    return F.transform(
        F.lit([[float(x) for x in r] for r in matrix]),
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _literal_nodes(df) -> int:
    """Literal nodes in the analysed plan's top projection (JVM tree walk)."""
    plan = df._jdf.queryExecution().analyzed()
    exprs = plan.expressions()
    stack = [exprs.apply(i) for i in range(exprs.size())]
    n = 0
    while stack:
        e = stack.pop()
        n += e.getClass().getSimpleName() == "Literal"
        ch = e.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return n


def test_double_matrix_lit_adversarial_rows_bit_identical(spark):
    """The matrix literal is one JSON string parsed by the JVM: every
    round-trip-critical double (-0.0, the smallest subnormal, the largest
    finite) must arrive with the same bits as F.lit, in every row shape."""
    for mat in (
        [[x] for x in ADVERSARIAL_DOUBLES],
        [ADVERSARIAL_DOUBLES[:8], ADVERSARIAL_DOUBLES[8:]],
        [[-0.0, 5e-324, 1.7976931348623157e308]],
    ):
        _cmp(spark, double_matrix_lit(mat), F.lit([[float(x) for x in r] for r in mat]))


# Four 4-d centroids and vectors with planted ties: [1,0,0,0] sits at
# squared distance 1 from c0 and c1, [1,1,0,0] at 2 from c0, c1 and c2, so
# the lowest-index rule decides both ranks; the rest carry inexact decimals
# whose sums depend on the fold order.
TIE_CENTS = [[0.0, 0.0, 0.0, 0.0], [2.0, 0.0, 0.0, 0.0], [0.0, 2.0, 0.0, 0.0],
             [0.1, 0.7, 1 / 3, 3.0]]
TIE_VECS = [[1.0, 0.0, 0.0, 0.0], [1.0, 1.0, 0.0, 0.0], [0.05, 0.35, 1 / 6, 5e-324],
            [0.3, -0.2, 0.9, 1e-05], [2.0, 0.0, 0.0, 0.0], [-1.5, math.pi, 0.1, -0.0]]


def _ranks(d):
    first = min(range(len(d)), key=lambda i: (d[i], i))
    second = min((i for i in range(len(d)) if i != first), key=lambda i: (d[i], i))
    return first, second


def test_centroid_fold_matches_lambda_form(spark):
    """sq_dists, cluster_expr and assign_clusters_ranked give the lambda
    form's distance bits and codes, ties included."""
    from flink_adcom_spark.operators.kmeans import (
        assign_clusters_ranked,
        cluster_expr,
        sq_dists,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(TIE_VECS)], "id INT, v ARRAY<DOUBLE>"
    )
    got = (
        assign_clusters_ranked(df, "v", TIE_CENTS)
        .select(
            "id", "cluster", "cluster2",
            sq_dists("v", TIE_CENTS).alias("new"),
            _lambda_dists("v", TIE_CENTS).alias("old"),
            cluster_expr("v", TIE_CENTS).alias("code"),
        )
        .orderBy("id")
        .collect()
    )
    assert len(got) == len(TIE_VECS)
    for r in got:
        assert _bits(r["new"]) == _bits(r["old"]), (r["new"], r["old"])
        first, second = _ranks(r["old"])
        assert (r["code"], r["cluster"], r["cluster2"]) == (first, first, second)
    # the planted ties really are ties, resolved to the lower index
    assert (got[0]["cluster"], got[0]["cluster2"]) == (0, 1)
    assert (got[1]["cluster"], got[1]["cluster2"]) == (0, 1)


def test_adc_lut_matches_lambda_form(spark):
    """adc_topk's lookup tables (sq_dists over the qv{m} slices) keep the
    lambda form's bits, and the ranked top-k equals the one the lambda-form
    tables give, with planted distance ties broken by n_id."""
    from flink_adcom_spark.operators.kmeans import sq_dists
    from flink_adcom_spark.queries.similarity import (
        PQ_K, PQ_M, PQ_SUB, TOP_K, adc_topk, pq_query_slices,
    )

    def vec(seed, n):
        return [((seed * 7919 + j * 104729) % 1000) / 997.0 - 0.5 for j in range(n)]

    books = [[vec(m * PQ_K + j, PQ_SUB) for j in range(PQ_K)] for m in range(PQ_M)]
    # query 1 is centroid m % 2 of every codebook m, so rows 10 and 11, which
    # share that code word, both sit at distance exactly 0: a planted tie
    q = spark.createDataFrame(
        [(0, vec(99, PQ_SUB * PQ_M)),
         (1, [x for m in range(PQ_M) for x in books[m][m % 2]])],
        "vec_id INT, v ARRAY<DOUBLE>",
    )
    tie = [m % 2 for m in range(PQ_M)]
    codes = [(10, tie), (11, tie), (12, [0] * PQ_M), (13, [1] * PQ_M),
             (14, [3] * PQ_M), (15, [5, 9] * (PQ_M // 2))]
    x = spark.createDataFrame(
        [(n, *c) for n, c in codes],
        "n_id INT, " + ", ".join(f"c{m} INT" for m in range(PQ_M)),
    )
    qs = pq_query_slices(q)
    luts = qs.select(
        "q_id",
        *[sq_dists(f"qv{m}", books[m]).alias(f"new{m}") for m in range(PQ_M)],
        *[_lambda_dists(f"qv{m}", books[m]).alias(f"lut{m}") for m in range(PQ_M)],
    )
    for r in luts.collect():
        for m in range(PQ_M):
            assert _bits(r[f"new{m}"]) == _bits(r[f"lut{m}"])

    adc = F.lit(0.0)
    for m in range(PQ_M):
        adc = adc + F.element_at(f"lut{m}", F.col(f"c{m}") + 1)
    pairs = (
        luts.crossJoin(x)
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(adc, 6).alias("adc_dist"))
        .collect()
    )
    want = []
    for qid in (0, 1):
        ranked = sorted((r["adc_dist"], r["n_id"]) for r in pairs if r["q_id"] == qid)
        want += [(qid, n, d, i + 1) for i, (d, n) in enumerate(ranked[:TOP_K])]
    got = sorted(tuple(r) for r in adc_topk(qs, x, books).collect())
    assert [(a, b, struct.pack("<d", d), k) for a, b, d, k in got] == [
        (a, b, struct.pack("<d", d), k) for a, b, d, k in sorted(want)
    ]
    assert [r for r in got if r[0] == 1][:2] == [(1, 10, 0.0, 1), (1, 11, 0.0, 2)]


def test_cluster_expr_analyses_to_constant_literals(spark):
    """A 16 x 8 centroid matrix enters cluster_expr's analysed expression
    as O(1) literal nodes, not one per element: the distance array appears
    twice (argmin needs its min), each with the matrix string and the 0.0D
    seed, plus the index offset. The walk counts >= 128 for the
    element-wise F.lit spelling, so it does see matrix elements."""
    from flink_adcom_spark.operators.kmeans import cluster_expr

    mat = [[float(i * 8 + j) / 7 for j in range(8)] for i in range(16)]
    df = spark.range(1).select(F.array_repeat(F.lit(0.5), 8).alias("v"))
    assert _literal_nodes(df.select(cluster_expr("v", mat).alias("c"))) <= 6
    assert _literal_nodes(df.select(_lambda_dists("v", mat).alias("d"))) >= 128
