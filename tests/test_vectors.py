"""Vector-prep operator contracts: unit norms, quantization error bounds,
cosine preservation after quantization."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flink_adcom_spark.operators.vectors import (
    dequantize_int8,
    l2_normalize,
    quantize_int8,
)
from flink_adcom_spark.tables import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def test_l2_normalize_unit_norm(spark, sf_dir):
    e = _emb(spark, sf_dir).withColumn("nv", l2_normalize(F.col("v")))
    norms = e.select(
        F.sqrt(F.aggregate("nv", F.lit(0.0), lambda a, x: a + x * x)).alias("n")
    ).collect()
    assert norms and all(abs(r["n"] - 1.0) < 1e-9 for r in norms)


def test_l2_normalize_zero_vector_stays_zero(spark):
    df = spark.createDataFrame([([0.0, 0.0, 0.0],)], "v array<double>")
    out = df.select(l2_normalize(F.col("v")).alias("nv")).collect()[0]["nv"]
    assert list(out) == [0.0, 0.0, 0.0]


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    e = (
        _emb(spark, sf_dir)
        .withColumn("qs", quantize_int8(F.col("v")))
        .withColumn("back", dequantize_int8(F.col("qs")))
    )
    rows = e.select("v", "back", F.col("qs.scale").alias("scale")).collect()
    assert rows
    for r in rows:
        half = r["scale"] / 2 + 1e-12
        for x, y in zip(r["v"], r["back"]):
            assert abs(x - y) <= half, (x, y, r["scale"])


def test_quantized_cosine_close_to_exact(spark, sf_dir):
    rows = (
        _emb(spark, sf_dir)
        .limit(40)
        .withColumn("back", dequantize_int8(quantize_int8(F.col("v"))))
        .collect()
    )

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    vs = [list(r["v"]) for r in rows]
    qs = [list(r["back"]) for r in rows]
    for i in range(0, 40, 7):
        for j in range(1, 40, 11):
            assert abs(cos(vs[i], vs[j]) - cos(qs[i], qs[j])) < 0.02

