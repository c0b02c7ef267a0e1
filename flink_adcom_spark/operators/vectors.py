"""Embedding-column preparation operators: L2-normalize and int8 quantize.

Training pipelines store embeddings at 100 TB scale; two standard prep steps
before indexing/search:

- `l2_normalize`: unit-norm vectors make cosine == dot product, halving the
  arithmetic in every downstream similarity join (queries/similarity.py).
- `quantize_int8` / `dequantize_int8`: symmetric per-vector int8 quantization
  — 4x smaller than float32 (8x vs float64) with ~0.4% max error per
  component; at 100 TB this is the difference between an index that fits on
  the cluster and one that doesn't.

Both are pure higher-order-function column expressions (JVM-side, codegen'd;
no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .pairdots import norm


def l2_normalize(vec: Column) -> Column:
    """vec / ||vec||; zero vectors stay zero."""
    n = norm(vec)
    return F.when(n == 0.0, vec).otherwise(F.transform(vec, lambda x: x / n))


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector quantization to a struct(scale, q array<tinyint>):
    q = round(x * 127 / amax), scale = amax / 127. Empty/zero vectors get
    scale 0."""
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = F.when(amax > 0.0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.when(amax > 0.0, F.transform(vec, lambda x: F.round(x / scale).cast("tinyint"))).otherwise(
        F.transform(vec, lambda x: F.lit(0).cast("tinyint"))
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(qstruct: Column) -> Column:
    """Inverse of quantize_int8 (lossy: component error <= scale/2)."""
    scale = qstruct.getField("scale")
    return F.transform(qstruct.getField("q"), lambda x: x.cast("double") * scale)
