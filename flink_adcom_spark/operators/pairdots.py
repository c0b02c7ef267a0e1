"""The one exact-cosine law of the similarity family, in two forms.

The law: ``cosine(a, b) = round(dot(a, b) / (|a| * |b|), 6)``, where
``dot`` is the left fold ``((0.0 + a0*b0) + a1*b1) + ...`` in index order
and ``|v|`` is the square root of the same fold over ``v``'s squares. The
DuckDB oracles compute the identical doubles; rounding to 6 decimals
before any rank or threshold keeps summation-order noise (~1e-15) from
flipping a result.

Two forms compute it:

- **Row form.** `norm(v)` and `cosine(a, an, b, bn)` are Column
  expressions (`aggregate` over `zip_with`), evaluated once per row of
  whatever relation holds the pair. They take names or Columns, so a
  `transform` over a literal matrix (q169) can call them per element.
- **Blocked form.** `pair_cosine(left, right, on, ...)` cogroups two
  frames on a blocking key (LSH bucket, k-means cluster, multiprobe
  bucket) and computes each group's full dot matrix in one NumPy kernel.
  Each vector crosses the Arrow boundary once per group instead of once
  per pair, which is AdCom's combine-before-the-shuffle rule applied to a
  pair join. The kernel keeps the fold's exact addition chain:

      acc = zeros((nl, nr)); for i ascending: acc[j, k] += Q[j, i] * D[k, i]

  so every element sees ``((0.0 + p0) + p1) + ...`` in index order with
  IEEE-754 binary64 multiply and add, the operations the JVM fold
  performs: dots are bit-identical by construction. A matmul would sum
  pairwise and drift the low bits. Division and ROUND(..., 6) stay on the
  Spark side (Spark's HALF_UP rounding is not NumPy's).

Which form a site uses is decided by its join's shape. A corpus x corpus
join on a blocking key uses the blocked form: q51 and the q53/q164
near-dup pairs (bucket), q135 (probe bucket against home bucket), q112 and
q156 (cluster). A join with one broadcast-bounded side (query set,
centroid table, literal matrix) or a fixed pair list (rescore pool,
deduped candidates) uses the row form: q50, q56, q88, q109, q156b, q169,
q171, q194 and the IVF probe/search. Wall time of each blocked site
against its row-form equi-join, `bench.run` at sf0.1 on 4 vCPUs (noop
sink, min of 5 reps, three alternating rounds; row hashes equal):

    q51  bucket self-join      join 0.99/1.22/1.30 s   blocked 1.12/1.17/1.18 s
    q53  bucket self-join      join 1.12/1.36/1.30 s   blocked 0.83/0.78/0.95 s
    q164 bucket self-join      join 1.28/1.60/1.36 s   blocked 0.70/0.88/0.94 s
    q112 cluster self-join     join 3.40/4.60/4.36 s   blocked 1.36/1.43/1.54 s
    q156 cluster, both sides   join 4.20/5.11/5.03 s   blocked 1.40/1.79/1.77 s
    q135 probe x bucket        blocked before and after, 1.11/1.22/1.34 s
                               -> 1.04/1.18/1.17 s with the NULL filter

At sf1 (20,000 vectors, one run each) q112 goes from 123 s to 33 s and
q156 from 209 s to 42 s, row hashes equal. A blocked q50 (every query
replicated to each key) and a blocked q109 (pool keyed on q_id) were
slower than their row form in a prototype, 0.48-0.63 s against
0.35-0.48 s and 0.93/0.97 s against 0.72/0.74 s, so those shapes keep the
row form. The self-join sites filter ``a < b`` after the kernel, so each
block ships its full matrix back and Spark drops just over half of it.

The block law is the one of *Time Series Similarity Search for Streaming
Data in Distributed Systems* (EDBT 2019): exact search inside blocks, no
pair ever compared across blocks.

Robustness: rows with a NULL key are dropped on both sides, as the
equi-join drops them, so the row multiset is the equi-join's. A group
whose nl x nr exceeds MAX_GROUP_PAIRS raises a ValueError naming the key
and both sizes instead of exhausting an executor's memory: a hot bucket
is a blocking failure to fix upstream (more bits, more clusters), not a
matrix to page through.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# largest nl x nr one group may produce. A group's peak in the Python
# worker is ~8 bytes per pair per output column plus ~2 (five to six
# columns: the carried ones, both norms and the dot), measured with the
# kernel body and pyspark's Arrow conversion of its output: 42 bytes per
# pair at five columns, 58 at seven. 1 << 24 = 16.7M pairs therefore caps
# one group near 0.7-0.85 GB, under 1 GB per Python worker. The largest
# sf1 block (q112/q156, 20,000 vectors, k = 18) is 1,333 x 1,333 = 1.8M
# pairs.
MAX_GROUP_PAIRS = 1 << 24


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def norm(v: Column | str) -> Column:
    """L2 norm of a double array: sqrt of the ascending fold of squares."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _round_cosine(dot: Column, an: Column | str, bn: Column | str) -> Column:
    return F.round(dot / (_col(an) * _col(bn)), 6)


def cosine(a: Column | str, an: Column | str, b: Column | str, bn: Column | str) -> Column:
    """Row form: round(dot(a, b) / (an * bn), 6) with the ascending fold."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return _round_cosine(dot, an, bn)


def pair_cosine(
    left: DataFrame,
    right: DataFrame,
    on: str | tuple[str, str],
    left_cols: dict[str, str],
    right_cols: dict[str, str],
) -> DataFrame:
    """Blocked form: every (left, right) pair with equal non-NULL keys.

    Both frames carry the vector frame's `v` (array<double>) and `nrm`.
    `on` names the key column of both frames, or (left key, right key).
    `left_cols` / `right_cols` map carried source columns to output names;
    a self-join passes one frame twice and renames here. Emits the carried
    columns and `cosine`; the row multiset is that of
    ``left.join(right, left[kl] == right[kr])`` + ``cosine(...)``, with
    bit-identical cosines.
    """
    import numpy as np
    import pandas as pd

    key_l, key_r = (on, on) if isinstance(on, str) else on
    limit = MAX_GROUP_PAIRS

    def side(df: DataFrame, key: str, cols: dict[str, str], tag: str) -> DataFrame:
        return df.where(F.col(key).isNotNull()).select(
            F.col(key).alias("_k"),
            F.col("v").alias(f"_{tag}v"),
            F.col("nrm").alias(f"_{tag}n"),
            *[F.col(src).alias(out) for src, out in cols.items()],
        )

    lside = side(left, key_l, left_cols, "l")
    rside = side(right, key_r, right_cols, "r")
    lf = {f.name: f for f in lside.schema.fields}
    rf = {f.name: f for f in rside.schema.fields}
    carry_l, carry_r = list(left_cols.values()), list(right_cols.values())
    out_schema = StructType(
        [lf[c] for c in carry_l + ["_ln"]]
        + [rf[c] for c in carry_r + ["_rn"]]
        + [StructField("_dot", DoubleType(), False)]
    )
    out_cols = out_schema.fieldNames()

    def kernel(key: tuple, lpdf: "pd.DataFrame", rpdf: "pd.DataFrame") -> "pd.DataFrame":
        nl, nr = len(lpdf), len(rpdf)
        if nl == 0 or nr == 0:
            return pd.DataFrame(columns=out_cols)
        if nl * nr > limit:
            raise ValueError(
                f"pair_cosine: group {key[0]} has nl={nl} x nr={nr} = "
                f"{nl * nr} pairs > MAX_GROUP_PAIRS={limit}"
            )
        q = np.stack(lpdf["_lv"].to_numpy())
        d = np.stack(rpdf["_rv"].to_numpy())
        acc = np.zeros((nl, nr))
        term = np.empty((nl, nr))
        # ascending-i fold: per element the exact (((0 + p0) + p1) + ...)
        # chain of aggregate(zip_with(...)) — do NOT vectorize into a
        # matmul, whose pairwise/blocked summation changes the addition
        # order and drifts the low bits
        for i in range(q.shape[1]):
            np.multiply(q[:, i, None], d[None, :, i], out=term)
            acc += term
        del term
        data = {c: np.repeat(lpdf[c].to_numpy(), nr) for c in carry_l + ["_ln"]}
        for c in carry_r + ["_rn"]:
            data[c] = np.tile(rpdf[c].to_numpy(), nl)
        data["_dot"] = acc.ravel()
        # copy=False keeps one nl x nr array per output column alive (acc is
        # the _dot column); the default would consolidate into a second copy
        return pd.DataFrame(data, copy=False)

    return (
        lside.groupBy("_k")
        .cogroup(rside.groupBy("_k"))
        .applyInPandas(kernel, schema=out_schema)
        .select(
            *carry_l, *carry_r,
            _round_cosine(F.col("_dot"), "_ln", "_rn").alias("cosine"),
        )
    )
