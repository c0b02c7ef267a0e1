"""The blocked cosine form against the row form it replaces.

`pair_cosine` must return exactly the rows of the equi-join on the
blocking key followed by the row-form `cosine`, with bit-identical
cosines, on a fixture built to break a careless kernel: NULL keys on both
sides, one skewed block, keys present on one side only (empty cogroup
sides), and planted identical vectors whose cosines tie exactly."""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql import functions as F

from flink_adcom_spark.operators import pairdots
from flink_adcom_spark.operators.pairdots import cosine, norm, pair_cosine

DIM = 16
HOT_KEY, HOT_ROWS = 7, 60


def _rows():
    rng = random.Random(20240)

    def vec():
        return [rng.gauss(0.0, 1.0) for _ in range(DIM)]

    rows = [(i, i % 5, (i + 1) % 5, vec()) for i in range(40)]
    rows += [(100 + i, HOT_KEY, HOT_KEY, vec()) for i in range(HOT_ROWS)]
    tied = vec()
    rows += [(200 + i, HOT_KEY, 3, list(tied)) for i in range(4)]
    rows += [(300 + i, None, None, vec()) for i in range(6)]
    rows += [(400, 11, 11, vec()), (401, 12, None, vec())]
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    df = spark.createDataFrame(
        _rows(), "vec_id long, k int, k2 int, v array<double>"
    ).withColumn("nrm", norm("v"))
    # key 11 lives only on the left, key 12 only on the right
    left = df.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") != 401))
    right = df.filter((F.col("vec_id") % 3 != 0) | (F.col("vec_id") == 401))
    right = right.filter(F.col("vec_id") != 400)
    return df, left, right


def _bits(rows):
    return sorted((a, b, struct.pack("<d", c)) for a, b, c in rows)


def _joined(left, right, key_l, key_r):
    a = left.select(
        F.col("vec_id").alias("a"), F.col(key_l).alias("ka"),
        F.col("v").alias("av"), F.col("nrm").alias("an"),
    )
    b = right.select(
        F.col("vec_id").alias("b"), F.col(key_r).alias("kb"),
        F.col("v").alias("bv"), F.col("nrm").alias("bn"),
    )
    return a.join(b, F.col("ka") == F.col("kb")).select(
        "a", "b", cosine("av", "an", "bv", "bn").alias("cosine")
    ).collect()


def _blocked(left, right, on):
    return pair_cosine(left, right, on, {"vec_id": "a"}, {"vec_id": "b"}).select(
        "a", "b", "cosine"
    ).collect()


@pytest.mark.parametrize("on", ["k", ("k2", "k")])
def test_pair_cosine_equals_equi_join_bit_for_bit(frames, on):
    _df, left, right = frames
    key_l, key_r = (on, on) if isinstance(on, str) else on
    want = _bits(_joined(left, right, key_l, key_r))
    got = _bits(_blocked(left, right, on))
    assert got == want
    assert len(want) > HOT_ROWS  # the hot block and the tie block both fire


def test_self_cogroup_equals_self_join_and_ties_are_exact(frames):
    df, _left, _right = frames
    got = _blocked(df, df, "k")
    assert _bits(got) == _bits(_joined(df, df, "k", "k"))
    tied = {c for a, b, c in got if a >= 200 and b >= 200 and a < 300 and b < 300}
    assert len(tied) == 1  # identical vectors: one cosine, bit for bit


def test_null_keys_never_pair(frames):
    df, left, right = frames
    null_ids = {r[0] for r in _rows() if r[1] is None}
    for l_frame, r_frame in ((df, df), (left, right)):
        got = _blocked(l_frame, r_frame, "k")
        assert not {x for a, b, _c in got for x in (a, b)} & null_ids


def test_group_over_max_pairs_raises_with_key_and_sizes(frames, monkeypatch):
    df, _left, _right = frames
    monkeypatch.setattr(pairdots, "MAX_GROUP_PAIRS", 1000)
    hot = HOT_ROWS + 4  # the skewed block plus the tied vectors
    with pytest.raises(Exception) as err:
        _blocked(df, df, "k")
    msg = str(err.value)
    assert f"group {HOT_KEY}" in msg and f"nl={hot}" in msg and f"nr={hot}" in msg, msg
    assert "MAX_GROUP_PAIRS=1000" in msg, msg
