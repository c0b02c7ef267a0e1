"""Schema-drift normalization contract (tables._normalize_to_declared): the
driver regenerates /root/testdata between rounds and physical types have
changed across generations, so the loader casts KNOWN value-preserving
drifts back to the declared schema and fails LOUDLY on anything else —
under a non-ANSI session a blanket cast would turn unparseable cells into
NULLs silently."""

from __future__ import annotations

import os

import pytest

from flink_adcom_spark.tables import SCHEMAS, load_table


def _write_variant(spark, sf_dir, tmp_path, table, transform_sql):
    """Copy one table into a temp sf-dir with a column type rewritten."""
    out = str(tmp_path / "sfdrift")
    os.makedirs(out, exist_ok=True)
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    df.selectExpr(*transform_sql).write.mode("overwrite").parquet(
        os.path.join(out, f"{table}.parquet")
    )
    return out


def test_whitelisted_int_width_drift_is_cast_back(spark, sf_dir, tmp_path):
    # nation keys are declared INT; regenerate them as BIGINT
    drift = _write_variant(
        spark, sf_dir, tmp_path, "nation",
        ["CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name",
         "CAST(n_regionkey AS BIGINT) AS n_regionkey"],
    )
    df = load_table(spark, drift, "nation")
    assert dict(df.dtypes)["n_nationkey"] == "int"
    want = {f.name: f.dataType.simpleString() for f in SCHEMAS["nation"].fields}
    assert dict(df.dtypes) == want
    assert df.count() == spark.read.parquet(
        os.path.join(sf_dir, "nation.parquet")
    ).count()


def test_incompatible_drift_fails_loudly(spark, sf_dir, tmp_path):
    # a numeric column re-emitted as strings must raise, not become NULLs
    drift = _write_variant(
        spark, sf_dir, tmp_path, "nation",
        ["CAST(n_nationkey AS STRING) AS n_nationkey", "n_name", "n_regionkey"],
    )
    with pytest.raises(ValueError, match="n_nationkey.*drifted"):
        load_table(spark, drift, "nation")


def test_missing_column_fails_loudly(spark, sf_dir, tmp_path):
    drift = _write_variant(spark, sf_dir, tmp_path, "nation", ["n_nationkey", "n_name"])
    with pytest.raises(ValueError, match="missing declared columns"):
        load_table(spark, drift, "nation")


@pytest.mark.parametrize("form", ["relation", "value"])
def test_memo_reuses_then_invalidates_on_rewrite(spark, sf_dir, tmp_path, form):
    """The one memo law (tables.memo), in its relation form (memo_relation,
    a localCheckpoint handle) and its value form (a driver-side count):
    (a) build() runs once per (key, sf_dir, table fingerprint) and the same
    result is returned; (b) it runs again after the source table is
    rewritten in place — a stale memoized keep-list silently feeding
    q110/q175 after an ingest is the bug the fingerprint law prevents;
    (c) after three rewrites the store holds exactly one entry for the
    (key, sf_dir), so no generation is stranded (the eviction bugs of
    ADVICE r9 on counts and r14 on k-means); (d) a second session builds
    its own entry and never receives the first session's DataFrame."""
    import shutil
    import time as _time

    from flink_adcom_spark.tables import _MEMO_CACHE, memo, memo_relation

    memoize = memo_relation if form == "relation" else memo
    work = str(tmp_path / "sfmemo")
    os.makedirs(work, exist_ok=True)
    src = os.path.join(sf_dir, "documents.parquet")
    dst = os.path.join(work, "documents.parquet")
    shutil.copyfile(src, dst)

    calls = []

    def build_in(session):
        def build():
            calls.append(session)
            df = load_table(session, work, "documents").select("doc_id")
            return df if form == "relation" else df.count()

        return build

    def rows(out):
        return out.count() if form == "relation" else out

    def rewrite(n):
        _time.sleep(0.01)
        spark.read.parquet(src).limit(n).write.mode("overwrite").parquet(
            dst + ".tmp"
        )
        shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
        os.rename(dst + ".tmp", dst)

    a = memoize(spark, work, "t_memo", build_in(spark))
    b = memoize(spark, work, "t_memo", build_in(spark))
    assert a is b and len(calls) == 1
    n0 = rows(a)
    # in-place rewrite: new mtime/size -> new fingerprint -> rebuild
    rewrite(10)
    c = memoize(spark, work, "t_memo", build_in(spark))
    assert len(calls) == 2 and c is not a
    assert rows(c) == 10 and n0 != 10
    for n in (20, 30):
        rewrite(n)
        assert rows(memoize(spark, work, "t_memo", build_in(spark))) == n
    assert len(calls) == 4
    entries = [k for k in _MEMO_CACHE[spark] if k[:2] == ("t_memo", work)]
    assert len(entries) == 1

    other = spark.newSession()
    d = memoize(other, work, "t_memo", build_in(other))
    assert calls[-1] is other and len(calls) == 5
    assert rows(d) == 30
    if form == "relation":
        assert d.sparkSession is other
        assert d is not memoize(spark, work, "t_memo", build_in(spark))
    assert len(calls) == 5
