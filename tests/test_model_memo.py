"""Trained models live in the one artifact memo (tables.memo).

q178's perceptron and q190's one-vs-rest language-ID perceptrons are
deterministic functions of the documents table, so a second build of either
query over the same table generation must start no Spark job, and an
in-place rewrite of documents must retrain. Jobs are counted per build
through a job group in Spark's status tracker — counts, not wall time.
"""

from __future__ import annotations

import os
import shutil

import pytest

from flink_adcom_spark.registry import get
from flink_adcom_spark.tables import _MEMO_CACHE, load_table


def _build_jobs(spark, name: str, sf_dir: str, tag: str) -> int:
    sc = spark.sparkContext
    group = f"model-memo:{name}:{tag}"
    sc.setJobGroup(group, name)
    try:
        get(name).build(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _q178_weights(spark, sf_dir, fresh):
    from flink_adcom_spark.queries.text import (
        clf_features_and_labels,
        clf_weights,
        perceptron_train,
    )

    if fresh:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return perceptron_train(clf_features_and_labels(docs))
    return clf_weights(spark, sf_dir)


def _q190_weights(spark, sf_dir, fresh):
    from flink_adcom_spark.queries.text import langid_fl, langid_train

    if fresh:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
        return langid_train(langid_fl(spark, docs))
    (w,) = [v for k, v in _MEMO_CACHE[spark].items() if k[:2] == ("q190_langid_w", sf_dir)]
    return w


@pytest.mark.parametrize(
    "name, weights",
    [("q178_quality_classifier", _q178_weights), ("q190_trained_langid", _q190_weights)],
)
def test_warm_build_starts_no_job_and_rewrite_retrains(spark, sf_dir, tmp_path, name, weights):
    work = str(tmp_path / "sf")
    os.makedirs(work)
    src = os.path.join(sf_dir, "documents.parquet")
    dst = os.path.join(work, "documents.parquet")
    shutil.copyfile(src, dst)

    assert _build_jobs(spark, name, work, "cold") > 0
    w0 = weights(spark, work, fresh=False)
    assert _build_jobs(spark, name, work, "warm") == 0
    assert weights(spark, work, fresh=False) is w0

    # in-place rewrite with a third of the documents gone: new fingerprint
    spark.read.parquet(src).filter("doc_id % 3 != 0").write.parquet(dst + ".tmp")
    os.remove(dst)
    os.rename(dst + ".tmp", dst)
    assert _build_jobs(spark, name, work, "rewritten") > 0
    w1 = weights(spark, work, fresh=False)
    assert w1 != w0
    assert w1 == weights(spark, work, fresh=True)
    assert _build_jobs(spark, name, work, "rewritten-warm") == 0


def _last_job_id(sc) -> int:
    """Highest job id in Spark's status store, -1 before any job. Job ids
    are dense and increasing, so the jobs a call starts are the ids after
    the one read before it."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_pool_thread_jobs_count_toward_the_callers_group(spark, sf_dir, tmp_path):
    """q196's codebooks train on a thread pool. Every pool task inherits the
    caller's job group, so a cold _pq_books call's group holds every job
    the status store saw it start — not just the main thread's."""
    from flink_adcom_spark.queries.similarity import _pq_books

    work = str(tmp_path / "sf")
    os.makedirs(work)
    shutil.copyfile(
        os.path.join(sf_dir, "embeddings.parquet"), os.path.join(work, "embeddings.parquet")
    )
    sc = spark.sparkContext
    group = "model-memo:pq_books:cold"
    first = _last_job_id(sc) + 1
    sc.setJobGroup(group, "pq_books")
    try:
        _pq_books(spark, work)
    finally:
        sc._jsc.clearJobGroup()
    started = list(range(first, _last_job_id(sc) + 1))
    assert len(started) > 1
    assert sorted(sc.statusTracker().getJobIdsForGroup(group)) == started
