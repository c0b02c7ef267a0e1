"""bench.py's one timing rule: `bench.run` builds a query and writes it
through the noop sink, and its profile comes from perfbench's
SparkCounters. Asserts the profile's counts, never a wall-clock figure; an
`ast` guard keeps `run` the only place bench.py builds or sinks a query."""

from __future__ import annotations

import ast
import os

import pytest

import bench
from flink_adcom_spark import registry

BENCH_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


@pytest.fixture(scope="module")
def counters(spark):
    """bench.profiler over the shared test session; the retention limits
    it lifts are put back afterwards."""
    conf = spark.sparkContext._jsc.sc().conf()
    before = {k: conf.get(k) for k in bench.STATUS_RETENTION if conf.contains(k)}
    yield bench.profiler(spark)
    for key in bench.STATUS_RETENTION:
        if key in before:
            conf.set(key, before[key])
        else:
            conf.remove(key)


@pytest.mark.parametrize("name", ["q01_ride_count", "q135_bitext_mining"])
def test_run_profiles_one_noop_execution(spark, sf_dir, counters, name):
    spec = registry.get(name)
    tags = [f"test_bench:{name}:{rep}" for rep in range(2)]
    profiles = [bench.run(spark, counters, spec, sf_dir, tag)[1] for tag in tags]
    want_rows = spec.build(spark, sf_dir).count()
    for prof in profiles:
        assert prof["rows"] == want_rows
        assert prof["jobs"] >= 1 and prof["tasks"] >= 1
        if name == "q135_bitext_mining":  # its pair stage is an Arrow kernel
            assert prof["python_rows_received"] > 0
        else:
            assert prof["python_total_s"] == 0
    # each rep's job group holds its own jobs, never the other rep's
    jobs = [
        set(counters.jobs(f"{tag}:build")) | set(counters.jobs(f"{tag}:exec"))
        for tag in tags
    ]
    assert all(jobs) and not jobs[0] & jobs[1]


def _enclosing_calls(tree: ast.Module):
    """(name of the top-level def holding it, call) for every call."""
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield getattr(top, "name", "<module>"), node


def test_bench_builds_and_sinks_only_in_run():
    with open(BENCH_PY, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), BENCH_PY)
    builds, noop_sinks = [], []
    for where, call in _enclosing_calls(tree):
        f = call.func
        if isinstance(f, ast.Attribute) and f.attr == "build":
            builds.append((where, call.lineno))
        if (
            isinstance(f, ast.Attribute)
            and f.attr == "format"
            and [ast.unparse(a) for a in call.args] == ["'noop'"]
        ):
            noop_sinks.append((where, call.lineno))
    assert [where for where, _ in builds] == ["run"], (
        f"bench.py must build queries only inside run(); found at {builds}"
    )
    assert len(noop_sinks) == 1, f'format("noop") must appear once; found at {noop_sinks}'
