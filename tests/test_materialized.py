"""``@artifact`` cache mechanics (no Spark needed: the session arg only
feeds ``id()``).

The build-seconds ledger must record exactly the first-touch builds — a
cache hit re-recording would overwrite a real build time with ~0, and an
uncached() build leaking into the ledger would let test runs pollute
bench numbers — and each entry must be that build's own time, so nested
builds are not counted twice.
"""

from __future__ import annotations

import time

import pytest

from data_pipeline_etl_spark.operators import materialized
from data_pipeline_etl_spark.operators.materialized import (
    BUILD_SECONDS,
    artifact,
    uncached,
)


@pytest.fixture
def fresh_ledger(monkeypatch):
    monkeypatch.setattr(materialized, "_MATERIALIZED", {})
    monkeypatch.setattr(materialized, "BUILD_SECONDS", {})


def test_build_seconds_records_first_touch_only(fresh_ledger):
    fake_spark = object()
    calls = []

    @artifact("unit_probe")
    def build(spark, sf_dir):
        calls.append(1)
        time.sleep(0.02)
        return "artifact"

    assert build(fake_spark, "/root/testdata/sf0.01") == "artifact"
    assert build(fake_spark, "/root/testdata/sf0.01/") == "artifact"
    assert calls == [1], "second call must be a cache hit"
    # the sf_dir path shortens to its basename in the ledger label
    assert list(materialized.BUILD_SECONDS) == ["unit_probe:sf0.01"]
    first = materialized.BUILD_SECONDS["unit_probe:sf0.01"]
    assert first >= 0.02, "ledger must carry the build wall time"


def test_uncached_builds_do_not_touch_the_ledger(fresh_ledger):
    fake_spark = object()
    calls = []

    @artifact("unit_probe2")
    def build(spark, sf_dir):
        calls.append(1)

    with uncached():
        build(fake_spark, "sf0.01")
        build(fake_spark, "sf0.01")
    assert len(calls) == 2, "uncached() must force fresh builds"
    assert materialized.BUILD_SECONDS == {}
    assert materialized._MATERIALIZED == {}


def test_nested_builds_record_self_time(fresh_ledger):
    fake_spark = object()

    @artifact("leaf")
    def leaf(spark, sf_dir):
        time.sleep(0.2)
        return "leaf"

    @artifact("mid")
    def mid(spark, sf_dir):
        time.sleep(0.1)
        return leaf(spark, sf_dir) + "+mid"

    @artifact("top")
    def top(spark, sf_dir):
        time.sleep(0.05)
        out = mid(spark, sf_dir) + leaf(spark, sf_dir)  # second leaf: a hit
        time.sleep(0.05)
        return out

    t0 = time.perf_counter()
    assert top(fake_spark, "/data/sf0.1") == "leaf+midleaf"
    wall = time.perf_counter() - t0
    ledger = materialized.BUILD_SECONDS
    assert set(ledger) == {"leaf:sf0.1", "mid:sf0.1", "top:sf0.1"}
    # each entry is its build's own sleep; counting a child would add
    # at least the leaf's 0.2 s
    assert ledger["leaf:sf0.1"] >= 0.2, ledger
    assert 0.1 <= ledger["mid:sf0.1"] < 0.2, ledger
    assert 0.1 <= ledger["top:sf0.1"] < 0.2, ledger
    assert sum(ledger.values()) == pytest.approx(wall, abs=0.01)
    assert materialized._CHILD_SECONDS == []


def test_failed_build_caches_nothing_and_unwinds(fresh_ledger):
    fake_spark = object()

    @artifact("broken")
    def broken(spark, sf_dir):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        broken(fake_spark, "sf0.01")
    assert materialized.BUILD_SECONDS == {}
    assert materialized._MATERIALIZED == {}
    assert materialized._CHILD_SECONDS == []


def test_module_level_ledger_is_the_bench_import_surface():
    # bench.py and perfbench import BUILD_SECONDS by name; keep the
    # surface stable.
    assert isinstance(BUILD_SECONDS, dict)
