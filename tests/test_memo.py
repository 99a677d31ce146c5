"""Session memo policy (python_etl_spark/memo.py): application-id
scoping, the capacity bound, build-failure handling and the
session-scoped fixture roots."""

from __future__ import annotations

import os
import types

import pytest

from python_etl_spark.memo import (
    plan_key,
    session_dir,
    session_drop,
    session_keys,
    session_memo,
)
from python_etl_spark.sources.tables import load_table


@pytest.fixture
def store(request):
    name = f"test:{request.node.name}"
    yield name
    session_drop(name)


def test_entries_of_a_stale_application_are_dropped(store):
    evicted = []
    session_memo(store, ("app-1", "a"), lambda: 1, capacity=8,
                 on_evict=evicted.append)
    session_memo(store, ("app-1", "b"), lambda: 2, capacity=8,
                 on_evict=evicted.append)
    assert session_memo(store, ("app-2", "a"), lambda: 3, capacity=8,
                        on_evict=evicted.append) == 3
    assert session_keys(store) == [("app-2", "a")]
    assert sorted(evicted) == [1, 2]


def test_capacity_bound_evicts_least_recently_used(store):
    evicted = []

    def memo(k, v):
        return session_memo(store, ("app", k), lambda: v, capacity=2,
                            on_evict=evicted.append)

    memo("a", 1)
    memo("b", 2)
    assert memo("a", -1) == 1  # hit: refreshes "a", build not called
    memo("c", 3)
    assert evicted == [2]
    assert session_keys(store) == [("app", "a"), ("app", "c")]


def test_failed_build_is_not_memoized(store):
    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        session_memo(store, ("app", "k"), boom, capacity=4)
    assert session_keys(store) == []
    assert session_memo(store, ("app", "k"), lambda: 7, capacity=4) == 7


def test_none_key_builds_every_time_and_stores_nothing(store):
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    # plan_key gives None when the py4j surface is not there
    key = plan_key(types.SimpleNamespace(), "extra")
    assert key is None
    assert session_memo(store, key, build, capacity=4) == 1
    assert session_memo(store, key, build, capacity=4) == 2
    assert session_keys(store) == []


def test_session_drop_returns_the_dropped_values(store):
    session_memo(store, ("app", "a"), lambda: 1, capacity=4)
    session_memo(store, ("app", "b"), lambda: 2, capacity=4)
    assert session_drop(store, ("app", "a")) == [1]
    assert session_drop(store, ("app", "a")) == []
    assert session_drop(store) == [2]
    assert session_keys(store) == []


def test_session_dir_is_distinct_per_tag_and_source_dir():
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId="local-123")
    )
    roots = {
        session_dir(spark, d, tag)
        for d in ("/data/sf0.01", "/data/sf0.1")
        for tag in ("incr", "cdf", "warc")
    }
    assert len(roots) == 6
    root = session_dir(spark, "/data/sf0.01", "cdf")
    assert os.path.basename(root).startswith("spark_graft_cdf_local-123_")
    # a relative spelling of the same dir names the same root
    rel = os.path.relpath("/data/sf0.01")
    assert session_dir(spark, rel, "cdf") == root


def test_load_table_drops_stale_frames_of_an_overwritten_path(
    spark, tmp_path
):
    path = f"{tmp_path}/t.parquet"
    spark.range(3).write.parquet(path)
    first = load_table(spark, str(tmp_path), "t")
    assert load_table(spark, str(tmp_path), "t") is first  # hit
    spark.range(5).write.mode("overwrite").parquet(path)
    second = load_table(spark, str(tmp_path), "t")
    assert second is not first and second.count() == 5
    mine = [k for k in session_keys("tables") if k[1] == path]
    assert len(mine) == 1  # the first frame is gone, not just shadowed
