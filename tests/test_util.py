"""operators/util.py: the one module that decides how an intermediate
is held — the cross-invocation registry (cache_swap / cache_memo /
clear_caches) and the scoped persist."""

from __future__ import annotations

import pytest
from pyspark.storagelevel import StorageLevel

from etl_seattle_call_data_spark.operators.util import (
    cache_memo,
    cache_swap,
    clear_caches,
    persisted,
)


def _held(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_cache_swap_same_plan_returns_cached_frame(spark):
    first = cache_swap("test:same", spark.range(10).selectExpr("id * 2 AS x"))
    again = cache_swap("test:same", spark.range(10).selectExpr("id * 2 AS x"))
    assert again is first
    assert _held(first)


def test_cache_swap_new_plan_releases_old_frame(spark):
    old = cache_swap("test:swap", spark.range(10).selectExpr("id AS x"))
    assert old.count() == 10
    new = cache_swap("test:swap", spark.range(20).selectExpr("id AS x"))
    assert new is not old
    assert not _held(old)
    assert _held(new)
    assert new.count() == 20


def test_cache_memo_token_hit_skips_builder(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(5).selectExpr("id + 1 AS y")

    first = cache_memo("test:memo", ("test:memo", 1), build)
    assert cache_memo("test:memo", ("test:memo", 1), build) is first
    assert builds == [1]
    cache_memo("test:memo", ("test:memo", 2), build)
    assert builds == [1, 1]


def test_clear_caches_empties_registry(spark):
    swapped = cache_swap("test:clear", spark.range(7))
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    memo = cache_memo("test:clear_memo", "tok", build)
    clear_caches()
    assert not _held(swapped)
    assert not _held(memo)
    cache_memo("test:clear_memo", "tok", build)
    assert builds == [1, 1]
    clear_caches()


def test_persisted_releases_when_body_raises(spark):
    df = spark.range(4).selectExpr("id * 3 AS z")
    with pytest.raises(RuntimeError):
        with persisted(df, StorageLevel.DISK_ONLY) as held:
            assert held.storageLevel == StorageLevel.DISK_ONLY
            assert held.count() == 4
            raise RuntimeError("writer failed")
    assert not _held(df)
