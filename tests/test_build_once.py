"""The build-once registry: key rule, LRU eviction with unpersist,
other-application entries, clear(), nested builds."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from graal_cdc_spark import build_once as B

NONE = StorageLevel(False, False, False, False, 1)


@pytest.fixture(autouse=True)
def _empty_registry():
    B.clear()
    yield
    B.clear()


def _counting(value):
    calls: list[int] = []

    def build():
        calls.append(1)
        return value

    return build, calls


def test_hit_returns_identical_object(spark):
    build, calls = _counting(object())
    first = B.build_once(spark, "t", ("k", 1), build)
    second = B.build_once(spark, "t", ("k", 1), build)
    assert first is second
    assert len(calls) == 1
    assert B.build_once(spark, "other-kind", ("k", 1), build) is first
    assert len(calls) == 2  # kind is part of the key


def test_equivalent_dataframe_keys_share_one_entry(spark):
    a = spark.range(10).filter("id > 3")
    b = spark.range(10).filter("id > 3")
    assert a is not b
    build, calls = _counting("v")
    B.build_once(spark, "t", (a, "p"), build)
    B.build_once(spark, "t", (b, "p"), build)
    assert len(calls) == 1
    B.build_once(spark, "t", (spark.range(10).filter("id > 4"), "p"), build)
    assert len(calls) == 2


def test_lru_refreshes_recency_on_hit(spark, monkeypatch):
    monkeypatch.setattr(B, "CAPACITY", 2)
    builds: list[str] = []

    def get(name):
        return B.build_once(spark, "t", (name,), lambda: builds.append(name))

    get("a")
    get("b")
    get("a")  # hit: "b" is now least recent
    get("c")  # evicts "b"
    get("a")
    assert builds == ["a", "b", "c"]
    get("b")
    assert builds == ["a", "b", "c", "b"]
    assert B.stats()["live"] == 2


def test_eviction_unpersists_dataframes_in_the_value(spark, monkeypatch):
    monkeypatch.setattr(B, "CAPACITY", 1)
    df = spark.range(5).persist()
    df.count()
    B.build_once(spark, "t", ("pair",), lambda: (df, "meta"))
    assert df.storageLevel != NONE
    evictions = B.stats()["evictions"]
    B.build_once(spark, "t", ("next",), lambda: None)
    assert B.stats()["evictions"] == evictions + 1
    assert df.storageLevel == NONE


def test_other_apps_entries_dropped_without_unpersist(spark):
    df = spark.range(3).persist()
    df.count()
    B._ENTRIES[("app-stopped", "t", "x")] = df
    B.build_once(spark, "t", ("y",), lambda: 1)
    assert B.stats()["live"] == 1
    assert ("app-stopped", "t", "x") not in B._ENTRIES
    assert df.storageLevel != NONE  # its session is gone; not touched
    df.unpersist()


def test_clear_unpersists_and_forces_rebuild(spark):
    df = spark.range(4).persist()
    df.count()
    build, calls = _counting(df)
    B.build_once(spark, "t", ("k",), build)
    B.clear()
    assert B.stats()["live"] == 0
    assert df.storageLevel == NONE
    B.build_once(spark, "t", ("k",), build)
    assert len(calls) == 2


def test_nested_build(spark):
    inner_build, inner_calls = _counting("inner")

    def outer():
        return ("outer", B.build_once(spark, "inner", ("k",), inner_build))

    assert B.build_once(spark, "outer", ("k",), outer) == ("outer", "inner")
    assert B.build_once(spark, "inner", ("k",), inner_build) == "inner"
    assert len(inner_calls) == 1
    assert B.stats()["live"] == 2
