"""Misra-Gries heavy hitters (operators/heavyhitters.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skope_api_spark.operators.heavyhitters import mg_estimates, mg_partials


def _items(spark, items, partitions=4):
    return spark.createDataFrame(
        [(x,) for x in items], "item string"
    ).repartition(partitions)


def test_small_domain_is_exact(spark):
    # fewer distinct items than counters: no compression, exact counts
    items = ["a"] * 7 + ["b"] * 5 + ["c"] * 2
    out = {
        r["item"]: r["est_count"]
        for r in mg_estimates(_items(spark, items), "item", counters=10).collect()
    }
    assert out == {"a": 7, "b": 5, "c": 2}


def test_never_overcounts_and_bound_holds(spark):
    items = ["hot"] * 300 + [f"cold_{i}" for i in range(200)]
    n, m = len(items), 8
    est = {
        r["item"]: r["est_count"]
        for r in mg_estimates(_items(spark, items), "item", counters=m).collect()
    }
    exact = {"hot": 300, **{f"cold_{i}": 1 for i in range(200)}}
    for item, e in est.items():
        assert e <= exact[item]
        assert (exact[item] - e) * (m + 1) <= n
    # absent items also respect the undercount bound
    for item, c in exact.items():
        assert (c - est.get(item, 0)) * (m + 1) <= n


def test_heavy_item_guaranteed_present(spark):
    items = ["hot"] * 300 + [f"cold_{i}" for i in range(200)]
    top = (
        mg_estimates(_items(spark, items), "item", counters=8)
        .orderBy(F.desc("est_count"), "item")
        .limit(3)
        .collect()
    )
    assert top[0]["item"] == "hot"
    assert top[0]["est_count"] > 0


def test_partials_capped_per_batch(spark):
    # skewed head + singleton tail: the head survives compression, the
    # output stays capped at `counters` rows per batch
    items = (
        ["a"] * 400 + ["b"] * 200 + ["c"] * 100 + ["d"] * 50
        + [f"x{i}" for i in range(200)]
    )
    parts = mg_partials(_items(spark, items, partitions=2), "item", counters=4)
    per_batch = (
        parts.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    assert per_batch  # something survived
    assert all(r["count"] <= 4 for r in per_batch)


def test_all_singletons_compress_to_empty(spark):
    # more distinct singletons than counters in every batch: the summary
    # may legitimately drop everything (undercount bound still holds)
    items = [f"x{i}" for i in range(500)]
    out = mg_estimates(_items(spark, items, partitions=2), "item", counters=16)
    assert out.count() == 0


def test_nulls_ignored(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",)], "item string")
    out = mg_estimates(df, "item", counters=4).collect()
    assert {r["item"]: r["est_count"] for r in out} == {"a": 2}


def test_counters_validation(spark):
    df = _items(spark, ["a"])
    with pytest.raises(ValueError, match="counters"):
        mg_partials(df, "item", counters=0)
