"""Driver-side id-set filters (``operators/id_sets.py``) and the bounded
collect of ``resolver/components.py``: past ``LITERAL_IDS_MAX`` the
filters switch from literal lists to broadcast joins with the same rows
and column order, and a collect over the edge bound leaves a checkpoint
so the edge list's upstream plan runs once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from nomenklatura_spark.operators import id_sets
from nomenklatura_spark.operators.id_sets import (
    touching_buckets,
    with_ids,
    without_ids,
)
from nomenklatura_spark.resolver import components
from nomenklatura_spark.resolver.components import connected_components


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _both_modes(monkeypatch, fn):
    """(literal-list result, broadcast-join result) of ``fn()``."""
    literal = fn()
    with monkeypatch.context() as m:
        m.setattr(id_sets, "LITERAL_IDS_MAX", 0)
        joined = fn()
    return literal, joined


@pytest.mark.parametrize(
    "pairs,ids",
    [
        ([("a", "b", 0.5), ("b", "c", 0.7), ("d", "e", 0.9)], ["b", "x"]),
        ([(1, 2, 0.5), (2, 3, 0.7), (4, 5, 0.9)], [2, 9]),
    ],
)
def test_filters_equal_in_both_modes(spark, monkeypatch, pairs, ids):
    dtype = "string" if isinstance(pairs[0][0], str) else "long"
    df = spark.createDataFrame(pairs, f"lid {dtype}, rid {dtype}, w double")
    bucket_of = lambda c: F.abs(F.hash(c)) % 4  # noqa: E731

    def run():
        out_w = with_ids(df, ids, "rid")
        out_wo = without_ids(df, ids)
        return (
            out_w.columns, _rows(out_w), out_wo.columns, _rows(out_wo),
            touching_buckets(bucket_of, ids, df, df),
        )

    literal, joined = _both_modes(monkeypatch, run)
    assert literal == joined
    w_cols, w_rows, wo_cols, wo_rows, buckets = literal
    assert w_cols == wo_cols == ["lid", "rid", "w"]
    assert w_rows == [pairs[0]]
    assert wo_rows == [pairs[2]]
    expected = sorted({r[0] for r in df.where(
        F.col("lid").isin(ids) | F.col("rid").isin(ids)
    ).select(bucket_of(F.col("lid"))).collect()})
    assert buckets == expected and len(buckets) >= 1


def test_empty_id_list(spark):
    df = spark.createDataFrame([("a", "b")], "lid string, rid string")
    assert _rows(without_ids(df, [])) == [("a", "b")]
    assert _rows(with_ids(df, [], "lid")) == []
    assert touching_buckets(lambda c: F.lit(0), [], df) == []


def test_over_bound_runs_edge_plan_once(spark, monkeypatch):
    """Above the edge bound, the distributed path reads the checkpoint
    the bounded collect left: every edge row is computed exactly once."""
    acc = spark.sparkContext.accumulator(0)

    def seen(x):
        acc.add(1)
        return x

    count = F.udf(seen, LongType()).asNondeterministic()
    n = 40
    edges = (
        spark.range(n, numPartitions=4)
        .groupBy((F.col("id") % (n // 2)).alias("a"))
        .agg(F.max("id").alias("b"))
        .select(count("a").alias("a"), "b")
    )
    monkeypatch.setattr(components, "DRIVER_CC_MAX_EDGES", 3)
    got = sorted(map(tuple, connected_components(edges, "a", "b").collect()))
    assert acc.value == n // 2
    assert got == sorted(
        [(i, i) for i in range(n // 2)] + [(i + n // 2, i) for i in range(n // 2)]
    )
