"""Incrementally-maintained grouped-counter view
(streaming/counts_index.py): maintained-equals-scratch under arbitrary
batching, the additive replay guard, serving the hourly rollup and the
anomaly query from state, time travel, and the streaming driver."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from nomenklatura_spark.streaming.counts_index import (
    CountsIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream

SCHEMA = "event_type string, ts string, value_int long"


def _events_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _py_counts(rows):
    """Driver-side scratch rollup to the (key, hour) grain."""
    out: dict[tuple[str, str], list[int]] = {}
    for k, ts, v in rows:
        hour = ts[:13] + ":00:00"
        cur = out.setdefault((k, hour), [0, 0])
        cur[0] += 1
        cur[1] += v
    return sorted((k, b, c, s) for (k, b), (c, s) in out.items())


def _state_rows(state, version=None):
    return sorted(
        (
            r["k"],
            r["b"].strftime("%Y-%m-%d %H:%M:%S"),
            r["cnt"],
            r["sv"],
        )
        for r in state.counts(version).collect()
    )


def _random_rows(seed, n=300, keys=4):
    rnd = random.Random(seed)
    return [
        (
            f"t{rnd.randrange(keys)}",
            f"2024-01-{rnd.randrange(1, 15):02d} "
            f"{rnd.randrange(24):02d}:{rnd.randrange(60):02d}:00",
            rnd.randrange(1, 100),
        )
        for _ in range(n)
    ]


def test_counts_index_maintained_equals_scratch(spark, tmp_path):
    rows = _random_rows(41)
    rnd = random.Random(99)
    rnd.shuffle(rows)
    cuts = [rows[:100], rows[100:180], rows[180:]]
    state = CountsIndexState(spark, str(tmp_path / "s"), bucket="hour")
    for b, chunk in enumerate(cuts):
        state.apply_batch(
            _events_df(spark, chunk), value_col="value_int", batch_id=b
        )
    assert _state_rows(state) == _py_counts(rows)


def test_counts_index_all_null_values_serve_null_sum(spark, tmp_path):
    """NULL-ness is part of the monoid: a (key, bucket) whose values
    are ALL NULL must serve sum NULL (SQL sum semantics, what any
    rescan oracle computes) — not a coalesced 0; once a non-null value
    arrives the NULL side acts as the identity."""
    state = CountsIndexState(spark, str(tmp_path / "s"), bucket="hour")
    state.apply_batch(
        _events_df(
            spark,
            [("a", "2024-01-01 10:00:00", None),
             ("b", "2024-01-01 10:00:00", 7)],
        ),
        value_col="value_int",
        batch_id=0,
    )
    got = {r["k"]: (r["cnt"], r["sv"]) for r in state.counts().collect()}
    assert got == {"a": (1, None), "b": (1, 7)}
    # second batch: another all-NULL row for a (still NULL), and a's
    # first real value in a later batch flips it to that value exactly
    state.apply_batch(
        _events_df(spark, [("a", "2024-01-01 10:30:00", None)]),
        value_col="value_int",
        batch_id=1,
    )
    got = {r["k"]: (r["cnt"], r["sv"]) for r in state.counts().collect()}
    assert got == {"a": (2, None), "b": (1, 7)}
    state.apply_batch(
        _events_df(spark, [("a", "2024-01-01 10:45:00", 5)]),
        value_col="value_int",
        batch_id=2,
    )
    got = {r["k"]: (r["cnt"], r["sv"]) for r in state.counts().collect()}
    assert got == {"a": (3, 5), "b": (1, 7)}


def test_counts_index_replay_guard(spark, tmp_path):
    rows = _random_rows(43, n=80)
    state = CountsIndexState(spark, str(tmp_path / "s"))
    state.apply_batch(
        _events_df(spark, rows), value_col="value_int",
        batch_id=0, scope="ck",
    )
    before = _state_rows(state)
    # guarded replay: same batch id in the same scope is a no-op
    state.apply_batch(
        _events_df(spark, rows), value_col="value_int",
        batch_id=0, scope="ck",
    )
    assert _state_rows(state) == before
    # unguarded replay: additive counters double (why the guard exists)
    state.apply_batch(_events_df(spark, rows), value_col="value_int")
    assert _state_rows(state) == [
        (k, b, 2 * c, 2 * s) for k, b, c, s in before
    ]


def test_counts_index_serves_hourly_and_anomalies(spark, tmp_path):
    """The two serving shapes: the hourly rollup read from state equals
    the batch rollup, and anomalies_from_counts over state equals
    robust_anomalies over the raw events."""
    from nomenklatura_spark.operators.temporal import (
        anomalies_from_counts,
        robust_anomalies,
    )

    rows = _random_rows(47, n=200, keys=3)
    # a burst hour for t0: anomalous against its own series
    rows += [("t0", "2024-01-20 09:00:00", 1)] * 40
    df = _events_df(spark, rows)
    state = CountsIndexState(spark, str(tmp_path / "s"))
    for b, chunk_lo in enumerate([(1, 7), (8, 31)]):
        state.apply_batch(
            df.where(F.dayofmonth("ts").between(*chunk_lo)),
            value_col="value_int",
            batch_id=b,
        )
    hourly_state = sorted(
        (r["k"], r["b"], r["cnt"]) for r in state.counts().collect()
    )
    hourly_scratch = sorted(
        (r["event_type"], r["h"], r["n"])
        for r in df.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert hourly_state == hourly_scratch
    served = sorted(
        tuple(r)
        for r in anomalies_from_counts(
            state.counts().select(
                F.col("k").alias("key"),
                F.col("b").alias("bucket_ts"),
                "cnt",
            ),
            key_col="event_type",
        ).collect()
    )
    scratch = sorted(
        tuple(r)
        for r in robust_anomalies(df, "event_type", "ts").collect()
    )
    assert served == scratch and len(served) > 0


def test_counts_index_time_travel_and_stream(spark, tmp_path):
    rows = _random_rows(53, n=60, keys=2)
    state = CountsIndexState(spark, str(tmp_path / "s"))
    state.apply_batch(
        _events_df(spark, rows[:30]), value_col="value_int", batch_id=0
    )
    v0 = state.version()
    state.apply_batch(
        _events_df(spark, rows[30:]), value_col="value_int", batch_id=1
    )
    assert _state_rows(state, version=v0) == _py_counts(rows[:30])
    assert _state_rows(state) == _py_counts(rows)

    src = tmp_path / "src"
    src.mkdir()
    df = _events_df(spark, rows)
    df.coalesce(3).write.parquet(str(src / "p"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p"))
    )
    st2 = CountsIndexState(spark, str(tmp_path / "s2"))
    q = maintain_stream(
        stream,
        st2,
        value_col="value_int",
        checkpoint_dir=str(tmp_path / "ck"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    assert _state_rows(st2) == _py_counts(rows)
