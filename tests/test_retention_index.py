"""Incrementally-maintained retention index
(streaming/retention_index.py): incremental-equals-scratch under
out-of-order arrival, set-idempotence under redelivery (no replay
guard needed), cohort shifts from late data, time travel, and the
Structured Streaming driver."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from nomenklatura_spark.streaming.retention_index import (
    RetentionIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream

SCHEMA = "user_id string, ts string"


def _events_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _py_retention(rows):
    """Driver-side scratch reference over the full history."""
    days: dict[str, set[dt.date]] = {}
    for u, ts in rows:
        days.setdefault(u, set()).add(
            dt.datetime.fromisoformat(ts).date()
        )
    out: dict[tuple[str, int], int] = {}
    for u, ds in days.items():
        cohort = min(ds)
        for d in ds:
            key = (cohort.isoformat(), (d - cohort).days)
            out[key] = out.get(key, 0) + 1
    return sorted((c, o, n) for (c, o), n in out.items())


def _state_rows(state, version=None):
    return sorted(
        (r["cohort_day"], r["day_offset"], r["active_users"])
        for r in state.retention(version).collect()
    )


def _random_rows(seed, n=300, users=20):
    rnd = random.Random(seed)
    return [
        (
            f"u{rnd.randrange(users)}",
            f"2024-01-{rnd.randrange(1, 28):02d} "
            f"{rnd.randrange(24):02d}:{rnd.randrange(60):02d}:00",
        )
        for _ in range(n)
    ]


def test_retention_index_incremental_matches_scratch(spark, tmp_path):
    rows = _random_rows(21)
    rnd = random.Random(99)
    rnd.shuffle(rows)
    cuts = [rows[:100], rows[100:200], rows[200:]]
    state = RetentionIndexState(spark, str(tmp_path / "s"))
    for b, chunk in enumerate(cuts):
        state.apply_batch(_events_df(spark, chunk), batch_id=b)
    assert _state_rows(state) == _py_retention(rows)


def test_retention_late_data_shifts_cohort(spark, tmp_path):
    """A late earlier-day event moves the user's cohort EARLIER and the
    whole row block shifts consistently, exactly like a scratch rescan."""
    state = RetentionIndexState(spark, str(tmp_path / "s"))
    recent = [("u1", "2024-01-10 10:00:00"), ("u1", "2024-01-12 10:00:00")]
    state.apply_batch(_events_df(spark, recent), batch_id=0)
    assert _state_rows(state) == [("2024-01-10", 0, 1), ("2024-01-10", 2, 1)]
    late = [("u1", "2024-01-05 09:00:00")]
    state.apply_batch(_events_df(spark, late), batch_id=1)
    assert _state_rows(state) == _py_retention(recent + late)
    assert _state_rows(state)[0] == ("2024-01-05", 0, 1)


def test_retention_redelivery_is_algebraically_absorbed(spark, tmp_path):
    """Re-folding a delivered batch WITHOUT any replay guard changes
    nothing: the state is a distinct set and union is idempotent."""
    rows = _random_rows(23, n=120)
    state = RetentionIndexState(spark, str(tmp_path / "s"))
    state.apply_batch(_events_df(spark, rows))
    before = _state_rows(state)
    state.apply_batch(_events_df(spark, rows))  # unguarded replay
    assert _state_rows(state) == before == _py_retention(rows)


def test_retention_fuzz_arrival_orders_and_time_travel(spark, tmp_path):
    rows = _random_rows(29, n=160, users=10)
    want = _py_retention(rows)
    for trial in range(2):
        rnd = random.Random(2000 + trial)
        shuffled = rows[:]
        rnd.shuffle(shuffled)
        cut = rnd.randrange(1, len(rows))
        state = RetentionIndexState(spark, str(tmp_path / f"t{trial}"))
        state.apply_batch(_events_df(spark, shuffled[:cut]), batch_id=0)
        v0 = state.version()
        state.apply_batch(_events_df(spark, shuffled[cut:]), batch_id=1)
        assert _state_rows(state) == want
        assert _state_rows(state, version=v0) == _py_retention(
            shuffled[:cut]
        )


def test_maintain_retention_stream(spark, tmp_path):
    rows = _random_rows(31, n=80, users=8)
    src = tmp_path / "src"
    src.mkdir()
    df = _events_df(spark, rows)
    df.coalesce(3).write.parquet(str(src / "p"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p"))
    )
    state = RetentionIndexState(spark, str(tmp_path / "s"))
    q = maintain_stream(
        stream,
        state,
        checkpoint_dir=str(tmp_path / "ck"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    assert _state_rows(state) == _py_retention(rows)
