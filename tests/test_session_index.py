"""Incrementally-maintained session index (streaming/session_index.py):
incremental-equals-scratch under out-of-order arrival, boundary
idempotence under redelivery, the additive replay guard, time travel,
and the Structured Streaming driver."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from nomenklatura_spark.streaming.session_index import (
    SessionIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream

SCHEMA = "user_id string, ts string, value_int long"
GAP = 1800  # 30 minutes


def _events_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _py_sessions(rows, gap=GAP):
    """Driver-side gaps-and-islands reference over the full history."""
    by_user: dict[str, list[tuple[int, int]]] = {}
    import datetime as dt

    for u, ts, v in rows:
        t = int(
            dt.datetime.fromisoformat(ts)
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
        )
        by_user.setdefault(u, []).append((t, v))
    out = []
    for u, evs in by_user.items():
        evs.sort()
        cur = None
        for t, v in evs:
            if cur is not None and t - cur[1] < gap:
                cur = (cur[0], t, cur[2] + 1, cur[3] + v)
            else:
                if cur is not None:
                    out.append((u, *cur))
                cur = (t, t, 1, v)
        out.append((u, *cur))
    return sorted(out)


def _state_rows(state, version=None):
    return sorted(
        (
            r["u"],
            int(r["s"].timestamp()),
            int(r["e"].timestamp()),
            r["n"],
            r["sv"],
        )
        for r in state.sessions(version).collect()
    )


def _random_rows(seed, n=400, users=25):
    rnd = random.Random(seed)
    return [
        (
            f"u{rnd.randrange(users)}",
            f"2024-01-{rnd.randrange(1, 28):02d} "
            f"{rnd.randrange(24):02d}:{rnd.randrange(60):02d}:"
            f"{rnd.randrange(60):02d}",
            rnd.randrange(1, 500),
        )
        for _ in range(n)
    ]


def test_session_index_incremental_matches_scratch(spark, tmp_path):
    """Three ARRIVAL-shuffled batches: the maintained interval state
    must equal gaps-and-islands over the full history — late events
    land inside existing intervals, bridge two intervals into one, and
    open new ones across every batch boundary."""
    rows = _random_rows(7)
    rnd = random.Random(99)
    rnd.shuffle(rows)
    cuts = [rows[:130], rows[130:260], rows[260:]]
    state = SessionIndexState(spark, str(tmp_path / "s"), gap_seconds=GAP)
    for b, chunk in enumerate(cuts):
        state.apply_batch(_events_df(spark, chunk), batch_id=b)
    assert _state_rows(state) == _py_sessions(rows)


def test_session_index_bot_user_cap_raises(spark, tmp_path):
    """The executable per-user fold bound: a user whose state + batch
    rows exceed max_user_rows raises loudly (naming user and count)
    BEFORE the windowed fold, without committing; legal batches then
    still fold, and the bound counts the user's STATE rows too."""
    import pytest

    state = SessionIndexState(
        spark, str(tmp_path / "s"), gap_seconds=GAP, max_user_rows=20
    )
    bot = [
        ("bot", f"2024-01-01 {h:02d}:00:00", 1) for h in range(21)
    ]  # 21 rows > 20
    with pytest.raises(ValueError, match=r"bot\(21\)"):
        state.apply_batch(_events_df(spark, bot), batch_id=0)
    assert state.version() == -1  # nothing committed
    # exactly at the bound: fine; 21 isolated sessions of 1h gaps...
    state.apply_batch(_events_df(spark, bot[:20]), batch_id=0)
    assert state.sessions().where("u = 'bot'").count() == 20
    # next batch: 20 state rows + 1 event = 21 > 20 -> the state side
    # counts against the bound too
    with pytest.raises(ValueError, match="max_user_rows"):
        state.apply_batch(
            _events_df(spark, [("bot", "2024-01-02 05:00:00", 1)]),
            batch_id=1,
        )


def test_session_index_bridge_merges_two_intervals(spark, tmp_path):
    """The specific late-data path the lemma covers: two established
    sessions merge when a bridging event lands in the gap between
    them, and counters add."""
    state = SessionIndexState(spark, str(tmp_path / "s"), gap_seconds=GAP)
    early = [("u1", "2024-01-01 10:00:00", 10), ("u1", "2024-01-01 10:10:00", 5)]
    late = [("u1", "2024-01-01 11:00:00", 7)]
    state.apply_batch(_events_df(spark, early), batch_id=0)
    state.apply_batch(_events_df(spark, late), batch_id=1)
    assert len(_state_rows(state)) == 2  # 10:10 -> 11:00 is >= 30 min
    bridge = [("u1", "2024-01-01 10:35:00", 3)]  # < 30 min from both
    state.apply_batch(_events_df(spark, bridge), batch_id=2)
    assert _state_rows(state) == _py_sessions(early + late + bridge)
    (row,) = _state_rows(state)
    assert row[3] == 4 and row[4] == 25  # one session, counters added


def test_session_index_boundaries_idempotent_counters_guarded(
    spark, tmp_path
):
    """Re-folding a delivered batch WITHOUT the replay guard leaves the
    boundaries unchanged (intervals merge back into themselves — the
    set-idempotent part) while the additive counters inflate; WITH the
    guard (same batch id) the fold is skipped entirely."""
    rows = _random_rows(11, n=120)
    state = SessionIndexState(spark, str(tmp_path / "s"), gap_seconds=GAP)
    state.apply_batch(_events_df(spark, rows), batch_id=0, scope="ck")
    before = _state_rows(state)
    # guarded: same batch id is a no-op
    state.apply_batch(_events_df(spark, rows), batch_id=0, scope="ck")
    assert _state_rows(state) == before
    # unguarded replay: boundaries survive, counters double
    state.apply_batch(_events_df(spark, rows))
    after = _state_rows(state)
    assert [(r[0], r[1], r[2]) for r in after] == [
        (r[0], r[1], r[2]) for r in before
    ]
    assert all(a[3] == 2 * b[3] and a[4] == 2 * b[4] for a, b in zip(after, before))


def test_session_index_fuzz_many_arrival_orders(spark, tmp_path):
    """Arrival order must not matter: random shuffles and uneven batch
    splits all converge to the same scratch answer."""
    rows = _random_rows(13, n=200, users=12)
    want = _py_sessions(rows)
    for trial in range(3):
        rnd = random.Random(1000 + trial)
        shuffled = rows[:]
        rnd.shuffle(shuffled)
        cuts = sorted(rnd.sample(range(1, len(rows)), 3))
        batches = [
            shuffled[a:b]
            for a, b in zip([0, *cuts], [*cuts, len(rows)])
        ]
        state = SessionIndexState(
            spark, str(tmp_path / f"f{trial}"), gap_seconds=GAP
        )
        for b, chunk in enumerate(batches):
            state.apply_batch(_events_df(spark, chunk), batch_id=b)
        assert _state_rows(state) == want


def test_session_index_time_travel_and_vacuum(spark, tmp_path):
    state = SessionIndexState(spark, str(tmp_path / "s"), gap_seconds=GAP)
    b0 = [("u1", "2024-01-01 10:00:00", 1)]
    b1 = [("u1", "2024-01-01 10:10:00", 2)]
    state.apply_batch(_events_df(spark, b0), batch_id=0)
    v0 = state.version()
    state.apply_batch(_events_df(spark, b1), batch_id=1)
    assert _state_rows(state, version=v0) == _py_sessions(b0)
    assert _state_rows(state) == _py_sessions(b0 + b1)
    state.vacuum(keep_last=1)
    import pytest

    with pytest.raises(Exception):
        state.sessions(v0).collect()
    assert _state_rows(state) == _py_sessions(b0 + b1)


def test_maintain_session_stream(spark, tmp_path):
    """Structured Streaming driver: rate-limited file stream folds into
    the state; final state equals scratch."""
    rows = _random_rows(17, n=90, users=8)
    src = tmp_path / "src"
    src.mkdir()
    df = _events_df(spark, rows)
    df.coalesce(3).write.parquet(str(src / "p"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p"))
    )
    state = SessionIndexState(spark, str(tmp_path / "s"), gap_seconds=GAP)
    q = maintain_stream(
        stream,
        state,
        checkpoint_dir=str(tmp_path / "ck"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    assert _state_rows(state) == _py_sessions(rows)


def test_session_index_counts_only_without_value_column(spark, tmp_path):
    """value_col=None maintains boundaries and event counts with sv
    pinned to 0 — the counts-only deployment shape."""
    rows = [
        ("u1", "2024-01-01 10:00:00", 1),
        ("u1", "2024-01-01 10:10:00", 2),
    ]
    state = SessionIndexState(spark, str(tmp_path / "s"), gap_seconds=GAP)
    state.apply_batch(
        _events_df(spark, rows).drop("value_int"),
        value_col=None,
        batch_id=0,
    )
    (row,) = _state_rows(state)
    assert row[3] == 2 and row[4] == 0
