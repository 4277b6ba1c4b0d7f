"""Incrementally-maintained funnel index (streaming/funnel_index.py):
incremental-equals-scratch under out-of-order arrival, redelivery
idempotence by algebra, the pruning invariants, and the Structured
Streaming driver."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from nomenklatura_spark.operators.temporal import funnel_steps
from nomenklatura_spark.streaming.funnel_index import (
    FunnelIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream

STEPS = ["view", "click", "purchase"]
SCHEMA = "user_id string, ts string, event_type string"


def _events_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _counts(df):
    return sorted(tuple(r) for r in df.collect())


def _random_rows(seed, n=400, users=40):
    rnd = random.Random(seed)
    types = STEPS
    return [
        (
            f"u{rnd.randrange(users)}",
            f"2024-01-{rnd.randrange(1, 28):02d} "
            f"{rnd.randrange(24):02d}:{rnd.randrange(60):02d}:00",
            types[rnd.randrange(3)],
        )
        for _ in range(n)
    ]


def test_funnel_index_incremental_matches_scratch(spark, tmp_path):
    """Three ARRIVAL-shuffled batches (event time and arrival order are
    deliberately uncorrelated, so late data crosses every batch
    boundary): counts from state must equal the batch operator over the
    full history, with and without a horizon."""
    rows = _random_rows(3)
    rnd = random.Random(99)
    rnd.shuffle(rows)
    cuts = [rows[:130], rows[130:260], rows[260:]]
    for within, sub in (("7 DAYS", "w"), (None, "n")):
        state = FunnelIndexState(
            spark, str(tmp_path / f"state_{sub}"), STEPS, within=within
        )
        for b, chunk in enumerate(cuts):
            state.apply_batch(_events_df(spark, chunk), batch_id=b)
        scratch = funnel_steps(
            _events_df(spark, rows), STEPS, within=within
        )
        assert _counts(state.counts()) == _counts(scratch)


def test_funnel_index_redelivery_absorbed_by_algebra(spark, tmp_path):
    """Re-folding an already-applied batch WITHOUT the replay guard
    (batch_id=None) must not change counts or state — distinct-union +
    re-prune is idempotent."""
    rows = _random_rows(11)
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, within="7 DAYS"
    )
    b1, b2 = rows[:200], rows[200:]
    state.apply_batch(_events_df(spark, b1), batch_id=None)
    state.apply_batch(_events_df(spark, b2), batch_id=None)
    before_counts = _counts(state.counts())
    before_state = sorted(tuple(r) for r in state.times().collect())
    state.apply_batch(_events_df(spark, b2), batch_id=None)  # redelivery
    assert _counts(state.counts()) == before_counts
    assert sorted(tuple(r) for r in state.times().collect()) == before_state


def test_funnel_index_late_data_lowers_the_chain(spark, tmp_path):
    """The adversarial out-of-order case: a late batch lowers q1, which
    re-qualifies a click the first batch had already seen (and kept,
    because it sat below the then-current q2)."""
    state = FunnelIndexState(spark, str(tmp_path / "state"), STEPS)
    state.apply_batch(
        _events_df(
            spark,
            [
                ("u", "2024-01-09 00:00:00", "view"),
                ("u", "2024-01-10 00:00:00", "click"),
                ("u", "2024-01-03 00:00:00", "click"),  # below q2=10th: kept
            ],
        ),
        batch_id=0,
    )
    got1 = {r["step"]: r["n_users"] for r in state.counts().collect()}
    assert got1 == {1: 1, 2: 1, 3: 0}
    # late view on the 1st: q1 drops to the 1st, q2 must become the 3rd
    state.apply_batch(
        _events_df(spark, [("u", "2024-01-01 00:00:00", "view")]),
        batch_id=1,
    )
    q = state._user_steps(state.times()).collect()[0]
    assert q["q1"].day == 1 and q["q2"].day == 3


def test_funnel_index_pruning_invariants(spark, tmp_path):
    """Step-1 keeps exactly one time per step-1 user; no kept later-step
    time exceeds its current q (when q exists); horizon-expired times
    are gone; state never exceeds the raw (u, step, t) grain."""
    rows = _random_rows(17, n=600, users=30)
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, within="7 DAYS"
    )
    state.apply_batch(_events_df(spark, rows[:300]), batch_id=0)
    state.apply_batch(_events_df(spark, rows[300:]), batch_id=1)
    times = state.times()
    s1 = times.where(F.col("step") == 1).groupBy("u").count()
    assert s1.where(F.col("count") != 1).count() == 0
    q = state._user_steps(times)
    joined = times.join(q, "u", "left")
    qarr = F.array(*[F.col(f"q{i}") for i in range(1, 4)])
    viol = joined.where(
        (F.col("step") > 1)
        & F.element_at(qarr, F.col("step")).isNotNull()
        & (F.col("t") > F.element_at(qarr, F.col("step")))
    )
    assert viol.count() == 0
    horizon_viol = joined.where(
        F.col("q1").isNotNull() & (F.col("t") > F.expr("q1 + INTERVAL 7 DAYS"))
    )
    assert horizon_viol.count() == 0
    raw = (
        _events_df(spark, rows)
        .where(F.col("event_type").isin(STEPS))
        .select("user_id", "event_type", "ts")
        .distinct()
        .count()
    )
    assert times.count() <= raw


def test_funnel_index_repeated_step_names(spark, tmp_path):
    """Repeated step names route one event to several step slots, like
    the batch operator: view->view needs a SECOND strictly-later view."""
    state = FunnelIndexState(spark, str(tmp_path / "state"), ["view", "view"])
    state.apply_batch(
        _events_df(
            spark,
            [
                ("a", "2024-01-01 10:00:00", "view"),
                ("a", "2024-01-02 10:00:00", "view"),
                ("b", "2024-01-01 10:00:00", "view"),
            ],
        ),
        batch_id=0,
    )
    got = {r["step"]: r["n_users"] for r in state.counts().collect()}
    scratch = {
        r["step"]: r["n_users"]
        for r in funnel_steps(
            _events_df(
                spark,
                [
                    ("a", "2024-01-01 10:00:00", "view"),
                    ("a", "2024-01-02 10:00:00", "view"),
                    ("b", "2024-01-01 10:00:00", "view"),
                ],
            ),
            ["view", "view"],
        ).collect()
    }
    assert got == scratch == {1: 2, 2: 1}


def test_funnel_orphan_tail_bounded_then_exact_on_resolve(spark, tmp_path):
    """The no-step-1 corner is an executable contract: a bot firing
    10^2+ clicks and never a view keeps only the max_orphan_times
    smallest times plus one marker row; once the view arrives BELOW the
    kept prefix the marker drops and counts equal the batch operator
    over the full history — and the fold stays idempotent."""
    clicks = [
        ("bot", f"2024-01-01 00:{m // 60:02d}:{m % 60:02d}", "click")
        for m in range(60, 260)  # 200 clicks, no view
    ]
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, max_orphan_times=16
    )
    state.apply_batch(_events_df(spark, clicks), batch_id=0)
    bot = state.times().where("u = 'bot'")
    assert bot.where("step = 2").count() == 16  # capped, not 200
    assert bot.where("step = -2").count() == 1  # the overflow marker
    # late clicks below the bound force a re-cap (bound lowers); a
    # click above the bound joins the discarded set, never the state
    late = [
        ("bot", f"2024-01-01 00:00:{s:02d}", "click") for s in range(40, 51)
    ] + [("bot", "2024-01-01 00:05:00", "click")]
    state.apply_batch(_events_df(spark, late), batch_id=1)
    bot = state.times().where("u = 'bot'")
    assert bot.where("step = 2").count() == 16  # still capped
    assert bot.where("step = -2").count() == 1
    assert bot.where("t >= '2024-01-01 00:05:00'").count() == 0
    clicks += late
    # view arrives below the kept prefix: chain resolves inside it
    state.apply_batch(
        _events_df(spark, [("bot", "2024-01-01 00:00:30", "view")]),
        batch_id=2,
    )
    assert state.times().where("step < 0").count() == 0  # marker dropped
    scratch = funnel_steps(
        _events_df(
            spark, clicks + [("bot", "2024-01-01 00:00:30", "view")]
        ),
        STEPS,
    )
    assert _counts(state.counts()) == _counts(scratch)
    # redelivery of batch 1 without the guard: still idempotent
    state.apply_batch(
        _events_df(spark, [("bot", "2024-01-01 00:00:30", "view")]),
        batch_id=None,
    )
    assert _counts(state.counts()) == _counts(scratch)


def test_funnel_orphan_overflow_raises_beyond_prefix(spark, tmp_path):
    """When the chain resolves INSIDE the discarded range (q1 above the
    kept maximum but below the discard ceiling), the true q2 may be a
    discarded time — the fold must raise loudly, never answer silently
    wrong."""
    import pytest

    clicks = [
        ("bot", f"2024-01-01 00:{m // 60:02d}:{m % 60:02d}", "click")
        for m in range(1, 201)
    ]
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, max_orphan_times=16
    )
    state.apply_batch(_events_df(spark, clicks), batch_id=0)
    # bound = 00:00:16, discard ceiling = 00:03:20; q1 = 00:01:00 lands
    # between them, so the true q2 (00:01:01) was discarded
    with pytest.raises(ValueError, match="max_orphan_times"):
        state.apply_batch(
            _events_df(spark, [("bot", "2024-01-01 00:01:00", "view")]),
            batch_id=1,
        )


def test_funnel_orphan_exact_when_discards_below_q1(spark, tmp_path):
    """The discard-ceiling refinement: when q1 lands ABOVE everything
    ever discarded (discard_max <= q1), no discarded click can qualify,
    so 'no conversion' derived from kept times is EXACT — no raise, the
    marker persists for the day q1 drops, and counts match scratch."""
    clicks = [
        ("bot", f"2024-01-01 00:{m // 60:02d}:{m % 60:02d}", "click")
        for m in range(1, 201)  # 00:00:01 .. 00:03:20
    ]
    view = [("bot", "2024-01-01 00:50:00", "view")]  # above the ceiling
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, max_orphan_times=16
    )
    state.apply_batch(_events_df(spark, clicks), batch_id=0)
    state.apply_batch(_events_df(spark, view), batch_id=1)  # no raise
    assert state.times().where("step = -2").count() == 1  # marker stays
    scratch = funnel_steps(_events_df(spark, clicks + view), STEPS)
    assert _counts(state.counts()) == _counts(scratch)
    got = {r["step"]: r["n_users"] for r in state.counts().collect()}
    assert got == {1: 1, 2: 0, 3: 0}
    # a later view BELOW the ceiling reopens the question -> loud
    import pytest

    with pytest.raises(ValueError, match="repair_users"):
        state.apply_batch(
            _events_df(spark, [("bot", "2024-01-01 00:02:00", "view")]),
            batch_id=2,
        )


def test_funnel_orphan_repair_users_restores_exactness(spark, tmp_path):
    """The executable recovery path: force the undecidable case (chain
    resolves beyond the capped prefix), repair with a targeted rescan
    of the raw history for exactly the named users, re-apply the failed
    batch, and assert incremental-equals-scratch end-to-end — with an
    innocent user's state verifiably untouched by the repair."""
    import pytest

    clicks = [
        ("bot", f"2024-01-01 00:{m // 60:02d}:{m % 60:02d}", "click")
        for m in range(1, 201)
    ]
    innocent = [
        ("ok", "2024-01-01 00:00:00", "view"),
        ("ok", "2024-01-01 00:01:00", "click"),
    ]
    late_view = [("bot", "2024-01-01 00:01:00", "view")]
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, max_orphan_times=16
    )
    state.apply_batch(_events_df(spark, clicks + innocent), batch_id=0)
    ok_before = sorted(
        tuple(r) for r in state.times().where("u = 'ok'").collect()
    )
    # q1 lands inside the discarded range (above the kept prefix,
    # below the ceiling): the fold must raise and must NOT commit
    # (version pointer unchanged)
    v_before = state.version()
    with pytest.raises(ValueError, match="repair_users"):
        state.apply_batch(_events_df(spark, late_view), batch_id=1)
    assert state.version() == v_before
    # repair: full raw history (folded batches + the batch that raised)
    history = _events_df(spark, clicks + innocent + late_view)
    assert state.repair_users(history, ["bot"]) == ["bot"]
    assert (
        sorted(tuple(r) for r in state.times().where("u = 'ok'").collect())
        == ok_before
    )
    # re-apply the failed batch: idempotent for the rescanned rows
    state.apply_batch(_events_df(spark, late_view), batch_id=1)
    scratch = funnel_steps(history, STEPS)
    assert _counts(state.counts()) == _counts(scratch)
    # the rebuilt bot rows are exact: q2 = first click after 00:01:00,
    # and the chain resolved, so no marker remains for bot
    qrow = (
        state._user_steps(state.times()).where("u = 'bot'").collect()[0]
    )
    assert qrow["q1"].strftime("%H:%M:%S") == "00:01:00"
    assert qrow["q2"].strftime("%H:%M:%S") == "00:01:01"
    assert state.times().where("u = 'bot' and step < 0").count() == 0


def test_funnel_orphan_repair_users_default_and_noop(spark, tmp_path):
    """users=None repairs every marked user; an unmarked state is a
    no-op (returns [] and does not bump the version)."""
    clicks = [
        ("bot", f"2024-01-01 00:{m // 60:02d}:{m % 60:02d}", "click")
        for m in range(1, 101)
    ]
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, max_orphan_times=8
    )
    state.apply_batch(_events_df(spark, clicks), batch_id=0)
    assert state.times().where("step < 0").count() == 1
    got = state.repair_users(_events_df(spark, clicks))
    assert got == ["bot"]
    # complete-history rebuild: still capped + marked (tail overflows),
    # and counts keep matching scratch
    assert state.times().where("u = 'bot' and step = 2").count() == 8
    assert state.times().where("step < 0").count() == 1
    scratch = funnel_steps(_events_df(spark, clicks), STEPS)
    assert _counts(state.counts()) == _counts(scratch)
    # nothing marked after the view resolves inside the kept prefix
    # (q1 = 00:00:05 <= bound, so q2 = 00:00:06 comes off kept rows)
    state.apply_batch(
        _events_df(spark, [("bot", "2024-01-01 00:00:05", "view")]),
        batch_id=1,
    )
    assert state.times().where("step < 0").count() == 0
    v = state.version()
    assert state.repair_users(_events_df(spark, clicks)) == []
    assert state.version() == v


def test_funnel_orphan_marker_dropped_when_horizon_closes(spark, tmp_path):
    """With a horizon, a marked key becomes decidable once q1 + W falls
    below the kept maximum: every discarded time is outside the horizon
    forever, so the marker drops and counts stay exact vs scratch."""
    clicks = [
        (f"u", f"2024-01-{d:02d} 00:00:00", "click") for d in range(1, 21)
    ]
    view = [("u", "2024-01-02 01:00:00", "view")]
    state = FunnelIndexState(
        spark,
        str(tmp_path / "state"),
        STEPS,
        within="1 HOURS",
        max_orphan_times=4,
    )
    state.apply_batch(_events_df(spark, clicks), batch_id=0)
    assert state.times().where("step < 0").count() == 1
    state.apply_batch(_events_df(spark, view), batch_id=1)
    # horizon (01-02 02:00) <= bound (01-04): decidable, marker gone
    assert state.times().where("step < 0").count() == 0
    scratch = funnel_steps(
        _events_df(spark, clicks + view), STEPS, within="1 HOURS"
    )
    assert _counts(state.counts()) == _counts(scratch)


def test_maintain_funnel_stream(spark, tmp_path):
    import json as _json
    import os as _os

    src = str(tmp_path / "src")
    _os.makedirs(src)
    rows = _random_rows(23, n=200, users=20)
    random.Random(5).shuffle(rows)
    batches = [rows[:100], rows[100:]]
    for n, chunk in enumerate(batches):
        with open(_os.path.join(src, f"b{n}.json"), "w") as fh:
            for u, ts, et in chunk:
                fh.write(
                    _json.dumps({"user_id": u, "ts": ts, "event_type": et})
                    + "\n"
                )
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, within="7 DAYS"
    )
    stream = (
        spark.readStream.schema("user_id string, ts string, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    stream = stream.withColumn("ts", F.to_timestamp("ts"))
    q = maintain_stream(
        stream, state, checkpoint_dir=str(tmp_path / "chk")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert state.version() == 1
    scratch = funnel_steps(_events_df(spark, rows), STEPS, within="7 DAYS")
    assert _counts(state.counts()) == _counts(scratch)


def test_funnel_index_time_travel(spark, tmp_path):
    """Snapshot versioning: counts(version=v) answers the funnel as of
    batch v — version 0 must equal the batch operator over batch 1's
    events alone, while the head serves the full history."""
    rows = _random_rows(31, n=300, users=25)
    b1, b2 = rows[:150], rows[150:]
    state = FunnelIndexState(
        spark, str(tmp_path / "state"), STEPS, within="7 DAYS"
    )
    state.apply_batch(_events_df(spark, b1), batch_id=0)
    state.apply_batch(_events_df(spark, b2), batch_id=1)
    asof_b1 = funnel_steps(_events_df(spark, b1), STEPS, within="7 DAYS")
    full = funnel_steps(_events_df(spark, rows), STEPS, within="7 DAYS")
    assert _counts(state.counts(version=0)) == _counts(asof_b1)
    assert _counts(state.counts()) == _counts(full)


def test_funnel_index_fuzz_many_arrival_orders(spark, tmp_path):
    """Heavier randomized sweep over the monotonicity argument: several
    seeds x uneven batch splits, arrival order shuffled independently of
    event time — state counts must equal scratch every time."""
    for seed in (41, 42, 43):
        rows = _random_rows(seed, n=240, users=18)
        rnd = random.Random(seed * 7)
        rnd.shuffle(rows)
        cuts = [rows[:30], rows[30:180], rows[180:]]  # uneven on purpose
        state = FunnelIndexState(
            spark, str(tmp_path / f"s{seed}"), STEPS, within="3 DAYS"
        )
        for b, chunk in enumerate(cuts):
            state.apply_batch(_events_df(spark, chunk), batch_id=b)
        scratch = funnel_steps(
            _events_df(spark, rows), STEPS, within="3 DAYS"
        )
        assert _counts(state.counts()) == _counts(scratch), seed


def test_funnel_index_vacuum_keeps_head_serving(spark, tmp_path):
    """Retention: vacuum(keep_last=1) removes old snapshot directories,
    the head keeps serving the same counts, and time travel past the
    vacuum horizon fails loudly instead of reading as an empty funnel."""
    import pytest

    rows = _random_rows(53, n=200, users=20)
    state = FunnelIndexState(
        spark, str(tmp_path), STEPS, within="7 DAYS"
    )
    state.apply_batch(_events_df(spark, rows[:100]), batch_id=0)
    state.apply_batch(_events_df(spark, rows[100:]), batch_id=1)
    head = _counts(state.counts())
    removed = state.vacuum(keep_last=1)
    assert removed, "vacuum removed nothing"
    assert _counts(state.counts()) == head
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
        state.counts(version=0).collect()
