"""Incrementally-maintained sessionization index (§2.12).

Batch ``streaming/events.sessionize`` rescans the event history per
query; an ingest pipeline instead folds each micro-batch into per-user
session INTERVALS and serves the session table from state that is
O(sessions), however large the raw history grows — the at-rest serving
story the funnel/sketch/retrieval tiers already have, applied to
sessions.

Why interval state is SUFFICIENT — the interior-irrelevance lemma.
Sessions over a time set are maximal runs whose consecutive gaps are
all < gap (``ts - prev >= gap`` starts a new session, matching
``session_window``).  Claim: once a set of times forms one session
(a *chained* interval [s, e]), only its boundaries matter for all
future structure.  Proof that merging two chained intervals I, J with
``J.start - I.end < gap`` (or overlapping) yields a chained interval —
take consecutive times a < b in the sorted union:

- a, b both from I: b is at most a's successor within I (anything of
  I between them would contradict consecutiveness), so
  ``b - a <= succ_I(a) - a < gap``;
- a from I, b from J with b <= I.end: a's successor within I is >= b,
  same bound;
- the pair straddles I.end (a >= I.end, b > I.end): either b's
  predecessor within J is <= a — then ``b - a <= b - pred_J(b) <
  gap`` — or b = J.start and ``b - a <= J.start - I.end < gap``.

Conversely intervals separated by >= gap stay distinct sessions (no
time lies between them).  So folding ANY arrival order — late events
inside an existing interval, bridging events that merge two intervals,
isolated events opening new ones — through "union intervals, merge
while start − running-max-end < gap" reproduces sessions-from-scratch
exactly: maintained == rescan-everything, with interior times provably
never needed again.  Sessions only ever MERGE as data arrives (adding
a time cannot split a chained run), which is why the state never has
to remember how to split one.

Counters: ``n`` (events) and ``sv`` (an additive integer value column,
e.g. cents) ride along each interval and add on merge.  Like the
vocabulary index this makes the state ADDITIVE, so the streaming path
passes the micro-batch id and ``apply_batch`` skips anything at or
below ``last_batch()`` — foreachBatch redelivery after a crash between
snapshot swap and checkpoint commit must not double-count.  The
*boundaries* are set-idempotent regardless (re-folding a batch merges
identical intervals back into themselves, pytest-pinned); only the
counters need the guard.

State is versioned parquet snapshots behind the shared VERSION pointer
(``streaming/state.py``); on a cluster the fold becomes a Delta MERGE
on the user key.  Per-batch cost: one user-keyed shuffle of
(state sessions + batch events) — the per-user window ranks a frame
bounded by that user's SESSION count plus the batch's own events,
never the raw history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from nomenklatura_spark.streaming.state import VersionedState

_SESS_SCHEMA = "u string, s timestamp, e timestamp, n bigint, sv bigint"


def fold_session_intervals(merged: DataFrame, gap_seconds: int) -> DataFrame:
    """One windowed pass of interval gaps-and-islands over (u, s, e, n,
    sv) rows: merge intervals whose start is within ``gap_seconds`` of
    the running maximum end (containment and overlap collapse with the
    same predicate), summing the additive counters.  The window
    partitions by the USER key — its per-key row count is that user's
    session count plus the batch's own events, never the raw history —
    and the final groupBy partially aggregates map-side."""
    w = Window.partitionBy("u").orderBy("s", "e")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    gap_us = gap_seconds * 1_000_000
    starts_new = F.when(
        prev_end.isNull()
        | (F.unix_micros("s") - F.unix_micros(prev_end) >= gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        merged.withColumn("_new", starts_new)
        .withColumn("_island", F.sum("_new").over(w))
        .groupBy("u", "_island")
        .agg(
            F.min("s").alias("s"),
            F.max("e").alias("e"),
            F.sum("n").alias("n"),
            F.sum("sv").alias("sv"),
        )
        .select("u", "s", "e", "n", "sv")
    )


class SessionIndexState(VersionedState):
    """Versioned on-disk state: the per-user session-interval relation
    (u, s, e, n, sv) for one gap definition."""

    def __init__(
        self,
        spark,
        root: str,
        gap_seconds: int = 1800,
        max_user_rows: int = 1_000_000,
    ) -> None:
        super().__init__(spark, root)
        if gap_seconds < 1:
            raise ValueError("gap_seconds must be >= 1")
        self.gap_seconds = gap_seconds
        if max_user_rows < 1:
            raise ValueError("max_user_rows must be >= 1")
        self.max_user_rows = max_user_rows

    def sessions(self, version: int | None = None) -> DataFrame:
        return self._read("sessions", _SESS_SCHEMA, version)

    def apply_batch(
        self,
        df: DataFrame,
        user_col: str = "user_id",
        ts_col: str = "ts",
        value_col: str | None = "value_int",
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Fold one micro-batch of raw events into the interval state.

        Each event enters as a degenerate interval (t, t, 1, v); the
        union with the state intervals is re-merged per user in one
        windowed pass (gaps-and-islands over intervals with a running
        max of the interval ends, so containment and overlap collapse
        too).  Only the users TOUCHED by the batch enter the fold —
        everyone else's state rows pass through untouched (sessions of
        different users never interact), so the windowed work is
        O(batch users' state + batch), not O(all users), the same
        O(delta) discipline as the other maintained indexes (on a
        cluster the pass-through union becomes the unmodified side of a
        Delta MERGE).  ``value_col`` must be an additive INTEGER column
        (the caller fixes the unit, e.g. cents) — the house
        exact-arithmetic rule; pass None to maintain event counts only.

        The per-user window frame (that user's sessions + their batch
        events) carries an EXECUTABLE bound, same contract shape as
        ``event_paths`` and the funnel orphan cap: a map-side-combined
        count pass runs first, and any user above the index's
        ``max_user_rows`` raises a loud ValueError naming the offenders
        before the windowed fold runs — a 10^8-event bot in one batch
        is one straggler task otherwise, and silently truncating it
        would corrupt that user's intervals.
        """
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _SESS_SCHEMA)
        val = (
            F.col(value_col).cast("bigint")
            if value_col is not None
            else F.lit(0).cast("bigint")
        )
        batch = df.select(
            F.col(user_col).cast("string").alias("u"),
            F.col(ts_col).cast("timestamp").alias("s"),
            F.col(ts_col).cast("timestamp").alias("e"),
            F.lit(1).cast("bigint").alias("n"),
            val.alias("sv"),
        ).where(F.col("s").isNotNull())
        bootstrap = self.version() < 0
        if bootstrap:
            # bootstrap fold (empty state): the touched semi-join, the
            # union with prev and the pass-through anti-join are all
            # degenerate — fold the batch alone, keeping the first
            # fold's plans free of empty-state join subtrees (the
            # measured fold-1 anomaly); the offender bound still runs
            prev = touched = None
            fold_input = batch.localCheckpoint(eager=True)
        else:
            touched = batch.select("u").distinct()
            prev = self.sessions()
            # checkpointed ONCE: the offender pre-count and the windowed
            # fold both read this materialization — otherwise the
            # semi-join union is computed twice per fold (one per action)
            fold_input = (
                prev.join(touched, "u", "left_semi")
                .unionByName(batch)
                .localCheckpoint(eager=True)
            )
        offenders = (
            fold_input.groupBy("u")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .where(F.col("n_rows") > self.max_user_rows)
            .orderBy(F.col("n_rows").desc(), "u")
            .limit(10)
            .collect()
        )
        if offenders:
            names = ", ".join(
                f"{r['u']}({r['n_rows']})" for r in offenders
            )
            raise ValueError(
                f"session index: user(s) above the max_user_rows="
                f"{self.max_user_rows} per-user fold bound: {names} "
                f"(top 10 shown); filter or cap those users upstream, "
                f"or raise the bound if the executors have the memory"
            )
        folded = fold_session_intervals(fold_input, self.gap_seconds)
        if not bootstrap:
            folded = folded.unionByName(
                prev.join(touched, "u", "left_anti")
            )
        self.commit({"sessions": folded}, batch_id=batch_id, scope=scope)
        return batch
