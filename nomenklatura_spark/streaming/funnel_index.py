"""Incrementally-maintained ordered-funnel index (§2.12).

Batch ``operators/temporal.funnel_steps`` rescans the event history per
query; an ingest pipeline instead folds each micro-batch into per-user
SUFFICIENT state and answers funnel counts from state that is
O(users x steps + a bounded tail of candidate times), however large the
history grows.

Exactness under out-of-order arrival — the part that makes a streaming
funnel hard — rests on one monotonicity argument.  Let q_i be step i's
first qualifying touch (q_1 = min step-1 time; q_i = min step-i time
strictly after q_{i-1}, inside the horizon q_1 + W when set).  Late
data can only LOWER q_1, and therefore only lower each q_i in turn
(the eligible set {t > q_{i-1}} only widens downward, and min over a
superset never grows).  So a step-i time ABOVE the current q_i can
never become the answer, and the state may prune it; a time below the
current q_i must be kept, because a later batch may lower q_{i-1} past
it.  Step 1 needs only its minimum.  The horizon cut
``t <= q_1 + W`` is safe for the same reason: q_1 only decreases, so
the horizon only tightens, and a time outside it now is outside it
forever.

ORPHAN rows — step-i times whose chain is still incomplete (q_{i-1}
unresolved, e.g. a user with clicks but no view yet) — have no q_i to
prune against: a future q_{i-1} could land anywhere, so exact state is
genuinely that user's own event count.  A bot that fires "purchase"
forever and never "view" would grow state without bound, so the index
enforces an executable contract (``max_orphan_times``): per (user,
step) it keeps only the K SMALLEST orphan times plus a MARKER row
encoded as (u, -step, bound, discard_max) where ``bound`` is the kept
maximum at discard time and ``discard_max`` the largest time ever
discarded that could still matter.  The marker carries its own
invariant — every kept time is <= bound and every discarded time lies
in (bound, discard_max] — maintained across folds: arrivals above a
marked key's bound are discarded too (raising the ceiling, unless they
are already beyond the horizon and thus forever irrelevant), a re-cap
only lowers the bound, and the ceiling only rises.  Both live IN the
marker, so they survive later prunes that remove kept rows (e.g. the
horizon cut).  Under it the index stays EXACT or fails LOUDLY, never
silently wrong:

- chain resolves inside the bound (q_i derived from kept times is
  non-null): q_i <= bound < every discarded time, so it is the true
  minimum, and since q_{i-1} only ever decreases the discarded times
  can never be needed — the marker is dropped and the key is exact
  forever after;
- the horizon closes at or below the bound (q_1 + W <= bound): every
  discarded time is outside the horizon now, and the horizon only
  tightens — marker dropped, exact;
- chain resolves beyond the bound but the whole discarded range sits
  at or below q_{i-1} (discard_max <= q_{i-1}): no discarded time can
  qualify (qualifying needs t > q_{i-1}), so q_i from kept times —
  including "no conversion" — is EXACT; the marker stays, because a
  future drop of q_{i-1} below the ceiling reopens the question;
- chain resolves BEYOND the bound with discard_max > q_{i-1} (q_i
  unresolved from kept times, horizon still open above the bound): the
  true q_i may be a discarded time — ``apply_batch`` raises ValueError
  naming the keys, and ``repair_users`` is the executable recovery: a
  rescan of the raw history for EXACTLY those users (pushed-down
  ``isin`` filter), rebuilding their rows from complete information
  with fresh markers while every other user's state is untouched; then
  re-apply the batch that raised (its fold never committed, and
  re-folding is idempotent by the distinct-union algebra).  A repaired
  key cannot re-raise: on complete information a ceiling above
  q_{i-1} implies a qualifying time existed, which would have resolved
  q_i (see ``repair_users``).

Merging a batch = distinct-union + re-derive q + re-prune, which is
IDEMPOTENT: re-folding a delivered batch re-adds rows the prune already
rejected and rejects them again, so foreachBatch's at-least-once
redelivery is absorbed by algebra (the HLL-index property) — the
replay guard is honored when supplied but correctness never depends on
it.

State is versioned parquet snapshots behind the shared VERSION pointer
(`streaming/state.py`); on a cluster the merge becomes a Delta MERGE
on (u, step, t) plus a partition-overwrite of the pruned tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.streaming.state import VersionedState

_TIMES_SCHEMA = "u string, step int, t timestamp, d timestamp"


class FunnelIndexState(VersionedState):
    """Versioned on-disk state: the pruned (u, step, t) candidate-time
    relation for one funnel definition (fixed ``steps`` and ``within``
    per index)."""

    def __init__(
        self,
        spark,
        root: str,
        steps: list[str],
        within: str | None = None,
        max_orphan_times: int = 1024,
    ) -> None:
        super().__init__(spark, root)
        self.steps = list(steps)
        self.within = within
        if max_orphan_times < 1:
            raise ValueError("max_orphan_times must be >= 1")
        self.max_orphan_times = max_orphan_times

    def times(self, version: int | None = None) -> DataFrame:
        return self._read("times", _TIMES_SCHEMA, version)

    def _horizon(self):
        return F.expr(f"q1 + INTERVAL {self.within}")

    def _user_steps(self, times: DataFrame) -> DataFrame:
        """(u, q1..qk): each user's qualifying first-touch chain derived
        from the candidate-time relation — the same iterative
        min-strictly-after reduction as ``funnel_steps``, but over
        state-sized input.  Marker rows (step < 0) are excluded."""
        times = times.where(F.col("step") > 0)
        k = len(self.steps)
        frames = [
            times.where(F.col("step") == 1)
            .groupBy("u")
            .agg(F.min("t").alias("q1"))
        ]
        for i in range(2, k + 1):
            cand = times.where(F.col("step") == i).join(frames[-1], "u")
            cond = F.col("t") > F.col(f"q{i - 1}")
            if self.within is not None:
                cond = cond & (F.col("t") <= self._horizon())
            frames.append(
                cand.where(cond)
                .groupBy("u", *[f"q{j}" for j in range(1, i)])
                .agg(F.min("t").alias(f"q{i}"))
            )
        out = frames[0]
        for i, fr in enumerate(frames[1:], start=2):
            out = out.join(fr.select("u", f"q{i}"), "u", "left")
        return out

    def apply_batch(
        self,
        df: DataFrame,
        user_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Fold one micro-batch of raw events into the candidate-time
        state: distinct-union, re-derive the q chain, re-prune, then cap
        orphan tails (see module docstring) — exact or a loud ValueError,
        never silently wrong."""
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _TIMES_SCHEMA)
        batch = self._route(df, user_col, ts_col, type_col)
        bootstrap = self.version() < 0
        if bootstrap:
            # Bootstrap fold (empty state): the union with prev, the
            # marker join, the rejected side and the discard update are
            # all provably degenerate (left join against an empty side
            # keeps every row with a NULL bound; nothing can be
            # rejected; there are no prior markers).  Building the fold
            # WITHOUT the empty-relation joins keeps the plans that
            # every downstream action re-analyzes (the q derivation,
            # the prune, the probe, the state write) free of dead
            # empty-side join subtrees — measured ~0.8s/fold locally,
            # the "fold 1 hotter than folds 2-3" anomaly (guide §1.2:
            # fix the plan, not the config).
            joined = (
                batch.distinct()
                .withColumn("_b", F.lit(None).cast("timestamp"))
                .localCheckpoint(eager=True)
            )
            prev_markers = None
        else:
            prev = self.times()
            prev_markers = prev.where(F.col("step") < 0).select(
                "u",
                (-F.col("step")).alias("step"),
                F.col("t").alias("_b"),
                F.col("d").alias("_d"),
            )
            unioned = (
                prev.where(F.col("step") > 0)
                .select("u", "step", "t")
                .unionByName(batch)
                .distinct()
            )
            # Cap invariant across folds: a MARKED key (some larger times
            # already discarded) must never re-admit an arrival above its
            # bound — otherwise a later chain could resolve to the arrival
            # while a discarded smaller time was the true answer, and the
            # decidability check below would pass silently.  Such arrivals
            # join the discarded set; the REJECTED side is kept so its
            # maximum can extend the marker's discard ceiling below.
            # Checkpointed ONCE, bound column included: the admitted side,
            # the rejected side, the q derivation and the prune are all
            # filters/joins over this materialization — without it the
            # distinct shuffle re-runs in every action of the fold.
            joined = unioned.join(
                prev_markers.select("u", "step", "_b"), ["u", "step"], "left"
            ).localCheckpoint(eager=True)
        merged = joined.where(
            F.col("_b").isNull() | (F.col("t") <= F.col("_b"))
        ).drop("_b")
        rejected = joined.where(
            F.col("_b").isNotNull() & (F.col("t") > F.col("_b"))
        ).select("u", "step", "t")
        # q is consumed by THREE actions per fold (the decidability
        # collect, the horizon filter on rejected arrivals, the state
        # write) — checkpoint it once instead of re-running the k-1
        # join+agg derivation in each; the frame is one row per step-1
        # user, far smaller than state
        q = self._user_steps(merged).localCheckpoint(eager=True)
        k = len(self.steps)
        qarr = F.array(*[F.col(f"q{i}") for i in range(1, k + 1)])
        pruned = self._pruned(merged, q, k, qarr)
        # rejected arrivals beyond the current horizon can never
        # qualify (the horizon only tightens) — they are forever
        # irrelevant and must NOT raise the discard ceiling; with q1
        # still unknown the horizon is unknown, so include them
        # conservatively
        if bootstrap:
            disc_upd = None
        else:
            rej = rejected.join(q.select("u", "q1"), "u", "left")
            if self.within is not None:
                rej = rej.where(
                    F.col("q1").isNull() | (F.col("t") <= self._horizon())
                )
            disc_upd = rej.groupBy("u", "step").agg(F.max("t").alias("_ad"))
        pruned, bad_plan = self._cap_orphans(
            pruned, q, prev_markers, disc_upd, k, qarr
        )
        # the decidability probe and the snapshot write are independent
        # reads of the same checkpointed fold relations — ``commit``
        # overlaps them (guide §2.6); an undecidable fold still raises
        # BEFORE the pointer swap, so no state commits
        self.commit(
            {"times": pruned},
            (lambda nv: self._raise_undecidable(bad_plan.collect()),),
            batch_id=batch_id,
            scope=scope,
        )
        return batch

    def _route(
        self, df: DataFrame, user_col: str, ts_col: str, type_col: str
    ) -> DataFrame:
        """Raw events -> the (u, step, t) candidate grain.  Per-step
        union, not an et->step map: repeated step names ("view",
        "view") route one event to several step slots, like the batch
        operator."""
        base = df.select(
            F.col(user_col).cast("string").alias("u"),
            F.col(ts_col).cast("timestamp").alias("t"),
            F.col(type_col).alias("et"),
        ).where(F.col("et").isin(self.steps) & F.col("t").isNotNull())
        parts = [
            base.where(F.col("et") == s).select(
                "u", F.lit(i).cast("int").alias("step"), "t"
            )
            for i, s in enumerate(self.steps, start=1)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _pruned(
        self, times: DataFrame, q: DataFrame, k: int, qarr
    ) -> DataFrame:
        """The monotonicity prune (module docstring): step 1 keeps its
        minimum; later steps keep times at or below the current q_i (or
        everything while q_i is unresolved), inside the horizon once q1
        exists.  Returns rows still carrying the q1..qk columns."""
        st = times.join(q, "u", "left")
        q_step = F.element_at(qarr, F.col("step"))
        keep_first = (F.col("step") == 1) & (F.col("t") == F.col("q1"))
        keep_later = (F.col("step") > 1) & (
            q_step.isNull() | (F.col("t") <= q_step)
        )
        if self.within is not None:
            keep_later = keep_later & (
                F.col("q1").isNull() | (F.col("t") <= self._horizon())
            )
        return st.where(keep_first | keep_later).select(
            "u", "step", "t", *[f"q{i}" for i in range(1, k + 1)]
        )

    def repair_users(
        self,
        raw_events: DataFrame,
        users: list[str] | None = None,
        user_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
    ) -> list[str]:
        """Targeted rescan-repair — the executable recovery path the
        orphan-cap ValueError points at.  Given the raw event HISTORY
        (everything folded so far, plus the batch whose fold raised)
        and the offending users, this rescans history for EXACTLY those
        users, rebuilds their candidate rows from complete information,
        re-caps their orphan tails with fresh markers, and leaves every
        other user's state untouched.  ``users=None`` repairs every
        currently-marked user (the only keys where information was ever
        discarded).

        Because the rebuild sees the COMPLETE history, a rebuilt q is
        the truth, and the rebuild provably never re-raises: a fresh
        marker's discard ceiling is the maximum of times that were all
        seen by the q derivation (and horizon-pruned first whenever q1
        is known), so if the ceiling exceeded q_{i-1} that time would
        have qualified and q_i would be non-null — the undecidable
        predicate (``discard_max > q_prev`` with q_cur null) is
        unsatisfiable on complete information.  Keys whose tail still
        overflows the cap get a fresh marker (bound = kept maximum,
        ceiling = discarded maximum, the invariant restored from
        scratch) so FUTURE folds keep the exact-or-loud contract.
        After a repair, re-apply the batch that raised: its fold was
        never committed (the version pointer did not advance), and
        re-folding rows the rescan already included is absorbed by the
        distinct-union algebra.

        The per-user filter is an ``isin`` over the repair list —
        driver-bounded by the marked-key set (itself state-sized, one
        row per capped (u, step)), and pushed down to the raw scan so
        the rescan reads only those users' partitions/row groups.

        Returns the list of users repaired."""
        prev = self.times()
        if users is None:
            users = sorted(
                r["u"]
                for r in prev.where(F.col("step") < 0)
                .select("u")
                .distinct()
                .collect()
            )
        users = [str(u) for u in users]
        if not users:
            return []
        full = (
            self._route(raw_events, user_col, ts_col, type_col)
            .where(F.col("u").isin(users))
            .distinct()
            .localCheckpoint(eager=True)
        )
        q = self._user_steps(full)
        k = len(self.steps)
        qarr = F.array(*[F.col(f"q{i}") for i in range(1, k + 1)])
        pruned = self._pruned(full, q, k, qarr)
        rebuilt, bad_plan = self._cap_orphans(
            pruned, q, None, None, k, qarr
        )
        # the rebuild provably never re-raises (docstring), but the
        # probe still runs — a broken invariant must stay loud
        self._raise_undecidable(bad_plan.collect())
        untouched = prev.where(~F.col("u").isin(users))
        self.commit({"times": untouched.unionByName(rebuilt)})
        return users

    def _cap_orphans(
        self,
        pruned: DataFrame,
        q: DataFrame,
        prev_markers: DataFrame | None,
        disc_upd: DataFrame | None,
        k: int,
        qarr,
    ) -> DataFrame:
        """Bound the orphan tail (module docstring): keep the
        ``max_orphan_times`` smallest times per chain-incomplete
        (u, step), write a (u, -step, bound, discard_max) marker when
        anything was discarded, drop markers whose keys became decidably
        exact.  Returns ``(capped_relation, bad_plan)`` — ``bad_plan``
        is the decidability probe (keys whose discard ceiling proves a
        discarded time could be the true answer,
        ``discard_max > q_{i-1}``); the caller collects it and feeds
        ``_raise_undecidable`` BEFORE the version bump, so the
        exact-or-loud contract is unchanged.  ``pruned`` carries the q1..qk
        columns; ``prev_markers`` is (u, step, _b, _d) with step
        re-positivized; ``disc_upd`` is (u, step, _ad), the per-key max
        of this fold's still-horizon-relevant rejected arrivals."""
        cap = self.max_orphan_times
        null_ts = F.lit(None).cast("timestamp")
        q_step = F.element_at(qarr, F.col("step"))
        is_orphan = (F.col("step") > 1) & q_step.isNull()
        orphans = pruned.where(is_orphan)
        solid = pruned.where(~is_orphan).select(
            "u", "step", "t", null_ts.alias("d")
        )
        # One partially-aggregated pass: each key's sorted time array is
        # bounded by cap + one micro-batch's own contribution (the state
        # invariant caps what past folds left behind), never
        # history-sized; the kept prefix and the overflow markers both
        # come off this key-grain relation.
        agg = (
            orphans.groupBy("u", "step")
            .agg(F.array_sort(F.collect_list("t")).alias("_ts"))
            .localCheckpoint(eager=True)
        )
        kept_orphans = agg.select(
            "u",
            "step",
            F.explode(F.slice("_ts", 1, cap)).alias("t"),
            null_ts.alias("d"),
        )
        # a key re-capped this fold discards everything past the kept
        # prefix: the new bound is the kept maximum (element cap), the
        # new discard ceiling the array maximum (these rows are already
        # horizon-pruned whenever q1 is known, so the ceiling never
        # counts a forever-irrelevant time)
        new_markers = agg.where(F.size("_ts") > cap).select(
            "u",
            "step",
            F.element_at("_ts", cap).alias("_nb"),
            F.element_at("_ts", -1).alias("_nd"),
        )
        if prev_markers is None and disc_upd is None:
            # no prior markers and nothing rejected (the bootstrap fold,
            # and repair_users' from-scratch rebuild): the full-outer /
            # left joins below degenerate to the new markers themselves
            # (least(NULL, b) = b, greatest(NULL, d, NULL) = d) — build
            # them directly so no empty-side join subtree rides into the
            # probe plan
            markers = new_markers.select(
                "u",
                "step",
                F.col("_nb").alias("_b"),
                F.col("_nd").alias("_d"),
            )
        else:
            markers = (
                prev_markers.join(new_markers, ["u", "step"], "full_outer")
                .join(disc_upd, ["u", "step"], "left")
                .select(
                    "u",
                    "step",
                    # the bound only ever lowers; the ceiling only rises
                    F.least(F.col("_b"), F.col("_nb")).alias("_b"),
                    F.greatest(
                        F.col("_d"), F.col("_nd"), F.col("_ad")
                    ).alias("_d"),
                )
            )
        # decidability per marked key, against the marker's own bound
        # and discard ceiling.  No isEmpty() pre-check: the collect
        # below is the same one driver action, and an empty marker
        # relation short-circuits it for free.
        marked = markers.join(q, "u", "left")
        q_cur = F.element_at(qarr, F.col("step"))
        q_prev = F.element_at(qarr, F.col("step") - 1)
        if self.within is not None:
            horizon_closed = F.coalesce(
                F.col("q1").isNotNull() & (self._horizon() <= F.col("_b")),
                F.lit(False),
            )
        else:
            horizon_closed = F.lit(False)
        resolved = F.coalesce(q_cur.isNotNull(), F.lit(False)) | horizon_closed
        # a discarded time lies in (bound, discard_max]; it can be the
        # true q_i only if it exceeds q_{i-1} — when the whole discarded
        # range sits at or below q_{i-1}, q_i derived from kept times is
        # EXACT even though the chain resolved beyond the bound
        undecidable = (
            F.coalesce(q_prev.isNotNull(), F.lit(False))
            & q_cur.isNull()
            & ~horizon_closed
            & F.coalesce(F.col("_d") > q_prev, F.lit(False))
        )
        bad_plan = marked.where(undecidable).select("u", "step").limit(3)
        marker_rows = marked.where(~resolved).select(
            "u",
            (-F.col("step")).alias("step"),
            F.col("_b").alias("t"),
            F.col("_d").alias("d"),
        )
        out = solid.unionByName(kept_orphans).unionByName(marker_rows)
        return out, bad_plan

    def _raise_undecidable(self, bad: list) -> None:
        """The exact-or-loud raise for ``_cap_orphans``'s decidability
        probe.  ``apply_batch`` runs the probe's collect as a ``commit``
        task beside the snapshot write (the write is uncommitted until
        the pointer swap, so an undecidable fold still raises before any
        state becomes visible)."""
        if not bad:
            return
        cap = self.max_orphan_times
        keys = ", ".join(f"(u={r['u']}, step={r['step']})" for r in bad)
        raise ValueError(
            "funnel index: the step chain resolved beyond the "
            f"capped orphan prefix for {keys} — times above the "
            f"kept {cap} smallest were discarded and the true "
            "next-step time may be among them. Repair with "
            "repair_users(raw_history, [users...]) — a targeted "
            "rescan of exactly those users — or raise "
            "max_orphan_times."
        )

    def counts(self, version: int | None = None) -> DataFrame:
        """The funnel answer from state alone — identical shape and
        algebra to ``funnel_steps`` (step, event_type, n_users,
        conversion with the zero-step-1 guard), never touching the
        ingested history."""
        from nomenklatura_spark.operators.temporal import (
            finalize_funnel_counts,
        )

        q = self._user_steps(self.times(version))
        rows = [
            q.agg(F.count(F.col(f"q{i}")).alias("n_users")).select(
                F.lit(i).cast("int").alias("step"),
                F.lit(s).alias("event_type"),
                "n_users",
            )
            for i, s in enumerate(self.steps, start=1)
        ]
        out = rows[0]
        for c in rows[1:]:
            out = out.unionByName(c)
        return finalize_funnel_counts(out)
