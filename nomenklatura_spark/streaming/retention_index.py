"""Incrementally-maintained cohort-retention index (§2.12).

Batch ``events_retention`` rescans the event history per query; an
ingest pipeline instead folds each micro-batch into the MINIMAL
sufficient statistic for day-grain retention — the distinct
``(user, day)`` presence relation — and serves the cohort table from
state that is O(users x active-days), however many events the history
accumulates (a user-day with 10^4 events costs one state row).

Why this state is sufficient AND minimal: retention's answer is
``count(distinct user)`` per (cohort_day, day_offset) where
``cohort_day = min(active day of the user)`` — every term is a
function of the presence SET alone, so the projection loses nothing
the query needs; conversely flipping any single (user, day) bit
changes some cohort cell, so nothing smaller can be exact.

The fold is ``distinct union`` — commutative, associative and
IDEMPOTENT, so out-of-order arrival and foreachBatch's at-least-once
redelivery are absorbed by algebra (the Bloom-index property): there
is no additive counter anywhere, hence no replay guard to depend on
(the batch-id guard is still honored when supplied, purely to skip
snapshot churn).  A late event can move a user's cohort EARLIER (its
min only decreases); serving re-derives cohorts from the presence set
per query, so the whole cohort row block shifts consistently — exactly
what a scratch rescan would produce, pytest-pinned.

State is versioned parquet snapshots behind the shared VERSION pointer
(``streaming/state.py``); on a cluster the fold becomes a Delta MERGE
(insert-if-absent) on the (user, day) key.  Serving cost: one
partial-agg min per user + one (cohort, offset) rollup over the
presence relation — the raw event history is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.streaming.state import VersionedState

_PRESENCE_SCHEMA = "u string, day date"


class RetentionIndexState(VersionedState):
    """Versioned on-disk state: the distinct (user, active-day)
    presence relation."""

    def presence(self, version: int | None = None) -> DataFrame:
        return self._read("presence", _PRESENCE_SCHEMA, version)

    def apply_batch(
        self,
        df: DataFrame,
        user_col: str = "user_id",
        ts_col: str = "ts",
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Fold one micro-batch: project to (user, day), distinct-union
        with state.  Pure set algebra — idempotent by construction."""
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _PRESENCE_SCHEMA)
        batch = df.select(
            F.col(user_col).cast("string").alias("u"),
            F.to_date(ts_col).alias("day"),
        ).where(F.col("day").isNotNull())
        if self.version() < 0:
            # bootstrap fold: no state to union — distinct the batch
            # alone (identical set; keeps the empty-side union out of
            # the first fold's plan)
            merged = batch.distinct()
        else:
            merged = self.presence().unionByName(batch).distinct()
        self.commit({"presence": merged}, batch_id=batch_id, scope=scope)
        return batch

    def retention(self, version: int | None = None) -> DataFrame:
        """The cohort table from state alone — identical shape and
        algebra to the batch ``events_retention`` row (cohort_day,
        day_offset, active_users), never touching ingested history."""
        p = self.presence(version)
        cohort = p.groupBy("u").agg(F.min("day").alias("cohort_day"))
        return (
            p.join(cohort, "u")
            .groupBy(
                F.date_format("cohort_day", "yyyy-MM-dd").alias(
                    "cohort_day"
                ),
                F.datediff(F.col("day"), F.col("cohort_day")).alias(
                    "day_offset"
                ),
            )
            .agg(F.count(F.lit(1)).alias("active_users"))
        )
