"""Incrementally-maintained grouped-counter view (§2.12) — the
textbook materialized-view case, done once generically.

A keyed rollup ``GROUP BY key, time_bucket -> (count, sum)`` is the
single most common serving relation in an events pipeline (hourly
dashboards, per-type activity series, anomaly inputs), and its
maintenance algebra is the simplest of all: counts and sums form a
commutative monoid per (key, bucket), so each micro-batch folds in
with a full-outer merge that adds the counters — per-batch cost is one
batch rollup + a merge bounded by the VIEW size (keys x calendar
buckets), never the event history.

Two serving rows prove the view end-to-end against rescan-everything
oracles: ``events_hourly_served`` (the tumbling-window rollup read
straight from state) and ``events_anomaly_served`` (median/MAD robust
anomalies computed from the maintained counts via
``operators/temporal.anomalies_from_counts`` — the monitoring query
answered without touching raw events).

Counter values are exact integers (the caller quantizes float values,
e.g. to cents — the house rule), so maintained == scratch is
bit-exact.  Like the vocabulary index this state is ADDITIVE: the
streaming path passes the micro-batch id and ``apply_batch`` skips
anything at or below ``last_batch()`` (foreachBatch at-least-once
redelivery must not double-count).  State is versioned parquet
snapshots behind the shared VERSION pointer (``streaming/state.py``);
on a cluster the merge is a Delta MERGE on (k, b) with
``count = t.count + s.count``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.streaming.state import VersionedState

_COUNTS_SCHEMA = "k string, b timestamp, cnt bigint, sv bigint"


class CountsIndexState(VersionedState):
    """Versioned on-disk state: the (key, bucket, count, value-sum)
    counter relation for one (key column, time bucket) definition."""

    def __init__(self, spark, root: str, bucket: str = "hour") -> None:
        super().__init__(spark, root)
        self.bucket = bucket

    def counts(self, version: int | None = None) -> DataFrame:
        return self._read("counts", _COUNTS_SCHEMA, version)

    def apply_batch(
        self,
        df: DataFrame,
        key_col: str = "event_type",
        ts_col: str = "ts",
        value_col: str | None = None,
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Fold one micro-batch: roll it up to the view grain, then
        full-outer merge with state summing both counters.
        ``value_col`` must be an additive INTEGER column (quantize
        upstream); None maintains counts only."""
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _COUNTS_SCHEMA)
        val = (
            F.col(value_col).cast("bigint")
            if value_col is not None
            else F.lit(0).cast("bigint")
        )
        batch = (
            df.select(
                F.col(key_col).cast("string").alias("k"),
                F.date_trunc(self.bucket, F.col(ts_col)).alias("b"),
                val.alias("_v"),
            )
            .where(F.col("b").isNotNull())
            .groupBy("k", "b")
            .agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("_v").alias("sv")
            )
        )
        if self.version() < 0:
            # bootstrap fold: a full-outer merge against the empty
            # counter relation is the identity on the batch rollup
            # (cnt = 0 + batch cnt; sv keeps the batch's NULL-ness) —
            # write the rollup itself and keep the first fold's plan
            # free of the dead empty-side join
            self.commit({"counts": batch}, batch_id=batch_id, scope=scope)
            return batch
        merged = (
            self.counts()
            .select(
                "k",
                "b",
                F.col("cnt").alias("_sc"),
                F.col("sv").alias("_ss"),
            )
            .join(
                batch.select(
                    "k",
                    "b",
                    F.col("cnt").alias("_bc"),
                    F.col("sv").alias("_bs"),
                ),
                ["k", "b"],
                "full_outer",
            )
            .select(
                "k",
                "b",
                (
                    F.coalesce("_sc", F.lit(0)) + F.coalesce("_bc", F.lit(0))
                ).alias("cnt"),
                # NULL-ness is part of the monoid: SQL's sum() is NULL
                # iff NO non-null value contributed, so a side that is
                # NULL (absent row, or a group whose values were all
                # NULL) is the identity — only coalesce when at least
                # one side is non-null, else an all-NULL (k, b) group
                # would serve 0 while a rescan oracle's sum() says NULL
                F.when(
                    F.col("_ss").isNull() & F.col("_bs").isNull(),
                    F.lit(None).cast("bigint"),
                )
                .otherwise(
                    F.coalesce("_ss", F.lit(0)) + F.coalesce("_bs", F.lit(0))
                )
                .alias("sv"),
            )
        )
        self.commit({"counts": merged}, batch_id=batch_id, scope=scope)
        return batch
