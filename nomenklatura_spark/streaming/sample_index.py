"""Incremental bounded corpus sample — priority sampling as a
maintained min-k index (§2.12's sampling tier).

A training-data pipeline keeps a fixed-size weight-proportional sample
of an ever-growing corpus (eval slices, labeling queues, quality
audits).  Priority sampling (Duffield, Lund & Thorup, JACM 2007) under
the house integer-exact device (``textops/analysis.priority_sample``:
priority = ``(md5_60bit + 1) DIV weight``, k smallest win, ties by id)
is a MIN-K MONOID: min-k(A ∪ B) = min-k(min-k(A) ∪ B), so the index
holds exactly k rows and each fold unions the incoming batch's keyed
rows with state and keeps the k smallest — O(batch + k) per fold, the
corpus is never rescanned, and the maintained sample is bit-identical
to a from-scratch ``priority_sample`` over everything ingested
(pytest-pinned).  Priorities are deterministic in (id, weight) — no
seed state — which is what makes the fold idempotent under redelivery
and order-free under out-of-order batches.

Upsert semantics, with an executable boundary: re-ingesting an id with
the SAME weight is a no-op (same priority).  A re-ingest that LOWERS
the priority key (better odds — e.g. the document grew) upserts
exactly: the new row either enters the k or doesn't, and nothing
previously evicted could have belonged.  A re-ingest that RAISES an
in-sample id's priority key is the one case min-k state cannot answer
(the true k-th may be a row evicted long ago), so the fold counts such
rows first and raises a loud ValueError naming the offenders — the
repair verb is ``rebuild(full_history)``, an exact rescan.  Ids not in
state re-ingested with a worse priority are safe: their old version
was already outside the k, and the threshold only tightens over time.

State is one k-row versioned parquet relation behind the shared
VERSION pointer (crash-safe swap, time travel); replay-idempotent, so
the batch guard only spares a no-op snapshot.  At 100 TB the fold is a
TakeOrdered over batch + k rows — the sample index is the cheapest
maintained index in the tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from nomenklatura_spark.streaming.state import VersionedState

_SAMPLE_SCHEMA = "id string, weight bigint, priority_key bigint"


class SampleIndexState(VersionedState):
    """Versioned on-disk state: the k-row maintained sample."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        k: int = 100,
        salt: str = "psample",
    ) -> None:
        if k < 1:
            raise ValueError("SampleIndexState: k must be >= 1")
        super().__init__(spark, state_dir)
        self.k = k
        self.salt = salt

    def sample(self, version: int | None = None) -> DataFrame:
        return self._read("sample", _SAMPLE_SCHEMA, version)

    def _keyed(
        self, df: DataFrame, id_col: str, weight: Column
    ) -> DataFrame:
        from nomenklatura_spark.functions.hashing import md5_bucket

        w = F.greatest(weight.cast("bigint"), F.lit(1))
        h = md5_bucket(self.salt, F.col(id_col), 16**15)
        return df.select(
            F.col(id_col).cast("string").alias("id"),
            w.alias("weight"),
            h.alias("_h"),
        ).select(
            "id",
            "weight",
            F.expr("(_h + 1) DIV weight").alias("priority_key"),
        )

    def apply_batch(
        self,
        df: DataFrame,
        weight: Column,
        id_col: str = "doc_id",
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        """Fold one micro-batch into the maintained sample.  ``weight``
        is a Column over ``df`` (e.g. ``token_count(F.col("text"))``) —
        deterministic in the row, like the batch sampler's."""
        if self._replayed(batch_id, scope):
            return
        batch = (
            self._keyed(df, id_col, weight)
            .groupBy("id")
            .agg(
                F.max("weight").alias("weight"),
                F.min("priority_key").alias("priority_key"),
            )
            .localCheckpoint()
        )
        if self.version() < 0:
            # bootstrap fold (empty state): nothing can offend the
            # upsert boundary (no in-sample ids exist) and the anti-join
            # union degenerates to the batch itself — write the min-k of
            # the batch alone, keeping the first fold's plan free of
            # empty-state join subtrees (the measured fold-1 anomaly)
            merged = batch.orderBy("priority_key", "id").limit(self.k)
            self.commit({"sample": merged}, batch_id=batch_id, scope=scope)
            return
        state = self.sample()
        # executable upsert boundary (module docstring): an in-sample id
        # re-ingested with a WORSE priority key invalidates min-k state
        offenders_plan = (
            state.join(batch.withColumnRenamed("priority_key", "_new"),
                       "id")
            .where(F.col("_new") > F.col("priority_key"))
            .orderBy("id")
            .limit(10)
        )
        merged = (
            state.join(batch.select("id"), "id", "left_anti")
            .unionByName(batch)
            .orderBy("priority_key", "id")
            .limit(self.k)
        )
        def _probe(nv: int) -> None:
            offenders = offenders_plan.collect()
            if not offenders:
                return
            names = ", ".join(
                f"{r['id']}({r['priority_key']}->{r['_new']})"
                for r in offenders
            )
            raise ValueError(
                f"sample index: re-ingest raised the priority key of "
                f"in-sample id(s) {names} (top 10 shown) — rows evicted "
                f"earlier may now belong to the k, which k-row state "
                f"cannot answer.  Rebuild with "
                f"rebuild(full_history, weight) (exact rescan) or "
                f"ingest content-stable ids."
            )

        # the boundary probe and the snapshot write are independent
        # reads of the checkpointed batch + k-row state — ``commit``
        # overlaps them (guide §2.6); a boundary violation still raises
        # BEFORE the pointer swap, so no state commits
        self.commit(
            {"sample": merged}, (_probe,), batch_id=batch_id, scope=scope
        )

    def rebuild(
        self,
        full_history: DataFrame,
        weight: Column,
        id_col: str = "doc_id",
    ) -> int:
        """Exact-rescan repair verb: recompute the k-row sample from
        the full (latest-version-per-id) history — the recovery path
        the upsert boundary points at.  Cannot re-raise: a from-scratch
        min-k over complete information has no evicted rows to miss.
        Returns the new version."""
        keyed = (
            self._keyed(full_history, id_col, weight)
            .groupBy("id")
            .agg(
                F.max("weight").alias("weight"),
                F.min("priority_key").alias("priority_key"),
            )
        )
        fresh = keyed.orderBy("priority_key", "id").limit(self.k)
        return self.commit({"sample": fresh})

    def serve_sample(self) -> DataFrame:
        """(id, weight, priority_key) — the current sample, priority
        order, straight from state."""
        return self.sample().orderBy("priority_key", "id")
