"""Incrementally-maintained HyperLogLog distinct-count index (§2.12).

Batch ``hll_distinct`` rescans the events relation per query; an ingest
pipeline instead folds each micro-batch's registers into a maintained
sketch relation and answers distinct-count questions from state that is
2**p rows per key, however large the history grows.

Register max is idempotent AND commutative, which makes this the
easiest index in the streaming tier to operate: foreachBatch's
at-least-once redelivery needs NO replay guard — re-folding a batch is
a no-op by algebra, not by bookkeeping (contrast
``streaming/vocab_index.py``, whose additive merge must track batch
ids).  The guard plumbing is still accepted so mixed deployments can
keep their cron scopes, but correctness never depends on it.

State is versioned parquet snapshots with a VERSION pointer (crash-safe
swap, time travel), like the other indexes; on a cluster the merge is a
Delta ``MERGE INTO ... WHEN MATCHED THEN UPDATE SET reg =
greatest(t.reg, s.reg)`` on (key, bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.operators.sketch import hll_estimate, hll_registers
from nomenklatura_spark.streaming.state import VersionedState

_HLL_SCHEMA = "key string, bucket int, reg int"


class HllIndexState(VersionedState):
    """Versioned on-disk state: the (key, bucket, reg) register relation
    for one sketch family (fixed ``p`` and hash prefix per index)."""

    def __init__(self, spark, root: str, p: int = 8, prefix: str = "hll"):
        super().__init__(spark, root)
        self.p = p
        self.prefix = prefix

    def registers(self, version: int | None = None) -> DataFrame:
        return self._read("registers", _HLL_SCHEMA, version)

    def estimates(self, version: int | None = None) -> DataFrame:
        """Per-key cardinality estimates from the maintained registers —
        the read path; never touches the ingested history."""
        return hll_estimate(self.registers(version), ["key"], self.p).orderBy(
            "key"
        )

    def apply_batch(
        self,
        df: DataFrame,
        key_col: str,
        value_col: str,
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Fold one micro-batch's registers into the sketch (max-merge).

        The batch-id guard is honored when supplied, but a redelivered
        batch that slips past it is absorbed by idempotence — max-merge
        of already-seen registers changes nothing."""
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _HLL_SCHEMA)
        batch = hll_registers(
            df.select(F.col(key_col).cast("string").alias("key"), value_col),
            ["key"],
            value_col,
            self.p,
            self.prefix,
        ).select("key", "bucket", F.col("reg").cast("int").alias("reg"))
        if self.version() < 0:
            # bootstrap fold: hll_registers is already (key, bucket)-
            # unique (it ends in that groupBy), so the union with the
            # empty register relation and the max-merge are an identity
            # — keep the first fold's plan as lean as a steady-state one
            merged = batch
        else:
            merged = (
                self.registers()
                .unionByName(batch)
                .groupBy("key", "bucket")
                .agg(F.max("reg").alias("reg"))
            )
        self.commit({"registers": merged}, batch_id=batch_id, scope=scope)
        return batch
