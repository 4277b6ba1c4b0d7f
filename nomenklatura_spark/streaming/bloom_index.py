"""Incrementally-maintained Bloom decontamination filter (§2.12 tier).

The batch operator (``dedup/bloom.py``) builds the benchmark filter per
query.  A production decontamination gate instead maintains the filter
as benchmark/eval items arrive (new eval suites, takedown lists, opt-out
registries) and serves the map-side corpus check from the maintained
state.

Bloom union IS bitwise OR — an exact commutative, associative AND
idempotent merge — so this is the cleanest possible maintained index:

- state = the sparse packed words ``(w int, v long)``; folding a batch
  is ``groupBy(w).agg(bit_or(v))`` over old ∪ batch — O(filter size),
  never O(history).
- redelivery of the same micro-batch re-ORs the same bits and changes
  NOTHING: unlike the additive vocab/BM25 counters, at-least-once
  delivery is semantically harmless here.  The batch-id replay guard is
  kept only to skip pointless snapshot churn, not for correctness
  (pytest-pinned both ways).
- serving densifies the current words into the one-row broadcast array
  and runs the identical ``bloom_contamination`` projection — the
  incremental filter is BIT-IDENTICAL to a scratch build over the union
  of all applied batches (pytest-pinned), because OR has no ordering or
  grouping sensitivity at all.

Crash safety follows the shared VERSION-pointer discipline
(``streaming/state.py``): words for version N+1 land first, the pointer
swaps last.  On a cluster the words relation is a tiny Delta table and
the merge a MERGE-on-w.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.dedup.bloom import (
    N_BITS,
    N_HASHES,
    bloom_contamination,
    densify_bloom,
    sparse_bloom_words,
)
from nomenklatura_spark.streaming.state import VersionedState

_WORDS_SCHEMA = "w int, v long"


class BloomIndexState(VersionedState):
    """Versioned on-disk state: the sparse packed Bloom words."""

    def __init__(
        self,
        spark,
        state_dir: str,
        k: int = 5,
        mode: str = "word",
        n_bits: int = N_BITS,
        n_hashes: int = N_HASHES,
    ) -> None:
        super().__init__(spark, state_dir)
        self.k = k
        self.mode = mode
        self.n_bits = n_bits
        self.n_hashes = n_hashes

    def words(self, version: int | None = None) -> DataFrame:
        return self._read("words", _WORDS_SCHEMA, version)

    def apply_batch(
        self,
        bench: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        """OR one micro-batch of new benchmark items into the filter.
        The guard against redelivered batch ids only avoids a no-op
        snapshot — OR-merging the same batch twice is exact."""
        if self._replayed(batch_id, scope):
            return
        batch_words = sparse_bloom_words(
            bench, id_col, text_col, self.k, self.mode, self.n_bits, self.n_hashes
        )
        merged = (
            self.words()
            .unionByName(batch_words)
            .groupBy("w")
            .agg(F.bit_or("v").alias("v"))
        )
        self.commit({"words": merged}, batch_id=batch_id, scope=scope)

    def bloom(self, version: int | None = None) -> DataFrame:
        """The one-row dense broadcast form of the maintained filter."""
        return densify_bloom(self.words(version), self.n_bits)

    def contamination(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        decimals: int = 6,
    ) -> DataFrame:
        """Serve the map-side corpus verdict from the maintained filter —
        row-identical to ``bloom_contamination`` against a scratch
        ``bench_bloom`` over the union of applied batches."""
        return bloom_contamination(
            docs,
            self.bloom(),
            id_col,
            text_col,
            self.k,
            self.mode,
            self.n_bits,
            self.n_hashes,
            decimals,
        )
