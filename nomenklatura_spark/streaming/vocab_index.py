"""Incremental corpus-vocabulary index (training-data tier of §2.12).

Batch vocabulary rollup (``textops/analysis.corpus_vocab``) rescans the
corpus per run; a tokenizer-training ingest pipeline instead wants the
word/document-frequency table maintained as documents arrive.  Word
counts are a commutative monoid, so the index is a materialised view
merged by key:

- ``vocab`` (word, count, n_docs) is keyed by word; each micro-batch is
  rolled up with the SAME two-level aggregation as the batch operator
  and folded in with a full-outer merge that sums both counters.
- Per-batch cost is O(batch tokens) + a merge shuffle bounded by the
  vocabulary, which grows sub-linearly in the corpus (Heaps' law) —
  the corpus itself is never rescanned.
- Contract (pytest-pinned, incremental-equals-scratch): after ANY
  sequence of batches of NEW documents, the state equals
  ``corpus_vocab(union of batches, top_k=None)``.  Documents are
  treated as append-only/immutable — re-ingesting an id double-counts
  (retraction would need per-document counts, corpus-sized state; an
  ingest pipeline dedups ids upstream, e.g. via the dedup index).

State is versioned parquet snapshots with a VERSION pointer (crash-safe
swap, time travel) exactly like ``DedupIndexState``; on a cluster the
merge is a Delta ``MERGE INTO ... WHEN MATCHED THEN UPDATE SET count =
t.count + s.count`` on the word key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.streaming.state import VersionedState
from nomenklatura_spark.textops.analysis import corpus_vocab

_VOCAB_SCHEMA = "word string, count long, n_docs long"


class VocabIndexState(VersionedState):
    """Versioned on-disk state: the (word, count, n_docs) relation.

    Unlike the upsert-by-key indexes this state is ADDITIVE, so the
    streaming path passes the micro-batch id and ``apply_batch`` skips
    anything at or below ``last_batch()`` — foreachBatch redelivery
    after a crash between the snapshot swap and the streaming
    checkpoint commit must not double-count."""

    def vocab(self, version: int | None = None) -> DataFrame:
        return self._read("vocab", _VOCAB_SCHEMA, version)

    def top_k(self, k: int = 1000) -> DataFrame:
        """The batch operator's top-k view over the maintained state."""
        return self.vocab().orderBy(F.col("count").desc(), F.col("word")).limit(k)

    def apply_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Fold one micro-batch of new documents into the vocabulary;
        returns the batch's own rollup (empty if the batch id was
        already applied — a streaming redelivery).  ``scope`` names the
        stream incarnation (the checkpoint dir): batch ids restart per
        checkpoint, so the guard only compares ids within one scope."""
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _VOCAB_SCHEMA)
        batch = corpus_vocab(docs, text_col, id_col, top_k=None).select(
            "word",
            F.col("count").cast("long").alias("count"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        state = self.vocab()
        merged = (
            state.select("word", F.col("count").alias("_sc"), F.col("n_docs").alias("_sd"))
            .join(
                batch.select("word", F.col("count").alias("_bc"), F.col("n_docs").alias("_bd")),
                "word",
                "full_outer",
            )
            .select(
                "word",
                (F.coalesce("_sc", F.lit(0)) + F.coalesce("_bc", F.lit(0))).alias("count"),
                (F.coalesce("_sd", F.lit(0)) + F.coalesce("_bd", F.lit(0))).alias("n_docs"),
            )
        )
        self.commit({"vocab": merged}, batch_id=batch_id, scope=scope)
        return batch
