"""Incrementally-maintained BM25 retrieval index (training-data tier of
§2.12).

The batch operator (``textops/retrieval.bm25_topk``) tokenizes the
corpus per retrieval batch; the at-rest index (``write_bm25_index``)
pays one full build.  An ingest pipeline instead wants the index
maintained as documents arrive, O(batch) per micro-batch:

- ``postings`` — (id, dl, word, n), APPEND-ONLY: one parquet root
  partitioned by (batch, wb); each applied batch DYNAMICALLY overwrites
  only its own ``batch=N`` partitions (so a crash-redelivered batch
  replaces its own half-written files instead of duplicating them) and
  readers gate on ``batch <= version``, which keeps a torn write
  invisible until the pointer swap.  Documents are append-only/
  immutable (the vocab-index contract: re-ingesting an id
  double-counts; dedup ids upstream), so nothing old is ever rewritten
  — per-batch cost is the batch tokenize+rollup, never the corpus, and
  the serving scan stays ONE parquet root with partition pruning on
  both ``batch`` and the word bucket ``wb``.
- ``counters`` — ONE row (n_docs, sum_dl): BM25's corpus statistics are
  a commutative monoid, merged additively.  ``sum_dl`` is an exact
  integer, so ``avgdl = sum_dl / n_docs`` is the bit-identical double
  the batch operator computes (which is why the batch path uses
  sum/count, not avg()).
- Document frequencies need no separate state: df per word is exactly
  ``count(*)`` over the posting rows of the probed terms — computed at
  query time from the pruned posting buckets, the same candidate-bounded
  rollup the batch plan runs.

Contract (pytest-pinned, incremental-equals-scratch): after ANY
sequence of batches of new documents, ``topk(queries)`` returns
row-identically what ``bm25_topk(union of batches, queries)`` returns.

Crash safety follows the shared VERSION-pointer discipline
(``streaming/state.py``): the postings subdir and merged counters for
version N+1 are laid down first, the pointer swaps last; a crash
in-between leaves version N intact and the foreachBatch redelivery
overwrites the orphaned N+1 directories.  Being ADDITIVE, the state
carries the checkpoint-scoped replay guard (the vocab-index rule) so
at-least-once redelivery cannot double-count.  On a cluster the
postings append is a Delta append and the counter merge a 1-row MERGE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.dedup.ngram import normalize_for_shingles
from nomenklatura_spark.streaming.state import VersionedState
from nomenklatura_spark.textops.retrieval import (
    _doc_terms,
    _score_from_tf,
    _word_bucket,
    materialize_local,
)

_POSTING_SCHEMA = "id bigint, dl int, word string, n bigint, wb bigint"
_COUNTER_SCHEMA = "n_docs long, sum_dl long"


class Bm25IndexState(VersionedState):
    """Versioned on-disk state: append-only postings + 1-row counters."""

    def __init__(self, spark, state_dir: str, n_buckets: int = 64) -> None:
        super().__init__(spark, state_dir)
        self.n_buckets = n_buckets

    def counters(self, version: int | None = None) -> DataFrame:
        return self._read("counters", _COUNTER_SCHEMA, version)

    @property
    def _postings_root(self) -> str:
        return os.path.join(self.state_dir, "postings")

    def postings(self, version: int | None = None) -> DataFrame:
        """Posting rows of every batch applied up to ``version`` — one
        scan of the (batch, wb)-partitioned root with the version gate
        pushed down as a partition filter on ``batch``."""
        v = self.version() if version is None else version
        if v < 0:
            return self.spark.createDataFrame([], _POSTING_SCHEMA)
        return (
            self.spark.read.parquet(self._postings_root)
            .where(F.col("batch") <= v)
            .drop("batch")
        )

    def apply_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        """Fold one micro-batch of NEW documents into the index: write
        the batch's posting rollup into its own ``batch=N`` partitions
        (dynamic overwrite — self-healing under redelivery) and merge
        the corpus counters; skip redelivered batch ids (additive state,
        vocab-index replay rule)."""
        if self._replayed(batch_id, scope):
            return
        terms = _doc_terms(docs, id_col, text_col, "id")
        batch_postings = (
            terms.groupBy("id", "dl", "word")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("wb", _word_bucket(self.n_buckets))
        )
        # dl from the shared normalizer directly (not _doc_terms, whose
        # explode drops zero-token docs — they still count in n_docs)
        ws = F.filter(
            F.split(normalize_for_shingles(F.col(text_col)), " "),
            lambda w: w != "",
        )
        batch_counts = docs.select(F.size(ws).alias("dl")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        )
        merged = (
            self.counters()
            .unionByName(batch_counts)
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("sum_dl").alias("sum_dl"),
            )
        )

        def _append_postings(nv: int) -> None:
            (
                batch_postings.withColumn("batch", F.lit(nv))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", "wb")
                .parquet(self._postings_root)
            )

        self.commit(
            {"counters": merged}, (_append_postings,),
            batch_id=batch_id, scope=scope,
        )

    def topk(
        self,
        queries: DataFrame,
        query_id_col: str = "query_id",
        query_text_col: str = "text",
        k: int = 5,
        k1: float = 1.2,
        b: float = 0.75,
        exclude_self: bool = False,
    ) -> DataFrame:
        """Serve BM25 from the maintained state — the ``bm25_topk``
        scoring tail over bucket-pruned posting reads, row-identical to
        the batch operator over the union of applied batches."""
        qt = materialize_local(
            _doc_terms(queries, query_id_col, query_text_col, "query_id")
            .select("query_id", "word")
            .distinct()
        )
        qwords = materialize_local(
            qt.select("word")
            .distinct()
            .withColumn("wb", _word_bucket(self.n_buckets))
        )
        buckets = [r["wb"] for r in qwords.select("wb").distinct().collect()]
        tf = (
            self.postings()
            .where(F.col("wb").isin(buckets))
            .join(F.broadcast(qwords.select("word")), "word")
            .select("id", "dl", "word", "n")
        )
        df_tbl = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        row = self.counters().select("n_docs", "sum_dl").first()
        if row is None or row["n_docs"] == 0:  # fresh index: nothing to rank
            return self.spark.createDataFrame(
                [], "query_id bigint, doc_id bigint, n_terms bigint, "
                    "bm25 double, rank int"
            )
        stats = self.spark.createDataFrame(
            [(row["n_docs"], float(row["sum_dl"]) / row["n_docs"])],
            "n_docs bigint, avgdl double",
        )
        return _score_from_tf(
            tf, qt, df_tbl, stats, "doc_id", k, k1, b, exclude_self
        )
