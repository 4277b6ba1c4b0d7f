"""Incrementally-maintained BM25 index: serving from the state must be
row-identical to the batch operator over the union of ingested batches
(SURVEY §2.12 pattern), with O(batch) appends and the additive replay
guard."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from nomenklatura_spark.streaming.bm25_index import (
    Bm25IndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream
from nomenklatura_spark.textops.retrieval import bm25_topk

DOC_SCHEMA = "doc_id long, text string"

BATCH1 = [
    (1, "spark shuffle join optimizer"),
    (2, "spark spark streaming state"),
    (3, "gardening tips for spring bulbs"),
]
BATCH2 = [
    (4, "catalyst optimizer rules for the shuffle service"),
    (5, "bird watching in spring"),
    (6, ""),  # zero-token doc still counts toward n_docs/avgdl
]
BATCH3 = [(7, "spark shuffle bird"), (8, "completely unrelated prose")]

QUERIES = [(100, "spark shuffle"), (101, "spring bird")]


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_incremental_matches_scratch(spark, tmp_path):
    state = Bm25IndexState(spark, str(tmp_path / "state"), n_buckets=8)
    q = spark.createDataFrame(QUERIES, DOC_SCHEMA)
    seen: list[tuple] = []
    for batch in (BATCH1, BATCH2, BATCH3):
        seen.extend(batch)
        state.apply_batch(spark.createDataFrame(batch, DOC_SCHEMA))
        served = state.topk(q, query_id_col="doc_id", k=4)
        scratch = bm25_topk(
            spark.createDataFrame(seen, DOC_SCHEMA),
            q,
            query_id_col="doc_id",
            k=4,
        )
        assert _sorted(served) == _sorted(scratch) and served.count() > 0
    assert state.version() == 2
    # counters carry the zero-token doc
    assert state.counters().first()["n_docs"] == 8
    # postings are append-only: version dirs accumulate, never rewrite
    assert state.postings(version=0).count() < state.postings().count()


def test_bm25_state_serves_with_bucket_pruning(spark, tmp_path):
    state = Bm25IndexState(spark, str(tmp_path / "state"), n_buckets=8)
    state.apply_batch(spark.createDataFrame(BATCH1 + BATCH2, DOC_SCHEMA))
    q = spark.createDataFrame(QUERIES, DOC_SCHEMA)
    out = state.topk(q, query_id_col="doc_id", k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pruned = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line
        and "wb" in line.split("PartitionFilters")[1][:120]
    ]
    assert pruned, f"posting scan not partition-pruned on wb:\n{plan}"


def test_bm25_replayed_batch_is_skipped(spark, tmp_path):
    state = Bm25IndexState(spark, str(tmp_path / "state"), n_buckets=8)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    state.apply_batch(b1, batch_id=0)
    n_before = state.counters().first()["n_docs"]
    state.apply_batch(b1, batch_id=0)  # redelivery: no-op
    assert state.version() == 0
    assert state.counters().first()["n_docs"] == n_before
    # new incarnation (different scope): overlapping id is fresh data
    state.apply_batch(
        spark.createDataFrame(BATCH2, DOC_SCHEMA), batch_id=0, scope="chk-B"
    )
    assert state.counters().first()["n_docs"] == n_before + len(BATCH2)


def test_maintain_bm25_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for name, rows in (("b1.json", BATCH1), ("b2.json", BATCH2)):
        with open(os.path.join(src, name), "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    state = Bm25IndexState(spark, str(tmp_path / "state"), n_buckets=8)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    sq = maintain_stream(
        stream, state, checkpoint_dir=str(tmp_path / "chk")
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    assert state.version() == 1
    q = spark.createDataFrame(QUERIES, DOC_SCHEMA)
    scratch = bm25_topk(
        spark.createDataFrame(BATCH1 + BATCH2, DOC_SCHEMA),
        q,
        query_id_col="doc_id",
        k=4,
    )
    assert _sorted(state.topk(q, query_id_col="doc_id", k=4)) == _sorted(scratch)


def test_vacuum_trims_old_versions_keeps_live_postings(spark, tmp_path):
    """VersionedState.vacuum removes snapshot versions below the
    retention horizon, keeps the serving version intact, and never
    touches the BM25 postings root (batch partitions are live state
    for every version, not snapshots)."""
    import pytest

    state = Bm25IndexState(spark, str(tmp_path / "state"), n_buckets=8)
    for batch in (BATCH1, BATCH2, BATCH3):
        state.apply_batch(spark.createDataFrame(batch, DOC_SCHEMA))
    assert state.version() == 2
    q = spark.createDataFrame(QUERIES, DOC_SCHEMA)
    before = _sorted(state.topk(q, query_id_col="doc_id", k=4))

    removed = state.vacuum(keep_last=1)
    assert removed and all("counters" in p for p in removed)
    # serving is untouched; postings for ALL batches still readable
    assert _sorted(state.topk(q, query_id_col="doc_id", k=4)) == before
    assert state.postings().count() == state.postings(version=2).count()
    # time travel below the horizon fails loudly, current version reads
    assert state.counters().first()["n_docs"] == 8
    with pytest.raises(Exception):
        state.counters(version=0).collect()
