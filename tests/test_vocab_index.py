"""Incremental vocabulary maintenance: the maintained (word, count,
n_docs) state must equal a from-scratch corpus_vocab over the union of
all ingested batches (SURVEY §2.12 pattern — a rollup as an
incrementally-maintained materialised view)."""

from __future__ import annotations

import json
import os

from nomenklatura_spark.streaming.vocab_index import (
    VocabIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream
from nomenklatura_spark.textops.analysis import corpus_vocab

DOC_SCHEMA = "doc_id long, text string"

BATCH1 = [(1, "cat cat dog"), (2, "dog bird")]
BATCH2 = [(3, "Cat! bird bird"), (4, "entirely new words")]
BATCH3 = [(5, "cat dog bird new")]


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_vocab_incremental_matches_scratch(spark, tmp_path):
    state = VocabIndexState(spark, str(tmp_path / "state"))
    seen: list[tuple] = []
    for batch in (BATCH1, BATCH2, BATCH3):
        seen.extend(batch)
        state.apply_batch(spark.createDataFrame(batch, DOC_SCHEMA))
        scratch = corpus_vocab(
            spark.createDataFrame(seen, DOC_SCHEMA), top_k=None
        )
        assert _sorted(state.vocab()) == _sorted(scratch)
    assert state.version() == 2
    # the top-k view matches the batch operator's ordering contract
    assert _sorted(state.top_k(3)) == _sorted(
        corpus_vocab(spark.createDataFrame(seen, DOC_SCHEMA), top_k=3)
    )
    # time travel: v0 is exactly batch 1's rollup
    assert _sorted(state.vocab(version=0)) == _sorted(
        corpus_vocab(spark.createDataFrame(BATCH1, DOC_SCHEMA), top_k=None)
    )


def test_maintain_vocab_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for name, rows in (("b1.json", BATCH1), ("b2.json", BATCH2)):
        with open(os.path.join(src, name), "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    state = VocabIndexState(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .json(src)
    )
    q = maintain_stream(stream, state, checkpoint_dir=str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert state.version() == 1  # two micro-batches, versions 0 and 1
    # the replay guard is keyed to this stream's checkpoint scope
    assert state.last_batch(str(tmp_path / "chk")) == 1
    assert state.last_batch("some-other-checkpoint") == -1
    scratch = corpus_vocab(
        spark.createDataFrame(BATCH1 + BATCH2, DOC_SCHEMA), top_k=None
    )
    assert _sorted(state.vocab()) == _sorted(scratch)


def test_replayed_batch_is_skipped(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying an already-recorded
    batch id must be a no-op, not a double-count."""
    state = VocabIndexState(spark, str(tmp_path / "state"))
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    state.apply_batch(b1, batch_id=0)
    before = _sorted(state.vocab())
    out = state.apply_batch(b1, batch_id=0)  # redelivery
    assert out.count() == 0
    assert state.version() == 0
    assert _sorted(state.vocab()) == before
    # the next real batch still applies
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA), batch_id=1)
    assert state.last_batch() == 1
    assert _sorted(state.vocab()) == _sorted(
        corpus_vocab(spark.createDataFrame(BATCH1 + BATCH2, DOC_SCHEMA), top_k=None)
    )
    # a NEW stream incarnation restarts batch numbering: an overlapping
    # batch id under a different scope is fresh data, not a redelivery
    out = state.apply_batch(
        spark.createDataFrame(BATCH3, DOC_SCHEMA), batch_id=0, scope="chk-B"
    )
    assert out.count() > 0
    assert state.last_batch("chk-B") == 0
    assert _sorted(state.vocab()) == _sorted(
        corpus_vocab(
            spark.createDataFrame(BATCH1 + BATCH2 + BATCH3, DOC_SCHEMA),
            top_k=None,
        )
    )
