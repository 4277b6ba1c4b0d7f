"""Incrementally-maintained Bloom filter: OR-merge state must be
bit-identical to a scratch build over the union of applied batches, and
redelivery must be a no-op (OR is idempotent)."""

from __future__ import annotations

import json
import os

from nomenklatura_spark.dedup.bloom import bench_bloom, bloom_contamination
from nomenklatura_spark.streaming.bloom_index import (
    BloomIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream

DOC_SCHEMA = "doc_id long, text string"

BATCH1 = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "seven wizards briskly mix a potion of quartz and onyx today"),
]
BATCH2 = [
    (3, "pack my box with five dozen liquor jugs before noon"),
]

CORPUS = [
    (10, "intro the quick brown fox jumps over the lazy dog tonight outro"),
    (11, "she said pack my box with five dozen liquor jugs before noon ok"),
    (12, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
]


def _bloom_array(df):
    return df.first()["bloom"]


def _verdicts(df):
    return sorted(
        (r["id"], r["n_hits"], r["contaminated"]) for r in df.collect()
    )


def test_bloom_incremental_matches_scratch(spark, tmp_path):
    state = BloomIndexState(spark, str(tmp_path / "state"))
    corpus = spark.createDataFrame(CORPUS, DOC_SCHEMA)
    seen: list[tuple] = []
    for batch in (BATCH1, BATCH2):
        seen.extend(batch)
        state.apply_batch(spark.createDataFrame(batch, DOC_SCHEMA))
        union = spark.createDataFrame(seen, DOC_SCHEMA)
        assert _bloom_array(state.bloom()) == _bloom_array(
            bench_bloom(union, "doc_id", "text")
        )
        assert _verdicts(state.contamination(corpus)) == _verdicts(
            bloom_contamination(
                corpus, bench_bloom(union, "doc_id", "text"), "doc_id", "text"
            )
        )
    # batch-2 additions are visible: doc 11 only contaminates at v1
    v = {r["id"]: r["contaminated"] for r in state.contamination(corpus).collect()}
    assert v[10] and v[11] and not v[12]


def test_bloom_redelivery_is_noop(spark, tmp_path):
    state = BloomIndexState(spark, str(tmp_path / "state"))
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    state.apply_batch(b1, batch_id=0, scope="s")
    before = _bloom_array(state.bloom())
    # same batch id: guard skips, no new version
    state.apply_batch(b1, batch_id=0, scope="s")
    assert state.version() == 0
    # same CONTENT under a new id: version bumps but bits are identical
    state.apply_batch(b1, batch_id=1, scope="s")
    assert state.version() == 1
    assert _bloom_array(state.bloom()) == before


def test_maintain_bloom_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for name, rows in (("b1.json", BATCH1), ("b2.json", BATCH2)):
        with open(os.path.join(src, name), "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    state = BloomIndexState(spark, str(tmp_path / "state"))
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
    union = spark.createDataFrame(BATCH1 + BATCH2, DOC_SCHEMA)
    assert _bloom_array(state.bloom()) == _bloom_array(
        bench_bloom(union, "doc_id", "text")
    )


def test_bloom_state_vacuum(spark, tmp_path):
    state = BloomIndexState(spark, str(tmp_path / "state"))
    for i, batch in enumerate((BATCH1, BATCH2, BATCH1)):
        state.apply_batch(
            spark.createDataFrame(batch, DOC_SCHEMA), batch_id=i, scope="s"
        )
    assert state.version() == 2
    removed = state.vacuum(keep_last=1)
    assert len(removed) == 2  # v0 and v1 word snapshots
    # the live version still serves, vacuumed time travel fails loudly
    assert state.words().count() > 0
    import pytest as _pytest

    with _pytest.raises(Exception):
        state.words(version=0).count()
