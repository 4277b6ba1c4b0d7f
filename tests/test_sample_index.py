"""Incremental bounded priority sample (streaming/sample_index.py):
maintained min-k state must equal a from-scratch priority sample over
everything ingested, under any batch order and redelivery; the
raised-priority upsert boundary must be loud; rebuild must repair."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nomenklatura_spark.streaming.sample_index import (
    SampleIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream
from nomenklatura_spark.textops.analysis import priority_sample

DOC_SCHEMA = "doc_id long, text string"


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(3 + i % 7))) for i in ids],
        DOC_SCHEMA,
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_matches_scratch_any_order(spark, tmp_path):
    all_ids = list(range(60))
    full = _docs(spark, all_ids)
    w = F.size(F.split("text", " "))
    # out-of-order, uneven batches
    slices = [all_ids[40:], all_ids[:25], all_ids[25:40]]
    state = SampleIndexState(spark, str(tmp_path / "s"), k=10)
    for ids in slices:
        state.apply_batch(_docs(spark, ids), w)
    got = _rows(state.serve_sample())
    # maintained == rebuild-from-everything (the index's own exact form)
    state2 = SampleIndexState(spark, str(tmp_path / "s2"), k=10)
    v = state2.rebuild(full, w)
    assert v == 0
    assert got == _rows(state2.sample())
    # and membership agrees with the batch priority_sample on ties-free
    # data (same keys, numeric-vs-string tiebreak never fires here)
    batch = priority_sample(full, w, 10)
    assert {r[0] for r in got} == {
        str(x["doc_id"]) for x in batch.collect()
    }
    assert len(got) == 10


def test_redelivery_and_same_weight_reingest_are_noops(spark, tmp_path):
    state = SampleIndexState(spark, str(tmp_path / "s"), k=5)
    w = F.size(F.split("text", " "))
    b = _docs(spark, range(20))
    state.apply_batch(b, w)
    before = _rows(state.sample())
    state.apply_batch(b, w)  # exact redelivery
    assert _rows(state.sample()) == before
    state.apply_batch(_docs(spark, range(5)), w)  # same-content subset
    assert _rows(state.sample()) == before


def test_better_priority_upsert_is_exact(spark, tmp_path):
    """A re-ingest that LOWERS an id's priority key (longer text →
    bigger weight → smaller key) upserts exactly."""
    state = SampleIndexState(spark, str(tmp_path / "s"), k=5)
    w = F.size(F.split("text", " "))
    state.apply_batch(_docs(spark, range(20)), w)
    # grow one sampled doc's text massively
    (top,) = state.sample().orderBy("priority_key", "id").limit(1).collect()
    grown = spark.createDataFrame(
        [(int(top["id"]), " ".join(f"x{j}" for j in range(500)))],
        DOC_SCHEMA,
    )
    state.apply_batch(grown, w)
    got = {r["id"]: r["weight"] for r in state.sample().collect()}
    assert got[top["id"]] == 500  # upserted with the new weight


def test_raised_priority_reingest_raises_and_rebuild_repairs(
    spark, tmp_path
):
    state = SampleIndexState(spark, str(tmp_path / "s"), k=5)
    w = F.size(F.split("text", " "))
    first = _docs(spark, range(20))
    state.apply_batch(first, w)
    (top,) = state.sample().orderBy("priority_key", "id").limit(1).collect()
    shrunk = spark.createDataFrame(
        [(int(top["id"]), "one")], DOC_SCHEMA
    )
    with pytest.raises(ValueError, match="raised the priority key"):
        state.apply_batch(shrunk, w)
    # the repair verb: exact rescan over the latest-version history
    latest = first.where(F.col("doc_id") != int(top["id"])).unionByName(
        shrunk
    )
    state.rebuild(latest, w)
    # cannot re-raise after complete-information rebuild: refold the
    # same shrunk row — its priority now matches state
    state.apply_batch(shrunk, w)
    assert state.sample().count() == 5


def test_time_travel_and_streaming_driver(spark, tmp_path):
    import json

    src = tmp_path / "in"
    src.mkdir()
    state = SampleIndexState(spark, str(tmp_path / "s"), k=5)
    w = F.size(F.split("text", " "))
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    with open(src / "b1.json", "w") as fh:
        for i in range(10):
            fh.write(json.dumps({"doc_id": i, "text": "a b c"}) + "\n")
    q = maintain_stream(
        stream, state, checkpoint_dir=str(tmp_path / "chk"), weight=w
    )
    try:
        q.processAllAvailable()
        v1 = state.version()
        n1 = {r["id"] for r in state.sample().collect()}
        assert len(n1) == 5
        with open(src / "b2.json", "w") as fh:
            for i in range(10, 40):
                fh.write(json.dumps({"doc_id": i, "text": "a b c"})
                         + "\n")
        q.processAllAvailable()
        n2 = {r["id"] for r in state.sample().collect()}
        assert len(n2) == 5
        # time travel reads the pre-batch-2 sample
        assert {r["id"] for r in state.sample(v1).collect()} == n1
    finally:
        q.stop()
