"""The shared commit protocol of the maintained indexes
(``streaming/state.py``): the checkpoint-scoped replay guard of every
state, the one ``maintain_stream``, the layout guard against flat
pre-bucketing snapshots and the visible hardlink fallback."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from nomenklatura_spark.multimodal.decode import encode_bmp
from nomenklatura_spark.streaming.counts_index import CountsIndexState
from nomenklatura_spark.streaming.dedup_index import DedupIndexState
from nomenklatura_spark.streaming.funnel_index import FunnelIndexState
from nomenklatura_spark.streaming.hll_index import HllIndexState
from nomenklatura_spark.streaming.index import BlockingIndexState
from nomenklatura_spark.streaming.media_index import MediaDedupIndexState
from nomenklatura_spark.streaming.retention_index import RetentionIndexState
from nomenklatura_spark.streaming.sample_index import SampleIndexState
from nomenklatura_spark.streaming.session_index import SessionIndexState
from nomenklatura_spark.streaming.sketch_index import (
    CmsIndexState,
    HeavyHittersIndexState,
    HistIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream
from nomenklatura_spark.streaming.vocab_index import VocabIndexState

# a checkpoint dir is a path, and paths may hold spaces
SCOPE = "/tmp/my chk"

DOC_SCHEMA = "doc_id long, text string"
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "spark plans joins with broadcast hints"),
]
T0 = dt.datetime(2024, 1, 1, 10, 0)
EVENTS = [
    ("u1", T0, "view", 5),
    ("u1", T0 + dt.timedelta(minutes=5), "click", 7),
    ("u2", T0 + dt.timedelta(days=1), "view", 1),
]
VALUES = [("a", "x", 1.0), ("a", "x", 2.0), ("b", "y", 3.0)] * 4


def _docs(spark):
    return spark.createDataFrame(DOCS, DOC_SCHEMA)


def _events(spark):
    return spark.createDataFrame(
        EVENTS, "user_id string, ts timestamp, event_type string, value_int long"
    )


def _values(spark):
    return spark.createDataFrame(VALUES, "k string, v string, x double")


def _hist(spark, d):
    state = HistIndexState(spark, d)
    state.set_bounds(0.0, 10.0)
    return state


# (state factory, batch maker, fold kwargs) for every maintained index
STATES = {
    "vocab": (VocabIndexState, _docs, {}),
    "dedup": (DedupIndexState, _docs, {}),
    "sample": (
        lambda s, d: SampleIndexState(s, d, k=2), _docs,
        lambda: {"weight": F.length("text")},  # a Column needs a session
    ),
    "hll": (HllIndexState, _values, {"key_col": "k", "value_col": "v"}),
    "cms": (CmsIndexState, _values, {"value_col": "v"}),
    "hist": (_hist, _values, {"key_col": "k", "value_col": "x"}),
    "heavy_hitters": (HeavyHittersIndexState, _values, {"value_col": "v"}),
    "counts": (CountsIndexState, _events, {"value_col": "value_int"}),
    "retention": (RetentionIndexState, _events, {}),
    "session": (SessionIndexState, _events, {}),
    "funnel": (
        lambda s, d: FunnelIndexState(s, d, steps=["view", "click"]),
        _events, {},
    ),
    "media": (
        MediaDedupIndexState,
        lambda s: s.createDataFrame(
            [(1, bytearray(encode_bmp(_pixels(1)))),
             (2, bytearray(encode_bmp(_pixels(2))))],
            "asset_id long, payload binary",
        ),
        {},
    ),
    "blocking": (
        BlockingIndexState,
        lambda s: s.createDataFrame(
            [("Company", "c1", "Siemens AG", "name"),
             ("Person", "p1", "Johanna Quandt", "name")],
            "schema string, canonical_id string, value string, "
            "prop_type string",
        ),
        {},
    ),
}


def _pixels(seed: int):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(12, 20, 3), dtype=np.uint8)


@pytest.mark.parametrize("name", sorted(STATES))
def test_redelivered_batch_is_skipped_under_a_spaced_scope(
    spark, tmp_path, name
):
    """A redelivered micro-batch of the same stream commits nothing,
    also when the stream's checkpoint path holds a space."""
    factory, batch, kwargs = STATES[name]
    if callable(kwargs):
        kwargs = kwargs()
    state = factory(spark, str(tmp_path / "state"))
    df = batch(spark)
    state.apply_batch(df, batch_id=0, scope=SCOPE, **kwargs)
    v = state.version()
    assert state.last_batch(SCOPE) == 0
    state.apply_batch(df, batch_id=0, scope=SCOPE, **kwargs)
    assert state.version() == v
    # the same id from another stream incarnation is fresh data
    assert state.last_batch("/tmp/my") == -1


def test_maintain_stream_skips_empty_micro_batches(spark, tmp_path):
    """Every state sees the same empty-batch rule: a micro-batch with
    no rows commits nothing, and the guard is keyed to the spaced
    checkpoint path."""
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        for doc_id, text in DOCS:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    open(src / "b2.json", "w").close()
    chk = str(tmp_path / "my chk")
    state = VocabIndexState(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = maintain_stream(stream, state, checkpoint_dir=chk, trigger_once=True)
    q.awaitTermination(120)
    assert state.version() == 0
    assert state.last_batch(chk) == 0


DEDUP_B1 = [
    ("a1", "the quick brown fox jumps over the lazy dog near the river"),
    ("a2", "the quick brown fox jumps over the lazy dog near the rivers"),
    ("a3", "spark plans joins with broadcast hints and codegen"),
]
DEDUP_B2 = [
    ("b1", "the quick brown fox jumps over the lazy dog near the lake"),
    ("b2", "an unrelated note about storage engines and compaction"),
]


def _dedup_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_fold_over_flat_snapshot_raises_and_keeps_pointer(spark, tmp_path):
    """A bucketed fold on top of a flat pre-bucketing snapshot must
    fail loudly instead of dropping every prior row."""
    root = str(tmp_path / "state")
    state = DedupIndexState(spark, root, threshold=0.3)
    state.apply_batch(_dedup_df(spark, DEDUP_B1))
    # rewrite v0 of each bucketed relation in the flat layout
    for rel, read in (
        ("signatures", state.signatures),
        ("bands", state.bands),
        ("pairs", state.pairs),
    ):
        rows = read().collect()
        flat = str(tmp_path / f"flat_{rel}")
        spark.createDataFrame(rows, read().schema).write.parquet(flat)
        shutil.rmtree(os.path.join(root, rel, "v0"))
        shutil.copytree(flat, os.path.join(root, rel, "v0"))
    with pytest.raises(ValueError, match="flat pre-bucketing layout") as e:
        state.apply_batch(_dedup_df(spark, DEDUP_B2))
    assert root in str(e.value)
    assert state.version() == 0
    assert state.signatures().select("id").distinct().count() == 3


def test_hardlink_fallback_warns_and_stays_complete(
    spark, tmp_path, monkeypatch
):
    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    state.apply_batch(_dedup_df(spark, DEDUP_B1))

    def _no_link(src, dst):
        raise OSError("hardlinks not supported")

    monkeypatch.setattr(os, "link", _no_link)
    with pytest.warns(RuntimeWarning, match="copied instead of hardlinked"):
        state.apply_batch(_dedup_df(spark, DEDUP_B2))
    assert state.version() == 1
    sigs = state.signatures()
    assert sigs.select("id").distinct().count() == 5
    assert sigs.count() == 5 * state.n_hashes


def test_lsh_candidate_pairs_needs_signatures_or_bands():
    from nomenklatura_spark.dedup.minhash import lsh_candidate_pairs

    with pytest.raises(ValueError, match="signatures or the bands"):
        lsh_candidate_pairs(None)
