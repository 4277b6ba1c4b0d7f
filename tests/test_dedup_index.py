"""Incremental MinHash-LSH dedup index: the accumulated pair log must be
indistinguishable from a from-scratch MinHash dedup over the union of all
ingested documents, and re-ingesting a changed document must retract its
stale signature rows."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from nomenklatura_spark.dedup.minhash import minhash_dedup_pairs
from nomenklatura_spark.streaming.dedup_index import (
    DedupIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream

DOC_SCHEMA = "doc_id string, text string"

BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "a slow tune in the warm evening air near the old harbor wall"
)
BATCH1 = [
    ("a1", BASE),
    ("a2", BASE + " with one extra clause appended at the end"),
    ("a3", "completely different text about spark query planning and shuffles"),
]
BATCH2 = [
    ("b1", BASE + " and a slightly different extra clause at the end"),
    ("b2", "another unrelated document mentioning catalysts and codegen"),
    ("a3", BASE + " rewritten to now duplicate the base document text"),
]


def _pairset(df):
    return {
        (r["lid"], r["rid"], round(r["est_jaccard"], 6)) for r in df.collect()
    }


def test_incremental_matches_scratch(spark, tmp_path):
    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    b2 = spark.createDataFrame(BATCH2, DOC_SCHEMA)
    p1 = state.apply_batch(b1)
    assert {(r["lid"], r["rid"]) for r in p1.collect()} == {("a1", "a2")}
    state.apply_batch(b2)

    # final corpus: batch2's a3 replaces batch1's a3
    final = {d: t for d, t in BATCH1} | {d: t for d, t in BATCH2}
    scratch = minhash_dedup_pairs(
        spark.createDataFrame(list(final.items()), DOC_SCHEMA),
        "doc_id",
        "text",
        threshold=0.3,
    )
    maintained = state.pairs()
    # since r11 the live log EQUALS the from-scratch run — a
    # changed-content re-ingest retracts its stale pairs (G10 split
    # case), so no superseded-version pairs survive
    assert _pairset(maintained) == _pairset(scratch)
    # cross-batch dup (a1~b1) must have been found against state
    assert any(l == "a1" and r == "b1" for l, r, _ in _pairset(maintained))
    # the rewritten a3 signatures replaced the old rows (upsert-by-doc)
    n_sig_rows = state.signatures().where(F.col("id") == "a3").count()
    assert n_sig_rows == 32  # one row per hash, not two generations


def test_incremental_components_match_scratch(spark, tmp_path):
    """Maintained components (star-compression fold per batch) must be
    bit-identical to a from-scratch connected-components run over the
    full accumulated pair log — the append-only merge-only argument."""
    from nomenklatura_spark.resolver.components import (
        connected_components,
    )

    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    state.apply_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA))
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA))
    scratch = connected_components(state.pairs(), src="lid", dst="rid")
    got = sorted(map(tuple, state.components().collect()))
    want = sorted(map(tuple, scratch.collect()))
    assert got == want
    # the cross-batch chain a1~a2 (batch 1) + a1~b1 (cross) must have
    # merged into ONE component spanning both batches
    comp_of = dict(got)
    assert comp_of["a1"] == comp_of["a2"] == comp_of["b1"]
    # refolding a batch is a no-op for components (replay-idempotent)
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA))
    again = sorted(map(tuple, state.components().collect()))
    assert again == want


def test_changed_reingest_retracts_pairs_and_splits_components(
    spark, tmp_path
):
    """The G10 split case for the TEXT index: re-ingesting a document
    that HAD pairs with changed text must retract its stale pairs and
    re-derive the affected components — otherwise the positive feed
    keeps serving pairs for content that no longer exists."""
    from nomenklatura_spark.resolver.components import (
        connected_components,
    )

    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    state.apply_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA))
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA))
    comp_before = dict(
        map(tuple, state.components().select("node", "component").collect())
    )
    assert "a2" in comp_before  # a2 HAD pairs (a1~a2 from batch 1)

    # re-ingest a2 with unrelated text
    B3 = [
        (
            "a2",
            "totally unrelated replacement text about database "
            "internals, write-ahead logs and storage engine compaction",
        )
    ]
    state.apply_batch(spark.createDataFrame(B3, DOC_SCHEMA))

    final = (
        {d: t for d, t in BATCH1}
        | {d: t for d, t in BATCH2}
        | {d: t for d, t in B3}
    )
    scratch = minhash_dedup_pairs(
        spark.createDataFrame(list(final.items()), DOC_SCHEMA),
        "doc_id",
        "text",
        threshold=0.3,
    ).localCheckpoint()
    assert _pairset(state.pairs()) == _pairset(scratch)
    assert not any(
        "a2" in (l, r) for l, r, _ in _pairset(state.pairs())
    )

    # components equal a from-scratch run over the live log; a2 is out,
    # the rest of its old component stays merged via its own edges
    got = sorted(map(tuple, state.components().collect()))
    want = sorted(
        map(
            tuple,
            connected_components(scratch, src="lid", dst="rid").collect(),
        )
    )
    assert got == want
    comp_of = dict(got)
    assert "a2" not in comp_of
    assert comp_of["a1"] == comp_of["b1"]
    # the positive feed no longer serves the stale doc
    assert not any(
        "a2" in (r["anchor_id"], r["positive_id"])
        for r in state.serve_positive_pairs(k=3).collect()
    )
    # replay idempotence holds through the split case
    state.apply_batch(spark.createDataFrame(B3, DOC_SCHEMA))
    assert sorted(map(tuple, state.components().collect())) == want


def test_delete_equals_scratch_over_remaining(spark, tmp_path):
    """The delete verb (the deletion half of G10): removing a document
    that HAD pairs retracts its pairs and re-derives the affected
    components — post-delete state is bit-identical to a from-scratch
    build over the remaining documents; absent-id deletes are no-ops."""
    from nomenklatura_spark.resolver.components import (
        connected_components,
    )

    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    state.apply_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA))
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA))
    assert any("a2" in (l, r) for l, r, _ in _pairset(state.pairs()))

    state.delete(spark.createDataFrame([("a2",)], "doc_id string"))
    remaining = {
        d: t
        for d, t in ({d: t for d, t in BATCH1}
                     | {d: t for d, t in BATCH2}).items()
        if d != "a2"
    }
    scratch = minhash_dedup_pairs(
        spark.createDataFrame(list(remaining.items()), DOC_SCHEMA),
        "doc_id",
        "text",
        threshold=0.3,
    ).localCheckpoint()
    assert _pairset(state.pairs()) == _pairset(scratch)
    assert state.signatures().where("id = 'a2'").count() == 0
    assert state.bands().where("id = 'a2'").count() == 0
    got = sorted(map(tuple, state.components().collect()))
    want = sorted(
        map(
            tuple,
            connected_components(scratch, src="lid", dst="rid").collect(),
        )
    )
    assert got == want
    assert not any(
        "a2" in (r["anchor_id"], r["positive_id"])
        for r in state.serve_positive_pairs(k=3).collect()
    )

    # redelivered delete (id already gone): state unchanged, version
    # bumps once more; an EMPTY delete does not bump at all
    v = state.version()
    state.delete(spark.createDataFrame([("a2",)], "doc_id string"))
    assert state.version() == v + 1
    assert sorted(map(tuple, state.components().collect())) == want
    state.delete(
        spark.createDataFrame([], "doc_id string")
    )
    assert state.version() == v + 1


def test_serve_positive_pairs_from_state(spark, tmp_path):
    """The contrastive positive feed served from maintained components
    equals build_positive_pairs over the from-scratch components, and
    time travel serves the feed as of an earlier version."""
    from nomenklatura_spark.resolver.components import (
        connected_components,
    )
    from nomenklatura_spark.textops.contrastive import (
        build_positive_pairs,
    )

    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    state.apply_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA))
    v1 = state.version()
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA))

    served = sorted(map(tuple, state.serve_positive_pairs(k=2).collect()))
    scratch = build_positive_pairs(
        connected_components(state.pairs(), src="lid", dst="rid"),
        k=2,
        id_col="node",
        comp_col="component",
    )
    assert served == sorted(map(tuple, scratch.collect()))
    assert served  # the merged a1/a2/b1 component feeds real positives
    # time travel: the v1 components know only batch-1 pairs
    old = {r["node"] for r in state.components(v1).collect()}
    assert "b1" not in old and "a1" in old


def test_streaming_tombstones_delete(spark, tmp_path):
    """CDC-shaped ingest: a boolean tombstone column routes rows to the
    G10 delete path; within one micro-batch a tombstone wins over an
    upsert of the same id.  Post-stream state equals a from-scratch
    build over the live documents."""
    from nomenklatura_spark.resolver.components import (
        connected_components,
    )

    src = tmp_path / "in"
    src.mkdir()
    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    schema = "doc_id string, text string, deleted boolean"
    stream = spark.readStream.schema(schema).json(str(src))

    with open(src / "b1.json", "w") as fh:
        for d, t in BATCH1:
            fh.write(
                json.dumps({"doc_id": d, "text": t, "deleted": False})
                + "\n"
            )
    q = maintain_stream(
        stream,
        state,
        checkpoint_dir=str(tmp_path / "chk"),
        tombstone_col="deleted",
    )
    try:
        q.processAllAvailable()
        assert {(r["lid"], r["rid"]) for r in state.pairs().collect()} == {
            ("a1", "a2")
        }
        # batch 2: b-docs upsert, a2 is tombstoned — and ALSO carries a
        # rewritten text in the same batch (tombstone must win)
        with open(src / "b2.json", "w") as fh:
            for d, t in BATCH2:
                fh.write(
                    json.dumps({"doc_id": d, "text": t, "deleted": False})
                    + "\n"
                )
            fh.write(
                json.dumps(
                    {"doc_id": "a2", "text": BASE, "deleted": True}
                )
                + "\n"
            )
        q.processAllAvailable()
    finally:
        q.stop()

    live = {d: t for d, t in BATCH1 if d != "a2"} | {
        d: t for d, t in BATCH2
    }
    scratch = minhash_dedup_pairs(
        spark.createDataFrame(list(live.items()), DOC_SCHEMA),
        "doc_id",
        "text",
        threshold=0.3,
    ).localCheckpoint()
    assert _pairset(state.pairs()) == _pairset(scratch)
    assert state.signatures().where("id = 'a2'").count() == 0
    got = sorted(map(tuple, state.components().collect()))
    want = sorted(
        map(
            tuple,
            connected_components(scratch, src="lid", dst="rid").collect(),
        )
    )
    assert got == want


def test_streaming_dedup_maintenance(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))

    with open(src / "b1.json", "w") as fh:
        for d, t in BATCH1:
            fh.write(json.dumps({"doc_id": d, "text": t}) + "\n")
    q = maintain_stream(stream, state, checkpoint_dir=str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
        assert state.version() >= 0
        assert {(r["lid"], r["rid"]) for r in state.pairs().collect()} == {
            ("a1", "a2")
        }
        with open(src / "b2.json", "w") as fh:
            for d, t in BATCH2:
                fh.write(json.dumps({"doc_id": d, "text": t}) + "\n")
        q.processAllAvailable()
        pairs = {(r["lid"], r["rid"]) for r in state.pairs().collect()}
        assert ("a1", "b1") in pairs
    finally:
        q.stop()


def test_stale_band_rows_never_nominate_candidates(spark, tmp_path):
    """A changed-content re-ingest leaves the re-ingested id's OLD band
    rows in state while the fold runs; the cross-candidate join must
    read LIVE bands only (state anti-join touched), or a stale band can
    nominate a pair from-scratch LSH would never candidate — the pair
    then survives on live-signature similarity alone and the
    incremental log diverges from the from-scratch run (r11 verdict
    #3).  The fixture is hash-searched (4 hashes, 2-hash bands) so that
    est_jaccard(x, y_new) clears the threshold while x and y_new share
    NO band, and x shares a full band with y's RETIRED content — the
    exact configuration where only a stale band row can nominate."""
    from nomenklatura_spark.dedup.minhash import (
        banded_signatures,
        minhash_signatures,
    )

    X_TEXT = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 n114_11"
    Y_NEW = "w0 w1 w2 n116_3 w4 n116_5 w6 w7 w8 w9 n116_10 w11"
    Y_OLD = "w0 w1 w2 w3 w4 w5 w6 w7 n120_8 n120_9 w10 w11"

    def _bandset(doc_id, text):
        sigs = minhash_signatures(
            spark.createDataFrame([(doc_id, text)], DOC_SCHEMA),
            "doc_id", "text", 3, "word", 4,
        ).select(F.col("id").cast("string").alias("id"), "seed", "minhash")
        return {
            (r["band"], r["band_key"])
            for r in banded_signatures(sigs, 2).collect()
        }

    # fixture premises (guard against silent rot of the searched texts):
    # x collides with y's OLD bands but with NONE of y's live bands
    assert _bandset("x", X_TEXT) & _bandset("y", Y_OLD)
    assert not (_bandset("x", X_TEXT) & _bandset("y", Y_NEW))

    state = DedupIndexState(
        spark, str(tmp_path / "state"), n_hashes=4, band_size=2,
        threshold=0.45,
    )
    state.apply_batch(spark.createDataFrame([("y", Y_OLD)], DOC_SCHEMA))
    # re-ingest y with changed text IN THE SAME BATCH as x: y's stale
    # band rows are still in state_bands when the cross join runs
    state.apply_batch(
        spark.createDataFrame([("x", X_TEXT), ("y", Y_NEW)], DOC_SCHEMA)
    )
    scratch = minhash_dedup_pairs(
        spark.createDataFrame([("x", X_TEXT), ("y", Y_NEW)], DOC_SCHEMA),
        "doc_id", "text", n_hashes=4, band_size=2, threshold=0.45,
    )
    # no live band collision -> from-scratch LSH candidates nothing,
    # and the incremental log must agree (candidates live-band-derived)
    assert _pairset(scratch) == set()
    assert _pairset(state.pairs()) == _pairset(scratch)
