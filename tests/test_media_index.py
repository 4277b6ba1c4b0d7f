"""Incremental media dedup index (streaming/media_index.py): the
accumulated pair log and maintained components must be
indistinguishable from a from-scratch dHash dedup over the union of
live assets; cross-batch duplicates must be found against state;
re-ingesting a changed asset must retract its stale signature."""

from __future__ import annotations

import numpy as np

from nomenklatura_spark.multimodal.decode import encode_bmp, encode_ppm
from nomenklatura_spark.multimodal.dhash import dhash_pairs, dhash_signatures
from nomenklatura_spark.resolver.components import connected_components
from nomenklatura_spark.streaming.media_index import (
    MediaDedupIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream

ASSET_SCHEMA = "asset_id long, media_type string, payload binary"


def _px(seed: int, h: int = 12, w: int = 20) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8).astype(
        np.uint8
    )


def _adf(spark, rows):
    return spark.createDataFrame(
        [(i, "image", bytearray(p)) for i, p in rows], ASSET_SCHEMA
    )


# batch 1: 1 and 2 are a cross-format dup pair; 3 is unrelated
B1 = [
    (1, encode_bmp(_px(1))),
    (2, encode_ppm(_px(1))),
    (3, encode_bmp(_px(3))),
]
# batch 2: 11 duplicates batch-1's asset 1 (cross-batch, vs state);
# 12/13 are a within-batch dup pair; 3 is RE-INGESTED with new pixels
B2 = [
    (11, encode_ppm(_px(1))),
    (12, encode_bmp(_px(7))),
    (13, encode_ppm(_px(7))),
    (3, encode_bmp(_px(99))),
]


def test_incremental_pairs_and_components_match_scratch(spark, tmp_path):
    state = MediaDedupIndexState(spark, str(tmp_path / "state"))
    p1 = state.apply_batch(_adf(spark, B1))
    assert {(r["lid"], r["rid"]) for r in p1.collect()} == {(1, 2)}
    p2 = state.apply_batch(_adf(spark, B2))
    got2 = {(r["lid"], r["rid"]) for r in p2.collect()}
    assert (1, 11) in got2 and (2, 11) in got2  # vs state
    assert (12, 13) in got2  # within batch

    # live corpus: batch-2's asset 3 replaces batch-1's; since r11 the
    # log EQUALS scratch (changed-content retraction — no stale pairs)
    final = {i: p for i, p in B1} | {i: p for i, p in B2}
    scratch = dhash_pairs(
        dhash_signatures(_adf(spark, list(final.items()))).localCheckpoint()
    )
    assert sorted(map(tuple, state.pairs().collect())) == sorted(
        map(tuple, scratch.collect())
    )
    # the re-ingested asset holds exactly ONE signature generation
    assert state.signatures().where("id = 3").count() == 1

    # maintained components == from-scratch over the full pair log
    got = sorted(map(tuple, state.components().collect()))
    want = sorted(
        map(
            tuple,
            connected_components(
                state.pairs(), src="lid", dst="rid"
            ).collect(),
        )
    )
    assert got == want
    comp_of = dict(got)
    assert comp_of[1] == comp_of[2] == comp_of[11]  # merged across batches

    # replay idempotence: refolding batch 2 changes nothing
    state.apply_batch(_adf(spark, B2))
    assert sorted(map(tuple, state.components().collect())) == want


def test_changed_reingest_retracts_pairs_and_splits_components(
    spark, tmp_path
):
    """The G10 split case (r10 verdict headline): re-ingesting an asset
    that HAD pairs with CHANGED pixels must retract its stale pairs and
    re-derive the affected components — otherwise serve_keep_list keeps
    suppressing an asset whose new content near-matches nothing."""
    state = MediaDedupIndexState(spark, str(tmp_path / "state"))
    state.apply_batch(_adf(spark, B1))
    state.apply_batch(_adf(spark, B2))
    # asset 2 is in cluster {1, 2, 11} with pairs (1,2) and (2,11);
    # re-ingest it with unrelated pixels (and 13, from cluster {12,13})
    B3 = [(2, encode_bmp(_px(50))), (13, encode_bmp(_px(60)))]
    state.apply_batch(_adf(spark, B3))

    final = (
        {i: p for i, p in B1}
        | {i: p for i, p in B2}
        | {i: p for i, p in B3}
    )
    scratch = dhash_pairs(
        dhash_signatures(_adf(spark, list(final.items()))).localCheckpoint()
    ).localCheckpoint()
    # the live log equals from-scratch: stale pairs (1,2), (2,11) and
    # (12,13) are GONE, the untouched pair (1,11) survives
    logged = sorted(map(tuple, state.pairs().collect()))
    assert logged == sorted(map(tuple, scratch.collect()))
    pairs_set = {(lid, rid) for lid, rid, _ in logged}
    assert (1, 11) in pairs_set
    assert not any(2 in p or 13 in p for p in pairs_set)

    # maintained components equal a from-scratch run over the live log
    got = sorted(map(tuple, state.components().collect()))
    want = sorted(
        map(
            tuple,
            connected_components(scratch, src="lid", dst="rid").collect(),
        )
    )
    assert got == want
    comp_of = dict(got)
    assert comp_of[1] == comp_of[11]
    assert 2 not in comp_of and 13 not in comp_of and 12 not in comp_of

    # the keep-list un-suppresses the changed assets
    keep = {r["asset_id"]: r["keep"] for r in
            state.serve_keep_list().collect()}
    assert 2 not in keep and 13 not in keep  # trivially survive now
    assert keep[1] is True and keep[11] is False

    # replay idempotence holds through the split case
    state.apply_batch(_adf(spark, B3))
    assert sorted(map(tuple, state.components().collect())) == want
    assert sorted(map(tuple, state.pairs().collect())) == logged


def test_delete_equals_scratch_over_remaining(spark, tmp_path):
    """The delete verb (the deletion half of G10): removing an asset
    that HAD pairs retracts its pairs and band-histogram contributions
    and re-derives the affected components — post-delete state is
    bit-identical to a from-scratch build over the remaining assets."""
    from nomenklatura_spark.multimodal.dhash import band_bucket_counts

    state = MediaDedupIndexState(spark, str(tmp_path / "state"))
    state.apply_batch(_adf(spark, B1))
    state.apply_batch(_adf(spark, B2))
    # delete asset 2 (cluster {1,2,11}, pairs (1,2),(2,11)) and 12
    # (cluster {12,13})
    state.delete(spark.createDataFrame([(2,), (12,)], "asset_id long"))

    remaining = [
        (i, p)
        for i, p in ({i: p for i, p in B1} | {i: p for i, p in B2}).items()
        if i not in (2, 12)
    ]
    sigs = dhash_signatures(_adf(spark, remaining)).localCheckpoint()
    scratch = dhash_pairs(sigs).localCheckpoint()
    assert sorted(map(tuple, state.pairs().collect())) == sorted(
        map(tuple, scratch.collect())
    )
    got = sorted(map(tuple, state.components().collect()))
    want = sorted(
        map(
            tuple,
            connected_components(scratch, src="lid", dst="rid").collect(),
        )
    )
    assert got == want
    comp_of = dict(got)
    assert comp_of[1] == comp_of[11] and 2 not in comp_of
    assert 12 not in comp_of and 13 not in comp_of  # 13's only dup left
    # the band histogram shed exactly the deleted contributions
    assert sorted(map(tuple, state.band_counts().collect())) == sorted(
        map(
            tuple,
            band_bucket_counts(
                sigs, state.band_bytes, state.n_blocks
            ).collect(),
        )
    )
    # keep-list: 11 still suppressed behind 1; 13 trivially survives
    keep = {r["asset_id"]: r["keep"] for r in
            state.serve_keep_list().collect()}
    assert keep[1] is True and keep[11] is False and 13 not in keep

    # redelivered delete (ids already gone): the version bumps once and
    # no relation changes; an EMPTY delete does not bump at all
    def _snapshot():
        return [
            sorted(map(tuple, rel().collect()))
            for rel in (state.pairs, state.components, state.band_counts)
        ]

    before, v = _snapshot(), state.version()
    state.delete(spark.createDataFrame([(2,), (12,)], "asset_id long"))
    assert state.version() == v + 1
    assert _snapshot() == before
    state.delete(spark.createDataFrame([], "asset_id long"))
    assert state.version() == v + 1


def test_band_counts_maintained_and_batch_bounded_skew(spark, tmp_path):
    """The maintained band-bucket histogram equals a from-scratch
    aggregation over live signatures after EVERY fold — including the
    changed-content re-ingest, whose retraction shrinks buckets — and
    the fold's batch-bounded contract scan still trips the loud
    max_bucket bound when a batch pushes a bucket over against
    accumulated state (the scan reads the histogram, not the state)."""
    import pytest

    from nomenklatura_spark.multimodal.dhash import band_bucket_counts

    state = MediaDedupIndexState(spark, str(tmp_path / "state"))
    for batch in (B1, B2, [(2, encode_bmp(_px(50)))]):
        state.apply_batch(_adf(spark, batch))
        got = sorted(map(tuple, state.band_counts().collect()))
        want = sorted(
            map(
                tuple,
                band_bucket_counts(
                    state.signatures(), state.band_bytes, state.n_blocks
                ).collect(),
            )
        )
        assert got == want and got  # non-trivial histogram

    # skew still fires THROUGH the fold: 4 flat images fill a bucket to
    # the bound, the 5th crosses it against accumulated state
    flat_state = MediaDedupIndexState(
        spark, str(tmp_path / "flat"), max_bucket=4
    )
    flat = np.full((10, 10, 3), 128, dtype=np.uint8)
    flat_state.apply_batch(
        _adf(spark, [(i, encode_bmp(flat)) for i in range(4)])
    )
    with pytest.raises(ValueError, match="max_bucket"):
        flat_state.apply_batch(_adf(spark, [(9, encode_bmp(flat))]))
    # the aborted fold committed nothing (snapshot swap is last)
    assert flat_state.signatures().count() == 4
    # validate_buckets is the full-scan repair verb after tightening
    flat_state.max_bucket = 3
    with pytest.raises(ValueError, match="max_bucket"):
        flat_state.validate_buckets()


def test_keep_list_serves_min_id_keeper(spark, tmp_path):
    state = MediaDedupIndexState(spark, str(tmp_path / "state"))
    state.apply_batch(_adf(spark, B1))
    state.apply_batch(_adf(spark, B2))
    keep = {r["asset_id"]: r["keep"] for r in
            state.serve_keep_list().collect()}
    # cluster {1, 2, 11}: min id 1 survives
    assert keep[1] is True and keep[2] is False and keep[11] is False
    # cluster {12, 13}: 12 survives
    assert keep[12] is True and keep[13] is False
    # asset 3 has no near-dup: not listed (trivially survives)
    assert 3 not in keep


def test_time_travel_and_version_swap(spark, tmp_path):
    state = MediaDedupIndexState(spark, str(tmp_path / "state"))
    state.apply_batch(_adf(spark, B1))
    v1 = state.version()
    state.apply_batch(_adf(spark, B2))
    old = {r["node"] for r in state.components(v1).collect()}
    assert 11 not in old and 1 in old


def test_streaming_media_tombstones_delete(spark, tmp_path):
    """CDC-shaped media ingest: tombstoned assets route to the G10
    delete path; post-stream state equals from-scratch over the live
    assets (stale pairs retracted, components re-derived)."""
    src = tmp_path / "in"
    src.mkdir()
    state = MediaDedupIndexState(spark, str(tmp_path / "state"))
    ts_schema = "asset_id long, media_type string, payload binary, deleted boolean"

    def _tdf(rows, dead=()):
        return spark.createDataFrame(
            [
                (i, "image", bytearray(p), i in dead)
                for i, p in rows
            ],
            ts_schema,
        )

    _tdf(B1).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(ts_schema).parquet(str(src))
    q = maintain_stream(
        stream,
        state,
        checkpoint_dir=str(tmp_path / "chk"),
        tombstone_col="deleted",
    )
    try:
        q.processAllAvailable()
        assert {(r["lid"], r["rid"]) for r in state.pairs().collect()} == {
            (1, 2)
        }
        # batch 2 upserts B2 and tombstones asset 2 in the same batch
        _tdf(B2 + [(2, encode_bmp(_px(1)))], dead={2}).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    live = [
        (i, p)
        for i, p in ({i: p for i, p in B1} | {i: p for i, p in B2}).items()
        if i != 2
    ]
    scratch = dhash_pairs(
        dhash_signatures(_adf(spark, live)).localCheckpoint()
    ).localCheckpoint()
    assert sorted(map(tuple, state.pairs().collect())) == sorted(
        map(tuple, scratch.collect())
    )
    got = sorted(map(tuple, state.components().collect()))
    want = sorted(
        map(
            tuple,
            connected_components(scratch, src="lid", dst="rid").collect(),
        )
    )
    assert got == want
    assert state.signatures().where("id = 2").count() == 0


def test_streaming_media_maintenance(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    state = MediaDedupIndexState(spark, str(tmp_path / "state"))
    _adf(spark, B1).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(ASSET_SCHEMA).parquet(str(src))
    q = maintain_stream(
        stream, state, checkpoint_dir=str(tmp_path / "chk")
    )
    try:
        q.processAllAvailable()
        assert {(r["lid"], r["rid"]) for r in state.pairs().collect()} == {
            (1, 2)
        }
        _adf(spark, B2).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        pairs = {(r["lid"], r["rid"]) for r in state.pairs().collect()}
        assert (1, 11) in pairs and (12, 13) in pairs
    finally:
        q.stop()
