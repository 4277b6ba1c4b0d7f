"""Bucketed state layout of the dedup indexes (r12): an append-only
fold must hardlink every previous bucket file (it writes only the
batch's own rows — O(batch), not O(state)); a re-ingest fold must
rewrite ONLY the buckets holding the retracted keys; and vacuum must
leave the current version readable (hardlinked bytes are refcounted)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nomenklatura_spark.streaming.dedup_index import DedupIndexState
from nomenklatura_spark.streaming.state import STATE_BUCKETS

DOC_SCHEMA = "doc_id string, text string"

BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "a slow tune in the warm evening air near the old harbor wall"
)
BATCH1 = [
    ("a1", BASE),
    ("a2", BASE + " with one extra clause appended at the end"),
    ("a3", "completely different text about spark query planning"),
]
BATCH2 = [
    ("b1", BASE + " and a slightly different extra clause at the end"),
    ("b2", "another unrelated document mentioning catalysts and codegen"),
]


def _parquet_files(d: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                out[os.path.relpath(os.path.join(root, f), d)] = (
                    os.path.join(root, f)
                )
    return out


def _bucket_of(spark, value: str, n_buckets: int) -> int:
    return (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(value)), F.lit(n_buckets))
            .cast("int")
            .alias("b")
        )
        .first()["b"]
    )


def test_append_only_fold_hardlinks_every_old_bucket(spark, tmp_path):
    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    state.apply_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA))
    # disjoint ids: the steady-state append-only fold
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA))
    for rel in ("signatures", "bands", "pairs"):
        v0 = str(tmp_path / "state" / rel / "v0")
        v1 = str(tmp_path / "state" / rel / "v1")
        old = _parquet_files(v0)
        new = _parquet_files(v1)
        # every v0 file rides into v1 as a HARDLINK (same inode): the
        # fold wrote only the batch's own rows
        for rel_path, p in old.items():
            assert rel_path in new, f"{rel}: {rel_path} not carried"
            assert os.path.samefile(p, new[rel_path]), (
                f"{rel}: {rel_path} copied/rewritten instead of linked"
            )


def test_reingest_rewrites_only_touched_buckets(spark, tmp_path):
    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    state.apply_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA))
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA))
    # re-ingest ONE id with changed text: only its bucket may rewrite
    state.apply_batch(
        spark.createDataFrame(
            [("a3", "rewritten text about storage engine compaction")],
            DOC_SCHEMA,
        )
    )
    tb = _bucket_of(spark, "a3", STATE_BUCKETS)
    for rel in ("signatures", "bands"):
        v1 = str(tmp_path / "state" / rel / "v1")
        v2 = str(tmp_path / "state" / rel / "v2")
        old = _parquet_files(v1)
        new = _parquet_files(v2)
        for rel_path, p in old.items():
            bucket = int(rel_path.split("=", 1)[1].split(os.sep, 1)[0])
            if bucket == tb:
                # the touched bucket was REWRITTEN: the old file must
                # not be carried (fresh files replace it)
                assert rel_path not in new, (
                    f"{rel}: touched bucket file {rel_path} linked"
                )
            else:
                assert rel_path in new and os.path.samefile(
                    p, new[rel_path]
                ), f"{rel}: untouched bucket {rel_path} not linked"
    # the a3 rows in the rewritten bucket are the NEW generation only
    rows = state.signatures().where(F.col("id") == "a3").count()
    assert rows == 32


def test_vacuum_keeps_current_version_readable(spark, tmp_path):
    state = DedupIndexState(spark, str(tmp_path / "state"), threshold=0.3)
    state.apply_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA))
    state.apply_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA))
    sig_rows = state.signatures().count()
    pair_set = {tuple(r) for r in state.pairs().collect()}
    removed = state.vacuum(keep_last=1)
    assert removed  # v0 directories went away
    # the current version still reads in full: its hardlinked files
    # hold the bytes regardless of the removed directory entries
    assert state.signatures().count() == sig_rows
    assert {tuple(r) for r in state.pairs().collect()} == pair_set
