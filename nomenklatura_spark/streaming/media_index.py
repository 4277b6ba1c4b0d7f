"""Incremental media near-dup index — the dHash tier's streaming ingest
path (§2.12): every incoming batch of images/audio is deduped against
everything already ingested, without rescanning the corpus.  The dHash
construction (``multimodal/dhash.py``) is deterministic (no seed
state), so the index is a materialised view maintained by key, folded
by the shared pair-log core (``streaming/pair_log.py`` has the fold
contract and its exactness arguments).  What is particular to media:

- keyed relation ``signatures`` (id, blocks, dhash).  The expensive
  leg, the Arrow-batched DECODE, runs once per asset at ingest.
- A batch's candidates are (batch bands ⋈ state bands) ∪ (batch
  self-pairs), bounded equi-joins on (band_no, band_val) in the probe
  mode of ``dhash_pairs``, and the exact popcount-of-XOR filter reads
  only signature rows.
- ``band_counts``, the live signatures' band-bucket histogram.  The
  band-bucket skew bound and the ``band_bytes`` knob are inherited from
  ``dhash_pairs``; the fold's contract scan is BATCH-bounded: counts
  change only through buckets the batch touches, so batch-side buckets
  are checked against the maintained histogram via a broadcast
  semi-join, never a full-state groupBy (``probe_bucket_scan``;
  ``validate_buckets`` is the full-scan repair verb after tightening
  ``max_bucket``).
- ``serve_keep_list`` answers the training-feed question (which asset
  of each near-dup cluster survives) from state alone (keeper = min
  asset id, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from nomenklatura_spark.multimodal.dhash import (
    _banded,
    _raise_band_offenders,
    band_bucket_counts,
    dhash_pairs,
    dhash_signatures,
    full_bucket_scan,
)
from nomenklatura_spark.operators.id_sets import with_ids
from nomenklatura_spark.streaming.pair_log import PairLogIndex
from nomenklatura_spark.streaming.state import run_concurrently

_COUNT_SCHEMA = "band_no int, band_val long, n bigint"


class MediaDedupIndexState(PairLogIndex):
    """Versioned on-disk state: dHash signatures + pair log +
    incrementally-maintained components and band histogram."""

    id_type = "long"
    keyed = {"signatures": "id long, blocks array<int>, dhash string"}
    pair_schema = "lid long, rid long, hamming int"
    score, keep = "hamming", "min"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        max_hamming: int = 6,
        band_bytes: int = 1,
        max_bucket: int = 100_000,
        n_blocks: int = 8,
    ) -> None:
        super().__init__(spark, state_dir)
        self.max_hamming = max_hamming
        self.band_bytes = band_bytes
        self.max_bucket = max_bucket
        self.n_blocks = n_blocks

    def band_counts(self, version: int | None = None) -> DataFrame:
        """(band_no, band_val, n) — the live signatures' band-bucket
        histogram, maintained incrementally (counts change only through
        buckets the batch touches) so each fold's bucket-skew contract
        scan checks batch-side buckets against it instead of
        re-aggregating the state-sized band relation
        (``multimodal/dhash.probe_bucket_scan``)."""
        return self._read("band_counts", _COUNT_SCHEMA, version)

    def validate_buckets(self) -> None:
        """Full-relation re-validation of the bucket-skew bound — the
        repair verb after TIGHTENING ``max_bucket`` over existing state
        (the fold's batch-bounded scan only sees buckets each batch
        touches, so a lowered bound is otherwise checked lazily)."""
        n_bands = self.n_blocks // self.band_bytes
        offenders = full_bucket_scan(
            _banded(self.signatures(), self.band_bytes, n_bands),
            self.max_bucket,
        ).collect()
        _raise_band_offenders(
            offenders, self.n_blocks, self.band_bytes, self.max_bucket
        )

    def apply_batch(
        self,
        assets: DataFrame,
        id_col: str = "asset_id",
        payload_col: str = "payload",
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Fold one micro-batch of media assets into the index; returns
        the near-dup pairs this batch surfaced (within-batch + vs
        state).  The batch is decoded ONCE (localCheckpoint) and only
        signatures touch state; the overlap probe runs beside the
        batch-side histogram delta (§2.6)."""
        if self._replayed(batch_id, scope):
            return self._no_pairs()
        # grid_h derives from n_blocks so the signatures this index
        # builds always match the n_blocks its dhash_pairs calls band —
        # a mismatch would explode to sentinel bands and raise there
        batch_sigs = dhash_signatures(
            assets, id_col=id_col, payload_col=payload_col,
            grid_h=self.n_blocks,
        ).localCheckpoint()
        state_sigs = self.signatures()
        first = self.version() < 0
        batch_counts = band_bucket_counts(
            batch_sigs, self.band_bytes, self.n_blocks
        )

        probe_rows: list = []
        if first:
            # bootstrap: the signature merge is the batch itself, and
            # the batch is already checkpointed
            merged_sigs = batch_sigs
            merged_counts = batch_counts.localCheckpoint()
        else:
            # the delta is built OPTIMISTICALLY without the retraction
            # leg: the steady-state fold has no overlap, so it is final;
            # a re-ingest fold rebuilds it with the touched ids' old
            # bands, read from their own state buckets, retracted
            probe_rows, delta = run_concurrently(
                lambda: self._probe(state_sigs, batch_sigs, "dhash"),
                batch_counts.localCheckpoint,
            )
            if probe_rows:
                touched_state = with_ids(
                    self._read_buckets(
                        "signatures", self.keyed["signatures"],
                        sorted({r[1] for r in probe_rows}),
                    ),
                    sorted(r[0] for r in probe_rows),
                    "id",
                )
                delta = (
                    batch_counts.unionByName(
                        band_bucket_counts(
                            touched_state, self.band_bytes, self.n_blocks
                        ).select(
                            "band_no", "band_val", (-F.col("n")).alias("n")
                        )
                    )
                    .groupBy("band_no", "band_val")
                    .agg(F.sum("n").alias("n"))
                    .localCheckpoint()
                )
            # merge the delta into the maintained histogram: state only
            # flows through semi/anti joins with the BROADCAST delta
            # bucket list, never a full-state groupBy (outer joins
            # can't build their preserved side, hence semi + re-sum)
            prev_counts = self.band_counts()
            delta_keys = F.broadcast(delta.select("band_no", "band_val"))
            updated = (
                prev_counts.join(delta_keys, ["band_no", "band_val"], "semi")
                .unionByName(delta)
                .groupBy("band_no", "band_val")
                .agg(F.sum("n").alias("n"))
                .where(F.col("n") > 0)
            )
            merged_counts = (
                prev_counts.join(delta_keys, ["band_no", "band_val"], "anti")
                .unionByName(updated)
                .localCheckpoint()
            )
            # the banded join's state side, a plan never materialized.
            # An anti-join, not a literal id filter: its exchange gives
            # AQE the runtime size that lets the banded join broadcast
            # (a filter raised this fold's shuffle from 22 to 54 KB on
            # the ingest benchmark)
            merged_sigs = state_sigs.join(
                batch_sigs.select("id").distinct(), "id", "left_anti"
            ).unionByName(batch_sigs)

        # candidates: batch self-pairs + batch vs state — the banded
        # join runs batch bands × merged bands, so state never
        # re-self-joins
        new_pairs = dhash_pairs(
            merged_sigs,
            max_hamming=self.max_hamming,
            band_bytes=self.band_bytes,
            max_bucket=self.max_bucket,
            n_blocks=self.n_blocks,
            probe=batch_sigs,
            band_counts=merged_counts,
        ).localCheckpoint()
        return self._fold(
            {"signatures": batch_sigs}, new_pairs, probe_rows, first,
            {"band_counts": merged_counts}, batch_id, scope,
        )

    def _retract_extra(self, gone: list) -> dict[str, DataFrame]:
        """The histogram minus the deleted assets' band contributions."""
        gone_counts = band_bucket_counts(
            with_ids(self.signatures(), gone, "id"),
            self.band_bytes, self.n_blocks,
        ).localCheckpoint()
        prev_counts = self.band_counts()
        return {
            "band_counts": prev_counts.join(
                F.broadcast(gone_counts.select("band_no", "band_val")),
                ["band_no", "band_val"],
                "left_anti",
            ).unionByName(
                prev_counts.withColumnRenamed("n", "_prev")
                .join(F.broadcast(gone_counts), ["band_no", "band_val"])
                .select(
                    "band_no",
                    "band_val",
                    (F.col("_prev") - F.col("n")).alias("n"),
                )
                .where(F.col("n") > 0)
            )
        }

    def serve_keep_list(self) -> DataFrame:
        """(asset_id, keep) from state alone: one deterministic keeper
        (min asset id) per near-dup component; assets in no component
        (no near-dup found) are not listed — they trivially survive.
        The keep-list is what a training-data materialization anti-joins
        its media table against."""
        comp = self.components()
        return comp.select(
            F.col("node").alias("asset_id"),
            (F.col("node") == F.col("component")).alias("keep"),
        )
