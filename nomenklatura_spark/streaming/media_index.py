"""Incremental media near-dup index — the dHash tier's streaming ingest
path (§2.12 shape, the ``dedup_index`` contract applied to pixels).

A training-data ingest pipeline dedups every incoming batch of
images/audio against everything already ingested, without rescanning
the corpus.  The dHash construction (``multimodal/dhash.py``) is
deterministic (no seed state), so the index is a materialised view
maintained by key:

- ``signatures`` (id, blocks, dhash) are keyed by asset: an upsert
  batch replaces exactly the touched ids (retract + insert), the same
  contract as the text dedup index.  The expensive leg — the
  Arrow-batched DECODE — runs once per asset at ingest, never again.
- A batch's candidates are (batch bands ⋈ state bands) ∪ (batch
  self-pairs) — bounded equi-joins on (band_no, band_val); the state
  side never re-self-joins, so per-batch work is O(batch × collision),
  and the exact popcount-of-XOR filter reads only signature rows.
  Over any batch sequence — INCLUDING re-ingests with changed pixels —
  the live pair log equals a from-scratch ``dhash_pairs`` over the
  union of live signatures (pytest-pinned).  Append-only folds add
  probe-derived pairs (cand(A∪B) = cand(A×A) ∪ cand(A×B) ∪ cand(B×B),
  each term produced by some batch); a changed-content upsert RETRACTS
  the id's stale pairs from the log before the probe re-derives its
  live ones (the probe regenerates every pair with a batch-side
  endpoint, so retract-then-append is exact, and is a no-op for
  unchanged re-ingest).
- ``components`` are maintained INCREMENTALLY: append-only folds
  contract the batch pairs through the previous mapping and relabel it
  (pairs merge, never split; min-id labels compose —
  ``streaming/dedup_index.py`` has the exactness argument).
  A changed-content upsert is the SPLIT case the merge fold cannot
  express — the reference's G10 rule (deleted judgements force a
  rebuild of affected clusters,
  ``/root/reference/nomenklatura/resolver/resolver.py:130-173``)
  applied here: only the components holding a changed id or a new-pair
  endpoint are re-derived from the retracted-and-refreshed log (the
  affected node set is edge-closed, so the bounded rebuild equals a
  from-scratch run — ``apply_batch`` has the argument).
  ``delete`` is the deletion half of the same rule (outright removal;
  post-delete state equals a from-scratch build over the remaining
  assets).  ``serve_keep_list`` answers the training-feed question —
  which asset of each near-dup cluster survives — from state alone
  (keeper = min asset id, deterministic).

Replay-idempotent by construction (upsert-by-asset + distinct-merged
pair log + component fold keyed on signature CHANGE: refolding a batch
finds every signature already in state, so the retraction path stands
down and the regenerated pairs are the logged ones), so the batch guard
only spares a no-op snapshot.
State is versioned parquet snapshots behind the shared VERSION pointer
(crash-safe swap, time travel); on a cluster each relation is a Delta
MERGE and the pairs log an append-only table.  Since r12 the signature
and pair relations are hash-BUCKETED by key and each version is
assembled file-wise (``VersionedState._write_bucketed`` — untouched
buckets hardlink, retraction rewrites only its buckets, new rows
append), so a steady-state append-only fold writes O(batch) bytes
regardless of state size.

Scale shape: ingest cost per batch is one decode pass over the BATCH
(map-only, Arrow-batched) + a signature-sized band join against state
+ a mapping-sized component fold.  The band-bucket skew bound and the
``band_bytes`` widening knob are inherited from ``dhash_pairs``; the
fold's contract scan is BATCH-bounded — a maintained ``band_counts``
histogram (counts change only through buckets the batch touches) is
checked against batch-side buckets via a broadcast semi-join, never a
full-state groupBy (``probe_bucket_scan``; ``validate_buckets`` is the
full-scan repair verb after tightening ``max_bucket``).
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
from nomenklatura_spark.operators.id_sets import (
    local_relation,
    touching_buckets,
    with_ids,
    without_ids,
)
from nomenklatura_spark.streaming.state import (
    Bucketed,
    VersionedState,
    run_concurrently,
)

_SIG_SCHEMA = "id long, blocks array<int>, dhash string"
_PAIR_SCHEMA = "lid long, rid long, hamming int"
_COMP_SCHEMA = "node long, component long"
_COUNT_SCHEMA = "band_no int, band_val long, n bigint"


class MediaDedupIndexState(VersionedState):
    """Versioned on-disk state: dHash signatures + pair log +
    incrementally-maintained components."""

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

    def signatures(self, version: int | None = None) -> DataFrame:
        return self._read_bucketed("signatures", _SIG_SCHEMA, version)

    def pairs(self, version: int | None = None) -> DataFrame:
        return self._read_bucketed("pairs", _PAIR_SCHEMA, version)

    def components(self, version: int | None = None) -> DataFrame:
        return self._read("components", _COMP_SCHEMA, version)

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
        signatures touch state.

        Fold shape (r12): the signature and pair relations are BUCKETED
        (``_write_bucketed``), so the steady-state append-only fold
        writes only the batch's own rows and hardlinks every untouched
        bucket — O(batch) write cost per fold, not O(state) — and the
        merged-signature relation is no longer materialized at all (its
        only consumer is the probe join, which reads the state parquet
        and the batch checkpoint directly).  The overlap probe is one
        collect, run beside the batch-side histogram delta (§2.6)."""
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _PAIR_SCHEMA)
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
            # bootstrap fold (empty state): the anti-join signature
            # merge is the batch itself — and the batch is ALREADY
            # checkpointed; no probe, no retraction leg
            merged_sigs = batch_sigs
            merged_counts = batch_counts.localCheckpoint()
        else:
            # The overlap probe — ONE collect of one row per touched
            # state id: its bucket and whether the batch changed its
            # dhash, so the changed probe, the overlap ids and the
            # rewrite-bucket source — is
            # independent of the batch-side histogram delta: run the
            # two actions concurrently (§2.6).  The delta is built
            # OPTIMISTICALLY without the retraction leg — the
            # steady-state fold has no overlap, so that delta is final;
            # a re-ingest fold rebuilds it with the touched ids' old
            # bands retracted.
            def _overlap_probe() -> list:
                return (
                    state_sigs.join(
                        F.broadcast(
                            batch_sigs.select(
                                "id", F.col("dhash").alias("_new")
                            )
                        ),
                        "id",
                    )
                    .select(
                        "id",
                        self._bucket_of(F.col("id")),
                        ~F.col("dhash").eqNullSafe(F.col("_new")),
                    )
                    .collect()
                )

            probe_rows, delta = run_concurrently(
                _overlap_probe, batch_counts.localCheckpoint
            )
            if probe_rows:
                # retraction leg: counts only change through buckets
                # the batch touches, so the delta stays batch-sized; the
                # touched ids' old signatures are read from their own
                # state buckets only
                touched_state = with_ids(
                    self._read_buckets(
                        "signatures", _SIG_SCHEMA,
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
            # bucket list — never a full-state groupBy (outer joins
            # can't build their preserved side, hence the semi + re-sum
            # shape).  The merged histogram feeds the fold's
            # BATCH-bounded skew scan (probe_bucket_scan) and the
            # snapshot.
            prev_counts = self.band_counts()
            delta_keys = F.broadcast(
                delta.select("band_no", "band_val")
            )
            updated = (
                prev_counts.join(
                    delta_keys, ["band_no", "band_val"], "semi"
                )
                .unionByName(delta)
                .groupBy("band_no", "band_val")
                .agg(F.sum("n").alias("n"))
                .where(F.col("n") > 0)
            )
            merged_counts = (
                prev_counts.join(
                    delta_keys, ["band_no", "band_val"], "left_anti"
                )
                .unionByName(updated)
                .localCheckpoint()
            )
        overlap_ids = sorted(r[0] for r in probe_rows)
        changed_ids = sorted(r[0] for r in probe_rows if r[2])
        if not first:
            # the probe join's state side: a PLAN over the state
            # parquet + the batch checkpoint — never materialized (r12;
            # its only consumer is the one banded join below, and the
            # bucketed writes no longer need the merged relation).  An
            # anti-join, not a literal filter on ``overlap_ids``: its
            # exchange gives AQE the runtime size that lets the banded
            # join broadcast (a filter raised this fold's shuffle from
            # 22 to 54 KB on the ingest benchmark)
            merged_sigs = state_sigs.join(
                batch_sigs.select("id").distinct(), "id", "left_anti"
            ).unionByName(batch_sigs)

        # candidates: batch self-pairs + batch vs state, via the probe
        # mode of dhash_pairs — the banded join runs batch-bands ×
        # merged-bands, so accumulated state never re-self-joins (a
        # state-state pair was emitted by an earlier fold)
        new_pairs = dhash_pairs(
            merged_sigs,
            max_hamming=self.max_hamming,
            band_bytes=self.band_bytes,
            max_bucket=self.max_bucket,
            n_blocks=self.n_blocks,
            probe=batch_sigs,
            band_counts=merged_counts,
        ).localCheckpoint()

        # bucketed write plans (``streaming/dedup_index.py`` has the
        # full argument): an append-only fold appends the batch
        # relations verbatim (a new pair always has a batch-side
        # endpoint not in state, so it cannot collide with a logged
        # pair; dhash_pairs output is (lid, rid)-unique); a re-ingest
        # fold rewrites only the buckets holding retracted rows
        live_pairs = None
        changed = None
        if first or not overlap_ids:
            rb_ids: list[int] | None = None if first else []
            rb_pairs: list[int] | None = None if first else []
            sig_data, pair_data = batch_sigs, new_pairs
        else:
            rb_ids = sorted({r[1] for r in probe_rows})
            sig_data = without_ids(
                self._read_buckets("signatures", _SIG_SCHEMA, rb_ids),
                overlap_ids, ("id",),
            ).unionByName(batch_sigs)
            old_pairs = self.pairs()
            rb_pairs = touching_buckets(
                self._bucket_of, overlap_ids, old_pairs, new_pairs
            )
            # retract every pair touching a changed id; the probe has
            # already re-derived the live ones (every pair with a
            # batch-side endpoint), so retract-then-append is exact
            old_rb = without_ids(
                self._read_buckets("pairs", _PAIR_SCHEMA, rb_pairs),
                changed_ids,
            )
            in_rb = (
                self._bucket_of(F.col("lid")).isin(rb_pairs)
                if rb_pairs
                else F.lit(False)
            )
            pair_data = (
                old_rb.unionByName(new_pairs.where(in_rb))
                .groupBy("lid", "rid")
                .agg(F.min("hamming").alias("hamming"))
                .unionByName(new_pairs.where(~in_rb))
            )
            if changed_ids:
                # the split-case component rebuild reads the FULL live
                # log — a plan over the state parquet + the new-pair
                # checkpoint
                live_pairs = without_ids(old_pairs, changed_ids).unionByName(
                    new_pairs
                )
                changed = local_relation(
                    self.spark, [(i,) for i in changed_ids], "id long"
                )
        from nomenklatura_spark.resolver.components import (
            fold_components_incremental,
        )

        # the data writes are independent of the component fold —
        # ``commit`` runs them beside it (§2.6); the component write
        # chains after its fold in the same worker, so the fold wall is
        # max(writes, CC + comps write), not the sum
        def _fold_comps() -> DataFrame:
            if first:
                # empty previous mapping: the fold IS plain CC over the
                # new pairs
                from nomenklatura_spark.resolver.components import (
                    connected_components,
                )

                return connected_components(
                    new_pairs.select("lid", "rid"), src="lid", dst="rid"
                )
            return fold_components_incremental(
                self.components(),
                new_pairs,
                merged_pairs=live_pairs,
                changed=changed,
            )

        self.commit(
            {
                "signatures": Bucketed(sig_data, "id", rb_ids),
                "pairs": Bucketed(pair_data, "lid", rb_pairs),
                "band_counts": merged_counts,
                "components": _fold_comps,
            },
            batch_id=batch_id,
            scope=scope,
        )
        return new_pairs

    def delete(self, ids: DataFrame) -> None:
        """Remove assets from the index outright — the DELETION half of
        the G10 rule, bounded like the changed-content upsert
        (``streaming/dedup_index.py`` has the full contract): the
        signatures, the band-histogram contributions and every pair
        touching a deleted id are retracted, and only the components
        holding a deleted id are re-derived from the retracted log
        (``fold_components_incremental``'s split case with no new
        pairs) — post-delete state is bit-identical to a from-scratch
        build over the remaining assets (pytest-pinned).  Absent ids
        are ignored (redelivery no-op); an empty id set does not bump
        the version.  ``ids``: one-column DataFrame of asset ids."""
        from nomenklatura_spark.resolver.components import (
            fold_components_incremental,
        )

        gone = sorted(
            r[0]
            for r in ids.select(
                F.col(ids.columns[0]).cast("long").alias("id")
            )
            .distinct()
            .collect()
            if r[0] is not None
        )
        if not gone:
            return
        gone_sigs = with_ids(self.signatures(), gone, "id")
        gone_counts = band_bucket_counts(
            gone_sigs, self.band_bytes, self.n_blocks
        ).localCheckpoint()
        prev_counts = self.band_counts()
        merged_counts = (
            prev_counts.join(
                F.broadcast(gone_counts.select("band_no", "band_val")),
                ["band_no", "band_val"],
                "left_anti",
            )
            .unionByName(
                prev_counts.withColumnRenamed("n", "_prev")
                .join(F.broadcast(gone_counts), ["band_no", "band_val"])
                .select(
                    "band_no",
                    "band_val",
                    (F.col("_prev") - F.col("n")).alias("n"),
                )
                .where(F.col("n") > 0)
            )
        )
        # bucketed retraction: only the buckets holding a deleted id's
        # rows are rewritten; the rest hardlink (``_write_bucketed``)
        rb_ids = touching_buckets(
            self._bucket_of, gone, self.signatures(), cols=("id",), key="id"
        )
        old_pairs = self.pairs()
        rb_pairs = touching_buckets(self._bucket_of, gone, old_pairs)
        sig_data = without_ids(
            self._read_buckets("signatures", _SIG_SCHEMA, rb_ids),
            gone, ("id",),
        )
        pair_data = without_ids(
            self._read_buckets("pairs", _PAIR_SCHEMA, rb_pairs), gone
        )
        # the split-case component rebuild reads the FULL live log
        merged_comps = fold_components_incremental(
            self.components(),
            self.spark.createDataFrame([], _PAIR_SCHEMA).select(
                "lid", "rid"
            ),
            merged_pairs=without_ids(old_pairs, gone),
            changed=local_relation(
                self.spark, [(i,) for i in gone], "id long"
            ),
        )
        self.commit({
            "signatures": Bucketed(sig_data, "id", rb_ids),
            "pairs": Bucketed(pair_data, "lid", rb_pairs),
            "components": merged_comps,
            "band_counts": merged_counts,
        })

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
