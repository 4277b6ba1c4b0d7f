"""Incremental MinHash-LSH dedup index (training-data tier of §2.12).

Batch MinHash dedup (``dedup/minhash.py``) rescans the corpus per run; a
training-data ingest pipeline instead wants every incoming micro-batch
checked against everything already ingested.  Because the signature
construction is deterministic (md5-derived hash family — no seed state),
the index is a materialised view maintained by key:

- ``signatures`` (id, seed, minhash) and ``bands`` (id, band, band_key)
  are keyed by document: an upsert batch replaces exactly the touched
  ids (retract + insert), the same contract as the blocking index
  (``streaming/index.py``).
- A batch's candidates are (batch bands ⋈ state bands) ∪ (batch
  self-join) — both bounded equi-joins on (band, band_key); the state
  side never self-joins again, so per-batch work is O(batch × collision)
  not O(corpus²).  Cross-batch estimated jaccard reads only the
  signature rows of collided ids.
- Emitted pairs accumulate in a ``pairs`` log that is append-only for
  new ids — over any sequence of batches, INCLUDING re-ingests with
  changed text, the live log equals the from-scratch
  ``minhash_dedup_pairs`` over the union of live documents
  (pytest-pinned): candidates(A∪B) = cand(A×A) ∪ cand(A×B) ∪ cand(B×B)
  and each term is produced by some batch; a changed-content upsert
  RETRACTS the id's stale pairs before the batch join re-derives its
  live ones (the cross join regenerates every pair with a batch-side
  endpoint, so retract-then-append is exact and a no-op for unchanged
  re-ingest).
- ``components`` is maintained INCREMENTALLY
  (``resolver/components.fold_components_incremental``): an append-only
  fold can only MERGE components.  The batch's new pairs are
  contracted through the previous mapping (endpoint → its old
  component; unseen endpoints ride as themselves), components are
  computed over that batch-sized quotient graph alone, and the
  previous mapping is relabeled through the components whose label
  changed — O(batch) component work plus one map-side pass over the
  mapping; the corpus is never rescanned.  Exactness: a component
  label is the MIN node id of its members and a node of its own
  component, so the quotient graph connects exactly what log ∪ new
  connects and the min over a merged group's labels equals the min
  over all its members — the maintained labels are bit-identical to a
  from-scratch run (pytest-pinned).  A changed-content upsert is the
  SPLIT case the merge fold cannot express — the reference's G10 rule
  (deleted positives force a rebuild of affected clusters,
  ``/root/reference/nomenklatura/resolver/resolver.py:130-173``):
  only the components holding a changed id or a new-pair endpoint are
  re-derived from the retracted-and-refreshed log (the affected node
  set is edge-closed; the helper's docstring has the argument).  Both
  cases run on the driver (one bounded collect, a union-find) while
  the batch-sized graph is under ``DRIVER_CC_MAX_EDGES``, and as the
  distributed star contraction above it.
  Replay-idempotent: refolding the same batch finds every signature
  already in state, so retraction stands down and the merge fold adds
  edges already implied.  ``delete`` is the deletion half of the same
  rule: outright removal retracts signatures + pairs and re-derives
  only the affected components — post-delete state equals a
  from-scratch build over the remaining documents.
- ``serve_positive_pairs`` answers the contrastive positive feed
  (``textops/contrastive.build_positive_pairs``) from the maintained
  components alone — the training-data serving verb, like the funnel
  and retention tiers serve their dashboards from state.

State is versioned parquet snapshots with a VERSION pointer (crash-safe
swap, time travel) exactly like ``BlockingIndexState``; on a cluster the
merge is a Delta ``MERGE INTO`` per relation and the pairs log is an
append-only table.  Since r12 the big relations (signatures, bands,
pairs) are hash-BUCKETED by key and each version is assembled file-wise
(``VersionedState._write_bucketed`` — untouched buckets hardlink from
the previous version, retraction rewrites only the buckets holding the
retracted keys, new rows append), so a steady-state append-only fold
writes O(batch) bytes regardless of state size — the local analog of
Delta MERGE's copy-on-write file reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from nomenklatura_spark.dedup.minhash import minhash_similarity
from nomenklatura_spark.operators.id_sets import (
    local_relation,
    touching_buckets,
    without_ids,
)
from nomenklatura_spark.streaming.state import (
    Bucketed,
    VersionedState,
    run_concurrently,
)

_SIG_SCHEMA = "id string, seed int, minhash long"
_BAND_SCHEMA = "id string, band int, band_key string"
_PAIR_SCHEMA = "lid string, rid string, est_jaccard double"
_COMP_SCHEMA = "node string, component string"


def _bands_of(signatures: DataFrame, band_size: int) -> DataFrame:
    """The batch path's banding, verbatim (one construction — ADVICE
    r11): ``dedup/minhash.banded_signatures``."""
    from nomenklatura_spark.dedup.minhash import banded_signatures

    return banded_signatures(signatures, band_size)


class DedupIndexState(VersionedState):
    """Versioned on-disk state: signatures + bands + pairs log."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        k: int = 3,
        mode: str = "word",
        n_hashes: int = 32,
        band_size: int = 4,
        threshold: float = 0.5,
    ) -> None:
        super().__init__(spark, state_dir)
        self.k, self.mode = k, mode
        self.n_hashes, self.band_size = n_hashes, band_size
        self.threshold = threshold

    def signatures(self, version: int | None = None) -> DataFrame:
        return self._read_bucketed("signatures", _SIG_SCHEMA, version)

    def bands(self, version: int | None = None) -> DataFrame:
        return self._read_bucketed("bands", _BAND_SCHEMA, version)

    def pairs(self, version: int | None = None) -> DataFrame:
        return self._read_bucketed("pairs", _PAIR_SCHEMA, version)

    def components(self, version: int | None = None) -> DataFrame:
        """(node, component) over the accumulated pair log, maintained
        incrementally (module docstring) — component = min node id."""
        return self._read("components", _COMP_SCHEMA, version)

    def serve_positive_pairs(self, k: int = 3, **kwargs) -> DataFrame:
        """Contrastive positives from the maintained components alone
        (no rescan): up to ``k`` md5-ranked positives per anchor from
        its near-dup component — ``build_positive_pairs`` semantics
        including its executable giant-component bound."""
        from nomenklatura_spark.textops.contrastive import (
            build_positive_pairs,
        )

        return build_positive_pairs(
            self.components(), k=k, id_col="node", comp_col="component",
            **kwargs,
        )

    def apply_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Fold one micro-batch of documents into the index; returns the
        near-dup pairs this batch surfaced (within-batch + vs state).

        Fold shape (r11/r12 optimizations — value-identical, pinned by
        the incremental-equals-scratch tests): the batch band relation
        is checkpointed ONCE and read by the within-join, the
        cross-join and the bands snapshot write; independent driver
        actions overlap on a small thread pool (guide §2.6 back-fill);
        and the state relations are BUCKETED (``_write_bucketed``) so a
        steady-state append-only fold writes only the batch's own rows
        and hardlinks every untouched bucket from the previous version
        — per-fold write cost is O(batch), not O(state) (guide §6; the
        local analog of Delta MERGE's copy-on-write).  Only a fold that
        retracts rows (changed-content / unchanged re-ingest) rewrites
        buckets, and only the buckets holding the retracted keys."""
        from nomenklatura_spark.dedup.minhash import minhash_signatures

        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _PAIR_SCHEMA)

        batch_sigs = minhash_signatures(
            docs, id_col, text_col, self.k, self.mode, self.n_hashes
        ).select(F.col("id").cast("string").alias("id"), "seed", "minhash")
        batch_sigs = batch_sigs.localCheckpoint()

        state_sigs = self.signatures()
        state_bands = self.bands()
        # split case (module docstring): ids re-ingested with a CHANGED
        # signature must retract their stale pairs; unchanged re-ingest
        # re-derives identical pairs so retraction stands down.  The
        # first fold skips the machinery (version pointer read is free;
        # nothing to retract against); later folds run the probe UNDER
        # the band materialization (the two are independent — §2.6).
        # The probe is ONE collect of one row per overlap id — the state
        # ids the batch re-ingests, none in the steady-state append-only
        # fold: each state signature row joins the batch row of the same
        # (id, seed), and the rows of one id fold into its bucket and
        # whether any minhash moved (every signature holds all
        # ``n_hashes`` seeds, so an id is changed iff one of its rows
        # moved).  The rows witness overlap, name the changed ids and
        # the buckets the bucketed writes must rewrite.
        first = self.version() < 0

        def _probe() -> list:
            if first:
                return []
            batch_side = batch_sigs.select(
                "id", "seed", F.col("minhash").alias("_new")
            )
            return (
                state_sigs.join(F.broadcast(batch_side), ["id", "seed"])
                .groupBy("id")
                .agg(F.max(F.col("minhash") != F.col("_new")).alias("_moved"))
                .select("id", self._bucket_of(F.col("id")), "_moved")
                .collect()
            )

        bands_plan = _bands_of(batch_sigs, self.band_size)
        batch_bands, probe_rows = run_concurrently(
            bands_plan.localCheckpoint, _probe
        )
        overlap_ids = sorted(r[0] for r in probe_rows)
        changed_ids = sorted(r[0] for r in probe_rows if r[2])

        # within-batch candidates: lsh_candidate_pairs over the one
        # checkpointed band pass (ADVICE r11: the batch path's own
        # candidate construction, not an inline copy that could drift)
        from nomenklatura_spark.dedup.minhash import lsh_candidate_pairs

        within = lsh_candidate_pairs(None, bands=batch_bands)
        if first:
            # bootstrap fold (empty state): the cross join against the
            # empty state bands, the anti-join signature merge and the
            # pair-log union below are all identities — candidates are
            # the within-batch pairs alone and the signature relation is
            # the batch itself, keeping the first fold's plans free of
            # dead empty-side subtrees (the measured fold-1 anomaly)
            all_sigs = batch_sigs
            cands = within
        else:
            # cross candidates: batch vs LIVE state bands (state never
            # re-self-joins).  The anti-join drops the band rows of
            # re-ingested ids, so a STALE band can never nominate a
            # pair a from-scratch LSH run would not candidate (r11
            # verdict #3) — touched ids' live bands are on the batch
            # side of the within-join already.
            cross = (
                batch_bands.select(
                    F.col("id").alias("lid"), "band", "band_key"
                )
                .join(
                    without_ids(state_bands, overlap_ids, ("id",)).select(
                        F.col("id").alias("rid"), "band", "band_key"
                    ),
                    ["band", "band_key"],
                )
                .select(
                    F.least("lid", "rid").alias("lid"),
                    F.greatest("lid", "rid").alias("rid"),
                )
                .distinct()
            )
            all_sigs = without_ids(
                state_sigs, overlap_ids, ("id",)
            ).unionByName(batch_sigs)
            cands = within.unionByName(cross).distinct()
        new_pairs = (
            minhash_similarity(all_sigs, cands)
            .where(F.col("est_jaccard") >= self.threshold)
            .localCheckpoint()
        )

        # upsert-by-document + pair-log refresh, then swap the pointer.
        # Bucketed write plans: ``*_data`` is what the fold actually
        # writes, ``rb_*`` the buckets it rewrites (None = write all /
        # carry nothing, [] = pure append — every old bucket hardlinks).
        live_pairs = None
        changed = None
        if first or not overlap_ids:
            # bootstrap, or the steady-state append-only fold: no state
            # row is retracted, and a new pair always has a batch-side
            # endpoint that was not in state, so it cannot collide with
            # a logged pair — appending the batch relations verbatim is
            # exactly the anti-join-merge (new_pairs is (lid,rid)-unique
            # by the similarity groupBy)
            rb_ids: list[int] | None = None if first else []
            rb_pairs: list[int] | None = None if first else []
            sig_data, band_data, pair_data = (
                batch_sigs, batch_bands, new_pairs,
            )
        else:
            # re-ingest fold: rewrite ONLY the buckets holding retracted
            # rows.  For the by-id relations those are the buckets of
            # the overlapping ids; for the pair log, the lid-buckets of
            # any pair (old or new) touching an overlapping id — an
            # old/new collision or a retraction can only involve those.
            rb_ids = sorted({r[1] for r in probe_rows})
            sig_data = without_ids(
                self._read_buckets("signatures", _SIG_SCHEMA, rb_ids),
                overlap_ids, ("id",),
            ).unionByName(batch_sigs)
            band_data = without_ids(
                self._read_buckets("bands", _BAND_SCHEMA, rb_ids),
                overlap_ids, ("id",),
            ).unionByName(batch_bands)
            old_pairs = self.pairs()
            rb_pairs = touching_buckets(
                self._bucket_of, overlap_ids, old_pairs, new_pairs
            )
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
                .agg(F.max("est_jaccard").alias("est_jaccard"))
                .unionByName(new_pairs.where(~in_rb))
            )
            if changed_ids:
                # retract every pair touching a changed id (above: the
                # changed ids overlap by definition, so all their pairs
                # live in rewrite buckets); the batch join has already
                # re-derived the live ones (every pair with a batch-side
                # endpoint), so retract-then-append is exact.  The
                # split-case component rebuild reads the FULL live log
                # (every bucket, post-retraction) — a plan over the
                # materialized state parquet + the new-pair checkpoint
                live_pairs = without_ids(old_pairs, changed_ids).unionByName(
                    new_pairs
                )
                changed = local_relation(
                    self.spark, [(i,) for i in changed_ids], "id string"
                )
        # incremental component fold: contraction merge, or the bounded
        # G10 split-case rebuild when signatures changed (module
        # docstring has both exactness arguments)
        from nomenklatura_spark.resolver.components import (
            fold_components_incremental,
        )

        # the three bucketed data writes are independent of the
        # component fold — ``commit`` runs them beside it (§2.6); the
        # component write chains after its fold inside the same worker,
        # so the fold wall is max(writes, CC + comps write), not the sum
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
                "bands": Bucketed(band_data, "id", rb_ids),
                "pairs": Bucketed(pair_data, "lid", rb_pairs),
                "components": _fold_comps,
            },
            batch_id=batch_id,
            scope=scope,
        )
        return new_pairs

    def delete(self, ids: DataFrame) -> None:
        """Remove documents from the index outright — the DELETION half
        of the reference's G10 rule (a deleted positive judgement
        forces a rebuild of the affected clusters,
        ``/root/reference/nomenklatura/resolver/resolver.py:130-173``),
        bounded the same way as the changed-content upsert: signatures,
        bands and every pair touching a deleted id are retracted, and
        ONLY the components that held a deleted id are re-derived from
        the retracted log (the affected set is edge-closed —
        ``fold_components_incremental``'s split case with no new
        pairs), so post-delete state is bit-identical to a from-scratch
        build over the remaining documents (pytest-pinned).  Ids absent
        from the index are ignored, so a redelivered delete is a no-op;
        an EMPTY id set does not bump the version.  ``ids``: one-column
        DataFrame of document ids."""
        from nomenklatura_spark.resolver.components import (
            fold_components_incremental,
        )

        gone = sorted(
            r[0]
            for r in ids.select(
                F.col(ids.columns[0]).cast("string").alias("id")
            )
            .distinct()
            .collect()
            if r[0] is not None
        )
        if not gone:
            return
        # bucketed retraction: only the buckets holding a deleted id's
        # rows are rewritten (partition-pruned read of just those);
        # every other bucket hardlinks from v{N-1} (``_write_bucketed``)
        rb_ids = touching_buckets(
            self._bucket_of, gone, self.signatures(), cols=("id",), key="id"
        )
        old_pairs = self.pairs()
        rb_pairs = touching_buckets(self._bucket_of, gone, old_pairs)
        sig_data = without_ids(
            self._read_buckets("signatures", _SIG_SCHEMA, rb_ids),
            gone, ("id",),
        )
        band_data = without_ids(
            self._read_buckets("bands", _BAND_SCHEMA, rb_ids), gone, ("id",)
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
                self.spark, [(i,) for i in gone], "id string"
            ),
        )
        self.commit({
            "signatures": Bucketed(sig_data, "id", rb_ids),
            "bands": Bucketed(band_data, "id", rb_ids),
            "pairs": Bucketed(pair_data, "lid", rb_pairs),
            "components": merged_comps,
        })
