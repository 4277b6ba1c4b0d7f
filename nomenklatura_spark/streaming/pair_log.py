"""The pair-log fold shared by the text and media near-dup indexes.

``DedupIndexState`` (MinHash over text, ``streaming/dedup_index.py``) and
``MediaDedupIndexState`` (dHash over pixels, ``streaming/media_index.py``)
keep the same state and fold it the same way; they differ only in how a
batch's signatures are built and which pairs they surface
(``new_pairs``).  ``PairLogIndex`` is everything else: the relation
readers, the overlap probe, the bucketed write plan, pair-log retraction
and merge, the component fold, the commit and ``delete``.

State, versioned behind the one VERSION pointer (``streaming/state.py``):
keyed relations (``signatures``, and the text index's ``bands``) hold
rows by id, hash-bucketed by id, so an upsert batch replaces exactly
the ids it carries (retract + insert); ``pairs`` (lid, rid, score) is
the near-dup log, bucketed by lid; ``components`` (node, component)
labels each component by its min node id.

Fold contract: over any sequence of batches and ``delete`` calls,
re-ingests with changed content included, the live pair log equals a
from-scratch run over the live items and the components equal
``connected_components`` over that log (pytest-pinned for both indexes).

- Pairs.  cand(A ∪ B) = cand(A×A) ∪ cand(A×B) ∪ cand(B×B), and each
  fold's ``new_pairs`` holds every live pair with a batch-side
  endpoint, so every term comes from some batch and state never
  self-joins again.  A re-ingest whose signature CHANGED retracts every
  logged pair touching the id before the new pairs append; an unchanged
  re-ingest (or a replayed batch) re-derives its logged pairs, so
  retraction stands down and the merge keeps one row per pair (``keep``
  of the two ``score``s).
- Merge case (no signature changed): pairs only append, so components
  only merge.  ``fold_components_incremental`` contracts the new pairs
  through the previous mapping and relabels it.  A label is the min id
  of its component and a member of it, so the contracted graph connects
  exactly what log ∪ new connects, and the min over a merged group's
  labels is the min over all its members.
- Split case (a changed signature, or ``delete``): retraction can split
  components — the reference's G10 rule, a deleted positive forces a
  rebuild of the affected clusters
  (``nomenklatura/resolver/resolver.py:130-173``).  Only the components
  holding a changed id or a new-pair endpoint are re-derived from the
  live log.  That node set is edge-closed (a kept pair's endpoints
  shared an old component), so CC of the live log is CC inside it plus
  the untouched mapping outside it.

Both cases run on the driver while the batch-sized graph is under
``DRIVER_CC_MAX_EDGES`` edges, as the distributed star contraction
above it.  Writes are copy-on-write (``VersionedState._write_bucketed``):
a steady-state fold re-ingests no id, so nothing is retracted, no new
pair can collide with a logged one (it has an endpoint new to state),
and the batch rows append while every old bucket hardlinks — O(batch)
bytes.  A re-ingest rewrites only the buckets of the re-ingested ids
and, in the log, the lid-buckets of the old and new pairs touching
them.  On a cluster each relation is a Delta ``MERGE``.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.operators.id_sets import (
    local_relation,
    touching_buckets,
    without_ids,
)
from nomenklatura_spark.resolver.components import (
    connected_components,
    fold_components_incremental,
)
from nomenklatura_spark.streaming.state import Bucketed, VersionedState


class PairLogIndex(VersionedState):
    """Keyed relations + pair log + components; a subclass sets the
    constants below and builds each batch's signatures and pairs."""

    id_type: str  # "string" or "long"
    keyed: dict[str, str]  # by-id bucketed relation -> its schema
    pair_schema: str
    score: str  # the pair log's score column ...
    keep: str  # ... and the aggregate ("max" / "min") that merges two

    def signatures(self, version: int | None = None) -> DataFrame:
        return self._read_bucketed(
            "signatures", self.keyed["signatures"], version
        )

    def pairs(self, version: int | None = None) -> DataFrame:
        return self._read_bucketed("pairs", self.pair_schema, version)

    def components(self, version: int | None = None) -> DataFrame:
        """(node, component) over the live pair log, maintained
        incrementally (module docstring) — component = min node id."""
        t = self.id_type
        return self._read("components", f"node {t}, component {t}", version)

    def _no_pairs(self) -> DataFrame:
        return self.spark.createDataFrame([], self.pair_schema)

    def _id_relation(self, ids: list) -> DataFrame:
        return local_relation(
            self.spark, [(i,) for i in ids], f"id {self.id_type}"
        )

    def _retracted(self, rel: str, buckets: list[int], ids: list) -> DataFrame:
        """Keyed relation ``rel``'s rows in ``buckets`` minus ``ids``."""
        return without_ids(
            self._read_buckets(rel, self.keyed[rel], buckets), ids, ("id",)
        )

    def _probe(
        self,
        state_sigs: DataFrame,
        batch_sigs: DataFrame,
        value: str,
        keys: tuple[str, ...] = ("id",),
    ) -> list:
        """One collect of one row per state id the batch re-ingests —
        none in the steady-state fold: (id, its bucket, whether its
        ``value`` moved).  State rows join the broadcast batch on
        ``keys``; a signature of several rows per id (``keys`` longer
        than ``("id",)``) has moved if any row did.  The rows name the
        overlap, the changed ids and the buckets to rewrite."""
        batch = batch_sigs.select(*keys, F.col(value).alias("_new"))
        rows = state_sigs.join(F.broadcast(batch), list(keys))
        moved = ~F.col(value).eqNullSafe(F.col("_new"))
        if len(keys) > 1:
            rows = rows.groupBy("id").agg(F.max(moved).alias("_moved"))
            moved = F.col("_moved")
        return rows.select("id", self._bucket_of(F.col("id")), moved).collect()

    def _fold(
        self,
        batch_relations: Mapping[str, DataFrame],
        new_pairs: DataFrame,
        probe_rows: list,
        first: bool,
        extra_writes: Mapping[str, DataFrame] | None = None,
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        """Commit one batch: its keyed relations, ``new_pairs`` (the
        batch's pairs, (lid, rid)-unique and checkpointed), the
        ``_probe`` rows and any ``extra_writes``; returns ``new_pairs``.
        ``first``: the state is empty, so nothing is carried over."""
        overlap_ids = sorted(r[0] for r in probe_rows)
        changed_ids = sorted(r[0] for r in probe_rows if r[2])
        live_pairs = changed = None
        if first or not overlap_ids:
            # bootstrap or the steady-state append-only fold: append the
            # batch relations verbatim (None = write all, [] = carry all)
            rb_ids = rb_pairs = None if first else []
            data = dict(batch_relations)
            pair_data = new_pairs
        else:
            # re-ingest: rewrite only the buckets holding retracted rows
            rb_ids = sorted({r[1] for r in probe_rows})
            data = {
                rel: self._retracted(rel, rb_ids, overlap_ids).unionByName(df)
                for rel, df in batch_relations.items()
            }
            old_pairs = self.pairs()
            rb_pairs = touching_buckets(
                self._bucket_of, overlap_ids, old_pairs, new_pairs
            )
            old_rb = without_ids(
                self._read_buckets("pairs", self.pair_schema, rb_pairs),
                changed_ids,
            )
            in_rb = F.lit(False)
            if rb_pairs:
                in_rb = self._bucket_of(F.col("lid")).isin(rb_pairs)
            pair_data = (
                old_rb.unionByName(new_pairs.where(in_rb))
                .groupBy("lid", "rid")
                .agg(getattr(F, self.keep)(self.score).alias(self.score))
                .unionByName(new_pairs.where(~in_rb))
            )
            if changed_ids:
                # the split case re-derives from the FULL live log
                live_pairs = without_ids(old_pairs, changed_ids).unionByName(
                    new_pairs
                )
                changed = self._id_relation(changed_ids)

        # ``commit`` runs the component fold beside the data writes
        def _fold_comps() -> DataFrame:
            if first:
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
                **{r: Bucketed(df, "id", rb_ids) for r, df in data.items()},
                "pairs": Bucketed(pair_data, "lid", rb_pairs),
                **(extra_writes or {}),
                "components": _fold_comps,
            },
            batch_id=batch_id,
            scope=scope,
        )
        return new_pairs

    def _retract_extra(self, gone: list) -> dict[str, DataFrame]:
        """Writes besides the keyed relations, the log and the
        components that deleting ``gone`` needs; runs first."""
        return {}

    def delete(self, ids: DataFrame) -> None:
        """Remove items outright — the deletion half of the G10 rule
        (module docstring): their keyed rows and every pair touching
        them are retracted, and only the components that held them are
        re-derived from the retracted log, so the state equals a
        from-scratch build over the remaining items (pytest-pinned).
        Absent ids are ignored, so a redelivered delete changes no
        relation; an EMPTY id set does not bump the version.  ``ids``:
        a one-column DataFrame of item ids."""
        gone = sorted(
            r[0]
            for r in ids.select(
                F.col(ids.columns[0]).cast(self.id_type).alias("id")
            )
            .distinct()
            .collect()
            if r[0] is not None
        )
        if not gone:
            return
        extra = self._retract_extra(gone)
        rb_ids = touching_buckets(
            self._bucket_of, gone, self.signatures(), cols=("id",), key="id"
        )
        old_pairs = self.pairs()
        rb_pairs = touching_buckets(self._bucket_of, gone, old_pairs)
        writes = {
            rel: Bucketed(self._retracted(rel, rb_ids, gone), "id", rb_ids)
            for rel in self.keyed
        }
        pair_data = without_ids(
            self._read_buckets("pairs", self.pair_schema, rb_pairs), gone
        )
        comps = fold_components_incremental(
            self.components(),
            self._no_pairs().select("lid", "rid"),
            merged_pairs=without_ids(old_pairs, gone),
            changed=self._id_relation(gone),
        )
        self.commit({
            **writes,
            "pairs": Bucketed(pair_data, "lid", rb_pairs),
            **extra,
            "components": comps,
        })
