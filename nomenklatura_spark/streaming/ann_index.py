"""Incremental vector-index maintenance (ANN tier of SURVEY §2.12).

The batch ANN operators (``ann/ivf.py``, ``ann/pq.py``) train a
codebook and assign the whole corpus per run; at stream scale the
codebook is the stable part (it drifts on the timescale of the data
distribution, not of a micro-batch) and assignment is the per-batch
part.  So the maintained state is the inverted file:

- ``cells/v<N>`` — (centroid, id, vec) parquet, PARTITIONED BY the
  cell, same layout ``ann.pq.write_ivfpq_index`` serves from.
- ``codebook/v<N>`` — the frozen coarse codebook the batches assign
  against (a rebuild with a fresh codebook is a new ``bootstrap``).

A micro-batch of vector upserts is a *stateless map*: normalize, argmax
against the broadcast codebook, then merge by id (retract + insert for
touched ids — the same upsert contract as the blocking index).  No
aggregation state, no shuffle that grows with the corpus: per-batch
cost is O(|batch| · K) dot products plus the id-merge.

Drift policy (documented, caller-driven): monitor ``cell_sizes()``; when
max/median cell occupancy exceeds the skew bound, retrain offline
(deterministic ``train_centroids`` on the current corpus — reproducible)
and ``bootstrap`` a fresh state.  The versioned-snapshot discipline
(VERSION pointer swap, crash-safe, time travel) matches
``streaming/index.py``; on a cluster the same per-cell merge is a Delta
``MERGE INTO`` with the cell partition pruning the rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.ann.ivf import ivf_assign, train_centroids
from nomenklatura_spark.streaming.state import VersionedState

_CELLS_SCHEMA = "centroid int, id bigint, vec array<double>"


class VectorIndexState(VersionedState):
    """Versioned on-disk state for the incrementally-maintained IVF."""

    # --- reads -------------------------------------------------------------

    def cells(self, version: int | None = None) -> DataFrame:
        return self._read("cells", _CELLS_SCHEMA, version)

    def codebook(self, version: int | None = None) -> DataFrame:
        v = self.version() if version is None else version
        if v < 0:
            raise ValueError(
                "vector index has no codebook yet — bootstrap() it first"
            )
        return self.spark.read.parquet(self._path("codebook", v))

    def cell_sizes(self) -> DataFrame:
        """(centroid, n) occupancy — the drift monitor's input."""
        return self.cells().groupBy("centroid").agg(F.count("*").alias("n"))

    # --- writes ------------------------------------------------------------

    def _write(
        self,
        cells: DataFrame,
        codebook: DataFrame,
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        # one task, in order: bootstrap's cells write caches the
        # persisted codebook that the codebook write then reuses (see
        # BlockingIndexState._write)
        def _write_in_order(nv: int) -> None:
            cells.write.mode("overwrite").partitionBy("centroid").parquet(
                self._path("cells", nv)
            )
            codebook.write.mode("overwrite").parquet(
                self._path("codebook", nv)
            )

        self.commit({}, (_write_in_order,), batch_id=batch_id, scope=scope)

    def bootstrap(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
        n_iter: int = 2,
        codebook: DataFrame | None = None,
    ) -> None:
        """Full build: train (or accept) a codebook, assign the corpus."""
        if codebook is None:
            codebook = train_centroids(
                corpus, id_col, vec_col, n_centroids=n_centroids, n_iter=n_iter
            )
        codebook = codebook.persist()
        self._write(
            ivf_assign(corpus, codebook, id_col, vec_col), codebook
        )
        codebook.unpersist()

    def apply_batch(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        """Fold one upsert batch in: assign against the FROZEN codebook
        (stateless broadcast argmax), replace touched ids."""
        if self._replayed(batch_id, scope):
            return
        assigned = ivf_assign(
            vectors, F.broadcast(self.codebook()), id_col, vec_col
        ).persist()
        touched = assigned.select("id").distinct()
        kept = self.cells().join(touched, "id", "left_anti")
        self._write(
            kept.unionByName(assigned), self.codebook(), batch_id, scope
        )
        assigned.unpersist()

    def retract(self, ids: DataFrame) -> None:
        """Remove vectors (one ``id`` column) from the index."""
        kept = self.cells().join(ids.select("id").distinct(), "id", "left_anti")
        self._write(kept, self.codebook())
