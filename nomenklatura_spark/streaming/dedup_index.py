"""Incremental MinHash-LSH dedup index (training-data tier of §2.12).

Batch MinHash dedup (``dedup/minhash.py``) rescans the corpus per run; a
training-data ingest pipeline instead wants every incoming micro-batch
checked against everything already ingested.  The signature
construction is deterministic (md5-derived hash family, no seed state),
so the index is a materialised view maintained by key, folded by the
shared pair-log core (``streaming/pair_log.py`` has the fold contract
and its exactness arguments).  What is particular to text:

- keyed relations ``signatures`` (id, seed, minhash) and ``bands`` (id,
  band, band_key), the batch path's banding (``banded_signatures``).
- A batch's candidates are (batch bands ⋈ live state bands) ∪ (batch
  self-join), both bounded equi-joins on (band, band_key), so per-batch
  work is O(batch × collision), not O(corpus²).  The state side drops
  the band rows of re-ingested ids, so a STALE band never nominates a
  pair a from-scratch LSH run would not candidate.  Estimated jaccard
  reads only the signature rows of collided ids.
- ``serve_positive_pairs`` answers the contrastive positive feed
  (``textops/contrastive.build_positive_pairs``) from the maintained
  components alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from nomenklatura_spark.dedup.minhash import (
    banded_signatures,
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_similarity,
)
from nomenklatura_spark.operators.id_sets import without_ids
from nomenklatura_spark.streaming.pair_log import PairLogIndex
from nomenklatura_spark.streaming.state import run_concurrently


class DedupIndexState(PairLogIndex):
    """Versioned on-disk state: signatures + bands + pairs log."""

    id_type = "string"
    keyed = {
        "signatures": "id string, seed int, minhash long",
        "bands": "id string, band int, band_key string",
    }
    pair_schema = "lid string, rid string, est_jaccard double"
    score, keep = "est_jaccard", "max"

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

    def bands(self, version: int | None = None) -> DataFrame:
        return self._read_bucketed("bands", self.keyed["bands"], version)

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
        The batch signatures and bands are checkpointed once each and
        read by every leg; the band checkpoint runs beside the overlap
        probe (§2.6)."""
        if self._replayed(batch_id, scope):
            return self._no_pairs()

        batch_sigs = minhash_signatures(
            docs, id_col, text_col, self.k, self.mode, self.n_hashes
        ).select(
            F.col("id").cast("string").alias("id"), "seed", "minhash"
        ).localCheckpoint()
        state_sigs = self.signatures()
        state_bands = self.bands()
        first = self.version() < 0
        # every signature holds all ``n_hashes`` seeds, so an id moved
        # iff one of its (id, seed) rows did
        batch_bands, probe_rows = run_concurrently(
            banded_signatures(batch_sigs, self.band_size).localCheckpoint,
            lambda: [] if first else self._probe(
                state_sigs, batch_sigs, "minhash", ("id", "seed")
            ),
        )
        overlap_ids = sorted(r[0] for r in probe_rows)

        within = lsh_candidate_pairs(None, bands=batch_bands)
        if first:
            # bootstrap: the cross join against empty state and the
            # signature merge are identities, kept out of the plans
            all_sigs, cands = batch_sigs, within
        else:
            # batch vs LIVE state bands (the re-ingested ids' live bands
            # are on the batch side of the within-join already)
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
        return self._fold(
            {"signatures": batch_sigs, "bands": batch_bands},
            new_pairs, probe_rows, first, batch_id=batch_id, scope=scope,
        )
