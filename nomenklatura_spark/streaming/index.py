"""Incremental blocking-index maintenance (SURVEY §2.12).

The reference rebuilds its DuckDB blocking index from scratch per xref
run (``blocker/index.py:209-230``); its only incrementality is the
resolver's timestamp replay (G10).  At 100 TB, rebuilding the index per
batch re-tokenizes the world — instead the index is a materialised view
maintained algebraically:

- ``entries`` (T2) is keyed by entity: an upsert batch carrying the full
  current statements of each touched entity replaces exactly that
  entity's rows (retract old, insert new) — the same upsert-by-entity
  contract as ``Store.update`` (G11, ``store/base.py:46-52``).
- ``token_schema_counts`` (A1) is a distributive aggregate (count/sum),
  so it folds deltas in without touching unaffected tokens:
  ``tsc' = tsc ⊕ agg(inserted) ⊖ agg(retracted)`` — a full-outer merge
  on (token, schema) with summed df/freq, dropping keys whose df hits 0.
- Everything downstream (pair costs, stopwords, IDF weights — A2–A5)
  derives from ``tsc``, which is token-level and orders of magnitude
  smaller than ``entries``; recomputing it per batch is the cheap part.

State lives as versioned parquet snapshots (``<state>/entries/v<N>``)
with a VERSION pointer — reads pin a version, writes create ``v+1`` and
bump the pointer, so a batch never reads its own output and crashed
batches leave the previous version intact.  Each version is a full
snapshot (S6-style time travel for free).  On a cluster the same merge
is one Delta ``MERGE INTO`` per relation (touched keys only, no full
rewrite); parquet snapshots keep this container dependency-free — the
delta computation itself is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.functions.tokenize import tokenize_statements
from nomenklatura_spark.operators.blocker import token_entries, token_schema_counts
from nomenklatura_spark.streaming.state import VersionedState

_ENTRIES_SCHEMA = (
    "schema string, id string, field string, token string, count int"
)
_TSC_SCHEMA = "token string, schema string, field string, df bigint, freq bigint"


class BlockingIndexState(VersionedState):
    """Versioned on-disk state for the incrementally-maintained index."""

    # --- reads -------------------------------------------------------------

    def entries(self, version: int | None = None) -> DataFrame:
        return self._read("entries", _ENTRIES_SCHEMA, version)

    def tsc(self, version: int | None = None) -> DataFrame:
        return self._read("tsc", _TSC_SCHEMA, version)

    # --- writes ------------------------------------------------------------

    def _write(
        self,
        entries: DataFrame,
        tsc: DataFrame,
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        tsc = tsc.select(
            "token", "schema", "field",
            F.col("df").cast("bigint").alias("df"),
            F.col("freq").cast("bigint").alias("freq"),
        )

        # one task, in order: the tsc write reuses the batch entries
        # that the entries write caches; side by side, both writes
        # would materialize the cache (measured: 16 -> 19 fold jobs)
        def _write_in_order(nv: int) -> None:
            entries.write.mode("overwrite").parquet(self._path("entries", nv))
            tsc.write.mode("overwrite").parquet(self._path("tsc", nv))

        self.commit({}, (_write_in_order,), batch_id=batch_id, scope=scope)

    def bootstrap(self, statements: DataFrame) -> None:
        """Full build from a statement corpus (the batch path, T1+T2+A1)."""
        entries = token_entries(tokenize_statements(statements)).persist()
        self._write(entries, token_schema_counts(entries))
        entries.unpersist()

    def apply_batch(
        self,
        statements: DataFrame,
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        """Fold one upsert batch into the index.

        ``statements`` must carry the complete current statements of every
        touched entity (upsert-by-entity).  An entity with zero statements
        in the batch is untouched; explicit deletion = an entity appearing
        with an empty statement set is not expressible in a flat statement
        frame — use ``retract_entities`` for that.
        """
        if self._replayed(batch_id, scope):
            return
        new_entries = token_entries(tokenize_statements(statements)).persist()
        touched = new_entries.select("id").distinct()
        self._merge(new_entries, touched, batch_id, scope)
        new_entries.unpersist()

    def retract_entities(self, entity_ids: DataFrame) -> None:
        """Remove entities (one ``id`` column) from the index entirely."""
        empty = self.spark.createDataFrame([], _ENTRIES_SCHEMA)
        self._merge(empty, entity_ids.select("id").distinct())

    def _merge(
        self,
        new_entries: DataFrame,
        touched: DataFrame,
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        old_entries = self.entries()
        retracted = old_entries.join(touched, "id", "semi")
        kept = old_entries.join(touched, "id", "left_anti")
        entries2 = kept.unionByName(new_entries)

        # Algebraic tsc delta: +agg(inserted) −agg(retracted), merged into
        # the old tsc by key.  Only delta keys change; the full-outer join
        # is a co-located merge when the state is bucketed by token (Delta
        # MERGE on a cluster touches delta keys only).
        plus = token_schema_counts(new_entries)
        minus = token_schema_counts(retracted).select(
            "token", "schema", "field",
            (-F.col("df")).alias("df"),
            (-F.col("freq")).alias("freq"),
        )
        delta = (
            plus.unionByName(minus)
            .groupBy("token", "schema")
            .agg(
                F.first("field", ignorenulls=True).alias("d_field"),
                F.sum("df").alias("d_df"),
                F.sum("freq").alias("d_freq"),
            )
        )
        tsc2 = (
            self.tsc()
            .join(delta, ["token", "schema"], "full_outer")
            .select(
                "token",
                "schema",
                F.coalesce("field", "d_field").alias("field"),
                (F.coalesce("df", F.lit(0)) + F.coalesce("d_df", F.lit(0))).alias("df"),
                (
                    F.coalesce("freq", F.lit(0)) + F.coalesce("d_freq", F.lit(0))
                ).alias("freq"),
            )
            .where(F.col("df") > 0)
        )
        self._write(entries2, tsc2, batch_id, scope)
