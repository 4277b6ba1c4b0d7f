"""Incrementally-maintained count-min and histogram sketches (§2.12).

Completes the incremental sketch tier next to ``hll_index``: every
member of the sketch family (HLL distinct, CMS heavy-hitter counts,
fixed-bin histogram quantiles) can be maintained as a materialised view
over an append-only stream, so distinct/frequency/quantile questions
never rescan ingested history.

Unlike the max-merged HLL registers, BOTH of these merge by SUM —
additive state needs the batch-id replay guard (the
``vocab_index`` discipline): foreachBatch redelivery after a crash
between snapshot swap and checkpoint commit must not double-count.

The histogram index additionally carries its bounds contract IN the
state (a 1-row bounds snapshot written at creation): every increment
must bin against the SAME (lo, hi) frame or the bin-wise sum is
meaningless.  ``apply_batch`` reuses the stored bounds; values outside
them clip into the edge bins (the operator's documented behavior for
foreign-bounds increments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.operators.sketch import (
    cms_sketch,
    hist_quantile,
    hist_sketch,
)
from nomenklatura_spark.streaming.state import VersionedState

_CMS_SCHEMA = "d int, bucket int, cnt long"
_HIST_SCHEMA = "key string, bin int, cnt long"
_BOUNDS_SCHEMA = "lo double, hi double"


class CmsIndexState(VersionedState):
    """Versioned on-disk count-min counters for one sketch family
    (fixed depth/width/prefix per index)."""

    def __init__(self, spark, root: str, depth: int = 4, width: int = 1024,
                 prefix: str = "cms"):
        super().__init__(spark, root)
        self.depth, self.width, self.prefix = depth, width, prefix

    def counters(self, version: int | None = None) -> DataFrame:
        return self._read("counters", _CMS_SCHEMA, version)

    def lookup(self, items: DataFrame, value_col: str) -> DataFrame:
        from nomenklatura_spark.operators.sketch import cms_lookup

        return cms_lookup(
            self.counters(), items, value_col,
            self.depth, self.width, self.prefix,
        )

    def apply_batch(
        self,
        df: DataFrame,
        value_col: str,
        weight_col: str | None = None,
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _CMS_SCHEMA)
        batch = cms_sketch(
            df, value_col, self.depth, self.width, self.prefix, weight_col
        ).select("d", "bucket", F.col("cnt").cast("long").alias("cnt"))
        if self.version() < 0:
            # bootstrap fold: the sketch is already (d, bucket)-unique
            # (cms_sketch ends in that groupBy), so the union with the
            # empty counter relation and the re-aggregate are an
            # identity — skip them and keep the first fold's plan as
            # lean as a steady-state one (the measured fold-1 anomaly)
            merged = batch
        else:
            merged = (
                self.counters()
                .unionByName(batch)
                .groupBy("d", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        self.commit({"counters": merged}, batch_id=batch_id, scope=scope)
        return batch


class HistIndexState(VersionedState):
    """Versioned on-disk histogram bins keyed by ``key``, bound to ONE
    (lo, hi) frame fixed at index creation."""

    def __init__(self, spark, root: str, n_bins: int = 32):
        super().__init__(spark, root)
        self.n_bins = n_bins

    def _bounds_path(self) -> str:
        # NOT a versioned v{N} layout: vacuum() deletes stale v{N} dirs
        # under every relation subdir, and the bounds contract is live
        # data for EVERY version — a v0 placement would be deleted by
        # the first retention pass and permanently brick the index
        import os

        return os.path.join(self.state_dir, "bounds_meta")

    def set_bounds(self, lo: float, hi: float) -> None:
        """Fix the bounds contract; must happen once, before the first
        batch (bin-wise sums across differing frames are meaningless)."""
        if self.version() >= 0:
            raise ValueError("bounds must be fixed before the first batch")
        self.spark.createDataFrame([(float(lo), float(hi))], _BOUNDS_SCHEMA) \
            .write.mode("overwrite").parquet(self._bounds_path())

    def bounds(self) -> DataFrame:
        return self.spark.read.schema(_BOUNDS_SCHEMA).parquet(
            self._bounds_path()
        )

    def bins(self, version: int | None = None) -> DataFrame:
        return self._read("bins", _HIST_SCHEMA, version)

    def quantile(self, q: float) -> DataFrame:
        return hist_quantile(
            self.bins(), self.bounds(), ["key"], q, self.n_bins
        ).orderBy("key")

    def apply_batch(
        self,
        df: DataFrame,
        key_col: str,
        value_col: str,
        batch_id: int | None = None,
        scope: str = "",
    ) -> DataFrame:
        if self._replayed(batch_id, scope):
            return self.spark.createDataFrame([], _HIST_SCHEMA)
        batch = hist_sketch(
            df.select(F.col(key_col).cast("string").alias("key"), value_col),
            ["key"],
            value_col,
            self.bounds(),
            self.n_bins,
        ).select("key", "bin", F.col("cnt").cast("long").alias("cnt"))
        if self.version() < 0:
            # bootstrap fold: hist_sketch is (key, bin)-unique — the
            # empty-union re-aggregate is an identity (see CmsIndexState)
            merged = batch
        else:
            merged = (
                self.bins()
                .unionByName(batch)
                .groupBy("key", "bin")
                .agg(F.sum("cnt").alias("cnt"))
            )
        self.commit({"bins": merged}, batch_id=batch_id, scope=scope)
        return batch


_CAND_SCHEMA = "value string"
_META_SCHEMA = "floor0 long, folds long"


class HeavyHittersIndexState(VersionedState):
    """CMS counters plus a PROVABLY-capturing candidate set, maintained
    together — the serving form of heavy hitters: "top-k right now"
    answered from state, never by rescanning ingested history.

    A count-min sketch alone cannot serve top-k (it answers point
    queries; it has no key list).  The candidate rule here is the
    distributed pigeonhole device: every batch contributes the keys
    whose BATCH-LOCAL count reaches ``local_threshold`` T.  After B
    batches, any key with global count >= B*T must have reached T in at
    least one batch (counts can't all be below T and sum past B*T), so
    the stored candidate set provably contains every key that heavy —
    an executable epsilon like ``hll_pairwise_union``'s key cap, not a
    heuristic.  Candidate state is bounded by sum_b(|batch_b| / T) keys;
    keys lighter than B*T may be absent (the documented one-sided miss).

    Serving = CMS point estimates over the stored candidates, ordered
    by (estimate desc, value): estimates are exact-BIGINT one-sided
    overcounts, so the true count of every served key is <= its
    displayed estimate.  All relations are written BEFORE the single
    VERSION bump, so a crash mid-fold leaves the previous snapshot
    consistent (counters and candidates never skew); additive CMS
    counters get the batch-id replay guard, and the candidate union is
    naturally idempotent (distinct set union).

    The completeness guarantee is carried IN the state as an executable
    FLOOR: a (floor0, folds) meta row maintains
    ``provable_floor() = floor0 + folds * T``.  At creation floor0 = 0
    with zero folds (an empty history is complete down to 0); each fold
    adds T (a key can evade capture by at most T-1 per batch), which
    reproduces the pigeonhole bound B*T; ``repair_candidates`` — the
    targeted-rescan verb, symmetric to the funnel index's
    ``repair_users`` — resets it to the rescan's exact threshold.
    ``serve_topk(k, strict=True)`` enforces the boundary.  The provable
    property is CANDIDATE-SET completeness: every key with true count
    >= the floor is in the candidate set, and estimates are one-sided
    overcounts, so such a key is estimate-ranked at or above its true
    count.  When every served estimate sits at or above the floor, any
    absent key has true count < floor and its estimate-rank is not
    needed for the guarantee; when the k-th ESTIMATE falls below the
    floor, the guarantee no longer covers the tail — strict mode raises
    loudly, naming the floor and the repair verb, instead of serving a
    silently unprotected list.  (The guarantee is about candidate
    membership, not true-count ordering of the served tail: collisions
    can inflate a served estimate past an absent key whose true count
    sits just below the floor — ordering among sub-floor keys is
    exactly what a sketch gives up.)
    """

    def __init__(self, spark, root: str, depth: int = 4, width: int = 1024,
                 prefix: str = "cms", local_threshold: int = 10):
        super().__init__(spark, root)
        self.depth, self.width, self.prefix = depth, width, prefix
        self.local_threshold = local_threshold

    def counters(self, version: int | None = None) -> DataFrame:
        return self._read("counters", _CMS_SCHEMA, version)

    def candidates(self, version: int | None = None) -> DataFrame:
        return self._read("candidates", _CAND_SCHEMA, version)

    def _floor_meta(self) -> tuple[int, int]:
        v = self.version()
        if v < 0:
            return 0, 0
        # single-writer discipline (foreachBatch): this instance's own
        # writes keep the cache current, so successive folds skip the
        # 1-row parquet read job; any other reader/instance still reads
        # the versioned relation
        cached = getattr(self, "_meta_cache", None)
        if cached is not None and cached[0] == v:
            return cached[1], cached[2]
        (r,) = self._read("meta", _META_SCHEMA).collect()
        self._meta_cache = (v, int(r["floor0"]), int(r["folds"]))
        return int(r["floor0"]), int(r["folds"])

    def provable_floor(self) -> int:
        """Every key with true global count >= this floor is PROVABLY
        in the candidate set: floor0 (0 at creation — complete over an
        empty history; the rescan threshold after a repair) plus T per
        fold since (a key can evade batch-local capture by at most T-1
        per batch) — the running form of the pigeonhole B*T bound."""
        floor0, folds = self._floor_meta()
        return floor0 + folds * self.local_threshold

    def _commit_all(
        self,
        counters: DataFrame,
        cands: DataFrame,
        floor0: int,
        folds: int,
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        # the three relations are independent once their shared input
        # is materialized — ``commit`` writes them concurrently (guide
        # §2.6) before its single pointer swap
        meta = self.spark.createDataFrame(
            [(int(floor0), int(folds))], _META_SCHEMA
        )
        nv = self.commit(
            {"counters": counters, "candidates": cands, "meta": meta},
            batch_id=batch_id,
            scope=scope,
        )
        self._meta_cache = (nv, int(floor0), int(folds))

    def apply_batch(
        self,
        df: DataFrame,
        value_col: str,
        batch_id: int | None = None,
        scope: str = "",
    ) -> None:
        if self._replayed(batch_id, scope):
            return
        # checkpointed ONCE: the counter write and the candidate write
        # both aggregate this projection — without it each write job
        # re-runs the upstream scan + filter
        vals = df.select(
            F.col(value_col).cast("string").alias("value")
        ).localCheckpoint(eager=True)
        batch_sketch = cms_sketch(vals, "value", self.depth, self.width,
                                  self.prefix).select(
            "d", "bucket", F.col("cnt").cast("long").alias("cnt")
        )
        local_heavy = (
            vals.groupBy("value")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= self.local_threshold)
            .select("value")
        )
        if self.version() < 0:
            # bootstrap fold: the sketch is (d, bucket)-unique and the
            # local-heavy keys are groupBy-distinct, so the empty-state
            # unions / re-aggregates are identities — skip them (the
            # measured fold-1 anomaly, see CmsIndexState.apply_batch)
            merged = batch_sketch
            cands = local_heavy
        else:
            merged = (
                self.counters()
                .unionByName(batch_sketch)
                .groupBy("d", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
            cands = self.candidates().union(local_heavy).distinct()
        floor0, folds = self._floor_meta()
        self._commit_all(merged, cands, floor0, folds + 1, batch_id, scope)

    def repair_candidates(
        self,
        raw_history: DataFrame,
        value_col: str,
        floor: int | None = None,
    ) -> int:
        """Targeted-rescan repair — the recovery path the strict
        serving boundary points at (symmetric to the funnel index's
        ``repair_users``).  One exact partial-agg count over the raw
        history admits every key with true count >= ``floor`` (default:
        ``local_threshold``, the finest grain the candidate rule aims
        at) into the candidate set, and the completeness floor resets
        to exactly ``floor`` with zero folds-since — no pigeonhole
        slack, because the rescan saw everything.  Counters are
        untouched (estimates stay one-sided overcounts); subsequent
        folds resume raising the floor by T each.  Returns the new
        provable floor."""
        f = int(floor if floor is not None else self.local_threshold)
        if f < 1:
            raise ValueError("repair_candidates: floor must be >= 1")
        heavy = (
            raw_history.select(
                F.col(value_col).cast("string").alias("value")
            )
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= f)
            .select("value")
        )
        cands = self.candidates().union(heavy).distinct()
        self._commit_all(self.counters(), cands, f, 0)
        return f

    def serve_topk(self, k: int, strict: bool = False) -> DataFrame:
        """Top-k candidates by CMS estimate, from state alone.  With
        ``strict=True``, raise loudly when the request reaches past the
        provable-completeness region — fewer than k candidates exist,
        or a served ESTIMATE falls below ``provable_floor()``.  What
        passing proves: every key with true count >= the floor is IN
        the candidate set (and, estimates being one-sided overcounts,
        estimate-ranked at or above the k-th estimate).  What it does
        NOT prove: true-count ordering of the served tail — a key
        absent because its true count sits just below the floor can
        still out-true-count a served item whose estimate is inflated
        by collisions; sketches give up exactly that distinction."""
        from nomenklatura_spark.operators.sketch import cms_lookup

        est = cms_lookup(
            self.counters(), self.candidates(), "value",
            self.depth, self.width, self.prefix,
        )
        out = est.orderBy(F.desc("n_cms"), "value").limit(k)
        if not strict:
            return out
        floor = self.provable_floor()
        rows = out.collect()  # k-row serving materialization
        light = [r for r in rows if r["n_cms"] < floor]
        if len(rows) < k or light:
            tail = (
                f"the k-th estimate {min(r['n_cms'] for r in rows)} is "
                f"below it"
                if rows and light
                else f"only {len(rows)} candidates exist"
            )
            raise ValueError(
                f"heavy-hitters index: top-{k} is not provably "
                f"candidate-complete — keys with true count below the "
                f"floor {floor} may be missing from the candidate set, "
                f"and {tail}. Rescan with repair_candidates(raw_history, "
                f"value_col, floor=...) or request a smaller k."
            )
        return self.spark.createDataFrame(rows, out.schema)
