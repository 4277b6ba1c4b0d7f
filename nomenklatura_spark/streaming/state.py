"""Shared snapshot plumbing for the incrementally-maintained indexes —
the one commit protocol and the one stream driver every index uses.

Every maintained index (blocking entries, MinHash-LSH dedup, IVF
vectors, vocabulary, sketches, ...) stores its relations as versioned
parquet snapshots behind a single VERSION pointer file, and commits a
fold through ``VersionedState.commit``: it picks ``v{N+1}``, lays down
every relation of that version side by side, lets the caller's probes
raise, and only then swaps the pointer with an atomic rename.  A crash
or a raised contract mid-fold therefore leaves the previous version
intact and readers never see a torn snapshot (time travel = read an
older N).  On a cluster the same call sites become Delta tables and the
pointer becomes the Delta log.

The pointer also records the last-applied Structured Streaming batch
id and its scope (the checkpoint dir).  ``foreachBatch`` delivery is
at-least-once: a crash between the snapshot swap and the streaming
checkpoint commit redelivers the same micro-batch.  Every state's
``apply_batch`` takes ``batch_id``/``scope`` and skips a batch at or
below ``last_batch(scope)`` (``_replayed``); ADDITIVE states (the
vocabulary's counter merge) depend on it, or redelivery double-counts,
while upsert-by-key and idempotent states are merely spared a no-op
snapshot.  ``maintain_stream`` is the one ``foreachBatch`` driver that
feeds a stream into any state.
"""

from __future__ import annotations

import inspect
import os
import shutil
import warnings
from collections.abc import Callable, Mapping
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any, NamedTuple

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

# Hash-bucket count of the big key-partitioned state relations
# (signatures/bands/pairs of the dedup indexes): one bucket is the
# copy-on-write rewrite unit.  A constant, not a setting: the on-disk
# ``_bucket=`` layout is a function of it, so a state reopened with a
# different count would prune the wrong directories.
STATE_BUCKETS = 16


# Local properties a pool thread inherits from its caller, so the jobs
# it submits carry the caller's tags: job group, description,
# interrupt-on-cancel, scheduler pool, job tags, and the package's own
# ``nk.*`` keys.  Never ``spark.sql.execution.id``: it names one query
# execution, and a fold that runs inside one (``maintain_stream``'s
# ``foreachBatch``) must not stamp it on the jobs its threads submit.
_INHERITED_PROPERTIES = frozenset({
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
    "spark.scheduler.pool",
    "spark.job.tags",
})


def _caller_properties() -> dict[str, str]:
    sc = SparkContext._active_spark_context
    if sc is None:
        return {}
    props = sc._jsc.sc().getLocalProperties()
    return {
        k: props.getProperty(k)
        for k in props.stringPropertyNames()
        if k in _INHERITED_PROPERTIES or k.startswith("nk.")
    }


def run_concurrently(*thunks: Callable[[], Any]) -> list:
    """Run independent driver-side Spark actions side by side, one
    thread each, and return their results in order; a single thunk runs
    on the calling thread.  Each thread starts with the caller's tags
    (``_INHERITED_PROPERTIES`` and ``nk.*``).  Every thunk finishes
    before the first failure is re-raised."""
    if len(thunks) == 1:
        return [thunks[0]()]
    props = _caller_properties()

    def tagged(thunk: Callable[[], Any]) -> Any:
        if props:
            sc = SparkContext._active_spark_context
            for k, v in props.items():
                sc.setLocalProperty(k, v)
        return thunk()

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(tagged, t) for t in thunks]
        return [f.result() for f in futures]


class Bucketed(NamedTuple):
    """A ``commit`` write assembled copy-on-write by ``_write_bucketed``:
    ``data`` bucketed by ``key``; ``rewrite_buckets`` None carries
    nothing over from the previous version, ``[]`` carries everything."""

    data: DataFrame
    key: str
    rewrite_buckets: list[int] | None


class VersionedState:
    """Crash-safe versioned parquet snapshots with a VERSION pointer."""

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    @property
    def _version_file(self) -> str:
        return os.path.join(self.state_dir, "VERSION")

    def _pointer(self) -> tuple[int, int, str]:
        try:
            with open(self._version_file) as fh:
                # the scope is a path and may hold spaces
                parts = fh.read().split(maxsplit=2)
        except FileNotFoundError:
            return -1, -1, ""
        version = int(parts[0])
        batch = int(parts[1]) if len(parts) > 1 else -1
        scope = parts[2] if len(parts) > 2 else ""
        return version, batch, scope

    def version(self) -> int:
        return self._pointer()[0]

    def last_batch(self, scope: str = "") -> int:
        """Highest streaming batch id folded in so far (-1 if none).
        Batch ids are only comparable within one stream incarnation
        (Spark restarts numbering per checkpoint), so the guard is keyed
        by ``scope`` — a different scope (new checkpoint dir) reads as
        -1 and the replay guard stands down instead of silently dropping
        a fresh stream's first batches."""
        _, batch, stored = self._pointer()
        return batch if stored == scope else -1

    def _replayed(self, batch_id: int | None, scope: str) -> bool:
        """The replay guard: ``batch_id`` of stream ``scope`` has
        already been folded in (None — a direct call — never is)."""
        return batch_id is not None and batch_id <= self.last_batch(scope)

    def _path(self, rel: str, version: int) -> str:
        return os.path.join(self.state_dir, rel, f"v{version}")

    def commit(
        self,
        writes: Mapping[str, DataFrame | Bucketed | Callable[[], DataFrame]],
        tasks: tuple[Callable[[int], None], ...] = (),
        batch_id: int | None = None,
        scope: str = "",
    ) -> int:
        """Commit one fold as version ``nv = version() + 1``.

        Every relation in ``writes`` is laid down at ``rel/v{nv}`` and
        every task runs with ``nv``, all side by side (independent
        driver actions overlap).  A write is a DataFrame (a flat
        overwrite), a ``Bucketed`` (copy-on-write assembly, see
        ``_write_bucketed``) or a zero-argument callable that builds
        the DataFrame inside the pool — for a relation whose plan itself
        runs Spark actions (the component folds).  A task takes ``nv``
        and runs writes that must happen one after another (the blocking
        index writes ``tsc`` after ``entries``, reusing the batch cache
        that write fills).  Only when all of them succeeded
        does the pointer swap to ``nv`` with ``(batch_id, scope)``;
        ``batch_id`` None keeps the stored batch and scope.  Any failure
        re-raises before the swap, so nothing commits — the orphaned
        ``v{nv}`` directories are overwritten by the next fold.
        Returns ``nv``."""
        nv = self.version() + 1

        def _write(rel: str, w) -> None:
            if isinstance(w, Bucketed):
                self._write_bucketed(rel, nv, *w)
                return
            df = w if isinstance(w, DataFrame) else w()
            df.write.mode("overwrite").parquet(self._path(rel, nv))

        run_concurrently(
            *(partial(_write, rel, w) for rel, w in writes.items()),
            *(partial(task, nv) for task in tasks),
        )
        if batch_id is None:
            _, batch_id, scope = self._pointer()
        tmp = self._version_file + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(f"{nv} {batch_id} {scope}".rstrip())
        os.replace(tmp, self._version_file)
        return nv

    def _read(
        self, rel: str, schema: str, version: int | None = None
    ) -> DataFrame:
        v = self.version() if version is None else version
        if v < 0:
            return self.spark.createDataFrame([], schema)
        # deliberately NOT lenient for v >= 0: VERSION pointing at a
        # missing snapshot is state corruption (partial deletion, wrong
        # state_dir) and must fail loudly, not read as an empty index.
        # (A version below the vacuum horizon also lands here — time
        # travel past vacuum(keep_last) is gone by design, like Delta.)
        return self.spark.read.parquet(self._path(rel, v))

    # -- bucketed relations -------------------------------------------------
    #
    # The big key-partitioned relations (dedup signatures/bands/pairs)
    # are stored hash-BUCKETED by key (``_bucket = pmod(xxhash64(key),
    # STATE_BUCKETS)`` partition directories) and each new version is
    # assembled file-wise, the local analog of a Delta ``MERGE INTO``'s
    # copy-on-write: bucket directories whose rows are untouched by the
    # fold are HARDLINKED from the previous version (metadata-only, the
    # parquet bytes are shared), buckets that lose rows (a retraction /
    # delete) are rewritten from a partition-PRUNED read of just those
    # buckets, and the batch's new rows are appended as fresh files.
    # An append-only fold (no touched id previously in state — the
    # steady-state ingest case) therefore writes O(batch) bytes per
    # fold regardless of state size, where the pre-r12 layout re-read
    # and re-wrote the whole relation every fold.  Every version
    # directory stays COMPLETE (hardlinks count as files), so the
    # crash-safe pointer swap, time travel and ``vacuum`` are unchanged
    # — vacuum's rmtree drops directory entries and the shared bytes
    # live until the last version referencing them goes.

    @staticmethod
    def _bucket_of(col: "F.Column") -> "F.Column":
        return F.pmod(F.xxhash64(col), F.lit(STATE_BUCKETS)).cast("int")

    @staticmethod
    def _has_parquet(path: str) -> bool:
        for root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _read_bucketed(
        self, rel: str, schema: str, version: int | None = None
    ) -> DataFrame:
        """Read a bucketed relation, dropping the ``_bucket`` partition
        column (the declared relation schema is bucket-free)."""
        v = self.version() if version is None else version
        if v < 0:
            return self.spark.createDataFrame([], schema)
        path = self._path(rel, v)
        if not os.path.isdir(path):
            # same loud contract as _read: a missing snapshot at a live
            # version is state corruption
            return self.spark.read.parquet(path)
        if not self._has_parquet(path):
            # a version can legitimately hold zero rows (partitioned
            # writes lay down no data files for an empty frame)
            return self.spark.createDataFrame([], schema)
        cols = self.spark.createDataFrame([], schema).columns
        return self.spark.read.parquet(path).select(*cols)

    def _read_buckets(
        self, rel: str, schema: str, buckets: list[int],
        version: int | None = None,
    ) -> DataFrame:
        """Partition-pruned read of just ``buckets`` — the rewrite
        side of a fold reads only the directories it will rewrite."""
        v = self.version() if version is None else version
        if v < 0 or not buckets:
            return self.spark.createDataFrame([], schema)
        path = self._path(rel, v)
        if not self._has_parquet(path):
            return self.spark.createDataFrame([], schema)
        cols = self.spark.createDataFrame([], schema).columns
        return (
            self.spark.read.parquet(path)
            .where(F.col("_bucket").isin(buckets))
            .select(*cols)
        )

    def _write_bucketed(
        self,
        rel: str,
        new_version: int,
        data: DataFrame,
        key: str,
        rewrite_buckets: list[int] | None,
    ) -> None:
        """Assemble ``rel/v{new_version}``: hardlink every bucket of
        the previous version NOT named in ``rewrite_buckets``, then
        append ``data`` (hash-partitioned by bucket of ``key``).

        ``rewrite_buckets=None`` carries nothing over (bootstrap or a
        full rewrite); ``[]`` carries everything (pure append).  The
        caller guarantees ``data`` holds the complete new content of
        every bucket in ``rewrite_buckets`` plus only NEW rows for the
        carried buckets.  Carrying over from a previous version in the
        flat (pre-bucketing) layout raises ValueError: none of its rows
        sit in ``_bucket=`` directories, so the new version would
        silently lose them all.  Files that cannot be hardlinked are
        copied, with one warning per call."""
        src = self._path(rel, new_version - 1)
        carry = rewrite_buckets is not None and os.path.isdir(src)
        if carry and any(f.endswith(".parquet") for f in os.listdir(src)):
            raise ValueError(
                f"state {self.state_dir}: {rel}/v{new_version - 1} has "
                f"the flat pre-bucketing layout, which a bucketed fold "
                f"cannot carry over; rebuild the state from its source"
            )
        dst = self._path(rel, new_version)
        if os.path.exists(dst):
            # orphan from a crashed fold (laid down, pointer never
            # swapped) — same tolerated-orphan contract as the
            # non-bucketed writers' mode("overwrite")
            shutil.rmtree(dst)
        os.makedirs(dst, exist_ok=True)
        copied = 0
        if carry:
            skip = {f"_bucket={b}" for b in rewrite_buckets}
            for d in os.listdir(src):
                if not d.startswith("_bucket=") or d in skip:
                    continue
                sdir = os.path.join(src, d)
                if not os.path.isdir(sdir):
                    continue
                ddir = os.path.join(dst, d)
                os.makedirs(ddir, exist_ok=True)
                for fname in os.listdir(sdir):
                    if fname.startswith(("_", ".")):
                        continue
                    spath = os.path.join(sdir, fname)
                    dpath = os.path.join(ddir, fname)
                    try:
                        os.link(spath, dpath)
                    except OSError:
                        # e.g. a filesystem without hardlinks: the fold
                        # stays correct but writes O(state) bytes
                        shutil.copy2(spath, dpath)
                        copied += 1
        if copied:
            warnings.warn(
                f"state {self.state_dir}: {copied} file(s) of {rel} "
                f"copied instead of hardlinked into v{new_version}",
                RuntimeWarning,
                stacklevel=2,
            )
        (
            data.withColumn("_bucket", self._bucket_of(F.col(key)))
            # one small shuffle of the (batch-sized) write set so each
            # bucket lands in ~one file instead of tasks x buckets
            .repartition(STATE_BUCKETS, "_bucket")
            .write.mode("append")
            .partitionBy("_bucket")
            .parquet(dst)
        )

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Delete snapshot directories older than the newest
        ``keep_last`` versions — the Delta VACUUM analog for the
        maintained indexes, whose every ``apply_batch`` lays down a new
        ``v{N}`` set and never removes the old one (time travel).
        Without vacuuming, state storage grows with versions × relation
        size; a deployment runs this on a retention schedule.

        Only ``v{N}`` directories under the state's relation
        subdirectories are touched.  The current version is always kept
        (``keep_last`` is clamped to >= 1); reading a vacuumed version
        afterwards fails loudly (the horizon moved).
        Returns the removed directory paths."""
        import shutil

        v = self.version()
        if v < 0:
            return []
        cutoff = v - max(keep_last, 1) + 1
        removed: list[str] = []
        for rel in sorted(os.listdir(self.state_dir)):
            reldir = os.path.join(self.state_dir, rel)
            if not os.path.isdir(reldir):
                continue
            for d in sorted(os.listdir(reldir)):
                if (
                    d.startswith("v")
                    and d[1:].isdigit()
                    and int(d[1:]) < cutoff
                ):
                    target = os.path.join(reldir, d)
                    shutil.rmtree(target)
                    removed.append(target)
        return removed


def maintain_stream(
    stream: DataFrame,
    state: VersionedState,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    tombstone_col: str | None = None,
    **fold_kwargs,
) -> StreamingQuery:
    """Structured Streaming driver for every maintained index: each
    micro-batch folds into ``state`` via ``foreachBatch`` (a fold is a
    multi-relation snapshot commit, which no sink can express) as
    ``state.apply_batch(batch, batch_id=..., scope=checkpoint_dir or
    "", **fold_kwargs)``.  The scope keys the replay guard to this
    stream incarnation, since Spark restarts batch numbering per
    checkpoint.  An empty micro-batch is skipped: it commits nothing.
    ``trigger_once`` drains the backlog and terminates (availableNow),
    for cron-style catch-up runs.

    ``tombstone_col`` names an optional boolean column for CDC-shaped
    feeds into a state with a ``delete`` (the dedup indexes): rows
    where it is true DELETE their id (the fold's ``id_col``), other
    rows upsert as usual.  Within one micro-batch tombstones win over
    upserts of the same id (the delete folds after the upsert), so a
    batch that both rewrites and tombstones a document resolves to
    deleted — the deterministic reading of an intra-batch conflict."""
    scope = checkpoint_dir or ""
    if tombstone_col is not None:
        id_col = fold_kwargs.get("id_col") or inspect.signature(
            state.apply_batch
        ).parameters["id_col"].default

    def _process(batch: DataFrame, batch_id: int) -> None:
        live = batch
        if tombstone_col is not None:
            live = batch.where(
                ~F.coalesce(F.col(tombstone_col), F.lit(False))
            )
        if not live.isEmpty():
            state.apply_batch(
                live, batch_id=batch_id, scope=scope, **fold_kwargs
            )
        if tombstone_col is not None:
            state.delete(batch.where(F.col(tombstone_col)).select(id_col))

    writer = stream.writeStream.foreachBatch(_process)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
