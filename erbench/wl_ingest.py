"""``ingest`` workload: micro-batches folded into three maintained indexes.

Set-up folds the base corpus. A unit is one upsert batch of the seeded
sequence (``gen.IngestSequence``: new items and changed-content
re-ingests) folded into
``streaming.dedup_index.DedupIndexState`` (text MinHash),
``streaming.media_index.MediaDedupIndexState`` (image dHash) and
``streaming.index.BlockingIndexState`` (entity tokens), then one serve
from each: ``serve_positive_pairs``, ``serve_keep_list`` and a stats read
of the blocking index. An item is one document, media pair and entity
added or changed.

At the end each index's live state must equal the from-scratch batch
operator over the live corpus.
"""

from __future__ import annotations

import json
import os

import gen
from common import log_unit
from checks import CheckFailed, exact_jaccard_pairs, rows_equal

BASE_ITEMS = 60
BATCH_ITEMS = 40
SHINGLE_K, N_HASHES, BAND_SIZE, THRESHOLD = 3, 32, 4, 0.5
INDEXES = ("dedup_index", "media_index", "blocking_index")


class IngestWorkload:
    name = "ingest"
    round_units = 1
    # the fold and serve spans are recorded in untraced runs too
    trace_changes_plan = False
    layers = tuple(f"{ix}.{leg}" for ix in INDEXES for leg in ("fold", "serve"))

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from nomenklatura_spark.streaming.dedup_index import DedupIndexState
        from nomenklatura_spark.streaming.index import BlockingIndexState
        from nomenklatura_spark.streaming.media_index import (
            MediaDedupIndexState,
        )

        self.spark, self.work, self.tracer = spark, work, tracer
        self.seq = gen.IngestSequence(seed, BASE_ITEMS, BATCH_ITEMS)
        self.roots = {ix: os.path.join(work, "state", ix) for ix in INDEXES}
        self.state = {
            "dedup_index": DedupIndexState(
                spark, self.roots["dedup_index"], k=SHINGLE_K,
                n_hashes=N_HASHES, band_size=BAND_SIZE, threshold=THRESHOLD),
            "media_index": MediaDedupIndexState(spark, self.roots["media_index"]),
            "blocking_index": BlockingIndexState(
                spark, self.roots["blocking_index"]),
        }
        self.unit_info: dict[int, dict] = {}
        self.recall_value = 0.0

    def setup(self) -> None:
        """Fold the base corpus (batch 0) and serve once; this is also the
        warm-up. The legs run one after another, as in a unit: with the
        three base folds side by side the first timed unit ran colder
        (55-62 s of CPU became 58-77 s) and its wall spread twice as wide."""
        self.unit(-1)

    def unit(self, i: int, traced: bool = False) -> int:
        """Fold batch ``i + 1`` of the sequence into each index, then serve
        from each."""
        batch = self.seq.batch(i + 1)
        folds, serves = self._legs(batch, i)
        with self.tracer.span("unit", always=True, cpu=True) as unit_span:
            unit_span.counts.update(unit=i, traced=traced)
            for name, fn in folds + serves:
                with self.tracer.span(name, always=True):
                    fn()
        self.unit_info[i] = {ix: _version_files(self.roots[ix]) for ix in INDEXES}
        items = len(batch["docs"])
        unit_span.counts["items"] = items
        log_unit(i, unit_span)
        return items

    def _legs(self, batch: dict, tag: int) -> tuple[list, list]:
        """(fold legs, serve legs) of one batch as ``(span name, call)``."""
        from pyspark.sql import functions as F

        from nomenklatura_spark.sources.entity_json import read_entity_file

        spark = self.spark
        dedup, media, block = (self.state[ix] for ix in INDEXES)
        ent_path = os.path.join(self.work, "data", f"entities{tag}.jsonl")
        with open(ent_path, "w", encoding="utf-8") as fh:
            for entity in batch["entities"]:
                fh.write(json.dumps(entity, ensure_ascii=False) + "\n")
        folds = [
            ("dedup_index.fold", lambda: dedup.apply_batch(
                spark.createDataFrame(
                    [(f"d{d}", t) for d, t in batch["docs"]],
                    "doc_id string, text string"), "doc_id", "text")),
            ("media_index.fold", lambda: media.apply_batch(
                spark.createDataFrame(
                    batch["assets"], "asset_id long, payload binary"))),
            ("blocking_index.fold", lambda: block.apply_batch(
                read_entity_file(spark, ent_path))),
        ]
        serves = [
            ("dedup_index.serve",
             lambda: dedup.serve_positive_pairs().collect()),
            ("media_index.serve", lambda: media.serve_keep_list().collect()),
            ("blocking_index.serve", lambda: block.tsc().agg(
                F.count("*"), F.sum("df"), F.max("df")).collect()),
        ]
        return folds, serves

    # -- end-of-run checks --------------------------------------------------

    def finish(self) -> None:
        """Each index's live state equals the from-scratch batch operator
        over the live corpus; recall is measured against planted media
        pairs and exact-Jaccard text pairs. The three checks are
        independent and bound by Spark job overhead, so they run side by
        side."""
        from concurrent.futures import ThreadPoolExecutor

        seq = self.seq
        with ThreadPoolExecutor(3) as pool:
            futures = [pool.submit(fn) for fn in (
                self._check_text, self._check_media, self._check_blocking)]
            text_pairs, media_pairs, _ = (f.result() for f in futures)
        found_media = {(min(p[0], p[1]), max(p[0], p[1])) for p in media_pairs}
        found_text = {tuple(sorted((int(a[1:]), int(b[1:]))))
                      for a, b, _ in text_pairs}
        text_truth = exact_jaccard_pairs(seq.docs, SHINGLE_K, THRESHOLD)
        total = len(seq.media_truth) + len(text_truth)
        if total == 0:
            raise CheckFailed("no planted pairs in the live corpus")
        self.recall_value = (len(seq.media_truth & found_media)
                             + len(text_truth & found_text)) / total

    def _check_text(self) -> list:
        from nomenklatura_spark.dedup.minhash import minhash_dedup_pairs

        docs = self.spark.createDataFrame(
            [(f"d{d}", t) for d, t in self.seq.docs.items()],
            "doc_id string, text string")
        scratch = minhash_dedup_pairs(
            docs, "doc_id", "text", k=SHINGLE_K, n_hashes=N_HASHES,
            band_size=BAND_SIZE, threshold=THRESHOLD)
        text_pairs = [(r.lid, r.rid, round(r.est_jaccard, 6))
                      for r in self.state["dedup_index"].pairs().collect()]
        rows_equal("dedup_index pairs", text_pairs,
                   [(r.lid, r.rid, round(r.est_jaccard, 6))
                    for r in scratch.collect()])
        return text_pairs

    def _check_media(self) -> list:
        from nomenklatura_spark.multimodal.dhash import media_dedup_pairs

        assets = self.spark.createDataFrame(
            list(self.seq.assets.items()), "asset_id long, payload binary")
        media_pairs = [tuple(r)
                       for r in self.state["media_index"].pairs().collect()]
        rows_equal("media_index pairs", media_pairs,
                   [tuple(r) for r in media_dedup_pairs(assets).collect()])
        return media_pairs

    def _check_blocking(self) -> None:
        from nomenklatura_spark.functions.tokenize import tokenize_statements
        from nomenklatura_spark.operators.blocker import (
            token_entries,
            token_schema_counts,
        )
        from nomenklatura_spark.sources.entity_json import read_entity_file

        block = self.state["blocking_index"]
        live_path = os.path.join(self.work, "data", "live_entities.jsonl")
        with open(live_path, "w", encoding="utf-8") as fh:
            for entity in self.seq.entities.values():
                fh.write(json.dumps(entity, ensure_ascii=False) + "\n")
        entries = token_entries(
            tokenize_statements(read_entity_file(self.spark, live_path)))
        cols = ["schema", "id", "field", "token", "count"]
        rows_equal("blocking_index entries",
                   block.entries().select(cols).collect(),
                   entries.select(cols).collect())
        tcols = ["token", "schema", "df", "freq"]
        rows_equal("blocking_index tsc", block.tsc().select(tcols).collect(),
                   token_schema_counts(entries).select(tcols).collect())

    def recall(self) -> float:
        return self.recall_value


def _version_files(root: str) -> dict:
    """Files of the current version of every relation of one state:
    how many were hardlinked from the previous version (link count above
    1), how many were written, and their total bytes."""
    with open(os.path.join(root, "VERSION")) as fh:
        version = fh.read().split()[0]
    linked = written = size = 0
    for rel in os.listdir(root):
        vdir = os.path.join(root, rel, f"v{version}")
        if not os.path.isdir(vdir):
            continue
        for dirpath, _, files in os.walk(vdir):
            for fname in files:
                if not fname.endswith(".parquet"):
                    continue
                st = os.stat(os.path.join(dirpath, fname))
                size += st.st_size
                if st.st_nlink > 1:
                    linked += 1
                else:
                    written += 1
    return {"files_linked": linked, "files_rewritten": written,
            "state_bytes": size}
