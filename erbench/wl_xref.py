"""``xref`` workload: one fresh entity shard per unit through the paper's
batch job.

A unit reads a shard of FtM entity JSON (``sources.entity_json``), scores
blocked candidate pairs with LogicV2 (``plans.xref.xref_pairs``), writes
the candidates, auto-decides the pairs at or above ``AUTO_THRESHOLD``
(``resolver.edges.decide_bulk``), builds the canonical mapping
(``resolver_mapping``), re-keys the statements (``resolver.linker``) and
writes them. An item is one input entity.
"""

from __future__ import annotations

import contextlib
import os

import gen
from common import log_unit
from checks import (
    mapping_partition,
    require,
    union_find_partition,
)

N_BASE = 200           # ds_a entities per shard (320 entities in all)
MAX_PAIRS = 2_000      # the blocker's global top-K pair budget
AUTO_THRESHOLD = 0.7
RECALL_FLOOR = 0.6

# (name under plans.xref, layer) pairs wrapped in a traced unit
_TRACED = (
    ("tokenize_statements", "tokenize"),
    ("token_entries", "tokenize"),
    ("build_token_stats", "blocker"),
    ("term_frequencies", "blocker"),
    ("candidate_pairs", "blocker"),
    ("entity_features", "pairs"),
    ("assemble_pairs", "pairs"),
)

_EDGE_SCHEMA = ("target string, source string, judgement string, "
                "score double, user string, created_at string, "
                "deleted_at string")


class XrefWorkload:
    name = "xref"
    # two shards a round: the first warm unit is still on the JIT's
    # warm-up slope, so one alone reads high and spreads wide
    round_units = 2
    # a traced unit materializes every layer's output inside its span
    trace_changes_plan = True
    layers = ("read", "tokenize", "blocker", "pairs", "matching",
              "resolver", "linker")

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.stats = {"recall_found": 0, "recall_total": 0}
        self.unit_info: dict[int, dict] = {}

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """The warm-up: one shard through the whole unit, discarded."""
        self.unit(-1)

    # -- one unit ----------------------------------------------------------

    def unit(self, i: int, traced: bool = False) -> int:
        from pyspark.sql import functions as F

        from nomenklatura_spark.plans.xref import XrefOptions, xref_pairs
        from nomenklatura_spark.resolver.edges import (
            POSITIVE,
            decide_bulk,
            normalize_pairs,
            resolver_mapping,
        )
        from nomenklatura_spark.resolver.linker import apply_linker
        from nomenklatura_spark.sources.entity_json import read_entity_file

        spark, span = self.spark, self.tracer.span
        path = os.path.join(self.work, "data", f"shard{i}.jsonl")
        # input generation is the benchmark's own work, outside the unit
        truth = gen.xref_shard(self.seed, i, path, N_BASE)
        out = os.path.join(self.work, "data", f"out{i}")
        rows_out: dict = {}
        with span("unit", always=True, cpu=True) as unit_span:
            unit_span.counts.update(unit=i, traced=traced)
            with span("read"):
                stmts = read_entity_file(spark, path)
                if traced:
                    stmts = stmts.localCheckpoint(eager=True)
            options = XrefOptions(algorithm="logic-v2", max_pairs=MAX_PAIRS)
            with (_traced_layers(span, rows_out) if traced
                  else contextlib.nullcontext()):
                scored = xref_pairs(spark, stmts, options=options)
            with span("matching"):
                scored = scored.localCheckpoint(eager=True)
                scored.select("lid", "rid", "block_score", "score").write.parquet(
                    os.path.join(out, "candidates"))
            with span("resolver"):
                decisions = normalize_pairs(
                    scored.where(F.col("score") >= AUTO_THRESHOLD).select(
                        F.col("lid").alias("left"),
                        F.col("rid").alias("right"), "score")
                ).select("target", "source", F.lit(POSITIVE).alias("judgement"),
                         "score", F.lit("erbench").alias("user"))
                empty = spark.createDataFrame([], _EDGE_SCHEMA)
                edges = decide_bulk(empty, decisions, "2024-01-01T00:00:00")
                mapping = resolver_mapping(edges).localCheckpoint(eager=True)
            with span("linker"):
                apply_linker(stmts, mapping).write.parquet(
                    os.path.join(out, "statements"))
        items = self._check(i, out, scored, edges, mapping, truth)
        self.unit_info[i]["rows_out"] = rows_out.get("token_entries", 0)
        unit_span.counts["items"] = items
        log_unit(i, unit_span)
        return items

    # -- checks (outside the unit wall) -------------------------------------

    def _check(self, i, out, scored, edges, mapping, truth) -> int:
        import pyarrow.parquet as pq

        pairs = scored.select("lid", "rid", "score").collect()
        require(all(0.0 <= r.score <= 1.0 for r in pairs),
                f"unit {i}: a score outside [0, 1]")
        decided = [(r.target, r.source)
                   for r in edges.where("deleted_at IS NULL").collect()]
        auto = {tuple(sorted((r.lid, r.rid))) for r in pairs
                if r.score >= AUTO_THRESHOLD}
        require(auto == {tuple(sorted(p)) for p in decided},
                f"unit {i}: decided edges differ from the pairs above the "
                "threshold")
        rows = [(r.node, r.canonical_id) for r in mapping.collect()]
        require(mapping_partition(rows) == union_find_partition(decided),
                f"unit {i}: resolver_mapping partition differs from a "
                "union-find over the decided edges")
        canon = dict(rows)
        table = pq.read_table(os.path.join(out, "statements"),
                              columns=["entity_id", "canonical_id"])
        n_entities = set()
        for eid, cid in zip(*(c.to_pylist() for c in table.columns)):
            n_entities.add(eid)
            require(cid == canon.get(eid, eid),
                    f"unit {i}: statement of {eid} keyed {cid}")
        candidates = {tuple(sorted((r.lid, r.rid))) for r in pairs}
        found = len(truth & auto)
        require(found >= RECALL_FLOOR * len(truth),
                f"unit {i}: recall {found}/{len(truth)} below the floor")
        self.unit_info[i] = {
            "pairs_out": len(candidates),
            "planted_share": len(truth & candidates) / max(len(candidates), 1),
        }
        if i >= 0:
            self.stats["recall_found"] += found
            self.stats["recall_total"] += len(truth)
        return len(n_entities)

    def finish(self) -> None:
        pass

    def recall(self) -> float:
        return self.stats["recall_found"] / max(self.stats["recall_total"], 1)


@contextlib.contextmanager
def _traced_layers(span, rows_out: dict):
    """Wrap the layer functions ``xref_pairs`` calls so each runs inside
    its layer's span and its result is materialized there; the token
    entry count goes to ``rows_out["token_entries"]``."""
    import nomenklatura_spark.matching as matching
    import nomenklatura_spark.plans.xref as xref_mod

    def wrap(fn, layer):
        def traced(*args, **kwargs):
            with span(layer):
                out = fn(*args, **kwargs)
                if hasattr(out, "localCheckpoint"):
                    out = out.localCheckpoint(eager=True)
                    if fn.__name__ == "token_entries":
                        rows_out["token_entries"] = out.count()
                return out
        return traced

    saved = {name: getattr(xref_mod, name) for name, _ in _TRACED}
    scorer = matching.ALGORITHMS["logic-v2"]
    try:
        for name, layer in _TRACED:
            setattr(xref_mod, name, wrap(saved[name], layer))
        matching.ALGORITHMS["logic-v2"] = wrap(scorer, "matching")
        yield
    finally:
        for name, fn in saved.items():
            setattr(xref_mod, name, fn)
        matching.ALGORITHMS["logic-v2"] = scorer
