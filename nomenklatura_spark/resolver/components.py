"""G1 — connected components over the positive-judgement edge graph.

Reference semantics (``nomenklatura/resolver/linker.py:20-45``): positive
edges define clusters; each cluster's canonical id is its maximum member
under the identifier ordering (weight, id) — plain ids < ``NK-`` canonicals
< Wikidata QIDs (``resolver/identifier.py:16-29``).

Implementation: every component is labeled with its minimum member id,
computed one of two ways with bit-identical labels.

- Bounded driver path: one collect of at most ``DRIVER_CC_MAX_EDGES + 1``
  rows of the edge list, read through a lazy local checkpoint of it
  (``_bounded_rows``); at or below the bound a union-find on the driver
  labels the components and the mapping returns as a one-partition
  local relation.  A micro-batch's (contracted) pair graph always fits,
  and there the per-round cost of a distributed formulation is pure
  job-scheduling overhead: every contraction level pays a checkpoint,
  an emptiness probe and one job per shuffle.
- Distributed path, above the bound: the collect stops after the first
  ``DRIVER_CC_MAX_EDGES + 1`` rows and Spark completes the checkpoint,
  so the edge list's upstream plan still runs once and the contraction
  reads the checkpoint.  Large-star/small-star-style star
  contraction on DataFrames (the standard Spark CC formulation from the
  "Connected Components in MapReduce and Beyond" paper lineage,
  simplified to repeated min-neighbor joins with AQE handling skew).
  Each level is one aggregation plus a contraction join, both
  shuffling on the node id; localCheckpoint truncates the lineage each
  level so the plan doesn't grow exponentially at scale.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DataType, StructField, StructType

from nomenklatura_spark.operators.id_sets import (
    local_relation,
    with_ids,
    without_ids,
)

# Edge-count bound of the driver path (module docstring).  A constant,
# not a setting, like ``STATE_BUCKETS``.  Measured on a 4-core VM
# (local[4], clustered string-id graphs read from parquet, median of 3
# warm runs): the driver path takes 0.27 / 0.56 / 1.05 / 3.55 / 14.0 s
# at 1k / 10k / 50k / 200k / 1M edges, the star contraction 2.7 / 3.6 /
# 5.0 / 9.8 / 37.1 s.  On one machine the driver path wins at every size
# measured, so the bound is set by driver memory, whose work a cluster
# cannot spread: the Python driver's peak RSS grows by ~120 MB at 200k
# edges and by ~580 MB at 1M.
DRIVER_CC_MAX_EDGES = 200_000


def identifier_weight(col) -> "F.Column":
    """Canonical-identifier precedence (reference resolver/identifier.py:16-29):
    QIDs (Q\\d+) weight 3, NK- canonicals weight 2, plain ids weight 1."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.rlike(r"^Q\d+$"), F.lit(3))
        .when(c.startswith("NK-"), F.lit(2))
        .otherwise(F.lit(1))
    )


def _min_labels(g: DataFrame) -> DataFrame:
    """Per node: label = min(own id, min neighbor id). ``g`` must be
    symmetric, so every node appears on the ``a`` side."""
    return (
        g.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(F.col("a").alias("node"), F.least("a", "_mb").alias("label"))
    )


def _contract(g: DataFrame, labels: DataFrame) -> DataFrame:
    """Map both endpoints through the label map and keep surviving
    inter-label edges. Merging only ever happens along edges, so
    connectivity of the contracted graph mirrors the original."""
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    return (
        g.join(la, "a")
        .join(lb, "b")
        .select(F.col("_la").alias("a"), F.col("_lb").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _pointer_jump(m: DataFrame) -> DataFrame:
    """label := label(label) where defined — one round of pointer jumping,
    so chain-shaped merges resolve in O(log chain) levels instead of
    O(chain)."""
    mm = m.select(F.col("node").alias("label"), F.col("label").alias("_nl"))
    return m.join(mm, "label", "left").select(
        "node", F.coalesce("_nl", "label").alias("label")
    )


def _bounded_rows(df: DataFrame) -> tuple[list | None, DataFrame]:
    """(rows, checkpoint of ``df``): ``rows`` is every row of ``df``
    when it holds at most ``DRIVER_CC_MAX_EDGES`` rows, else None.

    One action either way, and ``df``'s plan runs once: the collect
    reads a lazy ``localCheckpoint`` of ``df`` through one partition
    and stops after ``DRIVER_CC_MAX_EDGES + 1`` rows.  Every partition
    it reads is stored in full, and when it stops early Spark computes
    the partitions it did not reach (the checkpoint's own job), so the
    returned checkpoint lets the distributed path reuse ``df`` without
    running its upstream again."""
    ck = df.localCheckpoint(eager=False)
    rows = ck.coalesce(1).limit(DRIVER_CC_MAX_EDGES + 1).collect()
    return (rows if len(rows) <= DRIVER_CC_MAX_EDGES else None), ck


def _min_label_union_find(pairs: Iterable[tuple]) -> dict:
    """node -> min member id of its component, over undirected pairs.
    The union hangs the larger root under the smaller, so every root is
    its component's minimum.  Python orders ``str`` by code point, which
    is Spark's UTF-8 binary order, and ints numerically, like longs — so
    the labels equal the distributed path's."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def _id_schema(names: tuple[str, ...], dtype: DataType) -> StructType:
    return StructType([StructField(n, dtype, True) for n in names])


def connected_components(
    edges: DataFrame, src: str = "source", dst: str = "target"
) -> DataFrame:
    """Every node gets component = min (lexicographic) reachable node
    id.  Returns (node, component), typed like the endpoints.

    Up to ``DRIVER_CC_MAX_EDGES`` non-null edges, a union-find on the
    driver computes the labels (module docstring).  Above it, star
    contraction (hash-to-min lineage): each level contracts every node
    into its min-neighbor label and recurses on the (strictly
    shrinking) inter-label edge set until it is empty, so the full edge
    relation is shuffled only at level 0 — the levels after that run on
    cluster-count-sized frames, which AQE coalesces and auto-broadcasts;
    at 100 TB the per-level cost decays geometrically instead of
    re-shuffling the world per round.  ER merge graphs are shallow
    (FIXTURES.md: clusters of 2-50), so levels ≈ 2-3; a pointer jump
    per level keeps pathological chains at O(log) levels.

    Deterministic and engine-independent: min-id labeling needs no tie
    rules. Use ``canonical_ids`` on top to pick the reference's
    max-(weight, id) canonical per component.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    rows, e = _bounded_rows(e)
    if rows is not None:
        labels = _min_label_union_find(rows)
        return local_relation(
            e.sparkSession, sorted(labels.items()),
            _id_schema(("node", "component"), e.schema["a"].dataType),
        )
    # Undirected: symmetrize once. Materialize — the edge set is read
    # several times below and its lineage may be an arbitrarily expensive
    # upstream pipeline (e.g. a similarity join).
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.distinct().localCheckpoint(eager=True)

    # Level 0 over the full graph: node-level label map, contracted edges.
    labels = _min_labels(sym)
    g = _contract(sym, labels).localCheckpoint(eager=True)
    while not g.isEmpty():
        # Contracted-level map (cluster-count-sized, not corpus-sized).
        m = _pointer_jump(_min_labels(g))
        # Fold the level's relabeling into the node-level composition.
        step = m.select(F.col("node").alias("label"), F.col("label").alias("_nl"))
        labels = labels.join(step, "label", "left").select(
            "node", F.coalesce("_nl", "label").alias("label")
        )
        g = _contract(g, m).localCheckpoint(eager=True)
    return labels.select("node", F.col("label").alias("component"))


def fold_components_incremental(
    prev: DataFrame,
    new_pairs: DataFrame,
    merged_pairs: DataFrame | None = None,
    changed: DataFrame | None = None,
) -> DataFrame:
    """Fold one batch's pairs into a maintained (node, component)
    mapping — the incremental leg of the dedup indexes (§2.12).

    CONTRACT on ``prev`` (ADVICE r11): its ``component`` labels must be
    MIN-MEMBER NODE IDS — i.e. ``prev`` is the output of
    ``connected_components`` or of this fold itself.  The merge case's
    exactness rests on every label being a node of its own component
    (the relabel join reaches old components through their label) and
    on min-label composition; a differently-labeled mapping (e.g.
    ``canonical_ids`` output, whose labels are max-(weight, id)) would
    silently produce wrong components.  The dedup indexes only ever
    feed this function its own output, so the invariant holds by
    construction rather than by a per-fold assertion (checking "every
    label is a member node" would cost a mapping-sized join per fold).

    Merge case (``changed`` is None — nothing was retracted): pairs are
    append-only, so components can only MERGE.  The batch pairs are
    CONTRACTED through the previous mapping first (endpoint → its old
    component; endpoints the mapping has never seen ride as
    themselves), CC runs on that BATCH-sized component graph alone, and
    the previous mapping is composed with the resulting relabel map in
    one broadcast join — the mapping itself never re-enters CC's
    symmetrize/contract shuffles (r11: the earlier shape ran CC over
    the star-compressed mapping plus the batch, re-shuffling
    O(mapping) every fold; this one shuffles O(batch) and touches the
    mapping with a single map-side join).  Exact by the contraction
    argument: CC of the quotient graph mirrors CC of old ∪ new (merges
    only happen along edges), and min-id labels compose — an old
    component's label IS its minimum member id, so the min over a
    merged group's component labels and raw new ids equals the min
    over all its members, bit-identical to a from-scratch run
    (pytest-pinned incremental-equals-scratch in
    ``tests/test_dedup_index.py`` / ``tests/test_media_index.py``).

    Split case (``changed`` = the ids whose signatures changed this
    fold, their stale pairs already RETRACTED from ``merged_pairs``):
    retraction can SPLIT components, which no merge fold can express —
    the reference's G10 rule (deleted positive judgements force a
    rebuild of the affected clusters,
    ``/root/reference/nomenklatura/resolver/resolver.py:130-173``)
    bounded to the components it names: affected = components holding a
    changed id or a new-pair endpoint; only those are re-derived from
    ``merged_pairs`` (the live log).  The affected node set A is
    EDGE-CLOSED under the live log — a kept old pair's endpoints
    shared an old component (the mapping is CC over the old log), so
    one endpoint in A puts both there, and a new pair's endpoints are
    marked by construction — hence CC over the live log decomposes into
    CC(edges within A) ⊎ CC(edges outside A), the outside part IS the
    previous mapping restricted to unaffected components, and min-id
    labels agree piecewise: the bounded rebuild is bit-identical to a
    from-scratch run over the live log (pytest-pinned in
    ``tests/test_media_index.py`` / ``tests/test_dedup_index.py``).

    Driver path (module docstring): while the batch-sized sets fit under
    ``DRIVER_CC_MAX_EDGES``, both cases are computed on the driver.  The
    merge case collects the contraction rows (lid, rid, _lc, _rc) once,
    runs the union-find over the contracted pairs, and relabels ``prev``
    through a broadcast local relation of the labels that changed, plus
    local rows for the endpoints whose map join missed.  The split case
    collects the endpoints, the affected labels and their members
    (``prev`` filtered by ``with_ids``) and relabels only the live pairs
    inside that node set.  Each bounded collect that overflows falls
    back to the distributed plan below, with identical labels
    (``tests/test_components_driver.py`` pins both paths).  The
    fallback reads the contraction rows and the endpoints from the
    checkpoints their collects left, so their plans run once; an
    overflowing collect of the affected labels or members has cost one
    extra filtered scan of ``prev``.
    """
    if changed is None:
        lmap = prev.select(
            F.col("node").alias("lid"), F.col("component").alias("_lc")
        )
        rmap = prev.select(
            F.col("node").alias("rid"), F.col("component").alias("_rc")
        )
        cj = (
            new_pairs.select("lid", "rid")
            .join(lmap, "lid", "left")
            .join(rmap, "rid", "left")
            .select("lid", "rid", "_lc", "_rc")
        )
        rows, cj = _bounded_rows(cj)
        if rows is not None:
            return _merge_on_driver(prev, rows)
        contracted = cj.select(
            F.coalesce("_lc", "lid").alias("lid"),
            F.coalesce("_rc", "rid").alias("rid"),
        )
        # batch-sized CC over the component graph; every old component
        # id is itself a node of ``prev`` (label = min member), so the
        # relabel step below reaches it through its component column
        merge_labels = connected_components(
            contracted, src="lid", dst="rid"
        )
        step = merge_labels.select(
            F.col("node").alias("component"),
            F.col("component").alias("_nc"),
        )
        relabeled = prev.join(step, "component", "left").select(
            "node", F.coalesce("_nc", "component").alias("component")
        )
        # endpoints the previous mapping had never seen enter as new
        # rows — identified at contraction time (their map join missed),
        # so no anti-join against the mapping-sized relation is needed
        new_ids = (
            cj.where(F.col("_lc").isNull())
            .select(F.col("lid").alias("node"))
            .union(
                cj.where(F.col("_rc").isNull()).select(
                    F.col("rid").alias("node")
                )
            )
            .distinct()
        )
        new_nodes = merge_labels.join(new_ids, "node", "semi").select(
            "node", "component"
        )
        return relabeled.unionByName(new_nodes)
    if merged_pairs is None:
        raise ValueError(
            "fold_components_incremental: the split case needs the "
            "retracted-and-refreshed pair log (merged_pairs)"
        )
    cid = changed.columns[0]
    endpoints = (
        changed.select(F.col(cid).alias("node"))
        .unionByName(new_pairs.select(F.col("lid").alias("node")))
        .unionByName(new_pairs.select(F.col("rid").alias("node")))
    )
    ep, endpoints = _bounded_rows(endpoints)
    split = None if ep is None else _split_on_driver(prev, ep, merged_pairs)
    if split is not None:
        return split
    endpoints = endpoints.distinct()
    affected = (
        prev.join(endpoints, "node", "semi").select("component").distinct()
    )
    unaffected = prev.join(affected, "component", "left_anti")
    # A is edge-closed (docstring), so one anti-join on lid drops
    # exactly the outside edges
    rebuild_edges = merged_pairs.select("lid", "rid").join(
        unaffected.select(F.col("node").alias("lid")), "lid", "left_anti"
    )
    rebuilt = connected_components(rebuild_edges, src="lid", dst="rid")
    return unaffected.select("node", "component").unionByName(
        rebuilt.select("node", "component")
    )


def _merge_on_driver(prev: DataFrame, rows: list) -> DataFrame:
    """The merge case from the collected contraction rows (lid, rid,
    _lc, _rc): union-find over the contracted pairs, then ``prev``
    relabeled through the components whose label changed (a broadcast
    join, no exchange) plus the rows of endpoints ``prev`` never held
    (their map join missed)."""
    rows = [r for r in rows if r[0] is not None and r[1] is not None]
    labels = _min_label_union_find(
        (l if lc is None else lc, r if rc is None else rc)
        for l, r, lc, rc in rows
    )
    old = {c for _, _, lc, rc in rows for c in (lc, rc) if c is not None}
    step = sorted((c, labels[c]) for c in old if labels[c] != c)
    fresh = {l for l, _, lc, _ in rows if lc is None}
    fresh |= {r for _, r, _, rc in rows if rc is None}
    spark, dtype = prev.sparkSession, prev.schema["node"].dataType
    out = prev.select("node", "component")
    if step:
        out = out.join(
            F.broadcast(
                local_relation(
                    spark, step, _id_schema(("component", "_nc"), dtype)
                )
            ),
            "component",
            "left",
        ).select("node", F.coalesce("_nc", "component").alias("component"))
    if fresh:
        out = out.unionByName(
            local_relation(
                spark, sorted((x, labels[x]) for x in fresh),
                _id_schema(("node", "component"), dtype),
            )
        )
    return _partitioned_like(prev, out)


def _partitioned_like(prev: DataFrame, out: DataFrame) -> DataFrame:
    """``out`` (``prev``'s partitions plus one local partition) merged
    back into as many partitions as ``prev`` — a narrow coalesce, so the
    maintained mapping's file count does not grow fold by fold."""
    return out.coalesce(max(1, prev.rdd.getNumPartitions()))


def _split_on_driver(
    prev: DataFrame, endpoints: list, merged_pairs: DataFrame
) -> DataFrame | None:
    """The split case from driver sets, or None when one of them is over
    the bound.  ``endpoints`` are the collected endpoint rows; the
    affected component labels and their member nodes are each one more
    bounded collect of ``prev`` filtered by the set before (``with_ids``);
    the rebuild edges are the live pairs whose lid lies in the affected
    node set or is a new endpoint, and ``connected_components`` relabels
    them (its own driver path)."""
    ep = {r[0] for r in endpoints if r[0] is not None}
    if not ep:
        return prev.select("node", "component")
    hit, _ = _bounded_rows(with_ids(prev, sorted(ep), "node").select("component"))
    if hit is None:
        return None
    comps = sorted({r[0] for r in hit})
    members: list | None = []
    if comps:
        members, _ = _bounded_rows(
            with_ids(prev, comps, "component").select("node")
        )
    if members is None:
        return None
    area = sorted(ep | {r[0] for r in members})
    rebuilt = connected_components(
        with_ids(merged_pairs, area, "lid"), src="lid", dst="rid"
    )
    unaffected = without_ids(
        prev.select("node", "component"), comps, ("component",)
    )
    return _partitioned_like(prev, unaffected.unionByName(rebuilt))


def canonical_ids(components: DataFrame) -> DataFrame:
    """Pick each component's canonical id = max(identifier weight, id)
    member (reference linker.py:20-36), and emit the (node → canonical)
    mapping ready for the linker broadcast join."""
    canon = (
        components.groupBy("component")
        .agg(
            F.max(
                F.struct(
                    identifier_weight("node").alias("w"), F.col("node").alias("id")
                )
            )["id"].alias("canonical_id")
        )
    )
    return components.join(canon, "component").select("node", "canonical_id")
