"""The bounded driver path of ``resolver/components.py`` against the
distributed star contraction it stands in for: with the edge bound
forced to 0 every call takes the distributed path, so the two must give
bit-identical mappings — on random graphs, at the bound's edge, in both
cases of the incremental fold, and through whole dedup and media folds,
where the driver path must also submit strictly fewer Spark jobs.  The
whole folds also run with every id-set filter as a broadcast join
(``LITERAL_IDS_MAX`` forced to 0) and must give the same state."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nomenklatura_spark.multimodal.decode import encode_bmp, encode_ppm
from nomenklatura_spark.operators import id_sets
from nomenklatura_spark.resolver import components
from nomenklatura_spark.resolver.components import (
    connected_components,
    fold_components_incremental,
)
from nomenklatura_spark.streaming.dedup_index import DedupIndexState
from nomenklatura_spark.streaming.media_index import MediaDedupIndexState
from nomenklatura_spark.streaming.state import run_concurrently

PROPS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# code-point order differs from UTF-16 order between U+FF21 and a
# supplementary character; Spark and Python both order by code point
STR_IDS = st.sampled_from(
    ["a", "b", "ab", "B", "é", "ß", "日本", "Ａ", "\U0001F600", "z9"]
)
LONG_IDS = st.sampled_from([-(2**63), -7, 0, 3, 2**31, 2**40 + 1, 2**63 - 1])


@st.composite
def graphs(draw, ids):
    """Edge lists mixing random edges with a chain and a star, plus
    self-loops, duplicates and reversed copies."""
    nodes = draw(st.lists(ids, min_size=1, max_size=8, unique=True))
    node = st.sampled_from(nodes)
    edges = draw(st.lists(st.tuples(node, node), max_size=10))
    if draw(st.booleans()):
        edges += list(zip(nodes, nodes[1:]))  # chain
    if draw(st.booleans()):
        edges += [(nodes[0], n) for n in nodes[1:]]  # star
    if edges and draw(st.booleans()):
        edges += [edges[0], edges[0][::-1]]  # duplicate + reversed
    return edges


def _mapping(df) -> list:
    return sorted(map(tuple, df.select("node", "component").collect()))


def _both_paths(monkeypatch, fn):
    """(default-bound result, forced-distributed result) of ``fn()``."""
    driver = fn()
    with monkeypatch.context() as m:
        m.setattr(components, "DRIVER_CC_MAX_EDGES", 0)
        distributed = fn()
    return driver, distributed


def _edges_df(spark, edges, dtype):
    return spark.createDataFrame(edges, f"source {dtype}, target {dtype}")


@pytest.mark.parametrize("ids,dtype", [(STR_IDS, "string"), (LONG_IDS, "long")])
def test_driver_cc_matches_distributed(spark, monkeypatch, ids, dtype):
    @PROPS
    @given(graphs(ids))
    def check(edges):
        df = _edges_df(spark, edges, dtype)
        driver, distributed = _both_paths(
            monkeypatch, lambda: _mapping(connected_components(df))
        )
        assert driver == distributed

    check()


def test_driver_cc_types_and_partitions(spark):
    """Typed like the input, nulls dropped, one partition (one file)."""
    df = spark.createDataFrame(
        [(5, 3), (3, None), (9, 9)], "source long, target long"
    )
    out = connected_components(df)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "bigint"
    ]
    assert out.rdd.getNumPartitions() == 1
    assert _mapping(out) == [(3, 3), (5, 3), (9, 9)]


@pytest.mark.parametrize("n_edges,driver", [(4, True), (5, False)])
def test_bound_boundary(spark, monkeypatch, n_edges, driver):
    """Exactly N edges stay on the driver; N + 1 go distributed.  Both
    give the same chain mapping."""
    calls = []
    real = components._min_label_union_find
    monkeypatch.setattr(components, "DRIVER_CC_MAX_EDGES", 4)
    monkeypatch.setattr(
        components,
        "_min_label_union_find",
        lambda pairs: calls.append(1) or real(pairs),
    )
    edges = [(f"n{i}", f"n{i + 1}") for i in range(n_edges)]
    got = _mapping(connected_components(_edges_df(spark, edges, "string")))
    assert bool(calls) == driver
    assert got == [(f"n{i}", "n0") for i in range(n_edges + 1)]


@st.composite
def fold_cases(draw):
    """(old log, new pairs, changed ids) over a small id space; the
    changed ids are drawn from the old log's nodes."""
    ids = st.sampled_from([f"n{i}" for i in range(12)])
    pair = st.tuples(ids, ids).filter(lambda p: p[0] != p[1])
    old = draw(st.lists(pair, min_size=1, max_size=10))
    new = draw(st.lists(pair, max_size=6))
    nodes = sorted({n for p in old for n in p})
    changed = draw(st.lists(st.sampled_from(nodes), max_size=3, unique=True))
    return old, new, changed


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "lid string, rid string")


@PROPS
@given(fold_cases())
def test_fold_merge_and_split_match_distributed(spark, monkeypatch, case):
    old, new, changed = case
    prev = connected_components(_pairs_df(spark, old), "lid", "rid")
    prev = prev.localCheckpoint()
    new_df = _pairs_df(spark, new)
    live = [p for p in old if not set(p) & set(changed)] + new

    def merge():
        return _mapping(fold_components_incremental(prev, new_df))

    def split():
        return _mapping(
            fold_components_incremental(
                prev,
                new_df,
                merged_pairs=_pairs_df(spark, live),
                changed=spark.createDataFrame(
                    [(c,) for c in changed], "id string"
                ),
            )
        )

    m_driver, m_dist = _both_paths(monkeypatch, merge)
    assert m_driver == m_dist
    assert m_driver == _mapping(
        connected_components(_pairs_df(spark, old + new), "lid", "rid")
    )
    s_driver, s_dist = _both_paths(monkeypatch, split)
    assert s_driver == s_dist
    assert s_driver == _mapping(
        connected_components(_pairs_df(spark, live), "lid", "rid")
    )


def test_run_concurrently_inherits_caller_tags(spark):
    """Pool threads carry the caller's job group and ``nk.*`` tags, and
    never its SQL execution id."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "nk.layer", "spark.sql.execution.id")
    sc.setJobGroup("g-tags", "tag test")
    sc.setLocalProperty("nk.layer", "probe")
    sc.setLocalProperty("spark.sql.execution.id", "12345")
    try:
        seen = run_concurrently(
            *(lambda: [sc.getLocalProperty(k) for k in keys],) * 2
        )
    finally:
        for k in keys:
            sc.setLocalProperty(k, None)
    assert seen == [["g-tags", "probe", None]] * 2


# -- whole folds on both paths ----------------------------------------------

DOC_SCHEMA = "doc_id string, text string"
BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "a slow tune in the warm evening air near the old harbor wall"
)
DOCS = [
    [
        ("a1", BASE),
        ("a2", BASE + " with one extra clause appended at the end"),
        ("a3", "completely different text about spark query planning"),
    ],
    [
        ("b1", BASE + " and a slightly different extra clause at the end"),
        ("b2", "another unrelated document mentioning codegen"),
        ("a2", "totally unrelated replacement text about storage engines"),
        ("a3", BASE + " rewritten to now duplicate the base document"),
    ],
]


def _px(seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(12, 20, 3), dtype=np.uint8)


ASSETS = [
    [(1, encode_bmp(_px(1))), (2, encode_ppm(_px(1))), (3, encode_bmp(_px(3)))],
    [
        (11, encode_ppm(_px(1))),
        (12, encode_bmp(_px(7))),
        (13, encode_ppm(_px(7))),
        (2, encode_bmp(_px(99))),  # changed: splits {1, 2, 11}
        (3, encode_bmp(_px(3))),  # unchanged re-ingest
    ],
]


_GROUPS = itertools.count()  # job-group names are never reused in a session


def _fold_all(spark, state, batches, make_df, gone):
    """Fold ``batches``, then delete ``gone``; the Spark jobs submitted.
    The status tracker is filled by the listener bus on its own thread,
    so the bus is drained first or the last jobs may not be counted."""
    sc = spark.sparkContext
    group = f"fold-{next(_GROUPS)}"
    sc.setJobGroup(group, "fold guard")
    try:
        for rows in batches:
            state.apply_batch(make_df(rows))
        state.delete(gone)
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", ["dedup", "media"])
def test_fold_state_identical_and_fewer_jobs(spark, monkeypatch, tmp_path, kind):
    if kind == "dedup":
        rels = ("signatures", "bands", "pairs", "components")
        new_state = lambda d: DedupIndexState(spark, d, threshold=0.3)  # noqa: E731
        batches = DOCS
        make_df = lambda rows: spark.createDataFrame(rows, DOC_SCHEMA)  # noqa: E731
        gone = spark.createDataFrame([("a1",)], "doc_id string")
    else:
        rels = ("signatures", "pairs", "components", "band_counts")
        new_state = lambda d: MediaDedupIndexState(spark, d)  # noqa: E731
        batches = ASSETS
        make_df = lambda rows: spark.createDataFrame(  # noqa: E731
            [(i, bytearray(p)) for i, p in rows], "asset_id long, payload binary"
        )
        gone = spark.createDataFrame([(1,)], "asset_id long")
    driver = new_state(str(tmp_path / "driver"))
    jobs_driver = _fold_all(spark, driver, batches, make_df, gone)
    with monkeypatch.context() as m:
        m.setattr(components, "DRIVER_CC_MAX_EDGES", 0)
        dist = new_state(str(tmp_path / "distributed"))
        jobs_dist = _fold_all(spark, dist, batches, make_df, gone)
    with monkeypatch.context() as m:
        m.setattr(id_sets, "LITERAL_IDS_MAX", 0)
        joins = new_state(str(tmp_path / "joins"))
        _fold_all(spark, joins, batches, make_df, gone)
    for rel in rels:
        a = sorted(map(tuple, getattr(driver, rel)().collect()))
        assert a == sorted(map(tuple, getattr(dist, rel)().collect())), rel
        assert a == sorted(map(tuple, getattr(joins, rel)().collect())), rel
    assert len(sorted(driver.components().collect())) > 0
    assert jobs_driver < jobs_dist, (jobs_driver, jobs_dist)
