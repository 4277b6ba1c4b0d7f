"""HyperLogLog sketch tier: exact-integer register algebra, the merge
identity (merge-of-parts == sketch-of-whole), estimation accuracy, and
the incrementally-maintained index (redelivery-safe by idempotence)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from nomenklatura_spark.operators.sketch import (
    hll_distinct,
    hll_estimate,
    hll_merge,
    hll_registers,
    hll_rho,
)
from nomenklatura_spark.streaming.hll_index import HllIndexState


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_rho_exact_on_crafted_hashes(spark):
    # p=8: bucket = low 8 bits, rank bits = the remaining 52.
    cases = [
        (1 << 59, 1),            # top rank bit set -> rho 1
        ((1 << 59) + 255, 1),    # bucket bits don't leak into the rank
        (1 << 8, 52),            # lowest non-zero rank bit -> rho 52
        (255, 53),               # rank bits all zero -> max rho
        ((1 << 30) + 7, 30),     # w = 2^22 -> len(bin) = 23 -> 53 - 23
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h long")
    got = [
        r[0]
        for r in df.select(hll_rho(F.col("h"), 8).alias("rho")).collect()
    ]
    assert got == [rho for _, rho in cases]


def test_merge_identity_and_idempotence(spark):
    rows = [("k", f"user-{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "key string, v string")
    direct = hll_registers(df, ["key"], "v")
    # split on an arbitrary predicate: merge of part-sketches == whole
    a = hll_registers(df.where(F.length("v") <= 6), ["key"], "v")
    b = hll_registers(df.where(F.length("v") > 6), ["key"], "v")
    merged = hll_merge(a, b)
    assert _sorted(merged) == _sorted(direct)
    # idempotence: folding a sketch into itself changes nothing
    assert _sorted(hll_merge(direct, direct, b)) == _sorted(direct)


def test_estimate_accuracy_and_exact_audit_columns(spark):
    n = 5000
    df = spark.createDataFrame(
        [("k", f"user-{i}") for i in range(n)], "key string, v string"
    )
    row = hll_distinct(df, ["key"], "v").collect()[0]
    # 3 sigma for m=256 is ~19.5%
    assert abs(row["n_hll"] - n) / n < 3 * 1.04 / math.sqrt(256)
    # audit columns are exact integers consistent with the registers
    regs = hll_registers(df, ["key"], "v").collect()
    present = sum(1 << (53 - r["reg"]) for r in regs)
    zeros = 256 - len(regs)
    assert row["harmonic_q"] == present + zeros * (1 << 53)
    assert row["zeros"] == zeros


def test_small_range_uses_linear_counting(spark):
    df = spark.createDataFrame(
        [("k", f"u{i}") for i in range(40)], "key string, v string"
    )
    row = hll_distinct(df, ["key"], "v").collect()[0]
    expect = 256.0 * math.log(256.0 / row["zeros"])
    assert row["n_hll"] == round(expect, 4)
    assert abs(row["n_hll"] - 40) / 40 < 0.15


def test_hll_index_incremental_matches_scratch(spark, tmp_path):
    state = HllIndexState(spark, str(tmp_path / "state"))
    schema = "key string, v string"
    batches = [
        [("a", f"x{i}") for i in range(200)],
        [("a", f"y{i}") for i in range(100)] + [("b", f"x{i}") for i in range(50)],
        [("a", f"x{i}") for i in range(200)],  # pure overlap with batch 1
    ]
    seen: list[tuple] = []
    for batch in batches:
        seen.extend(batch)
        state.apply_batch(spark.createDataFrame(batch, schema), "key", "v")
        scratch = hll_registers(
            spark.createDataFrame(seen, schema), ["key"], "v"
        )
        assert _sorted(state.registers()) == _sorted(scratch)
    # read path: estimates off the maintained state == one-shot batch op
    assert _sorted(state.estimates()) == _sorted(
        hll_distinct(spark.createDataFrame(seen, schema), ["key"], "v").orderBy(
            "key"
        )
    )


def test_hll_index_redelivery_is_absorbed_by_algebra(spark, tmp_path):
    """Even BYPASSING the batch-id guard, re-folding a batch is a no-op:
    max-merge idempotence, not bookkeeping, carries correctness."""
    state = HllIndexState(spark, str(tmp_path / "state"))
    schema = "key string, v string"
    b1 = spark.createDataFrame([("a", f"x{i}") for i in range(100)], schema)
    state.apply_batch(b1, "key", "v")
    before = _sorted(state.registers())
    state.apply_batch(b1, "key", "v")  # no batch_id: guard not in play
    assert _sorted(state.registers()) == before


# ---------------------------------------------------------------------------
# count-min sketch


def test_cms_never_undercounts_and_is_often_exact(spark):
    from nomenklatura_spark.operators.sketch import cms_lookup, cms_sketch

    rows = (
        [("hot",)] * 500
        + [("warm",)] * 40
        + [(f"cold-{i}",) for i in range(300)]
    )
    df = spark.createDataFrame(rows, "v string")
    sk = cms_sketch(df, "v", depth=4, width=1024)
    items = spark.createDataFrame(
        [("hot",), ("warm",), ("cold-7",), ("never-seen",)], "v string"
    )
    got = {r["value"]: r["n_cms"] for r in cms_lookup(sk, items, "v").collect()}
    assert got["hot"] >= 500 and got["warm"] >= 40 and got["cold-7"] >= 1
    # sparse stream vs 4096 counters: the heavy key is exact w.h.p.
    assert got["hot"] <= 500 + 300 + 40
    # a never-inserted value can only collide, never go negative
    assert 0 <= got["never-seen"] <= 840


def test_cms_merge_is_additive(spark):
    from nomenklatura_spark.operators.sketch import (
        cms_lookup,
        cms_merge,
        cms_sketch,
    )

    a = spark.createDataFrame([("x",)] * 10 + [("y",)] * 3, "v string")
    b = spark.createDataFrame([("x",)] * 7 + [("z",)] * 2, "v string")
    merged = cms_merge(cms_sketch(a, "v"), cms_sketch(b, "v"))
    whole = cms_sketch(a.unionAll(b), "v")
    assert sorted(tuple(r) for r in merged.collect()) == sorted(
        tuple(r) for r in whole.collect()
    )


def test_cms_weighted_counts(spark):
    from nomenklatura_spark.operators.sketch import cms_lookup, cms_sketch

    df = spark.createDataFrame(
        [("x", 5), ("x", 2), ("y", 1)], "v string, w int"
    )
    sk = cms_sketch(df, "v", weight_col="w")
    got = {
        r["value"]: r["n_cms"]
        for r in cms_lookup(
            sk, spark.createDataFrame([("x",), ("y",)], "v string"), "v"
        ).collect()
    }
    assert got["x"] >= 7 and got["y"] >= 1


# ---------------------------------------------------------------------------
# randomized properties (a few Spark rounds each — small example budgets)

from hypothesis import given, settings
from hypothesis import strategies as st

_vals = st.lists(
    st.text(alphabet="abcdefg0123456789", min_size=1, max_size=8),
    min_size=0,
    max_size=60,
)


@settings(max_examples=5, deadline=None)
@given(_vals, st.integers(min_value=0, max_value=60))
def test_hll_merge_identity_random_splits(spark, vals, cut):
    """merge(sketch(prefix), sketch(suffix)) == sketch(whole) for ANY
    split point, including empty sides."""
    rows = [("k", v) for v in vals]
    schema = "key string, v string"
    cut = min(cut, len(rows))
    whole = hll_registers(spark.createDataFrame(rows, schema), ["key"], "v")
    merged = hll_merge(
        hll_registers(spark.createDataFrame(rows[:cut], schema), ["key"], "v"),
        hll_registers(spark.createDataFrame(rows[cut:], schema), ["key"], "v"),
    )
    assert _sorted(merged) == _sorted(whole)


@settings(max_examples=5, deadline=None)
@given(_vals)
def test_cms_one_sided_error_random_streams(spark, vals):
    """CMS estimates are >= the true count for EVERY value in the
    stream — the one-sided guarantee, on arbitrary multisets."""
    from collections import Counter

    from nomenklatura_spark.operators.sketch import cms_lookup, cms_sketch

    if not vals:
        return
    true = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    sk = cms_sketch(df, "v", depth=2, width=16)  # tiny: force collisions
    items = spark.createDataFrame([(v,) for v in true], "v string")
    got = {r["value"]: r["n_cms"] for r in cms_lookup(
        sk, items, "v", depth=2, width=16).collect()}
    for v, n in true.items():
        assert got[v] >= n


# ---------------------------------------------------------------------------
# histogram sketch


def test_hist_merge_identity_and_quantile_accuracy(spark):
    from nomenklatura_spark.operators.sketch import (
        hist_bounds,
        hist_merge,
        hist_quantile,
        hist_sketch,
    )

    rows = [("k", float(i)) for i in range(1, 1001)]
    df = spark.createDataFrame(rows, "key string, v double")
    bounds = hist_bounds(df, "v")
    whole = hist_sketch(df, ["key"], "v", bounds)
    a = hist_sketch(df.where(F.col("v") <= 400), ["key"], "v", bounds)
    b = hist_sketch(df.where(F.col("v") > 400), ["key"], "v", bounds)
    assert _sorted(hist_merge(a, b)) == _sorted(whole)
    q50 = hist_quantile(whole, bounds, ["key"], 0.5).collect()[0]
    assert q50["n"] == 1000
    # uniform data: bin interpolation is near-exact (within one bin width)
    assert abs(q50["q50"] - 500.0) <= (1000 - 1) / 32 + 1


def test_hist_degenerate_and_clipping(spark):
    from nomenklatura_spark.operators.sketch import (
        hist_bounds,
        hist_quantile,
        hist_sketch,
    )

    # all-equal values: hi == lo -> single bin, quantile == the value
    eq = spark.createDataFrame([("k", 7.5)] * 10, "key string, v double")
    bounds = hist_bounds(eq, "v")
    sk = hist_sketch(eq, ["key"], "v", bounds)
    assert [tuple(r) for r in sk.collect()] == [("k", 0, 10)]
    q = hist_quantile(sk, bounds, ["key"], 0.5).collect()[0]
    assert q["q50"] == 7.5
    # increments scored against FOREIGN bounds clip into edge bins
    wide = spark.createDataFrame(
        [("k", -100.0), ("k", 100.0)], "key string, v double"
    )
    bounds2 = hist_bounds(
        spark.createDataFrame([("k", 0.0), ("k", 10.0)], "key string, v double"),
        "v",
    )
    sk2 = hist_sketch(wide, ["key"], "v", bounds2, n_bins=8)
    assert sorted(tuple(r) for r in sk2.collect()) == [("k", 0, 1), ("k", 7, 1)]


def test_maintain_hll_stream(spark, tmp_path):
    import json as _json
    import os as _os

    from nomenklatura_spark.streaming.state import maintain_stream

    src = str(tmp_path / "src")
    _os.makedirs(src)
    batches = [
        [("a", f"x{i}") for i in range(50)],
        [("a", f"y{i}") for i in range(30)] + [("b", f"x{i}") for i in range(20)],
    ]
    for n, rows in enumerate(batches):
        with open(_os.path.join(src, f"b{n}.json"), "w") as fh:
            for k, v in rows:
                fh.write(_json.dumps({"k": k, "v": v}) + "\n")

    state = HllIndexState(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema("k string, v string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = maintain_stream(
        stream, state, checkpoint_dir=str(tmp_path / "chk"),
        key_col="k", value_col="v",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert state.version() == 1  # two micro-batches
    scratch = hll_registers(
        spark.createDataFrame(batches[0] + batches[1], "key string, v string"),
        ["key"],
        "v",
    )
    assert _sorted(state.registers()) == _sorted(scratch)


def test_hll_pairwise_union_and_overlap_estimates(spark):
    from nomenklatura_spark.operators.sketch import (
        hll_estimate,
        hll_pairwise_union,
        hll_registers,
    )

    # A and B share exactly 500 of 1000 members; C is disjoint from both
    rows = (
        [("A", f"s{i}") for i in range(500)]
        + [("A", f"a{i}") for i in range(500)]
        + [("B", f"s{i}") for i in range(500)]
        + [("B", f"b{i}") for i in range(500)]
        + [("C", f"c{i}") for i in range(300)]
    )
    regs = hll_registers(
        spark.createDataFrame(rows, "key string, v string"), ["key"], "v"
    )
    singles = {
        r["key"]: r["n_hll"]
        for r in hll_estimate(regs, ["key"]).collect()
    }
    unions = {
        (r["key_a"], r["key_b"]): r["n_hll"]
        for r in hll_estimate(
            hll_pairwise_union(regs, "key"), ["key_a", "key_b"]
        ).collect()
    }
    inter_ab = singles["A"] + singles["B"] - unions[("A", "B")]
    inter_ac = singles["A"] + singles["C"] - unions[("A", "C")]
    # |A∩B| = 500 true; inclusion-exclusion compounds ~6.5% errors,
    # so allow a generous band — the property is the ORDER of magnitude
    assert 250 < inter_ab < 750
    # disjoint sets estimate near zero (can be slightly negative)
    assert abs(inter_ac) < 200
    # union of a key with itself never appears (strict a < b pairing)
    assert all(a < b for a, b in unions)


def test_sketches_ignore_nulls_like_exact_aggregates(spark):
    from nomenklatura_spark.operators.sketch import (
        cms_lookup,
        cms_sketch,
        hist_bounds,
        hist_quantile,
        hist_sketch,
        hll_distinct,
    )

    df = spark.createDataFrame(
        [("k", "a"), ("k", "b"), ("k", None), ("k", None)],
        "key string, v string",
    )
    clean = df.where(F.col("v").isNotNull())
    assert _sorted(hll_distinct(df, ["key"], "v")) == _sorted(
        hll_distinct(clean, ["key"], "v")
    )
    sk = cms_sketch(df, "v")
    assert _sorted(sk) == _sorted(cms_sketch(clean, "v"))
    nums = spark.createDataFrame(
        [("k", 1.0), ("k", 2.0), ("k", 3.0), ("k", None), ("k", None)],
        "key string, v double",
    )
    b = hist_bounds(nums, "v")
    q = hist_quantile(hist_sketch(nums, ["key"], "v", b), b, ["key"], 0.5)
    row = q.collect()[0]
    # NULLs excluded from n AND from the walk: the median of {1,2,3}
    assert row["n"] == 3
    assert 1.0 <= row["q50"] <= 3.0


def test_hist_quantile_error_bounded_by_bin_width(spark):
    import random

    from nomenklatura_spark.operators.sketch import (
        hist_bounds,
        hist_quantile,
        hist_sketch,
    )

    for seed, gen in ((5, "uniform"), (9, "clustered")):
        rnd = random.Random(seed)
        if gen == "uniform":
            vals = [rnd.uniform(-50, 150) for _ in range(2000)]
        else:  # two tight clusters + outliers
            vals = (
                [rnd.gauss(10, 0.5) for _ in range(900)]
                + [rnd.gauss(90, 0.5) for _ in range(900)]
                + [rnd.uniform(-100, 300) for _ in range(200)]
            )
        df = spark.createDataFrame([("k", v) for v in vals], "key string, v double")
        b = hist_bounds(df, "v")
        sk = hist_sketch(df, ["key"], "v", b, n_bins=32)
        lo, hi = min(vals), max(vals)
        width = (hi - lo) / 32.0
        svals = sorted(vals)
        for q in (0.5, 0.95):
            row = hist_quantile(sk, b, ["key"], q, n_bins=32).collect()[0]
            exact = svals[int(q * (len(svals) - 1))]
            qcol = f"q{int(round(q * 100)):02d}"
            assert abs(row[qcol] - exact) <= width + 1e-9, (gen, q)


# ---------------------------------------------------------------------------
# incremental CMS / histogram indexes


def test_cms_index_incremental_matches_scratch(spark, tmp_path):
    from nomenklatura_spark.operators.sketch import cms_sketch
    from nomenklatura_spark.streaming.sketch_index import CmsIndexState

    state = CmsIndexState(spark, str(tmp_path / "state"))
    schema = "v string"
    batches = [
        [("hot",)] * 50 + [(f"a{i}",) for i in range(30)],
        [("hot",)] * 20 + [(f"b{i}",) for i in range(10)],
    ]
    seen: list[tuple] = []
    for n, batch in enumerate(batches):
        seen.extend(batch)
        state.apply_batch(spark.createDataFrame(batch, schema), "v", batch_id=n)
        scratch = cms_sketch(spark.createDataFrame(seen, schema), "v")
        assert _sorted(state.counters()) == _sorted(scratch)
    # replay guard: additive state must not double-count a redelivery
    before = _sorted(state.counters())
    out = state.apply_batch(
        spark.createDataFrame(batches[1], schema), "v", batch_id=1
    )
    assert out.count() == 0 and _sorted(state.counters()) == before
    # read path
    items = spark.createDataFrame([("hot",)], schema)
    got = {r["value"]: r["n_cms"] for r in state.lookup(items, "v").collect()}
    assert got["hot"] >= 70


def test_hist_index_incremental_and_bounds_contract(spark, tmp_path):
    import pytest as _pytest

    from nomenklatura_spark.operators.sketch import (
        hist_quantile,
        hist_sketch,
    )
    from nomenklatura_spark.streaming.sketch_index import HistIndexState

    state = HistIndexState(spark, str(tmp_path / "state"))
    state.set_bounds(0.0, 100.0)
    schema = "key string, v double"
    batches = [
        [("k", float(i)) for i in range(0, 50)],
        [("k", float(i)) for i in range(50, 101)] + [("k", 500.0)],  # clips
    ]
    seen: list[tuple] = []
    for n, batch in enumerate(batches):
        seen.extend(batch)
        state.apply_batch(spark.createDataFrame(batch, schema), "key", "v",
                          batch_id=n)
        scratch = hist_sketch(
            spark.createDataFrame(seen, schema), ["key"], "v",
            state.bounds(),
        )
        assert _sorted(state.bins()) == _sorted(scratch)
    row = state.quantile(0.5).collect()[0]
    assert row["n"] == 102 and 40.0 <= row["q50"] <= 60.0
    # bounds are fixed once, before the first batch
    with _pytest.raises(ValueError):
        state.set_bounds(0.0, 1.0)


def test_maintain_cms_stream(spark, tmp_path):
    import json as _json
    import os as _os

    from nomenklatura_spark.operators.sketch import cms_sketch
    from nomenklatura_spark.streaming.sketch_index import CmsIndexState
    from nomenklatura_spark.streaming.state import maintain_stream

    src = str(tmp_path / "src")
    _os.makedirs(src)
    batches = [[("x",)] * 5 + [("y",)], [("x",)] * 2 + [("z",)]]
    for n, rows in enumerate(batches):
        with open(_os.path.join(src, f"b{n}.json"), "w") as fh:
            for (v,) in rows:
                fh.write(_json.dumps({"v": v}) + "\n")
    state = CmsIndexState(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema("v string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = maintain_stream(
        stream, state, checkpoint_dir=str(tmp_path / "chk"), value_col="v"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    scratch = cms_sketch(
        spark.createDataFrame(batches[0] + batches[1], "v string"), "v"
    )
    assert _sorted(state.counters()) == _sorted(scratch)


def test_hist_index_bounds_survive_vacuum(spark, tmp_path):
    """The bounds contract is live data for every version: retention
    vacuums must never delete it (it lives outside the v{N} layout)."""
    from nomenklatura_spark.streaming.sketch_index import HistIndexState

    state = HistIndexState(spark, str(tmp_path / "state"))
    state.set_bounds(0.0, 10.0)
    schema = "key string, v double"
    for n in range(3):
        state.apply_batch(
            spark.createDataFrame([("k", float(n))], schema), "key", "v",
            batch_id=n,
        )
    removed = state.vacuum(keep_last=1)
    assert removed  # old bins versions went away
    import os as _os

    assert all(
        _os.path.basename(_os.path.dirname(p)) == "bins" for p in removed
    )
    # the index still reads and still accepts increments
    row = state.quantile(0.5).collect()[0]
    assert row["n"] == 3
    state.apply_batch(
        spark.createDataFrame([("k", 9.0)], schema), "key", "v", batch_id=3
    )
    assert state.quantile(0.5).collect()[0]["n"] == 4


def test_alpha_rejects_sub_minimum_precision():
    """p < 4 has no published bias constant: _alpha must raise a clear
    ValueError, not KeyError."""
    import pytest

    from nomenklatura_spark.operators.sketch import _alpha

    assert _alpha(16) == 0.673
    assert _alpha(256) == 0.7213 / (1.0 + 1.079 / 256)
    for m in (2, 4, 8):
        with pytest.raises(ValueError, match="p >= 4"):
            _alpha(m)


def test_hll_pairwise_union_key_set_bound(spark, monkeypatch):
    """The all-pairs union is contractually driver-small: above
    _MAX_UNION_KEYS distinct keys it must raise and point at a banded
    formulation instead of silently cross-joining the key set."""
    import pytest

    import nomenklatura_spark.operators.sketch as sk

    rows = [(f"k{i}", f"v{i}") for i in range(12)]
    regs = hll_registers(
        spark.createDataFrame(rows, "key string, v string"), ["key"], "v"
    )
    monkeypatch.setattr(sk, "_MAX_UNION_KEYS", 10)
    with pytest.raises(ValueError, match="banded|driver-small"):
        sk.hll_pairwise_union(regs, "key")
    monkeypatch.setattr(sk, "_MAX_UNION_KEYS", 12)
    assert sk.hll_pairwise_union(regs, "key").count() > 0


def test_hll_pairwise_union_banded_equals_unbanded(spark, monkeypatch):
    """The banded formulation (the scale path the all-pairs error
    points at) must produce the EXACT same (key_a, key_b, bucket, reg)
    relation as the all-pairs form — at the boundary where the
    all-pairs guard raises, and across band counts including the
    degenerate n_bands=1 and n_bands > n_keys edges (where the
    descending-sequence trap lives)."""
    import pytest

    import nomenklatura_spark.operators.sketch as sk

    rows = [(f"k{i}", f"v{i % 7}_{i}") for i in range(13)]
    regs = hll_registers(
        spark.createDataFrame(rows, "key string, v string"), ["key"], "v"
    ).localCheckpoint()
    want = sorted(
        tuple(r) for r in sk.hll_pairwise_union(regs, "key").collect()
    )
    assert len(want) > 0
    for nb in (1, 3, 16, 64):
        got = sorted(
            tuple(r)
            for r in sk.hll_pairwise_union_banded(
                regs, "key", n_bands=nb
            ).collect()
        )
        assert got == want, f"n_bands={nb}"
    # beyond the all-pairs bound the banded form still runs
    monkeypatch.setattr(sk, "_MAX_UNION_KEYS", 10)
    with pytest.raises(ValueError):
        sk.hll_pairwise_union(regs, "key")
    assert (
        sorted(
            tuple(r)
            for r in sk.hll_pairwise_union_banded(
                regs, "key", n_bands=4
            ).collect()
        )
        == want
    )


def test_weekly_serving_from_stored_registers_matches_scratch(spark, tmp_path):
    """The at-rest serving chain: per-(key, day) registers folded to
    disk by ingest batches that STRADDLE the query window must answer a
    windowed distinct-count by merge-at-read, bit-identically to the
    direct sketch over the window's raw rows (merge identity, through
    the snapshot layout)."""
    from nomenklatura_spark.operators.sketch import hll_merge

    rows = [
        (f"2024-01-{d:02d}", f"u{(d * 31 + i) % 97}")
        for d in range(1, 22)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "day string, user string")
    state = HllIndexState(spark, str(tmp_path), p=8)
    # ingest slicing deliberately misaligned with the week window
    for b, (lo, hi) in enumerate([(1, 9), (10, 16), (17, 21)]):
        batch = df.where(
            F.substring("day", 9, 2).cast("int").between(lo, hi)
        )
        state.apply_batch(batch, "day", "user", batch_id=b)
    week = ("2024-01-08", "2024-01-14")
    served = hll_merge(
        state.registers()
        .where(F.col("key").between(*week))
        .select(F.lit("w").alias("k"), "bucket", "reg")
    )
    scratch = hll_registers(
        df.where(F.col("day").between(*week)).select(
            F.lit("w").alias("k"), "user"
        ),
        ["k"],
        "user",
        p=8,
    ).select("k", "bucket", F.col("reg").cast("int").alias("reg"))
    assert _sorted(served) == _sorted(scratch)
    # and the estimates agree with the exact recount within HLL error
    est = hll_estimate(served, ["k"], p=8).collect()[0]["n_hll"]
    n_true = (
        df.where(F.col("day").between(*week))
        .select("user")
        .distinct()
        .count()
    )
    assert abs(est - n_true) / n_true < 0.15


def test_heavy_hitters_index_capture_and_serve(spark, tmp_path):
    from nomenklatura_spark.operators.sketch import cms_sketch
    from nomenklatura_spark.streaming.sketch_index import (
        HeavyHittersIndexState,
    )

    state = HeavyHittersIndexState(
        spark, str(tmp_path / "hh"), local_threshold=10
    )
    schema = "v string"
    # "spread" has global count 30 = 3*T spread at EXACTLY T per batch:
    # the pigeonhole bound is tight, it must be captured.  "thin" has
    # 27 = 9 per batch, under T everywhere: provably missable, and with
    # this slicing actually missed.  "burst" is heavy in one batch only.
    batches = [
        [("spread",)] * 10 + [("thin",)] * 9 + [("burst",)] * 40,
        [("spread",)] * 10 + [("thin",)] * 9,
        [("spread",)] * 10 + [("thin",)] * 9 + [(f"noise{i}",) for i in range(20)],
    ]
    seen: list[tuple] = []
    for n, batch in enumerate(batches):
        seen.extend(batch)
        state.apply_batch(
            spark.createDataFrame(batch, schema), "v", batch_id=n, scope="t"
        )
    cands = {r["value"] for r in state.candidates().collect()}
    assert "spread" in cands and "burst" in cands
    assert "thin" not in cands
    assert not any(c.startswith("noise") for c in cands)
    # incremental counters == scratch sketch of everything
    scratch = _sorted(cms_sketch(spark.createDataFrame(seen, schema), "v"))
    assert _sorted(state.counters()) == scratch
    # serving: one-sided estimates in served order
    top = state.serve_topk(5).collect()
    assert [r["value"] for r in top][:2] == ["burst", "spread"]
    true_counts = {"burst": 40, "spread": 30}
    for r in top:
        assert r["n_cms"] >= true_counts.get(r["value"], 0)


def test_heavy_hitters_strict_floor_and_repair(spark, tmp_path):
    """The completeness boundary is executable: the floor runs at
    folds*T, strict serving raises once the requested k reaches
    estimates below it (a missed key could outrank the tail), and
    repair_candidates — the targeted exact rescan — resets the floor
    and admits the sub-pigeonhole keys so the same request passes."""
    import pytest

    from nomenklatura_spark.streaming.sketch_index import (
        HeavyHittersIndexState,
    )

    state = HeavyHittersIndexState(
        spark, str(tmp_path / "hh"), local_threshold=10
    )
    schema = "v string"
    # big: 12/batch (always captured); mid: 8/batch (never local-heavy,
    # true 24 < floor 30 — the provably-missable zone); burst: one
    # batch of 11 (captured, but its estimate ~11 sits below the floor)
    batches = [
        [("big",)] * 12 + [("mid",)] * 8 + [("burst",)] * 11,
        [("big",)] * 12 + [("mid",)] * 8,
        [("big",)] * 12 + [("mid",)] * 8,
    ]
    seen: list[tuple] = []
    for n, b in enumerate(batches):
        seen.extend(b)
        state.apply_batch(
            spark.createDataFrame(b, schema), "v", batch_id=n, scope="t"
        )
    assert state.provable_floor() == 30  # 3 folds x T, pigeonhole B*T
    # k=1 stays inside the provable region (big's estimate >= 36)
    (r1,) = state.serve_topk(1, strict=True).collect()
    assert r1["value"] == "big"
    # k=2 reaches burst (estimate ~11 < 30): not provably complete —
    # and indeed "mid" (true 24) is missing from the candidate set
    with pytest.raises(ValueError, match="repair_candidates"):
        state.serve_topk(2, strict=True)
    # k beyond the candidate count raises too
    with pytest.raises(ValueError, match="not provably candidate-complete"):
        state.serve_topk(99, strict=True)
    # repair: exact rescan down to floor 8 admits mid; floor resets
    history = spark.createDataFrame(seen, schema)
    assert state.repair_candidates(history, "v", floor=8) == 8
    assert state.provable_floor() == 8
    cands = {r["value"] for r in state.candidates().collect()}
    assert "mid" in cands
    top2 = state.serve_topk(2, strict=True).collect()
    assert [r["value"] for r in top2] == ["big", "mid"]
    assert top2[1]["n_cms"] >= 24  # one-sided overcount holds
    # the floor resumes climbing with subsequent folds
    state.apply_batch(
        spark.createDataFrame([("big",)] * 12, schema),
        "v",
        batch_id=3,
        scope="t",
    )
    assert state.provable_floor() == 18


def test_heavy_hitters_index_replay_and_crash_consistency(spark, tmp_path):
    from nomenklatura_spark.streaming.sketch_index import (
        HeavyHittersIndexState,
    )

    state = HeavyHittersIndexState(
        spark, str(tmp_path / "hh"), local_threshold=3
    )
    schema = "v string"
    b0 = spark.createDataFrame([("a",)] * 5 + [("b",)], schema)
    state.apply_batch(b0, "v", batch_id=0, scope="t")
    counters0 = _sorted(state.counters())
    cands0 = _sorted(state.candidates())
    # at-least-once redelivery: same batch id is a no-op for BOTH
    # relations (they bump under one VERSION pointer)
    state.apply_batch(b0, "v", batch_id=0, scope="t")
    assert _sorted(state.counters()) == counters0
    assert _sorted(state.candidates()) == cands0
    # time travel: version 0 still readable after a second batch
    state.apply_batch(
        spark.createDataFrame([("c",)] * 4, schema), "v", batch_id=1, scope="t"
    )
    assert _sorted(state.candidates(version=0)) == cands0
    assert {r["value"] for r in state.candidates().collect()} == {"a", "c"}
