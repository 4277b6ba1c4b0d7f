"""Bloom-filter benchmark decontamination — the map-side scale path.

``ngram_containment_pairs`` (dedup/ngram.py) answers decontamination with
a broadcast hash join against the exploded benchmark shingle relation.
That is the right exact form, but at 100 TB the probe side of the join is
the corpus's full exploded shingle relation — every task pushes billions
of shingle rows through a join operator — and the broadcast payload is
the benchmark's shingle *strings* (tens of MB for a big eval suite).

The Bloom path (GPT-3 appendix C scale form: n-gram membership against a
fixed filter) removes the join operator entirely:

- The benchmark's distinct shingles are hashed ``n_hashes`` ways into an
  ``n_bits``-bit Bloom filter packed into ``n_bits/64`` longs — one small
  aggregation on the tiny bench side, broadcast as a single-row
  ``array<bigint>`` whose size is a constant of the filter (16 KiB at
  2^17 bits) regardless of benchmark text volume.
- Corpus membership is a pure per-row column expression: a nested
  higher-order function tests all ``n_hashes`` bit positions per shingle
  (``getbit`` over the broadcast words).  The documents scan IS the plan:
  no corpus shuffle, no join probe, whole-stage codegen end to end.
- Setting bit p and later testing bit p is exactly "p ∈ bench position
  set", so the DuckDB oracle replays the construction *relationally*
  (distinct positions + left join) and matches bit for bit.  False
  positives come only from md5 position collisions between different
  shingles — deterministic and identical in both engines.
- No false negatives by construction: every document the exact broadcast
  join flags is flagged here too (pytest-pinned against
  ``ngram_containment_pairs`` in tests/test_bloom.py).

Position hash: pos_j(s) = int(md5(j ++ ':' ++ s)[:15], 16) mod n_bits —
the same engine-portable md5 device as dedup/minhash.py.

Reference behavior anchor: the corpus-overlap filtering the reference's
enrichment/xref pipeline performs per-entity is the same contains-any
semantics (nomenklatura/enrich/common.py match candidacy); this operator
is the corpus-scale generalization mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from nomenklatura_spark.dedup.minhash import _hash64
from nomenklatura_spark.dedup.ngram import shingle_arrays, widen_small_scan

N_BITS = 1 << 17
N_HASHES = 3


def _bloom_position(shingle: Column, seed: Column, n_bits: int) -> Column:
    """Portable Bloom bit position: md5-derived 60-bit hash mod n_bits."""
    return F.pmod(_hash64(shingle, seed), F.lit(n_bits)).cast("long")


def sparse_bloom_words(
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    mode: str = "word",
    n_bits: int = N_BITS,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Sparse packed form ``(w int, v long)`` of the benchmark's Bloom
    filter: only the non-zero 64-bit words.  This is the MERGEABLE form —
    Bloom union is bitwise OR, so two sparse word sets combine with one
    ``groupBy(w).agg(bit_or(v))``."""
    spark = bench.sparkSession
    seeds = spark.range(n_hashes).select(F.col("id").cast("int").alias("seed"))
    sh = (
        shingle_arrays(bench, id_col, text_col, k, mode)
        .select(F.explode_outer("shingles").alias("shingle"))
        .where(F.col("shingle").isNotNull())
        .distinct()
    )
    pos = (
        sh.crossJoin(F.broadcast(seeds))
        .select(
            _bloom_position(F.col("shingle"), F.col("seed"), n_bits).alias("pos")
        )
        .distinct()
    )
    return (
        pos.select(
            F.floor(F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("v"),
        )
        .groupBy("w")
        .agg(F.bit_or("v").alias("v"))
    )


def densify_bloom(words: DataFrame, n_bits: int = N_BITS) -> DataFrame:
    """Pack sparse ``(w, v)`` words into the one-row dense
    ``(bloom array<bigint>)`` form the map-side membership test reads."""
    n_words = n_bits // 64
    return (
        words.groupBy()
        .agg(
            F.map_from_arrays(
                F.collect_list("w"), F.collect_list("v")
            ).alias("_m")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_m"), i.cast("int")),
                    F.lit(0).cast("long"),
                ),
            ).alias("bloom")
        )
    )


def bench_bloom(
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    mode: str = "word",
    n_bits: int = N_BITS,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """One-row DataFrame ``(bloom array<bigint>)``: the packed Bloom
    filter over the benchmark's distinct ``k``-shingles.

    Shape: bench shingles (tiny side) → k positions each → distinct →
    64-bit word packing via ``bit_or`` — two small shuffles on the bench
    side only, then a dense ``n_bits/64``-long array assembled in one
    final aggregation.  The result is broadcast-sized by construction.
    """
    return densify_bloom(
        sparse_bloom_words(bench, id_col, text_col, k, mode, n_bits, n_hashes),
        n_bits,
    )


def bloom_contamination(
    docs: DataFrame,
    bloom: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    mode: str = "word",
    n_bits: int = N_BITS,
    n_hashes: int = N_HASHES,
    decimals: int = 6,
) -> DataFrame:
    """Per-document Bloom contamination verdict against a ``bench_bloom``
    filter: ``(id, n_shingles, n_hits, hit_frac, contaminated)``.

    The corpus side is map-only: the one-row filter arrives by broadcast
    nested-loop join (a constant-size append, not a shuffle) and every
    shingle's ``n_hashes`` positions are tested with ``getbit`` inside a
    single projection.  ``contaminated`` is the any-hit verdict (the
    GPT-3 / Dolma drop rule); ``hit_frac`` supports thresholded policies.
    """
    arrays = shingle_arrays(widen_small_scan(docs), id_col, text_col, k, mode)
    probed = arrays.crossJoin(F.broadcast(bloom))

    def _is_hit(sh: Column) -> Column:
        def _bit_set(j: Column) -> Column:
            pos = _bloom_position(sh, j, n_bits)
            word = F.element_at(
                F.col("bloom"), (F.floor(pos / 64) + 1).cast("int")
            )
            return F.getbit(word, F.pmod(pos, 64).cast("int")) == 1

        return F.forall(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda j: _bit_set(j.cast("int")),
        )

    # two-step projection: the k-hash membership filter is the expensive
    # expression and feeds three output columns — bind it to a column
    # first so it is evaluated once per row by construction instead of
    # relying on codegen subexpression elimination
    counted = probed.select(
        F.col("id"),
        F.size(F.col("shingles")).cast("int").alias("n_shingles"),
        F.size(F.filter(F.col("shingles"), _is_hit)).cast("int").alias("n_hits"),
    )
    return counted.select(
        "id",
        "n_shingles",
        "n_hits",
        F.when(
            F.col("n_shingles") > 0,
            F.round(F.col("n_hits") / F.col("n_shingles"), decimals),
        )
        .otherwise(F.lit(0.0))
        .alias("hit_frac"),
        (F.col("n_hits") >= 1).alias("contaminated"),
    )
