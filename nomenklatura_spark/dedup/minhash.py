"""MinHash + LSH banded near-duplicate detection — the 100 TB scale path.

Pipeline (standard MinHash/LSH construction, Broder 1997 / LSH banding):

1. distinct shingles per doc (reuses ``dedup.ngram`` shingle generators)
2. ``n_hashes`` hash functions h_i(s) = int(md5(i ++ s)[:15], 16) —
   md5-based so the construction is engine-portable (same values in the
   DuckDB oracle) and needs no seed tables shipped to executors
3. signature: sig[i] = min_s h_i(s) — one groupBy(doc, i) aggregation
4. banding: ``n_hashes / band_size`` bands; band key = md5 of the band's
   signature slice; docs sharing any (band, key) bucket become candidate
   pairs — a bounded equi-join exactly like the ER blocker
5. estimated jaccard = matching signature fraction; optionally verify
   candidates with the exact n-gram jaccard (dedup.ngram) on the
   candidate set only.

Everything is built-in column expressions (md5, conv, min, concat_ws) —
no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nomenklatura_spark.dedup.ngram import shingle_rows


def _hash64(col, seed_col) -> "F.Column":
    """Portable 60-bit hash: int(md5(seed:value)[:15], 16)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", seed_col.cast("string"), col)), 1, 15),
        16,
        10,
    ).cast("long")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    mode: str = "word",
    n_hashes: int = 32,
) -> DataFrame:
    """(id, seed, minhash) signature rows."""
    spark = df.sparkSession
    seeds = spark.range(n_hashes).select(F.col("id").cast("int").alias("seed"))
    sh = shingle_rows(df, id_col, text_col, k, mode)
    # The n_hashes × md5 projection below is the compute hot spot; spread
    # it across the cluster even when the source is a single small file
    # (compute parallelism should follow cores, not input file count).
    sh = sh.repartition(spark.sparkContext.defaultParallelism, "id")
    return (
        sh.crossJoin(F.broadcast(seeds))
        .select(
            "id",
            "seed",
            _hash64(F.col("shingle"), F.col("seed")).alias("h"),
        )
        .groupBy("id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def banded_signatures(
    signatures: DataFrame, band_size: int = 4
) -> DataFrame:
    """(id, band, band_key) — the ONE LSH banding construction, shared
    by the batch path (``lsh_candidate_pairs``) and the incremental
    index (``streaming/dedup_index``), so the two can't drift (ADVICE
    r11)."""
    return (
        signatures.withColumn("band", (F.col("seed") / band_size).cast("int"))
        .groupBy("id", "band")
        .agg(
            # seed-ordered signature slice, engine-portable representation
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                    lambda x: x["minhash"].cast("string"),
                ),
            ).alias("band_key")
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame | None,
    n_hashes: int = 32,
    band_size: int = 4,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Banded LSH join: docs sharing any band bucket → candidate pairs
    (lid < rid). The band bucket join is the same bounded token-join
    pattern as the blocker's J1.  ``bands`` (a pre-materialized band
    relation) skips the banding groupBy — the incremental index
    checkpoints its batch bands once and passes them here."""
    if signatures is None and bands is None:
        raise ValueError(
            "lsh_candidate_pairs: pass the signatures or the bands"
        )
    banded = (
        banded_signatures(signatures, band_size) if bands is None else bands
    )
    l = banded.select(F.col("id").alias("lid"), "band", "band_key")
    r = banded.select(F.col("id").alias("rid"), "band", "band_key")
    return (
        l.join(r, ["band", "band_key"])
        .where(F.col("lid") < F.col("rid"))
        .select("lid", "rid")
        .distinct()
    )


def minhash_similarity(
    signatures: DataFrame, candidates: DataFrame
) -> DataFrame:
    """Estimated jaccard for candidate pairs = fraction of agreeing
    signature positions."""
    l = signatures.select(F.col("id").alias("lid"), "seed", F.col("minhash").alias("l_mh"))
    r = signatures.select(F.col("id").alias("rid"), "seed", F.col("minhash").alias("r_mh"))
    joined = candidates.join(l, "lid").join(r, ["rid", "seed"])
    return joined.groupBy("lid", "rid").agg(
        (F.sum(F.when(F.col("l_mh") == F.col("r_mh"), 1).otherwise(0)) / F.count(F.lit(1)))
        .alias("est_jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    mode: str = "word",
    n_hashes: int = 32,
    band_size: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash/LSH near-dup pipeline: signatures → banded candidates →
    estimated-jaccard filter."""
    # localCheckpoint, not persist: both the banding join and the
    # similarity join read the signatures; checkpoint blocks free
    # themselves with the returned plan instead of pinning one signature
    # relation per call (this runs un-memoized from the registry).
    sigs = minhash_signatures(
        df, id_col, text_col, k, mode, n_hashes
    ).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(sigs, n_hashes, band_size)
    return minhash_similarity(sigs, cands).where(
        F.col("est_jaccard") >= threshold
    )
