"""Dedup-tier semantics tests: MinHash estimate quality, SimHash banding
completeness vs brute force, exact dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from nomenklatura_spark.session import load_table


def test_minhash_agrees_with_exact_jaccard(spark, sf_dir):
    """MinHash-estimated jaccard must correlate with the exact n-gram
    jaccard on the planted near-dups: every exact pair ≥ 0.8 should be
    found by LSH with estimate ≥ 0.5."""
    from nomenklatura_spark.dedup.minhash import minhash_dedup_pairs
    from nomenklatura_spark.dedup.ngram import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["lid"], r["rid"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.8, max_df=100, mode="word"
        ).collect()
    }
    est = {
        (r["lid"], r["rid"])
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", k=3, mode="word", threshold=0.5
        ).collect()
    }
    assert exact, "expected planted near-duplicates in the corpus"
    missed = exact - est
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_simhash_banding_complete_vs_bruteforce(spark, sf_dir):
    """Pigeonhole guarantee: banded candidate generation must find every
    pair within hamming distance 3 that brute force finds."""
    from nomenklatura_spark.dedup.simhash import hamming32, simhash, simhash_pairs

    docs = load_table(spark, sf_dir, "documents").limit(200)
    fp = simhash(docs, "doc_id", "text").persist()
    banded = {
        (r["lid"], r["rid"]): r["hamming"]
        for r in simhash_pairs(fp, max_hamming=3).collect()
    }
    l = fp.select(F.col("id").alias("lid"), F.col("simhash").alias("a"))
    r = fp.select(F.col("id").alias("rid"), F.col("simhash").alias("b"))
    brute = {
        (x["lid"], x["rid"]): x["hamming"]
        for x in l.crossJoin(r)
        .where(F.col("lid") < F.col("rid"))
        .select("lid", "rid", hamming32(F.col("a"), F.col("b")).alias("hamming"))
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


def test_ngram_containment_directional(spark):
    """Containment is directional toward the benchmark: a corpus doc that
    embeds a whole benchmark item scores 1.0 on it regardless of how much
    extra text the doc carries; the reverse (short doc vs long bench item)
    scores low."""
    from nomenklatura_spark.dedup.ngram import ngram_containment_pairs

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # benchmark item verbatim inside a longer doc -> containment 1.0
            (1, "intro words here alpha beta gamma delta epsilon zeta trailing tail"),
            # partial overlap: 2 of the 4 bench trigrams
            (2, "alpha beta gamma delta unrelated continuation of text"),
            # disjoint
            (3, "totally different content with no shared phrases at all"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["bench_id"]): r["containment"]
        for r in ngram_containment_pairs(
            docs, bench, "doc_id", "text", k=3, threshold=0.0, mode="word"
        ).collect()
    }
    assert rows[(1, 100)] == 1.0
    assert abs(rows[(2, 100)] - 0.5) < 1e-9
    assert (3, 100) not in rows


def test_duplicated_passages_planted(spark):
    """A passage shared by two docs (and repeated inside a third) is
    flagged; short docs yield zero windows; unique text yields zero
    duplicated windows."""
    from nomenklatura_spark.dedup.substring import duplicated_passages

    shared = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} and some unique tail one"),
            (2, f"other beginning text {shared} different unique ending two"),
            (3, f"{shared} {shared}"),
            (4, "totally unique words that appear nowhere else in this tiny corpus at all"),
            (5, "too short"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in duplicated_passages(docs, "doc_id", "text", k=8).collect()
    }
    assert rows[5]["n_windows"] == 0 and rows[5]["dup_frac"] == 0.0
    assert rows[4]["dup_windows"] == 0
    # the 10-word shared passage contributes 3 duplicated 8-grams per copy
    assert rows[1]["dup_windows"] >= 3
    assert rows[2]["dup_windows"] >= 3
    # doc 3 repeats the passage internally: the 3 windows inside each
    # copy are duplicated (6 of 13); boundary-crossing windows are unique
    assert rows[3]["dup_windows"] == 6 and rows[3]["n_windows"] == 13
    assert 0.0 < rows[1]["dup_frac"] < 1.0


def test_semantic_dedup_consistency(spark, sf_dir):
    """SemDeDup pairs are a subset of the exact all-pairs set at the same
    threshold (clustering only PRUNES candidates), and the keep-list is
    the corpus minus the rid side of every pair."""
    from nomenklatura_spark.dedup.embedding import embedding_dup_pairs
    from nomenklatura_spark.dedup.semantic import (
        semantic_dedup_keep,
        semantic_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sem = semantic_dup_pairs(emb, threshold=0.35, n_centroids=8).persist()
    sem_pairs = {(r["lid"], r["rid"]) for r in sem.collect()}
    exact = {
        (r["lid"], r["rid"])
        for r in embedding_dup_pairs(emb, threshold=0.35).collect()
    }
    assert sem_pairs, "expected within-cluster duplicates in the corpus"
    assert sem_pairs <= exact
    kept = semantic_dedup_keep(emb, threshold=0.35, n_centroids=8)
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    drops = {rid for _, rid in sem_pairs}
    assert kept_ids == all_ids - drops


def test_hashed_embeddings_feed_ann_tier(spark):
    """The documents → hashed-embedding → semantic-dedup pipeline closes
    end-to-end: near-duplicate documents land at high cosine, unrelated
    ones do not, and the frame plugs into the embedding operators
    unchanged (vec_id/embedding contract)."""
    from pyspark.sql import functions as F

    from nomenklatura_spark.dedup.embedding import embedding_dup_pairs
    from nomenklatura_spark.textops.embed import hashed_embeddings

    base = (
        "spark executes declarative plans through catalyst and tungsten "
        "with whole stage code generation across the cluster"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " with a tiny appended clause"),
            (3, "entirely unrelated prose about harbors gulls and tides"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    emb = hashed_embeddings(docs).withColumnRenamed("doc_id", "vec_id")
    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    assert len(rows[1]) == 64 and rows[4] == [0.0] * 64
    pairs = {
        (r["lid"], r["rid"]): r["cosine_sim"]
        for r in embedding_dup_pairs(emb, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert (1, 3) not in pairs


def test_semantic_dedup_hierarchical(spark, sf_dir):
    """Two-level SemDeDup (`semantic_dup_pairs_hier`): precision-1.0
    subset of the exact pair set (the threshold applies to the true
    cosine, clustering only prunes), deterministic across runs, recall
    comparable to the flat variant at the same effective cell count, and
    every fine cell id belongs to its coarse parent's range."""
    from nomenklatura_spark.ann.ivf import (
        ivf_assign_hier,
        train_centroids_hier,
    )
    from nomenklatura_spark.dedup.embedding import embedding_dup_pairs
    from nomenklatura_spark.dedup.semantic import (
        semantic_dup_pairs,
        semantic_dup_pairs_hier,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    hier = semantic_dup_pairs_hier(
        emb, threshold=0.35, n_coarse=3, n_fine=3
    ).persist()
    pairs1 = {(r["lid"], r["rid"]) for r in hier.collect()}
    pairs2 = {
        (r["lid"], r["rid"])
        for r in semantic_dup_pairs_hier(
            emb, threshold=0.35, n_coarse=3, n_fine=3
        ).collect()
    }
    assert pairs1 == pairs2  # deterministic codebook + assignment
    exact = {
        (r["lid"], r["rid"])
        for r in embedding_dup_pairs(emb, threshold=0.35).collect()
    }
    assert pairs1, "expected within-cell duplicates"
    assert pairs1 <= exact  # precision 1.0 by construction
    flat = {
        (r["lid"], r["rid"])
        for r in semantic_dup_pairs(emb, threshold=0.35, n_centroids=9).collect()
    }
    # same effective cell count (3x3 vs 9): the tree's recall should be
    # in the same regime as the flat partition's, not collapsed
    assert len(pairs1) >= len(flat) // 2

    coarse, fine = train_centroids_hier(emb, n_coarse=3, n_fine=3)
    frows = fine.collect()
    assert all(r["centroid"] // 3 == r["coarse"] for r in frows)
    inv = ivf_assign_hier(emb, coarse, fine)
    # every vector lands in exactly one fine cell
    assert inv.count() == emb.count()
    assert inv.select("id").distinct().count() == emb.count()


def test_hier_codebook_reuse_covers_empty_coarse_cells(spark):
    """Regression for the empty-coarse-cell coverage union in
    `train_centroids_hier` (ann/ivf.py): a coarse cell that ends with
    ZERO members after the Lloyd update must still carry a fine
    sub-centroid, or the codebook-reuse equi-join paths
    (`ivf_assign_hier` / `semantic_dup_pairs_hier(codebooks=)`) silently
    drop any new vector whose coarse argmax lands there.

    The training corpus is engineered on the unit circle so the update
    step empties one cell deterministically: three md5-rank seeds at
    0°/90°/200°; a 10-vector pack at 44° pulls centroid(0°) to ~40°, a
    20-pack at 144.9° pulls centroid(90°) to ~142.6°, and a 30-pack at
    145.2° pulls centroid(200°) to ~146.7° — on reassignment the 90°
    seed defects to the ~40° centroid and the 144.9° pack to the ~146.7°
    one, leaving the middle cell in the codebook but memberless."""
    import hashlib
    import math

    from nomenklatura_spark.ann.ivf import (
        ivf_assign,
        ivf_assign_hier,
        train_centroids_hier,
    )
    from nomenklatura_spark.dedup.semantic import semantic_dup_pairs_hier

    ids = list(range(1000, 1063))
    by_md5 = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    seed_ids, rest = by_md5[:3], sorted(by_md5[3:])
    angles = dict(zip(seed_ids, (0.0, 90.0, 200.0)))
    for j, i in enumerate(rest):
        angles[i] = 44.0 if j < 10 else (144.9 if j < 30 else 145.2)

    def vec(deg: float) -> list[float]:
        rad = math.radians(deg)
        return [math.cos(rad), math.sin(rad)]

    corpus_a = spark.createDataFrame(
        [(i, vec(angles[i])) for i in ids],
        "vec_id long, embedding array<double>",
    )
    coarse, fine = train_centroids_hier(
        corpus_a, n_coarse=3, n_fine=2, n_iter=1
    )
    assert coarse.count() == 3
    # precondition: the engineered scenario is live — exactly one coarse
    # cell has no members under the trained codebook
    occupied = ivf_assign(corpus_a, coarse).select("centroid").distinct()
    empty = coarse.join(occupied, "centroid", "left_anti")
    assert empty.count() == 1
    # the coverage union put a fine sub-centroid in the empty cell
    empty_id = empty.first()["centroid"]
    assert fine.where(F.col("coarse") == empty_id).count() >= 1

    # a disjoint corpus whose vectors coarse-assign into the empty cell
    # (the trained empty-cell centroid sits at ~142.6°)
    corpus_b = spark.createDataFrame(
        [(2000 + j, vec(deg)) for j, deg in enumerate(
            (141.0, 142.0, 143.0, 10.0, 150.0)
        )],
        "vec_id long, embedding array<double>",
    )
    inv = ivf_assign_hier(corpus_b, coarse, fine)
    assert inv.count() == corpus_b.count()  # nothing dropped
    assert inv.select("id").distinct().count() == corpus_b.count()
    pairs = semantic_dup_pairs_hier(
        corpus_b, threshold=0.9, codebooks=(coarse, fine)
    )
    # 141/142/143 are mutual near-dups and must all survive assignment
    assert pairs.count() >= 3

    # non-vacuity: with the coverage rows stripped (the pre-fix
    # codebook), the same corpus loses vectors through the equi-join —
    # proving this test fails if the union is reverted
    stripped = fine.join(occupied.select(F.col("centroid").alias("coarse")),
                         "coarse", "semi")
    assert ivf_assign_hier(corpus_b, coarse, stripped).count() < corpus_b.count()


def test_trim_duplicated_passages_planted(spark):
    """Trim removes exactly the words covered by corpus-duplicated
    8-word windows and keeps everything else verbatim."""
    from nomenklatura_spark.dedup.substring import (
        duplicated_passages,
        trim_duplicated_passages,
    )

    passage = "one two three four five six seven eight"  # 8 shared words
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {passage} gamma delta"),
            (2, f"epsilon {passage} zeta"),
            (3, "totally unrelated words that repeat nothing at all here"),
            (4, "short doc"),  # fewer than k words: no windows, kept
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in trim_duplicated_passages(docs, "doc_id", "text", k=8).collect()
    }
    assert got[1]["trimmed_text"] == "alpha beta gamma delta"
    assert got[1]["n_words"] == 12 and got[1]["words_removed"] == 8
    assert got[2]["trimmed_text"] == "epsilon zeta"
    assert got[3]["words_removed"] == 0
    assert got[3]["trimmed_text"].startswith("totally unrelated")
    assert got[4]["trimmed_text"] == "short doc"
    assert got[4]["n_words"] == 2 and got[4]["words_removed"] == 0
    # consistency with the audit view: a doc loses words iff it has
    # duplicated windows
    audit = {
        r["doc_id"]: r["dup_windows"]
        for r in duplicated_passages(docs, "doc_id", "text", k=8).collect()
    }
    for d, row in got.items():
        assert (row["words_removed"] > 0) == (audit[d] > 0)


# ---------------------------------------------------------------------------
# asymmetric containment (prefix filtering)


def _brute_containment(rows, k, threshold):
    """Unbounded-int reference: exact containment over all ordered pairs."""
    import re

    def shingles(text):
        ws = [w for w in re.sub(r"[^a-z0-9]+", " ", text.lower()).split() if w]
        return {
            " ".join(ws[i : i + k]) for i in range(max(len(ws) - k + 1, 0))
        }

    sets = {i: shingles(t) for i, t in rows}
    out = set()
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            if len(sa & sb) / len(sa) >= threshold:
                out.add((a, b))
    return out


def test_containment_finds_quote_inclusion_jaccard_misses(spark):
    """A short doc fully quoted inside one ~5x larger: jaccard ~0.2 (all
    symmetric passes below a 0.5 gate miss it) but containment is 1.0 —
    the pair the asymmetric operator exists for.  Both directions are
    checked: only the small doc is 'contained'."""
    from nomenklatura_spark.dedup.ngram import (
        containment_join,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog near the river"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(18))
    rows = [("small", quote), ("big", f"{filler} {quote} {filler}")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in containment_join(
            df, "doc_id", "text", k=3, mode="word", threshold=0.9
        ).collect()
    }
    assert got.keys() == {("small", "big")}
    assert got[("small", "big")] == 1.0
    # and the symmetric pass indeed misses it at the usual 0.5 gate
    jac = ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.5, mode="word"
    ).collect()
    assert jac == []


def test_containment_matches_brute_force_random_corpus(spark):
    """Candidate completeness: prefix filtering must recover EVERY pair
    the all-pairs brute force finds (and nothing else) on a random
    corpus with planted substrings, at two thresholds."""
    import random

    from nomenklatura_spark.dedup.ngram import containment_join

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(30):
        rows.append(
            (f"d{i}", " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(6, 40))))
        )
    # plant containment structure: fragments + wrapped copies
    for i in range(5):
        frag = rows[i][1]
        rows.append(
            (f"wrap{i}", f"{rows[(i + 7) % 30][1]} {frag} extra{i} tail{i}")
        )
    df = spark.createDataFrame(rows, "doc_id string, text string")
    for t in (0.6, 0.9):
        want = _brute_containment(rows, 3, t)
        got = {
            (r["contained_id"], r["container_id"])
            for r in containment_join(
                df, "doc_id", "text", k=3, mode="word", threshold=t
            ).collect()
        }
        assert got == want, (t, got ^ want)


def test_containment_partition_invariant(spark):
    from nomenklatura_spark.dedup.ngram import containment_join

    rows = [
        (f"d{i}", " ".join(f"t{(i * 13 + j) % 40}" for j in range(5 + i % 20)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    base = sorted(
        tuple(r)
        for r in containment_join(
            df, "doc_id", "text", k=3, mode="word", threshold=0.7
        ).collect()
    )
    rep = sorted(
        tuple(r)
        for r in containment_join(
            df.repartition(13), "doc_id", "text", k=3, mode="word", threshold=0.7
        ).collect()
    )
    assert base == rep and len(base) > 0
