"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall times.

Execution is forced with the noop sink (full computation, no driver-side
collect cost), matching how a cluster job would be measured.
"""

from __future__ import annotations

import json
import os
import sys
import time

from nomenklatura_spark.session import get_spark

# Headline set: the flagship blocker stages + representative relational,
# dedup, text and ANN operators.
BENCH_QUERIES = [
    "pricing_summary",
    "top_revenue_nations",
    "events_user_topk",
    "blocker_entries",
    "blocker_pairs",
    "blocker_match",
    "dedup_ngram_pairs",
    "dedup_components",
    "dedup_embedding",
    "dedup_embedding_lsh",
    "dedup_semantic",
    "doc_dup_passages",
    "doc_stats",
    "doc_quality",
    "ann_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "doc_embed",
    "media_features",
    # r6 additions: sketch, graph, fusion, trim and funnel tiers
    "events_hll_users",
    "doc_heavy_hitters",
    "events_value_hist",
    "graph_triangles",
    "graph_kcore",
    "doc_search_hybrid",
    "doc_dup_trim",
    "events_funnel",
    # r7 additions: at-rest sketch serving, cluster topic labels, and
    # the maintained-state funnel (dedup_containment is board-checked
    # but not headline: its exact verify is the one deliberately-heavy
    # row, see SCALE.md)
    "events_hll_weekly_served",
    "doc_cluster_keywords",
    "events_funnel_served",
    # r8 additions: anomaly monitoring, bigram LM scoring, weighted
    # sampling, heavy-hitter serving (graph_scc is board-checked but
    # not headline: its coloring loop is convergence-bound, the one
    # deliberately-iterative row — see SCALE.md)
    "events_anomaly",
    "doc_lm_bigram",
    "doc_sample_weighted",
    "events_topk_served",
    # late-r8 additions: the session-table serving row (wall = three
    # out-of-order ingest folds + the serve, like events_funnel_served),
    # common-neighbor link prediction, and the pairwise dedup evaluation
    # (reuses the memoized near-dup pair graph that dedup_components
    # already materialized).  graph_bfs and graph_layers are
    # board-checked but not headline: like graph_scc they are
    # convergence-bound iterative loops whose local wall is driver
    # round-trips, not data (see SCALE.md)
    "events_sessions_served",
    "graph_links",
    "dedup_eval",
    "events_retention_served",
    "events_paths",
    # r9 addition: the counter view's dashboard serving row, newly
    # board-rotated (wall = 3 out-of-order counter folds + the serve
    # from state, like the other *_served rows).  graph_condense also
    # joined the board but stays out of the headline set: it rides the
    # SCC coloring loop, convergence-bound like graph_scc/bfs/layers
    # (see SCALE.md).
    "events_hourly_served",
    # r10 additions: the multimodal dedup pair (dHash image + audio —
    # wall is the Arrow-batched decode pass + the signature-sized band
    # join), the tokenizer fertility report, and the contrastive feed
    # served from maintained components (wall = three full ingest folds
    # — minhash + LSH + incremental-components + state writes each —
    # plus the state-only serve; the steady-state fold is dominated by
    # the per-batch minhash leg, see SCALE.md).
    "media_dedup",
    "media_dedup_audio",
    "doc_bpe_fertility",
    "doc_positives_served",
    # late-r10: the remaining at-rest serving rows — the maintained
    # min-k sample (3 TakeOrdered folds + serve), the negative pool
    # served from that index, and the media keep-list (3 media-index
    # folds — decode + probe-mode band join + component merge — plus
    # the state-only serve).
    "doc_sample_served",
    "doc_negatives_served",
    "media_dedup_served",
    # r11: the end-to-end composed training feed (text curation + media
    # keep-list + packing + contrastive columns in one plan — wall is
    # the curation legs + the media decode/band join; it took doc_pack's
    # board seat, whose packing rule runs inside this row).
    "training_batch_served",
]


def _load1() -> float:
    """1-minute system load average — the external-contention witness
    recorded beside each timing (machine-shared CPUs show up here, not
    as mystery per-query slowdowns)."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # Captured BEFORE the session/warmup: once the bench runs, the 1-min
    # load mostly reflects the bench's own 32 threads — the pre-run load
    # is the number that actually witnesses external contention.
    load_start = _load1()
    spark = get_spark("nomenklatura-spark-bench", cpus=cpus,
                      shuffle_partitions=cpus)
    from nomenklatura_spark.plans.queries import QUERIES

    # Warm up the JVM, parquet footer cache, codegen and the Arrow/pandas
    # UDF worker pool before timing — steady-state throughput is what a
    # long-lived cluster job sees; without this the first queries absorb
    # one-time session costs (measured: 5-10s attributed to query 1).
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType

    # no type hints: `from __future__ import annotations` stringifies them,
    # which the pandas_udf hint-inference can't resolve for local imports
    def _warm_fn(v):
        return v * 1.0

    _warm = F.pandas_udf(_warm_fn, "double", PandasUDFType.SCALAR)

    warm = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    warm.select(_warm(warm["l_quantity"]).alias("w")).write.format(
        "noop"
    ).mode("overwrite").save()

    # Warm the whole-stage-codegen cache for every headline query shape
    # at the smallest SF — Janino compilation of the tokenizer / shingle /
    # LSH-projection codegen units is a one-time session cost (2-3s for
    # the widest expressions) that a long-lived cluster job pays once,
    # not per query.  Warmup runs on sf0.001 paths, so no cached plan
    # fragment can leak into the timed sf runs.
    for wq in BENCH_QUERIES:
        QUERIES[wq](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    # 3 passes per query, reported COLD (r12 — the r11 verdict's #1):
    # the session memoizes producer relations (pair graphs, codebooks,
    # embeddings) per (session, corpus), and under the old best-of-3-min
    # a memoized query's recorded wall timed the orderBy of a cached
    # relation, not the work (media_dedup read 0.254s against a ~4s real
    # producer).  Every query's 3-pass block now starts from a cleared
    # plan-cache working set, pass 1 is the COLD wall (headline: the
    # producer cost is inside the timed region, nothing can hide in a
    # session cache) and min(pass 2, 3) is the WARM wall (the old
    # methodology's steady-state number, kept in the detail record so
    # rounds measured under the old scheme stay comparable).  A single
    # pass still regularly absorbs a transient contention spike
    # (observed 3-6x), so all three passes go to the detail record and
    # the 1-min /proc/loadavg is recorded next to each timing.
    from nomenklatura_spark.plans.cache import clear_plan_caches
    from nomenklatura_spark.plans.queries import SERVE_PROFILE

    timings: dict[str, float] = {}
    warm_timings: dict[str, float] = {}
    loads: dict[str, float] = {}
    passes_detail: dict[str, list[float]] = {}
    fold_serve: dict[str, dict] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        loads[name] = _load1()
        # memo-proofing: drop every session plan cache (and unpersist
        # the relations inside) so pass 1 pays the full producer chain
        clear_plan_caches()
        walls: list[float] = []
        cold_prof: dict | None = None
        for _ in range(3):
            SERVE_PROFILE.pop(name, None)
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - start
            # keep the fold/serve split of the COLD pass — the *_served
            # rows' headline wall is dominated by by-design ingest
            # folds; the serve is the regression-sensitive part and
            # must not hide under fold noise (r10 verdict #4)
            if name in SERVE_PROFILE and not walls:
                cold_prof = SERVE_PROFILE[name]
            walls.append(wall)
        if cold_prof is not None:
            fold_serve[name] = cold_prof
        elapsed = round(walls[0], 3)
        timings[name] = elapsed
        warm_timings[name] = round(min(walls[1:]), 3)
        # all three passes go to the detail record: a transient spike
        # shows as one slow pass, a machine-window shift shows as ALL
        # passes slow — the distinction the r9 regression triage had to
        # reconstruct from zero-code-change witness rows
        passes_detail[name] = [round(w, 3) for w in walls]
        total += elapsed
        print(f"# {name}: cold {elapsed:.3f}s / warm "
              f"{warm_timings[name]:.3f}s (load {loads[name]}, "
              f"passes {passes_detail[name]})", file=sys.stderr)

    # Matcher throughput — BASELINE.md's headline ER metric (reference
    # harness: contrib/entity_bench/perf.py avg ns/comparison).  Score the
    # blocker's candidate pairs through both matcher stacks and report
    # compares/sec (pair assembly excluded: time only the scoring pass
    # over a materialized pair frame, like the reference times compare()).
    from nomenklatura_spark.plans.queries import (
        _assembled_pairs,
        er_statements,
    )

    # Replicate the pair frame (like the reference's runs=2000 loop) so
    # the measurement is dominated by comparison compute, not per-job
    # stage/worker startup; first run warms the Python workers, second
    # run is timed.  Replication is sized to a fixed total workload
    # (~400k compares, matching entity_bench's 2000 x ~226) — the blocker
    # yields different pair counts per SF, and a small pair frame would
    # measure stage launch latency instead of comparison throughput.
    TARGET_COMPARES = 400_000
    base_pairs = _assembled_pairs(spark, sf_dir).persist()
    n_base = max(base_pairs.count(), 1)
    REPL = max(20, -(-TARGET_COMPARES // n_base))
    assembled = (
        base_pairs.crossJoin(spark.range(REPL).select(F.col("id").alias("_rep")))
        .drop("_rep")
        .coalesce(cpus)
        .persist()
    )
    n_pairs = assembled.count()
    compare: dict[str, float] = {}
    from nomenklatura_spark.matching.logic import score_pairs_logic_v1
    from nomenklatura_spark.matching.names_v2 import score_pairs_logic_v2
    from nomenklatura_spark.matching.ofac import score_pairs_ofac

    for name, fn in (
        ("logic_v1", score_pairs_logic_v1),
        ("logic_v2", score_pairs_logic_v2),
        ("ofac", score_pairs_ofac),
    ):
        # best-of-3 like every other number: a single timed pass on the
        # shared round machine has recorded 3x contention artifacts
        # (r6: logic_v1 75.6k recorded vs 239.6k idle truth)
        scored = fn(assembled).select("score")
        wall = _noop_wall(scored, passes=3)
        compare[name] = round(n_pairs / wall, 1)
        print(f"# compare {name}: {n_pairs} pairs in {wall:.2f}s", file=sys.stderr)

    scaling = None
    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        # a probe failure (disk-full spill, OOM) must not take the
        # headline record down with it — the JSON line prints regardless
        try:
            scaling = _scaling_section(spark, sf_dir, cpus)
        except Exception as exc:  # noqa: BLE001
            print(f"# scaling section FAILED: {exc}", file=sys.stderr)
            scaling = {"error": str(exc)[:500]}

    # The machine-readable line stays COMPACT — the r6 line carried the
    # per-query loadavg map plus the scaling section and outgrew the
    # driver's tail capture (BENCH_r06.json "parsed": null).  Per-query
    # loads and the scaling curves go to BENCH_DETAIL.json beside the
    # repo root (and to stderr above); the stdout line carries only the
    # headline totals the driver records.
    out = {
        "metric": "headline_queries_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "method": "cold_pass_of_3_per_query",
        "loadavg_start": load_start,
        "loadavg_final": _load1(),
        "compares_per_sec": compare,
        "n_scored_pairs": n_pairs,
    }
    detail = dict(out)
    detail["loadavg_1m"] = loads
    detail["passes"] = passes_detail
    # the old methodology's number (steady-state best-of-warm-passes,
    # session caches hot) — kept per query so rounds recorded under the
    # pre-r12 scheme stay comparable
    detail["queries_warm"] = warm_timings
    detail["warm_total"] = round(sum(warm_timings.values()), 3)
    # per-served-row {fold: [...], serve: s} from the cold (first) pass
    detail["fold_serve"] = fold_serve
    if scaling is not None:
        detail["scaling"] = scaling
    # The round driver re-runs this script after the final commit and
    # overwrites BENCH_DETAIL.json — an idle record committed there gets
    # clobbered by the driver's (possibly contended) run.  The builder
    # records idle measurements via SPARK_GRAFT_DETAIL_OUT=BENCH_IDLE.json,
    # a file this script only writes when explicitly asked to.
    detail_path = os.environ.get(
        "SPARK_GRAFT_DETAIL_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
        print(f"# detail (loadavg_1m + scaling) -> {detail_path}",
              file=sys.stderr)
    except OSError as exc:  # read-only checkout: keep the bench alive
        print(f"# detail write failed: {exc}", file=sys.stderr)
        print(json.dumps({"scaling": scaling}), file=sys.stderr)
    print(json.dumps(out))


def _noop_wall_build(fn, inp, passes: int = 3) -> float:
    # Iterative operators (k-core, label-prop, funnel) materialize each
    # round eagerly via localCheckpoint DURING DataFrame construction —
    # timing only the final noop write would measure an already-computed
    # result.  For those, every timed pass rebuilds the whole frame so
    # the wall covers the actual per-round shuffles.
    fn(inp).write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(passes):
        start = time.perf_counter()
        fn(inp).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    return best


def _noop_wall(df, passes: int = 3) -> float:
    # Warm once, then best-of-N timed passes: a single timed pass
    # regularly absorbs a transient contention spike from the round
    # driver's co-located jobs (the r5 scaling section recorded
    # doc_dup_passages at 18.4x on unchanged code; r3/r4 measured
    # 6.5-7x on an idle machine) — same rationale as the headline
    # best-of-3 above.
    df.write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(passes):
        start = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    return best


def _scaling_section(spark, sf_dir: str, cpus: int, n_repl: int = 10) -> dict:
    """Wall-vs-data-volume curve for the heaviest operators: each input
    replicated ``n_repl``x with distinct ids (values verbatim — the
    pessimistic probe: shared tokens/planes collide across replicas),
    ratio = wall(Nx) / wall(1x).  Sub-linear or ~linear ratios are the
    evidence that no shuffle in these plans goes super-linear when the
    scale factor moves 10x — the curve the per-SF bench can't see.
    SPARK_GRAFT_SCALING=0 skips the section."""
    from pyspark.sql import functions as F

    # The headline pass memoizes per-corpus artifacts (persisted
    # embeddings, blocker relations); a scaling x1 that silently hits
    # those caches measures nothing (observed: doc_embed x1 0.04s ->
    # ratio 196 purely from the hybrid row's cached embeddings).  The
    # scaling section measures COLD operators, so drop the session's
    # plan caches first.
    from nomenklatura_spark.plans.cache import clear_plan_caches

    clear_plan_caches()

    from nomenklatura_spark.ann.pq import pq_topk
    from nomenklatura_spark.dedup.semantic import semantic_dup_pairs_hier
    from nomenklatura_spark.dedup.substring import duplicated_passages
    from nomenklatura_spark.plans.queries import (
        MAX_PAIR_COST,
        MAX_PAIRS,
        SCHEMATA_PAIRS,
        boosts_df,
        er_schemata,
        er_statements,
    )
    from nomenklatura_spark.operators.blocker import (
        build_token_stats,
        candidate_pairs,
        term_frequencies,
        token_entries,
    )
    from nomenklatura_spark.functions.tokenize import tokenize_statements
    from nomenklatura_spark.session import load_table
    from nomenklatura_spark.textops.embed import hashed_embeddings

    reps = spark.range(n_repl).select(F.col("id").alias("_rep"))

    def replicate(df, id_cols, perturb_vec=None):
        out = df.crossJoin(F.broadcast(reps))
        for c in id_cols:
            typ = dict(df.dtypes)[c]
            if typ in ("bigint", "int"):
                out = out.withColumn(c, F.col(c) + F.col("_rep") * 1_000_000_000_000)
            else:
                out = out.withColumn(
                    c, F.concat_ws("-r", F.col(c), F.col("_rep"))
                )
        if perturb_vec is not None:
            # deterministic per-(replica, dimension) nudge: verbatim
            # vector copies would be cosine-1.0 clones that all collapse
            # into the same cells/buckets and measure output explosion,
            # not operator cost (re-normalization happens inside the
            # operators)
            out = out.withColumn(
                perturb_vec,
                F.transform(
                    F.col(perturb_vec).cast("array<double>"),
                    lambda x, i: x
                    + 0.05 * F.sin((F.col("_rep") + 1) * (i + 1)),
                ),
            )
        return out.drop("_rep")

    def replicate_disjoint_text(df, id_col, text_col):
        # token-level replica tagging: every word carries its replica
        # id, so shingle vocabularies are DISJOINT across replicas and
        # a containment probe measures the operator on 10 independent
        # corpora — verbatim text copies would give every doc 9 perfect
        # containers and measure output explosion instead
        from nomenklatura_spark.textops.analysis import words

        out = df.crossJoin(F.broadcast(reps)).select(
            F.concat_ws("-r", F.col(id_col), F.col("_rep")).alias(id_col),
            F.concat_ws(
                " ",
                F.transform(
                    words(F.col(text_col)),
                    lambda w: F.concat(
                        F.lit("x"), F.col("_rep").cast("string"),
                        F.lit("_"), w,
                    ),
                ),
            ).alias(text_col),
        )
        return out

    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id", "text").persist()
    )
    emb = load_table(spark, sf_dir, "embeddings").persist()
    stmts = er_statements(spark, sf_dir).persist()
    docs.count(), emb.count(), stmts.count()
    docs_n = replicate(docs, ["doc_id"]).persist()
    emb_n = replicate(emb, ["vec_id"], perturb_vec="embedding").persist()
    stmts_n = replicate(
        stmts, ["id", "entity_id", "canonical_id"]
    ).persist()
    docs_n.count(), emb_n.count(), stmts_n.count()

    from nomenklatura_spark.multimodal.decode import (
        synthetic_media_pair_assets,
    )
    from nomenklatura_spark.multimodal.dhash import media_dedup_pairs

    # payloads are generated from doc_id, so the replicated ids key
    # disjoint md5 pixel streams — 10 independent imagery corpora
    media_assets = synthetic_media_pair_assets(docs).persist()
    media_assets_n = synthetic_media_pair_assets(docs_n).persist()
    media_assets.count(), media_assets_n.count()

    # SemDeDup steady state = the production serving layout: two-level
    # codebook (ann/ivf.py:train_centroids_hier) trained once and reused
    # per batch, cells ∝ N (fixed ~64-vector target cell size) so the
    # within-cell join volume scales LINEARLY, tree assignment so the
    # argmax costs N·(K1+K2) instead of N·K.  The flat sqrt(N)-cell
    # in-query-training variant is what the driver's oracle row covers;
    # its N^1.5 assign/join shape is documented in SCALE.md.
    import math as _math

    from nomenklatura_spark.ann.ivf import train_centroids_hier

    def _hier_codebooks(e, n):
        side = max(2, _math.ceil((n / 64) ** 0.5))
        coarse, fine = train_centroids_hier(
            e, "vec_id", "embedding", n_coarse=side, n_fine=side, n_iter=2,
            dim=64,
        )
        coarse, fine = coarse.persist(), fine.persist()
        coarse.count(), fine.count()
        return coarse, fine

    cb1 = _hier_codebooks(emb, emb.count())
    cbn = _hier_codebooks(emb_n, emb_n.count())

    def blocker_pairs_op(statements):
        entries = token_entries(tokenize_statements(statements))
        schemata = er_schemata(spark)
        stats = build_token_stats(
            entries, schemata, MAX_PAIR_COST, schema_pairs=SCHEMATA_PAIRS
        )
        tf = term_frequencies(
            entries, boosts_df(spark), token_stats=stats, drop_stopwords=True
        ).persist()
        return candidate_pairs(
            tf, schemata, max_pairs=MAX_PAIRS, score_decimals=6
        )

    from nomenklatura_spark.dedup.bloom import bench_bloom, bloom_contamination

    def bloom_decontam_op(d):
        # full build + probe: filter from the bench slice, map-side
        # verdicts over the corpus slice (the r6 scale path — corpus
        # side never shuffles, so the curve should track the scan)
        bench = d.where(F.col("doc_id") % 50 == 0)
        corpus = d.where(F.col("doc_id") % 50 != 0)
        return bloom_contamination(
            corpus, bench_bloom(bench, "doc_id", "text"), "doc_id", "text"
        )

    # Triangle scaling probe on DISJOINT graph copies (both endpoints
    # id-remapped per replica): the graph's own wedge count is what the
    # degree-ordered algorithm is bounded by, so the fair implementation
    # probe holds topology fixed and multiplies components — ideal is
    # ~linear.  (Replicating only orderkeys would densify one shared
    # graph and measure graph math, not the operator.)
    from nomenklatura_spark.operators.graph import triangle_counts
    from nomenklatura_spark.plans.queries import _tri_part_pairs

    # the registry row's own edge builder, so the probe always measures
    # the same graph the headline row runs on
    tri_edges = _tri_part_pairs(spark, sf_dir).persist()
    tri_edges_n = replicate(tri_edges, ["src", "dst"]).persist()
    tri_edges.count(), tri_edges_n.count()

    # k-core / label-prop / funnel probes (r7): same disjoint-copy
    # discipline.  k is fixed from the BASE graph's degree knee (the
    # registry row's p75 rule) and reused at x10 — disjoint replicas
    # preserve the degree distribution, so a shared k keeps both
    # probes peeling identical rounds and the ratio measures the
    # operator, not k drift.
    import math as _m

    from nomenklatura_spark.operators.graph import (
        kcore_peel,
        label_propagation,
    )
    from nomenklatura_spark.operators.temporal import funnel_steps
    from nomenklatura_spark.plans.queries import _label_prop_inputs

    _und = (
        tri_edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    _deg = (
        _und.select(F.col("a").alias("node"))
        .unionAll(_und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    kco = _m.ceil(_deg.agg(F.percentile("degree", 0.75)).first()[0])

    lp_trade, lp_seeds = _label_prop_inputs(spark, sf_dir)
    lp_trade, lp_seeds = lp_trade.persist(), lp_seeds.persist()
    lp_trade_n = replicate(lp_trade, ["src", "dst"]).persist()
    lp_seeds_n = replicate(lp_seeds, ["node"]).persist()
    lp_trade.count(), lp_seeds.count(), lp_trade_n.count(), lp_seeds_n.count()

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .persist()
    )
    ev_n = replicate(ev, ["user_id"]).persist()
    ev.count(), ev_n.count()

    # containment probe: disjoint shingle vocabularies per replica (see
    # replicate_disjoint_text); the x1 side gets the same token tagging
    # (single replica) so both sides pay the identical text transform.
    # The base is a deterministic 20% corpus slice: the probe measures
    # the 1x -> 10x RATIO, and the full-corpus x10 verify at sf0.1
    # (~240M-row candidate join, build-timed over 4 passes) spills past
    # the sandbox disk — the sliced probe keeps x10 at 2x corpus volume
    # with the identical plan shape.
    from nomenklatura_spark.dedup.ngram import containment_join
    from nomenklatura_spark.operators.graph import link_prediction
    from nomenklatura_spark.streaming.session_index import (
        fold_session_intervals,
    )

    docs_slice = docs.where(F.col("doc_id") % 5 == 0)
    docs_c1 = (
        replicate_disjoint_text(docs_slice, "doc_id", "text")
        .where(F.col("doc_id").endswith("-r0"))
        .persist()
    )
    docs_cn = replicate_disjoint_text(docs_slice, "doc_id", "text").persist()
    docs_c1.count(), docs_cn.count()

    ops = {
        "doc_embed": lambda d: hashed_embeddings(d),
        "doc_dup_passages": lambda d: duplicated_passages(d),
        "doc_decontaminate_bloom": bloom_decontam_op,
        "dedup_semantic_hier": lambda e: semantic_dup_pairs_hier(
            e, threshold=0.35, codebooks=(cb1 if e is emb else cbn), dim=64
        ),
        "ann_pq_topk": lambda e: pq_topk(
            e,
            e.where(F.col("vec_id") % 997 == 0),
            k=5,
            m=16,
            dim=64,
            rerank=50,
        ),
        "blocker_pairs": blocker_pairs_op,
        "graph_triangles": lambda e: triangle_counts(e),
        "graph_kcore": lambda e: kcore_peel(e, k=kco),
        "graph_label_prop": lambda t: label_propagation(
            t[0], t[1], n_rounds=3
        ),
        "events_funnel": lambda d: funnel_steps(
            d, ["view", "click", "purchase"], within="7 DAYS"
        ),
        "dedup_containment": lambda d: containment_join(
            d, "doc_id", "text", k=3, mode="word", threshold=0.6
        ),
        # late-r8: link prediction on disjoint graph copies (same
        # discipline as triangles — wedge volume is the operator's own
        # bound, so the fair probe multiplies components); the session
        # fold on 10x disjoint users (per-user window state is the
        # claim: ratio tracks the event volume, never the history)
        "graph_links": lambda e: link_prediction(e, min_common=3),
        "events_sessions_fold": lambda d: fold_session_intervals(
            d.select(
                F.col("user_id").cast("string").alias("u"),
                F.col("ts").cast("timestamp").alias("s"),
                F.col("ts").cast("timestamp").alias("e"),
                F.lit(1).cast("bigint").alias("n"),
                F.lit(0).cast("bigint").alias("sv"),
            ),
            1800,
        ),
        # r10: media near-dup at the SCALE-PATH config (16-bit bands —
        # the knob the module docstring tells a 10x-larger corpus to
        # turn: 8-bit buckets hold n/256 signatures so their candidate
        # volume grows quadratically with corpus size, 16-bit buckets
        # defer that 256x).  Replicated doc_ids key DISJOINT md5 pixel
        # streams, so the probe runs 10 independent imagery corpora;
        # expected curve tracks the map-only decode pass.
        "media_dedup_b2": lambda a: media_dedup_pairs(
            a, max_hamming=3, band_bytes=2
        ),
    }
    inputs = {
        "doc_embed": (docs, docs_n),
        "doc_dup_passages": (docs, docs_n),
        "doc_decontaminate_bloom": (docs, docs_n),
        "dedup_semantic_hier": (emb, emb_n),
        "ann_pq_topk": (emb, emb_n),
        "blocker_pairs": (stmts, stmts_n),
        "graph_triangles": (tri_edges, tri_edges_n),
        "graph_kcore": (tri_edges, tri_edges_n),
        "graph_label_prop": ((lp_trade, lp_seeds), (lp_trade_n, lp_seeds_n)),
        "events_funnel": (ev, ev_n),
        "dedup_containment": (docs_c1, docs_cn),
        "graph_links": (tri_edges, tri_edges_n),
        "events_sessions_fold": (ev, ev_n),
        "media_dedup_b2": (media_assets, media_assets_n),
    }
    # operators that materialize work at DataFrame-build time
    # (localCheckpoint inside the builder — the iterative rounds, and
    # containment's shingle+df+rank relation): time build+execute per
    # pass, not just execute
    build_timed = {
        "graph_kcore",
        "graph_label_prop",
        "events_funnel",
        "dedup_containment",
        # the bucket-skew contract collects during build, materializing
        # the checkpointed signature pass — time build+execute
        "media_dedup_b2",
    }

    # SPARK_GRAFT_PROBE_SETTLE=<loadavg>: before each probe, wait (up
    # to 6 min) for the 1-minute loadavg to decay below the threshold,
    # so every probe STARTS as idle as the headline walls — without
    # this, sequential probes inherit each other's load and the
    # recorded per-probe loadavg is the bench's own threads, an upper
    # bound on the ratio rather than a clean curve.
    settle = float(os.environ.get("SPARK_GRAFT_PROBE_SETTLE", "0"))

    def _settled() -> None:
        if settle <= 0:
            return
        deadline = time.time() + 360
        while _load1() > settle and time.time() < deadline:
            time.sleep(10)

    section: dict[str, dict] = {"n_repl": n_repl}
    for name, fn in ops.items():
        base, big = inputs[name]
        _settled()
        load = _load1()
        if name in build_timed:
            w1 = _noop_wall_build(fn, base)
            wn = _noop_wall_build(fn, big)
        else:
            w1 = _noop_wall(fn(base))
            wn = _noop_wall(fn(big))
        section[name] = {
            "x1": round(w1, 3),
            f"x{n_repl}": round(wn, 3),
            "ratio": round(wn / max(w1, 1e-9), 2),
            "load": load,
        }
        print(
            f"# scaling {name}: x1 {w1:.2f}s -> x{n_repl} {wn:.2f}s "
            f"(ratio {wn / max(w1, 1e-9):.2f})",
            file=sys.stderr,
        )
    # r12 (verdict #6): steady-state ingest-fold probes for the two
    # heaviest maintained indexes.  The per-query 8v32 ratios sit at ~1
    # for the *_served rows because their sf0.1 walls measure the local
    # ~0.2s/job scheduling floor, not data — these probes instead hold
    # the fold SHAPE fixed (state = 2 prior folds, time the 3rd) and
    # move the data volume 10x, the curve that witnesses the O(batch)
    # contraction/write claims.  One timed pass per scale (the fold
    # mutates state, so it cannot be re-run for a min; the recorded
    # loadavg is the contention witness).
    import shutil as _sh
    import tempfile as _tmp

    from nomenklatura_spark.streaming.dedup_index import DedupIndexState
    from nomenklatura_spark.streaming.media_index import (
        MediaDedupIndexState,
    )

    # DISJOINT-text replicas with NUMERIC ids for the text-fold probe
    # (the generic replicate() copies text verbatim, so its replicas are
    # mutual near-dups and a fold probe over them measures pair-output
    # explosion, not the operator — the same discipline as
    # replicate_disjoint_text, numeric ids kept for the %3 batch slices;
    # the x1 side pays the identical token transform)
    from nomenklatura_spark.textops.analysis import words as _words

    def _disjoint_docs(n: int):
        reps_n = spark.range(n).select(F.col("id").alias("_rep"))
        return (
            docs.crossJoin(F.broadcast(reps_n))
            .select(
                (
                    F.col("doc_id") + F.col("_rep") * 1_000_000_000_000
                ).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.transform(
                        _words(F.col("text")),
                        lambda w: F.concat(
                            F.lit("x"), F.col("_rep").cast("string"),
                            F.lit("_"), w,
                        ),
                    ),
                ).alias("text"),
            )
        )

    docs_dj1 = _disjoint_docs(1).persist()
    docs_djn = _disjoint_docs(n_repl).persist()
    docs_dj1.count(), docs_djn.count()

    def _text_fold_wall(d) -> float:
        root = _tmp.mkdtemp(prefix="nk_scale_dfold_")
        try:
            st = DedupIndexState(spark, root)
            for b in range(2):
                st.apply_batch(
                    d.where(F.col("doc_id") % 3 == b), "doc_id", "text"
                )
            start = time.perf_counter()
            st.apply_batch(
                d.where(F.col("doc_id") % 3 == 2), "doc_id", "text"
            )
            return time.perf_counter() - start
        finally:
            _sh.rmtree(root, ignore_errors=True)

    def _media_fold_wall(a) -> float:
        root = _tmp.mkdtemp(prefix="nk_scale_mfold_")
        try:
            st = MediaDedupIndexState(spark, root)
            for b in range(2):
                st.apply_batch(a.where(F.col("asset_id") % 3 == b))
            start = time.perf_counter()
            st.apply_batch(a.where(F.col("asset_id") % 3 == 2))
            return time.perf_counter() - start
        finally:
            _sh.rmtree(root, ignore_errors=True)

    for name, fn, base, big in (
        ("dedup_index_fold", _text_fold_wall, docs_dj1, docs_djn),
        ("media_index_fold", _media_fold_wall, media_assets,
         media_assets_n),
    ):
        _settled()
        load = _load1()
        w1 = fn(base)
        wn = fn(big)
        section[name] = {
            "x1": round(w1, 3),
            f"x{n_repl}": round(wn, 3),
            "ratio": round(wn / max(w1, 1e-9), 2),
            "load": load,
        }
        print(
            f"# scaling {name}: x1 {w1:.2f}s -> x{n_repl} {wn:.2f}s "
            f"(ratio {wn / max(w1, 1e-9):.2f})",
            file=sys.stderr,
        )

    # Store update-loop: wall per judgement batch must stay CONSTANT as
    # batches accumulate — `SparkStore.update()` checkpoints the re-keyed
    # statements and releases the superseded mapping, so batch N is one
    # mapping build + one linker join over a materialized scan.  Before
    # that fix, batch N replayed all N prior rewrites (ratio grew with
    # N) and pinned every batch's mapping in the block cache.
    from nomenklatura_spark.store import SparkStore

    ids = [
        r[0]
        for r in stmts.select("entity_id")
        .distinct()
        .orderBy("entity_id")
        .limit(1600)
        .collect()
    ]
    n_batches, per_batch = 8, 100
    # tiny SFs carry fewer than n_batches*per_batch*2 entities: shrink
    # the batch, keep the batch COUNT (the constant-wall-per-batch claim
    # is about batch index, not batch size)
    per_batch = min(per_batch, len(ids) // (2 * n_batches))
    if per_batch == 0:
        # fewer than 2*n_batches entities: 8 empty batches would report
        # a plausible-looking but meaningless ratio — skip loudly
        print("# scaling store_update_loop: skipped (corpus too small)",
              file=sys.stderr)
        for df in (docs, emb, stmts, docs_n, emb_n, stmts_n,
                   tri_edges, tri_edges_n, lp_trade, lp_seeds,
                   lp_trade_n, lp_seeds_n, ev, ev_n,
                   docs_c1, docs_cn, media_assets, media_assets_n,
                   docs_dj1, docs_djn,
                   *cb1, *cbn):
            df.unpersist()
        return section
    edge_ddl = (
        "target string, source string, judgement string, score double,"
        " user string, created_at string, deleted_at string"
    )
    acc: list[tuple] = []
    store = SparkStore(stmts)
    walls = []
    for b in range(n_batches):
        acc += [
            (ids[2 * i], ids[2 * i + 1], "positive", 1.0, None,
             "2024-01-01", None)
            for i in range(b * per_batch, (b + 1) * per_batch)
        ]
        edges = spark.createDataFrame(acc, edge_ddl)
        start = time.perf_counter()
        store = store.with_edges(edges).update()  # eager: checkpoints
        walls.append(time.perf_counter() - start)
    store.release()
    section["store_update_loop"] = {
        "batch1": round(walls[0], 3),
        f"batch{n_batches}": round(walls[-1], 3),
        "ratio": round(walls[-1] / max(walls[0], 1e-9), 2),
    }
    print(
        f"# scaling store_update_loop: batch1 {walls[0]:.2f}s -> "
        f"batch{n_batches} {walls[-1]:.2f}s "
        f"(ratio {walls[-1] / max(walls[0], 1e-9):.2f})",
        file=sys.stderr,
    )

    for df in (docs, emb, stmts, docs_n, emb_n, stmts_n,
               tri_edges, tri_edges_n, lp_trade, lp_seeds,
               lp_trade_n, lp_seeds_n, ev, ev_n,
               docs_c1, docs_cn, media_assets, media_assets_n,
               docs_dj1, docs_djn,
               *cb1, *cbn):
        df.unpersist()
    return section


if __name__ == "__main__":
    main()
