"""Thin CLI over the Spark engine — the reference's command surface
(``nomenklatura/cli.py``) re-expressed as batch jobs.

Verbs map 1:1 to the library plans; each reads/writes files so a user of
the reference tool can drive the same workflows:

- ``xref PATH``          dedupe candidates from an entity file (P1)
- ``apply PATH``         canonicalise an entity stream with a resolver (P4/F7)
- ``apply-statements``   canonicalise a statement CSV (F7)
- ``sorted-aggregate``   merge statement rows into entities (A7/P5)
- ``train-v1-matcher``   fit the regression matcher from judgement pairs (P8)
- ``load-resolver`` / ``dump-resolver``  resolver dump round-trip (S7)
- ``prune``              drop undecided suggestions from a resolver (G9)
- ``make-sortable``      entity file → id-sorted JSON lines (P5 input form)
- ``bench``              one matching-throughput measurement (contrib perf)
- ``curate``             corpus curation verdicts / filtered corpus (LLM tier)
- ``split``              stratified train/val/test assignment, split-partitioned
- ``drift``              unigram distribution drift between two corpora
- ``decontaminate``      benchmark-overlap verdicts (exact join or Bloom)
- ``pagerank``           graph centrality over an edge parquet

The interactive ``dedupe`` TUI and network ``enrich``/``match`` verbs are
out of scope per SURVEY §2 (TUI) and for want of an HTTP transport.
"""

from __future__ import annotations

import json
import sys

import click

from nomenklatura_spark.session import get_spark


def _spark():
    return get_spark("nomenklatura-spark-cli")


@click.group(help="nomenklatura-spark data integration")
def cli() -> None:
    pass


@cli.command("xref", help="Generate dedupe candidates from an entity file")
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output parquet directory for scored candidate pairs")
@click.option("-l", "--limit", type=int, default=5000)
@click.option("-t", "--threshold", type=float, default=0.0)
@click.option("-d", "--discount-internal", type=float, default=1.0)
@click.option("--algorithm", default="logic-v1",
              help="Scoring algorithm name (matching.ALGORITHMS)")
def xref_cmd(path: str, outpath: str, limit: int, threshold: float,
             discount_internal: float, algorithm: str) -> None:
    from pyspark.sql import functions as F

    from nomenklatura_spark.plans.xref import XrefOptions, xref_pairs
    from nomenklatura_spark.sources.entity_json import read_entity_file

    spark = _spark()
    stmts = read_entity_file(spark, path)
    scored = xref_pairs(
        spark,
        stmts,
        options=XrefOptions(
            threshold=threshold,
            discount_internal=discount_internal,
            algorithm=algorithm,
        ),
    )
    top = scored.orderBy(F.desc("score"), "lid", "rid").limit(limit)
    top.write.mode("overwrite").parquet(outpath)
    click.echo(f"wrote {limit}-capped candidates to {outpath}")


@cli.command("apply", help="Apply a resolver file to an entity stream")
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True)
@click.option("-r", "--resolver", type=click.Path(exists=True), required=True)
def apply_cmd(path: str, outpath: str, resolver: str) -> None:
    from nomenklatura_spark.resolver.edges import resolver_mapping
    from nomenklatura_spark.resolver.linker import apply_linker
    from nomenklatura_spark.sources.entity_json import (
        entities_to_json,
        read_entity_file,
    )
    from nomenklatura_spark.sources.statement_io import read_resolver_dump

    spark = _spark()
    stmts = read_entity_file(spark, path)
    mapping = resolver_mapping(read_resolver_dump(spark, resolver))
    canon = apply_linker(stmts, mapping)
    entities_to_json(canon).coalesce(1).write.mode("overwrite").text(outpath)
    click.echo(f"wrote canonicalised entities to {outpath}")


@cli.command("apply-statements", help="Apply a resolver file to statements")
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True)
@click.option("-r", "--resolver", type=click.Path(exists=True), required=True)
def apply_statements_cmd(path: str, outpath: str, resolver: str) -> None:
    from nomenklatura_spark.resolver.edges import resolver_mapping
    from nomenklatura_spark.resolver.linker import apply_linker
    from nomenklatura_spark.sources.statement_io import (
        read_resolver_dump,
        read_statement_csv,
        write_statement_csv,
    )

    spark = _spark()
    stmts = read_statement_csv(spark, path)
    mapping = resolver_mapping(read_resolver_dump(spark, resolver))
    write_statement_csv(apply_linker(stmts, mapping), outpath)
    click.echo(f"wrote canonicalised statements to {outpath}")


@cli.command("sorted-aggregate", help="Merge statement rows into entities")
@click.option("-i", "--infile", type=click.Path(exists=True), required=True)
@click.option("-o", "--outpath", type=click.Path(), required=True)
def sorted_aggregate_cmd(infile: str, outpath: str) -> None:
    from nomenklatura_spark.sources.entity_json import (
        entities_to_json,
        read_entity_file,
    )

    spark = _spark()
    stmts = read_entity_file(spark, infile)
    # entities_to_json IS the aggregation — a shuffle group-by per entity,
    # the batch equivalent of the reference's external-sort aggregator (P5)
    entities_to_json(stmts).coalesce(1).write.mode("overwrite").text(outpath)
    click.echo(f"wrote aggregated entities to {outpath}")


@cli.command("train-v1-matcher", help="Train the regression matcher")
@click.argument("pairs_path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output JSON file for the fitted model")
def train_cmd(pairs_path: str, outpath: str) -> None:
    from nomenklatura_spark.matching.train import train_logistic

    spark = _spark()
    pairs = spark.read.parquet(pairs_path)
    feature_cols = [c for c in pairs.columns if c.startswith("f_")]
    model = train_logistic(pairs, feature_cols, label_col="label")
    with open(outpath, "w") as fh:
        json.dump(model, fh, indent=2, sort_keys=True)
    click.echo(f"wrote model to {outpath}")


@cli.command("load-resolver", help="Load resolver edges from a dump file")
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output parquet directory for the edge table")
def load_resolver_cmd(path: str, outpath: str) -> None:
    from nomenklatura_spark.sources.statement_io import read_resolver_dump

    spark = _spark()
    read_resolver_dump(spark, path).write.mode("overwrite").parquet(outpath)
    click.echo(f"loaded resolver edges into {outpath}")


@cli.command("dump-resolver", help="Dump resolver edges to a file")
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True)
def dump_resolver_cmd(path: str, outpath: str) -> None:
    from nomenklatura_spark.sources.statement_io import write_resolver_dump

    spark = _spark()
    write_resolver_dump(spark.read.parquet(path), outpath)
    click.echo(f"dumped resolver edges to {outpath}")


@cli.command("prune", help="Remove undecided dedupe candidates")
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True)
def prune_cmd(path: str, outpath: str) -> None:
    """Soft-delete NO_JUDGEMENT suggestions from a resolver dump
    (reference ``cli.py:213-219`` / ``resolver.py:498-520``)."""
    from datetime import datetime, timezone

    from nomenklatura_spark.resolver.edges import prune_suggestions
    from nomenklatura_spark.sources.statement_io import (
        read_resolver_dump,
        write_resolver_dump,
    )

    from pyspark.sql import functions as F

    spark = _spark()
    ts = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    edges = read_resolver_dump(spark, path).withColumn(
        "deleted_at", F.lit(None).cast("string")
    )
    pruned = prune_suggestions(edges, ts)
    # write_resolver_dump keeps live edges only, so pruned suggestions
    # drop out of the dump — the reference's prune writes back the same way
    write_resolver_dump(pruned, outpath)
    click.echo(f"wrote pruned resolver to {outpath}")


@cli.command("make-sortable", help="Convert entities to sorted plain-text form")
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True)
def make_sortable_cmd(path: str, outpath: str) -> None:
    """Entity file → one JSON line per entity, sorted by entity id — the
    input shape the reference's external-sort aggregator consumes
    (``cli.py:239-245``).  Spark's exchange+sort replaces the external
    sort; the output is a single ordered text file."""
    from nomenklatura_spark.sources.entity_json import (
        entities_to_json,
        read_entity_file,
    )

    spark = _spark()
    stmts = read_entity_file(spark, path)
    out = entities_to_json(stmts, sort=True)
    out.coalesce(1).write.mode("overwrite").text(outpath)
    click.echo(f"wrote sortable entities to {outpath}")


@cli.command("bench", help="Benchmark the matching algorithms")
@click.option("-n", "--pairs", type=int, default=10_000)
def bench_cmd(pairs: int) -> None:
    import time

    from nomenklatura_spark.matching.names_v2 import name_match
    from nomenklatura_spark.matching.ofac import ofac_name_score

    names = [f"test name {i} variant" for i in range(pairs)]
    for label, fn in (("logic_v2", name_match), ("ofac", ofac_name_score)):
        t0 = time.time()
        for n in names:
            fn([n], ["test name canonical"])
        dt = time.time() - t0
        click.echo(f"{label}: {pairs / dt:,.0f} compares/s")


@cli.command(
    "curate",
    help="Corpus curation verdicts (quality/dedup/decontam/boilerplate)",
)
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output parquet directory")
@click.option("--bench-path", type=click.Path(exists=True), default=None,
              help="Benchmark documents parquet for decontamination "
                   "(default: no decontamination set)")
@click.option("--boiler-max", type=float, default=0.85)
@click.option("--jaccard", type=float, default=0.5,
              help="Word-trigram Jaccard threshold for the near-dup graph")
@click.option("--filtered/--verdicts", default=False,
              help="Write only kept documents instead of verdict columns")
def curate_cmd(path: str, outpath: str, bench_path: str | None,
               boiler_max: float, jaccard: float, filtered: bool) -> None:
    from pyspark.sql import functions as F

    from nomenklatura_spark.dedup.ngram import ngram_jaccard_pairs
    from nomenklatura_spark.plans.curate import curate_verdicts, curation_audit

    spark = _spark()
    docs = spark.read.parquet(path)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=jaccard, max_df=100,
        mode="word",
    ).select("lid", "rid")
    bench = (
        spark.read.parquet(bench_path)
        if bench_path is not None
        else spark.createDataFrame([], "doc_id long, text string")
    )
    # persist: the verdict plan (including the n-gram self-join) feeds
    # both the output write and the audit — one evaluation, not two
    verdicts = curate_verdicts(
        docs, pairs, bench, boiler_max=boiler_max
    ).persist()
    try:
        if filtered:
            kept = docs.join(
                verdicts.where(F.col("keep")).select("doc_id"), "doc_id"
            )
            kept.write.mode("overwrite").parquet(outpath)
        else:
            verdicts.write.mode("overwrite").parquet(outpath)
        audit = curation_audit(verdicts).collect()[0].asDict()
    finally:
        verdicts.unpersist()
    click.echo(json.dumps(audit))


@cli.command(
    "pagerank",
    help="Fixed-point PageRank over an edge parquet (src, dst[, weight])",
)
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output parquet directory for (node, rank_q, rank)")
@click.option("--iters", type=int, default=5)
@click.option("--weight", default=None,
              help="Optional integer edge-weight column")
@click.option("--top", type=int, default=10, help="Top nodes to print")
def pagerank_cmd(path: str, outpath: str, iters: int, weight: str | None,
                 top: int) -> None:
    from pyspark.sql import functions as F

    from nomenklatura_spark.operators.graph import pagerank

    spark = _spark()
    ranks = pagerank(
        spark.read.parquet(path), n_iter=iters, weight=weight
    )
    ranks.write.mode("overwrite").parquet(outpath)
    head = [
        r.asDict()
        for r in spark.read.parquet(outpath)
        .orderBy(F.col("rank_q").desc(), "node")
        .limit(top)
        .collect()
    ]
    click.echo(json.dumps({"top": head}))


@cli.command(
    "decontaminate",
    help="Flag corpus documents overlapping a benchmark corpus",
)
@click.argument("path", type=click.Path(exists=True))
@click.argument("bench_path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output parquet directory for the verdict/pair table")
@click.option("--method", type=click.Choice(["exact", "bloom"]),
              default="bloom",
              help="exact = broadcast n-gram containment join (pair "
                   "table); bloom = map-side filter (per-doc verdicts)")
@click.option("--k", type=int, default=5, help="Word n-gram width")
@click.option("--threshold", type=float, default=0.5,
              help="Containment threshold (exact method)")
def decontaminate_cmd(path: str, bench_path: str, outpath: str,
                      method: str, k: int, threshold: float) -> None:
    from pyspark.sql import functions as F

    spark = _spark()
    docs = spark.read.parquet(path)
    bench = spark.read.parquet(bench_path)
    if method == "exact":
        from nomenklatura_spark.dedup.ngram import ngram_containment_pairs

        out = ngram_containment_pairs(
            docs, bench, "doc_id", "text", k=k, threshold=threshold,
            mode="word",
        )
        out.write.mode("overwrite").parquet(outpath)
        n_flagged = (
            spark.read.parquet(outpath).select("doc_id").distinct().count()
        )
    else:
        from nomenklatura_spark.dedup.bloom import (
            bench_bloom,
            bloom_contamination,
        )

        bloom = bench_bloom(bench, "doc_id", "text", k=k)
        out = bloom_contamination(docs, bloom, "doc_id", "text", k=k)
        out.withColumnRenamed("id", "doc_id").write.mode(
            "overwrite"
        ).parquet(outpath)
        n_flagged = (
            spark.read.parquet(outpath).where("contaminated").count()
        )
    click.echo(json.dumps({"method": method, "flagged_docs": n_flagged}))


@cli.command(
    "split",
    help="Assign stratified train/val/test splits to a document corpus",
)
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output parquet directory, partitioned by split")
@click.option("--strata", default="lang", help="Stratification column")
@click.option("--train-pct", type=int, default=90)
@click.option("--val-pct", type=int, default=5)
def split_cmd(path: str, outpath: str, strata: str, train_pct: int,
              val_pct: int) -> None:
    from nomenklatura_spark.textops.analysis import stratified_split

    spark = _spark()
    docs = spark.read.parquet(path)
    assigned = docs.join(
        stratified_split(docs, strata, "doc_id", train_pct, val_pct),
        ["doc_id", strata],
    )
    # split-partitioned layout: downstream loaders read one directory
    # per split with partition pruning, never re-deriving the cut
    assigned.write.mode("overwrite").partitionBy("split").parquet(outpath)
    counts = {
        r["split"]: r["n"]
        for r in assigned.groupBy("split").count()
        .withColumnRenamed("count", "n").collect()
    }
    click.echo(json.dumps({"splits": counts}))


@cli.command(
    "drift",
    help="Unigram distribution drift between two document corpora",
)
@click.argument("old_path", type=click.Path(exists=True))
@click.argument("new_path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), default=None,
              help="Optional parquet output for the full per-word table")
@click.option("--top", type=int, default=20, help="Top movers to print")
def drift_cmd(old_path: str, new_path: str, outpath: str | None,
              top: int) -> None:
    from pyspark.sql import functions as F

    from nomenklatura_spark.textops.analysis import unigram_drift

    spark = _spark()
    drift = unigram_drift(
        spark.read.parquet(old_path), spark.read.parquet(new_path)
    )
    if outpath is not None:
        drift.write.mode("overwrite").parquet(outpath)
        drift = spark.read.parquet(outpath)  # reuse the written table
    kl = drift.agg(F.round(F.sum("kl_term"), 9).alias("kl")).first()["kl"]
    movers = [
        r.asDict()
        for r in drift.orderBy(F.abs(F.col("delta")).desc(), "word")
        .limit(top)
        .collect()
    ]
    click.echo(json.dumps({"kl_new_vs_old": kl, "top_movers": movers}))


@cli.command(
    "sketch-distinct",
    help="Mergeable HLL distinct-count sketch over a parquet column",
)
@click.argument("path", type=click.Path(exists=True))
@click.option("--key", default=None,
              help="Grouping column (default: one global sketch)")
@click.option("--value", required=True, help="Column whose distinct "
              "values are estimated")
@click.option("-o", "--outpath", type=click.Path(), default=None,
              help="Optional parquet output for the register relation")
@click.option("--merge-with", type=click.Path(exists=True), default=None,
              help="Existing register parquet to max-merge (the "
                   "incremental path: estimate covers both)")
def sketch_distinct_cmd(path: str, key: str | None, value: str,
                        outpath: str | None, merge_with: str | None) -> None:
    from pyspark.sql import functions as F

    from nomenklatura_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    spark = _spark()
    df = spark.read.parquet(path)
    if key is None:
        df = df.withColumn("_key", F.lit("all"))
        key = "_key"
    regs = hll_registers(
        df.select(F.col(key).cast("string").alias("key"), value),
        ["key"], value,
    )
    if merge_with is not None:
        regs = hll_merge(regs, spark.read.parquet(merge_with))
    if outpath is not None:
        regs.write.mode("overwrite").parquet(outpath)
        regs = spark.read.parquet(outpath)
    est = {
        r["key"]: r["n_hll"]
        for r in hll_estimate(regs, ["key"]).collect()
    }
    click.echo(json.dumps({"distinct": est}))


@cli.command(
    "triangles",
    help="Triangle counts + clustering coefficients over an edge parquet",
)
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output parquet for (node, degree, triangles, clustering)")
@click.option("--src", default="src")
@click.option("--dst", default="dst")
def triangles_cmd(path: str, outpath: str, src: str, dst: str) -> None:
    from pyspark.sql import functions as F

    from nomenklatura_spark.operators.graph import triangle_counts

    spark = _spark()
    out = triangle_counts(spark.read.parquet(path), src, dst)
    out.write.mode("overwrite").parquet(outpath)
    out = spark.read.parquet(outpath)
    summary = out.agg(
        F.count(F.lit(1)).alias("nodes"),
        (F.sum("triangles") / 3).cast("long").alias("triangles"),
        F.round(F.avg("clustering"), 4).alias("avg_clustering"),
    ).first()
    click.echo(json.dumps(summary.asDict()))


@cli.command(
    "trim-passages",
    help="Remove corpus-duplicated passages from a document parquet",
)
@click.argument("path", type=click.Path(exists=True))
@click.option("-o", "--outpath", type=click.Path(), required=True,
              help="Output parquet for (doc_id, n_words, words_removed, "
                   "trimmed_text)")
@click.option("--k", type=int, default=8, help="Window width in words")
def trim_passages_cmd(path: str, outpath: str, k: int) -> None:
    from pyspark.sql import functions as F

    from nomenklatura_spark.dedup.substring import trim_duplicated_passages

    spark = _spark()
    out = trim_duplicated_passages(spark.read.parquet(path), k=k)
    out.write.mode("overwrite").parquet(outpath)
    out = spark.read.parquet(outpath)
    stats = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("words_removed").alias("words_removed"),
        F.sum("n_words").alias("words_total"),
    ).first()
    click.echo(json.dumps(stats.asDict()))


@cli.command(
    "search",
    help="Rank documents in a parquet corpus against a free-text query",
)
@click.argument("path", type=click.Path(exists=True))
@click.argument("query")
@click.option("--k", type=int, default=10, help="Results to return")
@click.option("--hybrid", is_flag=True, default=False,
              help="Fuse BM25 with hashed-embedding cosine (RRF)")
def search_cmd(path: str, query: str, k: int, hybrid: bool) -> None:
    from pyspark.sql import functions as F

    from nomenklatura_spark.textops.retrieval import bm25_topk, rrf_fuse

    spark = _spark()
    docs = spark.read.parquet(path).select("doc_id", "text")
    # the probe id rides through cosine_topk under the CORPUS id type
    # (its output schema is keyed on it), so cast the sentinel to match
    # — a string-doc_id corpus otherwise dies in the Arrow conversion
    idt = docs.schema["doc_id"].dataType.simpleString()
    probe = spark.createDataFrame(
        [(-1, query)], "query_id long, text string"
    ).select(F.col("query_id").cast(idt).alias("query_id"), "text")
    run_k = max(k, 20) if hybrid else k
    lex = bm25_topk(docs, probe, id_col="doc_id", text_col="text",
                    query_id_col="query_id", query_text_col="text", k=run_k)
    if hybrid:
        from nomenklatura_spark.ann.brute import cosine_topk
        from nomenklatura_spark.textops.embed import hashed_embeddings

        emb = hashed_embeddings(docs, "doc_id", "text", dim=64)
        qv = hashed_embeddings(probe, "query_id", "text", dim=64).select(
            F.col("query_id").alias("doc_id"), "embedding"
        )
        sem = cosine_topk(emb, qv, id_col="doc_id",
                          vec_col="embedding", k=run_k)
        out = rrf_fuse(
            {
                "lex": lex,
                "sem": sem.select(
                    "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
                ),
            },
            k=k,
        )
        rows = [r.asDict() for r in out.orderBy("rank").collect()]
    else:
        rows = [
            r.asDict()
            for r in lex.orderBy("rank").limit(k).collect()
        ]
    for r in rows:
        r.pop("query_id", None)
        click.echo(json.dumps(r))


def main() -> None:
    cli(prog_name="nomenklatura-spark")


if __name__ == "__main__":
    main()
