"""Two producer rows, run once cold at the end of a traced ``ingest`` run.

The read-only producer chains (``ann``, ``textops``) run in neither timed
workload: a workload of their own does not fit the benchmark's run
budget (see README.md). A traced ``ingest`` run therefore ends with one
cold pass (``plans.cache.clear_plan_caches()`` before each row) over
``ann_pq_topk`` and ``doc_cluster_keywords`` on a seeded corpus, each
row in its own span, and checks each row's output against its DuckDB
oracle in ``plans.queries.ORACLES``. The ANN neighbours are also scored
against an exact numpy top-k.
"""

from __future__ import annotations

import os

import gen
from checks import exact_topk_recall, require, rows_equal

# (layer, row of plans.queries.QUERIES)
ROWS = (("ann_pq", "ann_pq_topk"), ("cluster_keywords", "doc_cluster_keywords"))
N_DOCS = N_VECS = 1000
ANN_K = 5                    # the row's k; its queries are vec_id % 50 == 0
ANN_RECALL_FLOOR = 0.6       # seeds 1-8 gave 0.72-0.86


def producer_pass(spark, work: str, seed: int, tracer) -> None:
    """Run, time and check each row of ``ROWS`` once; the ANN recall goes
    to its span's ``counts["recall"]``."""
    from nomenklatura_spark.plans.cache import clear_plan_caches
    from nomenklatura_spark.plans.queries import ORACLES, QUERIES

    data = os.path.join(work, "data", "producers")
    gen.producer_tables(seed, data, N_DOCS, N_VECS)
    con = _duckdb(data)
    for layer, row in ROWS:
        out = os.path.join(work, "data", f"{row}.parquet")
        clear_plan_caches()
        with tracer.span(layer, cpu=True) as span:
            QUERIES[row](spark, data).write.parquet(out)
        cols, got = _fetch(con, f"SELECT * FROM read_parquet('{out}/*.parquet')")
        want_cols, want = _fetch(con, ORACLES[row])
        require(cols == want_cols,
                f"{row}: columns {cols}, the oracle's {want_cols}")
        rows_equal(row, got, want)
        if layer == "ann_pq":
            span.counts["recall"] = _ann_recall(con, got)
            require(span.counts["recall"] >= ANN_RECALL_FLOOR,
                    f"{row}: recall {span.counts['recall']:.3f} against "
                    "the exact top-k is below the floor")


def _duckdb(data: str):
    import duckdb

    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, table)}.parquet')")
    return con


def _fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Column names and rows, floats rounded to the rows' pinned 6
    decimals."""
    cur = con.execute(sql)
    rows = [tuple(round(x, 6) if isinstance(x, float) else x for x in r)
            for r in cur.fetchall()]
    return [d[0] for d in cur.description], rows


def _ann_recall(con, got: list[tuple]) -> float:
    ids, vectors = zip(*con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall())
    found: dict = {}
    for query_id, neighbor_id, *_ in got:
        found.setdefault(query_id, set()).add(neighbor_id)
    queries = [i for i in ids if i % 50 == 0]
    return exact_topk_recall(ids, vectors, found, queries, ANN_K)
