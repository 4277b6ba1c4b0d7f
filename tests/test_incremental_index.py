"""Incremental blocking-index maintenance: the maintained state must be
indistinguishable from a from-scratch build on the final corpus
(SURVEY §2.12 — A1 as an incrementally-maintained materialised view)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from nomenklatura_spark.operators.blocker import (
    token_entries,
    token_schema_counts,
)
from nomenklatura_spark.functions.tokenize import tokenize_statements
from nomenklatura_spark.streaming.index import (
    BlockingIndexState,
)
from nomenklatura_spark.streaming.state import maintain_stream

STMT_SCHEMA = "schema string, canonical_id string, value string, prop_type string"

BATCH1 = [
    ("Company", "c1", "Gazprom OOO", "name"),
    ("Company", "c2", "Siemens AG", "name"),
    ("Company", "c2", "siemens@example.com", "email"),
    ("Person", "p1", "Johanna Quandt", "name"),
]
# c2 changes its name (entries+tsc retraction), c3 is new, p1 re-asserted
BATCH2 = [
    ("Company", "c2", "Siemens Aktiengesellschaft", "name"),
    ("Company", "c3", "Quandt Holding GmbH", "name"),
    ("Person", "p1", "Johanna Quandt", "name"),
]


def _final_corpus(spark):
    # upsert-by-entity: BATCH2 replaces every touched entity's statements
    touched = {r[1] for r in BATCH2}
    rows = [r for r in BATCH1 if r[1] not in touched] + BATCH2
    return spark.createDataFrame(rows, STMT_SCHEMA)


def _sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


ENTRY_COLS = ["schema", "id", "field", "token", "count"]
TSC_COLS = ["token", "schema", "df", "freq"]


def test_apply_batch_matches_scratch_build(spark, tmp_path):
    idx = BlockingIndexState(spark, str(tmp_path / "state"))
    idx.bootstrap(spark.createDataFrame(BATCH1, STMT_SCHEMA))
    assert idx.version() == 0
    idx.apply_batch(spark.createDataFrame(BATCH2, STMT_SCHEMA))
    assert idx.version() == 1

    scratch = token_entries(tokenize_statements(_final_corpus(spark)))
    assert _sorted(idx.entries(), ENTRY_COLS) == _sorted(scratch, ENTRY_COLS)
    assert _sorted(idx.tsc(), TSC_COLS) == _sorted(
        token_schema_counts(scratch), TSC_COLS
    )
    # retracted token really gone: "sy:org:ag" only existed via c2's old name
    toks = {t for (t, *_rest) in _sorted(idx.tsc(), TSC_COLS)}
    assert "sy:org:ag" in toks  # Aktiengesellschaft folds to the same class
    assert not any(t.startswith("np:ag") for t in toks)
    # time travel: v0 still readable and equals the batch-1 build
    b1 = token_entries(tokenize_statements(spark.createDataFrame(BATCH1, STMT_SCHEMA)))
    assert _sorted(idx.entries(version=0), ENTRY_COLS) == _sorted(b1, ENTRY_COLS)


def test_retract_entities(spark, tmp_path):
    idx = BlockingIndexState(spark, str(tmp_path / "state"))
    idx.bootstrap(spark.createDataFrame(BATCH1, STMT_SCHEMA))
    idx.retract_entities(spark.createDataFrame([("c2",)], "id string"))
    remaining = spark.createDataFrame(
        [r for r in BATCH1 if r[1] != "c2"], STMT_SCHEMA
    )
    scratch = token_entries(tokenize_statements(remaining))
    assert _sorted(idx.entries(), ENTRY_COLS) == _sorted(scratch, ENTRY_COLS)
    assert _sorted(idx.tsc(), TSC_COLS) == _sorted(
        token_schema_counts(scratch), TSC_COLS
    )
    # no zero/negative doc frequencies survive retraction
    assert idx.tsc().where(F.col("df") <= 0).count() == 0


def test_streaming_maintenance(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    cols = ("schema", "canonical_id", "value", "prop_type")
    for name, rows in (("b1.json", BATCH1), ("b2.json", BATCH2)):
        with open(os.path.join(src, name), "w") as fh:
            for r in rows:
                fh.write(json.dumps(dict(zip(cols, r))) + "\n")

    idx = BlockingIndexState(spark, str(tmp_path / "state"))
    idx.bootstrap(spark.createDataFrame([], STMT_SCHEMA))
    stream = (
        spark.readStream.schema(STMT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .json(src)
    )
    q = maintain_stream(stream, idx, str(tmp_path / "chk"), trigger_once=True)
    q.awaitTermination(120)

    # two micro-batches on top of the empty bootstrap
    assert idx.version() == 2
    scratch = token_entries(tokenize_statements(_final_corpus(spark)))
    assert _sorted(idx.entries(), ENTRY_COLS) == _sorted(scratch, ENTRY_COLS)
    assert _sorted(idx.tsc(), TSC_COLS) == _sorted(
        token_schema_counts(scratch), TSC_COLS
    )
