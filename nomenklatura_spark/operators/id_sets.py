"""Driver-side id sets as DataFrames and filters.

The incremental folds and the bounded component path hold small sets
of ids on the driver (the ids a batch re-ingests, the labels a merge
changed, the nodes of the affected components).  This module is the
one place that turns such a set back into Spark terms:

- ``local_relation``: rows as a one-partition local relation, built
  from Arrow so it plans as a ``LocalTableScan``.
- ``with_ids`` / ``without_ids``: keep or drop the rows whose column
  holds one of the ids.
- ``touching_buckets``: the state buckets of the rows that touch the
  ids — the buckets a fold must rewrite.

Up to ``LITERAL_IDS_MAX`` ids a filter is a literal ``isin``: no join,
no exchange, no extra job.  PySpark builds such a list with one py4j
call per value, and the literals ride along with every task, so past
the bound the same filter is a semi or anti join against the ids as a
broadcast local relation.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

# Size of the largest id list filtered by literals (module docstring).
# Measured on a 4-core VM, dropping n string ids from a 200,000-row
# parquet frame and counting (median of 3 warm runs): the literal list
# takes 0.27 / 0.26 / 0.34 / 0.60 s at n = 10 / 100 / 300 / 1,000 and
# the broadcast join 0.32 / 0.22 / 0.23 / 0.24 s, plus one job for the
# broadcast.  The two cost about the same at 100 ids.
LITERAL_IDS_MAX = 100


def local_relation(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """``rows`` (sorted by the caller) as a one-partition local relation
    of ``schema`` (a StructType or a DDL string).  Built from an Arrow
    table, so it plans as a LocalTableScan: reading, collecting or
    broadcasting it starts no Python worker, where a ``createDataFrame``
    over a Python list is an RDD of pickled rows that every scan
    unpickles in a Python worker.  One partition, so one output file
    when written."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def _ids_relation(df: DataFrame, ids: list, col: str) -> DataFrame:
    """``ids`` as a broadcast one-column relation ``_id``, typed like
    ``df[col]``."""
    schema = StructType([StructField("_id", df.schema[col].dataType, True)])
    return F.broadcast(
        local_relation(df.sparkSession, [(i,) for i in sorted(ids)], schema)
    )


def with_ids(df: DataFrame, ids: list, col: str) -> DataFrame:
    """The rows of ``df`` whose ``col`` holds one of ``ids``."""
    if len(ids) <= LITERAL_IDS_MAX:
        return df.where(F.col(col).isin(ids))
    keep = _ids_relation(df, ids, col)
    return df.join(keep, df[col] == keep["_id"], "left_semi")


def without_ids(
    df: DataFrame, ids: list, cols: tuple[str, ...] = ("lid", "rid")
) -> DataFrame:
    """``df`` minus every row whose ``cols`` hold one of ``ids`` — by
    default a pair log minus every pair touching them (the retraction of
    a dedup fold).  The column order of ``df`` is kept."""
    if not ids:
        return df
    if len(ids) <= LITERAL_IDS_MAX:
        keep = ~F.col(cols[0]).isin(ids)
        for c in cols[1:]:
            keep = keep & ~F.col(c).isin(ids)
        return df.where(keep)
    for c in cols:
        drop = _ids_relation(df, ids, c)
        df = df.join(drop, df[c] == drop["_id"], "left_anti")
    return df


def touching_buckets(
    bucket_of: Callable[[Column], Column],
    ids: list,
    *frames: DataFrame,
    cols: tuple[str, ...] = ("lid", "rid"),
    key: str = "lid",
) -> list[int]:
    """The ``key``-buckets of every row of ``frames`` whose ``cols`` hold
    one of ``ids`` — by default the pair-log buckets a dedup fold must
    rewrite.  One collect.  Under ``LITERAL_IDS_MAX`` ids the filter is
    a literal list and the buckets are deduplicated on the driver (no
    exchange); past it the rows come from semi joins and are
    deduplicated in Spark, so at most one row per bucket is collected."""
    if not ids:
        return []
    if len(ids) <= LITERAL_IDS_MAX:
        touch = reduce(Column.__or__, [F.col(c).isin(ids) for c in cols])
        scans = [f.where(touch) for f in frames]
    else:
        scans = [with_ids(f, ids, c) for f in frames for c in cols]
    touching = reduce(
        DataFrame.union, [s.select(bucket_of(F.col(key))) for s in scans]
    )
    if len(ids) > LITERAL_IDS_MAX:
        touching = touching.distinct()
    return sorted({r[0] for r in touching.collect()})
