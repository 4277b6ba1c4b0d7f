"""SparkSession factory with scale-appropriate defaults.

Local test runs use ``local[N]``; on a real cluster the same configs apply
(AQE, adaptive skew join, Arrow) and the master/memory settings come from
the cluster manager instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 32g, in MiB."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 * 1024, physical // 2 // 2**20)}m"


def get_spark(
    app_name: str = "nomenklatura_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime partition coalescing + skew-join splitting matter for
      the blocker's token self-join, where hot tokens are the classic skew
      case (reference bounds these via dynamic stopwords; AQE handles the
      residue).
    - Arrow on: every pandas UDF in the matcher library rides Arrow batches.
    - shuffle.partitions sized to cores in local mode; a cluster deployment
      should size it to ~2-3x total executor cores or rely on AQE coalesce.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local[N] runs all executor threads inside the driver JVM, so this
        # is the WHOLE memory budget: size it to the machine, not to a
        # driver-only default. 8g with 32 task threads + persisted blocker
        # relations produced visible GC degradation over a bench session
        # (same query 3-6x slower late in the session, fast in a fresh one);
        # a heap above physical memory gets the JVM killed instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _events_ts_unit(path: str) -> str | None:
    """Timestamp unit ('ns'/'us'/...) of the ``ts`` column per the parquet
    footer, or None if there is no timestamp ``ts``.

    Checked via the footer rather than the surfaced Spark type so that an
    unannotated INT64-of-microseconds column can never be mistaken for
    nanos and silently divided by 1000.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            return None
        path = os.path.join(path, parts[0])
    schema = pq.read_schema(path)
    if "ts" not in schema.names:
        return None
    ts_type = schema.field("ts").type
    return ts_type.unit if pa.types.is_timestamp(ts_type) else None


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md).

    The events table has shipped ``ts`` both as parquet TIMESTAMP(NANOS)
    (rejected by Spark unless read as a long via the legacy conf, then
    divided down to micros) and as TIMESTAMP(MICROS) (reads natively, but
    as TimestampNTZ under Spark 4's inference). Normalize either layout to
    the same microsecond TimestampType column — DuckDB's reads agree at
    the microsecond level in both cases, and the session timezone is UTC
    so the NTZ→LTZ cast is value-preserving.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        if _events_ts_unit(path) == "ns":
            # Only the nanos layout needs the legacy conf; it must stay set
            # through execution (Spark captures SQLConf per-action, not at
            # DataFrame creation), so it cannot be save/restored around a
            # lazy read — gating on the footer keeps it off otherwise.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
            )
        else:
            df = spark.read.parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for spark.sql queries."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
