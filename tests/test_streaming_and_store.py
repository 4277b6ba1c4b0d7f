"""Streaming (windowed aggs, sessionization) and versioned-store (S6)
tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_windowed_event_counts_batch_equals_sql(spark, sf_dir, duck):
    from nomenklatura_spark.session import load_table
    from nomenklatura_spark.streaming.events import windowed_event_counts

    events = load_table(spark, sf_dir, "events")
    res = windowed_event_counts(events, window="1 hour")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], round(r["sum_value"], 2))
        for r in res.collect()
    }
    exp = {
        (str(r[0]), r[1]): (r[2], round(r[3], 2))
        for r in duck.execute(
            "SELECT date_trunc('hour', ts) h, event_type, count(*), sum(value)"
            " FROM events GROUP BY 1, 2"
        ).fetchall()
    }
    assert got == exp


def test_sessionize_batch(spark, sf_dir):
    from nomenklatura_spark.session import load_table
    from nomenklatura_spark.streaming.events import sessionize

    events = load_table(spark, sf_dir, "events")
    sess = sessionize(events, gap="30 minutes")
    rows = sess.collect()
    assert len(rows) > 0
    # sessions per user must cover all their events
    total = sum(r["n_events"] for r in rows)
    assert total == events.count()
    # every session spans >= its events' gap constraint (start <= end)
    assert all(r["session_start"] <= r["session_end"] for r in rows)


def test_versioned_store_carryover(spark, tmp_path):
    from nomenklatura_spark.model.statement import statements_from_wide_table
    from nomenklatura_spark.sources.versioned import VersionedStatementStore

    store = VersionedStatementStore(spark, str(tmp_path / "store"))

    base = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "k long, name string"
    )
    v1 = statements_from_wide_table(
        base, "k", "Thing", {"name": "name"}, "ds1", prop_types={"name": "name"}
    ).withColumn("first_seen", F.lit("2024-01-01").cast("timestamp"))
    store.release(v1, "ds1", "v1", released="2024-01-01")

    # v2: alpha persists (new first_seen must be overridden by carry-over),
    # beta dropped, gamma added
    base2 = spark.createDataFrame(
        [(1, "alpha"), (3, "gamma")], "k long, name string"
    )
    v2 = statements_from_wide_table(
        base2, "k", "Thing", {"name": "name"}, "ds1", prop_types={"name": "name"}
    ).withColumn("first_seen", F.lit("2024-06-01").cast("timestamp"))
    store.release(v2, "ds1", "v2", released="2024-06-01")

    latest = store.latest_statements("ds1")
    rows = {r["value"]: str(r["first_seen"]) for r in latest.collect()}
    assert set(rows) == {"alpha", "gamma"}
    assert rows["alpha"].startswith("2024-01-01")  # carried over
    assert rows["gamma"].startswith("2024-06-01")

    # time travel to v1
    old = store.statements_at("ds1", "v1")
    assert {r["value"] for r in old.collect()} == {"alpha", "beta"}

    # drop_version: latest falls back to v1
    store.drop_version("ds1", "v2")
    assert store.versions("ds1") == ["v1"]
    assert {r["value"] for r in store.latest_statements("ds1").collect()} == {
        "alpha",
        "beta",
    }


def test_multi_dataset_view(spark, tmp_path):
    from nomenklatura_spark.model.statement import statements_from_wide_table
    from nomenklatura_spark.sources.versioned import VersionedStatementStore

    store = VersionedStatementStore(spark, str(tmp_path / "store2"))
    for ds, rows in [("a", [(1, "x")]), ("b", [(2, "y")])]:
        df = spark.createDataFrame(rows, "k long, name string")
        stmts = statements_from_wide_table(
            df, "k", "Thing", {"name": "name"}, ds, prop_types={"name": "name"}
        )
        store.release(stmts, ds, "v1", released="2024-01-01")
    view = store.view(["a", "b"])
    assert {r["dataset"] for r in view.collect()} == {"a", "b"}
    assert view.count() == 2
