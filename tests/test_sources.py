"""Custom data sources: partition fan-out, bounded stream drain, and
stateful latest-state equality against the batch-window oracle form."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window as W, functions as F

from boxoffice_spark.sources.rest_source import _poll_stock, register_sources
from boxoffice_spark.streaming.stateful import latest_stock_state, stream_upsert_sink


def test_page_scan_partition_per_page(spark):
    register_sources(spark)
    df = (
        spark.read.format("paginated_rest")
        .option("page_size", 100)
        .option("total_rows", 1000)
        .load()
    )
    assert df.rdd.getNumPartitions() == 10  # one partition per page
    assert df.count() == 1000


def test_stateful_latest_equals_batch_window(spark):
    n_events, n_theaters, max_polls = 4, 3, 6
    streamed = latest_stock_state(spark, n_events, n_theaters, max_polls)

    # batch oracle: replay every poll, W1 window for latest per key
    rows = [r for p in range(max_polls) for r in _poll_stock(p, n_events, n_theaters)]
    log = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "theater_name", "quantity", "scraped_at"])
    )
    w = W.partitionBy("event_id", "theater_name").orderBy(F.desc("scraped_at"))
    batch = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "theater_name", "quantity", "scraped_at")
    )

    key = lambda r: (r.event_id, r.theater_name)
    got = {key(r): (r.quantity, r.scraped_at) for r in streamed.collect()}
    want = {key(r): (r.quantity, r.scraped_at) for r in batch.collect()}
    assert len(got) == n_events * n_theaters
    assert got == want


def test_stream_upsert_sink_holds_latest_state(spark, tmp_path):
    n_events, n_theaters, max_polls = 4, 3, 6
    final = stream_upsert_sink(
        spark, str(tmp_path / "state"), n_events, n_theaters, max_polls
    )
    # final table: one row per key, each carrying the LAST poll's snapshot
    last = {
        (e, th): (q, ts)
        for (e, th, q, ts) in _poll_stock(max_polls - 1, n_events, n_theaters)
    }
    got = {(r.event_id, r.theater_name): (r.quantity, r.scraped_at) for r in final.collect()}
    assert got == last


def test_agent_sql_guardrail(spark, sf_dir):
    """validate_sql must refuse cartesian/nested-loop plans from generated
    SQL and pass clean equi-join plans through untouched."""
    import pytest

    from boxoffice_spark.agent import UnsafePlanError, validate_sql

    ok = validate_sql(
        spark, sf_dir,
        "SELECT r_name, n_name FROM region JOIN nation ON n_regionkey = r_regionkey",
    )
    assert ok.count() > 0

    with pytest.raises(UnsafePlanError):
        validate_sql(spark, sf_dir, "SELECT * FROM region, nation")

    with pytest.raises(UnsafePlanError):
        validate_sql(
            spark, sf_dir,
            "SELECT * FROM region r JOIN nation n ON n.n_regionkey > r.r_regionkey",
        )


def test_agent_sql_guard_refuses_commands_before_running(spark, sf_dir):
    """Spark runs commands eagerly inside spark.sql, so the guard must
    refuse a non-query BEFORE execution: the view survives, nothing gets
    cached, and the refusal launches no Spark job."""
    import pytest

    from boxoffice_spark.agent import UnsafePlanError, validate_sql
    from boxoffice_spark.tables import register_views

    register_views(spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("agent_guard_refusals", "validate_sql refusals")
    try:
        for sql in ("DROP VIEW lineitem", "CACHE TABLE lineitem"):
            with pytest.raises(UnsafePlanError):
                validate_sql(spark, sf_dir, sql)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert spark.catalog.tableExists("lineitem")
    assert not spark.catalog.isCached("lineitem")
    assert list(sc.statusTracker().getJobIdsForGroup("agent_guard_refusals")) == []
    # a trailing semicolon still passes as a query
    assert validate_sql(spark, sf_dir, "SELECT count(*) AS n FROM region;").first().n == 5
