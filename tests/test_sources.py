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


def _jobs_in(sc, group, fn):
    """Run ``fn`` under its own job group; return (result, job count)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _warehouse_copy(sf_dir, dest):
    """A writable copy of the fixture warehouse."""
    import shutil

    from boxoffice_spark.tables import TABLE_NAMES

    dest.mkdir()
    for name in TABLE_NAMES:
        shutil.copyfile(f"{sf_dir}/{name}.parquet", dest / f"{name}.parquet")
    return str(dest)


def test_warm_serving_surface_launches_no_jobs(spark, sf_dir):
    """On an unchanged warehouse, a warm request re-registers the views,
    grounds the prompt and validates SQL from the session's schema cache:
    no Spark job. Each cached read equals a fresh inferring read."""
    import duckdb

    from boxoffice_spark.agent import agent_prompt, validate_sql
    from boxoffice_spark.tables import TABLE_NAMES, register_views, table
    from boxoffice_spark.testing import compare

    sql = "SELECT r_name, n_name FROM region JOIN nation ON n_regionkey = r_regionkey"
    calls = {
        "register_views": lambda: register_views(spark, sf_dir),
        "agent_prompt": lambda: agent_prompt(spark, sf_dir, "Nations per region?"),
        "validate_sql": lambda: validate_sql(spark, sf_dir, sql),
    }
    for fn in calls.values():
        fn()
    sc = spark.sparkContext
    jobs = {name: _jobs_in(sc, f"warm_{name}", fn)[1] for name, fn in calls.items()}
    assert jobs == {name: 0 for name in calls}

    fresh_session = spark.newSession()  # its own, empty, schema cache
    for name in TABLE_NAMES:
        cached, n = _jobs_in(sc, f"warm_table_{name}", lambda: table(spark, sf_dir, name))
        assert n == 0, name
        assert cached.schema == table(fresh_session, sf_dir, name).schema, name
        con = duckdb.connect()
        try:
            con.register("fresh", spark.read.parquet(f"{sf_dir}/{name}.parquet").toArrow())
            r = compare(name, cached, con, "SELECT * FROM fresh")
        finally:
            con.close()
        assert r.ok, str(r)


def test_schema_cache_sees_in_place_overwrite(spark, sf_dir, tmp_path):
    """A single-file table rewritten in place with an added column is seen,
    new column and new rows, by the next table() and run_sql."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from boxoffice_spark.agent import run_sql
    from boxoffice_spark.tables import register_views, table

    wh = _warehouse_copy(sf_dir, tmp_path / "wh")
    try:
        assert "r_rank" not in table(spark, wh, "region").columns
        run_sql(spark, wh, "SELECT count(*) FROM region").collect()
        t = pq.read_table(f"{wh}/region.parquet")
        t = pa.concat_tables([t, t.slice(0, 2)])
        t = t.append_column("r_rank", pa.array(range(t.num_rows), pa.int64()))
        pq.write_table(t, f"{wh}/region.parquet")

        df = table(spark, wh, "region")
        assert "r_rank" in df.columns
        assert sorted(r.r_rank for r in df.collect()) == list(range(7))
        got = run_sql(spark, wh, "SELECT max(r_rank) AS m, count(*) AS n FROM region").first()
        assert (got.m, got.n) == (6, 7)
    finally:
        register_views(spark, sf_dir)


def test_schema_cache_sees_publish_swap(spark, sf_dir, tmp_path):
    """A directory table replaced through write_audit_publish (rename swap)
    reads the new table — new column, new rows — not a stale schema or a
    vanished file; every table() call is a new DataFrame."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from boxoffice_spark.agent import run_sql
    from boxoffice_spark.io import write_audit_publish
    from boxoffice_spark.tables import register_views, table

    wh = _warehouse_copy(sf_dir, tmp_path / "wh")
    orders = f"{wh}/orders.parquet"
    os.remove(orders)
    os.makedirs(orders)
    shutil.copyfile(f"{sf_dir}/orders.parquet", f"{orders}/part-00000.parquet")
    try:
        before = table(spark, wh, "orders")
        assert table(spark, wh, "orders") is not before
        n_before = before.count()
        run_sql(spark, wh, "SELECT count(*) FROM orders").collect()
        republished = (
            before.filter(F.col("o_orderkey") % 2 == 0)
            .withColumn("o_even", F.lit(True))
            .localCheckpoint()
        )
        n_after = republished.count()
        assert 0 < n_after < n_before
        assert write_audit_publish(republished, orders, [])["published"]

        df = table(spark, wh, "orders")
        assert "o_even" in df.columns
        assert df.count() == n_after
        assert df.filter(~F.col("o_even")).count() == 0
        got = run_sql(
            spark, wh, "SELECT count(*) AS n, max(o_orderkey % 2) AS r FROM orders WHERE o_even"
        ).first()
        assert (got.n, got.r) == (n_after, 0)
    finally:
        register_views(spark, sf_dir)


_NEW_SESSION_SCRIPT = """
import sys
import pyarrow as pa, pyarrow.parquet as pq
from boxoffice_spark import tables
from boxoffice_spark.session import get_spark

wh = sys.argv[1]
first = get_spark("schema_cache_first")
assert "r_rank" not in tables.table(first, wh, "region").columns
tables.register_views(first, wh)
first.stop()
t = pq.read_table(f"{wh}/region.parquet")
pq.write_table(t.append_column("r_rank", pa.array(range(t.num_rows), pa.int64())),
               f"{wh}/region.parquet")

second = get_spark("schema_cache_second")
sc = second.sparkContext
sc.setJobGroup("cold", "cold")
tables.register_views(second, wh)
cold_jobs = len(sc.statusTracker().getJobIdsForGroup("cold"))
assert cold_jobs == len(tables.TABLE_NAMES), cold_jobs
assert "r_rank" in tables.table(second, wh, "region").columns
second.stop()
print("ok")
"""


def test_schema_cache_is_per_session(sf_dir, tmp_path):
    """A stopped session's schema cache does not carry over: the next
    get_spark() infers every table again and sees a column added while no
    session was running. Runs in its own process, since stopping the
    shared test session would end every later test."""
    import os
    import subprocess
    import sys

    wh = _warehouse_copy(sf_dir, tmp_path / "wh")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYTHONPATH=repo)
    proc = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION_SCRIPT, wh],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("ok"), proc.stderr[-3000:]


def test_schema_grounding_matches_inferring_read(spark, sf_dir):
    """The cached grounding string is byte-identical to the one built the
    uncached way — describe_tables rows collected from a session whose every
    table() is an inferring read — and describe_tables' rows are unchanged."""
    from boxoffice_spark.agent import schema_grounding
    from boxoffice_spark.tables import describe_tables

    fresh = spark.newSession()
    rows = describe_tables(fresh, sf_dir).collect()
    lines, current = [], None
    for row in rows:
        if row.table_name != current:
            current = row.table_name
            lines.append(f"\nTable {current}:")
        null = "" if row.is_nullable else " NOT NULL"
        lines.append(f"  {row.column_name} {row.data_type}{null}")
    expected = "\n".join(lines).strip()

    schema_grounding(spark, sf_dir)  # warm
    assert schema_grounding(spark, sf_dir) == expected
    assert describe_tables(spark, sf_dir).collect() == rows
