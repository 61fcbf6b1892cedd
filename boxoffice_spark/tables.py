"""Fixture-table access.

The driver generates TPC-H-ish parquet at ``/root/testdata/sf*/`` (see
TESTDATA.md). All queries load through here so the scan path is uniform:
``spark.read.parquet`` (columnar, predicate pushdown + column pruning via
Catalyst). At production scale these would be partitioned/bucketed external
tables; the query code is unchanged either way.

Schema cache. Inferring a parquet schema is a Spark job (footer reads), and
the dashboard and agent surfaces resolve all ten tables on every request,
so each ``SparkSession`` keeps the schema ``table()`` inferred for each
path, with an ``os.stat`` fingerprint of that path:

- single-file table: (inode, ``st_mtime_ns``, size);
- directory table: its inode plus the sorted (relative path,
  ``st_mtime_ns``, size) of every leaf file, so a rename-swap publish
  (``io.write_audit_publish``) or an append changes it.

While the fingerprint matches, ``table()`` returns a new
``spark.read.schema(cached).parquet(path)``: Spark still lists the files on
every call, so rows are never stale; only the inference job is skipped. A
changed fingerprint, or a path ``os.stat`` cannot see, is an ordinary
inferring read. The cache belongs to one session: a new session (or
``newSession()``, whose parquet confs may differ) starts empty.
DataFrames are not cached — a ``Dataset`` pins its file index and plan.
``table_schema`` reads the cached output schema and ``table_read_schema``
the parquet read schema underneath it, which a file stream over the
table declares (streaming/jobs.py).
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# {session: {path: (fingerprint, parquet read schema, table() schema)}},
# keyed weakly so entries live only as long as their session object. Two
# threads missing on one path at once both infer and store the same entry.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

# DuckDB-oracle twin of table()'s events ingestion rule: whatever the
# fixture's physical timestamp type, Spark sees microsecond precision, so
# every oracle touching events.ts must truncate the same way. ONE shared
# definition — per-module copies drifted (temporal.py lacked it entirely
# until round 4) and this fragment is correctness-critical under a
# TIMESTAMP(NANOS) fixture generation.
EVENTS_US_SQL = """
    SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id, event_type, value
    FROM events
"""


def _fingerprint(path: str) -> tuple | None:
    """``os.stat`` identity of a table path, or None when it cannot be
    stat'ed (then nothing is cached and Spark reports the path itself)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        leaves = []
        for root, _, files in os.walk(path):
            for f in files:
                leaf = os.path.join(root, f)
                ls = os.stat(leaf)
                leaves.append((os.path.relpath(leaf, path), ls.st_mtime_ns, ls.st_size))
        return (st.st_ino, tuple(sorted(leaves)))
    except OSError:
        return None


def _cached(spark: SparkSession, path: str) -> tuple[tuple | None, tuple | None]:
    """(fingerprint of ``path``, its cache entry if that fingerprint still
    matches, else None)."""
    fp = _fingerprint(path)
    hit = _SCHEMAS.get(spark, {}).get(path)
    return fp, hit if hit is not None and hit[0] == fp else None


def _ingest(name: str, df: DataFrame) -> DataFrame:
    """``table()``'s ingestion rule over a raw parquet read."""
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(dt, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a new lazy DataFrame.

    Ingestion rule: ``events.ts`` is normalized to a session-timezone
    TIMESTAMP (session tz is pinned UTC, session.py) regardless of how the
    fixture was written, so event-time operators (``unix_micros`` deltas,
    windowing, streaming watermarks) see one type across fixture
    generations:

    - parquet TIMESTAMP(MICROS) without the UTC flag reads as
      ``timestamp_ntz`` -> cast to TIMESTAMP (wall-clock reinterpreted in
      the UTC session, so values are unchanged and match DuckDB's naive
      read exactly);
    - parquet TIMESTAMP(NANOS) under ``nanosAsLong`` reads as raw int64 ->
      integer ``div 1000`` (not double division, which loses precision past
      2^53) then ``timestamp_micros`` — the same ns->us truncation DuckDB
      applies.

    Either way it is a single pushdown-capable parquet scan. When the
    session's schema cache holds the path under an unchanged fingerprint,
    the scan is read with that schema and no inference job runs.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    fp, hit = _cached(spark, path)
    if hit is not None:
        return _ingest(name, spark.read.schema(hit[1]).parquet(path))
    if name == "events":
        try:
            raw = spark.read.parquet(path)
        except Exception:
            # a TIMESTAMP(NANOS) footer cannot be read without the legacy
            # conf — flip it only when actually needed, so a micros fixture
            # session never has its parquet conf mutated as a side effect
            # (the flip is session-wide by nature; under a nanos fixture it
            # stays set, and only events gets the ns->us fixup)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            raw = spark.read.parquet(path)
    else:
        raw = spark.read.parquet(path)
    df = _ingest(name, raw)
    if fp is not None:
        _SCHEMAS.setdefault(spark, {})[path] = (fp, raw.schema, df.schema)
    return df


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The schema ``table()`` returns, straight from the session's cache
    (no Spark job); a miss is one ``table()`` call."""
    _, hit = _cached(spark, f"{sf_dir}/{name}.parquet")
    return hit[2] if hit is not None else table(spark, sf_dir, name).schema


def table_read_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The parquet schema ``table()`` reads with, before its ingestion
    rule: what a file stream over the table must declare (streaming/
    jobs.py applies ``_ingest`` to that stream). From the session's cache
    (no Spark job); a miss is one ``table()`` call, which also sets the
    parquet conf a TIMESTAMP(NANOS) footer needs."""
    path = f"{sf_dir}/{name}.parquet"
    _, hit = _cached(spark, path)
    if hit is None:
        table(spark, sf_dir, name)
        _, hit = _cached(spark, path)
    return hit[1] if hit is not None else spark.read.parquet(path).schema


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition a compute-bound input up to full parallelism.

    Parquet splits follow row-group boundaries, so a small file (or any
    unsplittable source) scans as ONE partition and everything downstream of
    it — shingling, hashing, similarity scoring — serializes onto a single
    core no matter how many the cluster has. For compute-bound operators the
    exchange is worth it: shuffle cost is proportional to input bytes, the
    saved compute to input rows x per-row work.

    Guarded: at 100 TB a scan already yields thousands of splits
    (maxPartitionBytes), getNumPartitions >= parallelism, and this is a
    no-op — no accidental full-corpus reshuffle at scale.
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (SQL surface, S6/S13).

    Mirrors the reference's pattern of serving all queries over a fixed set
    of named tables (sqlite_connector.py:25-67 DDL); here the catalog entry
    is a lazy parquet scan, so SQL text gets the same Catalyst plan as the
    DataFrame API.
    """
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def describe_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema introspection as data (S13 analog of sqlite_master + PRAGMA,
    reference ai_agent.py:26-38): one row per column across all tables,
    built from the session's schema cache."""
    rows = [
        (name, f.name, f.dataType.simpleString(), f.nullable)
        for name in TABLE_NAMES
        for f in table_schema(spark, sf_dir, name).fields
    ]
    return spark.createDataFrame(
        rows, "table_name string, column_name string, data_type string, is_nullable boolean"
    )


def plant_duplicates(df: DataFrame, id_col: str, every: int = 50, offset: int = 1_000_000) -> DataFrame:
    """Union every ``every``-th row back under ``id + offset`` — the
    planted-positive-control pattern the audit queries use so 'find the
    duplicates' logic is exercised on every run even when healthy fixture
    data contains none (round-7 lesson: a 0==0 oracle pass verifies
    nothing). The three audit oracles (v_embedding_near_dup,
    v_embedding_near_dup_lsh, m_asset_dedup) inline the SAME every/offset
    constants in their SQL — change them here and there together, and
    keep ``offset`` above the largest base id at any probed scale factor
    (fixture ids stay far below 10^6 at every SF, and the sf1 inflater
    shifts copies by i*10^7, so a planted id can never collide with a
    base or inflated id).
    """
    dup = df.filter(F.col(id_col) % every == 0).withColumn(
        id_col, F.col(id_col) + F.lit(offset)
    )
    return df.unionByName(dup)
