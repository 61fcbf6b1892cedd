"""Structured Streaming jobs (SURVEY.md §2.9 T2/T3).

The reference's only true stream is the 10-minute goods_stock poll
(goods_stock_pipeline.py:135-139) feeding an append-only log that the
dashboard reduces to latest-state (dashboard.py:105-118). Spark-first, that
is: file/Kafka source -> event-time window aggregation with a watermark ->
sink; and streaming dedup for the state view.

These jobs run the SAME logical plans as queries/incremental.py — the
batch forms are the oracle-checked semantics, these are their incremental
execution. Locally they're driven to completion synchronously with
``availableNow`` over the fixture parquet (bounded source); on a cluster
the trigger becomes ``processingTime='10 minutes'`` against a live source
and nothing else changes.

Sources. Every stream reads through ``_table_stream``: all
``{name}*.parquet`` files of a table in ``sf_dir``. ``events`` takes the
parquet schema ``tables.table()`` inferred (the session's schema cache)
and the same ``ts`` ingestion rule, so a stream and its batch twin see one
type on any fixture generation; the other tables declare their schema.

The fold contract. Jobs that keep standing state between micro-batches
run through one driver, ``_fold(stream, step, mode)``:

- per micro-batch, ``state = step(prev, batch)``; ``prev`` is None on the
  first batch, else what the previous step returned: one DataFrame, or a
  tuple of them for jobs with two standing tables;
- each state frame is localCheckpointed into a uuid-named ``global_temp``
  view (foreachBatch runs in a cloned session, where plain temp views die)
  and read back from there by the next batch;
- after the availableNow drain ``_fold`` returns the last state, resolved
  in the caller's session, or None when no micro-batch ran; its views are
  dropped on every exit, a failed micro-batch included.

Each job then runs its readout once over the drained state.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from boxoffice_spark import tables
from boxoffice_spark.functions.numeric import dsum, ratio6
from boxoffice_spark.operators.upsert import merge_upsert

# declared stream schemas (events comes from tables' cache). Lineitem
# names only the columns its job touches: the reader prunes to the
# declared schema.
_STREAM_SCHEMAS = {
    "documents": "doc_id long, text string, lang string, source string, n_chars long",
    "embeddings": "vec_id long, embedding array<float>, label int",
    "lineitem": "l_orderkey long, l_extendedprice double, l_discount double, l_tax double",
}

_State = DataFrame | tuple[DataFrame, ...]


def _table_stream(
    spark: SparkSession, sf_dir: str, name: str, max_files: int | None = None
) -> DataFrame:
    """File stream over every ``{name}*.parquet`` in ``sf_dir`` (the
    file-stream source wants a directory; the glob picks the table's
    files). ``max_files`` caps files per micro-batch."""
    if name == "events":
        schema = tables.table_read_schema(spark, sf_dir, name)
    else:
        schema = _STREAM_SCHEMAS[name]
    reader = spark.readStream.schema(schema).option("pathGlobFilter", f"{name}*.parquet")
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return tables._ingest(name, reader.parquet(sf_dir))


def _run_to_completion(result: DataFrame, mode: str) -> DataFrame:
    """Drive a bounded stream to completion into a memory sink and return
    the materialized table. availableNow = process everything then stop
    (the reference's catch-up semantics, T1)."""
    name = "s_" + uuid.uuid4().hex[:12]
    q = (
        result.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.table(name)


def _fold(
    stream: DataFrame,
    step: Callable[[_State | None, DataFrame], _State],
    mode: str = "append",
) -> _State | None:
    """Drain ``stream`` folding each micro-batch into standing state (the
    module docstring's fold contract)."""
    spark = stream.sparkSession
    base = "s_fold_" + uuid.uuid4().hex[:12]
    views: list[str] = []  # one global temp view per state frame
    single = True  # the step returns one DataFrame, not a tuple

    def load(s: SparkSession) -> _State | None:
        if not views:
            return None
        parts = tuple(s.table(f"global_temp.{v}") for v in views)
        return parts[0] if single else parts

    def fold_batch(batch: DataFrame, _batch_id: int) -> None:
        nonlocal single
        state = step(load(batch.sparkSession), batch)
        single = isinstance(state, DataFrame)
        for i, part in enumerate((state,) if single else state):
            if i == len(views):
                views.append(f"{base}_{i}")
            part.localCheckpoint().createOrReplaceGlobalTempView(views[i])

    try:
        q = (
            stream.writeStream.outputMode(mode)
            .foreachBatch(fold_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return load(spark)
    finally:
        for v in views:
            spark.catalog.dropGlobalTempView(v)


def _replace_by(*keys: str) -> Callable[[DataFrame | None, DataFrame], DataFrame]:
    """Fold step for an update-mode aggregate: each update row carries its
    key's full new total, so it replaces the standing row for that key
    (merge_upsert — null-safe on the key, so a NULL key stays one row)."""
    return lambda prev, upd: upd if prev is None else merge_upsert(prev, upd, list(keys))


def tumbling_window_stream(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """T2: event-time tumbling aggregation with a late-data watermark.

    Complete output mode so every window is emitted on the bounded fixture
    (append mode would hold back windows newer than the final watermark —
    correct for an unbounded stream, surprising for a file replay).
    """
    ev = _table_stream(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "value_sum")
    )
    return _run_to_completion(agg, "complete")


def streaming_dedup_first_per_key(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """T3 (streaming half): watermarked dropDuplicates per key — bounded
    state. Streaming keeps the FIRST arrival per key; the batch
    latest-state view (queries/incremental.py i_latest_state_view) is the
    read-side complement, exactly like the reference's append-log +
    window-on-read split."""
    ev = _table_stream(spark, sf_dir, "events")
    deduped = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return _run_to_completion(deduped.select("user_id", "event_type", "ts", "value"), "append")


def sessionize_stream(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization: ``session_window`` merges events whose
    [ts, ts+gap) windows overlap into one per-user session — the
    incremental execution of queries/incremental.i_sessionize's
    lag+cumsum batch shape. State is one open window per (user, session),
    closed and evictable once the watermark passes ``end`` — O(active
    sessions), not O(events).

    ``session_window`` is also a batch function; the stream==batch
    equality test (tests/test_streaming.py) runs the identical groupBy in
    batch mode, so the streaming execution is checked against the same
    logical plan rather than a hand-written twin. Boundary note vs
    i_sessionize: window overlap is strict (< gap), while the batch
    lag-form splits on ``> gap`` — an event at exactly gap distance
    starts a new session here; the fixture's microsecond timestamps make
    exact-gap collisions measure-zero, and the equality test does not
    depend on it.
    """
    ev = _table_stream(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("value_sum"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            # session_window end = last event ts + gap; subtracting the gap
            # recovers max(ts), matching i_sessionize's session_end column.
            (F.col("w.end") - F.expr(f"INTERVAL {gap}")).alias("session_end"),
            "n_events",
            "value_sum",
        )
    )
    return _run_to_completion(agg, "complete")


def stream_stream_attribution_join(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream inner join: click events joined to the
    purchase they precede (same user, within the hour before it) — the
    incremental execution of queries/temporal.j_attribution_window's hit
    set. Both sides carry a watermark and the join condition bounds
    event-time distance, so Spark can expire buffered rows: state per key
    is O(events inside the watermark horizon), not O(stream). On a real
    cluster the same plan runs against two live sources; here the bounded
    fixture replay drains with availableNow.
    """
    ev = _table_stream(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id
            AND click_ts >= purchase_ts - INTERVAL 1 HOUR
            AND click_ts < purchase_ts
            """
        ),
        "inner",
    ).select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    return _run_to_completion(joined, "append")


def stream_static_enrich(
    spark: SparkSession, sf_dir: str, event_type: str = "purchase"
) -> DataFrame:
    """Stream-static enrichment: the event stream left-joined to the
    STATIC customer dimension (user_id -> c_custkey) — the micro-batch
    lookup-join every ingest pipeline runs (enrich each event with the
    customer's segment before sinking). The static side is broadcast
    into every micro-batch; no state is kept between batches (unlike
    stream-stream joins), so the join adds zero streaming state and the
    dim can be swapped between restarts. Filtered to one event type so
    the append-mode output stays bounded."""
    ev = _table_stream(spark, sf_dir, "events").filter(F.col("event_type") == event_type)
    dim = (
        tables.table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation_key"),
        )
    )
    enriched = ev.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "ts", "value", "segment", "nation_key"
    )
    return _run_to_completion(enriched, "append")


def stream_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest gate: the incoming document stream is admitted only
    when its content fingerprint is unseen — neither in the STATIC standing
    corpus (stream-static LEFT ANTI per micro-batch; the corpus is never
    broadcast, Spark hash-joins each batch against it) nor earlier in the
    stream itself (stateful dropDuplicates on the 16-byte fingerprint —
    state is O(admitted fingerprints), the only state a dedup gate can't
    avoid; at cluster scale bound it with
    ``dropDuplicatesWithinWatermark`` over an ingest-time column).

    This is the incremental execution of t_incremental_dedup
    (queries/text_pipeline.py): same fingerprint rule, same corpus/batch
    split (doc_id % 10), and the admitted fingerprint SET is equal —
    asserted in tests/test_streaming.py. (The batch twin's keeper_id =
    min(doc_id) is a deterministic convention; a stream admits the FIRST
    arrival instead, so the test compares fingerprint sets, not keepers.)
    """
    from boxoffice_spark.operators.dedup import normalized_text

    raw = _table_stream(spark, sf_dir, "documents")
    incoming = raw.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5(normalized_text("text")).alias("fingerprint")
    )
    corpus = (
        tables.table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 != 0)
        .select(F.md5(normalized_text("text")).alias("fingerprint"))
        .distinct()
    )
    admitted = incoming.join(corpus, "fingerprint", "left_anti").dropDuplicates(
        ["fingerprint"]
    )
    return _run_to_completion(admitted.select("doc_id", "fingerprint"), "append")


def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-drift monitor: the streaming twin of the batch gate
    dq_distribution_drift (queries/quality.py). The document stream runs
    the batch query's own counting half (quality.psi_counts: per-language
    corpus and batch counts, split by doc_id % 10) as an update-mode
    aggregate; each micro-batch replaces the changed languages' rows in
    the standing count table (update rows carry full totals), and after
    the drain the batch query's counts -> terms half (quality.psi_terms)
    reads the PSI terms off it once — global denominators, a NULL
    language kept as one row, exactly as in batch. maxFilesPerTrigger=1
    forces one micro-batch per input file; the drained table equals
    psi_drift_terms over the same files (tests/test_streaming.py:
    single-file, split-file and NULL-key layouts)."""
    from boxoffice_spark.queries.quality import psi_counts, psi_terms

    docs = _table_stream(spark, sf_dir, "documents", max_files=1)
    counts = _fold(psi_counts(docs), _replace_by("lang"), "update")
    return psi_terms(counts).localCheckpoint()


def stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of v_embedding_drift: the incoming embedding stream's
    per-label centroid is tracked incrementally and compared against the
    STATIC standing-corpus centroid. The update-mode stream aggregates
    per-(label, dim) decimal sums + counts (each update row carries the
    full new total for its key) and each micro-batch replaces the changed
    keys in the standing sum table; after the drain the shift of EVERY
    label is read once from the complete sums, so the final table equals
    the batch query exactly (asserted in tests/test_streaming.py, single-
    and split-file layouts). State is O(labels x dims) — independent of
    stream length."""
    batch_sums = (
        _table_stream(spark, sf_dir, "embeddings", max_files=1)
        .filter(F.col("vec_id") % 10 == 0)
        .select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
        )
        .groupBy("label", "dim")
        .agg(dsum("val", 9).alias("s_batch"), F.count("*").alias("n_batch"))
    )
    sums = _fold(batch_sums, _replace_by("label", "dim"), "update")
    corpus_dims = (
        spark.read.option("pathGlobFilter", "embeddings*.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") % 10 != 0)
        .select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
        )
        .groupBy("label", "dim")
        .agg(
            (dsum("val", 9) / F.count("val")).alias("cm"),
            F.count("*").alias("n_corpus"),
        )
    )
    # FULL OUTER on (label, dim): a label with no batch vectors (or no
    # corpus vectors) must still emit its row — with count 0 and a NULL
    # shift — exactly as the batch twin's conditional aggregates do; an
    # inner join would silently drop one-sided labels.
    per_dim = sums.join(corpus_dims, ["label", "dim"], "full_outer").select(
        "label",
        "dim",
        "cm",
        (F.col("s_batch") / F.col("n_batch")).alias("bm"),
        "n_corpus",
        "n_batch",
    )
    shift = (F.col("cm") - F.col("bm")) * (F.col("cm") - F.col("bm"))
    return (
        per_dim.groupBy("label")
        .agg(
            # per-dim counts are all equal; coalesce covers one-sided labels
            F.coalesce(F.max("n_corpus"), F.lit(0)).alias("n_corpus"),
            F.coalesce(F.max("n_batch"), F.lit(0)).cast("long").alias("n_batch"),
            F.round(dsum(shift, 12), 9).alias("centroid_shift_sq"),
        )
        .select("label", "n_corpus", "n_batch", "centroid_shift_sq")
        .localCheckpoint()
    )


def stream_completeness_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dq_completeness_by_day: the incoming event
    stream's per-day quality counters, maintained across micro-batches
    like stream_drift_monitor's counts. The update-mode aggregation emits
    the FULL new totals for each changed day, so the fold replaces
    changed days — the standing table is correct after any number of
    micro-batches and after the availableNow drain equals the batch query
    exactly on the exact-counter columns (asserted in
    tests/test_streaming.py: single-file, split-file and TIMESTAMP(NANOS)
    layouts).

    Distinct users per day — which countDistinct cannot provide in a
    streaming aggregation (it needs per-user state) — ships as a
    DataSketches HLL sketch column instead: hll_sketch_agg is mergeable,
    so update-mode rows carry the full updated sketch per day and the
    estimate is read off the standing table (``n_users_approx``,
    within-5%-of-exact asserted in tests). State is O(days) —
    independent of stream length."""
    from boxoffice_spark.queries.quality import completeness_counters

    # counter expressions and the ratio6 completeness cell are SHARED with
    # the batch twin (queries/quality.py) so stream and batch can never drift
    daily = (
        _table_stream(spark, sf_dir, "events", max_files=1)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            *completeness_counters(),
            F.count("value").alias("_n_value_present"),
            F.hll_sketch_agg("user_id").alias("_users_sketch"),
        )
    )
    return (
        _fold(daily, _replace_by("day"), "update")
        .select(
            "day",
            "n_events",
            "n_null_value",
            "n_nonpos_value",
            "n_empty_props",
            "n_error_events",
            ratio6("_n_value_present", "n_events").alias("value_completeness"),
            F.hll_sketch_estimate("_users_sketch").alias("n_users_approx"),
        )
        .localCheckpoint()
    )


def stream_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-CLUSTER maintenance: each micro-batch's documents
    are SimHash-fingerprinted, probe the standing fingerprint table for
    near-dup pairs (pigeonhole chunk postings joined batch-side-only, so
    candidate work is batch x seen-so-far — standing x standing pairs are
    never regenerated), and the standing component labeling absorbs the
    new pairs through operators/graph.incremental_components' quotient-
    graph merge. State is two tables — labels (O(clustered docs)) and
    fingerprints (O(docs), 8 bytes each) — never the pair graph, and the
    iterative merge each batch runs on a super-graph with one node per
    AFFECTED cluster.

    After the availableNow drain the final labeling equals
    t_dedup_clusters' from-scratch output exactly, label for label
    (tests/test_streaming.py, single- and split-file layouts): every
    qualifying pair is generated exactly when its later endpoint arrives,
    an intra-cluster duplicate pair is a no-op in the merge, and the
    quotient merge preserves min-labels — so the fixpoint is order-
    independent.
    """
    from boxoffice_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        simhash,
        simhash_chunk_postings,
    )
    from boxoffice_spark.operators.graph import incremental_components

    def step(prev, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        bsh = simhash(batch, "doc_id", "text").select("doc_id", "simhash").localCheckpoint()
        if prev is None:
            labels = batch.sparkSession.createDataFrame([], "node long, cluster_id long")
            union_fp = bsh
        else:
            labels, standing_fp = prev
            union_fp = standing_fp.unionByName(bsh)
        # batch postings probe seen-so-far INCLUDING the batch itself, so
        # intra-batch pairs are caught; unordered dedup collapses the
        # doubled intra-batch candidates. The chunking expression is shared
        # with the batch pair generator (simhash_chunk_postings).
        cand = (
            simhash_chunk_postings(bsh, ["doc_id"])
            .alias("a")
            .join(simhash_chunk_postings(union_fp, ["doc_id"]).alias("b"), ["_chunk", "_val"])
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.least("a.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
                F.col("a.simhash").alias("_sa"),
                F.col("b.simhash").alias("_sb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = cand.filter(
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))) <= SIMHASH_MAX_HAMMING
        ).select("id_a", "id_b")
        return incremental_components(labels, pairs, "id_a", "id_b"), union_fp

    docs = _table_stream(spark, sf_dir, "documents", max_files=1).select("doc_id", "text")
    labels, _ = _fold(docs, step)
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def stream_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance — the incremental twin of
    e_scd2_history, closing the reference's last incremental loop
    (goods_event upsert cadence -> dimension history -> as-of read,
    movie_events_scraper.py feeding the dashboard's historical view):
    each micro-batch of signup change events is MERGED into a standing
    validity-interval table, the algebraic MERGE INTO a warehouse runs
    per CDC increment.

    Per batch (a plain batch DataFrame inside foreachBatch):

    1. the batch's own SCD2 fragment — intra-batch lead() over
       (user_id, ts, event_id), last row per user left OPEN;
    2. standing OPEN intervals of users present in the batch are CLOSED
       at the batch's first change ts for that user (is_current -> false);
    3. closed standing rows and open rows of untouched users pass through
       unchanged — O(batch + changed keys) work, the standing history is
       never rebuilt.

    Ordering contract (stated, and the standard CDC-feed guarantee): the
    feed is per-key event-time ordered across batches — a change never
    arrives after a later change for the same key has been absorbed. Late
    corrections are a reprocess/backfill concern (e_backfill_overwrite),
    not silent merge input. Under that contract the standing table after
    the availableNow drain equals e_scd2_history EXACTLY (row for row,
    including is_current flags) for any time-ordered file split, and the
    point-in-time filter over it equals e_scd2_asof_read — both asserted
    in tests/test_streaming.py.

    State size: the standing table is the dimension history itself
    (O(changes)), held as a checkpointed global-temp view locally; on a
    cluster the same merge writes a keyed table (foreachBatch + MERGE
    INTO on Delta/Iceberg) and nothing else changes.
    """
    from pyspark.sql import Window

    def step(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        nxt = F.lead("ts").over(w)
        frag = batch.select(
            "user_id",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            "attr_value",
        )
        if prev is None:
            return frag
        firsts = batch.groupBy("user_id").agg(F.min("ts").alias("_first_ts"))
        open_rows = prev.filter(F.col("is_current"))
        closed_now = open_rows.join(firsts, "user_id").select(
            "user_id",
            "valid_from",
            F.col("_first_ts").alias("valid_to"),
            F.lit(False).alias("is_current"),
            "attr_value",
        )
        untouched_open = open_rows.join(firsts, "user_id", "left_anti")
        return (
            prev.filter(~F.col("is_current"))
            .unionByName(closed_now)
            .unionByName(untouched_open)
            .unionByName(frag)
        )

    changes = (
        _table_stream(spark, sf_dir, "events", max_files=1)
        .filter(F.col("event_type") == "signup")
        .select("user_id", "ts", "event_id", F.col("value").alias("attr_value"))
    )
    dim = _fold(changes, step)
    if dim is None:
        # feed had no change rows at all: an empty dimension, not an error
        return spark.createDataFrame(
            [],
            "user_id long, valid_from timestamp, valid_to timestamp, "
            "is_current boolean, attr_value double",
        )
    return dim


def stream_kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of per-event-type KMV distinct sketches —
    the incremental twin of the a_kmv_overlap estimator
    (operators/sketch): each micro-batch's distinct (type, element)
    hashes are unioned into a standing k-min sketch table and re-selected
    down to k rows per group.

    The merge needs NO ordering contract at all — k-min selection is
    associative, commutative and idempotent (the k smallest of a union
    don't care how the union arrived, and re-seeing an element is a
    distinct-set no-op), so the standing sketch after the availableNow
    drain equals the batch-computed sketch EXACTLY for ANY file split or
    arrival order — the strongest stream==batch contract in this module
    (asserted in tests/test_streaming.py, single- and multi-batch).
    Contrast the SCD2 merge above, which is only split-invariant for
    time-ordered feeds.

    The element here is (user_id, activity day) so per-type distinct
    counts exceed k and the estimator actually estimates; state is
    O(groups × k) rows — independent of stream length — and the distinct
    estimate is read off the standing table whenever asked, never by
    rescanning history. On a cluster the same merge writes a keyed
    sketch table; mergeability is what makes the sketch a table you can
    UNION tomorrow's partition into."""
    from boxoffice_spark.operators.sketch import kmv_estimate, kmv_hash, kmv_kmin

    k = 64

    def step(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        upd = batch.select(
            F.col("event_type"),
            kmv_hash(F.concat_ws(":", F.col("user_id"), F.to_date("ts"))).alias("h"),
        ).distinct()
        if prev is not None:
            upd = prev.unionByName(upd).distinct()
        return kmv_kmin(upd, ["event_type"], "h", k)

    sk = _fold(_table_stream(spark, sf_dir, "events", max_files=1), step)
    return (
        sk.groupBy("event_type")
        .agg(F.count("*").alias("n_sketch"), F.max("h").alias("kth_hash"))
        .select(
            "event_type",
            "n_sketch",
            "kth_hash",
            F.round(
                kmv_estimate(F.col("n_sketch"), F.col("kth_hash"), k), 3
            ).alias("est_distinct"),
        )
        .orderBy("event_type")
        .localCheckpoint()
    )


def stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the first-order Markov transition matrix —
    the incremental twin of w_event_transitions. Two pieces of standing
    state:

    1. the transition COUNTS table (from_type, to_type, n) — counts are
       additive, so per-batch increments merge by summation;
    2. the LAST-EVENT-per-user table — the piece that makes the stream
       twin exact: a user's final event in batch k and first event in
       batch k+1 form a transition that no within-batch lead() can see.
       Each batch contributes (standing last -> batch first) boundary
       steps, then advances the standing last to its own per-user final
       event.

    Ordering contract (same as stream_scd2_maintenance, the standard CDC
    guarantee): the feed is per-key event-time ordered across batches.
    Under it the drained matrix equals the batch derivation EXACTLY —
    integer counts, cell for cell — for any time-ordered file split
    (asserted single- and multi-batch in tests/test_streaming.py).

    State size: |event_types|^2 counts + one row per active user — both
    tiny next to the log; on a cluster the last-event table is the
    natural applyInPandasWithState / MERGE INTO keyed store."""
    from pyspark.sql import Window

    def step(prev, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        wd = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        increments = (
            batch.select(
                "user_id",
                F.col("event_type").alias("from_type"),
                F.lead("event_type").over(w).alias("to_type"),
            )
            .filter(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count("*").alias("n"))
        )
        lasts = (
            batch.withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .select("user_id", "ts", "event_id", "event_type")
        )
        if prev is None:
            return increments, lasts
        counts, standing_last = prev
        firsts = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", F.col("event_type").alias("_first_type"))
        )
        boundary = (
            standing_last.select("user_id", F.col("event_type").alias("from_type"))
            .join(firsts, "user_id")
            .groupBy("from_type", F.col("_first_type").alias("to_type"))
            .agg(F.count("*").alias("n"))
        )
        counts = (
            counts.unionByName(increments)
            .unionByName(boundary)
            .groupBy("from_type", "to_type")
            .agg(F.sum("n").alias("n"))
        )
        new_last = standing_last.join(
            lasts.select("user_id"), "user_id", "left_anti"
        ).unionByName(lasts)
        return counts, new_last

    ev = _table_stream(spark, sf_dir, "events", max_files=1).select(
        "user_id", "ts", "event_id", "event_type"
    )
    state = _fold(ev, step)
    if state is None:
        return spark.createDataFrame(
            [], "from_type string, to_type string, n_transitions long, p_transition double"
        )
    counts, _ = state
    norm = Window.partitionBy("from_type")
    return (
        counts.select(
            "from_type",
            "to_type",
            F.col("n").alias("n_transitions"),
            F.round(
                F.col("n").cast("double") / F.sum("n").over(norm), 6
            ).alias("p_transition"),
        )
        .orderBy("from_type", "to_type")
        .localCheckpoint()
    )


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the exact phi-heavy-hitter term set — the
    incremental twin of t_heavy_hitters (operators/sketch.heavy_hitters).
    Each micro-batch runs the per-partition Misra-Gries summarizer over
    its OWN tokens and unions the survivors into a standing candidate
    table; after the availableNow drain, one exact recount over the full
    corpus (operators/sketch.exact_recount — the same shared phase the
    batch tier ends with) turns candidates into exact counts.

    Why the result equals the batch output EXACTLY for ANY file split or
    arrival order: the MG guarantee is per summarized unit — any term
    with count > unit_n / capacity survives its unit — and a globally
    phi-heavy term must be phi-heavy in at least one unit (pigeonhole
    over any partition of the corpus, whether Spark partitions or
    micro-batches). So the standing candidate set is always a SUPERSET
    of the true heavy hitters, set-union is order-free, and the exact
    recount filters the superset down to the identical final table. The
    candidate state is O(capacity x units) rows, independent of corpus
    size; the one full-corpus pass happens once at read time, exactly as
    in the batch tier."""
    from boxoffice_spark.operators import textstats as TS
    from boxoffice_spark.operators.sketch import _mg_candidates, exact_recount

    phi = 0.02
    capacity = 50  # ceil(1 / phi)

    def step(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        toks = batch.select(F.explode(TS.words_of("text")).alias("term"))
        upd = _mg_candidates(toks, "term", capacity).distinct()
        return upd if prev is None else prev.unionByName(upd).distinct()

    cands = _fold(_table_stream(spark, sf_dir, "documents", max_files=1), step)
    if cands is None:
        # no matching files -> no micro-batch ran; empty readout
        return spark.createDataFrame(
            [], "term string, term_count bigint, frac double"
        )
    corpus_toks = (
        spark.read.option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
        .select(F.explode(TS.words_of("text")).alias("term"))
    )
    return exact_recount(corpus_toks, cands, "term", phi).localCheckpoint()


# Equi-width histogram contract for the streaming quantile sketch: bin
# width 4.0 over the events.value range (~0-500 -> ~125 live bins per
# type). The worst-case quantile error the readout reports is TWO bin
# widths: the estimate lands anywhere inside its target-rank bin (one
# width) and the exact type-7 percentile's rank convention ((N-1)q+1 vs
# this readout's qN) differs by under one rank, which can place the
# exact value in the ADJACENT bin (a second width). State is
# O(types x |bins|), independent of stream length.
QH_BIN_WIDTH = 4.0
QH_ERR_BOUND = 2 * QH_BIN_WIDTH


def quantile_hist_readout(hist: DataFrame, bin_width: float = QH_BIN_WIDTH) -> DataFrame:
    """Per-type p50/p95 estimates from an equi-width histogram
    (event_type, bin, cnt): cumulative counts over the bounded bin list
    locate the target-rank bin, linear interpolation within it places the
    estimate (the classic equi-width histogram quantile — error <= two
    bin widths vs the exact type-7 percentile: one for within-bin
    placement, one for the rank-convention offset; see QH_ERR_BOUND).
    The window runs per type over |bins| rows, never over raw events."""
    from pyspark.sql import Window as W

    wcum = (
        W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n_rows"),
        F.count("*").over(wall).alias("n_bins"),
    )
    qs = hist.sparkSession.createDataFrame(
        [(0.5,), (0.95,)], "q double"
    )
    tagged = cum.crossJoin(F.broadcast(qs))
    target = F.col("q") * F.col("n_rows")
    inbin = tagged.filter(
        (F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target)
    )
    est = (
        F.col("bin") * F.lit(bin_width)
        + (target - (F.col("cum") - F.col("cnt")))
        / F.col("cnt")
        * F.lit(bin_width)
    )
    picked = inbin.select(
        "event_type", "n_rows", "n_bins", "q", F.round(est, 4).alias("est")
    )
    return (
        picked.groupBy("event_type", "n_rows", "n_bins")
        .agg(
            F.max(F.when(F.col("q") == 0.5, F.col("est"))).alias("est_p50"),
            F.max(F.when(F.col("q") == 0.95, F.col("est"))).alias("est_p95"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_bins",
            "est_p50",
            "est_p95",
            F.lit(2 * bin_width).alias("err_bound"),
        )
        .orderBy("event_type")
    )


def stream_quantile_histogram_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of per-event-type equi-width histogram
    quantile sketches — the mergeable-quantile member of the sketch
    family (KMV distinct, HLL rollup, Misra-Gries heavy hitters, and now
    quantiles): each micro-batch's (type, bin) counts ADD into a standing
    histogram; p50/p95 read off the drained histogram by cumulative
    interpolation with a hard two-bin-width error bound (QH_ERR_BOUND).

    Count addition is associative and commutative, so the drained
    histogram equals the batch-computed histogram EXACTLY for ANY file
    split or arrival order (the additive contract of the drift /
    completeness twins; asserted single- and multi-batch in
    tests/test_streaming.py) — and therefore so does every quantile read
    from it. Not idempotent (re-delivering a file would double-count) —
    exactly-once file semantics come from the availableNow source, as
    with every additive twin here. State is O(types x |bins|) rows,
    independent of stream length; on a cluster the same merge maintains
    a keyed histogram table that tomorrow's partition UNIONs into, which
    is what makes a quantile readout possible without ever re-sorting
    history — the streaming substitute for percentile() at 100 TB."""

    def step(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        upd = (
            batch.select(
                "event_type",
                F.floor(F.col("value") / F.lit(QH_BIN_WIDTH)).alias("bin"),
            )
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("cnt"))
        )
        if prev is None:
            return upd
        return (
            prev.unionByName(upd)
            .groupBy("event_type", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )

    hist = _fold(_table_stream(spark, sf_dir, "events", max_files=1), step)
    if hist is None:
        return spark.createDataFrame(
            [],
            "event_type string, n_rows long, n_bins long, est_p50 double, "
            "est_p95 double, err_bound double",
        )
    return quantile_hist_readout(hist).localCheckpoint()


def stream_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the header-vs-detail reconciliation
    (queries/quality.dq_order_lineitem_reconcile's twin): line items
    arrive as a file stream and each micro-batch's per-order detail
    sums ADD into a standing (order, detail_decimal, n_lines) table; at
    drain the standing table joins the header scan once and emits the
    identical bucket report. Decimal addition is associative/commutative,
    so the drained per-order sums — and therefore every bucket decision
    and money total — equal the batch audit EXACTLY for ANY file split or
    arrival order (asserted single- and multi-batch in
    tests/test_streaming.py). This is the shape a continuous AP audit runs
    in production: detail feeds land all day, the standing order-grain
    state is O(orders), and the report reads off state instead of
    rescanning the detail history. The per-line amount keeps the batch
    query's exactness contract (exact 6dp rational, decimal-summed at
    scale 6; cents rounded in DECIMAL space at readout). The stream reads
    only the four lineitem columns it needs, so the fixture's l_shipdate
    timestamp type never matters here."""

    def step(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        upd = batch.groupBy("l_orderkey").agg(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(27,6)")
            ).alias("li_dec"),
            F.count("*").alias("n_lines"),
        )
        if prev is None:
            return upd
        return (
            prev.unionByName(upd)
            .groupBy("l_orderkey")
            .agg(F.sum("li_dec").alias("li_dec"), F.sum("n_lines").alias("n_lines"))
        )

    state = _fold(_table_stream(spark, sf_dir, "lineitem", max_files=1), step)
    if state is None:
        li = spark.createDataFrame([], "l_orderkey long, li_total double")
    else:
        li = state.select("l_orderkey", F.col("li_dec").cast("double").alias("li_total"))
    o = tables.table(spark, sf_dir, "orders")
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    gap = F.abs(F.col("o_totalprice") - F.col("li_total"))
    bucket = (
        F.when(F.col("l_orderkey").isNull(), "no_lineitems")
        .when(gap <= 0.01 * F.col("o_totalprice"), "within_1pct")
        .when(gap <= 0.10 * F.col("o_totalprice"), "within_10pct")
        .otherwise("gap_over_10pct")
    )
    return (
        j.select(
            F.col("o_orderstatus").alias("status"),
            bucket.alias("bucket"),
            "o_totalprice",
            "li_total",
        )
        .groupBy("status", "bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("header_total"),
            F.round(
                F.sum(
                    F.coalesce(F.col("li_total"), F.lit(0.0)).cast(
                        "decimal(27,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("detail_total"),
        )
        .orderBy("status", "bucket")
        .localCheckpoint()
    )
