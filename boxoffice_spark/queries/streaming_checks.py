"""Rows-only registry entries for the Structured Streaming jobs.

Not SQL-expressible (stateful incremental execution), so per the driver
contract they carry no oracle — the batch twins in queries/incremental.py
are the oracle-checked semantics, and tests/test_streaming.py asserts
stream == batch equality locally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from boxoffice_spark.registry import register
from boxoffice_spark.streaming.jobs import (
    streaming_dedup_first_per_key,
    tumbling_window_stream,
)


@register("s_stream_tumbling_window", oracle=None, tags=("streaming",))
def s_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 streaming: watermarked tumbling-window aggregation driven to
    completion with availableNow (result equals i_tumbling_window)."""
    return tumbling_window_stream(spark, sf_dir)


@register("s_stream_dedup", oracle=None, tags=("streaming",))
def s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 streaming: watermarked dropDuplicatesWithinWatermark per
    (user_id, event_type) — bounded-state streaming dedup."""
    return streaming_dedup_first_per_key(spark, sf_dir)


@register("s_stream_sessionize", oracle=None, tags=("streaming", "session"))
def s_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via session_window + watermark (O(active
    sessions) state). Batch twin: the identical session_window groupBy in
    batch mode; equality asserted in tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import sessionize_stream

    return sessionize_stream(spark, sf_dir)


@register("s_stream_attribution_join", oracle=None, tags=("streaming", "join"))
def s_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks x purchases within the
    attribution hour) — bounded join state via dual watermarks + an
    event-time-bounded condition. Batch twin = the pair set under
    j_attribution_window; equality asserted in tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_stream_attribution_join

    return stream_stream_attribution_join(spark, sf_dir)


@register("s_stream_static_enrich", oracle=None, tags=("streaming", "join"))
def s_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (purchase events x customer
    dim): per-micro-batch lookup join, zero streaming state. Batch twin =
    the identical join in batch mode; equality asserted in
    tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_static_enrich

    return stream_static_enrich(spark, sf_dir)


@register("s_stream_corpus_gate", oracle=None, tags=("streaming", "dedup"))
def s_stream_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest gate: admit a document only if its fingerprint is
    unseen in the static corpus (stream-static LEFT ANTI) and unseen
    earlier in the stream (stateful dropDuplicates). Incremental twin of
    t_incremental_dedup; fingerprint-set equality asserted in
    tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_corpus_gate

    return stream_corpus_gate(spark, sf_dir)


@register("s_stream_drift_monitor", oracle=None, tags=("streaming", "drift"))
def s_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor: the batch twin's per-language counts
    (quality.psi_counts) run as an update-mode aggregate, folded across
    micro-batches, and its counts -> terms half (quality.psi_terms) reads
    the PSI terms off the drained counts. Batch twin:
    dq_distribution_drift; final-table equality asserted in
    tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_drift_monitor

    return stream_drift_monitor(spark, sf_dir)


@register("s_stream_embedding_drift", oracle=None, tags=("streaming", "drift", "vector"))
def s_stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding-centroid drift: the stream's per-(label, dim)
    decimal sums are folded across micro-batches into a standing table
    (O(labels x dims) state) and every label's centroid shift is read
    once from the drained sums. Batch twin: v_embedding_drift;
    final-table equality asserted in tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_embedding_drift

    return stream_embedding_drift(spark, sf_dir)


@register("s_stream_completeness", oracle=None, tags=("streaming", "quality"))
def s_stream_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dq_completeness_by_day: per-day quality counters
    maintained across micro-batches (streaming/jobs.py
    stream_completeness_monitor); stream==batch equality on the shared
    columns asserted in tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_completeness_monitor

    return stream_completeness_monitor(spark, sf_dir)


@register("s_stream_cluster_maintenance", oracle=None, tags=("streaming", "dedup", "graph"))
def s_stream_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-cluster maintenance (streaming/jobs.py
    stream_cluster_maintenance): per micro-batch, SimHash postings probe
    the standing fingerprint table for pairs touching the batch, and the
    standing labeling absorbs them via the incremental_components
    quotient merge — O(docs) fingerprint + O(clustered docs) label state,
    never the pair graph. Final labeling == t_dedup_clusters exactly
    (label for label), asserted single- and multi-batch in
    tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_cluster_maintenance

    return stream_cluster_maintenance(spark, sf_dir)


@register("s_stream_scd2_maintenance", oracle=None, tags=("streaming", "scd2", "etl"))
def s_stream_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance (streaming/jobs.py
    stream_scd2_maintenance): each micro-batch of signup change events is
    merged into the standing validity-interval table — close the open
    interval of every changed key, append the batch's own intervals —
    the foreachBatch MERGE INTO that keeps a warehouse dimension current
    from a CDC feed. After the availableNow drain the standing table
    equals e_scd2_history row-for-row and its point-in-time filter equals
    e_scd2_asof_read, asserted single- and multi-batch (time-ordered file
    split) in tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_scd2_maintenance

    return stream_scd2_maintenance(spark, sf_dir)


@register("s_stream_kmv_merge", oracle=None, tags=("streaming", "sketch"))
def s_stream_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV sketch maintenance: per-event-type k-min distinct
    sketches merged across micro-batches (streaming/jobs.
    stream_kmv_sketch_merge). k-min merge is associative/commutative/
    idempotent, so the drained sketch equals the batch sketch EXACTLY
    for any file split — asserted in tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_kmv_sketch_merge

    return stream_kmv_sketch_merge(spark, sf_dir)


@register("s_stream_event_transitions", oracle=None, tags=("streaming", "markov"))
def s_stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the Markov transition matrix: additive
    count merges + a standing last-event-per-user table that recovers the
    cross-batch boundary transitions within-batch lead() cannot see.
    Batch twin = w_event_transitions; exact integer equality asserted
    single- and multi-batch in tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_event_transitions

    return stream_event_transitions(spark, sf_dir)


@register("s_stream_heavy_hitters", oracle=None, tags=("streaming", "sketch"))
def s_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming phi-heavy-hitter maintenance: per-micro-batch
    Misra-Gries survivors unioned into a standing candidate superset +
    one exact drain-time recount (streaming/jobs.stream_heavy_hitters).
    Candidate union is order-free and the recount is exact, so the
    result equals t_heavy_hitters EXACTLY for any file split — asserted
    in tests/test_streaming.py."""
    from boxoffice_spark.streaming.jobs import stream_heavy_hitters

    return stream_heavy_hitters(spark, sf_dir)


@register("s_stream_quantile_merge", oracle=None, tags=("streaming", "sketch"))
def s_stream_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable-quantile sketch: per-event-type equi-width
    histogram counts ADD across micro-batches; p50/p95 read off the
    drained histogram with a two-bin-width error bound (streaming/jobs.
    stream_quantile_histogram_merge). Count addition is order-free, so
    the drained histogram — and every quantile read from it — equals the
    batch twin EXACTLY for any file split; asserted single- and
    multi-batch in tests/test_streaming.py, with the error-bound property
    checked against the exact percentile."""
    from boxoffice_spark.streaming.jobs import stream_quantile_histogram_merge

    return stream_quantile_histogram_merge(spark, sf_dir)


@register("s_stream_reconcile_totals", oracle=None, tags=("streaming", "audit"))
def s_stream_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming header-vs-detail reconciliation: per-order detail sums
    ADD across line-item micro-batches in decimal, the drained state
    joins the header scan once, and the bucket report equals
    dq_order_lineitem_reconcile EXACTLY for any file split (additive
    decimal merge is order-free; asserted single- and multi-batch in
    tests/test_streaming.py). streaming/jobs.stream_reconcile_totals."""
    from boxoffice_spark.streaming.jobs import stream_reconcile_totals

    return stream_reconcile_totals(spark, sf_dir)
