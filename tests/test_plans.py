"""Physical-plan audits: the properties that make these queries survive a
100 TB scale-up, locked in as assertions so a refactor can't silently lose
them (the first plan that *passes* is not necessarily the plan you *want*).

- dimension joins must stay broadcast (no fact-side shuffle),
- filters must reach the parquet scan (PushedFilters),
- projections must prune the scan schema (ReadSchema),
- single-shuffle aggregates must stay single-shuffle.
"""

from __future__ import annotations

import re

import pytest

from boxoffice_spark.registry import load_all

SPECS = load_all()


def physical(df) -> str:
    # default maxMetadataStringLength=100 truncates PushedFilters/ReadSchema
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "4000")
    return df._jdf.queryExecution().executedPlan().toString()


def scans(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "Scan parquet" in ln or "PushedFilters" in ln]


def test_flagship_broadcasts_dimension(spark, sf_dir):
    plan = physical(SPECS["flagship_daily_topk_delta"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "dim join regressed to shuffle join"


def test_broadcast_left_join_is_broadcast(spark, sf_dir):
    plan = physical(SPECS["j_broadcast_left_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_daterange_filter_pushed_to_scan(spark, sf_dir):
    plan = physical(SPECS["p_projection_daterange"].fn(spark, sf_dir))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("GreaterThan" in p or "LessThan" in p or "IsNotNull" in p for p in pushed), plan


def test_projection_prunes_scan_schema(spark, sf_dir):
    df = SPECS["p_projection_daterange"].fn(spark, sf_dir)
    plan = physical(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    # lineitem has 16 columns; the query needs far fewer — pruning must hold
    assert 0 < len(read_cols) <= 8, f"scan reads too many columns: {read_cols}"


def test_exact_dedup_single_shuffle(spark, sf_dir):
    plan = physical(SPECS["t_exact_dedup"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_latest_per_key_single_shuffle(spark, sf_dir):
    plan = physical(SPECS["w_latest_per_key"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    plan = physical(SPECS["v_cosine_topk"].fn(spark, sf_dir))
    assert "Broadcast" in plan, plan
    assert "CartesianProduct" not in plan, "query side must broadcast, not cartesian"


def test_no_python_udfs_in_relational_core(spark, sf_dir):
    """The §2.2-2.8 surface must stay whole-stage-codegen JVM — any
    BatchEvalPython/ArrowEvalPython in these plans means a Python UDF crept
    into the hot path."""
    for name in [
        "flagship_daily_topk_delta",
        "a_groupby_multi_agg",
        "w_lag_delta",
        "e_array_ops",
        "t_text_stats",
        "t_repetition_stats",
        "t_ngram_jaccard_pairs",
        "t_minhash_lsh_pairs",
        "v_cosine_topk",
    ]:
        plan = physical(SPECS[name].fn(spark, sf_dir))
        assert "EvalPython" not in plan, f"{name} contains a Python UDF"


def test_hierarchical_rollup_reuses_hourly_aggregate(spark, sf_dir):
    """The daily grain must re-aggregate the hourly exchange, not rescan
    events: ReusedExchange ties the union's two branches to one shuffle."""
    df = SPECS["i_hierarchical_rollup"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes exchange reuse at runtime, on THIS df's execution
    plan = physical(df)
    assert "ReusedExchange" in plan, plan


def test_pii_redact_is_zero_shuffle_scan(spark, sf_dir):
    """The PII scrub is a pure per-row rewrite — a full-corpus pass must
    stay map-side (no Exchange) and JVM-side (no Python UDF operators)."""
    plan = physical(SPECS["t_pii_redact"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_decontamination_probe_is_semi_join(spark, sf_dir):
    """The eval->train shingle probe must be a LEFT SEMI join on the 60-bit
    hash (carries only the key, short-circuits on first match) — never an
    inner join that would duplicate eval rows per train occurrence, and
    never a broadcast of the train side (the big side at 100 TB)."""
    plan = physical(SPECS["t_decontamination"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_winnow_fingerprints_scan_local_no_python(spark, sf_dir):
    """Winnowing must fingerprint inside the scan stage: no Exchange (the
    repartition spread() adds at local scale aside), and strictly no Python
    eval operators — the whole point of the higher-order-function form."""
    plan = physical(SPECS["t_winnow_fingerprints"].fn(spark, sf_dir))
    assert "EvalPython" not in plan and "ArrowEval" not in plan, plan
    # the only exchange allowed is the guarded spread() repartition
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln and "Reused" not in ln]
    assert len(exchanges) <= 1, f"unexpected shuffles:\n{plan}"


def test_incremental_dedup_anti_join_no_broadcast_of_corpus(spark, sf_dir):
    """The corpus probe must be a shuffle LEFT ANTI hash join on the
    fingerprint — broadcasting the corpus side would ship the whole
    existing corpus to every task at 100 TB."""
    plan = physical(SPECS["t_incremental_dedup"].fn(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_vocab_topk_takeordered_not_global_sort(spark, sf_dir):
    """Top-k must plan as TakeOrderedAndProject (distributed partial
    top-k), never a global Sort over the full vocabulary."""
    plan = physical(SPECS["t_vocab_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_pagerank_topk_takeordered_not_global_window(spark, sf_dir):
    """g_pagerank_authority's top-20 must plan as TakeOrderedAndProject
    (per-partition top-k merged on the driver); the rank column's window
    then runs over just the 20 survivors. A row_number window over the
    FULL node set would pull every node through one partition."""
    plan = physical(SPECS["g_pagerank_authority"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_boilerplate_units_takeordered(spark, sf_dir):
    """Boilerplate top-50 must plan as TakeOrderedAndProject — the rank
    window runs over 50 survivors, never the full unit vocabulary."""
    plan = physical(SPECS["t_boilerplate_units"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_embedding_drift_no_cartesian_no_python(spark, sf_dir):
    """The centroid-drift plan stays pure Catalyst (posexplode + partial
    aggs): no Python evaluation, no cartesian product, counts broadcast."""
    plan = physical(SPECS["v_embedding_drift"].fn(spark, sf_dir))
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_sequence_packing_single_shuffle(spark, sf_dir):
    """Packing shuffles ONCE on (lang, shard): the per-bin aggregate's
    grouping keys are a superset of the window's partition keys, so the
    window exchange must satisfy the groupBy with no second exchange."""
    plan = physical(SPECS["t_sequence_packing"].fn(spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln and "Reused" not in ln]
    assert len(exchanges) == 1, plan


def test_histogram_single_shuffle(spark, sf_dir):
    plan = physical(SPECS["a_histogram"].fn(spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln and "Reused" not in ln]
    assert len(exchanges) == 1, plan


def test_trailing_range_window_single_shuffle(spark, sf_dir):
    """RANGE-frame rolling sum: one shuffle on user_id, one window node —
    no self-join / explode fallback."""
    plan = physical(SPECS["w_trailing_range_sum"].fn(spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln and "Reused" not in ln]
    assert len(exchanges) == 1, plan
    assert "Join" not in plan, plan


def test_line_dedup_stays_jvm_side(spark, sf_dir):
    """The C4 span-dedup plan must contain no Python evaluation (pure
    Catalyst: Generate + window + sorted collect) and no cartesian
    product; the doc-side reassembly join must not broadcast the
    (O(docs)-sized) aggregate."""
    plan = physical(SPECS["t_line_dedup"].fn(spark, sf_dir))
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mixture_rebalance_broadcasts_rate_table(spark, sf_dir):
    """The per-stratum rate table must broadcast; the corpus side must
    never shuffle before the filtered count's partial aggregation."""
    plan = physical(SPECS["t_mixture_rebalance"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_scoped_persist_repersists_after_clear_cache(spark):
    """A kept handle whose cache clearCache() dropped must not come back
    stale: the same plan in the same scope is cached again."""
    from boxoffice_spark.functions.caching import scoped_persist

    def cached(df) -> bool:
        level = df.storageLevel
        return level.useMemory or level.useDisk

    def plan():
        return spark.range(100).selectExpr("id * 2 AS v")

    assert cached(scoped_persist(plan(), "test.clear_cache"))
    spark.catalog.clearCache()
    assert cached(scoped_persist(plan(), "test.clear_cache"))


def test_pair_generation_single_scan(spark, sf_dir):
    """capped_pair_rows must evaluate the postings subtree ONCE: the
    self-join formulation planned two full scans of documents (exchange
    reuse breaks under AQE broadcast conversion) — exactly one parquet
    scan may appear in these pair plans."""
    for name in [
        "t_winnow_dup_pairs",
        "t_ngram_jaccard_pairs",
        "t_simhash_hamming_pairs",
        "t_chunk_dup_pairs",
    ]:
        plan = physical(SPECS[name].fn(spark, sf_dir))
        n_scans = plan.count("Scan parquet")
        assert n_scans == 1, f"{name}: {n_scans} scans\n{plan}"


def test_event_funnel_single_user_shuffle(spark, sf_dir):
    """The three funnel stages must chain over ONE user_id exchange
    (WindowExec reuse), with only the final 1-row rollup adding a
    SinglePartition exchange — no per-stage self-joins."""
    plan = physical(SPECS["w_event_funnel"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 3, plan
    assert "Join" not in plan, plan


def test_dsir_weights_broadcasts_bucket_table(spark, sf_dir):
    """The 256-row log-weight table must broadcast onto the token stream;
    the corpus-side token stream must never be build-side of a join."""
    plan = physical(SPECS["t_dsir_weights"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_no_cartesian_or_row_python_anywhere(spark, sf_dir):
    """Registry-wide anti-pattern gate (tools/plan_audit.py is the
    reporting twin): no executed plan may contain a CartesianProduct or a
    row-at-a-time Python UDF (BatchEvalPython). Arrow kernels
    (ArrowEvalPython*, MapInPandas, FlatMapGroupsInPandas) are the
    sanctioned Python boundary. Global windows over SinglePartition are
    allowed only for the known bounded-aggregate inputs listed below."""
    from tools.plan_audit import audit

    result = audit(spark, sf_dir)
    assert result["cartesian"] == [], result
    assert result["row_python"] == [], result
    # every global window must sit over a bounded aggregate (lang rows,
    # k-means cells, candidate sets, exact-quantile scaffolds) — new
    # entries here need a written scale justification in their docstring
    allowed = {
        "dq_distribution_drift",   # per-language PSI rows
        "w_ntile_quartiles",       # exact global quantiles by contract
        "t_lang_token_mix",        # handful of language rows
        "t_mixture_rebalance",     # per-stratum rate table
        "t_heavy_hitters",         # Misra-Gries candidate set
        "v_cluster_balance",       # n_cells aggregate rows
        "w_rolling_hll_distinct",  # per-day sketch rows (bounded; see docstring)
        "dq_partition_gaps",       # LEAD over the distinct-date spine (bounded)
        "w_max_concurrency",       # bucket-offset prefix sum over |hours| rows
        "t_zipf_fit",              # rank window over the top-1000 vocab head
        "t_temperature_mixture",   # share/normalizer over |langs| rows
        "t_token_budget_select",   # running token sum over <=101 band rows
        "a_kruskal_wallis",        # pooled rank over the calendar-bounded daily grain
        "t_domain_loss_weights",   # softmax normalizer over |sources| rows
        "a_kpi_decomposition",     # MoM lag over the bounded month spine
        "a_dunn_posthoc",          # pooled rank over the calendar-bounded daily grain
        "w_activity_heatmap",      # share window over the fixed 7 x 24 grid
    }
    assert set(result["global_windows"]) <= allowed, result["global_windows"]
    # positive control: the detector must actually FIND the known global
    # windows — an always-empty regex would pass the subset assertion
    # vacuously while the gate fails open
    assert "w_ntile_quartiles" in result["global_windows"], result["global_windows"]
    assert "t_lang_token_mix" in result["global_windows"], result["global_windows"]


def test_plan_audit_detects_window_inside_join_branch(spark):
    """The global-window regex must match ':'-prefixed tree lines — a
    globally-windowed subframe JOINED back to a fact table is exactly the
    scale anti-pattern the gate exists to catch."""
    import re as _re

    from pyspark.sql import Window as W_, functions as F_
    from tools.plan_audit import audit  # noqa: F401  (shared regex below)

    left = spark.range(100).withColumn(
        "rk", F_.row_number().over(W_.partitionBy().orderBy("id"))
    )
    right = spark.range(100).withColumnRenamed("id", "rid")
    df = left.join(right, left.id == right.rid)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pat = r"Window .*\n(?:[\s:+-]*Sort .*\n)?[\s:+-]*Exchange SinglePartition"
    assert _re.search(pat, plan), plan


def test_link_prediction_topk_takeordered(spark, sf_dir):
    """g_link_prediction's top-30 must plan as TakeOrderedAndProject
    (per-partition heaps) — a global row_number window over the full
    candidate-pair set would funnel every scored pair through one
    partition."""
    plan = physical(SPECS["g_link_prediction"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_skew_report_top_key_takeordered(spark, sf_dir):
    """k_skew_report's heaviest-key selection must plan as
    TakeOrderedAndProject over the per-key counts, and the report must
    not shuffle the fact table more than once (one Exchange feeding the
    per-key aggregate; everything downstream runs on |keys| rows)."""
    plan = physical(SPECS["k_skew_report"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_kmv_overlap_single_distinct_shuffle_of_fact(spark, sf_dir):
    """a_kmv_overlap: the lineitem fact must be scanned for the distinct
    (month, part) set and never cross-joined — no CartesianProduct, no
    Python evaluation anywhere in the sketch plan."""
    plan = physical(SPECS["a_kmv_overlap"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
