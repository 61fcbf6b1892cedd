"""sf1 scale validation of the heavy operator tier (round-4 VERDICT item 3).

Materializes an sf1 dataset (10x sf0.1: ~6M lineitem, 50k documents, 20k
embeddings) with DuckDB, then measures the heavy-tier queries at sf0.1 AND
sf1 and reports the observed growth exponent

    alpha = log(t_sf1 / t_sf0.1) / log(10)

(alpha ~ 1.0 = linear in corpus size; alpha ~ 2.0 would be the quadratic
pair blowup the posting caps exist to prevent). Optionally runs the DuckDB
oracle sweep for the oracle-backed subset at sf1 (--oracle).

Timings are WARM steady-state (min of 2 runs), and — unlike bench.py,
which reports index builds separately as an amortized price — each run
bills the TOTAL per-query wall (fn() construction + execution), because
the growth exponent must include work that iterative operators do at
plan-construction time (component rounds, driver-side fits). Caches:
scoped-persist caches are RELEASED between timed runs — otherwise run 2
for a persist-bearing query reads the materialized frame instead of
computing, and min() would report cache-scan growth rather than compute
growth (hiding superlinear work upstream of a persist). Run 1 still
warms JIT/codegen, which is what min-of-2 is for.

Inflation preserves workload character:
- documents: vowel-rotated text per copy -> distinct shingles, postings grow
  linearly, pair output stays bounded. n_chars is length-preserving.
- embeddings: the vector is cyclically rotated per copy -> copies are
  ~orthogonal, so the near-dup/ANN structure doesn't quadratically densify.
- lineitem: shifted l_orderkey (new fact rows, same dims/groups).
- dimension/other tables copied verbatim.

Usage:
    python tools/sf1_probe.py [--oracle] [--oracle-only] [--regen] [--all | --only=a,b]
Env: SPARK_GRAFT_SF1_DIR (default /tmp/spark_graft_sf1),
     SPARK_GRAFT_SF_DIR (sf0.1 source, default /root/testdata/sf0.1)
Prints one JSON line:
    {"sf1_probe": {op: {"sf0.1_s": .., "sf1_s": .., "alpha": ..}, ...},
     "oracle": {op: "OK"/"MISMATCH: ..."} | null}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
COPIES = 10
# Key-shift multiplier for chained decades (sf1 -> sf10): sf1 ids already
# occupy [0, 10) shift slots, so a second inflation must stride 10x wider
# or copy keys would collide with first-decade copies.
SHIFT = int(os.environ.get("SPARK_GRAFT_SHIFT_MULT", "1"))
VOWELS = "aeiou"

# the heavy tier named by the round-3 verdict; the oracle sweep runs for
# whichever of these carry an oracle in the registry (the LSH/CDC pair
# generators and the ANN family are rows-only by construction)
HEAVY = [
    "t_winnow_dup_pairs",
    "t_chunk_dup_pairs",
    "t_minhash_lsh_pairs",
    "t_bm25_search",
    "t_curation_funnel",
    "v_ann_lsh_topk",
    "v_ann_ivf_topk",
    "v_ann_pq_topk",
    "v_embedding_near_dup_lsh",
    "flagship_daily_topk_delta",
    # round 5 additions: token-heavy two-pass scoring and the
    # cluster-then-choose canonicalization chain
    "t_dsir_weights",
    "t_dedup_keep_best",
    "t_compression_gate",
    # round 6: both rankers + fusion in one query; the quotient-merge
    # clustering (2x pair generation + 2 component runs by construction);
    # candidate-sized greedy re-rank; LM-distilled classifier (LM teacher
    # + sample fit at build, codegen scoring at exec)
    "t_hybrid_rrf_search",
    "t_incremental_dedup_clusters",
    "v_mmr_diversify",
    "t_quality_classifier",
    # round 5 (VERDICT r04 item 6): the in-block levenshtein pair join is
    # the newest quadratic-risk shape (sf1 part inflation grows block
    # COUNT, not block size — see part_select; densifying blocks are the
    # cap's job); changeset replay over the 10x orders snapshot; and the
    # triangle census both exact (persisted oriented edges) and DOULION-
    # sampled — the pair where the approx tier must show its alpha edge.
    "j_entity_resolution",
    "e_cdc_apply",
    "g_triangle_census",
    "g_triangle_census_approx",
    # deterministic MinHash banding: capless band buckets are the
    # quadratic-risk shape (dup-group-bounded on real corpora)
    "t_minhash_banded_pairs",
    # round-5 second batch: wedge generation under the center-degree cap
    # (the new bounded-quadratic shape), the KMV distinct self-join audit
    # twin (the sketch side is G×k rows), and the recall scorecard whose
    # capless unblocked truth tier is its heavy leg
    "g_link_prediction",
    "a_kmv_overlap",
    "t_dedup_recall_report",
    # round-5 batches 6-8 heavy legs: the offset-keyed token pair join
    # (2x linear in tokens but token-heavy; the vocab join is the skew
    # spot), 3 rounds of edge-join iteration each for LPA / BFS, and the
    # order-local basket pair expansion
    "t_cooccurrence_pmi",
    "g_label_propagation",
    "g_bfs_distances",
    "a_market_basket_lift",
    # round 6 (VERDICT r05 item 6): the round-5 statistics heavies —
    # the sweep-line prefix sum (two sessionize windows over the event
    # log), the per-segment rank windows behind Gini, the 3-step funnel
    # window chain, and the chi-squared keyness tokenize fan-out
    "w_max_concurrency",
    "a_gini_concentration",
    "w_funnel_latency",
    "t_chi2_keywords",
    # round 6 new batches' heavy legs: iterative peeling (per-round
    # semi-joins over the edge list), the corpus-vs-batch shingle join,
    # the tokenize + vocab rank behind the Zipf fit, and the brand-
    # partitioned skyline sort
    "g_kcore_decomposition",
    "t_ngram_novelty",
    "t_zipf_fit",
    "p_skyline_pareto",
    # round 6 batches 4-6 heavy legs: the Theil-Sen pair self-join
    # (quadratic in calendar days, must stay flat in corpus size), the
    # two tokenize-bound corpus fits, the JSD head-grid join, and the
    # events-wide islands windows
    "a_theil_sen_trend",
    "a_mann_whitney_u",
    "t_js_divergence_matrix",
    "t_heaps_law_fit",
    "w_gaps_islands",
    # batches 7-8: the 200-replicate resampling spines (must stay flat —
    # they multiply only the calendar-bounded daily grain), the tokenize-
    # bound OOV audit, and the edge-moment assortativity pass
    "a_permutation_test",
    "a_bootstrap_ci_poisson",
    "t_oov_rate",
    "g_degree_assortativity",
    # batches 9-10: the calendar-bounded kendall pair join, the two-window
    # capture-recapture marks pass, the tokenize-bound band selection, and
    # the embedding explode scan behind the centroid matrix
    "a_kendall_tau",
    "t_capture_recapture_dups",
    "t_token_budget_select",
    "v_centroid_similarity_matrix",
    # batch 11: the pooled-rank omnibus test (global window over the
    # calendar-bounded daily grain — must stay flat in corpus size)
    "a_kruskal_wallis",
    # batch 13: 16-seed 4-hop multi-source BFS + inverse-distance fold
    "g_harmonic_centrality",
    # batch 16: the unigram-LM pipeline behind the DoReMi weights and the
    # tokenize + per-doc window chain behind span corruption
    "t_domain_loss_weights",
    "t_span_corruption",
    # batches 14-17: the (customer, amount)-keyed audit pair join, the
    # lineitem-to-order reconciliation shuffle, and the event-stream LEAD
    # behind the bounded matrix powers
    "dq_duplicate_payments",
    "dq_order_lineitem_reconcile",
    "w_markov_3step",
    # batch 21: the tokenize + per-doc runs + phrase-word join behind
    # RAKE, and the embedding explode + codec pass behind int8
    "t_keyphrase_rake",
    "v_int8_quantization_report",
]

# queries whose DuckDB oracle is impractical at sf1 even though the
# engine side scales fine: t_dedup_keep_best's recursive-CTE oracle
# expands the simhash vote table (~180M rows at 50k docs) inside the
# recursion — DuckDB grinds for 30+ min. t_incremental_dedup_clusters'
# oracle derives from the same per-word simhash vote expansion
# (_CLUSTERS_ORACLE -> simhash_hamming_pairs_sql), so it hits the same
# wall. Correctness evidence is the sf0.01/sf0.1 oracle greens; sf1
# keeps the timing-only rows.
ORACLE_SKIP_AT_SF1 = {
    "t_dedup_keep_best",
    "t_incremental_dedup_clusters",
    # the census oracle is the textbook id-ordered 3-way self-join — its
    # wedge volume is exactly the quadratic blowup the engine's
    # degree-ordered orientation avoids, so at sf1 the ORACLE (not the
    # engine) is the bottleneck; sf0.01/sf0.1 oracle greens carry
    # correctness, sf1 keeps the timing rows
    "g_triangle_census",
}


def generate(regen: bool = False) -> None:
    """Build the sf1 directory with DuckDB (single parquet file per table —
    both Spark and the DuckDB oracle read them unchanged)."""
    import duckdb

    if os.path.isdir(DST) and not regen:
        return
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()

    def copy_union(table: str, select_for_copy) -> None:
        parts = [select_for_copy(i) for i in range(COPIES)]
        union = " UNION ALL ".join(parts)
        con.execute(f"COPY ({union}) TO '{DST}/{table}.parquet' (FORMAT PARQUET)")

    def doc_select(i: int) -> str:
        if i == 0:
            return f"SELECT * FROM read_parquet('{SRC}/documents.parquet')"
        rot = VOWELS[i % 5 :] + VOWELS[: i % 5]
        # Chained decades (SHIFT > 1): 5 vowel rotations over 10 copies
        # already alias (copy j == copy j+5), and a second decade would
        # compound that into ~SHIFT*2-sized exact/near-dup groups — pair
        # OUTPUT then grows quadratically as an inflater artifact, not an
        # operator property. A per-copy marker INTERLEAVED every 5 words
        # (an end-suffix is not enough: same-rotation copies would still
        # share every internal shingle, and the near-dup tiers measure
        # shingles, not exact text) drives cross-copy shingle overlap to
        # ~zero, so every decade-2 copy is a NON-duplicate of every other
        # while carrying the source decade's true dup structure intact —
        # duplicate volume grows linearly, the realistic shape.
        # First-decade output (SHIFT == 1) is byte-identical to before.
        base = f"translate(text, '{VOWELS}', '{rot}')"
        if SHIFT > 1:
            base = (
                f"regexp_replace({base},"
                f" '(\\S+ \\S+ \\S+ \\S+ \\S+) ', '\\1 qx{i}m ', 'g')"
            )
        return (
            f"SELECT doc_id + {i * 10_000_000 * SHIFT} AS doc_id,"
            f" {base} AS text,"
            f" lang, source, n_chars"
            f" FROM read_parquet('{SRC}/documents.parquet')"
        )

    def emb_select(i: int) -> str:
        if i == 0:
            return f"SELECT * FROM read_parquet('{SRC}/embeddings.parquet')"
        # cyclic rotation by i: distinct, ~orthogonal copies
        return (
            f"SELECT vec_id + {i * 10_000_000 * SHIFT} AS vec_id,"
            f" CAST(list_slice(embedding, {i + 1}, len(embedding))"
            f"  || list_slice(embedding, 1, {i}) AS FLOAT[]) AS embedding,"
            f" label"
            f" FROM read_parquet('{SRC}/embeddings.parquet')"
        )

    def li_select(i: int) -> str:
        if i == 0:
            return f"SELECT * FROM read_parquet('{SRC}/lineitem.parquet')"
        return (
            f"SELECT l_orderkey + {i * 100_000_000 * SHIFT} AS l_orderkey,"
            f" l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,"
            f" l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
            f" FROM read_parquet('{SRC}/lineitem.parquet')"
        )

    def orders_select(i: int) -> str:
        # same key shift as lineitem so the orderkey FK joins stay valid
        # across copies (new fact rows, same customers/priorities)
        if i == 0:
            return f"SELECT * FROM read_parquet('{SRC}/orders.parquet')"
        return (
            f"SELECT o_orderkey + {i * 100_000_000 * SHIFT} AS o_orderkey,"
            f" o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
            f" o_orderpriority"
            f" FROM read_parquet('{SRC}/orders.parquet')"
        )

    def part_select(i: int) -> str:
        # vowel-rotated names: each copy's names form NEW edit-distance
        # blocks (the entity-resolution blocking key — the trailing token —
        # rotates with the name), so block COUNT grows linearly while block
        # SIZE stays flat. That is the realistic growth shape (more records
        # mostly add new names); a block that densifies instead is what the
        # operator's max_block_names cap bounds.
        if i == 0:
            return f"SELECT * FROM read_parquet('{SRC}/part.parquet')"
        rot = VOWELS[i % 5 :] + VOWELS[: i % 5]
        # same decade-2 de-aliasing as doc_select: a marker token keeps
        # copy names distinct (and rotates the trailing-token blocking
        # key), so ER blocks keep growing in COUNT, not in size
        suffix = f" || ' qx{i}pt'" if SHIFT > 1 else ""
        return (
            f"SELECT p_partkey + {i * 10_000_000 * SHIFT} AS p_partkey,"
            f" translate(p_name, '{VOWELS}', '{rot}'){suffix} AS p_name,"
            f" p_brand, p_type, p_size, p_retailprice"
            f" FROM read_parquet('{SRC}/part.parquet')"
        )

    def events_select(i: int) -> str:
        # new users with the SAME temporal pattern per copy: event count,
        # per-hour arrival density, and funnel/transition structure all
        # grow 10x (the row-linear shape the sweep-line and window probes
        # must digest) while per-user history length stays flat — more
        # traffic means more users, not 10x-longer sessions. Without this
        # the round-6 event-table probes would measure a verbatim copy
        # (alpha trivially 0).
        if i == 0:
            return f"SELECT * FROM read_parquet('{SRC}/events.parquet')"
        return (
            f"SELECT event_id + {i * 100_000_000 * SHIFT} AS event_id, ts,"
            f" user_id + {i * 10_000_000 * SHIFT} AS user_id,"
            f" event_type, value, props"
            f" FROM read_parquet('{SRC}/events.parquet')"
        )

    copy_union("documents", doc_select)
    copy_union("embeddings", emb_select)
    copy_union("lineitem", li_select)
    copy_union("orders", orders_select)
    copy_union("part", part_select)
    copy_union("events", events_select)
    for t in ["region", "nation", "customer", "supplier"]:
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    con.close()


def main() -> None:
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    oracle_only = "--oracle-only" in sys.argv
    do_oracle = "--oracle" in sys.argv or oracle_only
    probe_all = "--all" in sys.argv
    heavy = HEAVY
    for a in sys.argv[1:]:
        # --only a,b,c: probe a subset (incremental refresh after adding
        # new heavy entries — merge the printed rows into SCALE_sf1.json)
        if a.startswith("--only="):
            if probe_all:
                raise SystemExit("--only and --all are mutually exclusive")
            only = set(a.split("=", 1)[1].split(","))
            from boxoffice_spark.registry import load_all as _la

            known = set(_la())
            unknown = only - known
            if unknown:
                raise SystemExit(
                    f"--only names not in registry: {sorted(unknown)}"
                )
            # preserve HEAVY order for its members, then the extras —
            # any registry name is probeable (post-fix re-probes of
            # converted queries, VERDICT r07 task 7)
            heavy = [n for n in HEAVY if n in only] + sorted(
                only - set(HEAVY)
            )
    generate(regen="--regen" in sys.argv)

    import math

    from boxoffice_spark.registry import load_all
    from boxoffice_spark.session import get_spark

    spark = get_spark("sf1_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM

    specs = load_all()
    if probe_all:
        # --all: registry-wide exponent sweep — every batch query, not just
        # the curated heavy tier. Streaming twins are excluded: their fn()
        # stands up a file-stream source and drains it, so the wall measures
        # micro-batch scheduling (drain cadence), not a scan/shuffle growth
        # shape; their scale posture is the per-job O(state) notes in
        # streaming/jobs.py plus the stream==batch equality of their batch
        # twins, which ARE probed here.
        heavy = [n for n in specs if not n.startswith(("s_stream", "s_stock"))]

    def run(fn, sf_dir: str) -> float:
        # TOTAL per-query wall: fn() construction + noop-sink execution.
        # Unlike bench.py (which reports build separately as the amortized
        # index price), the growth exponent must bill EVERYTHING a query
        # does per corpus — iterative operators (connected components,
        # driver-side quantizer/classifier fits) do their work inside
        # fn(), and an exec-only alpha would miss exactly the part that
        # grows.
        from boxoffice_spark.functions.caching import release_all

        runs = []
        for _ in range(2):  # run 1 pays codegen; run 2 is steady-state
            release_all()  # bill compute, not a prior run's persisted frame
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    results: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    if not oracle_only:
        for name in heavy:
            fn = specs[name].fn
            try:
                t_small = run(fn, SRC)
                t_big = run(fn, DST)
            except Exception as exc:  # keep sweeping — a 250-query --all run
                errors[name] = f"{type(exc).__name__}: {exc}"  # must survive one bad probe
                print(f"# ERROR {name}: {errors[name][:160]}", file=sys.stderr)
                continue
            alpha = math.log(max(t_big, 1e-3) / max(t_small, 1e-3)) / math.log(COPIES)
            results[name] = {"sf0.1_s": t_small, "sf1_s": t_big, "alpha": round(alpha, 2)}
            print(f"# timed {name}: {results[name]}", file=sys.stderr)

    oracle_out = None
    if do_oracle:
        from boxoffice_spark.testing import compare, duckdb_connect

        oracle_out = {}
        for name in heavy:
            spec = specs[name]
            if spec.oracle is None or name in ORACLE_SKIP_AT_SF1:
                continue
            # fresh connection per query: a DuckDB internal error poisons
            # the connection it happened on
            con = duckdb_connect(DST)
            try:
                r = compare(name, spec.fn(spark, DST), con, spec.oracle)
                oracle_out[name] = "OK" if r.ok else str(r)
            except Exception as exc:  # engine error, not a value mismatch
                oracle_out[name] = f"ORACLE-ERROR: {type(exc).__name__}: {exc}"
            finally:
                con.close()
            print(f"# oracle {name}: {oracle_out[name][:120]}", file=sys.stderr)

    from boxoffice_spark.testing import engine_fingerprint

    out = {
        "engines": engine_fingerprint(),
        "sf1_probe": results,
        "oracle": oracle_out,
        "sf1_dir": DST,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
