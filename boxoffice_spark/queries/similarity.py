"""Embedding similarity-search queries (SURVEY.md §2.11 / BASELINE.json
north-star operators)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from boxoffice_spark.functions.numeric import fround_sql, ratio6, ratio6_sql
from boxoffice_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    cosine_topk_arrow,
    embedding_near_dup_lsh,
    near_dup_pairs_arrow,
)
from boxoffice_spark.registry import register
from boxoffice_spark.tables import plant_duplicates, table

_COSINE_TOPK_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               {fround_sql('list_cosine_similarity(qv, cv)', 6)} AS cos_sim
        FROM q JOIN c ON query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS INT) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 10
    """


@register(
    "v_cosine_topk",
    oracle=_COSINE_TOPK_ORACLE,
    bench=True,
    tags=("similarity", "vector"),
)
def v_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for the first 5 query vectors —
    float32 promoted to double before arithmetic, JVM-side zip_with/
    aggregate dot products, broadcast query side (operators/similarity.py)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=10)


@register(
    "v_cosine_topk_arrow",
    oracle=_COSINE_TOPK_ORACLE,
    bench=True,
    tags=("similarity", "vector", "pandas-udf"),
)
def v_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact top-k under the Arrow physical strategy: broadcast
    query matrix, one BLAS matmul per scan batch, batch-local top-k
    candidates only into the global window — the 100 TB corpus-scan
    variant (interpreted zip_with/aggregate folds are the known-slow
    expression class). Shares v_cosine_topk's DuckDB oracle, so exactness
    of the rewrite is driver-checked, not asserted."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_arrow(emb, queries, k=10)


@register("v_ann_lsh_topk", oracle=None, bench=True, tags=("similarity", "ann"))
def v_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-projection LSH buckets + exact rerank
    (the sub-linear scale path; recall vs the exact operator asserted in
    tests/test_llm_ops.py). Rows-only: approximate by construction."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_lsh_topk(emb, queries, k=10)


@register(
    "v_embedding_near_dup",
    oracle="""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    v AS (
        SELECT vec_id, label, e FROM base
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, label, e FROM base
        WHERE vec_id % 50 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
    FROM v a JOIN v b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.99
    """,
    tags=("similarity", "dedup"),
)
def v_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the 5th dedup tier: semantic
    dedup): pairs with cos >= 0.99, blocked on label — the cheap
    discriminator bounding the pairwise term exactly like (lang, source)
    blocks bound t_ngram_jaccard_pairs. At corpus scale the block key
    becomes a coarse ANN bucket (ann_lsh_topk's hyperplane hash) and the
    exact rerank stays identical. The fixture embeddings are
    near-random (max pairwise cosine ~0.51), so — like the LSH sibling —
    the query plants the event it audits: every 50th vector is unioned
    back under a new id, making the >= 0.99 tier non-vacuous at every
    scale factor while the threshold stays a true near-dup bar.

    Physical strategy is the Arrow per-block gram matmul
    (operators/similarity.py near_dup_pairs_arrow), not the declarative
    self-join + zip_with cosine: the interpreted per-pair fold made the
    O(block²) term cost ~1 ms/pair (minutes at sf0.1, hours at sf1 —
    caught by the registry-wide sf1 probe). Same pairs, same oracle;
    surviving pairs are the planted identical copies at cos 1.0, far from
    the 6-dp rounding boundary, so BLAS vs fold accumulation order cannot
    flip membership."""
    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    v = plant_duplicates(base, "vec_id")
    return near_dup_pairs_arrow(
        v, block_col="label", id_col="vec_id", vec_col="e", threshold=0.99
    )


@register(
    "v_embedding_near_dup_lsh",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    u AS (
        SELECT vec_id, e FROM v
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, e FROM v WHERE vec_id % 50 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {fround_sql('list_cosine_similarity(a.e, b.e)', 6)} AS cos_sim
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE {fround_sql('list_cosine_similarity(a.e, b.e)', 6)} >= 0.99
    """,
    bench=True,
    tags=("similarity", "dedup", "lsh"),
)
def v_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus semantic near-dup pairs WITHOUT a blocking column:
    random-hyperplane LSH candidates + exact cosine rerank
    (operators/similarity.embedding_near_dup_lsh) — the scale form of
    v_embedding_near_dup, whose label block is a fixture stand-in for
    exactly this bucket key.

    The fixture embeddings are near-random (max pairwise cosine ~0.51),
    so the query plants the real-world event this tier exists for —
    re-encoded copies: every 50th vector is unioned back under a new id.
    Identical vectors agree in every sign bucket of every table, so LSH
    recall on the qualifying pairs is exactly 1 and the brute-force
    DuckDB oracle is a true equality check, not a recall bound. The
    noisy-perturbation (approximate) regime is covered by the planted
    recall test in tests/test_llm_ops.py."""
    emb = table(spark, sf_dir, "embeddings")
    v = plant_duplicates(emb.select("vec_id", "embedding"), "vec_id")
    return embedding_near_dup_lsh(
        v, id_col="vec_id", vec_col="embedding", threshold=0.99
    )


@register(
    "v_embedding_stats",
    oracle="""
    SELECT
        label,
        count(*) AS n_vecs,
        CAST(sum(CAST(round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                  CAST(embedding AS DOUBLE[]))), 6)
                      AS DECIMAL(27,6))) AS DOUBLE) AS norm_sum
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "stats"),
)
def v_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene stats: per-label counts and L2-norm mass
    (degenerate/zero vectors surface here before they poison ANN indexes)."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.round(norm, 6).cast("decimal(27,6)")).cast("double").alias("norm_sum"),
    )


@register(
    "v_embedding_drift",
    oracle="""
    WITH ex AS (
        SELECT label, is_batch, p.dim AS dim, CAST(p.val AS DOUBLE) AS val
        FROM (
            SELECT label, vec_id % 10 = 0 AS is_batch,
                   unnest(list_transform(generate_series(1, len(embedding)),
                          i -> {'dim': i, 'val': embedding[i]})) AS p
            FROM embeddings
        )
    ), per_dim AS (
        SELECT label, dim,
               cast(sum(cast(CASE WHEN NOT is_batch THEN val END
                             as decimal(27,9))) as double)
                   / count(CASE WHEN NOT is_batch THEN val END) AS cm,
               cast(sum(cast(CASE WHEN is_batch THEN val END
                             as decimal(27,9))) as double)
                   / count(CASE WHEN is_batch THEN val END) AS bm
        FROM ex GROUP BY 1, 2
    ), counts AS (
        SELECT label,
               CAST(sum(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corpus,
               CAST(sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_batch
        FROM embeddings GROUP BY 1
    )
    SELECT p.label, c.n_corpus, c.n_batch,
           round(cast(sum(cast((cm - bm) * (cm - bm) as decimal(27,12)))
                      as double), 9) AS centroid_shift_sq
    FROM per_dim p JOIN counts c USING (label)
    GROUP BY p.label, c.n_corpus, c.n_batch
    """,
    bench=True,
    tags=("similarity", "drift", "quality"),
)
def v_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-centroid drift monitor: per label, the squared L2
    distance between the incoming batch's mean vector (vec_id % 10 == 0 —
    the same batch split as dq_distribution_drift) and the standing
    corpus's — the vector-space analog of the PSI language gate. Catches a
    silently retrained/mismatched embedding model or a poisoned feed
    before it contaminates ANN indexes and semantic dedup.

    Determinism: per-dimension means use decimal-summed conditional
    aggregates (order-independent), the shift is a decimal sum of squared
    mean deltas — cell-exact against the DuckDB oracle. Scale shape: one
    posexplode scan -> one (label, dim) partial-agg shuffle (tiny: labels
    x dims rows) -> per-label fold; the corpus is never shuffled whole."""
    from boxoffice_spark.functions.numeric import dsum

    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 10 == 0).alias("is_batch"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
    )
    per_dim = ex.groupBy("label", "dim").agg(
        (
            dsum(F.when(~F.col("is_batch"), F.col("val")), 9)
            / F.count(F.when(~F.col("is_batch"), F.col("val")))
        ).alias("cm"),
        (
            dsum(F.when(F.col("is_batch"), F.col("val")), 9)
            / F.count(F.when(F.col("is_batch"), F.col("val")))
        ).alias("bm"),
    )
    counts = e.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 10 != 0, 1).otherwise(0))
        .cast("long")
        .alias("n_corpus"),
        F.sum(F.when(F.col("vec_id") % 10 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_batch"),
    )
    shift = (F.col("cm") - F.col("bm")) * (F.col("cm") - F.col("bm"))
    return (
        per_dim.join(F.broadcast(counts), "label")
        .groupBy("label", "n_corpus", "n_batch")
        .agg(F.round(dsum(shift, 12), 9).alias("centroid_shift_sq"))
    )


@register("v_ann_ivf_topk", oracle=None, bench=True, tags=("similarity", "ann", "ivf"))
def v_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: KMeans coarse quantizer + probe-nearest-cells + exact
    cosine rerank (operators/similarity.ann_ivf_topk) — the train-once
    index complement to the LSH variant. The synthetic fixture embeddings
    are near-random (weak cluster structure), so the probe fraction is set
    high (8/16 cells); clustered real embeddings sustain recall at much
    smaller fractions. Rows-only: approximate by construction; recall vs
    v_cosine_topk asserted in tests/test_llm_ops.py."""
    from boxoffice_spark.operators.similarity import ann_ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_ivf_topk(emb, queries, k=10, n_probe=8)


@register("v_ann_pq_topk", oracle=None, bench=True, tags=("similarity", "ann", "pq"))
def v_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.ann_pq_topk): per-
    subspace codebooks -> 1-byte codes (32x index compression) -> ADC
    lookup-table scan -> exact cosine rerank of the shortlist. The
    memory-bound third leg of the ANN triad (LSH: no training; IVF:
    scan-bound; PQ: RAM-bound index). Rows-only: approximate by
    construction; recall vs v_cosine_topk asserted in tests/test_llm_ops."""
    from boxoffice_spark.operators.similarity import ann_pq_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_pq_topk(emb, queries, k=10)


@register(
    "v_knn_label_consistency",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS qlab, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 200000
    ),
    c AS (
        SELECT vec_id AS neighbor_id, label AS nlab, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, qlab, neighbor_id, nlab,
               {fround_sql('list_cosine_similarity(qv, cv)', 6)} AS cos_sim
        FROM q JOIN c ON query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rnk
        FROM scored
    )
    SELECT query_id, qlab AS label,
           CAST(sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS INT) AS n_same,
           {ratio6_sql('sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END)', 'count(*)')} AS frac_same
    FROM ranked WHERE rnk <= 10
    GROUP BY 1, 2
    """,
    tags=("similarity", "quality", "knn"),
)
def v_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-QA audit: for a deterministic 10% probe sample, the
    fraction of each probe's 10 exact nearest neighbors (cosine) sharing
    its label — the standard mislabel / bad-embedding detector (a probe
    whose neighborhood disagrees with its label is a candidate for
    relabeling or dropping before contrastive training).

    Physical shape: the probe matrix broadcasts, the corpus streams
    through one BLAS matmul pass (cosine_topk_arrow), and only
    probes x k candidate rows reach the label joins. Scale contract,
    ENFORCED (round 8): the probe panel is rate-sampled (vec_id % 10)
    AND absolutely capped (vec_id < 200k -> at most 20k probes, a fixed
    panel drawn from the earliest ids), because a purely rate-sampled
    panel grows with the corpus and turns the probes x corpus matmul
    quadratic — exactly what the sf1->sf10 decade probe measured
    (alpha 2.18, 4.4 s -> 662 s) before the cap; with it the broadcast
    is fixed-size and the same decade measures alpha 0.23
    (662 s -> 2.9 s at sf10). The cap is non-binding at the
    driver's verification scales (sf0.01/sf0.1 outputs unchanged);
    corpora needing broader coverage feed label-consistency from the
    ANN candidate tiers (v_ann_*) instead of the exact matmul."""
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 200_000))
    nn = cosine_topk_arrow(emb, probes, k=10)
    nlab = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_nlab"))
    qlab = emb.select(F.col("vec_id").alias("query_id"), F.col("label"))
    same = F.when(F.col("_nlab") == F.col("label"), 1).otherwise(0)
    return (
        nn.join(nlab, "neighbor_id")
        .join(qlab, "query_id")
        .groupBy("query_id", "label")
        .agg(
            F.sum(same).cast("int").alias("n_same"),
            F.count("*").alias("_nn"),
        )
        # frac_same is an exact integer ratio (k-NN votes / k): ratio6's
        # BIGINT HALF_UP replaces the build-sensitive round(avg, 6)
        # (r09 legacy-oracle conversion, parity rule 4)
        .select(
            "query_id",
            "label",
            "n_same",
            ratio6("n_same", "_nn").alias("frac_same"),
        )
    )


@register(
    "v_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS qlab, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    c AS (
        SELECT vec_id AS negative_id, label AS nlab, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, negative_id,
               {fround_sql('list_cosine_similarity(qv, cv)', 6)} AS cos_sim
        FROM q JOIN c ON qlab <> nlab
    ),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, negative_id
        ) AS INT) AS rank
        FROM scored
    )
    SELECT query_id, negative_id, cos_sim, rank FROM ranked WHERE rank <= 3
    """,
    bench=True,
    tags=("similarity", "mining"),
)
def v_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per probe, the top-3
    highest-cosine corpus vectors with a DIFFERENT label
    (operators/similarity.hard_negative_topk). Not a post-filter on plain
    top-k — the label mask applies before ranking, inside the Arrow
    matmul kernel, so the nearest cross-label vector is found even when
    thousands of same-label neighbors outrank it."""
    from boxoffice_spark.operators.similarity import hard_negative_topk

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 20 == 0)
    return hard_negative_topk(emb, probes, k=3)


@register(
    "v_semantic_keepers",
    oracle="""
    WITH RECURSIVE v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS node, a AS comp FROM edges
        UNION
        SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON e.b = r.node
    ), clusters AS (
        SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node
    )
    SELECT CAST(cluster_id AS BIGINT) AS keeper_id,
           CAST(count(*) + 1 AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_dropped
    FROM clusters WHERE node <> cluster_id GROUP BY 1
    """,
    tags=("similarity", "dedup", "graph"),
)
def v_semantic_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end: semantic near-dup pairs inside label blocks
    -> connected components -> ONE KEEPER per cluster (the canonical min
    id) with cluster size and drop count. The full 'which embeddings do we
    delete' decision, composed from the pair generator and the iterative
    graph operator — at corpus scale the label block becomes the LSH
    bucket (v_embedding_near_dup_lsh) and everything downstream is
    unchanged.

    Threshold note: a production SemDeDup run uses cos >= ~0.95-0.99; this
    fixture generation carries no planted near-dups (max pairwise cosine
    0.51), so the registered query runs at the fixture's similarity scale
    (0.4) — clusters actually FORM and the transitive-closure + keeper
    arithmetic is verified non-vacuously against the recursive-CTE oracle
    at every SF. The 0.99-threshold behavior is exercised with planted
    perturbed copies in tests/test_llm_ops.py.

    Pair generation uses the Arrow per-block gram matmul
    (near_dup_pairs_arrow) for the same reason as v_embedding_near_dup:
    the declarative self-join pays ~1 ms/pair of interpreted higher-order
    cosine, which the registry-wide sf1 probe flagged as the stall shape.
    Cell-exactness vs the fold-order oracle is re-verified at
    sf0.001/0.01/0.1 (fixture cosines sit far from the 6-dp rounding
    boundary at the 0.4 gate).

    At a loose similarity gate the pair graph is sparse enough to form
    DEEP chains; the large-star/small-star components kernel converges in
    O(log² n) rounds regardless of diameter."""
    from boxoffice_spark.operators.graph import connected_components

    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("e"))
    pairs = near_dup_pairs_arrow(
        v, block_col="label", id_col="vec_id", vec_col="e", threshold=0.4
    )
    clusters = connected_components(pairs, "id_a", "id_b")
    return (
        clusters.filter(F.col("node") != F.col("cluster_id"))
        .groupBy(F.col("cluster_id").alias("keeper_id"))
        .agg(
            (F.count("*") + 1).alias("cluster_size"),
            F.count("*").alias("n_dropped"),
        )
    )


@register("v_cluster_balance", oracle=None, bench=True, tags=("similarity", "clustering", "datacard"))
def v_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus topic-balance audit: seeded-KMeans cluster sizes, shares and
    tightness over the embedding table (operators/similarity.
    cluster_balance) — the cluster-and-balance curation step. Rows-only;
    seed-determinism + invariants in tests/test_llm_ops.py."""
    from boxoffice_spark.operators.similarity import cluster_balance

    return cluster_balance(table(spark, sf_dir, "embeddings"))


@register("v_mmr_diversify", oracle=None, bench=True, tags=("similarity", "mmr", "pandas-udf"))
def v_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: MMR re-rank (lambda=0.7) of the exact
    top-30 cosine candidates down to 10 per probe query
    (operators/similarity.mmr_rerank) — the greedy redundancy-penalized
    selection RAG context assembly runs after ANN. Sequential greedy
    argmax is not SQL-expressible -> rows-only; the selection's exactness
    properties (first pick = rank-1, lam=1 degenerates to top-k,
    duplicate demotion, repartition invariance) are pinned in
    tests/test_retrieval_er.py."""
    from boxoffice_spark.operators.similarity import mmr_rerank

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return mmr_rerank(emb, probes, n_candidates=30, k=10, lam=0.7)


@register("v_ann_ivfpq_topk", oracle=None, bench=True, tags=("similarity", "ann", "ivf", "pq"))
def v_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC ANN (operators/similarity.ann_ivfpq_topk): coarse-quantizer
    cells bound the scan, product-quantized RESIDUALS bound the memory —
    the FAISS ``IVFx,PQy`` billion-scale layout, composing the IVF and PQ
    tiers into the index shape a 100 TB embedding corpus actually ships
    (cell-partitioned m-byte codes, ADC probe, exact rerank of the
    shortlist only). Rows-only: approximate by construction; recall vs
    v_cosine_topk asserted in tests/test_llm_ops.py and reported in
    v_ann_recall_report."""
    from boxoffice_spark.operators.similarity import ann_ivfpq_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_ivfpq_topk(emb, queries, k=10, n_probe=8)


@register("v_ann_recall_report", oracle=None, tags=("similarity", "ann", "datacard"))
def v_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QA scorecard: recall@10 of each approximate tier (LSH, IVF,
    PQ, IVFADC)
    against the exact cosine top-10 over the same probe set — the
    dashboard row an ANN deployment watches when re-tuning
    bucket/cell/codebook parameters, surfaced as a registered query so
    every driver round records the measured recall, not just the pass
    bit of the threshold tests. Every tier is seeded, so the report is
    deterministic; rows-only (SQL cannot express the ANN tiers — the
    exact side has its own oracle via v_cosine_topk). Cost: the probe set
    is 5 queries; each tier's scan shape is audited in its own query."""
    from boxoffice_spark.operators.similarity import (
        ann_lsh_topk,
        ann_pq_topk,
        ann_ivf_topk,
        ann_ivfpq_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # checkpoint: the exact side is the full-corpus BLAS scan and feeds
    # one hits-join per tier — without the cut it would re-run per tier
    exact = (
        cosine_topk_arrow(emb, queries, k=10)
        .select(F.col("query_id").alias("_qid"), F.col("neighbor_id").alias("_truth"))
        .localCheckpoint()
    )
    total = exact.count()
    tiers = {
        "lsh": ann_lsh_topk(emb, queries, k=10),
        "ivf": ann_ivf_topk(emb, queries, k=10, n_probe=8),
        "pq": ann_pq_topk(emb, queries, k=10),
        "ivfpq": ann_ivfpq_topk(emb, queries, k=10, n_probe=8),
    }
    report = None
    for name, approx in tiers.items():
        hits = (
            approx.select("query_id", "neighbor_id")
            .join(
                exact,
                (F.col("query_id") == F.col("_qid"))
                & (F.col("neighbor_id") == F.col("_truth")),
            )
            .count()
        )
        row = spark.createDataFrame(
            [(name, int(hits), int(total), round(hits / total, 6))],
            "tier string, n_hits long, n_truth long, recall_at_10 double",
        )
        report = row if report is None else report.unionByName(row)
    return report


@register(
    "v_pca_whitening",
    oracle=None,
    tags=("vector", "preprocess", "pandas-op"),
)
def v_pca_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitening report over the embedding corpus: fit mean +
    projection on the bounded salted-hash sample (operators/similarity.
    fit_pca_whitener — the _fit_unit_kmeans distillation shape: driver
    fits on a bounded sample, the corpus is transformed scan-side), then
    project EVERY embedding through one Arrow BLAS pass and report, per
    whitened component: the fit eigenvalue, explained-variance ratio,
    and the CORPUS-side post-whitening mean and variance computed
    distributedly with decimal sums — the audit that the whitener
    actually equalized the space it was fit for (variance ≈ 1 per kept
    component). Whitening is what makes PQ subspace codebooks and LSH
    hyperplanes behave; this is the preprocessing step + its acceptance
    test in one frame.

    Rows-only (eigendecomposition is driver-side numpy); orthogonality,
    unit-variance-on-sample, determinism, and corpus-variance bounds are
    pinned in tests/test_round5_ops.py. Scale: fit collects train_size
    rows; the projection is scan-bound mapInPandas; the moment audit is
    one posexplode + decimal partial aggregate — the corpus is never
    collected or re-shuffled whole."""
    from boxoffice_spark.functions.numeric import dsum
    from boxoffice_spark.operators.similarity import fit_pca_whitener, pca_whiten

    emb = table(spark, sf_dir, "embeddings")
    mean, w, evals = fit_pca_whitener(emb, "vec_id", "embedding", n_components=16)
    total_var = float(evals.sum()) if evals.sum() > 0 else 1.0
    white = pca_whiten(emb, "vec_id", "embedding", mean, w)
    comps = white.select(
        F.posexplode("whitened").alias("component", "value")
    )
    audit = comps.groupBy("component").agg(
        F.count("*").alias("n"),
        dsum(F.col("value"), 10).alias("_s1"),
        dsum(F.col("value") * F.col("value"), 10).alias("_s2"),
    )
    fit_rows = [
        (i, round(float(evals[i]), 6), round(float(evals[i]) / total_var, 6))
        for i in range(len(evals))
    ]
    fit_df = spark.createDataFrame(
        fit_rows, "component int, eigenvalue double, explained_var_ratio double"
    )
    return (
        audit.join(fit_df, "component")
        .select(
            "component",
            "eigenvalue",
            "explained_var_ratio",
            F.round(F.col("_s1") / F.col("n"), 6).alias("corpus_mean"),
            F.round(
                (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("n"))
                / (F.col("n") - 1),
                6,
            ).alias("corpus_var"),
        )
        .orderBy("component")
    )


@register(
    "v_centroid_similarity_matrix",
    oracle="""
    WITH ex AS (
        SELECT label, p.dim AS dim, CAST(p.val AS DOUBLE) AS val
        FROM (
            SELECT label,
                   unnest(list_transform(generate_series(1, len(embedding)),
                          i -> {'dim': i, 'val': embedding[i]})) AS p
            FROM embeddings
        )
    ),
    cent AS (
        SELECT label, dim,
            round(cast(sum(cast(val as decimal(27,9))) as double)
                  / count(*), 8) AS cm
        FROM ex GROUP BY 1, 2
    ),
    norms AS (
        SELECT label,
            cast(sum(cast(cm * cm as decimal(27,12))) as double) AS nsq
        FROM cent GROUP BY 1
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
            cast(sum(cast(a.cm * b.cm as decimal(27,12))) as double) AS dot
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT d.label_a, d.label_b,
        round(d.dot / sqrt(na.nsq * nb.nsq), 6) AS centroid_cosine
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    ORDER BY 1, 2
    """,
    tags=("similarity", "centroid", "geometry"),
)
def v_centroid_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding CENTROIDS — the
    class-geometry readout that says which label populations overlap in
    embedding space (centroid cosine near 1 = classes an ANN index or a
    classifier will confuse; v_embedding_drift watches one label move
    over time, this compares labels to each other). Centroids come from
    one posexplode + (label, dim) decimal-mean pass (order-independent,
    rounded at 8dp so both engines carry identical coordinates); the
    pair matrix is a self-join on dim over the bounded |labels| x dims
    centroid table — the corpus-sized work is exactly one explode scan,
    and the pairwise stage touches only |labels|^2 x dims tiny rows,
    never vector pairs. Dot products and norms decimal-sum 12dp products
    of identical doubles; cosine rounds at 6dp. Cell-exact."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    cent = ex.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(27,9)")).cast("double")
            / F.count("*"),
            8,
        ).alias("cm")
    )
    norms = cent.groupBy("label").agg(
        F.sum((F.col("cm") * F.col("cm")).cast("decimal(27,12)"))
        .cast("double")
        .alias("nsq")
    )
    a = cent.alias("a")
    b = cent.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.sum((F.col("a.cm") * F.col("b.cm")).cast("decimal(27,12)"))
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nsq").alias("nsq_a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nsq").alias("nsq_b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / F.sqrt(F.col("nsq_a") * F.col("nsq_b")), 6
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "v_int8_quantization_report",
    oracle="""
    WITH ex AS (
        SELECT label, i AS dim, CAST(v AS DOUBLE) AS val
        FROM (
            SELECT label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        )
    ),
    rng AS (
        SELECT dim, min(val) AS lo, max(val) AS hi
        FROM ex GROUP BY 1
    ),
    q AS (
        SELECT ex.label, ex.val,
            CASE WHEN rng.hi > rng.lo THEN
                rng.lo + least(255, greatest(0,
                    floor((ex.val - rng.lo) * 255.0 / (rng.hi - rng.lo))))
                * (rng.hi - rng.lo) / 255.0
            ELSE ex.val END AS deq
        FROM ex JOIN rng ON rng.dim = ex.dim
    )
    SELECT label, count(*) AS n_values,
        CAST(sum(CAST(floor((val - deq) * (val - deq)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            / 1000000000000.0 / count(*) AS mse,
        max(abs(val - deq)) AS max_abs_err
    FROM q
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("similarity", "quantization", "compression"),
)
def v_int8_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization error report — the storage decision
    every embedding table faces before the ANN index is built (uint8
    cells cut the table 4x vs float32; PQ goes further but this is the
    reversible first step): per-dimension min/max ranges quantize each
    value to a 0..255 code (floor, clipped — floor of identical doubles
    is identical on both engines, no round() anywhere in the codec),
    dequantize back, and report per-label MSE and worst-case absolute
    error — the numbers that say whether recall will survive the 4x
    (rule of thumb: max_abs_err under half the typical inter-vector
    gap). Degenerate dims (hi == lo) pass through exactly. One explode
    scan to (dim) ranges, a broadcast-joined codec projection, one
    label-grain aggregate.

    Parity (rule 4, r08 revision — the DECIMAL(27,12)/(27,8) casts of
    double error terms were driver-red in r08; double->decimal-grid
    rounding is build surface): each squared error is converted to
    exact 1e-12 integer units by PURE DOUBLE ARITHMETIC —
    floor(err^2 * 1e12 + 0.5) — two correctly-rounded IEEE ops plus an
    exact floor, so both engines take the identical branch at every
    value with no engine rounding rule involved; the BIGINT units sum
    order-free, and mse/max_abs_err are emitted as raw doubles.
    Exact while per-label n_values * 6.4e7 fits BIGINT (~1e11 values
    per label). The r09 canary c9_int8_decimal_cells (removed in r10)
    pinned the old decimal-cast form alongside and came back red while
    this converted form greened — the construct is confirmed and the
    floor-quantize recipe is the proven remedy. Cell-exact."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "val"
        ),
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    rng = ex.groupBy("dim").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    span = F.col("hi") - F.col("lo")
    code = F.least(
        F.lit(255),
        F.greatest(
            F.lit(0), F.floor((F.col("val") - F.col("lo")) * 255.0 / span)
        ),
    )
    deq = F.when(
        F.col("hi") > F.col("lo"), F.col("lo") + code * span / 255.0
    ).otherwise(F.col("val"))
    q = ex.join(F.broadcast(rng), "dim").select(
        "label", "val", deq.alias("deq")
    )
    err = F.col("val") - F.col("deq")
    # exact 1e-12 units via pure double arithmetic + floor (see docstring)
    u12 = F.floor(err * err * F.lit(1000000000000.0) + F.lit(0.5)).cast("long")
    return (
        q.groupBy("label")
        .agg(
            F.count("*").alias("n_values"),
            (
                F.sum(u12).cast("double") / 1000000000000.0 / F.count("*")
            ).alias("mse"),
            F.max(F.abs(err)).alias("max_abs_err"),
        )
        .orderBy("label")
    )


@register(
    "v_matryoshka_recall",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 20
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    dims AS (SELECT unnest([64, 32, 16, 8]) AS d),
    scored AS (
        SELECT dims.d, q.query_id, c.neighbor_id,
            round(list_cosine_similarity(
                list_slice(q.qv, 1, dims.d),
                list_slice(c.cv, 1, dims.d)), 6) AS cos_sim
        FROM q CROSS JOIN dims
        JOIN c ON q.query_id <> c.neighbor_id
    ),
    ranked AS (
        SELECT d, query_id, neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY d, query_id
                ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rnk <= 10),
    truth AS (SELECT query_id, neighbor_id FROM topk WHERE d = 64),
    hits AS (
        SELECT t.d, t.query_id, count(tr.neighbor_id) AS n_hits
        FROM topk t
        LEFT JOIN truth tr ON tr.query_id = t.query_id
            AND tr.neighbor_id = t.neighbor_id
        GROUP BY 1, 2
    )
    SELECT d AS dim, count(*) AS n_queries,
        cast(sum(cast(n_hits / 10.0 as decimal(20,1))) as double)
            / count(*) AS mean_recall_at_10
    FROM hits
    GROUP BY 1
    ORDER BY 1 DESC
    """,
    tags=("similarity", "matryoshka", "truncation"),
)
def v_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation recall: top-10 cosine retrieval with
    embeddings truncated to their FIRST 32/16/8 dimensions, scored as
    recall@10 against the full-64-dim truth — the evaluation that
    decides whether prefix-truncated vectors (the MRL serving trick:
    one stored embedding, many precision/cost points) can replace the
    full vector for candidate generation. Complements
    v_int8_quantization_report (which cuts precision per cell; this
    cuts cells) and v_ann_recall_report (which fixes the vector and
    approximates the SEARCH). Brute-force over a bounded 20-query audit
    set x 4 dims (the v_cosine_topk truth-tier posture — production
    scores recall on exactly this kind of bounded probe set, never the
    full corpus); cosines rounded 6dp with neighbor-id tie-break,
    per-query recalls are exact tenths decimal-summed, and the macro
    average is a raw final quotient. Cell-exact.

    Physical strategy: the prefix-cumsum Arrow kernel
    (operators/similarity.prefix_dim_topk_arrow) — one scan pass scoring
    all 4 prefix dims per Arrow batch instead of 4 separate interpreted
    sliced-cosine folds per pair (the sf1 probe billed that form 29 s;
    cumsum keeps the fold's left-to-right accumulation order, so values
    stay cell-exact vs the same DuckDB oracle)."""
    from boxoffice_spark.operators.similarity import prefix_dim_topk_arrow

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id"), F.col("embedding")
    )
    scored = prefix_dim_topk_arrow(emb, q, dims=[64, 32, 16, 8], k=10)
    from pyspark.sql import Window

    w = Window.partitionBy("d", "query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    # ``topk`` (800 rows) feeds BOTH the truth filter and the truncated
    # side of the recall join; without the persist the full
    # |queries| x |dims| x |corpus| cosine scan upstream evaluates twice
    # (the doubled-subtree tax — sf1 probe measured 29 s / alpha 0.89
    # for what is one bounded brute-force pass)
    from boxoffice_spark.functions.caching import scoped_persist

    topk = scoped_persist(
        scored.select(
            "d", "query_id", "neighbor_id", F.row_number().over(w).alias("rnk")
        ).filter(F.col("rnk") <= 10),
        "v_matryoshka_recall.topk",
    )
    truth = (
        topk.filter(F.col("d") == 64)
        .select(
            F.col("query_id").alias("t_query"),
            F.col("neighbor_id").alias("t_neighbor"),
        )
        .alias("tr")
    )
    tk = topk.alias("tk")
    hits = (
        tk.join(
            F.broadcast(truth),
            (F.col("tk.query_id") == F.col("tr.t_query"))
            & (F.col("tk.neighbor_id") == F.col("tr.t_neighbor")),
            "left",
        )
        .groupBy(F.col("tk.d").alias("d"), F.col("tk.query_id").alias("query_id"))
        .agg(F.count("t_neighbor").alias("n_hits"))
    )
    return (
        hits.groupBy(F.col("d").alias("dim"))
        .agg(
            F.count("*").alias("n_queries"),
            (
                F.sum(
                    (F.col("n_hits") / 10.0).cast("decimal(20,1)")
                ).cast("double")
                / F.count("*")
            ).alias("mean_recall_at_10"),
        )
        .orderBy(F.col("dim").desc())
    )
