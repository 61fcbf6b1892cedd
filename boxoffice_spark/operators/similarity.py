"""Vector similarity search over embedding columns (BASELINE.json
north-star).

- ``cosine_topk``: exact brute-force top-k — cross join against a small
  broadcast query set, JVM-side dot products via zip_with/aggregate, window
  top-k. O(queries x corpus): correct baseline, and actually optimal when
  the query set is small enough to broadcast (the common retrieval-eval
  shape). The scan side streams; no shuffle until the (tiny) top-k window.
- ``ann_lsh_topk``: BucketedRandomProjectionLSH (random-hyperplane buckets)
  — the sub-linear path when queries x corpus stops fitting. Approximate ->
  rows-only check.

Embeddings are float32 at rest; both operators promote to double BEFORE any
arithmetic so results are reproducible and comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from boxoffice_spark.functions.numeric import fround


def _round_half_up(a, k: int):
    """HALF_UP (away-from-zero) rounding for the Arrow kernels — the
    numpy instance of the SAME sign(x)*floor(abs(x)*10^k + 0.5)/10^k
    formula functions/numeric.fround pins on Spark and DuckDB (r09: the
    engine sides moved off library round(), whose implementation is
    build surface, onto this three-IEEE-op form — all three runtimes now
    share one rounding definition). numpy's own np.round is half-even:
    on an exactly-representable dyadic midpoint (e.g. a cosine of exactly
    1/128 = 0.0078125) it gives 0.007812 where this gives 0.007813, and
    rounding drives candidate selection in these kernels — a midpoint
    flip could change top-k membership vs the oracle (ADVICE r07)."""
    import numpy as np

    s = 10.0**k
    return np.sign(a) * np.floor(np.abs(a) * s + 0.5) / s


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side.

    zip_with multiplies pairwise; aggregate folds left-to-right — the same
    deterministic association order DuckDB's list_cosine_similarity uses,
    so values match to the last ulp on identical inputs.
    """
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self excluded).

    Returns (query_id, neighbor_id, cos_sim, rank). cos_sim is rounded for
    cross-engine float stability; rank ties break on neighbor_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", fround(cosine(F.col("_qv"), F.col("_cv")), round_to))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _lossless_topk_sel(col, ids, kk):
    """Row indices for a batch-local top-k candidate cut that is provably
    LOSSLESS for the global (value desc, id asc) ranking: every row whose
    rounded value is strictly above the kk-th largest, plus the kk
    smallest-id rows AT that boundary value.

    Why lossless: an excluded row is either below the boundary (then the
    >= kk emitted rows all beat it on value) or a boundary tie with a
    larger id (then the kk kept ties beat it on the id tie-break) — either
    way at least kk = k+1 emitted rows rank above it globally, so it can
    never reach the global top-k. Why bounded: a fixed-margin argpartition
    (the previous +1/+2 margins) silently DROPS ties beyond the margin —
    latent wrong-neighbor-at-the-tail-rank; a naive value >= kth cut is
    correct but unbounded on degenerate tie groups (low-entropy or
    quantized embeddings at 6-dp rounding). This cut is both: output is
    at most kk + (kk - 1) rows per (query, dim).

    Selection must run on the ROUNDED values the global window ranks by —
    selecting on raw values lets a raw-order winner lose the rounded-order
    comparison at the boundary.
    """
    import numpy as np

    kk = min(kk, len(col))
    kth = -np.partition(-col, kk - 1)[kk - 1]
    gt = np.nonzero(col > kth)[0]
    tie = np.nonzero(col == kth)[0]
    if len(tie) > kk:
        tie = tie[np.argsort(ids[tie], kind="stable")[:kk]]
    return np.concatenate([gt, tie])


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Arrow/NumPy twin of :func:`cosine_topk` (the ``dedup.simhash``
    mapInPandas pattern): same exact semantics, different physical strategy.

    ``cosine_topk`` scores via ``zip_with``/``aggregate`` higher-order
    folds, which Spark keeps interpreted (lambda-bearing expressions are
    excluded from whole-stage codegen and subexpression elimination — see
    operators/dedup.py minhash notes). Here the query matrix is broadcast
    once (``sc.broadcast``), and each scan partition scores a whole Arrow
    batch with one BLAS matmul, emitting only its batch-local top-(k+1)
    candidates per query (tie-inclusive, self-pair slot included — the
    ``_lossless_topk_sel`` cut) — the global window then reduces
    candidates, not the full |corpus| x |queries| cross product. Shuffle
    bytes drop from O(corpus x queries) scored rows to
    O(partitions x queries x k). Exactness vs the fold form is asserted
    by sharing its DuckDB oracle (queries/similarity.py).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    qrows = queries.select(F.col(id_col), F.col(vec_col).cast("array<double>")).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qmat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qn = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cmat = cmat / np.maximum(
                np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30
            )
            # round BEFORE the cut: the global window ranks rounded values
            sims = _round_half_up(cmat @ qn.T, round_to)  # (batch, n_queries)
            kk = min(k + 1, sims.shape[0])
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids_)):
                sel = _lossless_topk_sel(sims[:, qi], ids, kk)
                out_q.append(np.full(len(sel), qids_[qi], dtype=np.int64))
                out_n.append(ids[sel])
                out_s.append(sims[sel, qi])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        batches, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def prefix_dim_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    dims: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Top-k cosine per query at every PREFIX dimension in ``dims`` —
    the Matryoshka-truncation retrieval kernel, one Arrow pass.

    The declarative form slices the vectors per dim and folds a separate
    interpreted cosine per (query, neighbor, dim) — 4x redundant work
    (the d=8 dot is a prefix of the d=16 dot) at ~15 µs/pair of
    expression interpretation. Here each scan batch computes elementwise
    products once per query and reads every prefix dot off one
    ``np.cumsum`` — cumulative sums accumulate strictly left-to-right,
    the SAME association order as the zip_with/aggregate fold and
    DuckDB's list_cosine_similarity, so values stay comparable across
    engines at the rounding precision. Each batch emits the bounded
    tie-inclusive top-(k+1) cut per (query, dim) — ``_lossless_topk_sel``,
    provably lossless for the global (cos desc, id asc) ranking, the +1
    covering the self-pair's slot.

    Returns (d, query_id, neighbor_id, cos_sim) with self-pairs removed;
    ranking is the caller's window (round first, id tie-break).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    qrows = queries.select(F.col(id_col), F.col(vec_col).cast("array<double>")).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn2 = np.cumsum(qmat * qmat, axis=1)  # (nq, dim) prefix square-norms
    d_idx = np.array(sorted(dims)) - 1
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat, qn2, d_idx))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qm, qn2_, di = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            # zero-norm guard — a DOCUMENTED divergence from the fold/oracle
            # form, not parity: both the zip_with fold and DuckDB produce
            # NaN for a zero prefix and both rank NaN FIRST under DESC; this
            # kernel scores a zero prefix 0 (excluded from top-k) because a
            # zero vector outranking every real neighbor is an IEEE
            # ordering artifact, not retrieval semantics. Healthy embedding
            # pipelines never emit zero vectors; no fixture SF contains one.
            cn2 = np.maximum(np.cumsum(cmat * cmat, axis=1)[:, di], 1e-60)
            out_d, out_q, out_n, out_s = [], [], [], []
            for qi in range(len(qids_)):
                dots = np.cumsum(cmat * qm[qi], axis=1)[:, di]  # (batch, ndims)
                sims = _round_half_up(
                    dots / np.sqrt(cn2 * np.maximum(qn2_[qi, di], 1e-60)), round_to
                )
                kk = min(k + 1, sims.shape[0])  # +1: the self-pair's slot
                for j, d in enumerate(di):
                    sel = _lossless_topk_sel(sims[:, j], ids, kk)
                    out_d.append(np.full(len(sel), d + 1, dtype=np.int32))
                    out_q.append(np.full(len(sel), qids_[qi], dtype=np.int64))
                    out_n.append(ids[sel])
                    out_s.append(sims[sel, j])
            yield pd.DataFrame(
                {
                    "d": np.concatenate(out_d),
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        batches, schema="d int, query_id long, neighbor_id long, cos_sim double"
    )
    return cand.filter(F.col("query_id") != F.col("neighbor_id"))


def near_dup_pairs_arrow(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "e",
    threshold: float = 0.99,
    round_to: int = 6,
) -> DataFrame:
    """All within-block pairs with round(cosine, round_to) >= threshold —
    the exact semantic-dedup tier, Arrow physical strategy.

    The declarative form (self-join on the block key + the zip_with/
    aggregate cosine) is quadratic in block size with an INTERPRETED
    per-pair kernel: lambda-bearing higher-order functions are excluded
    from whole-stage codegen, so every pair pays ~1 ms of expression
    interpretation — minutes at 2k vectors, hours at 20k. Here each block
    is one ``applyInPandas`` group: normalize the block matrix once, one
    BLAS gram matmul (``M @ M.T``), mask the upper triangle (id_a < id_b),
    emit only pairs over the threshold. Same O(block²) pair term, but
    ~10⁴x less per-pair cost and zero shuffle beyond the block hash.

    Block size is the scale contract, exactly as in the blocked-join
    dedup tiers (operators/fuzzy.py caps, dedup.py postings caps): the
    block key must bound the gram matrix (block_rows² doubles) in executor
    memory — at corpus scale the caller swaps the natural key for a
    coarse ANN bucket (ann_lsh_topk's hyperplane hash) and keeps this
    exact rerank unchanged. BLAS accumulation order can differ from the
    fold/DuckDB order in the last ulps; callers must pick (threshold,
    round_to) so surviving pairs sit far from the rounding boundary (the
    near-dup bar 0.99 does: real non-dup pairs in any healthy embedding
    space are well below it, true dups are ~1.0).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        # zero-norm guard (sibling-kernel convention): a zero vector
        # scores 0 against everything, never NaN
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = _round_half_up(mat @ mat.T, round_to)
        ia, ib = np.nonzero(np.triu(sims >= threshold, k=1))
        if len(ia) == 0:
            return empty
        # id order within the pair is by id value, not matrix position
        a, b = ids[ia], ids[ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": sims[ia, ib]})

    # Pin the declarative twin's NULL semantics independently of fixture
    # content (ADVICE r07): an equality self-join drops NULL block keys
    # (groupBy would form a real NULL group) and null-propagates a NULL
    # vector into a filtered-out cosine (np.stack would crash the task).
    return (
        df.select(F.col(id_col), F.col(vec_col), F.col(block_col).alias("_blk"))
        .filter(F.col("_blk").isNotNull() & F.col(vec_col).isNotNull())
        .groupBy("_blk")
        .applyInPandas(pairs, schema="id_a long, id_b long, cos_sim double")
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
) -> DataFrame:
    """Approximate top-k neighbors via random-projection LSH buckets.

    Euclidean-bucket LSH; for unit-normalized embeddings Euclidean ranking
    equals cosine ranking (||a-b||² = 2 - 2·cos on the unit sphere), so we
    normalize before hashing. Sub-linear probing at corpus scale; rows-only
    correctness (the exact operator above is its small-scale oracle).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame, out_id: str) -> DataFrame:
        vec = array_to_vector(F.col(vec_col).cast("array<double>"))
        raw = df.select(F.col(id_col).alias(out_id), vec.alias("_raw"))
        return Normalizer(inputCol="_raw", outputCol="features", p=2.0).transform(raw).drop("_raw")

    c = prep(corpus, "neighbor_id")
    q = prep(queries, "query_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(c)
    # approxSimilarityJoin over a distance ceiling, then exact top-k among
    # candidates (standard LSH probe-then-rerank)
    pairs = model.approxSimilarityJoin(q, c, 2.0, distCol="dist").filter(
        F.col("datasetA.query_id") != F.col("datasetB.neighbor_id")
    )
    w = W.partitionBy("datasetA.query_id").orderBy(F.asc("dist"), F.asc("datasetB.neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("datasetA.query_id").alias("query_id"),
            F.col("datasetB.neighbor_id").alias("neighbor_id"),
            F.col("dist").alias("l2_dist"),
            "rank",
        )
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 16,
    n_tables: int = 16,
    max_postings: int = 2000,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Semantic near-duplicate PAIRS over the whole corpus via
    random-hyperplane sign buckets — the scale form of
    queries/similarity.v_embedding_near_dup (whose label block is a
    fixture stand-in for exactly this bucket key). SemDeDup-shaped:
    bucket by coarse semantic hash, exact cosine rerank inside buckets.

    Candidate generation is banded-OR like minhash_lsh_pairs: ``n_tables``
    independent sign patterns of ``n_planes`` bits; docs sharing ANY
    pattern become candidates. Collision probability per plane is
    1 - theta/pi, so at the near-dup thresholds this operator exists for
    (cos >= 0.99 -> theta ~ 8 deg -> 0.955/plane -> ~48%/table at 16
    planes -> >99.99% over 16 tables) recall is effectively 1 — and
    EXACTLY 1 for identical vectors, whose sign patterns agree in every
    table; the registered query exploits that determinism to carry a full
    DuckDB oracle. n_planes is the candidate-volume throttle: measured on
    10k near-random fixture vectors, 8 planes (256 buckets) admitted ~3M
    random-collision candidate rows into the rerank, 16 planes (65k
    buckets) ~12k — a 4.6x wall-clock cut at identical output.

    Scale shape: one Arrow matmul pass emits (id, table, bucket) postings
    (no shuffle — hyperplanes are re-derived from the seed inside each
    task, so there is no driver-side dim probe job and no broadcast), a
    count-window cap drops degenerate buckets riding the self-join's own
    (table, bucket) shuffle, pairs dedupe across tables, and only the
    surviving candidate pairs pay the exact-cosine join — O(candidates),
    never O(n^2).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    weights = (2 ** np.arange(n_planes)).astype(np.int64)

    def postings(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if pl is None:
                # same seed + same dim in every task -> identical planes
                # cluster-wide, no broadcast and no separate dim-probe job
                rng = np.random.default_rng(seed)
                pl = rng.standard_normal((mat.shape[1], n_tables * n_planes))
            signs = (mat @ pl >= 0).reshape(len(pdf), n_tables, n_planes)
            buckets = signs @ weights  # (batch, n_tables)
            tables = np.tile(np.arange(n_tables, dtype=np.int32), len(pdf))
            yield pd.DataFrame(
                {
                    "_id": np.repeat(ids, n_tables),
                    "_table": tables,
                    "_bucket": buckets.ravel(),
                }
            )

    post = df.select(id_col, vec_col).mapInPandas(
        postings, schema="_id long, _table int, _bucket long"
    )
    # capped_pair_rows (operators/dedup.py): one (table, bucket) shuffle
    # carrying both the max_postings cap and the pair generation, and the
    # Arrow matmul postings pass runs ONCE (the self-join form re-ran the
    # whole Python stage per join side).
    from boxoffice_spark.operators.dedup import capped_pair_rows

    cand = capped_pair_rows(post, ["_table", "_bucket"], "_id", (), max_postings).dropDuplicates(
        ["id_a", "id_b"]
    )
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    scored = (
        cand.join(vecs.withColumnRenamed(id_col, "id_a").withColumnRenamed("_v", "_va"), "id_a")
        .join(vecs.withColumnRenamed(id_col, "id_b").withColumnRenamed("_v", "_vb"), "id_b")
        .withColumn("cos_sim", fround(cosine(F.col("_va"), F.col("_vb")), round_to))
    )
    return scored.filter(F.col("cos_sim") >= threshold).select("id_a", "id_b", "cos_sim")


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k *cross-label* neighbors per query — contrastive-training
    hard-negative mining (the highest-cosine corpus vectors that do NOT
    share the query's label).

    Not expressible as a post-filter on plain top-k: a query surrounded by
    same-label neighbors can have its nearest cross-label vector far
    outside any global top-N, so the label mask must be applied BEFORE the
    per-query ranking. Same physical strategy as cosine_topk_arrow: the
    (id, vector, label) query matrix is broadcast once, each scan batch
    scores one BLAS matmul, masks same-label columns to -inf, and emits
    only batch-local top-(k+1) candidates — shuffle bytes are
    O(partitions x queries x k), never |corpus| x |queries|.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    qrows = queries.select(
        F.col(id_col), F.col(vec_col).cast("array<double>"), F.col(label_col)
    ).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qmat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
    qlab = np.array([r[2] for r in qrows], dtype=np.int64)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat, qlab))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qn, qlab_ = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            labs = pdf[label_col].to_numpy(dtype=np.int64)
            cmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cmat = cmat / np.maximum(
                np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30
            )
            # round BEFORE the cut (the global window ranks rounded values),
            # then mask same-label rows to -inf; the bounded tie-inclusive
            # cut replaces the old fixed +1 margin (which silently dropped
            # rounded ties beyond it)
            sims = _round_half_up(cmat @ qn.T, round_to)  # (batch, n_queries)
            sims = np.where(labs[:, None] == qlab_[None, :], -np.inf, sims)
            kk = min(k + 1, sims.shape[0])
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids_)):
                sel = _lossless_topk_sel(sims[:, qi], ids, kk)
                sel = sel[np.isfinite(sims[sel, qi])]  # all-same-label rows
                out_q.append(np.full(len(sel), qids_[qi], dtype=np.int64))
                out_n.append(ids[sel])
                out_s.append(sims[sel, qi])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "negative_id": np.concatenate(out_n),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col, label_col).mapInPandas(
        batches, schema="query_id long, negative_id long, cos_sim double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("negative_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "negative_id", "cos_sim", "rank")
    )


def ann_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    n_candidates: int = 150,
    train_size: int = 512,
    kmeans_iters: int = 10,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k neighbors via Product Quantization (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", IEEE TPAMI 2011) —
    the memory-bound complement to IVF/LSH.

    The vector is split into ``m`` subspaces; each subspace gets its own
    ``ksub``-centroid codebook (seeded Lloyd's on a bounded driver-side
    training sample); a corpus vector is stored as ``m`` one-byte codes —
    32x compression for 64-dim float32, which is what lets a 100 TB
    embedding corpus's index fit in cluster RAM. Queries score candidates
    with ADC (asymmetric distance computation): per query one (m x ksub)
    lookup table of partial squared distances, so scoring a vector is m
    table lookups instead of a d-dim dot product. The top ``n_candidates``
    per query by ADC score then pay the exact cosine rerank against the
    original vectors, so precision at the head is exact and only recall is
    approximate (the IVF/LSH contract).

    Scale shape: codebooks + query LUTs broadcast (m*ksub*dsub doubles —
    KBs); the encode and ADC scan are single Arrow passes over the corpus
    with only batch-local top-candidates emitted; vectors are L2-normalized
    before quantization so squared-L2 ADC ranking equals cosine ranking.
    Rows-only: recall vs the exact operator asserted in tests.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    probe_row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe_row is None:
        # must precede the d-probe subscript and the train collect — an
        # empty corpus would otherwise die with an opaque NoneType error
        raise ValueError("ann_pq_topk: corpus is empty — nothing to index")
    d_probe = probe_row["d"]
    if d_probe % m != 0:
        raise ValueError(f"dim {d_probe} not divisible by m={m}")
    dsub = d_probe // m

    def _unit_rows(rows, idx):
        mat = np.stack([np.asarray(r[idx], dtype=np.float64) for r in rows])
        return mat / np.linalg.norm(mat, axis=1, keepdims=True)

    # --- train: seeded Lloyd's per subspace on a bounded, deterministic
    # sample, ordered by salted content hash of the id — uniform over the
    # corpus where a first-ids prefix would be biased toward the earliest
    # ingest slice (see _fit_unit_kmeans); still TakeOrderedAndProject.
    train_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(F.lit("pq"), F.col(id_col).cast("string"))), id_col)
        .limit(train_size)
        .collect()
    )
    tmat = _unit_rows(train_rows, 1)
    # a corpus smaller than ksub cannot seed ksub distinct centroids —
    # clamp instead of letting rng.choice(replace=False) raise; fewer
    # centroids only coarsens the quantizer, ADC stays well-defined
    ksub = min(ksub, len(train_rows))
    rng = np.random.default_rng(seed)
    codebooks = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = tmat[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=ksub, replace=False)]
        for _ in range(kmeans_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        codebooks[j] = cents

    # --- query LUTs: partial squared L2 from each query subvector to every
    # centroid of that subspace. ADC score = sum_j LUT[q, j, code_j].
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = _unit_rows(qrows, 1)
    luts = np.empty((len(qids), m, ksub))
    for j in range(m):
        qs = qmat[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = ((qs[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
    bc = corpus.sparkSession.sparkContext.broadcast((codebooks, qids, luts))

    def adc_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb, qids_, luts_ = bc.value
        nq = len(qids_)
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            # encode: nearest centroid per subspace -> (batch, m) codes.
            # (Materialized inline here; a persisted index would write
            # `codes` out once and ADC-scan it per query batch.)
            scores = np.zeros((len(ids), nq))
            for j in range(m):
                sub = cmat[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes_j = d2.argmin(axis=1)
                scores += luts_[:, j, codes_j].T  # (batch, nq)
            kk = min(n_candidates, len(ids))
            top = np.argpartition(scores, kk - 1, axis=0)[:kk]  # ascending dist
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, kk),
                    "neighbor_id": ids[top].T.ravel(),
                    "adc_d2": np.take_along_axis(scores, top, axis=0).T.ravel(),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        adc_batches, schema="query_id long, neighbor_id long, adc_d2 double"
    )
    w_cand = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    shortlist = (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_cr", F.row_number().over(w_cand))
        .filter(F.col("_cr") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    # exact rerank: true cosine on the shortlist only
    vecs = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    cv = vecs.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cos_sim", fround(cosine(F.col("_qv"), F.col("_cv")), round_to))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _lloyds(mat, k: int, iters: int = 10, seed: int = 42):
    """Seeded Lloyd's k-means over a driver-side sample matrix — the
    shared coarse-quantizer trainer for IVF and cluster_balance (PQ uses
    the same loop per subspace). A bounded sample is all a quantizer
    needs (coverage, not completeness), so the fit costs milliseconds
    where a distributed ML fit pays seconds of scheduling overhead; at
    corpus scale the sample comes from the hash-sample operator."""
    import numpy as np

    rng = np.random.default_rng(seed)
    k = min(k, len(mat))
    cents = mat[rng.choice(len(mat), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cents[c] = mat[mask].mean(axis=0)
    return cents


def _fit_unit_kmeans(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    train_size: int = 1024,
    seed: int = 42,
):
    """Train centroids on the L2-normalized bounded sample. The sample
    orders by a salted content hash of the id — NOT by the id itself:
    ids are typically assigned in ingest order (by source/topic/time), so
    a first-ids prefix would train every centroid on the earliest slice
    of the corpus and leave later topics without a nearby cell. The hash
    order is uniform over the corpus, deterministic under retries, and
    still a TakeOrderedAndProject (O(n log k) scan-side, no full sort).
    On the unit sphere Euclidean cells are cosine cells
    (||a-b||^2 = 2 - 2cos)."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(F.lit("km"), F.col(id_col).cast("string"))), id_col)
        .limit(train_size)
        .collect()
    )
    if not rows:
        raise ValueError("kmeans fit: corpus is empty — nothing to index")
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    return _lloyds(mat, n_cells, seed=seed)


def _probe_cells(qrows, cmat, n_probe: int):
    """Per-query nearest ``n_probe`` cells, driver-side: Euclidean
    distance of the unit-normalized query to the RAW centroid
    (``|c|^2 - 2 q.c`` — same rule as _assign_cells), ties broken on the
    lower cell index via lexsort. The ONE probe-selection implementation
    shared by ann_ivf_topk and ivf_probe_read, so the at-rest IVF layout
    returns bit-identical neighbors to the in-query operator even on
    near-tie centroid distances (two float paths would disagree in the
    last ulp exactly there). Returns [(query_id, qvec_list, [cells])].
    """
    import numpy as np

    c2 = (cmat**2).sum(axis=1)
    out = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        qn = qv / max(np.linalg.norm(qv), 1e-30)
        d2 = c2 - 2.0 * (cmat @ qn)
        order = np.lexsort((np.arange(len(c2)), d2))[:n_probe]
        out.append((int(r[0]), [float(x) for x in qv], [int(c) for c in order]))
    return out


def _assign_cells(
    df: DataFrame, keep_cols: str, cmat, with_cos: bool = False
) -> DataFrame:
    """Arrow-kernel cell assignment: one BLAS pass per batch against the
    closure-shipped centroid matrix; argmin Euclidean to the raw centroid
    (argmin |c|^2 - 2 x.c for unit x — NOT max-cosine, which would
    re-rank when centroid norms differ; np.argmin's first-min rule =
    lowest-index tiebreak). Input df must have a ``_v`` array<double>
    column; ``keep_cols`` (a schema string) names the input columns that
    pass through to the output — only those ship back across Arrow, so
    callers that need nothing but the assignment (cluster_balance) don't
    pay to round-trip the vectors. ``with_cos`` adds ``_cs``, the cosine
    of each row to its chosen centroid. Zero shuffle, corpus scanned
    once. The single shared kernel behind ann_ivf_topk's index cells and
    cluster_balance's audit — one assignment rule, two consumers."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from boxoffice_spark.tables import spread

    c2 = (cmat**2).sum(axis=1)
    cunit = cmat / np.maximum(
        np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30
    )
    names = [c.strip().split()[0] for c in keep_cols.split(",") if c.strip()]
    schema = (f"{keep_cols}, " if names else "") + "cell int" + (
        ", _cs double" if with_cos else ""
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
            d2 = c2[None, :] - 2.0 * (x @ cmat.T)
            cell = d2.argmin(axis=1)
            data = {n: pdf[n] for n in names}
            data["cell"] = cell.astype(np.int32)
            if with_cos:
                sims = x @ cunit.T
                data["_cs"] = _round_half_up(sims[np.arange(len(cell)), cell], 6)
            yield pd.DataFrame(data)

    return spread(df).mapInPandas(batches, schema=schema)


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k neighbors via an IVF (inverted-file) index:
    KMeans coarse quantizer -> corpus partitioned into centroid cells ->
    each query probes its ``n_probe`` nearest cells and reranks exactly
    (cosine) inside them.

    The scan-cost contract at scale: each query touches ~n_probe/n_cells of
    the corpus instead of all of it, and the cell assignment is a one-off
    index build (seeded Lloyd's on a bounded deterministic sample —
    _fit_unit_kmeans — milliseconds on the driver where a distributed ML
    fit costs seconds of scheduling), amortized across every query
    batch — the complementary trade to ann_lsh_topk (no training, but
    hash-bucket recall). Corpus cell assignment is one Arrow BLAS pass
    (_assign_cells), no ML-predictor UDF in the scan. Rows-only; recall
    vs the exact operator is asserted in tests/test_llm_ops.py.
    """

    cmat = _fit_unit_kmeans(corpus, id_col, vec_col, n_cells)
    cells = _assign_cells(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ),
        "neighbor_id long, _v array<double>",
        cmat,
    ).withColumnRenamed("_v", "_cv")

    # probe-cell selection is driver-side on the (bounded) query batch —
    # ONE implementation (_probe_cells) shared with ivf_probe_read so the
    # at-rest layout's probes are bit-identical to this operator's
    qrows = queries.select(
        F.col(id_col), F.col(vec_col).cast("array<double>")
    ).collect()
    probe_rows = [
        (qid, qv, c)
        for qid, qv, cell_list in _probe_cells(qrows, cmat, n_probe)
        for c in cell_list
    ]
    probes = corpus.sparkSession.createDataFrame(
        probe_rows, "query_id long, _qv array<double>, cell int"
    )

    scored = F.broadcast(probes).join(cells, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("cos_sim", fround(cosine(F.col("_qv"), F.col("_cv")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ann_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 8,
    m: int = 8,
    ksub: int = 16,
    n_candidates: int = 150,
    train_size: int = 512,
    kmeans_iters: int = 10,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k neighbors via IVFADC — IVF coarse quantizer +
    product-quantized RESIDUALS (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", IEEE TPAMI 2011, §IV) — the composition of
    ann_ivf_topk and ann_pq_topk, and the standard billion-scale layout
    (FAISS ``IVFx,PQy``): the coarse quantizer bounds the SCAN (each query
    touches ~n_probe/n_cells of the index) while PQ bounds the MEMORY
    (each vector stored as ``m`` one-byte codes, so the probed slice is
    ADC table lookups, never float vectors).

    Residuals, not raw vectors, are what PQ encodes here: r = x_unit -
    centroid(cell). Residual energy is a fraction of vector energy, so
    the same ksub-codebook budget quantizes far finer than whole-vector
    PQ — the reason IVFADC beats flat PQ at equal code size.

    Physical strategy: both quantizers fit driver-side on one bounded
    salted-hash sample (coarse fit shared with ann_ivf_topk via
    _fit_unit_kmeans; per-subspace residual Lloyd's reuses _lloyds).
    Per-query probe-cell selection reuses _probe_cells (bit-identical
    probes to the IVF tier). One Arrow pass over the corpus assigns the
    cell, encodes the residual, and ADC-scores rows of probed cells with
    (query, cell)-keyed LUTs shipped in a broadcast — only batch-local
    top candidates come back. A per-query window takes the global
    ``n_candidates`` shortlist, then the exact cosine rerank pays full
    vectors ONLY for the shortlist (precision at the head exact, recall
    approximate — the ANN contract). At rest the (cell, codes) table is
    the index: partitioned by cell (io.write_ivf_partitioned layout),
    probes become partition-pruned scans of m-byte codes.

    Rows-only: recall vs the exact operator asserted in
    tests/test_llm_ops.py and surfaced in v_ann_recall_report.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    probe_row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe_row is None:
        raise ValueError("ann_ivfpq_topk: corpus is empty — nothing to index")
    d = probe_row["d"]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m

    # --- coarse quantizer: the SAME fit as the IVF tier
    cmat = _fit_unit_kmeans(corpus, id_col, vec_col, n_cells, train_size, seed)
    c2 = (cmat**2).sum(axis=1)

    # --- residual codebooks: assign the bounded train sample to cells,
    # then per-subspace Lloyd's on the residuals (x_unit - centroid)
    train_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(F.lit("pq"), F.col(id_col).cast("string"))), id_col)
        .limit(train_size)
        .collect()
    )
    tmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in train_rows])
    tmat = tmat / np.maximum(np.linalg.norm(tmat, axis=1, keepdims=True), 1e-30)
    tcell = (c2[None, :] - 2.0 * (tmat @ cmat.T)).argmin(axis=1)
    tres = tmat - cmat[tcell]
    # fewer train rows than ksub only coarsens the codebook (same clamp
    # class as ann_pq_topk — never let rng.choice(replace=False) raise)
    ksub = min(ksub, len(train_rows))
    codebooks = np.stack(
        [
            _lloyds(tres[:, j * dsub : (j + 1) * dsub], ksub, kmeans_iters, seed + j)
            for j in range(m)
        ]
    )

    # --- per-(query, probed cell) ADC LUTs, driver-side on the bounded
    # query batch: target = q_unit - centroid(cell); LUT[j][code] =
    # |target_sub_j - codebook[j][code]|^2, so scoring a stored vector is
    # m lookups. Probes are bit-identical to the IVF tier (_probe_cells).
    qrows = queries.select(
        F.col(id_col), F.col(vec_col).cast("array<double>")
    ).collect()
    probe_qid, probe_cell, probe_luts = [], [], []
    for qid, qv, cell_list in _probe_cells(qrows, cmat, n_probe):
        qu = np.asarray(qv, dtype=np.float64)
        qu = qu / max(np.linalg.norm(qu), 1e-30)
        for c in cell_list:
            tgt = qu - cmat[c]
            lut = np.empty((m, ksub))
            for j in range(m):
                ts = tgt[j * dsub : (j + 1) * dsub]
                lut[j] = ((ts[None, :] - codebooks[j]) ** 2).sum(axis=1)
            probe_qid.append(qid)
            probe_cell.append(c)
            probe_luts.append(lut)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (
            cmat,
            codebooks,
            np.asarray(probe_qid, dtype=np.int64),
            np.asarray(probe_cell, dtype=np.int32),
            np.stack(probe_luts) if probe_luts else np.empty((0, m, ksub)),
        )
    )

    def ivfadc_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb_cmat, cb_books, p_qid, p_cell, p_luts = bc.value
        cb_c2 = (cb_cmat**2).sum(axis=1)
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
            cell = (cb_c2[None, :] - 2.0 * (x @ cb_cmat.T)).argmin(axis=1)
            res = x - cb_cmat[cell]
            codes = np.empty((len(ids), m), dtype=np.int64)
            for j in range(m):
                sub = res[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - cb_books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            out_q, out_n, out_d = [], [], []
            for p in range(len(p_qid)):
                mask = cell == p_cell[p]
                if not mask.any():
                    continue
                lut = p_luts[p]
                sc = lut[np.arange(m)[:, None], codes[mask].T].sum(axis=0)
                kk = min(n_candidates, len(sc))
                top = np.argpartition(sc, kk - 1)[:kk]
                out_q.append(np.full(kk, p_qid[p]))
                out_n.append(ids[mask][top])
                out_d.append(sc[top])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_d2": np.concatenate(out_d),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        ivfadc_batches, schema="query_id long, neighbor_id long, adc_d2 double"
    )
    w_cand = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    shortlist = (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_cr", F.row_number().over(w_cand))
        .filter(F.col("_cr") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cos_sim", fround(cosine(F.col("_qv"), F.col("_cv")), round_to))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cluster_balance(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """Topic-balance audit over an embedding corpus: seeded KMeans on the
    unit sphere (the same coarse quantizer ann_ivf_topk indexes with),
    then per-cluster size, corpus share, and mean cosine-to-centroid
    (cluster tightness). This is the clustering step of cluster-balanced
    curation (SemDeDup / DataComp-style): oversized loose clusters flag
    redundant mass to downsample, tiny tight ones flag rare modes to
    protect before any mixture decision.

    Shape at 100 TB: the fit is seeded Lloyd's on a bounded deterministic
    sample (_fit_unit_kmeans — the same coarse quantizer ann_ivf_topk
    indexes with, milliseconds on the driver); the ASSIGNMENT is one
    Arrow mapInPandas pass — the n_cells x dim centroid matrix ships in
    the closure, each batch does a single BLAS matmul, assigning by
    Euclidean distance to the RAW centroid (argmin |c|^2 - 2 x.c for
    unit x — not max-cosine, which would re-rank when centroid norms
    differ; np.argmin's first-min rule gives a deterministic lowest-index
    tiebreak), emitting only (cell, cos) per row. Zero shuffle on the
    corpus, then an n_cells-group aggregate that partial-combines to
    nothing. Rows-only (no KMeans in the oracle); determinism (fixed
    seed) and share/tightness invariants are asserted in
    tests/test_llm_ops.py.
    """
    from boxoffice_spark.functions.numeric import davg

    cmat = _fit_unit_kmeans(corpus, id_col, vec_col, n_cells)
    # the SAME assignment kernel ann_ivf_topk indexes with (one rule, two
    # consumers); keep_cols empty — only (cell, cos) ships back over Arrow
    per_vec = _assign_cells(
        corpus.select(F.col(vec_col).cast("array<double>").alias("_v")),
        "",
        cmat,
        with_cos=True,
    )
    stats = per_vec.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        davg("_cs", 6).alias("mean_cos_to_centroid"),
    )
    # corpus share via a window over the n_cells-row aggregate — NOT a
    # crossJoin against a separate grand-total aggregate, which would
    # re-evaluate the whole assignment subtree (KMeans transform included)
    # a second time; the window sees 16 rows, the corpus is scanned once
    w_all = W.partitionBy()
    return stats.select(
        "cell",
        "n_vectors",
        F.round(F.col("n_vectors") / F.sum("n_vectors").over(w_all), 6).alias("share"),
        F.round("mean_cos_to_centroid", 6).alias("mean_cos_to_centroid"),
    ).orderBy("cell")


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_candidates: int = 30,
    k: int = 10,
    lam: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998):
    per query, greedily pick ``k`` of the top-``n_candidates`` cosine
    neighbors maximizing ``lam * sim(q, d) - (1 - lam) * max_{s in S}
    sim(d, s)`` — relevance traded against redundancy with what is
    already selected. The standard diversity re-ranker for retrieval-
    augmented pipelines: plain top-k hands a RAG context window five
    paraphrases of one document; MMR spends the same slots on coverage.

    Physical strategy: stage 1 is the exact top-``n_candidates`` operator
    (cosine_topk — any ANN tier slots in unchanged); stage 2 attaches
    candidate vectors and runs the greedy loop per query inside ONE
    ``applyInPandas`` group — the kernel sees (n_candidates x dim), never
    the corpus, so the sequential part is O(k * n_candidates) flops on
    broadcast-sized state while corpus bytes stay in stage 1's scan.

    Determinism: stage-1 relevances arrive rounded; candidate-pairwise
    sims and every greedy score are rounded to ``round_to`` before
    comparison; ties break on neighbor_id (np.lexsort) — so the selection
    is invariant to partitioning and repeatable across runs (asserted in
    tests). MMR's sequential greedy argmax is not SQL-expressible, so
    this is a rows-only query with property tests pinning: first pick =
    cosine rank-1, lam=1 reduces to plain top-k, duplicate candidates are
    demoted, repartition invariance.
    """
    import numpy as np
    import pandas as pd

    cands = cosine_topk(corpus, queries, id_col, vec_col, k=n_candidates, round_to=round_to)
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    joined = cands.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", "cos_sim", "_v"
    )

    def select_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic candidate order: by (-relevance, id)
        pdf = pdf.sort_values(["cos_sim", "neighbor_id"], ascending=[False, True]
                              ).reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        rel = pdf["cos_sim"].to_numpy(dtype=np.float64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        pair = _round_half_up(mat @ mat.T, round_to)
        n = len(ids)
        kk = min(k, n)
        picked: list[int] = []
        scores: list[float] = []
        remaining = np.ones(n, dtype=bool)
        for _ in range(kk):
            if picked:
                redundancy = pair[:, picked].max(axis=1)
            else:
                redundancy = np.zeros(n)
            score = _round_half_up(lam * rel - (1.0 - lam) * redundancy, round_to)
            score[~remaining] = -np.inf
            # argmax with ties broken by smaller neighbor_id
            best = np.lexsort((ids, -score))[0]
            picked.append(best)
            scores.append(score[best])
            remaining[best] = False
        qid = int(pdf["query_id"].iloc[0])
        return pd.DataFrame(
            {
                "query_id": np.full(kk, qid, dtype=np.int64),
                "neighbor_id": ids[picked],
                "mmr_score": np.asarray(scores, dtype=np.float64),
                "pick": np.arange(1, kk + 1, dtype=np.int32),
            }
        )

    return joined.groupBy("query_id").applyInPandas(
        select_group, schema="query_id long, neighbor_id long, mmr_score double, pick int"
    )


def write_ivf_layout(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_type: str = "array<float>",
    n_cells: int = 16,
    train_size: int = 1024,
    seed: int = 42,
):
    """Materialize the IVF index AS A TABLE LAYOUT: the corpus written
    hive-partitioned by coarse-quantizer cell (`path/cell=N/...`), with
    the centroid matrix persisted as a `_ivf_centroids.json` sidecar
    (underscore-prefixed -> invisible to Spark's file index). This is the
    at-rest form of ann_ivf_topk's in-query index: the cell assignment is
    paid ONCE at write time, and every later probe scans only its
    `n_probe` directories via partition pruning — at 100 TB the
    difference between a query touching ~n_probe/n_cells of the files and
    re-assigning the whole corpus per query batch.

    Same trainer and assignment kernel as the in-query operator
    (_fit_unit_kmeans + _assign_cells), so a probe over this layout
    returns bit-identical results to ann_ivf_topk at equal parameters
    (asserted in tests/test_bucketed.py). Sidecar write is
    local-filesystem (dev/test scope, same honesty note as io.compact);
    production centroid metadata belongs in a catalog/table-format
    property.

    Returns the centroid matrix.
    """
    import json
    import os

    cmat = _fit_unit_kmeans(corpus, id_col, vec_col, n_cells, train_size, seed)
    assigned = _assign_cells(
        corpus.select(
            id_col, vec_col, F.col(vec_col).cast("array<double>").alias("_v")
        ),
        f"{id_col} long, {vec_col} {vec_type}",
        cmat,
    )
    # consolidate before the partitioned write: one shuffle on cell ->
    # each cell directory holds few large files instead of (scan
    # partitions x cells) shards — footer-fetch and scheduler cost at
    # probe time scale with file count, and this write is one-off
    assigned.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(path)
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as f:
        json.dump([[float(x) for x in c] for c in cmat], f)
    return cmat


def ivf_probe_read(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
):
    """Top-k probe over a :func:`write_ivf_layout` table: load the
    centroid sidecar, pick each query's ``n_probe`` nearest cells
    driver-side (queries are a bounded probe batch; same Euclidean-to-
    raw-centroid rule and cell-asc tiebreak as ann_ivf_topk), then read
    ONLY those `cell=` partitions — the `.isin` filter on the partition
    column prunes every other directory at planning time (file-count
    assertion in tests/test_bucketed.py) — and rerank exactly inside
    them. Scan cost per probe batch is the probed cells' bytes, not the
    corpus's.
    """
    import json
    import os

    import numpy as np

    with open(os.path.join(path, "_ivf_centroids.json")) as f:
        cmat = np.asarray(json.load(f), dtype=np.float64)

    qrows = queries.select(
        F.col(id_col), F.col(vec_col).cast("array<double>")
    ).collect()
    selected = _probe_cells(qrows, cmat, n_probe)
    pairs = [(qid, c) for qid, _, cell_list in selected for c in cell_list]
    qvecs = [(qid, qv) for qid, qv, _ in selected]
    probe_pairs = spark.createDataFrame(pairs, "query_id long, cell int")
    qdf = spark.createDataFrame(qvecs, "query_id long, _qv array<double>")

    needed = sorted({c for _, c in pairs})
    scan = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(needed))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_cv"),
            "cell",
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scan.join(F.broadcast(probe_pairs), "cell")
        .join(F.broadcast(qdf), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", fround(cosine(F.col("_qv"), F.col("_cv")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def fit_pca_whitener(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int = 16,
    train_size: int = 1024,
    eps: float = 1e-6,
):
    """Driver-side PCA-whitening fit on the bounded salted-hash sample
    (same sampling rule and rationale as _fit_unit_kmeans: uniform over
    the corpus, deterministic under retries, TakeOrderedAndProject).
    Returns (mean, W, eigenvalues) where ``W = V / sqrt(λ + eps)`` maps a
    centered vector to the whitened space — the embedding preprocessing
    step real ANN/dedup deployments run before product quantization or
    cosine bucketing (whitening equalizes per-direction variance, which
    is what makes PQ subspace codebooks and LSH hyperplanes behave).

    Deterministic given the corpus: no RNG anywhere (the sample is
    hash-ordered, eigh is deterministic for fixed input), eigenvector
    sign fixed by the largest-magnitude-coefficient-positive convention.
    """
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(F.lit("pca"), F.col(id_col).cast("string"))), id_col)
        .limit(train_size)
        .collect()
    )
    if not rows:
        raise ValueError("pca fit: corpus is empty — nothing to fit")
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    if n_components > mat.shape[1]:
        raise ValueError(
            f"n_components {n_components} > embedding dim {mat.shape[1]}"
        )
    mean = mat.mean(axis=0)
    x = mat - mean
    cov = (x.T @ x) / max(len(rows) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    evals, evecs = evals[order], evecs[:, order]
    # sign convention: largest-|coefficient| entry of each component > 0
    flip = np.sign(evecs[np.abs(evecs).argmax(axis=0), np.arange(len(order))])
    evecs = evecs * np.where(flip == 0, 1.0, flip)
    w = evecs / np.sqrt(np.maximum(evals, 0.0) + eps)
    return mean, w, evals


def pca_whiten(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    mean,
    w,
    round_to: int = 6,
) -> DataFrame:
    """Project the whole corpus through the fitted whitener: one Arrow
    ``mapInPandas`` pass, each batch doing a single (batch × dim) @
    (dim × k) BLAS matmul with the broadcast (mean, W) — the same
    scan-bound shape as cosine_topk_arrow. Returns (id, whitened
    array<double>), values rounded for cross-run stability."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(
        (np.asarray(mean), np.asarray(w))
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mu, proj = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            out = _round_half_up((mat - mu) @ proj, round_to)
            yield pd.DataFrame({id_col: ids, "whitened": list(out)})

    from boxoffice_spark.tables import spread

    return spread(corpus.select(id_col, vec_col)).mapInPandas(
        batches, schema=f"{id_col} long, whitened array<double>"
    )
