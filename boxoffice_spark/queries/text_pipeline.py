"""Dedup + text-analysis queries over the documents corpus (SURVEY.md
§2.11 / BASELINE.json north-star operators)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from boxoffice_spark.functions import cleaning as CL
from boxoffice_spark.functions.numeric import (
    davg_sql,
    dsum_sql,
    fround,
    fround_sql,
    funits_sql,
    ratio6,
    ratio6_sql,
    ratio6w_sql,
    units_div_sql,
)
from boxoffice_spark.operators import dedup as D
from boxoffice_spark.operators import sampling as SMP
from boxoffice_spark.operators import textstats as TS
from boxoffice_spark.operators import sketch as SK
from boxoffice_spark.operators.similarity import cosine_topk_arrow
from boxoffice_spark.operators import winnow as WN
from boxoffice_spark.registry import register
from boxoffice_spark.tables import table

_NORM = D.NORMALIZED_SQL.format(col="text")
_SHINGLES = "list_distinct(" + D.WORD_NGRAMS_SQL.format(norm=_NORM, nm1=2) + ")"


@register(
    "t_exact_dedup",
    bench=True,
    oracle=f"""
    SELECT md5({_NORM}) AS fingerprint, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup",),
)
def t_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-1 exact dedup: md5-of-normalized-text groups with keeper =
    min(doc_id). See operators/dedup.py."""
    return D.exact_dedup(table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "t_ngram_jaccard_pairs",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, source, {_SHINGLES} AS sh FROM documents
    )
    SELECT
        a.doc_id AS id_a,
        b.doc_id AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
    bench=True,
    tags=("dedup", "jaccard"),
)
def t_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-2 near-dup: word-3-gram Jaccard >= 0.5 within (lang, source)
    blocks. Exact pairwise similarity, quadratic bounded by blocking."""
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        block_cols=["lang", "source"],
        n=3,
        threshold=0.5,
        # capless: this path is checked against a capless oracle (the
        # dedup.py rule — hot-shingle caps are the documented scale
        # option, never silently active on an oracle-checked path)
        max_postings=None,
    )


@register(
    "t_ngram_containment_pairs",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, source, {_SHINGLES} AS sh FROM documents
    )
    SELECT
        a.doc_id AS id_a,
        b.doc_id AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / least(len(a.sh), len(b.sh)) AS containment,
        CASE WHEN len(a.sh) <= len(b.sh) THEN a.doc_id ELSE b.doc_id END
            AS contained_id
    FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / least(len(a.sh), len(b.sh)) >= 0.6
    """,
    tags=("dedup", "containment"),
)
def t_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: word-3-gram containment |A∩B|/min(|A|,|B|)
    >= 0.6 within (lang, source) blocks — catches a snippet quoted whole
    inside a much longer doc, which Jaccard misses (the union is dominated
    by the big doc). ``contained_id`` names the doc that is mostly inside
    the other. Same inverted-index kernel as t_ngram_jaccard_pairs —
    postings-sized shuffle, never block-quadratic."""
    return D.ngram_containment_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        block_cols=["lang", "source"],
        n=3,
        threshold=0.6,
        # capless to match the capless oracle (see t_ngram_jaccard_pairs)
        max_postings=None,
    )


@register(
    "t_simhash",
    oracle=D.simhash_sql("documents", "doc_id", "text"),
    tags=("dedup", "simhash", "pandas-udf"),
)
def t_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-3 SimHash: 60-bit locality-sensitive fingerprint per doc,
    computed map-side (mapInPandas, zero shuffle) and oracle-exact across
    engines (md5-derived word hashes; operators/dedup.simhash)."""
    return D.simhash(table(spark, sf_dir, "documents"), "doc_id", "text")


@register("t_minhash_lsh_pairs", oracle=None, bench=True, tags=("dedup", "lsh"))
def t_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-4 MinHash+LSH candidate pairs (Spark ML, approximate ->
    rows-only). Recall vs the exact tier is asserted in
    tests/test_llm_ops.py."""
    return D.minhash_lsh_pairs(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "t_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS declared_lang, {TS.lang_id_sql('text')} AS lang_guess
    FROM documents
    """,
    tags=("text", "langid"),
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-token hits with deterministic argmax
    (operators/textstats.py). The engine contract is the deterministic
    score->argmax shape, not model quality."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        TS.lang_id("text").alias("lang_guess"),
    )


_PUNCT6_SQL = ratio6_sql(
    "len(regexp_extract_all(text, '[^A-Za-z가-힣0-9" + "\\s]'))",
    "greatest(length(text), 1)",
)


@register(
    "t_text_stats",
    oracle=f"""
    SELECT
        doc_id,
        length(text) AS n_chars_actual,
        len(string_split({_NORM}, ' ')) AS n_words,
        {TS.BPEISH_SQL.format(col='text')} AS n_tokens_bpeish,
        {_PUNCT6_SQL} AS punct_ratio,
        {TS.quality_score_sql('text')} AS quality
    FROM documents
    """,
    bench=True,
    tags=("text", "stats"),
)
def t_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: char/word/BPE-ish token counts,
    punctuation ratio, composite quality score — the standard pre-training
    quality-filter feature set, all codegen'd. Both ratio cells are exact
    integer ratios via ratio6's BIGINT HALF_UP (r09 legacy conversion off
    the build-sensitive round(double, 6))."""
    d = table(spark, sf_dir, "documents")
    punct6 = ratio6(
        r"regexp_count(text, '[^A-Za-z가-힣0-9\\s]')",
        "greatest(length(text), 1)",
    )
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        TS.whitespace_token_count("text").alias("n_words"),
        TS.bpe_ish_token_count("text").alias("n_tokens_bpeish"),
        punct6.alias("punct_ratio"),
        TS.quality_score("text").alias("quality"),
    )


# The raw-double quality chain is GONE (r10, ADVICE r09 medium): the last
# seven round(_QUALITY_EXPR_SQL, 6) oracles converted to
# TS.quality_score_sql — the exact integer ratio the Spark side has used
# since r09 — so there is exactly ONE quality grid engine-wide.


@register(
    "t_quality_by_lang",
    oracle=f"""
    SELECT
        lang,
        count(*) AS n_docs,
        CAST(sum({TS.quality_micro_sql('text')}) AS DOUBLE) / 1000000.0
            AS quality_sum,
        {dsum_sql('length(text)', 0)} AS chars_total
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "quality"),
)
def t_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation roll-up: per-language doc counts, total quality mass,
    char volume — the 'what do we keep' dashboard of a data pipeline.
    quality_sum aggregates the per-doc quality as exact 1e-6 BIGINT units
    (textstats.quality_micro — order-free integer sum, one IEEE division
    at the end), replacing the r03-era decimal(27,9) cast of the raw
    double chain, which is the r08-red construct class (r09 legacy
    conversion)."""
    from boxoffice_spark.functions.numeric import dsum

    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum(TS.quality_micro("text")).cast("double") / 1000000.0).alias(
            "quality_sum"
        ),
        dsum(F.length("text"), scale=0).alias("chars_total"),
    )


@register(
    "t_simhash_fast",
    oracle=D.simhash_sql("documents", "doc_id", "text"),
    tags=("dedup", "simhash", "pandas-udf"),
)
def t_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept name for t_simhash: the same map-side kernel and oracle."""
    return t_simhash(spark, sf_dir)


@register(
    "t_simhash_hamming_pairs",
    bench=True,
    oracle=D.simhash_hamming_pairs_sql("documents", "doc_id", "text"),
    tags=("dedup", "simhash", "hamming"),
)
def t_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS by Hamming distance <= 3: pigeonhole bucket
    join on 15-bit fingerprint chunks (no recall loss for distance < 4),
    popcount(xor) rerank — completes the tier-3 path from fingerprint to
    dedup decision (operators/dedup.simhash_hamming_pairs)."""
    return D.simhash_hamming_pairs(table(spark, sf_dir, "documents"), "doc_id", "text")


@register("t_content_chunks", oracle=None, tags=("dedup", "rolling-hash", "pandas-udf"))
def t_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash content-defined chunking (Gear CDC) — sub-document
    fingerprints whose boundaries survive local edits, the primitive under
    chunk-level dedup/delta storage. Rows-only (sequential per-byte
    recurrence has no SQL twin); coverage/determinism/sharing asserted in
    tests/test_llm_ops.py."""
    return D.content_chunks(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        avg_chunk=32, min_chunk=8, max_chunk=128,  # fixture docs are short (~300B)
    )


@register(
    "t_repetition_stats",
    oracle=TS.REPETITION_SQL.format(id_col="doc_id", norm=_NORM, table="documents"),
    bench=True,
    tags=("text", "quality", "repetition"),
)
def t_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (top-word mass,
    duplicate-bigram fraction) — the repetition axis of LLM-data quality
    filtering, complementing t_text_stats' length/punct axis. All
    codegen: explode -> two-level hash aggregation, no Python
    (operators/textstats.repetition_stats)."""
    return TS.repetition_stats(table(spark, sf_dir, "documents"), "doc_id", "text")


@register("t_chunk_dup_pairs", oracle=None, bench=True, tags=("dedup", "rolling-hash"))
def t_chunk_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document near-dup pairs via shared CDC chunk fingerprints with
    capped inverted-index postings (operators/dedup.chunk_dup_pairs).
    Rows-only: built on content_chunks (sequential rolling hash, no SQL
    twin); recall vs the exact-Jaccard pairs is asserted in
    tests/test_llm_ops.py."""
    return D.chunk_dup_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        avg_chunk=32, min_chunk=8, max_chunk=128,
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
    {D.simhash_hamming_pairs_sql("documents", "doc_id", "text")}
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
    SELECT a AS node, a AS comp FROM edges
    UNION
    SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON e.b = r.node
)
SELECT node AS doc_id, CAST(min(comp) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


@register(
    "t_dedup_clusters",
    bench=True,
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "iterative"),
)
def t_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the SimHash Hamming
    pair graph — the 'keep one per cluster' decision step after pair
    generation. Large-star/small-star edge rewriting (driver loop of
    distributed joins, operators/graph.connected_components) converges in
    O(log^2 n) rounds regardless of component diameter; the oracle is the
    same transitive closure as a DuckDB recursive CTE."""
    from boxoffice_spark.operators.graph import connected_components

    pairs = D.simhash_hamming_pairs(table(spark, sf_dir, "documents"), "doc_id", "text")
    return connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@register(
    "t_dedup_clusters_star",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "iterative"),
)
def t_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept name for t_dedup_clusters: the same large-star/small-star
    kernel and oracle."""
    return t_dedup_clusters(spark, sf_dir)


@register(
    "t_hash_sample",
    oracle=(
        "SELECT doc_id, lang, source FROM documents WHERE "
        + SMP.hash_sample_sql("text", 0.3)
    ),
    tags=("sampling", "deterministic"),
)
def t_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 30% Bernoulli sample by salted content hash — the
    retry-safe replacement for rand()-based sampling (task re-execution
    re-draws RNG samples; content hashing never does). Zero shuffle, pure
    scan-side filter (operators/sampling.hash_sample)."""
    d = table(spark, sf_dir, "documents")
    return SMP.hash_sample(d, "text", 0.3).select("doc_id", "lang", "source")


_STRATA_RATES = {"en": 0.5, "de": 0.25, "zh": 0.1}


@register(
    "t_stratified_sample",
    oracle=(
        "SELECT lang, count(*) AS n_kept FROM documents WHERE "
        + SMP.stratified_hash_sample_sql(
            "text", "lang", {"en": 0.5, "de": 0.25, "zh": 0.1}, default_rate=0.05
        )
        + " GROUP BY 1"
    ),
    tags=("sampling", "stratified"),
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling rates (corpus rebalancing:
    keep 50% en, 25% de, 10% zh, 5% rest), reported as kept-count per
    language. One codegen CASE threshold, no shuffle before the count
    (operators/sampling.stratified_hash_sample)."""
    d = table(spark, sf_dir, "documents")
    return (
        SMP.stratified_hash_sample(d, "text", "lang", _STRATA_RATES, default_rate=0.05)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )


@register(
    "t_tfidf_top_terms",
    oracle=TS.TFIDF_SQL.format(table="documents", id_col="doc_id", norm=_NORM, k=3),
    bench=True,
    tags=("text", "tfidf", "keywords"),
)
def t_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (integer-exact linear idf;
    see operators/textstats.tfidf_top_terms for the scale shape — the
    document-frequency side re-aggregates the tf exchange and broadcasts
    back, so the corpus is tokenized once)."""
    return TS.tfidf_top_terms(table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


_CONTAM_NGRAMS = D.WORD_NGRAMS_SQL.format(norm=_NORM, nm1=4)


@register(
    "t_decontamination",
    oracle=D.CONTAMINATION_SQL.format(
        table="documents",
        id_col="doc_id",
        eval_pred="source = 'src0'",
        ngrams=_CONTAM_NGRAMS,
        hash_g=D.WORD_HASH_SQL.format(w="g"),
    ),
    bench=True,
    tags=("dedup", "decontamination"),
)
def t_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: per eval-split document (source
    'src0'), the fraction of its distinct 5-word shingles that appear
    anywhere in the train split (every other source). Hash-keyed semi
    join; see operators/dedup.contamination_report for the scale shape.
    n=5 is tuned to this corpus (the planted near-dup docs light up, the
    rest stay clean); production decontamination uses n=8..13."""
    d = table(spark, sf_dir, "documents")
    return D.contamination_report(d, "doc_id", "text", F.col("source") == "src0", n=5)


@register(
    "t_decontamination_bloom",
    oracle=D.CONTAMINATION_SQL.format(
        table="documents",
        id_col="doc_id",
        eval_pred="source = 'src0'",
        ngrams=_CONTAM_NGRAMS,
        hash_g=D.WORD_HASH_SQL.format(w="g"),
    ),
    bench=True,
    tags=("dedup", "decontamination"),
)
def t_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept name for t_decontamination, which it runs as is: the
    train-side Bloom prefilter is left to Spark's runtime Bloom-filter
    injection (see operators/dedup.contamination_report)."""
    return t_decontamination(spark, sf_dir)


_PII_AUG_SQL = (
    "text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com "
    "tel +82 10-55' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-1234'"
)


@register(
    "t_pii_redact",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{CL.EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{CL.PHONE_RE}')) AS INT) AS n_phones,
           right({CL.redact_pii_sql('t')}, 60) AS redacted_tail
    FROM aug
    """,
    tags=("text", "pii"),
)
def t_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: the fixture text carries no PII, so a
    deterministic contact line (email + intl phone) is appended per doc and
    then masked by functions/cleaning.redact_pii — pattern-count columns
    prove detection, the redacted tail proves the exact replacement. Full
    scan, zero shuffles, all codegen."""
    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel +82 10-55"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-1234"),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        F.regexp_count("t", F.lit(CL.EMAIL_RE)).alias("n_emails"),
        F.regexp_count("t", F.lit(CL.PHONE_RE)).alias("n_phones"),
        CL.redact_pii("t").alias("_red"),
    ).select(
        "doc_id", "n_emails", "n_phones", F.expr("right(_red, 60)").alias("redacted_tail")
    )


_WINNOW_ORACLE = WN.WINNOW_SQL.format(
    id_col="doc_id",
    id_alias="doc_id",
    norm=_NORM,
    table="documents",
    k=WN.DEFAULT_K,
    w=WN.DEFAULT_W,
)


@register(
    "t_winnow_fingerprints",
    oracle=_WINNOW_ORACLE,
    bench=True,
    tags=("dedup", "fingerprint", "winnowing"),
)
def t_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: k-gram hashes, per-window rightmost
    min — guarantees any shared substring of length >= w+k-1 shares a
    fingerprint (operators/winnow.py). Positions included, MOSS-style."""
    return WN.winnow_fingerprints(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register(
    "t_winnow_dup_pairs",
    oracle=WN.WINNOW_PAIRS_SQL.format(
        id_alias="doc_id",
        winnow=_WINNOW_ORACLE,
        max_postings=200,
        threshold=0.25,
    ),
    bench=True,
    tags=("dedup", "fingerprint", "winnowing"),
)
def t_winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint Jaccard >= 0.25 via the
    capped inverted index — deterministic (oracle-exact), sub-quadratic,
    with the positional guarantee sketch tiers lack."""
    return WN.winnow_dup_pairs(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "t_incremental_dedup",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, md5({_NORM}) AS fingerprint, doc_id % 10 = 0 AS incoming
        FROM documents
    ), corpus AS (
        SELECT DISTINCT fingerprint FROM fp WHERE NOT incoming
    )
    SELECT n.fingerprint, min(n.doc_id) AS keeper_id, count(*) AS n_batch_copies
    FROM fp n
    -- NOT EXISTS (not NOT IN): matches LEFT ANTI null semantics — a NULL
    -- fingerprint in corpus must not blank the whole result, and
    -- null-fingerprint batch rows must be kept, as anti-join does.
    WHERE n.incoming
      AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = n.fingerprint)
    GROUP BY 1
    """,
    bench=True,
    tags=("dedup", "incremental"),
)
def t_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit only the incoming batch's documents whose
    fingerprint is unseen in the existing corpus, deduping within the batch
    too (keeper = min doc_id). The daily-ingest shape of corpus curation:
    the corpus side is only ever probed via LEFT ANTI on a 16-byte key —
    one shuffle each side, no corpus broadcast, no corpus rewrite. Here the
    'incoming batch' is doc_id % 10 == 0, the corpus the rest."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(D.normalized_text("text")).alias("fingerprint"),
        (F.col("doc_id") % 10 == 0).alias("incoming"),
    )
    corpus = d.filter(~F.col("incoming")).select("fingerprint")
    batch = d.filter(F.col("incoming"))
    return (
        batch.join(corpus, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_batch_copies"),
        )
    )


@register(
    "t_vocab_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
    ), vocab AS (
        SELECT term, count(*) AS term_count, count(DISTINCT doc_id) AS doc_freq
        FROM toks WHERE term <> '' GROUP BY 1
    )
    SELECT term, term_count, doc_freq,
           CAST(row_number() OVER (ORDER BY term_count DESC, term) AS INT) AS rnk
    FROM vocab
    ORDER BY rnk LIMIT 100
    """,
    tags=("text", "vocab"),
)
def t_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-100 by term frequency with document
    frequency — the tokenizer-training / stopword-mining shape. One
    shuffle on (doc, term) folds both counts: count + count-distinct-doc
    per term fall out of the same partial-aggregated groupBy because the
    (doc_id, term) pre-aggregation already holds one row per distinct
    pair. The final top-k is a TakeOrdered over the vocabulary (sublinear
    in corpus size; Zipf head dominates)."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(TS.words_of("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    per_doc = toks.groupBy("term", "doc_id").agg(F.count("*").alias("c"))
    vocab = per_doc.groupBy("term").agg(
        F.sum("c").alias("term_count"), F.count("*").alias("doc_freq")
    )
    # top-k FIRST (TakeOrderedAndProject — distributed, no global sort),
    # THEN rank: the row_number window runs over only k rows, so the
    # single-partition global window never sees the full vocabulary.
    top = vocab.orderBy(F.desc("term_count"), F.asc("term")).limit(100)
    from pyspark.sql import Window as W

    rnk = F.row_number().over(W.orderBy(F.desc("term_count"), F.asc("term")))
    return top.withColumn("rnk", rnk).orderBy("rnk")


_FUNNEL_NGRAMS = D.WORD_NGRAMS_SQL.format(norm=_NORM, nm1=4)  # 5-grams


@register(
    "t_curation_funnel",
    oracle=f"""
    WITH train AS (
        SELECT doc_id, text, md5({_NORM}) AS fp,
               {TS.lang_id_sql('text')} <> 'und' AS lang_ok,
               {TS.quality_score_sql('text')} >= 0.5 AS quality_ok
        FROM documents WHERE source <> 'src0'
    ), keepers AS (
        SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_keeper FROM train
    ), eval_hashes AS (
        SELECT DISTINCT {D.md5_u60_sql('hx')} AS h
        FROM (SELECT md5(g) AS hx FROM
              (SELECT unnest(list_distinct({_FUNNEL_NGRAMS})) AS g
               FROM documents WHERE source = 'src0'))
    ), contaminated AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, md5(g) AS hx FROM
              (SELECT doc_id, unnest(list_distinct({_FUNNEL_NGRAMS})) AS g
               FROM documents WHERE source <> 'src0'))
        WHERE {D.md5_u60_sql('hx')} IN (SELECT h FROM eval_hashes)
    )
    SELECT
        count(*) AS n_total,
        count(*) FILTER (is_keeper) AS n_after_dedup,
        count(*) FILTER (is_keeper AND lang_ok) AS n_after_lang,
        count(*) FILTER (is_keeper AND lang_ok AND quality_ok) AS n_after_quality,
        count(*) FILTER (is_keeper AND lang_ok AND quality_ok
                         AND NOT EXISTS (SELECT 1 FROM contaminated c
                                         WHERE c.doc_id = keepers.doc_id))
            AS n_after_decontam
    FROM keepers
    """,
    bench=True,
    tags=("text", "pipeline", "funnel"),
)
def t_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete corpus-curation funnel in ONE query: train-split doc
    counts surviving exact dedup -> language filter -> quality threshold ->
    eval-set decontamination (5-gram hash overlap vs the 'src0' eval
    split). The single-row survivors report every pretraining-data run
    produces.

    Composition, not re-implementation: fingerprints (exact_dedup), lang_id
    and quality_score (textstats), and the decontamination probe layout
    (60-bit shingle hashes, LEFT SEMI -> here LEFT + null-flag) reuse the
    registered operators' exact semantics. Scale shape: one window on the
    16-byte fingerprint, one hash-key contamination join (no broadcast of
    the train side), one final single-row aggregate — no stage materializes
    more than (doc_id, flags). The (doc_id, split, shingle-hash) frame is
    scope-persisted: BOTH its consumers (eval-hash distinct + the
    contamination semi-join probe) read one materialization instead of
    re-running normalize+shingle+hash over the corpus — the sf1 growth
    probe's α=0.75 was exactly that doubled scan."""
    from pyspark.sql import Window as W

    from boxoffice_spark.functions.caching import scoped_persist

    d = table(spark, sf_dir, "documents")
    train = d.filter(F.col("source") != "src0").select(
        "doc_id",
        "text",
        F.md5(D.normalized_text("text")).alias("fp"),
        (TS.lang_id("text") != "und").alias("lang_ok"),
        # r10 legacy conversion (ADVICE r09): quality_score is the exact
        # ratio6 grid since r09 — the gate compares it directly, no
        # build-sensitive round(double, 6) on either engine.
        (TS.quality_score("text") >= 0.5).alias("quality_ok"),
    )
    keepers = train.withColumn(
        "is_keeper", F.col("doc_id") == F.min("doc_id").over(W.partitionBy("fp"))
    )
    shingled = (
        d.select(
            "doc_id",
            (F.col("source") == "src0").alias("_is_eval"),
            F.explode(F.array(F.split(D.normalized_text("text"), " "))).alias("_w"),
        )
        .select(
            "doc_id",
            "_is_eval",
            F.explode(F.array_distinct(D._word_ngrams_col(F.col("_w"), 5))).alias("_g"),
        )
        .select("doc_id", "_is_eval", D._word_hash(F.col("_g")).alias("h"))
    )
    shingled = scoped_persist(shingled, "t_curation_funnel.shingled")
    eval_hashes = shingled.filter("_is_eval").select("h").distinct()
    contaminated = (
        shingled.filter(~F.col("_is_eval"))
        .join(eval_hashes, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_dirty", F.lit(True))
    )
    flagged = keepers.join(contaminated, "doc_id", "left").withColumn(
        "clean", F.col("_dirty").isNull()
    )
    kept = F.col("is_keeper")
    return flagged.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(kept, 1)).alias("n_after_dedup"),
        F.count(F.when(kept & F.col("lang_ok"), 1)).alias("n_after_lang"),
        F.count(F.when(kept & F.col("lang_ok") & F.col("quality_ok"), 1)).alias(
            "n_after_quality"
        ),
        F.count(
            F.when(kept & F.col("lang_ok") & F.col("quality_ok") & F.col("clean"), 1)
        ).alias("n_after_decontam"),
    )


@register("t_winnow_fast", oracle=None, bench=True, tags=("dedup", "winnowing", "pandas-udf"))
def t_winnow_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin rolling-hash winnowing (Arrow scale twin, ~9x the
    Catalyst form at sf0.1: one O(chars) NumPy pass per doc vs O(grams*w)
    interpreted lambdas). Different hash family than the md5 oracle form,
    so rows-only; the winnowing guarantee, short-doc edges, and
    partitioning-independence are property-tested in tests/test_llm_ops.py."""
    return WN.winnow_fast(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "t_heavy_hitters",
    oracle=SK.HEAVY_HITTERS_SQL.format(
        tokens_sql=f"SELECT unnest(string_split({_NORM}, ' ')) AS term FROM documents",
        term_col="term",
        phi=0.02,
    ),
    bench=True,
    tags=("text", "sketch", "heavy-hitters"),
)
def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2%-heavy-hitter terms via distributed Misra-Gries candidates
    + exact recount (operators/sketch.py) — the boilerplate/stopword-mining
    sketch. Phase 1 is scan-local O(1/phi) state; the recount touches only
    candidate postings; output is exact, hence the plain-SQL oracle."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(TS.words_of("text")).alias("term")
    )
    return SK.heavy_hitters(toks, "term", phi=0.02)


@register(
    "t_unigram_logprob",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, term
        FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents)
        WHERE term <> ''
    ), vocab AS (
        SELECT term, count(*) AS tf FROM t GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM t
    ), scored AS (
        SELECT doc_id, round(log10(CAST(tf AS DOUBLE) / n), 6) AS lp
        FROM t JOIN vocab USING (term) CROSS JOIN tot
    )
    -- no outer round: the per-token lp values are already 6dp-rounded
    -- and decimal-summed, so the quotient is bit-identical across
    -- engines; an extra round(x, 6) re-introduces half-ULP .5-boundary
    -- divergence (observed at sf0.001: -1.4781995 split HALF_UP/down)
    SELECT doc_id, count(*) AS n_tokens,
           {davg_sql('lp', 6)} AS avg_logprob
    FROM scored GROUP BY 1
    """,
    bench=True,
    tags=("text", "quality", "lm"),
)
def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality score: mean unigram log10-probability per
    document under the corpus's own unigram LM — the cheap stand-in for
    KenLM-perplexity filtering (CCNet/Gopher-style): documents of rare-
    token soup score low, fluent/common-token text scores high.

    Shape at 100 TB: one shuffle tokenizes into (doc, term); the vocab
    aggregate REUSES that exchange (groupBy on its partition key); the
    per-token probability lookup is a shuffle join on ``term`` (vocab is
    Zipf-heavy — at cluster scale broadcast the top-K head and join only
    the tail, or salt the hot terms; here AQE handles the skew); the
    final per-doc mean is one more narrow shuffle. Per-token log-probs
    are rounded to 6dp then decimal-summed (functions/numeric.davg), so
    the mean is bit-deterministic and cross-engine hashable."""
    from boxoffice_spark.functions.numeric import davg

    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(D.normalized_text("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    # vocab is persisted because it feeds BOTH the total (sum of tf — equal
    # to the token row count since empty terms are pre-filtered) and the
    # probability join; without the cache each reference re-evaluates the
    # tokenize + term-shuffle subtree (ReuseExchange does not collapse it).
    from boxoffice_spark.functions.caching import scoped_persist

    vocab = scoped_persist(
        toks.groupBy("term").agg(F.count("*").alias("tf")), "t_unigram_logprob.vocab"
    )
    total = vocab.agg(F.sum("tf").cast("double").alias("n"))
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log10(F.col("tf").cast("double") / F.col("n")), 6).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        davg("lp", 6).alias("avg_logprob"),
    )


@register(
    "t_source_quality_report",
    oracle=f"""
    WITH base AS (
        SELECT source, md5({_NORM}) AS fp,
               {TS.quality_score_sql('text')} AS q,
               {TS.BPEISH_SQL.format(col='text')} AS n_tok
        FROM documents
    )
    SELECT source, count(*) AS n_docs,
           {ratio6_sql('count(*) - count(DISTINCT fp)', 'count(*)')}
               AS dup_rate,
           {davg_sql('q', 6)} AS mean_quality,
           CAST(sum(n_tok) AS BIGINT) AS est_tokens
    FROM base GROUP BY source
    """,
    tags=("text", "quality", "datacard", "source"),
)
def t_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report: document count, within-source exact-dup
    rate, mean heuristic quality, and estimated token volume — the
    domain/feed-level scorecard (RefinedWeb/Dolma-style source triage:
    which feeds to keep, down-weight, or drop before any per-document
    filtering spends compute). One scan, one per-source aggregate; the
    fingerprint distinct swaps for approx_count_distinct at 100 TB."""
    d = table(spark, sf_dir, "documents")
    # r10 legacy conversion: q is the exact ratio6 quality grid (no
    # round(double, 6)); dup_rate is the exact integer ratio
    # (n_docs - n_distinct_fp) / n_docs via ratio6's BIGINT HALF_UP.
    base = d.select(
        "source",
        F.md5(D.normalized_text("text")).alias("fp"),
        TS.quality_score("text").alias("q"),
        TS.bpe_ish_token_count("text").alias("n_tok"),
    )
    from boxoffice_spark.functions.numeric import davg, ratio6

    agg = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("_n_uniq"),
        davg("q", 6).alias("mean_quality"),
        F.sum("n_tok").cast("long").alias("est_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        ratio6("n_docs - _n_uniq", "n_docs").alias("dup_rate"),
        "mean_quality",
        "est_tokens",
    )


@register(
    "t_dup_cluster_sizes",
    oracle=f"""
    WITH groups AS (
        SELECT md5({_NORM}) AS fp, count(*) AS n_copies
        FROM documents GROUP BY 1
    )
    SELECT n_copies AS cluster_size,
           count(*) AS n_clusters,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(sum(n_copies) - count(*) AS BIGINT) AS n_removable
    FROM groups GROUP BY 1
    """,
    tags=("dedup", "report"),
)
def t_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many exact-dup groups of each
    size exist, how many documents they hold, and how many rows dedup
    would remove (size - 1 per cluster) — the before/after sizing report
    every dedup run publishes (cluster_size 1 = unique docs). Composes
    exact_dedup's grouping; two narrow aggregates, output rows = number
    of distinct cluster sizes (tiny at any corpus scale)."""
    groups = D.exact_dedup(table(spark, sf_dir, "documents"), "text", "doc_id")
    return groups.groupBy(F.col("n_copies").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_copies").cast("long").alias("n_docs"),
        (F.sum("n_copies") - F.count("*")).cast("long").alias("n_removable"),
    )


@register(
    "t_perplexity_buckets",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, term
        FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents)
        WHERE term <> ''
    ), vocab AS (
        SELECT term, count(*) AS tf FROM t GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM t
    ), scored AS (
        SELECT doc_id, round(log10(CAST(tf AS DOUBLE) / n), 6) AS lp
        FROM t JOIN vocab USING (term) CROSS JOIN tot
    ), doclp AS (
        SELECT doc_id, {davg_sql('lp', 6)} AS avg_logprob
        FROM scored GROUP BY 1
    ), labeled AS (
        SELECT d.lang, doclp.avg_logprob,
               ntile(3) OVER (
                   PARTITION BY d.lang
                   ORDER BY doclp.avg_logprob DESC, doclp.doc_id
               ) AS t3
        FROM doclp JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           {davg_sql('avg_logprob', 12)} AS mean_logprob
    FROM labeled GROUP BY 1, 2
    """,
    bench=True,
    tags=("text", "quality", "lm", "mixture"),
)
def t_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: every document lands in its
    language's head/middle/tail third by LM score (here the corpus-unigram
    mean log-prob from t_unigram_logprob — the same composition CCNet does
    with KenLM perplexity), reported as per-(lang, bucket) counts and mean
    scores. The head third is what CCNet keeps outright; the tail is what
    quality-focused corpora drop or down-weight.

    Composition, not re-implementation: the per-doc score IS
    t_unigram_logprob's output joined back to the language column. Exact
    tertiles via ntile(3) per language (rank-based, deterministic with the
    (score, doc_id) total order, oracle-able). Scale note: per-lang ntile
    is a per-lang sort; at 100 TB compute the two cutoff scores per
    language on a sample (approx_percentile) and assign buckets with a
    scan-side threshold compare instead — the reported aggregate is the
    same shape, only the boundary is approximate (that IS what CCNet
    ships)."""
    from pyspark.sql import Window

    from boxoffice_spark.functions.numeric import davg

    lp = t_unigram_logprob(spark, sf_dir).select("doc_id", "avg_logprob")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
    t3 = F.ntile(3).over(w)
    bucket = (
        F.when(t3 == 1, "head").when(t3 == 2, "middle").otherwise("tail")
    )
    return (
        lp.join(d, "doc_id")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            # scale=12, not 6: the inputs are sum(6dp-decimals)/n quotients
            # whose doubles can sit exactly ON a 6dp .5 boundary (observed:
            # one bucket mean split HALF_UP/down across engines at scale 6);
            # at 12dp the quotient's true value is far from any boundary.
            davg("avg_logprob", 12).alias("mean_logprob"),
        )
    )


_BIGRAM_PAIRS = (
    "CASE WHEN len(ws) >= 2 THEN "
    "list_transform(generate_series(2, len(ws)), i -> {{'w1': ws[i-1], 'w2': ws[i]}}) "
    "ELSE [] END"
)


@register(
    "t_bigram_backoff_logprob",
    oracle=f"""
    WITH train_toks AS (
        SELECT term FROM (
            SELECT unnest(string_split({_NORM}, ' ')) AS term
            FROM documents WHERE doc_id % 10 <> 0
        ) WHERE term <> ''
    ), uni AS (
        SELECT term, count(*) AS c1 FROM train_toks GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM train_toks
    ), train_bi AS (
        SELECT p.w1, p.w2, count(*) AS c12 FROM (
            SELECT unnest({_BIGRAM_PAIRS.replace('{{', '{').replace('}}', '}')}) AS p
            FROM (SELECT string_split({_NORM}, ' ') AS ws
                  FROM documents WHERE doc_id % 10 <> 0)
        ) WHERE p.w1 <> '' AND p.w2 <> '' GROUP BY 1, 2
    ), batch_pairs AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id, unnest({_BIGRAM_PAIRS.replace('{{', '{').replace('}}', '}')}) AS p
            FROM (SELECT doc_id, string_split({_NORM}, ' ') AS ws
                  FROM documents WHERE doc_id % 10 = 0)
        ) WHERE p.w1 <> '' AND p.w2 <> ''
    ), scored AS (
        SELECT b.doc_id,
               bi.c12 IS NULL AS backed_off,
               round(CASE WHEN bi.c12 IS NOT NULL THEN
                         log10(CAST(bi.c12 AS DOUBLE) / u1.c1)
                     ELSE
                         log10(CAST(0.4 AS DOUBLE)
                               * (CAST(coalesce(u2.c1, 1) AS DOUBLE)
                                  / (SELECT n FROM tot)))
                     END, 6) AS lp
        FROM batch_pairs b
        LEFT JOIN train_bi bi ON bi.w1 = b.w1 AND bi.w2 = b.w2
        LEFT JOIN uni u1 ON u1.term = b.w1
        LEFT JOIN uni u2 ON u2.term = b.w2
    )
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(CASE WHEN backed_off THEN 1 ELSE 0 END) AS INT) AS n_backoff,
           {davg_sql('lp', 6)} AS avg_logprob
    FROM scored GROUP BY 1
    """,
    tags=("text", "quality", "lm"),
)
def t_bigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with stupid backoff (Brants et al. 2007: score 0.4 x
    unigram P when the bigram is unseen), trained on the standing corpus
    (doc_id % 10 != 0) and scoring the incoming batch — one rung up from
    t_unigram_logprob toward KenLM-perplexity ingestion filtering, and
    unlike the unigram form the backoff path actually executes (a batch
    doc's bigrams are not guaranteed seen in training). Emits the backoff
    count per doc too: a high n_backoff with normal avg_logprob flags
    novel-domain text rather than junk.

    Scale shape: adjacent-pair formation is scan-local (an array
    transform, no shuffle, no self-join on token position); bigram/unigram
    count tables shuffle once each on their key; scoring is LEFT JOINs on
    those keys (Zipf-headed — broadcast the head or salt at cluster
    scale); per-doc mean is one narrow shuffle. 6dp-rounded log-probs +
    decimal sums keep the means bit-deterministic cross-engine."""
    from boxoffice_spark.functions.numeric import davg

    d = table(spark, sf_dir, "documents")
    ws = d.select(
        "doc_id",
        (F.col("doc_id") % 10 == 0).alias("_incoming"),
        F.explode(F.array(F.split(D.normalized_text("text"), " "))).alias("_ws"),
    )
    pairs_expr = (
        "CASE WHEN size(_ws) >= 2 THEN "
        "transform(sequence(2, size(_ws)), "
        "i -> struct(element_at(_ws, i - 1) AS w1, element_at(_ws, i) AS w2)) "
        "ELSE cast(array() AS array<struct<w1:string,w2:string>>) END"
    )
    pairs = (
        ws.select("doc_id", "_incoming", F.explode(F.expr(pairs_expr)).alias("_p"))
        .select("doc_id", "_incoming", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    toks = ws.select("_incoming", F.explode("_ws").alias("term")).filter(F.col("term") != "")
    train_toks = toks.filter(~F.col("_incoming"))
    uni = train_toks.groupBy("term").agg(F.count("*").alias("c1"))
    total = train_toks.agg(F.count("*").cast("double").alias("n"))
    train_bi = (
        pairs.filter(~F.col("_incoming")).groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    batch = pairs.filter(F.col("_incoming")).select("doc_id", "w1", "w2")
    u1 = uni.select(F.col("term").alias("w1"), F.col("c1").alias("_c1w1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c1").alias("_c1w2"))
    lp = F.round(
        F.when(
            F.col("c12").isNotNull(),
            F.log10(F.col("c12").cast("double") / F.col("_c1w1")),
        ).otherwise(
            F.log10(
                F.lit(0.4) * (F.coalesce(F.col("_c1w2"), F.lit(1)).cast("double") / F.col("n"))
            )
        ),
        6,
    )
    scored = (
        batch.join(train_bi, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.col("c12").isNull().alias("backed_off"), lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.when(F.col("backed_off"), 1).otherwise(0)).cast("int").alias("n_backoff"),
        davg("lp", 6).alias("avg_logprob"),
    )


@register(
    "t_fixed_size_sample",
    oracle=(
        "SELECT doc_id, lang FROM documents QUALIFY "
        + SMP.fixed_size_sample_sql("text", "lang", 20, "doc_id")
    ),
    tags=("sampling", "deterministic"),
)
def t_fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY 20 docs per language, chosen by deterministic content-hash
    rank (operators/sampling.fixed_size_sample) — the fixed-budget eval-
    set draw that rate-based sampling can't give you. Same rows on every
    run, retry, and engine."""
    d = table(spark, sf_dir, "documents")
    return SMP.fixed_size_sample(d, "text", "lang", 20, tie_col="doc_id").select(
        "doc_id", "lang"
    )


@register(
    "t_line_dedup",
    oracle=D.LINE_DEDUP_SQL.format(table="documents", id_col="doc_id", norm=_NORM, u=8),
    bench=True,
    tags=("dedup", "span", "c4"),
)
def t_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup (operators/dedup.line_dedup): every distinct
    8-word unit keeps only its first corpus occurrence; documents come
    back reassembled with duplicate spans cut and kept/dropped counts.
    The span-level tier between exact-dedup and the pair generators."""
    return D.line_dedup(table(spark, sf_dir, "documents"), "doc_id", "text", unit_words=8)


@register(
    "t_boilerplate_units",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ), segs AS (
        SELECT doc_id,
               array_to_string(list_slice(words, s * 8 + 1, s * 8 + 8), ' ') AS line
        FROM (
            SELECT doc_id, words,
                   unnest(range(CAST(ceil(len(words) / 8.0) AS BIGINT))) AS s
            FROM w WHERE len(words) > 0
        )
        WHERE array_to_string(list_slice(words, s * 8 + 1, s * 8 + 8), ' ') <> ''
    ), freq AS (
        SELECT line, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
        FROM segs GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
    )
    SELECT line, n_docs, n_occurrences,
           CAST(row_number() OVER (ORDER BY n_docs DESC, line) AS INT) AS rnk
    FROM freq ORDER BY rnk LIMIT 50
    """,
    tags=("dedup", "span", "boilerplate"),
)
def t_boilerplate_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the 8-word units shared by >= 3 distinct
    documents, ranked by document reach — the survey step before span
    dedup (t_line_dedup removes repeats mechanically; this query shows
    WHAT the repeated spans are: navigation chrome, license headers,
    template sentences — CCNet/RefinedWeb run exactly this to build
    boilerplate blocklists). Same scan-local tiling as line_dedup
    (operators/dedup.doc_units); one (unit) shuffle folds both counts
    from the (line, doc) pre-aggregate; top-k before rank keeps the
    global window off the full unit vocabulary."""
    segs = D.doc_units(table(spark, sf_dir, "documents"), "doc_id", "text", 8)
    per_doc = segs.groupBy("line", "doc_id").agg(F.count("*").alias("c"))
    freq = (
        per_doc.groupBy("line")
        .agg(F.count("*").alias("n_docs"), F.sum("c").alias("n_occurrences"))
        .filter(F.col("n_docs") >= 3)
    )
    top = freq.orderBy(F.desc("n_docs"), F.asc("line")).limit(50)
    from pyspark.sql import Window as W

    rnk = F.row_number().over(W.orderBy(F.desc("n_docs"), F.asc("line")))
    return top.withColumn("rnk", rnk).orderBy("rnk")


@register(
    "t_mixture_rebalance",
    oracle=f"""
    WITH toks AS (
        SELECT lang, text, {TS.BPEISH_SQL.format(col='text')} AS n_tok FROM documents
    ), counts AS (
        SELECT lang, count(*) AS n_before, sum(n_tok) AS tokens_before,
               least(1.0, (CAST(sum(sum(n_tok)) OVER () AS DOUBLE)
                           / count(*) OVER ()) / sum(n_tok)) AS keep_rate
        FROM toks GROUP BY lang
    ), kept AS (
        SELECT d.lang, d.n_tok
        FROM toks d JOIN counts c USING (lang)
        WHERE CAST(('0x' || substr(md5('s1' || d.text), 1, 8)) AS BIGINT)
              < c.keep_rate * 4294967296.0
    )
    SELECT c.lang, CAST(c.n_before AS BIGINT) AS n_before,
           CAST(c.tokens_before AS BIGINT) AS tokens_before,
           round(c.keep_rate, 6) AS keep_rate,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
    FROM counts c
    LEFT JOIN (SELECT lang, count(*) AS n_kept, sum(n_tok) AS tokens_kept
               FROM kept GROUP BY 1) k USING (lang)
    """,
    tags=("sampling", "mixture", "tokens"),
)
def t_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing in TOKEN units: derive per-language
    keep-rates IN-PLAN from the measured TOKEN distribution (target =
    uniform token share; rate = min(1, target_tokens / lang_tokens) with
    est_tokens from the BPE-ish heuristic — tokens, not doc counts, are
    what a training-mixture budget is written in) and apply them with the
    same retry-safe content-hash filter as t_stratified_sample — the
    'remix the corpus toward a target mixture' pass (Pile/DoReMi-style
    static reweighting). Over-represented languages are down-sampled, the
    rest pass through whole; the report carries before/after doc AND token
    volumes. One scan for counts (broadcast back), one for the filtered
    count — no shuffle of the corpus itself. Sampling docs by token-derived
    rates only approximates the token target (long docs weigh more) —
    exactly how production mixers do it; the tokens_kept column is the
    achieved number."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "lang", "text", TS.bpe_ish_token_count("text").alias("n_tok")
    )
    w = Window.partitionBy()
    counts = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_before"), F.sum("n_tok").alias("tokens_before"))
        .withColumn(
            "keep_rate",
            F.least(
                F.lit(1.0),
                (F.sum("tokens_before").over(w).cast("double") / F.count("*").over(w))
                / F.col("tokens_before"),
            ),
        )
    )
    bucket = F.conv(F.substring(F.md5(F.concat(F.lit("s1"), F.col("text"))), 1, 8), 16, 10).cast("long")
    kept = (
        d.join(F.broadcast(counts), "lang")
        .filter(bucket < F.col("keep_rate") * F.lit(4294967296.0))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.sum("n_tok").alias("tokens_kept"))
    )
    return (
        counts.join(kept, "lang", "left")
        .select(
            "lang",
            "n_before",
            F.col("tokens_before").cast("long").alias("tokens_before"),
            F.round("keep_rate", 6).alias("keep_rate"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"),
        )
    )


_BM25_QUERIES = [
    (1, ["hash", "join"]),
    (2, ["vector", "scan", "filter"]),
    (3, ["customer", "order"]),
]
_BM25_Q_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in terms
)


@register(
    "t_sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, doc_id % 8 AS shard,
               {TS.BPEISH_SQL.format(col='text')} AS n_tok
        FROM documents
    ), binned AS (
        SELECT lang, shard, n_tok,
               CAST(floor(coalesce(sum(n_tok) OVER (
                   PARTITION BY lang, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2048.0) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT lang, CAST(shard AS BIGINT) AS shard, bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens,
           round(CAST(sum(n_tok) AS DOUBLE) / 2048.0, 6) AS fill_rate
    FROM binned GROUP BY lang, shard, bin_id
    """,
    bench=True,
    tags=("text", "packing", "tokens"),
)
def t_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign documents to fixed token-budget
    bins (2048 est. tokens) by deterministic contiguous fill — each doc
    joins the bin its cumulative-token start position falls in, streaming
    in doc_id order. The 'sample packing' step every pretraining loader
    runs before writing shuffled training shards; a doc longer than the
    budget overflows its bin (belongs where it starts), matching greedy
    contiguous packers.

    Scale shape: packing is per (lang, shard) — doc_id % 8 here, file- or
    partition-sized shards in production — NEVER a global stream: each
    shard's cumulative sum is an independent window partition, so the
    packing of a 100 TB corpus is embarrassingly parallel and adding
    shards never reassigns existing bins within a shard. One shuffle on
    (lang, shard), one partition-local sort, tiny per-bin aggregate out."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 8).alias("shard"),
        TS.bpe_ish_token_count("text").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = d.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / F.lit(2048.0)),
    )
    return binned.groupBy("lang", "shard", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tokens"),
        F.round(F.sum("n_tok").cast("double") / F.lit(2048.0), 6).alias("fill_rate"),
    )


@register(
    "t_bm25_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, term FROM (
            SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
        ) WHERE term <> ''
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), doclen AS (
        SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
    ), stats AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM doclen
    ), dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), q(query_id, term) AS (VALUES {_BM25_Q_VALUES}),
    scored_raw AS (
        SELECT q.query_id, tf.doc_id,
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
               / (tf.tf + CAST(1.2 AS DOUBLE)
                  * (1.0 - CAST(0.75 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl))
                   AS ts_raw
        FROM q
        JOIN tf ON tf.term = q.term
        JOIN dfreq d ON d.term = q.term
        JOIN doclen dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT query_id, doc_id, {fround_sql('ts_raw', 6)} AS term_score
        FROM scored_raw
    )
    SELECT query_id, doc_id, score, rank FROM (
        SELECT query_id, doc_id,
               cast(sum(cast((term_score) as decimal(27,6))) as double) AS score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cast(sum(cast((term_score) as decimal(27,6))) as double) DESC,
                            doc_id
               ) AS INT) AS rank
        FROM scored GROUP BY query_id, doc_id
    ) WHERE rank <= 10
    """,
    bench=True,
    tags=("text", "retrieval", "bm25"),
)
def t_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked multi-term full-text search: BM25 top-10 documents for three
    keyword queries (operators/textstats.bm25_topk) — the reference
    dashboard's keyword filter generalized to scored retrieval. One
    tokenize + tf shuffle builds the inverted index; query terms, their
    idf rows, and corpus stats broadcast; term scores land on the 6dp
    grid via fround's pinned HALF_UP (r10 conversion) and decimal-sum
    value-preservingly, so BM25 ranking is bit-deterministic — hence the
    exact DuckDB oracle, which BM25 pipelines normally cannot have."""
    from boxoffice_spark.operators.textstats import bm25_topk

    return bm25_topk(
        table(spark, sf_dir, "documents"), "doc_id", "text", _BM25_QUERIES, k=10
    )


_RRF_PROBES = {1: 10, 2: 20, 3: 30}  # BM25 query_id -> probe embedding vec_id
_RRF_PM_VALUES = ", ".join(f"({q}, {p})" for q, p in _RRF_PROBES.items())


@register(
    "t_hybrid_rrf_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, term FROM (
            SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
        ) WHERE term <> ''
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), doclen AS (
        SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
    ), stats AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM doclen
    ), dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), q(query_id, term) AS (VALUES {_BM25_Q_VALUES}),
    bm_raw AS (
        SELECT q.query_id, tf.doc_id,
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
               / (tf.tf + CAST(1.2 AS DOUBLE)
                  * (1.0 - CAST(0.75 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl))
                   AS ts_raw
        FROM q
        JOIN tf ON tf.term = q.term
        JOIN dfreq d ON d.term = q.term
        JOIN doclen dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    ),
    bm_scored AS (
        SELECT query_id, doc_id, {fround_sql('ts_raw', 6)} AS term_score
        FROM bm_raw
    ),
    lex AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cast(sum(cast((term_score) as decimal(27,6))) as double) DESC,
                                doc_id
                   ) AS INT) AS rank
            FROM bm_scored GROUP BY query_id, doc_id
        ) WHERE rank <= 20
    ),
    pm(query_id, probe_id) AS (VALUES {_RRF_PM_VALUES}),
    sem AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT pm.query_id, e2.vec_id AS doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY pm.query_id
                       ORDER BY {fround_sql('''list_cosine_similarity(
                                    CAST(e1.embedding AS DOUBLE[]),
                                    CAST(e2.embedding AS DOUBLE[]))''', 6)}
                                DESC,
                                e2.vec_id
                   ) AS INT) AS rank
            FROM pm
            JOIN embeddings e1 ON e1.vec_id = pm.probe_id
            JOIN embeddings e2 ON e2.vec_id <> pm.probe_id
        ) WHERE rank <= 20
    ),
    fused AS (
        SELECT query_id, doc_id,
               {fround_sql('CAST(sum(u) AS DOUBLE) / 1e10', 6)} AS rrf_score
        FROM (SELECT query_id, doc_id,
                     {units_div_sql('1', '60 + rank', 10)} AS u
              FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem))
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, rrf_score, rank FROM (
        SELECT query_id, doc_id, rrf_score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
               ) AS INT) AS rank
        FROM fused
    ) WHERE rank <= 10
    """,
    bench=True,
    tags=("text", "retrieval", "hybrid", "vector"),
)
def t_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval via reciprocal-rank fusion
    (operators/textstats.rrf_fuse): the BM25 top-20 list and an
    embedding-cosine top-20 list (each query anchored to a probe doc's
    vector — doc_id and vec_id align 1:1 in the corpus) fuse by
    1/(60+rank) into a final top-10 per query. The standard two-tower
    retrieval combiner: no score calibration across incomparable scales,
    only ranks. Both input rankers are the already-registered oracle-
    exact operators, and the fusion arithmetic is exact-integer
    (1e-10-unit contributions summed as BIGINTs, fround-pinned output
    grid — r10 conversion), so the hybrid ranking itself is cell-exact
    against DuckDB.

    Scale shape: corpus bytes are touched only inside the two upstream
    rankers (each scale-audited on its own); the fusion runs on
    |queries| x 20 candidate rows — broadcast-sized at any corpus SF."""
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = TS.bm25_topk(docs, "doc_id", "text", _BM25_QUERIES, k=20).select(
        "query_id", "doc_id", "rank"
    )
    probe_to_query = F.create_map(
        *[F.lit(x) for q, p in _RRF_PROBES.items() for x in (p, q)]
    )
    sem = (
        cosine_topk_arrow(
            emb, emb.filter(F.col("vec_id").isin(list(_RRF_PROBES.values()))), k=20
        )
        .select(
            probe_to_query[F.col("query_id")].cast("int").alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            "rank",
        )
    )
    return TS.rrf_fuse([lex, sem], k=10, c=60)


@register(
    "t_train_val_test_split",
    oracle=f"""
    SELECT lang, {SMP.train_val_test_split_sql('text')} AS split,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("sampling", "split", "deterministic"),
)
def t_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash
    (operators/sampling.train_val_test_split): disjoint by construction
    (one hash, three bands), retry/re-run/repartition stable, and stable
    under corpus growth — appended docs never reassign existing ones.
    Reported as per-(lang, split) counts; the assignment itself is a
    zero-shuffle scan-side expression."""
    d = table(spark, sf_dir, "documents")
    return (
        SMP.train_val_test_split(d, "text")
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "t_corpus_datacard",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, md5({_NORM}) AS fp, length(text) AS n_chars,
               len(list_filter(string_split({_NORM}, ' '), t -> t <> '')) AS n_words,
               {TS.BPEISH_SQL.format(col='text')} AS n_tok
        FROM documents
    )
    SELECT
        count(*) AS n_docs,
        CAST(count(DISTINCT lang) AS INT) AS n_langs,
        CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
        {ratio6_sql('count(*) - count(DISTINCT fp)', 'count(*)')} AS dup_rate,
        CAST(sum(n_words) AS BIGINT) AS total_words,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(sum(n_tok) AS BIGINT) AS est_tokens
    FROM base
    """,
    tags=("text", "datacard"),
)
def t_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset datasheet in one row: corpus size, language spread,
    exact-duplicate rate (distinct content fingerprints vs rows), and
    word/char/TOKEN volume — est_tokens uses the open BPE-ish regex
    heuristic (letter/digit runs + single marks, operators/textstats.
    bpe_ish_token_count), the unit LLM-pipeline users budget corpora in.
    The header of every data card / dataset release note, produced in ONE
    scan + one aggregate (count(DISTINCT fp) and count(DISTINCT lang)
    share the Expand pass; at 100 TB swap the fingerprint distinct for
    approx_count_distinct and keep the scan count at one)."""
    d = table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(D.normalized_text("text"), " "), lambda t: t != ""
    )
    base = d.select(
        "lang",
        D.normalized_text("text").alias("_n"),
        F.length("text").alias("n_chars"),
        F.size(words).alias("n_words"),
        TS.bpe_ish_token_count("text").alias("n_tok"),
    ).select("lang", F.md5("_n").alias("fp"), "n_chars", "n_words", "n_tok")
    # r10 legacy conversion: dup_rate is the exact integer ratio
    # (n_docs - n_unique) / n_docs via ratio6's BIGINT HALF_UP.
    agg = base.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").cast("int").alias("n_langs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tok").cast("long").alias("est_tokens"),
    )
    return agg.select(
        "n_docs",
        "n_langs",
        "n_unique",
        ratio6("n_docs - n_unique", "n_docs").alias("dup_rate"),
        "total_words",
        "total_chars",
        "est_tokens",
    )


@register(
    "t_lang_token_mix",
    oracle=f"""
    WITH base AS (
        SELECT lang, {TS.BPEISH_SQL.format(col='text')} AS n_tok FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS est_tokens,
           round(CAST(sum(n_tok) AS DOUBLE) / sum(sum(n_tok)) OVER (), 6)
               AS token_share
    FROM base GROUP BY lang
    """,
    tags=("text", "datacard", "tokens"),
)
def t_lang_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token budget: document count, estimated tokens
    (BPE-ish regex heuristic) and each language's share of the corpus
    token total — the datacard's language-mix section in the unit training
    runs are budgeted in. One scan + one tiny per-lang aggregate; the
    share's global total is a window over the handful of lang rows."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy()
    return (
        d.select("lang", TS.bpe_ish_token_count("text").alias("n_tok"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").cast("long").alias("est_tokens"))
        .select(
            "lang",
            "n_docs",
            "est_tokens",
            F.round(
                F.col("est_tokens").cast("double") / F.sum("est_tokens").over(w), 6
            ).alias("token_share"),
        )
    )


@register(
    "t_dsir_weights",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, substr(md5(term), 1, 2) AS b
        FROM (SELECT doc_id, source, unnest(string_split({_NORM}, ' ')) AS term
              FROM documents)
        WHERE term <> ''
    ), bucket AS (
        SELECT b,
               sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
               sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
        FROM t GROUP BY 1
    ), tot AS (
        SELECT sum(ct) AS nt, sum(cr) AS nr FROM bucket
    ), lw AS (
        SELECT b, round(log10(
                   ((CAST(ct AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + 256.0))
                 / ((CAST(cr AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 256.0))
               ), 6) AS lw
        FROM bucket CROSS JOIN tot
    )
    SELECT doc_id, count(*) AS n_tok, {dsum_sql('lw', 6)} AS dsir_logratio
    FROM t JOIN lw USING (b)
    WHERE source <> 'src0'
    GROUP BY 1
    """,
    bench=True,
    tags=("text", "sampling", "dsir"),
)
def t_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public method): score
    every RAW document (source != 'src0') by its hashed-unigram importance
    log-ratio against the TARGET distribution (source = 'src0'). Words
    hash into 256 md5 buckets; per-bucket add-one-smoothed probabilities
    under target and raw give log10(p_target/p_raw) per bucket; a doc's
    weight is the sum of its tokens' bucket log-ratios. Downstream,
    resampling keeps the top-weight slice (or hash-thinned
    weight-proportional acceptance — see operators/sampling.py).

    Shape at 100 TB: one tokenize pass -> 256-row bucket aggregate
    (map-side partial combine collapses everything to 256 groups per
    partition — the shuffle is bytes, not rows), broadcast back onto the
    token stream, then ONE per-doc aggregation shuffle. No vocab-sized
    join state, no skew exposure (bucket cardinality is fixed at 256 by
    construction). Per-token log-ratios are 6dp-rounded and
    decimal-summed (functions/numeric.dsum) for cross-engine
    bit-determinism."""
    from boxoffice_spark.functions.numeric import dsum

    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split(D.normalized_text("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .select("doc_id", "source", F.substring(F.md5("term"), 1, 2).alias("b"))
    )
    is_t = (F.col("source") == "src0").cast("long")
    # the 256-row bucket table feeds BOTH the totals and the log-weight
    # join; uncached, each consumer re-runs the full corpus tokenize +
    # bucket shuffle (Spark does not collapse the shared subtree) — the
    # cache turns 3 corpus passes into 2 (count pass + scoring pass, the
    # inherent minimum for a two-pass estimator)
    from boxoffice_spark.functions.caching import scoped_persist

    bucket = scoped_persist(
        toks.groupBy("b").agg(F.sum(is_t).alias("ct"), F.sum(1 - is_t).alias("cr")),
        "t_dsir_weights.bucket",
    )
    tot = bucket.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    lw = bucket.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log10(
                ((F.col("ct").cast("double") + 1.0) / (F.col("nt").cast("double") + 256.0))
                / ((F.col("cr").cast("double") + 1.0) / (F.col("nr").cast("double") + 256.0))
            ),
            6,
        ).alias("lw"),
    )
    return (
        toks.filter(F.col("source") != "src0")
        .join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"), dsum("lw", 6).alias("dsir_logratio"))
    )


def _keep_best_ranked(d: DataFrame) -> DataFrame:
    """The SHARED keep-best pipeline: simhash near-dup pairs -> connected
    components -> quality join -> per-cluster rank (quality desc, doc_id
    asc tiebreak). t_dedup_keep_best (the decision report) and
    t_dedup_apply (the materialization) both consume this — one
    definition, so the canonicalization rule can never desynchronize
    between the two queries that must agree doc-for-doc."""
    from pyspark.sql import Window
    from boxoffice_spark.operators.graph import connected_components

    pairs = D.simhash_hamming_pairs(d, "doc_id", "text")
    members = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    scored = members.join(
        d.select("doc_id", TS.quality_score("text").alias("q")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), F.asc("doc_id"))
    return scored.withColumn("rn", F.row_number().over(w))



@register(
    "t_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        {D.simhash_hamming_pairs_sql("documents", "doc_id", "text")}
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach AS (
        SELECT a AS node, a AS comp FROM edges
        UNION
        SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON e.b = r.node
    ),
    members AS (
        SELECT node AS doc_id, CAST(min(comp) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    ),
    scored AS (
        SELECT m.cluster_id, m.doc_id, {TS.quality_score_sql('text')} AS q
        FROM members m JOIN documents USING (doc_id)
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) AS rn
        FROM scored
    )
    SELECT cluster_id, count(*) AS n_members,
           max(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
           max(CASE WHEN rn = 1 THEN q END) AS keeper_q
    FROM ranked GROUP BY 1
    """,
    tags=("dedup", "graph", "quality"),
)
def t_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonicalization decision AFTER clustering: within each
    near-dup cluster keep the highest-quality member (quality_score
    desc, doc_id asc tiebreak) — real pipelines keep the best duplicate,
    not an arbitrary min-id one. Output: one row per cluster with its
    size, the surviving doc, and its quality.

    Shape at 100 TB: cluster labels from connected_components (pair graph
    is LSH/Hamming-bucketed, far smaller than the corpus), one key join
    back to documents for the quality column, then a window partitioned
    by cluster_id — clusters are small by construction (pair caps bound
    them), so the window never sees a giant partition."""
    ranked = _keep_best_ranked(table(spark, sf_dir, "documents"))
    return ranked.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_id"),
        F.max(F.when(F.col("rn") == 1, F.col("q"))).alias("keeper_q"),
    )


@register(
    "t_cross_source_dup_matrix",
    oracle=f"""
    WITH pairs AS (
        {D.simhash_hamming_pairs_sql("documents", "doc_id", "text")}
    )
    SELECT least(a.source, b.source) AS source_lo,
           greatest(a.source, b.source) AS source_hi,
           count(*) AS n_dup_pairs
    FROM pairs p
    JOIN documents a ON a.doc_id = p.id_a
    JOIN documents b ON b.doc_id = p.id_b
    GROUP BY 1, 2
    """,
    tags=("dedup", "datacard", "sources"),
)
def t_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE duplication comes from: near-dup pair counts by (unordered)
    source pair — the datacard view that exposes mirror sites and
    cross-source scrapes (a hot off-diagonal cell means two feeds crawl
    the same upstream; a hot diagonal cell means one feed re-serves its
    own content). Drives source-level triage before any per-doc work.

    Shape at 100 TB: the pair table is LSH/Hamming-bucketed (tiny vs the
    corpus); two key joins attach each endpoint's source — at cluster
    scale the (doc_id, source) projection is itself small enough to
    broadcast or bucket — then a low-cardinality aggregate (sources x
    sources) that partial-combines to almost nothing."""
    d = table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    pairs = D.simhash_hamming_pairs(d, "doc_id", "text")
    joined = (
        pairs.join(src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "_sa"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "_sb"), "id_b")
    )
    return (
        joined.select(
            F.least("_sa", "_sb").alias("source_lo"),
            F.greatest("_sa", "_sb").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count("*").alias("n_dup_pairs"))
    )


@register("t_compression_gate", oracle=None, bench=True, tags=("text", "quality", "pandas-udf"))
def t_compression_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy gate: per-doc zlib compression ratio
    (operators/textstats.compression_signal) with pass/fail flags at the
    standard band — too-compressible (< 0.25: repetitive boilerplate) and
    too-incompressible (> 0.95: non-text noise) both fail. Rows-only (no
    codec in the oracle); determinism + band properties are asserted in
    tests/test_llm_ops.py. Scan-bound Arrow pass, zero shuffle."""
    sig = TS.compression_signal(table(spark, sf_dir, "documents"), "doc_id", "text")
    return sig.withColumn(
        "entropy_ok",
        F.col("compression_ratio").between(0.25, 0.95),
    )


@register(
    "t_dedup_apply",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        {D.simhash_hamming_pairs_sql("documents", "doc_id", "text")}
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach AS (
        SELECT a AS node, a AS comp FROM edges
        UNION
        SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON e.b = r.node
    ),
    members AS (
        SELECT node AS doc_id FROM reach GROUP BY node
    ),
    ranked AS (
        SELECT m.doc_id,
               row_number() OVER (
                   PARTITION BY (SELECT min(r2.comp) FROM reach r2 WHERE r2.node = m.doc_id)
                   ORDER BY {TS.quality_score_sql('text')} DESC, m.doc_id ASC) AS rn
        FROM members m JOIN documents USING (doc_id)
    )
    SELECT d.doc_id, 'unique' AS kept_reason
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM members m WHERE m.doc_id = d.doc_id)
    UNION ALL
    SELECT doc_id, 'cluster_keeper' AS kept_reason FROM ranked WHERE rn = 1
    """,
    tags=("dedup", "apply"),
)
def t_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZATION step of near-dup dedup: the surviving corpus
    view. Every document outside any near-dup cluster passes through as
    'unique'; each cluster contributes exactly its keep-best member
    (quality desc, doc_id asc — same rule as t_dedup_keep_best) as
    'cluster_keeper'. This is the frame a pipeline actually writes out
    after t_dedup_keep_best makes the per-cluster decision.

    Shape at 100 TB: cluster membership (tiny vs corpus) LEFT ANTI-probes
    the corpus for the unique tier — members broadcast when small,
    hash-keyed semi otherwise; the keeper tier is the bounded per-cluster
    window from t_dedup_keep_best. Corpus scanned once per tier."""
    d = table(spark, sf_dir, "documents")
    ranked = _keep_best_ranked(d)
    uniques = d.select("doc_id").join(
        ranked.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.lit("unique").alias("kept_reason"))
    keepers = ranked.filter(F.col("rn") == 1).select(
        "doc_id", F.lit("cluster_keeper").alias("kept_reason")
    )
    return uniques.unionByName(keepers)


# Deliberately tame placeholder blocklist: the operator contract is the
# SHAPE (broadcast term set -> per-doc hit counts -> gate), not the list;
# production swaps in a real curated blocklist of any size.
_BLOCKLIST = ["slow", "error", "crash", "broken", "fail"]
_BLOCKLIST_SQL = "[" + ", ".join(f"'{w}'" for w in _BLOCKLIST) + "]"


@register(
    "t_blocklist_gate",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               len(list_filter(string_split({_NORM}, ' '),
                               w -> list_contains({_BLOCKLIST_SQL}, w))) AS n_hits,
               len(list_filter(string_split({_NORM}, ' '), w -> w <> '')) AS n_words
        FROM documents
    )
    SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
           {ratio6_sql('n_hits', 'greatest(n_words, 1)')} AS hit_ratio,
           n_hits = 0 AS blocklist_ok
    FROM scored
    """,
    tags=("text", "quality", "safety"),
)
def t_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-based content gate (the C4-style badword filter shape):
    per-document count of blocklist-term OCCURRENCES over normalized
    words, the hit ratio, and the pass flag. The list here is a tame
    5-term placeholder — the contract is the mechanics: the blocklist
    broadcasts as a literal array, matching runs inside whole-stage
    codegen (array_contains per token via a filter lambda), zero shuffle,
    one corpus scan. At a 100k-term production list, swap the literal for
    a broadcast join against the tokenized stream (the t_decontamination
    probe layout) — same output contract."""
    words = F.filter(
        F.split(D.normalized_text("text"), " "), lambda w: w != F.lit("")
    )
    bl = F.array(*[F.lit(w) for w in _BLOCKLIST])
    hits = F.size(F.filter(words, lambda w: F.array_contains(bl, w)))
    d = table(spark, sf_dir, "documents")
    # r10 legacy conversion: hit_ratio is the exact integer ratio
    # n_hits / max(n_words, 1) via ratio6's BIGINT HALF_UP.
    scored = d.select(
        "doc_id",
        hits.cast("long").alias("n_hits"),
        F.size(words).alias("n_words"),
    )
    return scored.select(
        "doc_id",
        "n_hits",
        ratio6("n_hits", "greatest(n_words, 1)").alias("hit_ratio"),
        (F.col("n_hits") == 0).alias("blocklist_ok"),
    )


@register(
    "dq_pii_prevalence",
    oracle=f"""
    WITH aug AS (
        SELECT source,
               CASE WHEN doc_id % 3 = 0 THEN {_PII_AUG_SQL} ELSE text END AS t
        FROM documents
    ),
    flags AS (
        SELECT source,
               len(regexp_extract_all(t, '{CL.EMAIL_RE}')) > 0 AS has_email,
               len(regexp_extract_all(t, '{CL.PHONE_RE}')) > 0 AS has_phone
        FROM aug
    )
    SELECT source, count(*) AS n_docs,
           CAST(count(*) FILTER (has_email) AS BIGINT) AS docs_with_email,
           CAST(count(*) FILTER (has_phone) AS BIGINT) AS docs_with_phone,
           {ratio6_sql('count(*) FILTER (has_email OR has_phone)',
                       'count(*)')} AS pii_rate
    FROM flags GROUP BY 1
    """,
    tags=("quality", "pii", "privacy"),
)
def dq_pii_prevalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII prevalence BY SOURCE — the privacy scorecard a
    corpus publishes before shipping (and the triage view that decides
    which feeds need the redaction pass at all; t_pii_redact is the
    per-doc scrub). The fixture carries no organic PII, so a
    deterministic third of documents (doc_id % 3 = 0) get the same
    synthetic contact line t_pii_redact uses — prevalence is then a real
    ~33% signal, not a vacuous 0% or 100%.

    Shape at 100 TB: one scan, per-doc regex flags inside codegen, one
    low-cardinality per-source aggregate. count(when(...)) counters —
    never sum over a nullable predicate."""
    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com tel +82 10-55"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                F.lit("-1234"),
            ),
        ).otherwise(F.col("text")).alias("t"),
    )
    flags = aug.select(
        "source",
        (F.regexp_count("t", F.lit(CL.EMAIL_RE)) > 0).alias("has_email"),
        (F.regexp_count("t", F.lit(CL.PHONE_RE)) > 0).alias("has_phone"),
    )
    # r10 legacy conversion: pii_rate is the exact integer ratio via
    # ratio6's BIGINT HALF_UP.
    agg = flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("has_email"), 1)).alias("docs_with_email"),
        F.count(F.when(F.col("has_phone"), 1)).alias("docs_with_phone"),
        F.count(F.when(F.col("has_email") | F.col("has_phone"), 1)).alias(
            "_n_pii"
        ),
    )
    return agg.select(
        "source",
        "n_docs",
        "docs_with_email",
        "docs_with_phone",
        ratio6("_n_pii", "n_docs").alias("pii_rate"),
    )


@register(
    "t_incremental_dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "iterative", "incremental"),
)
def t_incremental_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance (operators/graph.
    incremental_components): the standing corpus' components (pairs among
    doc_id % 10 != 0) absorb the incoming batch's pair edges (any pair
    touching a batch doc) by relabeling through a quotient super-graph —
    one super-node per affected cluster label — instead of re-running
    components over the full pair graph. The oracle IS the full recompute
    (the same recursive-CTE transitive closure as t_dedup_clusters), so
    the driver checks algebraic equivalence end-to-end: incremental
    merge == from-scratch clustering, label for label. In production the
    standing labeling is a stored table and only the batch's pairs are
    generated (LSH probe of the index); here both sides derive from the
    fixture for the equality check."""
    from boxoffice_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    pairs = D.simhash_hamming_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).localCheckpoint()
    is_corpus = (F.col("id_a") % 10 != 0) & (F.col("id_b") % 10 != 0)
    standing = connected_components(pairs.filter(is_corpus), "id_a", "id_b")
    merged = incremental_components(standing, pairs.filter(~is_corpus), "id_a", "id_b")
    return merged.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "t_pii_pseudonymize",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents),
    hits AS (
        SELECT doc_id, 'email' AS pii_type,
               unnest(regexp_extract_all(t, '{CL.EMAIL_RE}')) AS raw
        FROM aug
        UNION ALL
        SELECT doc_id, 'phone' AS pii_type,
               unnest(regexp_extract_all(t, '{CL.PHONE_RE}')) AS raw
        FROM aug
    )
    SELECT pii_type, substr(md5(raw), 1, 16) AS surrogate,
           count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
    FROM hits GROUP BY 1, 2
    """,
    tags=("text", "pii", "privacy"),
)
def t_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pseudonymization — the join-preserving complement of
    t_pii_redact's destructive masking: every detected email/phone maps
    to a DETERMINISTIC surrogate (here a truncated md5 of the raw value;
    production swaps in a keyed HMAC so surrogates can't be replayed
    offline), so the same identity links across documents after the scrub
    — the per-surrogate n_docs column IS the preserved referential
    integrity (the fixture's synthetic phone lines repeat across docs and
    must collapse to shared surrogates; emails are per-doc unique). One
    scan, codegen regex extraction, one narrow aggregate on the (tiny)
    hit set — corpus text never shuffles."""
    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel +82 10-55"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-1234"),
        ).alias("t"),
    )
    hits = None
    for pii_type, pattern in (("email", CL.EMAIL_RE), ("phone", CL.PHONE_RE)):
        part = aug.select(
            "doc_id",
            F.lit(pii_type).alias("pii_type"),
            F.explode(F.regexp_extract_all("t", F.lit(pattern), 0)).alias("raw"),
        )
        hits = part if hits is None else hits.unionByName(part)
    return hits.groupBy(
        "pii_type", F.substring(F.md5("raw"), 1, 16).alias("surrogate")
    ).agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "t_quality_classifier",
    oracle=None,
    bench=True,
    tags=("text", "quality", "model", "classifier"),
)
def t_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision quality filter (operators/quality.
    quality_classifier_score) — the fastText/CCNet distillation shape:
    the corpus-LM mean log-prob (t_unigram_logprob, the 'expensive'
    teacher signal) weak-labels docs above/below its corpus median, a
    seeded driver-side logistic regression fits five cheap codegen
    features (log word count, mean word length, stopword/punct ratios,
    vocabulary diversity) on a bounded salted-hash sample, and the WHOLE
    corpus is scored by literal-weight Catalyst expressions — the 100 TB
    scoring pass is scan-bound codegen, with the LM pipeline nowhere in
    it. (At 100 TB the teacher also scores only the sample, not the
    corpus — here the fixture reuses the registered LM query whole so the
    label side shares its oracle-checked semantics.) Rows-only (the fit
    is not SQL-expressible); determinism,
    separation, range, and a Python-free scoring plan are pinned in
    tests/test_retrieval_er.py. The teacher LM frame is scope-persisted:
    it feeds two driver-side actions (the median collect and the
    bounded training-sample collect), and without the persist the
    corpus-scaling tokenize+join pipeline executed once per action —
    the sf1 growth probe's 0.69 exponent was that doubled pass."""
    from boxoffice_spark.functions.caching import scoped_persist
    from boxoffice_spark.operators.quality import quality_classifier_score

    d = table(spark, sf_dir, "documents")
    lm = scoped_persist(
        t_unigram_logprob(spark, sf_dir), "t_quality_classifier.lm"
    )
    median = lm.agg(
        F.expr("percentile(avg_logprob, 0.5)").alias("m")
    ).collect()[0]["m"]
    labels = lm.select(
        "doc_id", (F.col("avg_logprob") >= F.lit(float(median))).cast("int").alias("label")
    )
    return quality_classifier_score(d, "doc_id", "text", labels, train_size=400)


_GROUP_HASH_SQL = D.WORD_HASH_SQL.format(w="CAST(group_key AS VARCHAR)")

_SPLIT_ORACLE = f"""
WITH RECURSIVE pairs AS (
    {D.simhash_hamming_pairs_sql("documents", "doc_id", "text")}
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
    SELECT a AS node, a AS comp FROM edges
    UNION
    SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON e.b = r.node
),
labels AS (
    SELECT node AS doc_id, CAST(min(comp) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
),
keyed AS (
    SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS group_key
    FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
)
SELECT doc_id, group_key,
       CASE WHEN {_GROUP_HASH_SQL} % 100 < 80 THEN 'train'
            WHEN {_GROUP_HASH_SQL} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM keyed
"""


@register(
    "t_cluster_safe_split",
    oracle=_SPLIT_ORACLE,
    tags=("dedup", "split", "leakage"),
)
def t_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is assigned by a
    deterministic hash of the doc's near-dup CLUSTER label (min-id
    component over the SimHash pair graph; un-clustered docs key on
    their own id), never of the doc itself — so two near-duplicate
    documents can never land on opposite sides of the split, the
    train/eval contamination that silently inflates benchmark numbers.
    80/10/10 by md5 bucket: reproducible across runs and engines (the
    oracle computes the identical buckets), and stable under corpus
    growth WHILE cluster membership is stable — a new doc that bridges
    two previously separate clusters re-keys the merged component (its
    min-id label changes), which re-buckets those docs. One scan + the
    pair-graph components; the hash bucketing is a zero-shuffle
    projection."""
    from boxoffice_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = D.simhash_hamming_pairs(docs, "doc_id", "text")
    labels = connected_components(pairs, "id_a", "id_b")
    keyed = (
        docs.select("doc_id")
        .join(labels, docs["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_key"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("group_key").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    return keyed.select(
        "doc_id",
        "group_key",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "t_source_overlap_matrix",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT source AS grp, g AS shingle
        FROM (SELECT source, unnest({_SHINGLES}) AS g FROM documents)
    ),
    sz AS (SELECT grp, count(*) AS n FROM sh GROUP BY 1),
    com AS (
        SELECT a.grp AS source_a, b.grp AS source_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.grp < b.grp
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           za.n AS n_a, zb.n AS n_b, n_common,
           round(CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common), 6)
               AS jaccard
    FROM com
    JOIN sz za ON za.grp = source_a
    JOIN sz zb ON zb.grp = source_b
    """,
    tags=("dedup", "sourcing", "overlap"),
)
def t_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level source-overlap matrix: Jaccard of distinct 3-gram
    shingle SETS per source pair — the acquisition report ("how much of
    source B is already in source A") that precedes doc-level dedup.
    Posting lists are bounded by the source count, so the pair stage is
    |sources|²-sized; see operators/dedup.source_overlap_matrix."""
    return D.source_overlap_matrix(
        table(spark, sf_dir, "documents"), "source", "text", n=3
    )


@register(
    "t_minhash_banded_pairs",
    oracle=D.minhash_banded_pairs_sql("documents", "doc_id", _SHINGLES),
    tags=("dedup", "minhash", "lsh"),
)
def t_minhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding with a cell-exact oracle: md5-seeded
    min-hash signatures (12 hashes, 4 bands of 3) over 3-gram shingles;
    candidate pairs share at least one full band, scored by signature
    agreement (the MinHash Jaccard estimate). The deterministic twin of
    the Spark-ML tier t_minhash_lsh_pairs — same S-curve semantics, but
    every hash is engine-independent, so the driver checks the pairs AND
    the scores value-for-value. See operators/dedup.minhash_banded_pairs
    for the one-shuffle signature + banded-bucket shape."""
    return D.minhash_banded_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", n=3
    )


# r10 legacy conversion: digit arithmetic (the e_surrogate_keys driver-
# proven form) instead of the '0x' string cast whose parse semantics vary
# across DuckDB builds.
_CURR_HASH_SQL = D.md5_u60_sql("md5(CAST(doc_id AS VARCHAR))")


@register(
    "t_curriculum_phases",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, {TS.quality_score_sql('text')} AS q FROM documents
    ),
    th AS (
        SELECT {fround_sql('quantile_cont(q, 0.25)', 6)} AS t1,
               {fround_sql('quantile_cont(q, 0.5)', 6)} AS t2,
               {fround_sql('quantile_cont(q, 0.75)', 6)} AS t3
        FROM d
    )
    SELECT doc_id, q,
           CASE WHEN q <= t1 THEN 1
                WHEN q <= t2 THEN 2
                WHEN q <= t3 THEN 3
                ELSE 4 END AS phase,
           {_CURR_HASH_SQL} AS shuffle_key
    FROM d, th
    """,
    tags=("text", "curriculum", "ordering"),
)
def t_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-annealed curriculum assignment: docs split into 4 training
    phases by data-driven quality quartiles (phase 1 = noisiest quartile
    first, phase 4 = cleanest last — the annealing order), plus a
    deterministic md5 shuffle key for within-phase ordering. The training
    order is then a WRITE-SORTED layout on (phase, shuffle_key)
    (io.write_sorted), NOT a global rank window — a global row_number is
    exactly the single-reducer anti-pattern the plan gate forbids at
    100 TB. Thresholds come from one bounded one-row aggregate (exact
    interpolated percentile — the sketch path substitutes past ~10^7
    rows) broadcast back over the corpus; assignment is a zero-shuffle
    projection, stable under corpus growth only via re-threshold (by
    design: quartiles are corpus-relative)."""
    from boxoffice_spark.operators.textstats import quality_score

    # r10 legacy conversion: q is the exact ratio6 quality grid; the
    # quartile thresholds land on the 6dp grid via fround's pinned
    # floor-implemented HALF_UP (type-7 interpolation on both engines)
    # instead of the build-sensitive round(double, 6).
    d = table(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("q")
    )
    th = d.agg(
        fround(F.percentile("q", F.lit(0.25)), 6).alias("t1"),
        fround(F.percentile("q", F.lit(0.5)), 6).alias("t2"),
        fround(F.percentile("q", F.lit(0.75)), 6).alias("t3"),
    )
    return d.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "q",
        F.when(F.col("q") <= F.col("t1"), 1)
        .when(F.col("q") <= F.col("t2"), 2)
        .when(F.col("q") <= F.col("t3"), 3)
        .otherwise(4)
        .alias("phase"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("shuffle_key"),
    )


@register(
    "t_dedup_recall_report",
    oracle=None,
    tags=("dedup", "approx", "qa"),
)
def t_dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-tier recall scorecard — the text-side twin of
    v_ann_recall_report: precision/recall/F1 of each APPROXIMATE
    near-dup tier against exact word-3-gram Jaccard ground truth, at three
    truth thresholds (τ=0.3, 0.5, 0.8). This is the number a deployment
    watches when re-tuning bands/hashes — e.g. 4 bands of 3 gives
    P[candidate] = 1-(1-j³)⁴ ≈ 0.41 at j=0.5 but ≈ 0.94 at j=0.8, and
    this report is where that S-curve stops being theory.

    Tiers scored: t_minhash_banded_pairs' deterministic md5 banding (raw
    candidates, no rerank — measures the banding curve itself),
    t_minhash_lsh_pairs' xxhash64 banding + exact-Jaccard rerank ≥ 0.5
    (per-tier precision vs τ=0.5 truth is exactly 1.0 by construction —
    a built-in positive control for the report's own join logic), and
    simhash_hamming_pairs (Hamming ≤ 3 — a NEAR-EXACT tier: its recall
    against j≥0.5 truth is structurally low and that is the point of
    showing it next to the MinHash rows).

    Rows-only by design (the Spark-ML tier's xxhash64 has no SQL twin);
    determinism and internal consistency are pinned in
    tests/test_llm_ops.py. Scale: truth is the capless exact tier — the
    audit runs on a bounded QA corpus (here the whole sf table), never
    the production corpus; every tier's own scale posture is unchanged."""
    from boxoffice_spark.functions.caching import scoped_persist

    docs = table(spark, sf_dir, "documents")
    truth = scoped_persist(
        D.ngram_jaccard_pairs(
            docs, "doc_id", "text", block_cols=[], n=3, threshold=0.3,
            max_postings=None,
        ).select("id_a", "id_b", "jaccard"),
        "dedup_recall.truth",
    )
    tiers = {
        "minhash_banded": D.minhash_banded_pairs(docs, "doc_id", "text"),
        "minhash_lsh": D.minhash_lsh_pairs(docs, "doc_id", "text"),
        "simhash_hamming": D.simhash_hamming_pairs(docs, "doc_id", "text"),
    }
    reports = []
    for tier_name, cand_df in tiers.items():
        cand = scoped_persist(
            cand_df.select("id_a", "id_b"), f"dedup_recall.{tier_name}"
        )
        n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
        for tau in (0.3, 0.5, 0.8):
            truth_t = truth.filter(F.col("jaccard") >= tau)
            n_truth = truth_t.agg(F.count("*").cast("long").alias("n_truth"))
            tp = cand.join(truth_t, ["id_a", "id_b"]).agg(
                F.count("*").cast("long").alias("true_positives")
            )
            reports.append(
                n_cand.crossJoin(F.broadcast(n_truth))
                .crossJoin(F.broadcast(tp))
                .select(
                    F.lit(tier_name).alias("tier"),
                    F.lit(tau).alias("tau"),
                    "n_truth",
                    "n_candidates",
                    "true_positives",
                    F.round(
                        F.when(
                            F.col("n_candidates") > 0,
                            F.col("true_positives") / F.col("n_candidates"),
                        ).otherwise(F.lit(None)),
                        6,
                    ).alias("precision"),
                    F.round(
                        F.when(
                            F.col("n_truth") > 0,
                            F.col("true_positives") / F.col("n_truth"),
                        ).otherwise(F.lit(None)),
                        6,
                    ).alias("recall"),
                )
            )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    )
    return out.withColumn("f1", F.round(f1, 6)).orderBy("tier", "tau")


@register(
    "t_sequence_packing_ffd",
    oracle=None,
    tags=("text", "packing", "tokens", "pandas-op"),
)
def t_sequence_packing_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing — the bin-quality
    complement to t_sequence_packing's contiguous fill: within each
    (lang, shard) group, docs are placed largest-first into the first
    bin with room (Johnson's FFD, the classic 11/9·OPT+1 guarantee), so
    no multi-doc bin ever exceeds the 2048-token budget and fill rates
    cluster near 1.0 — what a loader wants when overflow means
    truncation rather than spill-over. A doc longer than the budget
    still gets its own (overflow) bin.

    The greedy first-fit loop is inherently sequential per shard — not
    SQL-expressible — so it runs as ONE applyInPandas group per
    (lang, shard): Arrow-batched, state = the group's open-bin table,
    embarrassingly parallel across shards exactly like the contiguous
    packer (the shard key IS the parallelism unit; adding shards never
    reassigns existing bins). Rows-only; determinism, budget, token
    conservation, and repartition invariance pinned in
    tests/test_round5_ops.py."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 8).alias("shard"),
        TS.bpe_ish_token_count("text").alias("n_tok"),
    )
    budget = 2048

    def pack(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        lang, shard = key
        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        assign: dict[int, tuple[int, int]] = {}  # bin -> (n_docs, tokens)
        remaining: list[int] = []
        for _, row in pdf.iterrows():
            tok = int(row.n_tok)
            placed = -1
            for i, rem in enumerate(remaining):
                if rem >= tok:
                    placed = i
                    break
            if placed < 0:
                placed = len(remaining)
                remaining.append(budget)
            remaining[placed] -= tok
            n, t = assign.get(placed, (0, 0))
            assign[placed] = (n + 1, t + tok)
        return pd.DataFrame(
            {
                "lang": [lang] * len(assign),
                "shard": [shard] * len(assign),
                "bin_id": list(assign.keys()),
                "n_docs": [v[0] for v in assign.values()],
                "tokens": [v[1] for v in assign.values()],
                "fill_rate": [round(v[1] / budget, 6) for v in assign.values()],
            }
        )

    return d.groupBy("lang", "shard").applyInPandas(
        pack,
        schema="lang string, shard long, bin_id long, n_docs long, "
        "tokens long, fill_rate double",
    )


@register(
    "t_weighted_sample",
    oracle=f"""
    WITH hx AS (
        SELECT doc_id, lang, {TS.quality_score_sql('text')} AS q,
            md5(CAST(doc_id AS VARCHAR)) AS hex
        FROM documents
    ),
    d AS (
        SELECT doc_id, lang, q, {D.md5_u60_sql('hex')} AS h FROM hx
    ),
    keyed AS (
        SELECT doc_id, lang, q,
            {fround_sql('ln((CAST(h AS DOUBLE) + 1) / 1152921504606846976.0)'
                        ' / greatest(q, 0.000001)', 8)} AS sample_key
        FROM d
    )
    SELECT lang, doc_id, q, sample_key, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY sample_key DESC, doc_id
        ) AS INT) AS rank
        FROM keyed
    ) WHERE rank <= 10
    """,
    tags=("text", "sampling", "weighted"),
)
def t_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling without replacement, 10 docs per
    language — Efraimidis-Spirakis A-ES: each doc draws a deterministic
    md5-uniform u and ranks by u^(1/w) (equivalently ln(u)/w, the form
    computed here), so inclusion probability is proportional to the
    quality weight and the top-k per stratum IS the weighted sample.
    The 'sample good docs more' step between pure-random hash sampling
    (t_hash_sample) and hard quality gates: retains tail diversity that
    a threshold kills, while still favoring quality.

    Deterministic end-to-end: u is md5-derived (no engine RNG), the key
    rounds at 8dp before ranking (the t_unigram_logprob ln-parity
    posture), ties break on doc_id — so the SAMPLE ITSELF is
    oracle-checked, not just its size. Retry-safe and stable under
    corpus growth for surviving docs, like every hash-keyed sampler
    here. Scale: zero-shuffle key projection + one per-lang window
    (per-stratum top-k; salt-phase it like kmv_kmin if a stratum is a
    whole corpus)."""
    # r10 legacy conversion: q is the exact ratio6 quality grid; the hex
    # md5 parse converts to digit arithmetic on the oracle side (the
    # e_surrogate_keys driver-proven form); the A-ES key lands on the 8dp
    # grid via fround's pinned HALF_UP instead of round(double, 8).
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        TS.quality_score("text").alias("q"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    u = (F.col("h").cast("double") + 1) / F.lit(1152921504606846976.0)
    keyed = d.select(
        "doc_id",
        "lang",
        "q",
        fround(
            F.log(u) / F.greatest(F.col("q"), F.lit(0.000001)), 8
        ).alias("sample_key"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("sample_key"), F.asc("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("lang", "doc_id", "q", "sample_key", "rank")
    )


@register(
    "t_cooccurrence_pmi",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, u.term, u.pos
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS arr FROM documents),
        LATERAL (SELECT unnest(arr) AS term,
                        unnest(generate_series(1, len(arr))) AS pos) u
        WHERE u.term <> ''
    ),
    uni AS (SELECT term, count(*) AS n_term FROM t GROUP BY 1),
    ntok AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM t),
    raw AS (
        SELECT least(a.term, b.term) AS term_a,
               greatest(a.term, b.term) AS term_b
        FROM t a
        JOIN t b ON b.doc_id = a.doc_id
            AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)
        WHERE a.term <> b.term
    ),
    npair AS (SELECT CAST(count(*) AS DOUBLE) AS np FROM raw),
    pairs AS (
        SELECT term_a, term_b, count(*) AS n_pair
        FROM raw GROUP BY 1, 2 HAVING count(*) >= 10
    )
    SELECT term_a, term_b, n_pair,
        round(log10(CAST(n_pair AS DOUBLE) * nt * nt
                    / (np * CAST(ua.n_term AS DOUBLE) * ub.n_term)), 6) AS pmi
    FROM pairs
    JOIN uni ua ON ua.term = term_a
    JOIN uni ub ON ub.term = term_b
    CROSS JOIN ntok CROSS JOIN npair
    ORDER BY pmi DESC, term_a, term_b
    LIMIT 50
    """,
    tags=("text", "pmi", "cooccurrence"),
)
def t_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed word co-occurrence PMI: pointwise mutual information of
    unordered word pairs co-occurring within a ±2-token window — the
    association statistic under GloVe/word2vec-era corpus analysis and
    the collocation detector ("new york" scores high, "the of" scores
    at chance) a tokenizer-vocabulary build consults. Top-50 pairs with
    >= 10 co-occurrences by PMI.

    Shape: the window join is OFFSET-KEYED — each token re-keys itself
    at (doc, pos+1) and (doc, pos+2) and equi-joins the token table on
    (doc, pos) — so pair generation is 2x linear in corpus tokens,
    never a per-document quadratic self-join. Unigram counts join on
    term (Zipf-skewed; AQE splits the hot keys — at cluster scale
    broadcast the head of the vocabulary). One integer-count aggregate
    per side, mirrored IEEE log10 ratio rounded to 6dp, and the top-50
    plans as TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.posexplode(F.split(D.normalized_text("text"), " ")).alias(
                "pos", "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    from boxoffice_spark.functions.caching import scoped_persist

    # both the token table and the raw pair stream feed multiple consumers
    # (unigram counts + total + join probes; pair total + pair counts) —
    # persist each once so the tokenize/join subtree evaluates once
    toks = scoped_persist(toks, "t_cooccurrence_pmi.toks")
    right = toks.select("doc_id", "pos", F.col("term").alias("term_b"))
    left = None
    for off in (1, 2):
        part = toks.select(
            "doc_id",
            (F.col("pos") + off).alias("pos"),
            F.col("term").alias("term_a"),
        )
        left = part if left is None else left.unionByName(part)
    raw = scoped_persist(
        left.join(right, ["doc_id", "pos"])
        .filter(F.col("term_a") != F.col("term_b"))
        .select(
            F.least("term_a", "term_b").alias("term_a"),
            F.greatest("term_a", "term_b").alias("term_b"),
        ),
        "t_cooccurrence_pmi.raw",
    )
    uni = toks.groupBy("term").agg(F.count("*").alias("n_term"))
    ntok = toks.agg(F.count("*").cast("double").alias("nt"))
    npair = raw.agg(F.count("*").cast("double").alias("np"))
    pairs = (
        raw.groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 10)
    )
    ua = uni.select(F.col("term").alias("term_a"), F.col("n_term").alias("_na"))
    ub = uni.select(F.col("term").alias("term_b"), F.col("n_term").alias("_nb"))
    return (
        pairs.join(ua, "term_a")
        .join(ub, "term_b")
        .crossJoin(F.broadcast(ntok))
        .crossJoin(F.broadcast(npair))
        .select(
            "term_a",
            "term_b",
            "n_pair",
            F.round(
                F.log10(
                    F.col("n_pair").cast("double")
                    * F.col("nt")
                    * F.col("nt")
                    / (F.col("np") * F.col("_na").cast("double") * F.col("_nb"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(50)
    )


@register(
    "t_shard_planner",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        CAST(max(octet_length(encode(text))) AS BIGINT) AS max_doc_bytes,
        CAST(floor((sum(octet_length(encode(text))) + 65535) / 65536.0)
             AS BIGINT) AS n_shards,
        CAST(floor(
            (count(*) + floor((sum(octet_length(encode(text))) + 65535)
                              / 65536.0) - 1)
            / floor((sum(octet_length(encode(text))) + 65535) / 65536.0)
        ) AS BIGINT) AS docs_per_shard
    FROM documents
    GROUP BY 1, 2
    ORDER BY lang, source
    """,
    tags=("text", "layout", "planner"),
)
def t_shard_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-layout shard planner: per (lang, source) stratum, the
    number of target-size output shards (ceil of byte mass / 64 KiB at
    test scale — swap in 256 MiB for real parquet) and the docs-per-
    shard quota — the table a corpus writer consults to repartition
    before the final write so no stratum emits either a 10 GB monolith
    or ten thousand 1 KB files (the small-files problem IS a scale
    bug). max_doc_bytes flags strata where one document alone busts the
    shard target. Exact integer arithmetic (ceil via (n + d - 1) / d in
    mirrored floor form), one aggregation pass, |strata| output rows."""
    d = table(spark, sf_dir, "documents")
    nbytes = F.octet_length(F.encode("text", "utf-8"))
    agg = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(nbytes).cast("long").alias("total_bytes"),
        F.max(nbytes).cast("long").alias("max_doc_bytes"),
    )
    shards = F.floor((F.col("total_bytes") + 65535) / F.lit(65536.0))
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "total_bytes",
        "max_doc_bytes",
        shards.cast("long").alias("n_shards"),
        F.floor((F.col("n_docs") + shards - 1) / shards)
        .cast("long")
        .alias("docs_per_shard"),
    ).orderBy("lang", "source")


@register(
    "t_chi2_keywords",
    oracle=f"""
    WITH t AS (
        SELECT source, term
        FROM (SELECT source, unnest(string_split({_NORM}, ' ')) AS term
              FROM documents)
        WHERE term <> ''
    ),
    st AS (SELECT source, term, count(*) AS a FROM t GROUP BY 1, 2),
    term_tot AS (SELECT term, count(*) AS t_all FROM t GROUP BY 1),
    src_tot AS (SELECT source, count(*) AS s_all FROM t GROUP BY 1),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM t),
    cells AS (
        SELECT st.source, st.term, st.a,
            CAST(term_tot.t_all - st.a AS DOUBLE) AS b,
            CAST(src_tot.s_all - st.a AS DOUBLE) AS c,
            CAST(nn - term_tot.t_all - src_tot.s_all + st.a AS DOUBLE) AS d,
            nn
        FROM st
        JOIN term_tot ON term_tot.term = st.term
        JOIN src_tot ON src_tot.source = st.source
        CROSS JOIN n
        WHERE st.a >= 5
    ),
    raw AS (
        SELECT source, term, a,
            nn * (a * d - b * c) * (a * d - b * c)
                / ((a + b) * (c + d) * (a + c) * (b + d)) AS chi2_raw
        FROM cells
        WHERE a * d > b * c
    ),
    scored AS (
        SELECT source, term, a,
            {fround_sql('chi2_raw', 6)} AS chi2,
            ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY {fround_sql('chi2_raw', 6)} DESC, term
            ) AS rank
        FROM raw
    )
    SELECT source, term, a AS term_count, chi2, CAST(rank AS INT) AS rank
    FROM scored WHERE rank <= 10
    ORDER BY source, rank
    """,
    tags=("text", "keyness", "chi2"),
)
def t_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive keywords per source by chi-squared keyness: for each
    (source, term), the 2x2 contingency chi² of term-in-source vs
    term-elsewhere, keeping positively associated terms (ad > bc) with
    >= 5 in-source occurrences, top-10 per source — "what vocabulary
    makes this feed different", the datacard row that catches a crawl
    drifting into SEO spam or one source dominating a topic, and the
    corpus-linguistics complement of t_tfidf_top_terms (which scores
    docs, not sources). Integer counts widen to double in one mirrored
    expression, so the statistic is cell-exact.

    Shape: one tokenize pass feeds three aggregates (the (source, term)
    cell table REUSES the token shuffle; term and source totals are its
    rollups); the chi² math and per-source top-10 window run on the
    bounded (source, term) aggregate, never raw tokens."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "source",
            F.explode(F.split(D.normalized_text("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    from boxoffice_spark.functions.caching import scoped_persist

    st = scoped_persist(
        toks.groupBy("source", "term").agg(F.count("*").alias("a")),
        "t_chi2_keywords.st",
    )
    term_tot = st.groupBy("term").agg(F.sum("a").alias("t_all"))
    src_tot = st.groupBy("source").agg(F.sum("a").alias("s_all"))
    n = st.agg(F.sum("a").cast("double").alias("nn"))
    cells = (
        st.join(term_tot, "term")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(n))
        .filter(F.col("a") >= 5)
        .select(
            "source",
            "term",
            "a",
            (F.col("t_all") - F.col("a")).cast("double").alias("b"),
            (F.col("s_all") - F.col("a")).cast("double").alias("c"),
            (F.col("nn") - F.col("t_all") - F.col("s_all") + F.col("a"))
            .cast("double")
            .alias("d"),
            "nn",
        )
    )
    a, b, c, dd, nn = (F.col(x) for x in ("a", "b", "c", "d", "nn"))
    # r10 legacy conversion: the chi2 chain is correctly-rounded IEEE ops
    # over exact integer-valued doubles (bit-identical on both engines);
    # only the final grid needs pinning — fround, not round(double, 6).
    chi2 = fround(
        nn * (a * dd - b * c) * (a * dd - b * c)
        / ((a + b) * (c + dd) * (a + c) * (b + dd)),
        6,
    )
    scored = (
        cells.filter(a * dd > b * c)
        .withColumn("chi2", chi2)
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.desc("chi2"), "term")
            ),
        )
    )
    return (
        scored.filter(F.col("rank") <= 10)
        .select("source", "term", F.col("a").alias("term_count"), "chi2", "rank")
        .orderBy("source", "rank")
    )


@register(
    "t_lang_diversity",
    oracle="""
    WITH c AS (
        SELECT source, lang, count(*) AS n
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(n) AS n_docs FROM c GROUP BY 1),
    terms AS (
        SELECT c.source, tot.n_docs,
            round(-(CAST(c.n AS DOUBLE) / tot.n_docs)
                  * log2(CAST(c.n AS DOUBLE) / tot.n_docs), 8) AS h_term,
            round((CAST(c.n AS DOUBLE) / tot.n_docs)
                  * (CAST(c.n AS DOUBLE) / tot.n_docs), 8) AS s_term
        FROM c JOIN tot ON tot.source = c.source
    )
    SELECT source, CAST(any_value(n_docs) AS BIGINT) AS n_docs,
        count(*) AS n_langs,
        cast(sum(cast(h_term AS DECIMAL(27, 8))) AS DOUBLE) AS entropy_bits,
        cast(sum(cast(s_term AS DECIMAL(27, 8))) AS DOUBLE) AS simpson,
        round(pow(2.0,
            cast(sum(cast(h_term AS DECIMAL(27, 8))) AS DOUBLE)), 4)
            AS effective_langs
    FROM terms GROUP BY source ORDER BY source
    """,
    tags=("text", "mixture", "diversity"),
)
def t_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-diversity index per acquisition source: Shannon entropy
    (bits), the Simpson concentration index, and the effective number
    of languages 2^H — the datasheet numbers that tell a corpus curator
    whether a source is a monoculture before it dominates the mixture
    (t_mixture_rebalance decides the weights; this measures the need).
    Per-(source, lang) counts from one scan; the entropy/Simpson terms
    are IEEE on exact integer ratios, rounded at 8dp and decimal-summed
    so the per-source totals are order-independent — cell-exact. At
    100 TB the only corpus-sized step is the first groupBy; everything
    after runs on |sources| x |langs| rows."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").alias("n_docs"))
    p = F.col("n").cast("double") / F.col("n_docs")
    terms = c.join(F.broadcast(tot), "source").select(
        "source",
        "n_docs",
        F.round(-p * F.log2(p), 8).alias("h_term"),
        F.round(p * p, 8).alias("s_term"),
    )
    h = F.sum(F.col("h_term").cast("decimal(27,8)")).cast("double")
    return (
        terms.groupBy("source")
        .agg(
            F.any_value("n_docs").cast("long").alias("n_docs"),
            F.count("*").alias("n_langs"),
            h.alias("entropy_bits"),
            F.sum(F.col("s_term").cast("decimal(27,8)"))
            .cast("double")
            .alias("simpson"),
            F.round(F.pow(F.lit(2.0), h), 4).alias("effective_langs"),
        )
        .orderBy("source")
    )


@register(
    "t_zipf_fit",
    oracle=f"""
    WITH t AS (
        SELECT unnest(string_split({_NORM}, ' ')) AS term FROM documents
    ),
    v AS (
        SELECT term, count(*) AS tf FROM t WHERE term <> '' GROUP BY 1
    ),
    top AS (
        SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank
        FROM v ORDER BY tf DESC, term LIMIT 1000
    ),
    xy AS (
        SELECT round(ln(CAST(rank AS DOUBLE)), 8) AS x,
               round(ln(CAST(tf AS DOUBLE)), 8) AS y
        FROM top
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
            cast(sum(cast(x AS DECIMAL(27, 8))) AS DOUBLE) AS sx,
            cast(sum(cast(y AS DECIMAL(27, 8))) AS DOUBLE) AS sy,
            cast(sum(cast(round(x * x, 8) AS DECIMAL(27, 8))) AS DOUBLE)
                AS sxx,
            cast(sum(cast(round(y * y, 8) AS DECIMAL(27, 8))) AS DOUBLE)
                AS syy,
            cast(sum(cast(round(x * y, 8) AS DECIMAL(27, 8))) AS DOUBLE)
                AS sxy
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
        round(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
              * (sx / n), 6) AS intercept,
        round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
              / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
    tags=("text", "stats", "lm"),
)
def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus term-frequency distribution: OLS of
    log frequency on log rank over the top-1000 terms — slope ~ -1 is
    the natural-language signature, and a corpus whose slope drifts far
    from it (too flat: boilerplate spam; too steep: template
    degeneration) fails the datasheet check before training. Reports
    slope, intercept, and R^2 of the log-log fit.

    One tokenize + one (term) count shuffle build the vocab; the
    top-1000 head is a TakeOrderedAndProject (per-partition heaps); the
    rank window then runs over those 1000 rows only — a bounded global
    window in the t_heavy_hitters allowlist sense (the docstring IS the
    scale justification: the window input is capped at 1000 rows by
    construction, never corpus-sized). The OLS moments are 8dp-rounded
    and decimal-summed, so the closed-form slope/R^2 arithmetic is
    bit-identical across engines — cell-exact."""
    from pyspark.sql import Window

    toks = table(spark, sf_dir, "documents").select(
        F.explode(TS.words_of("text")).alias("term")
    )
    v = toks.groupBy("term").agg(F.count("*").alias("tf"))
    top = v.orderBy(F.col("tf").desc(), "term").limit(1000)
    w = Window.orderBy(F.col("tf").desc(), "term")
    xy = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 8).alias("x"),
        F.round(F.log(F.col("tf").cast("double")), 8).alias("y"),
    )

    def d8(c: Column) -> Column:
        return F.sum(c.cast("decimal(27,8)")).cast("double")

    s = xy.agg(
        F.count("*").cast("double").alias("n"),
        d8(F.col("x")).alias("sx"),
        d8(F.col("y")).alias("sy"),
        d8(F.round(F.col("x") * F.col("x"), 8)).alias("sxx"),
        d8(F.round(F.col("y") * F.col("y"), 8)).alias("syy"),
        d8(F.round(F.col("x") * F.col("y"), 8)).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(sy / n - slope * (sx / n), 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@register(
    "t_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang,
            length(text) AS n_chars_actual,
            len(string_split({_NORM}, ' ')) AS n_words,
            {TS.BPEISH_SQL.format(col='text')} AS n_tokens
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
        CAST(sum(n_words) AS BIGINT) AS total_words,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        round(CAST(sum(n_tokens) AS DOUBLE) / sum(n_words), 6) AS fertility,
        round(CAST(sum(n_chars_actual) AS DOUBLE) / sum(n_tokens), 6)
            AS chars_per_token
    FROM per_doc GROUP BY 1 ORDER BY 1
    """,
    tags=("text", "tokens", "budget"),
)
def t_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish tokens per whitespace
    word and characters per token — the number that converts a raw-text
    budget into a TOKEN budget per language (a high-fertility language
    costs proportionally more context window per word, which skews
    mixture decisions made in bytes; t_lang_token_mix reports the
    mixture, this reports the exchange rate). Integer token counts are
    summed exactly (order-independent by construction), the two ratios
    are single mirrored IEEE divisions — cell-exact. One scan, one
    |langs|-row aggregate; nothing here grows with corpus size except
    the scan."""
    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.length("text").alias("n_chars_actual"),
        TS.whitespace_token_count("text").alias("n_words"),
        TS.bpe_ish_token_count("text").alias("n_tokens"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.sum("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars_actual").cast("double") / F.sum("n_tokens"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


_NOVELTY_NGRAMS = D.WORD_NGRAMS_SQL.format(norm=_NORM, nm1=4)


@register(
    "t_ngram_novelty",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, doc_id % 10 = 0 AS is_batch,
            {D.WORD_HASH_SQL.format(w='g')} AS h
        FROM (
            SELECT doc_id, unnest({_NOVELTY_NGRAMS}) AS g FROM documents
        )
        GROUP BY 1, 2, 3
    ),
    corpus AS (SELECT DISTINCT h FROM sh WHERE NOT is_batch),
    probe AS (
        SELECT sh.doc_id, count(*) AS n_shingles,
            sum(CASE WHEN corpus.h IS NULL THEN 1 ELSE 0 END) AS n_novel
        FROM sh LEFT JOIN corpus ON corpus.h = sh.h
        WHERE is_batch
        GROUP BY 1
    )
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        CAST(n_novel AS BIGINT) AS n_novel,
        round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
    FROM probe ORDER BY doc_id
    """,
    tags=("dedup", "ingest", "novelty"),
)
def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-side novelty score: for each INCOMING-batch document
    (doc_id % 10 == 0, the same batch split as t_incremental_dedup),
    the fraction of its distinct word-5-gram shingles never seen in the
    standing corpus — the complement view of t_decontamination (that
    one protects eval sets from train overlap; this one tells the
    crawler whether a feed still contributes NEW text or is re-serving
    what the corpus already holds, the per-doc refinement of the admit/
    reject gate t_incremental_dedup applies at whole-doc grain).

    Same scale kernel as contamination_report (operators/dedup.py:686):
    shingles reduce to 60-bit md5 hashes before any shuffle, the corpus
    side is a distinct aggregate (map-side partial dedup), and the
    probe is one hash-keyed left join whose null side IS the novelty
    count. At 100 TB both sides partition on the hash — no broadcast,
    no pair generation; Spark's runtime Bloom-filter injection can drop
    corpus shingles map-side when batch << corpus.

    Physical strategy: the map-side Arrow shingle kernel
    (operators/dedup.word_ngram_hashes_fast — the map-side simhash pattern;
    same normalization + 60-bit md5 recipe as the oracle, per-doc dedup
    in Python sets instead of a corpus-wide distinct shuffle). The
    honest — cache-released — sf1 probe billed the declarative
    explode+transform shingle chain ~45 s for 2.5M shingles; the
    interpreted n-gram builder, not the join, was the whole cost."""
    from boxoffice_spark.operators.dedup import word_ngram_hashes_fast

    d = table(spark, sf_dir, "documents")
    corpus = (
        word_ngram_hashes_fast(
            d.filter(F.col("doc_id") % 10 != 0), "doc_id", "text", 5
        )
        .select("h")
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    batch = word_ngram_hashes_fast(
        d.filter(F.col("doc_id") % 10 == 0), "doc_id", "text", 5
    )
    return (
        batch.join(corpus, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "t_lang_id_agreement",
    oracle=f"""
    WITH conf AS (
        SELECT lang AS declared, {TS.lang_id_sql('text')} AS guess,
            count(*) AS n
        FROM documents GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN declared = guess THEN n ELSE 0 END)
                 AS BIGINT) AS n_match
        FROM conf
    ),
    rt AS (SELECT declared AS cls, sum(n) AS rn FROM conf GROUP BY 1),
    ct AS (SELECT guess AS cls, sum(n) AS cn FROM conf GROUP BY 1),
    pe AS (
        SELECT CAST(sum(rn * cn) AS BIGINT) AS s_prod
        FROM rt JOIN ct ON ct.cls = rt.cls
    ),
    k AS (
        SELECT n_docs,
            {ratio6_sql('n_match', 'n_docs')} AS observed_agreement,
            {ratio6_sql('s_prod', 'n_docs * n_docs')} AS expected_agreement,
            CASE WHEN s_prod < n_docs * n_docs THEN
                CASE WHEN n_match * n_docs >= s_prod
                    THEN {ratio6_sql('n_match * n_docs - s_prod',
                                     'n_docs * n_docs - s_prod')}
                    ELSE -{ratio6_sql('s_prod - n_match * n_docs',
                                      'n_docs * n_docs - s_prod')}
                END
            END AS kappa
        FROM tot CROSS JOIN pe
    )
    SELECT *,
        CASE WHEN kappa IS NULL THEN 'undefined'
             WHEN kappa < 0 THEN 'poor'
             WHEN kappa < 0.2 THEN 'slight'
             WHEN kappa < 0.4 THEN 'fair'
             WHEN kappa < 0.6 THEN 'moderate'
             WHEN kappa < 0.8 THEN 'substantial'
             ELSE 'almost perfect' END AS band
    FROM k
    """,
    tags=("text", "langid", "stats"),
)
def t_lang_id_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the DECLARED language label and the
    engine's heuristic lang-ID guess — chance-corrected inter-annotator
    agreement, the calibration readout that tells a pipeline operator
    whether the cheap classifier can replace the upstream metadata
    (raw accuracy overstates agreement when one language dominates;
    kappa subtracts the marginal-product chance floor).

    p_o and the marginals come from ONE confusion-matrix aggregate;
    p_e is the marginal-product sum over classes present on BOTH sides
    (a class missing on either side contributes zero product). Every
    output cell is an EXACT integer ratio — p_o = m/n, p_e = S/n^2 with
    S = sum(rn*cn), and kappa = (p_o-p_e)/(1-p_e) = (m*n-S)/(n^2-S) —
    so all three go through ratio6's BIGINT HALF_UP (parity rule 4; the
    former round(double, 6) went driver-red in round 7, and integer
    ratios CAN sit on 6dp grid ties). Exact while 2e6*S fits BIGINT,
    i.e. n_docs <= 2.1e6 per run; past that Spark's non-ANSI BIGINT
    arithmetic would WRAP SILENTLY (DuckDB raises), so the n_docs
    projection carries an explicit raise_error guard — a too-large
    corpus fails loudly on both engines instead of emitting a wrong
    kappa (ADVICE r08). Beyond the bound, shard the audit.
    Banding (Landis-Koch) buckets the ratio6 double, identical on both
    engines by construction.

    At 100 TB: one scan to the |langs|^2 confusion grain (map-side
    partials do the work); everything after is constant-size."""
    d = table(spark, sf_dir, "documents")
    conf = d.groupBy(
        F.col("lang").alias("declared"), TS.lang_id("text").alias("guess")
    ).agg(F.count("*").alias("n"))
    tot = conf.agg(
        F.sum("n").alias("n_docs"),
        F.sum(
            F.when(F.col("declared") == F.col("guess"), F.col("n")).otherwise(0)
        ).alias("n_match"),
    )
    rt = conf.groupBy(F.col("declared").alias("cls")).agg(F.sum("n").alias("rn"))
    ct = conf.groupBy(F.col("guess").alias("cls")).agg(F.sum("n").alias("cn"))
    pe = rt.join(ct, "cls").agg(
        F.sum(F.col("rn") * F.col("cn")).alias("s_prod")
    )
    nsq = F.col("n_docs") * F.col("n_docs")
    knum = F.col("n_match") * F.col("n_docs") - F.col("s_prod")
    # 2e6 * s_prod <= 2e6 * n_docs^2 must fit BIGINT: n_docs <= 2.1e6
    n_guarded = F.when(F.col("n_docs") <= 2_100_000, F.col("n_docs")).otherwise(
        F.raise_error(
            F.lit(
                "t_lang_id_agreement: n_docs exceeds the ratio6 BIGINT "
                "bound (2.1e6 docs) — kappa would overflow; shard the audit"
            )
        )
    )
    k = tot.crossJoin(F.broadcast(pe)).select(
        n_guarded.alias("n_docs"),
        ratio6("n_match", "n_docs").alias("observed_agreement"),
        ratio6("s_prod", "n_docs * n_docs").alias("expected_agreement"),
        F.when(
            F.col("s_prod") < nsq,
            F.when(
                knum >= 0,
                ratio6(
                    "n_match * n_docs - s_prod", "n_docs * n_docs - s_prod"
                ),
            ).otherwise(
                -ratio6(
                    "s_prod - n_match * n_docs", "n_docs * n_docs - s_prod"
                )
            ),
        ).alias("kappa"),
    )
    kc = F.col("kappa")
    return k.select(
        "*",
        F.when(kc.isNull(), "undefined")
        .when(kc < 0, "poor")
        .when(kc < 0.2, "slight")
        .when(kc < 0.4, "fair")
        .when(kc < 0.6, "moderate")
        .when(kc < 0.8, "substantial")
        .otherwise("almost perfect")
        .alias("band"),
    )


@register(
    "t_heaps_law_fit",
    oracle=f"""
    WITH t AS (
        SELECT source, unnest(string_split({_NORM}, ' ')) AS term
        FROM documents
    ),
    pts AS (
        SELECT source, count(*) AS n_tokens,
            count(DISTINCT term) AS n_vocab
        FROM t WHERE term <> '' GROUP BY 1
    ),
    xy AS (
        SELECT source, n_tokens, n_vocab,
            {fround_sql('ln(CAST(n_tokens AS DOUBLE))', 8)} AS x,
            {fround_sql('ln(CAST(n_vocab AS DOUBLE))', 8)} AS y
        FROM pts WHERE n_tokens > 0 AND n_vocab > 0
    ),
    u AS (
        SELECT {funits_sql('x', 8)} AS ux, {funits_sql('y', 8)} AS uy,
            {funits_sql('x * x', 8)} AS uxx,
            {funits_sql('y * y', 8)} AS uyy,
            {funits_sql('x * y', 8)} AS uxy
        FROM xy
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(CAST(sum(ux) AS BIGINT) AS DOUBLE) / 1e8 AS sx,
            CAST(CAST(sum(uy) AS BIGINT) AS DOUBLE) / 1e8 AS sy,
            CAST(CAST(sum(uxx) AS BIGINT) AS DOUBLE) / 1e8 AS sxx,
            CAST(CAST(sum(uyy) AS BIGINT) AS DOUBLE) / 1e8 AS syy,
            CAST(CAST(sum(uxy) AS BIGINT) AS DOUBLE) / 1e8 AS sxy
        FROM u
    ),
    fit AS (
        SELECT n,
            (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta_raw,
            exp(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                * (sx / n)) AS k_raw,
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2_raw
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_points,
        {fround_sql('beta_raw', 6)} AS heaps_beta,
        {fround_sql('k_raw', 4)} AS heaps_k,
        {fround_sql('r2_raw', 6)} AS r2
    FROM fit
    """,
    tags=("text", "vocab", "stats"),
)
def t_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K * N^beta of vocabulary growth: per-source
    (total tokens, distinct terms) points, log-log OLS across sources —
    the datasheet companion to t_zipf_fit (Zipf reads the frequency
    head; Heaps reads how fast NEW vocabulary accrues as the corpus
    grows, which predicts tokenizer OOV pressure when scaling a source
    up). Natural-language text sits near beta in [0.4, 0.6]; beta near
    1 flags ID-like or machine-generated vocabularies.

    One tokenize shuffle to the (source, term) grain folds both counts
    — token totals are the weighted sum and vocabulary sizes are plain
    row counts of that grain (no countDistinct expand); the OLS runs on
    |sources| log points, 8dp-rounded then decimal-summed exactly like
    t_zipf_fit, so the moments are order-independent — cell-exact. At
    100 TB the only corpus-sized step is the tokenize groupBy."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(TS.words_of("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    pts = (
        toks.groupBy("source", "term")
        .agg(F.count("*").alias("n"))
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count("*").alias("n_vocab"),
        )
    )
    # r10 legacy conversion: the log points land on the 8dp grid via
    # fround's pinned HALF_UP, the OLS moments accumulate as EXACT
    # integer 1e-8 units (funits — order-free, no decimal cast of a
    # double anywhere), and the three fitted cells are fround'ed chains
    # of correctly-rounded IEEE ops over those bit-identical moments.
    from boxoffice_spark.functions.numeric import funits

    xy = pts.filter((F.col("n_tokens") > 0) & (F.col("n_vocab") > 0)).select(
        fround(F.log(F.col("n_tokens").cast("double")), 8).alias("x"),
        fround(F.log(F.col("n_vocab").cast("double")), 8).alias("y"),
    )
    u = xy.select(
        funits(F.col("x"), 8).alias("ux"),
        funits(F.col("y"), 8).alias("uy"),
        funits(F.col("x") * F.col("x"), 8).alias("uxx"),
        funits(F.col("y") * F.col("y"), 8).alias("uyy"),
        funits(F.col("x") * F.col("y"), 8).alias("uxy"),
    )
    s = u.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("ux").cast("double") / 1e8).alias("sx"),
        (F.sum("uy").cast("double") / 1e8).alias("sy"),
        (F.sum("uxx").cast("double") / 1e8).alias("sxx"),
        (F.sum("uyy").cast("double") / 1e8).alias("syy"),
        (F.sum("uxy").cast("double") / 1e8).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_points"),
        fround(beta, 6).alias("heaps_beta"),
        fround(F.exp(sy / n - beta * (sx / n)), 4).alias("heaps_k"),
        fround(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@register(
    "t_js_divergence_matrix",
    oracle=f"""
    WITH t AS (
        SELECT source, unnest(string_split({_NORM}, ' ')) AS term
        FROM documents
    ),
    tt AS (SELECT source, term FROM t WHERE term <> ''),
    head AS (
        SELECT term FROM (
            SELECT term, count(*) AS tf FROM tt GROUP BY 1
            ORDER BY tf DESC, term LIMIT 300
        )
    ),
    cnt AS (
        SELECT tt.source, tt.term, count(*) AS n
        FROM tt JOIN head ON head.term = tt.term
        GROUP BY 1, 2
    ),
    srctot AS (SELECT source, sum(n) AS src_n FROM cnt GROUP BY 1),
    grid AS (
        SELECT srctot.source, head.term, srctot.src_n,
            coalesce(cnt.n, 0) AS n
        FROM srctot CROSS JOIN head
        LEFT JOIN cnt ON cnt.source = srctot.source
            AND cnt.term = head.term
    ),
    p AS (
        SELECT source, term, CAST(n AS DOUBLE) / src_n AS p FROM grid
    ),
    pair_terms AS (
        SELECT a.source AS source_a, b.source AS source_b,
            round(
                0.5 * CASE WHEN a.p > 0
                    THEN a.p * log2(a.p / ((a.p + b.p) / 2)) ELSE 0 END
                + 0.5 * CASE WHEN b.p > 0
                    THEN b.p * log2(b.p / ((a.p + b.p) / 2)) ELSE 0 END,
                8) AS jsd_term
        FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
    )
    SELECT source_a, source_b,
        round(cast(sum(cast(jsd_term AS DECIMAL(27, 8))) AS DOUBLE), 6)
            AS jsd_bits
    FROM pair_terms
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("text", "mixture", "drift"),
)
def t_js_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions over the global top-300 vocabulary head — the
    source-similarity matrix behind mixture design: JSD(bits) is 0 for
    identical word distributions and 1 for disjoint ones, so near-zero
    off-diagonal pairs are redundant sources (t_source_overlap_matrix
    finds shared DOCUMENTS; this finds shared STYLE even with zero
    overlapping docs), and the most-distant pairs mark genuine
    diversity worth preserving in t_mixture_rebalance.

    Distributions are restricted to the shared top-300 head (the
    TakeOrdered vocabulary with the min-term tie-break) and
    renormalized over it — the head restriction is what keeps the grid
    |sources| x 300 and the comparison apples-to-apples; zero cells are
    restored by the source x head cross join so a term one source
    never uses still contributes its full mass to the other side's
    divergence. Per-term contributions are 8dp-rounded then
    decimal-summed (order-independent); a p=0 side contributes exactly
    0 by the KL convention. At 100 TB: the corpus is tokenized ONCE
    into scope-persisted (source, term, n) partial counts — the head
    is a re-aggregate of those counts, not a second corpus pass — and
    the pair join runs on the bounded sources x 300 grid."""
    from boxoffice_spark.functions.caching import scoped_persist

    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(TS.words_of("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    cnt_all = scoped_persist(
        toks.groupBy("source", "term").agg(F.count("*").alias("n")),
        "js_divergence.cnt",
    )
    head = (
        cnt_all.groupBy("term")
        .agg(F.sum("n").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(300)
        .select("term")
    )
    cnt = cnt_all.join(F.broadcast(head), "term").select("source", "term", "n")
    srctot = cnt.groupBy("source").agg(F.sum("n").alias("src_n"))
    grid = (
        srctot.crossJoin(F.broadcast(head))
        .join(cnt, ["source", "term"], "left")
        .select(
            "source",
            "term",
            (F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("src_n")).alias("p"),
        )
    )
    a = grid.select(
        F.col("source").alias("source_a"), "term", F.col("p").alias("pa")
    )
    b = grid.select(
        F.col("source").alias("source_b"),
        F.col("term").alias("term_b"),
        F.col("p").alias("pb"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    jsd_term = F.round(
        0.5
        * F.when(F.col("pa") > 0, F.col("pa") * F.log2(F.col("pa") / m)).otherwise(0.0)
        + 0.5
        * F.when(F.col("pb") > 0, F.col("pb") * F.log2(F.col("pb") / m)).otherwise(0.0),
        8,
    )
    pair_terms = a.join(
        b,
        (F.col("term") == F.col("term_b"))
        & (F.col("source_a") < F.col("source_b")),
    ).select("source_a", "source_b", jsd_term.alias("jsd_term"))
    return (
        pair_terms.groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(F.col("jsd_term").cast("decimal(27,8)")).cast("double"), 6
            ).alias("jsd_bits")
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "t_oov_rate",
    oracle=f"""
    WITH t AS (
        SELECT source, unnest(string_split({_NORM}, ' ')) AS term
        FROM documents
    ),
    tt AS (SELECT source, term FROM t WHERE term <> ''),
    head AS (
        SELECT term FROM (
            SELECT term, count(*) AS tf FROM tt GROUP BY 1
            ORDER BY tf DESC, term LIMIT 1000
        )
    ),
    marked AS (
        SELECT tt.source, tt.term, head.term IS NOT NULL AS in_vocab
        FROM tt LEFT JOIN head ON head.term = tt.term
    ),
    counted AS (
        SELECT source,
            count(*) AS n_tokens,
            CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT)
                AS oov_tokens,
            count(DISTINCT term) AS n_terms,
            count(DISTINCT CASE WHEN NOT in_vocab THEN term END) AS oov_terms
        FROM marked
        GROUP BY 1
    )
    SELECT source, n_tokens, oov_tokens,
        {ratio6_sql('oov_tokens', 'n_tokens')} AS oov_token_rate,
        n_terms, oov_terms,
        {ratio6_sql('oov_terms', 'n_terms')} AS oov_term_rate
    FROM counted
    ORDER BY 1
    """,
    tags=("text", "vocab", "quality"),
)
def t_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary pressure per source against the global
    top-1000 vocabulary head: the fraction of token OCCURRENCES and of
    DISTINCT terms a head-limited vocabulary fails to cover — the
    companion readout to t_tokenizer_fertility (fertility prices the
    tokens you keep; OOV rate prices what a fixed vocab throws away)
    and the per-source drill-down of what t_heaps_law_fit predicts in
    aggregate. A source whose occurrence-OOV is low but term-OOV is
    high is long-tail-rich (fine for BPE); high occurrence-OOV flags a
    vocabulary mismatch (wrong language/domain for the head).

    The corpus is tokenized ONCE into scope-persisted (source, term,
    n) partial counts — the head (a global top-1000 re-aggregate of
    those counts), the membership mark, and every output column derive
    from that bounded table, so occurrence counts are weighted sums and
    the distinct-term counts are plain row counts (the (source, term)
    grain IS distinct — no countDistinct expand). At 100 TB: one
    tokenize shuffle to |sources| x |vocab|; everything after runs on
    the bounded count table."""
    from boxoffice_spark.functions.caching import scoped_persist

    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(TS.words_of("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    cnt = scoped_persist(
        toks.groupBy("source", "term").agg(F.count("*").alias("n")),
        "oov_rate.cnt",
    )
    head = (
        cnt.groupBy("term")
        .agg(F.sum("n").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(1000)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    marked = cnt.join(F.broadcast(head), "term", "left").select(
        "source",
        "n",
        F.coalesce(F.col("in_vocab"), F.lit(False)).alias("in_vocab"),
    )
    oov_n = F.sum(F.when(F.col("in_vocab"), 0).otherwise(F.col("n")))
    oov_t = F.sum(F.when(F.col("in_vocab"), 0).otherwise(1))
    counted = marked.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        oov_n.alias("oov_tokens"),
        F.count("*").alias("n_terms"),
        oov_t.cast("long").alias("oov_terms"),
    )
    # Both rates are exact integer ratios -> ratio6's BIGINT HALF_UP
    # (parity rule 4): integer ratios CAN sit on 6dp grid ties, which is
    # exactly why the former round(double, 6) went driver-red in round 7.
    return counted.select(
        "source",
        "n_tokens",
        "oov_tokens",
        ratio6("oov_tokens", "n_tokens").alias("oov_token_rate"),
        "n_terms",
        "oov_terms",
        ratio6("oov_terms", "n_terms").alias("oov_term_rate"),
    ).orderBy("source")


@register(
    "t_capture_recapture_dups",
    oracle=f"""
    WITH marks AS (
        SELECT doc_id,
            md5(substring({_NORM}, 1, 64)) AS pre,
            md5(substring(reverse({_NORM}), 1, 64)) AS suf
        FROM documents
    ),
    flagged AS (
        SELECT doc_id,
            count(*) OVER (PARTITION BY pre) > 1 AS cap_a,
            count(*) OVER (PARTITION BY suf) > 1 AS cap_b
        FROM marks
    ),
    agg AS (
        SELECT count(CASE WHEN cap_a THEN 1 END) AS n1,
            count(CASE WHEN cap_b THEN 1 END) AS n2,
            count(CASE WHEN cap_a AND cap_b THEN 1 END) AS m
        FROM flagged
    )
    SELECT n1, n2, m,
        CAST({units_div_sql('(n1 + 1) * (n2 + 1) - (m + 1)', 'm + 1', 2)}
             AS DOUBLE) / 100.0 AS est_total_dup_docs,
        -- est = 0 on a duplicate-free corpus: the estimator is the exact
        -- rational ((n1+1)(n2+1) - (m+1)) / (m+1); recalls guard on its
        -- integer numerator (no x/0 NULL-vs-NaN divergence possible)
        CASE WHEN (n1 + 1) * (n2 + 1) - (m + 1) > 0 THEN
            {ratio6w_sql('n1 * (m + 1)', '(n1 + 1) * (n2 + 1) - (m + 1)')}
        END AS recall_a,
        CASE WHEN (n1 + 1) * (n2 + 1) - (m + 1) > 0 THEN
            {ratio6w_sql('n2 * (m + 1)', '(n1 + 1) * (n2 + 1) - (m + 1)')}
        END AS recall_b
    FROM agg
    """,
    tags=("dedup", "stats", "capture-recapture"),
)
def t_capture_recapture_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman-corrected Lincoln-Petersen) estimate of
    the corpus's TRUE duplicated-document population from two cheap
    independent detectors — the ecology trick applied to dedup QA: when
    no detector is exhaustive, two partial 'capture occasions' plus their
    overlap estimate how many duplicates exist IN TOTAL, i.e. how much
    each detector misses (t_dedup_recall_report measures recall against
    exact-tier truth; this estimates it when no ground truth exists —
    the production case). Occasion A marks docs sharing a duplicated
    64-char PREFIX hash of the normalized text, occasion B a duplicated
    64-char SUFFIX hash (reverse-prefix): near-identical copies collide
    on both ends, and the two marks are computed from disjoint text
    regions, approximating the independence assumption. Chapman
    estimator N = (n1+1)(n2+1)/(m+1) - 1 (bias-corrected, finite when
    the overlap m is 0); each detector's implied recall n_i / N lands
    alongside. One scan computes both 16-byte marks; each occasion is a
    count-over-hash-key aggregate (window over the mark, exactly the
    exact-dedup shuffle shape x2) and the readout is a single row — no
    pair generation anywhere, so the estimate costs two hash shuffles of
    (id, mark) at any corpus size. A duplicate-free corpus makes the
    Chapman estimate exactly 0; both engines emit NULL recalls there
    (guarded — Spark's x/0 is NULL, DuckDB's is NaN). Cell-exact."""
    d = table(spark, sf_dir, "documents")
    norm = D.normalized_text("text")
    marks = d.select(
        "doc_id",
        F.md5(F.substring(norm, 1, 64)).alias("pre"),
        F.md5(F.substring(F.reverse(norm), 1, 64)).alias("suf"),
    )
    from pyspark.sql import Window as W

    flagged = marks.select(
        (F.count("*").over(W.partitionBy("pre")) > 1).alias("cap_a"),
        (F.count("*").over(W.partitionBy("suf")) > 1).alias("cap_b"),
    )
    agg = flagged.agg(
        F.count(F.when(F.col("cap_a"), 1)).alias("n1"),
        F.count(F.when(F.col("cap_b"), 1)).alias("n2"),
        F.count(F.when(F.col("cap_a") & F.col("cap_b"), 1)).alias("m"),
    )
    # r10 legacy conversion: the Chapman estimator is the exact rational
    # ((n1+1)(n2+1) - (m+1)) / (m+1) — est and both recalls are HALF_UP
    # integer-ratio cells (units_div / ratio6w), no round(double, k).
    from boxoffice_spark.functions.numeric import ratio6w, units_div

    est_num = "(n1 + 1) * (n2 + 1) - (m + 1)"
    return agg.select(
        "n1",
        "n2",
        "m",
        (units_div(est_num, "m + 1", 2).cast("double") / 100.0).alias(
            "est_total_dup_docs"
        ),
        F.when(
            F.expr(est_num) > 0, ratio6w("n1 * (m + 1)", est_num)
        ).alias("recall_a"),
        F.when(
            F.expr(est_num) > 0, ratio6w("n2 * (m + 1)", est_num)
        ).alias("recall_b"),
    )


@register(
    "t_temperature_mixture",
    oracle=f"""
    WITH base AS (
        SELECT lang, {TS.BPEISH_SQL.format(col='text')} AS n_tok FROM documents
    ),
    agg AS (
        SELECT lang, count(*) AS n_docs,
            CAST(sum(n_tok) AS BIGINT) AS est_tokens
        FROM base GROUP BY 1
    ),
    sc AS (
        SELECT lang, n_docs, est_tokens,
            round(CAST(est_tokens AS DOUBLE) / sum(est_tokens) OVER (), 6)
                AS p_raw,
            round(pow(round(CAST(est_tokens AS DOUBLE)
                            / sum(est_tokens) OVER (), 6), 0.3), 8) AS s,
            sum(est_tokens) OVER () AS total_tokens
        FROM agg
    )
    SELECT lang, n_docs, est_tokens, p_raw,
        round(s / cast(sum(cast(s as decimal(27,8))) over () as double), 6)
            AS w_temp,
        round(round(s / cast(sum(cast(s as decimal(27,8))) over ()
                    as double), 6)
              * total_tokens / est_tokens, 4) AS expected_epochs
    FROM sc
    ORDER BY lang
    """,
    tags=("text", "mixture", "sampling"),
)
def t_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (alpha-power) language sampling weights — the
    multilingual-LM mixing recipe (mT5/XLM-R style): sampling
    probability w_l proportional to p_l^alpha with alpha=0.3 upweights
    low-resource languages relative to their raw token share without the
    hard uniform target of t_mixture_rebalance (alpha=1 reproduces
    natural sampling, alpha=0 uniform; 0.3 is the published sweet spot).
    expected_epochs = w_l * budget / tokens_l at a budget of one corpus
    pass shows the compromise's cost: how many times each low-resource
    language's data repeats (epochs > ~4 signal memorization risk — the
    readout that decides whether alpha must rise toward 1). Raw shares
    rounded at 6dp before pow so both engines exponentiate identical
    doubles, pow outputs rounded at 8dp, and the normalizer decimal-sums
    the rounded scores over the bounded language list — order-independent
    on both engines. One corpus scan to the |langs| grain; everything
    after is window math over a handful of rows. Cell-exact."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy()
    agg = d.select("lang", TS.bpe_ish_token_count("text").alias("n_tok")).groupBy(
        "lang"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("est_tokens"),
    )
    p_raw = F.round(
        F.col("est_tokens").cast("double") / F.sum("est_tokens").over(w), 6
    )
    sc = agg.select(
        "lang",
        "n_docs",
        "est_tokens",
        p_raw.alias("p_raw"),
        F.round(F.pow(p_raw, F.lit(0.3)), 8).alias("s"),
        F.sum("est_tokens").over(w).alias("total_tokens"),
    )
    w_temp = F.round(
        F.col("s")
        / F.sum(F.col("s").cast("decimal(27,8)")).over(w).cast("double"),
        6,
    )
    return sc.select(
        "lang",
        "n_docs",
        "est_tokens",
        "p_raw",
        w_temp.alias("w_temp"),
        F.round(
            w_temp * F.col("total_tokens") / F.col("est_tokens"), 4
        ).alias("expected_epochs"),
    ).orderBy("lang")


@register(
    "t_token_budget_select",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {TS.quality_score_sql('text')} AS q,
            {TS.BPEISH_SQL.format(col='text')} AS tok
        FROM documents
    ),
    banded AS (
        SELECT doc_id, {fround_sql('q', 2)} AS band, tok FROM base
    ),
    bstat AS (
        SELECT band, CAST(sum(tok) AS BIGINT) AS band_tokens
        FROM banded GROUP BY 1
    ),
    brun AS (
        SELECT band, band_tokens,
            sum(band_tokens) OVER (ORDER BY band DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
            CAST(floor(sum(band_tokens) OVER () * 0.10) AS BIGINT) AS budget
        FROM bstat
    ),
    full_bands AS (SELECT band FROM brun WHERE run <= budget),
    straddle AS (
        SELECT band, budget - (run - band_tokens) AS budget_left
        FROM brun WHERE run > budget AND run - band_tokens < budget
        ORDER BY band DESC LIMIT 1
    ),
    partial_docs AS (
        SELECT doc_id, band, tok, 'partial' AS fill
        FROM (
            SELECT b.doc_id, b.band, b.tok, s.budget_left,
                sum(b.tok) OVER (ORDER BY
                    md5(CAST(b.doc_id AS VARCHAR)), b.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM banded b JOIN straddle s ON s.band = b.band
        ) WHERE cum <= budget_left
    )
    SELECT b.doc_id, b.band, b.tok, 'full' AS fill
    FROM banded b JOIN full_bands f ON f.band = b.band
    UNION ALL
    SELECT doc_id, band, tok, fill FROM partial_docs
    """,
    tags=("text", "selection", "budget"),
)
def t_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: keep the highest-quality documents
    whose estimated tokens fit a training budget (here 10% of the corpus
    token total) — the 'we can only afford N tokens, take the best'
    pass that follows scoring in every data-constrained training run.
    NOT a global quality sort: docs aggregate into 2dp quality BANDS
    (bounded: score is [0,1], so <= 101 bands), the running token total
    over the descending band list picks whole bands until the budget
    line, and only the ONE band straddling the line is broken up —
    ordered by the deterministic md5 shuffle key (quality within a 2dp
    band is indistinguishable; hash order avoids biasing the cut toward
    low doc_ids = oldest documents). At 100 TB the global sort this
    replaces is the canonical single-reducer anti-pattern: here the
    corpus-sized work is one band groupBy + two broadcast-joined
    filters, and the only sort is within the straddle band (~1/|bands|
    of the corpus). All token arithmetic is integer-exact; the budget is
    floor(total * 0.10) computed identically on both engines. The
    (doc_id, band, tok) frame is scope-persisted: three consumers read
    it (band stats, full-band join, straddle-band join), and uncached
    each re-ran the corpus tokenize+score scan — the sf1 probe's 0.62
    exponent was that tripled pass. Cell-exact."""
    from pyspark.sql import Window

    from boxoffice_spark.functions.caching import scoped_persist

    d = table(spark, sf_dir, "documents")
    from boxoffice_spark.operators.textstats import quality_score

    # r10 legacy conversion: the band is fround(exact-ratio6-quality, 2) —
    # the pinned HALF_UP of a bit-identical double on both engines —
    # instead of round(round(double-chain, 6), 2).
    banded = scoped_persist(
        d.select(
            "doc_id",
            fround(quality_score("text"), 2).alias("band"),
            TS.bpe_ish_token_count("text").alias("tok"),
        ),
        "t_token_budget_select.banded",
    )
    bstat = banded.groupBy("band").agg(
        F.sum("tok").cast("long").alias("band_tokens")
    )
    wrun = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    brun = bstat.select(
        "band",
        "band_tokens",
        F.sum("band_tokens").over(wrun).alias("run"),
        F.floor(F.sum("band_tokens").over(wall) * 0.10)
        .cast("long")
        .alias("budget"),
    )
    full_bands = brun.filter(F.col("run") <= F.col("budget")).select("band")
    straddle = (
        brun.filter(
            (F.col("run") > F.col("budget"))
            & (F.col("run") - F.col("band_tokens") < F.col("budget"))
        )
        .orderBy(F.col("band").desc())
        .limit(1)
        .select(
            "band",
            (F.col("budget") - (F.col("run") - F.col("band_tokens"))).alias(
                "budget_left"
            ),
        )
    )
    full_docs = banded.join(F.broadcast(full_bands), "band").select(
        "doc_id", "band", "tok", F.lit("full").alias("fill")
    )
    wcum = Window.partitionBy("band").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    partial_docs = (
        banded.join(F.broadcast(straddle), "band")
        .select(
            "doc_id",
            "band",
            "tok",
            "budget_left",
            F.sum("tok").over(wcum).alias("cum"),
        )
        .filter(F.col("cum") <= F.col("budget_left"))
        .select("doc_id", "band", "tok", F.lit("partial").alias("fill"))
    )
    return full_docs.unionAll(partial_docs)


@register(
    "t_domain_loss_weights",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, term
        FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
              FROM documents)
        WHERE term <> ''
    ), vocab AS (
        SELECT term, count(*) AS tf FROM t GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM t
    ), scored AS (
        SELECT doc_id, round(log10(CAST(tf AS DOUBLE) / n), 6) AS lp
        FROM t JOIN vocab USING (term) CROSS JOIN tot
    ), per_src AS (
        SELECT d.source, count(DISTINCT s.doc_id) AS n_docs,
            count(*) AS n_tokens,
            {davg_sql('s.lp', 6)} AS mean_logprob
        FROM scored s JOIN documents d USING (doc_id)
        GROUP BY 1
    ), base AS (
        SELECT min(mean_logprob) AS hardest FROM per_src
    ), ex AS (
        SELECT source, n_docs, n_tokens, mean_logprob,
            round(exp(least(5.0 * (hardest - mean_logprob), 50.0)), 8)
                AS escore
        FROM per_src, base
    )
    SELECT source, n_docs, n_tokens, mean_logprob,
        round(escore / cast(sum(cast(escore as decimal(27,8))) over ()
              as double), 6) AS domain_weight
    FROM ex
    ORDER BY source
    """,
    tags=("text", "mixture", "doremi"),
)
def t_domain_loss_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting from MODEL signal: per-source
    TOKEN-level mean log-probability under the corpus's own unigram LM
    (the t_unigram_logprob proxy for a reference model's loss — token-
    weighted, as training loss is), softmaxed
    into domain sampling weights — the source the model finds HARDEST
    (lowest mean log-prob) anchors at weight-score 1 and easier sources
    decay exponentially in their log-prob advantage: the third mixing
    recipe alongside t_mixture_rebalance (uniform target) and
    t_temperature_mixture (token-share power law), and the only one
    driven by model signal rather than volume. Temperature 5.0 on the
    log-prob gap, exponent clamped at 50 so a degenerate outlier
    can't overflow. The per-source mean log-prob is ONE raw decimal-sum
    quotient over the source's token stream, never re-rounded and with
    no intermediate per-doc quotient — the t_unigram_logprob contract,
    twice learned: a final quotient of a decimal sum is bit-identical
    across engines, but round()ing OR decimal-casting an intermediate
    quotient lands on exact grid ties (a /25 doc mean of 6dp values has
    an 8-digit expansion ending in 50) that the engines break
    differently. exp() outputs rounded at 8dp; normalizer
    decimal-summed over the bounded source list. Corpus cost is exactly
    the unigram-LM pipeline (one tokenize shuffle + term join); the
    reweighting is window math over |sources| rows. Cell-exact."""
    from pyspark.sql import Window

    from boxoffice_spark.functions.numeric import davg
    from boxoffice_spark.functions.caching import scoped_persist

    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(D.normalized_text("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    toks = scoped_persist(toks, "t_domain_loss_weights.toks")
    vocab = toks.groupBy("term").agg(F.count("*").alias("tf"))
    tot = toks.agg(F.count("*").cast("double").alias("n"))
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log10(F.col("tf").cast("double") / F.col("n")), 6).alias(
                "lp"
            ),
        )
    )
    # (token grain: one lp row per token occurrence)
    per_src = (
        scored.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_tokens"),
            davg("lp", scale=6).alias("mean_logprob"),
        )
    )
    base = per_src.agg(F.min("mean_logprob").alias("hardest"))
    ex = per_src.crossJoin(F.broadcast(base)).select(
        "source",
        "n_docs",
        "n_tokens",
        "mean_logprob",
        F.round(
            F.exp(
                F.least(
                    5.0 * (F.col("hardest") - F.col("mean_logprob")),
                    F.lit(50.0),
                )
            ),
            8,
        ).alias("escore"),
    )
    w = Window.partitionBy()
    return ex.select(
        "source",
        "n_docs",
        "n_tokens",
        "mean_logprob",
        F.round(
            F.col("escore")
            / F.sum(F.col("escore").cast("decimal(27,8)")).over(w).cast("double"),
            6,
        ).alias("domain_weight"),
    ).orderBy("source")


def _md5_mod100_sql(hexcol: str) -> str:
    """Build-stable DuckDB SQL for (first-15-hex-digits-of-md5 as uint60)
    % 100, mirroring Spark's ``conv(substring(md5(..),1,15),16,10) % 100``
    with explicit digit arithmetic: value%100 = sum(digit_d * (16^(15-d)
    % 100)) % 100 over the 15 hex positions. Every term is a tiny exact
    integer (strpos + multiply), so the expression is pinned on every
    engine build — unlike the '0x'-prefixed string->BIGINT cast it
    replaces, whose parse semantics vary across DuckDB versions (the
    round-7 driver red on t_span_corruption)."""
    coefs = [pow(16, 15 - d, 100) for d in range(1, 16)]
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substring({hexcol}, {d}, 1)) - 1)"
        f" * {c}"
        for d, c in zip(range(1, 16), coefs)
    )
    return f"(({terms}) % 100)"


@register(
    "t_span_corruption",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, tok AS token, i - 1 AS pos
        FROM (
            SELECT doc_id, unnest(lst) AS tok,
                generate_subscripts(lst, 1) AS i
            FROM (SELECT doc_id, string_split({_NORM}, ' ') AS lst
                  FROM documents)
        )
        WHERE tok <> ''
    ),
    hashed AS (
        SELECT doc_id, token, pos,
            md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)) AS h
        FROM toks
    ),
    marked AS (
        SELECT doc_id, token, pos, {_md5_mod100_sql('h')} < 15 AS masked
        FROM hashed
    ),
    spans0 AS (
        SELECT doc_id, token, pos, masked,
            CASE WHEN masked AND NOT coalesce(
                lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
            THEN 1 ELSE 0 END AS span_start
        FROM marked
    ),
    spans AS (
        SELECT doc_id, token, pos,
            CAST(sum(span_start) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                AS BIGINT) AS span_id
        FROM spans0 WHERE masked
    )
    SELECT doc_id, span_id,
        '<extra_id_' || span_id || '>' AS sentinel,
        min(pos) AS start_pos, count(*) AS span_len,
        string_agg(token, ' ' ORDER BY pos) AS span_text
    FROM spans
    GROUP BY 1, 2
    ORDER BY doc_id, span_id
    """,
    tags=("text", "pretraining", "span-corruption"),
)
def t_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption target construction: ~15% of each
    document's tokens are masked by a deterministic md5 coin
    (retry-safe, the t_hash_sample contract — resubmitting the job
    yields the same pretraining targets, which rand() cannot promise),
    consecutive masked tokens MERGE into spans, and each span gets its
    per-document sentinel <extra_id_k> in reading order — the
    denoising-objective table a seq2seq pretraining run consumes (the
    input/target strings are a client-side concat of this span ledger
    against the untouched token stream; the ledger is the part that
    must be exact). Span boundaries via a lag window per document
    (masked AND previous-not-masked), sentinel numbering via the
    running span-start count — both windows partition on doc_id, so the
    corpus-scale work is one tokenize shuffle + per-doc windows, no
    global state anywhere. Span text reassembles order-independently
    (sorted by position on both engines). Cell-exact."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(D.normalized_text("text"), " ")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    masked = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.col("pos"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 100
        < 15
    )
    marked = toks.select("doc_id", "token", "pos", masked.alias("masked"))
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    spans0 = marked.select(
        "doc_id",
        "token",
        "pos",
        "masked",
        F.when(
            F.col("masked")
            & ~F.coalesce(F.lag("masked").over(wlag), F.lit(False)),
            1,
        )
        .otherwise(0)
        .alias("span_start"),
    )
    wrun = wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spans = spans0.filter(F.col("masked")).select(
        "doc_id",
        "token",
        "pos",
        (F.sum("span_start").over(wrun) - 1).alias("span_id"),
    )
    return (
        spans.groupBy("doc_id", "span_id")
        .agg(
            # long, not posexplode's int32: both engines emit BIGINT so a
            # width-sensitive value hash cannot split an all-integer result
            F.min("pos").cast("long").alias("start_pos"),
            F.count("*").alias("span_len"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
                " ",
            ).alias("span_text"),
        )
        .select(
            "doc_id",
            "span_id",
            F.concat(
                F.lit("<extra_id_"), F.col("span_id").cast("string"), F.lit(">")
            ).alias("sentinel"),
            "start_pos",
            "span_len",
            "span_text",
        )
        .orderBy("doc_id", "span_id")
    )


@register(
    "t_code_detection",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, source, length(text) AS n_chars,
            len(regexp_extract_all(text, '[{{}}();=\\[\\]<>]')) AS n_code_chars,
            len(regexp_extract_all(text, '\\n[ \\t]{{2,}}')) AS n_indents,
            len(regexp_extract_all(text,
                '(?:def |class |import |return |function |var |const |#include)'))
                AS n_keywords
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source, n_chars,
            {ratio6_sql('n_code_chars', 'greatest(n_chars, 1)')}
                AS code_char_ratio,
            n_indents, n_keywords,
            (CAST(n_code_chars AS DOUBLE) / greatest(n_chars, 1) > 0.02
             AND (n_indents >= 2 OR n_keywords >= 1)) AS is_code
        FROM sig
    )
    SELECT source,
        count(*) AS n_docs,
        count(CASE WHEN is_code THEN 1 END) AS n_code_docs,
        {ratio6_sql('count(CASE WHEN is_code THEN 1 END)', 'count(*)')}
            AS code_fraction,
        {davg_sql('code_char_ratio', 6)} AS mean_code_char_ratio
    FROM scored
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("text", "filter", "code-detection"),
)
def t_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the routing filter every mixed crawl
    needs before mixture weighting (code wants different dedup
    thresholds, different quality gates, and its own mixture cell;
    prose pipelines that ingest code unawares get brace-soup 'low
    quality' scores from gates tuned for sentences): per document,
    the density of code-punctuation characters ({};()=[]<>), indented
    continuation lines, and language keywords vote a deterministic
    is_code flag (the t_lang_id recipe pointed at syntax instead of
    stopwords); the per-source roll-up is the corpus datacard row.
    Pure regexp_count projections — zero-shuffle scan work, one
    |sources|-row aggregate after; ratio cells are exact integer
    ratios (ratio6) and the mean is a value-preserving decimal sum of
    on-grid values (r10 conversion). Cell-exact."""
    d = table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_code_chars = F.regexp_count("text", F.lit(r"[{}();=\[\]<>]"))
    n_indents = F.regexp_count("text", F.lit("\n[ \t]{2,}"))
    n_keywords = F.regexp_count(
        "text",
        F.lit(
            "(?:def |class |import |return |function |var |const |#include)"
        ),
    )
    # r10 legacy conversion: both ratio cells are exact integer ratios
    # (ratio6's BIGINT HALF_UP); the mean of 6dp-grid ratios is davg's
    # value-preserving decimal sum + one IEEE division, emitted raw (an
    # outer round(double, 6) would re-introduce build-surface rounding).
    from boxoffice_spark.functions.numeric import davg

    sig = d.select(
        "source",
        n_chars.alias("n_chars"),
        n_code_chars.alias("n_code_chars"),
        n_indents.alias("n_indents"),
        n_keywords.alias("n_keywords"),
    )
    scored = sig.select(
        "source",
        ratio6("n_code_chars", "greatest(n_chars, 1)").alias(
            "code_char_ratio"
        ),
        (
            (
                F.col("n_code_chars").cast("double")
                / F.greatest(F.col("n_chars"), F.lit(1))
                > 0.02
            )
            & ((F.col("n_indents") >= 2) | (F.col("n_keywords") >= 1))
        ).alias("is_code"),
    )
    agg = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("is_code"), 1)).alias("n_code_docs"),
        davg("code_char_ratio", 6).alias("mean_code_char_ratio"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_code_docs",
        ratio6("n_code_docs", "n_docs").alias("code_fraction"),
        "mean_code_char_ratio",
    ).orderBy("source")


@register(
    "t_readability_scores",
    oracle="""
    WITH sig AS (
        SELECT doc_id, lang,
            greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                AS n_sentences,
            greatest(len(regexp_extract_all(lower(text),
                '[a-z가-힣]+')), 1) AS n_words,
            greatest(len(regexp_extract_all(lower(text),
                '[aeiouy가-힣]+')), 1) AS n_syllables
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, n_sentences, n_words, n_syllables,
            round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                  + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                  - 15.59, 4) AS fk_grade
        FROM sig
    )
    SELECT lang, count(*) AS n_docs,
        round(cast(sum(cast(fk_grade as decimal(27,4))) as double)
              / count(*), 4) AS mean_fk_grade,
        round(quantile_cont(fk_grade, 0.5), 4) AS median_fk_grade
    FROM scored
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("text", "quality", "readability"),
)
def t_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability per language — the
    audience-targeting quality axis the length/punct gates don't see
    (two equally 'clean' corpora can sit at grade 4 vs grade 14; a
    chat-assistant mix wants to KNOW its register): words per sentence
    + syllables per word through the standard FK coefficients, with
    syllables approximated by vowel-group runs (the classic portable
    heuristic — exact syllabification needs a dictionary; the
    approximation is monotone in true syllable count, which is all a
    corpus-level comparison uses). All three counts are regexp
    projections with floor-at-1 guards (a no-sentence fragment scores
    as one sentence, never a division blow-up); per-doc grades rounded
    4dp, decimal-summed means + exact interpolated medians per
    language. Zero-shuffle scan + one |langs|-row aggregate.
    Cell-exact."""
    d = table(spark, sf_dir, "documents")
    n_sentences = F.greatest(
        F.regexp_count("text", F.lit("[.!?]+")), F.lit(1)
    )
    n_words = F.greatest(
        F.regexp_count(F.lower("text"), F.lit("[a-z가-힣]+")), F.lit(1)
    )
    n_syllables = F.greatest(
        F.regexp_count(F.lower("text"), F.lit("[aeiouy가-힣]+")), F.lit(1)
    )
    fk = F.round(
        0.39 * (n_words.cast("double") / n_sentences)
        + 11.8 * (n_syllables.cast("double") / n_words)
        - 15.59,
        4,
    )
    scored = d.select("lang", fk.alias("fk_grade"))
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("fk_grade").cast("decimal(27,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("mean_fk_grade"),
            F.round(F.percentile("fk_grade", F.lit(0.5)), 4).alias(
                "median_fk_grade"
            ),
        )
        .orderBy("lang")
    )


@register(
    "t_license_detection",
    oracle="""
    WITH sig AS (
        SELECT doc_id, source,
            CASE
                WHEN regexp_matches(lower(text),
                    'apache license|licensed under the apache')
                    THEN 'apache-2.0'
                WHEN regexp_matches(lower(text),
                    'mit license|permission is hereby granted, free of charge')
                    THEN 'mit'
                WHEN regexp_matches(lower(text),
                    'gnu general public license|gpl-[23]')
                    THEN 'gpl'
                WHEN regexp_matches(lower(text),
                    'creative commons|cc-by|cc by')
                    THEN 'cc'
                WHEN regexp_matches(lower(text),
                    'all rights reserved')
                    THEN 'all-rights-reserved'
                ELSE 'none-detected'
            END AS license
        FROM documents
    )
    SELECT source, license, count(*) AS n_docs,
        round(CAST(count(*) AS DOUBLE)
              / sum(count(*)) OVER (PARTITION BY source), 6) AS share
    FROM sig
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("text", "compliance", "license"),
)
def t_license_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License-marker detection — the compliance gate a pretraining
    corpus needs BEFORE mixing (an 'all rights reserved' bucket and a
    CC bucket must route to different retention policies, and the GPL
    share of a code crawl is a downstream-licensing question lawyers
    ask by SOURCE): first-match-wins regex cascade over the canonical
    license phrases (Apache/MIT/GPL/CC/ARR), rolled up to (source,
    license) shares. The cascade's priority order is part of the
    contract (a dual-marked doc counts once, by the earlier rule) and
    identical in both engines' CASE semantics. Zero-shuffle regex scan
    + one bounded aggregate; the share window runs per source over the
    |sources| x |licenses| grid. Cell-exact."""
    d = table(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    license_col = (
        F.when(
            lt.rlike("apache license|licensed under the apache"),
            "apache-2.0",
        )
        .when(
            lt.rlike(
                "mit license|permission is hereby granted, free of charge"
            ),
            "mit",
        )
        .when(lt.rlike("gnu general public license|gpl-[23]"), "gpl")
        .when(lt.rlike("creative commons|cc-by|cc by"), "cc")
        .when(lt.rlike("all rights reserved"), "all-rights-reserved")
        .otherwise("none-detected")
    )
    from pyspark.sql import Window

    sig = d.select("source", license_col.alias("license"))
    wsrc = Window.partitionBy("source")
    return (
        sig.groupBy("source", "license")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "source",
            "license",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(wsrc), 6
            ).alias("share"),
        )
        .orderBy("source", "license")
    )


@register(
    "t_keyphrase_rake",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, u.tok AS token, u.pos AS pos
        FROM (
            SELECT doc_id,
                unnest(list_transform(
                    string_split({_NORM}, ' '),
                    (x, i) -> {{'tok': x, 'pos': i - 1}})) AS u
            FROM documents
        )
        WHERE u.tok <> ''
    ),
    marked AS (
        SELECT doc_id, token, pos,
            token IN ('the', 'and', 'of', 'a', 'is') AS is_stop
        FROM toks
    ),
    runs0 AS (
        SELECT doc_id, token, pos, is_stop,
            CASE WHEN NOT is_stop AND coalesce(
                lag(is_stop) OVER (PARTITION BY doc_id ORDER BY pos), TRUE)
            THEN 1 ELSE 0 END AS run_start
        FROM marked
    ),
    runs AS (
        SELECT doc_id, token, pos,
            sum(run_start) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        FROM runs0 WHERE NOT is_stop
    ),
    phrases AS (
        SELECT doc_id, run_id,
            string_agg(token, ' ' ORDER BY pos) AS phrase,
            count(*) AS n_words
        FROM runs GROUP BY 1, 2
        HAVING count(*) <= 4
    ),
    pwords AS (
        SELECT phrase, n_words,
            unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    wstat AS (
        SELECT w, count(*) AS freq,
            CAST(sum(n_words) AS DOUBLE) AS deg
        FROM pwords GROUP BY 1
    ),
    pscore AS (
        SELECT p.phrase, any_value(p.n_words) AS n_words,
            count(*) / any_value(p.n_words) AS n_occurrences,
            cast(sum(cast(round(s.deg / s.freq, 6) as decimal(27,6)))
                 as double) / (count(*) / any_value(p.n_words))
                AS rake_score
        FROM pwords p JOIN wstat s ON s.w = p.w
        GROUP BY 1
    )
    SELECT phrase, n_words, n_occurrences, rake_score
    FROM pscore
    ORDER BY rake_score DESC, phrase
    LIMIT 50
    """,
    tags=("text", "keyphrases", "rake"),
)
def t_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level RAKE keyphrase extraction: stopwords DELIMIT
    candidate phrases (contiguous content-word runs, <= 4 words), each
    word scores deg(w)/freq(w) over the phrase table (deg = total words
    co-occurring in w's phrases, freq = w's phrase occurrences — the
    RAKE trade: long-phrase membership up, commonness down), and a
    phrase scores the sum of its words — the datacard's 'what is this
    corpus ABOUT' list, a multi-word complement to t_tfidf_top_terms
    (single terms) and t_chi2_keywords (class-discriminative terms).
    Phrase runs reuse the span-corruption boundary machinery (lag +
    running-count windows per doc); word ratios round at 6dp and
    decimal-sum per phrase, then normalize by occurrence count (a raw
    final quotient, rule 3). Top-50 via TakeOrderedAndProject with the
    phrase text as tie-break. One tokenize shuffle + per-doc windows +
    one phrase-word join against the bounded word-stat table.
    Cell-exact."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(D.normalized_text("text"), " ")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    is_stop = F.col("token").isin("the", "and", "of", "a", "is")
    marked = toks.select("doc_id", "token", "pos", is_stop.alias("is_stop"))
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    runs0 = marked.select(
        "doc_id",
        "token",
        "pos",
        "is_stop",
        F.when(
            ~F.col("is_stop")
            & F.coalesce(F.lag("is_stop").over(wlag), F.lit(True)),
            1,
        )
        .otherwise(0)
        .alias("run_start"),
    )
    wrun = wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = runs0.filter(~F.col("is_stop")).select(
        "doc_id",
        "token",
        "pos",
        F.sum("run_start").over(wrun).alias("run_id"),
    )
    phrases = (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("n_words"),
        )
        .filter(F.col("n_words") <= 4)
    )
    pwords = phrases.select(
        "phrase", "n_words", F.explode(F.split("phrase", " ")).alias("w")
    )
    wstat = pwords.groupBy("w").agg(
        F.count("*").alias("freq"),
        F.sum("n_words").cast("double").alias("deg"),
    )
    pscore = (
        pwords.join(wstat, "w")
        .groupBy("phrase")
        .agg(
            F.any_value("n_words").alias("n_words"),
            (F.count("*") / F.any_value("n_words")).alias("n_occurrences"),
            (
                F.sum(
                    F.round(F.col("deg") / F.col("freq"), 6).cast(
                        "decimal(27,6)"
                    )
                ).cast("double")
                / (F.count("*") / F.any_value("n_words"))
            ).alias("rake_score"),
        )
    )
    return pscore.select(
        "phrase", "n_words", "n_occurrences", "rake_score"
    ).orderBy(F.col("rake_score").desc(), "phrase").limit(50)


@register(
    "t_bpe_pair_stats",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT substring(w, i, 2) AS pair
        FROM (
            SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM words WHERE len(w) >= 2
        )
    )
    SELECT pair, count(*) AS n_occurrences
    FROM pairs
    GROUP BY 1
    ORDER BY n_occurrences DESC, pair
    LIMIT 50
    """,
    tags=("text", "tokenizer", "bpe"),
)
def t_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics: corpus-wide frequencies of
    adjacent character pairs WITHIN words — exactly the statistic one
    byte-pair-encoding induction step maximizes (the top pair is the
    next merge), and the readout that says which tokenizer merges a
    corpus would learn first (a Korean-heavy crawl surfaces Hangul
    pairs a GPT-2 vocab lacks — the tokenizer-fit check next to
    t_tokenizer_fertility's exchange-rate view). Word-internal pairs
    only (BPE never merges across whitespace): each word explodes into
    len-1 substring(i, 2) pairs via a sequence explode — pure codegen,
    no Python; occurrences weighted by word frequency because every
    occurrence votes in real BPE. Top-50 via TakeOrderedAndProject with
    the pair text as tie-break. One tokenize + one pair-grain shuffle.
    Cell-exact."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(D.normalized_text("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(F.substring(F.col("w"), F.col("i"), 2).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(50)
    )
