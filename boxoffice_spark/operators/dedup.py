"""Document deduplication operators (BASELINE.json north-star; seeded by
the reference's fuzzy-match J4 — movie_events_scraper.py:56-128 — which is
a 1-vs-N near-dup problem on titles).

Four tiers, weakest-to-strongest guarantee, cheapest-to-dearest at 100 TB:

1. ``exact_dedup``       — hash-groupBy on a normalized fingerprint. One
   shuffle on a 16-byte key. The only tier with *exact* semantics.
2. ``ngram_jaccard_pairs`` — blocked pairwise word-3-gram Jaccard. Exact
   similarity, but O(block²); keep blocks bounded (here: (lang, source)).
3. ``simhash`` — 60-bit locality-sensitive fingerprint; near-dups collide
   in Hamming space. Map-side Arrow kernel: zero shuffle, one row per doc.
4. ``minhash_lsh_pairs`` — MinHash + banded LSH via Spark ML; sub-quadratic
   candidate generation, the scale path for corpus-level near-dup removal.

Tiers 1-2 are expressed in pure Catalyst expressions and tier 3 in a
Python kernel sharing their normalization + md5 recipe — all three
oracle-checkable bit-for-bit against DuckDB; tier 4 is approximate by
construction (rows-only check).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from boxoffice_spark.functions.numeric import ratio6_sql as _ratio6_sql
from boxoffice_spark.tables import spread

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits signed int64 in both engines


def normalized_text(col: Column | str) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


NORMALIZED_SQL = "trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array (order-sensitive token windows —
    unigram sets don't discriminate on small vocabularies)."""
    c = F.col(col) if isinstance(col, str) else col
    return _word_ngrams_col(F.split(normalized_text(c), " "), n)


def _word_ngrams_col(words: Column, n: int) -> Column:
    # Spark's sequence(start, stop) DESCENDS when start > stop —
    # sequence(1, 0) = [1, 0], unlike DuckDB generate_series(1, 0) = [] —
    # so a doc with fewer than n words would evaluate slice(words, 0, n)
    # and throw INVALID_PARAMETER_VALUE.START. Guard to an empty array,
    # matching the (empty-series) DuckDB oracle semantics.
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))


WORD_NGRAMS_SQL = (
    "list_transform(generate_series(1, greatest(len(string_split({norm}, ' ')) - {nm1}, 0)), "
    "i -> array_to_string(list_slice(string_split({norm}, ' '), i, i + {nm1}), ' '))"
)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Tier 1: exact duplicate groups by md5 of normalized text. Returns one
    row per distinct fingerprint: (fingerprint, keeper id = min id,
    n_copies). md5 (not xxhash64) so the fingerprint itself is
    oracle-comparable across engines."""
    fp = F.md5(normalized_text(text_col)).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def capped_pair_rows(
    post: DataFrame,
    key_cols: list[str],
    id_col: str,
    payload_cols: tuple[str, ...] = (),
    max_postings: int | None = 1000,
    max_successors: int | None = None,
) -> DataFrame:
    """Ordered candidate pairs (``id_a < id_b``) from an inverted-index
    postings table, evaluating the postings subtree ONCE.

    The textbook layout — ``post.alias("a").join(post.alias("b"), key)`` —
    looks free but physically plans as TWO full evaluations of everything
    upstream of ``post``: exchange reuse needs byte-identical canonical
    subplans and AQE's broadcast conversion routinely breaks it (measured
    on winnow_dup_pairs: the whole md5-gram fingerprint scan ran twice,
    once per join side). Collect-and-explode runs it once: group postings
    by key, collect the bounded sorted posting list, emit i<j pairs by
    exploding the array against its own tail slices.

    Memory stays bounded because the count-window cap drops keys with more
    than ``max_postings`` postings BEFORE the collect — and the window
    (partition-only, no ordering) rides the exact (key) shuffle the groupBy
    needs, so candidate generation costs ONE shuffle end-to-end. A key
    shared by that many documents is boilerplate, not dedup signal; callers
    document the recall trade.

    Returns columns ``id_a``, ``id_b`` plus ``<c>_a`` / ``<c>_b`` for each
    payload column (per-doc attributes riding the postings, e.g. set
    sizes for Jaccard or full signatures for Hamming rerank).

    ``max_successors`` bounds the PAIR output per key: each posting pairs
    with at most its next ``max_successors`` id-ordered neighbors instead
    of its whole tail, so a key shared by k docs emits O(k * cap) pairs
    instead of O(k²) — the term that turns superlinear when duplicate
    GROUP SIZES grow with the corpus (a bucket of k verbatim copies is
    C(k,2) pairs under the cap-less form even when k is far below
    max_postings; measured alpha 1.18 on the sf1->sf10 decade probe).
    Connectivity scope (ADVICE r09): the id-ordered successor chain keeps
    every key's posting set connected IN THE CANDIDATE GRAPH — for a
    bucket of homogeneous duplicates (the k-verbatim-copies case the cap
    targets) downstream connected-components therefore clusters
    identically. When a bucket MIXES distinct duplicate groups (or hash
    collisions), a later exact-similarity rerank can filter chain links
    that pass through dissimilar bucket-mates and split a cluster the
    cap-less form kept connected — the cap can lower recall further on
    mixed buckets, on top of banding's own probabilistic recall. What is
    traded away in the homogeneous case is only the redundant intra-group
    pair mass beyond the chain width. None = emit the full tail
    (exact-pairs contract).
    """
    if max_postings is not None:
        wk = W.partitionBy(*key_cols)
        post = (
            post.withColumn("_pdf", F.count("*").over(wk))
            .filter(F.col("_pdf") <= max_postings)
            .drop("_pdf")
        )
    entry = F.struct(F.col(id_col).alias("_id"), *[F.col(c) for c in payload_cols])
    grouped = post.groupBy(*key_cols).agg(F.array_sort(F.collect_list(entry)).alias("_ps"))
    # Generate pairs without materializing the size²/2 pair array in one
    # buffer: posexplode streams each element, slice takes its strict tail
    # (ids are unique per key, so struct sort order == id order and every
    # emitted pair satisfies id_a < id_b exactly once per key).
    tail_len = (
        "size(_ps)" if max_successors is None else str(int(max_successors))
    )
    pairs = grouped.select("_ps", F.posexplode("_ps").alias("_i", "_pa")).select(
        "_pa", F.explode(F.expr(f"slice(_ps, _i + 2, {tail_len})")).alias("_pb")
    )
    cols = [F.col("_pa._id").alias("id_a"), F.col("_pb._id").alias("id_b")]
    for c in payload_cols:
        cols += [F.col(f"_pa.{c}").alias(f"{c}_a"), F.col(f"_pb.{c}").alias(f"{c}_b")]
    return pairs.select(*cols)


def _shingle_pair_commons(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int,
    max_postings: int,
) -> DataFrame:
    """Shared inverted-index pair kernel behind ngram_jaccard_pairs and
    ngram_containment_pairs: shingle postings -> capped posting-list pair
    generation -> per-pair shared-shingle count. Returns one row per
    unordered candidate pair: (id_a, id_b, _sz_a, _sz_b, _common) with
    sizes = per-doc distinct-shingle counts. Every set-overlap metric
    (Jaccard, containment, overlap coefficient) is a projection over
    these three numbers — one kernel, N metrics."""
    # explode(array(e)) materializes the shingle array through a Generate
    # once per row; a plain select would let CollapseProject inline the
    # (lambda-bearing, so not subexpression-eliminated) shingle expression
    # into BOTH the size() and the explode() below — 2x the compute.
    shingled = spread(df).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        # materialize the word split through a Generate so the n-gram
        # lambda reads a column instead of re-splitting per element
        F.explode(F.array(F.split(normalized_text(text_col), " "))).alias("_w"),
    ).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        F.explode(
            F.array(F.array_distinct(_word_ngrams_col(F.col("_w"), n)))
        ).alias("_sh"),
    ).select(
        *block_cols, id_col, F.size("_sh").alias("_sz"), F.explode("_sh").alias("_g")
    )
    # Shingles are array_distinct'd per doc, so the postings list per
    # (block, _g) is the shingle's within-block document set; the shared
    # collect-and-explode generator caps it at max_postings and evaluates
    # the shingling scan once (see capped_pair_rows — the self-join form
    # ran it twice).
    pairs = capped_pair_rows(
        shingled, [*block_cols, "_g"], id_col, ("_sz",), max_postings
    )
    return pairs.groupBy("id_a", "id_b", "_sz_a", "_sz_b").agg(
        F.count("*").cast("int").alias("_common")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    max_postings: int = 1000,
) -> DataFrame:
    """Tier 2: pairwise word-n-gram Jaccard within blocks, via an
    inverted shingle index.

    Instead of the block-quadratic self-join (compare *every* pair in a
    block, full array_intersect each), explode to (shingle, id) postings and
    self-join on the shingle itself: only pairs that *share* a shingle are
    ever materialized, the common-shingle count falls out of a groupBy, and
    ``|A ∪ B| = |A| + |B| - common``. Any pair at jaccard ≥ threshold > 0
    shares a shingle, so the result set is identical to the quadratic form.
    At 100 TB the shuffle is postings-sized (corpus token count), not
    block²-sized.

    Hot shingles are the remaining skew risk: a boilerplate shingle shared
    by k docs of one block emits k² join rows, and AQE only splits
    partitions — it cannot bound a single shingle's pair output. So a
    shingle whose within-block document frequency exceeds ``max_postings``
    is dropped from the index before the self-join (the same cap
    ``chunk_dup_pairs`` applies to chunk hashes). That common a shingle is
    boilerplate, not dedup signal. Trade-off: a pair whose overlap rests
    only on dropped shingles scores lower (sizes stay full, so jaccard
    never over-counts) — a bounded recall cost for a hard k² bound.
    """
    return (
        _shingle_pair_commons(df, id_col, text_col, block_cols, n, max_postings)
        .select(
            "id_a",
            "id_b",
            (
                F.col("_common").cast("double")
                / (F.col("_sz_a") + F.col("_sz_b") - F.col("_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.8,
    max_postings: int = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup: word-n-gram containment C(A,B) =
    |A ∩ B| / min(|A|, |B|) within blocks — the subset-duplication
    detector Jaccard systematically misses. A snippet quoted whole inside
    a much longer page has tiny Jaccard (the union is dominated by the
    big doc) but containment ≈ 1; dedup policies treat that differently
    from symmetric near-identity (drop the contained snippet, keep the
    superset — or vice versa for boilerplate wrappers). This is the
    containment variant of shingle similarity from Broder, "On the
    resemblance and containment of documents" (SEQUENCES 1997).

    Emits one row per unordered pair at containment >= threshold, with
    ``contained_id`` naming the smaller shingle set (the doc that is
    mostly inside the other; size ties -> lower id, deterministic).

    Same physical shape as ngram_jaccard_pairs — both are projections
    over the shared inverted-index pair kernel (_shingle_pair_commons):
    postings-sized shuffle, hot-shingle cap, no block-quadratic join.
    Any pair with containment >= threshold > 0 shares a shingle, so the
    result set is identical to the quadratic form (under the cap
    contract).
    """
    return (
        _shingle_pair_commons(df, id_col, text_col, block_cols, n, max_postings)
        .select(
            "id_a",
            "id_b",
            (
                F.col("_common").cast("double")
                / F.least("_sz_a", "_sz_b")
            ).alias("containment"),
            F.when(F.col("_sz_a") <= F.col("_sz_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
        )
        .filter(F.col("containment") >= threshold)
    )


def _word_hash(word: Column) -> Column:
    """60-bit word hash shared with the DuckDB oracle: first 15 hex chars of
    md5, parsed base-16. (xxhash64 would be faster but engine-specific.)"""
    return F.conv(F.substring(F.md5(word), 1, 15), 16, 10).cast("long")


WORD_HASH_SQL = "CAST(('0x' || substring(md5({w}), 1, 15)) AS BIGINT)"


def md5_u60_sql(hex_expr: str) -> str:
    """Build-stable DuckDB SQL for the first-15-hex-digits of an md5 hex
    string as a 60-bit BIGINT — the digit-arithmetic twin of
    :func:`_word_hash` (strpos + BIGINT place-value constants, max term
    15*16^14 < 2^63). Unlike ``WORD_HASH_SQL``'s '0x'-prefixed
    string->BIGINT cast, whose parse semantics vary across DuckDB builds
    (the t_span_corruption round-7 driver red), this form is pinned on
    every engine build — it is the construct e_surrogate_keys holds a
    driver green on (CORRECTNESS_r08). ``hex_expr`` must be a bare column
    or cheap expression: it is referenced 15 times."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substring({hex_expr}, {d}, 1)) - 1)"
        f" * {16 ** (15 - d)}"
        for d in range(1, 16)
    )
    return f"({terms})"


def _norm_words_py(text: str) -> list[str]:
    """Python twin of ``split(normalized_text(col), ' ')`` — shared by every
    map-side Arrow kernel so JVM/DuckDB parity lives in ONE place.

    The whitespace class is spelled out in ASCII ([ \\t\\n\\x0b\\f\\r])
    because Java regex \\s and DuckDB/RE2 \\s are ASCII-only while
    Python's \\s is Unicode-aware — a bare r"\\s+" here would collapse a
    non-breaking space into a word boundary that the JVM form keeps
    inside a token, silently desynchronizing the md5 shingle hashes.
    trim() in both engines strips the plain space produced by the
    collapse, so .strip(" ") (not Unicode .strip()) matches.

    Locale contract (ADVICE r07): ``text.lower()`` here is Python's
    locale-INDEPENDENT Unicode lowercasing, while Spark's ``lower()``
    lowers non-ASCII strings through the JVM default locale — a JVM
    running a Turkish-style locale maps 'I' -> 'ı' and silently desyncs
    the hashes. The engine therefore assumes a ROOT-ish JVM locale
    (``-Duser.language=`` unset or en/C, the Spark default image); ASCII
    fixtures cannot catch a violation, so deployments with locale-bearing
    JVMs must pin ``user.language`` explicitly.
    """
    import re as _re

    return _re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ").split(" ")


def _hash60_py(word: str) -> int:
    """Python twin of :func:`_word_hash` / ``WORD_HASH_SQL``: first 15 hex
    chars of md5, parsed base-16 (60 bits, fits a signed long)."""
    import hashlib

    return int(hashlib.md5(word.encode("utf-8")).hexdigest()[:15], 16)


def word_ngram_hashes_fast(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-doc DISTINCT word-n-gram 60-bit hashes, map-side — the Arrow
    twin of ``explode(_word_ngrams_col) -> _word_hash -> distinct``.

    The declarative shingle pipeline builds every n-gram string through an
    interpreted ``transform``/``array_join``/``slice`` chain (lambda-bearing
    higher-order functions never enter codegen) and then pays a corpus-wide
    (doc, hash) distinct shuffle; the honest sf1 probe billed that ~45 s
    for 2.5M shingles. Here each scan batch normalizes, shingles, hashes
    (the shared :func:`_norm_words_py` / :func:`_hash60_py` parity
    recipe) and DEDUPS per doc in Python sets — zero shuffle, rows out =
    per-doc distinct shingles, bit-identical to the fold form. A null
    text drops the doc, matching the declarative chain (NULL -> empty
    shingle array -> no rows).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids_out, hs_out = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str):
                    continue  # NULL text: the declarative twin emits no rows
                words = _norm_words_py(t)
                if len(words) < n:
                    continue
                hs = {
                    _hash60_py(" ".join(words[j : j + n]))
                    for j in range(len(words) - n + 1)
                }
                ids_out.append(np.full(len(hs), i, dtype=np.int64))
                hs_out.append(np.fromiter(hs, dtype=np.int64, count=len(hs)))
            if ids_out:
                yield pd.DataFrame(
                    {id_col: np.concatenate(ids_out), "h": np.concatenate(hs_out)}
                )

    from boxoffice_spark.tables import spread

    return spread(df).select(id_col, text_col).mapInPandas(
        batches, schema=f"{id_col} long, h long"
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Tier 3: SimHash fingerprint (Charikar) over word hashes, map-side
    via mapInPandas.

    Each doc's fingerprint is computed inside its scan partition in a
    single Arrow batch pass — zero shuffle, one row per doc (an explode
    form would shuffle one row per WORD into a ``bits``-aggregate
    groupBy). Bit semantics: md5-derived word hashes (the shared
    :func:`_norm_words_py` / :func:`_hash60_py` parity recipe), each
    occurrence votes, tie -> 0 — bit-exact against the DuckDB oracle
    :func:`simhash_sql`. A NULL text drops the doc, as the oracle's
    unnest of a NULL word list does. One row per input row, so ids must
    be unique (the oracle groups by id).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    shifts = np.arange(bits, dtype=np.uint64)

    def one(text: str) -> int:
        hs = np.fromiter(
            (_hash60_py(w) for w in _norm_words_py(text)),
            dtype=np.uint64,
        )
        votes = (((hs[:, None] >> shifts) & 1).astype(np.int64) * 2 - 1).sum(axis=0)
        return int(((votes > 0).astype(np.uint64) << shifts).sum())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (i, one(t))
                for i, t in zip(pdf[id_col], pdf[text_col])
                if isinstance(t, str)  # NULL text: the oracle emits no row
            ]
            if rows:
                yield pd.DataFrame(rows, columns=[id_col, "simhash"])

    return spread(df).select(id_col, text_col).mapInPandas(
        batches, schema=f"{id_col} long, simhash long"
    )


def simhash_sql(table_expr: str, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB oracle of :func:`simhash`: explode words -> per-bit signed
    vote -> majority -> reassemble (generated, kept in lockstep)."""
    norm = NORMALIZED_SQL.format(col=text_col)
    votes = ", ".join(
        f"sum(CASE WHEN (({WORD_HASH_SQL.format(w='_w')} >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS _v{j}"
        for j in range(bits)
    )
    recombine = " + ".join(f"(CASE WHEN _v{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)" for j in range(bits))
    return f"""
    WITH words AS (
        SELECT {id_col}, unnest(string_split({norm}, ' ')) AS _w FROM {table_expr}
    ),
    votes AS (
        SELECT {id_col}, {votes} FROM words GROUP BY {id_col}
    )
    SELECT {id_col}, CAST({recombine} AS BIGINT) AS simhash FROM votes
    """


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_postings: int = 1000,
    max_successors: int | None = 16,
) -> DataFrame:
    """Tier 4: MinHash + banded LSH candidate pairs, all-Catalyst.

    shingle -> 32-permutation minhash signature (``array_min`` over
    ``xxhash64(shingle, seed_j)`` — pure codegen, no ML pipeline / model
    fit / per-row UDF) -> band into ``bands`` buckets of ``r`` rows ->
    posting-list self-join on (band, bucket-hash) -> exact Jaccard rerank
    on the (few) candidates via array_intersect.

    Sub-quadratic: only bucket-colliding pairs are compared — the tier that
    survives corpus-scale all-pairs dedup. With b=16 bands of r=2,
    P(candidate | s=0.5) = 1-(1-s²)¹⁶ ≈ .99; false candidates are removed
    by the exact rerank, so precision is exact and only recall is
    probabilistic. Rows-only check; the exact tiers are its small-scale
    oracle (tests/test_llm_ops.py asserts recall).

    PAIR-OUTPUT BOUND (scale contract, r09 — the sf1->sf10 decade probe
    measured alpha 1.18 before it): ``max_successors=16`` caps each
    posting to its next 16 id-ordered bucket neighbors, so a bucket of k
    near-identical docs emits O(16k) candidate pairs instead of C(k,2) —
    the term that grows QUADRATICALLY in duplicate-group size even under
    the max_postings bucket cap (a corpus where copy-groups grow with
    volume, e.g. boilerplate at 100 TB, is exactly where that bites).
    Groups of <= 17 copies still emit every pair; larger HOMOGENEOUS
    duplicate groups stay connected through the id-ordered successor
    chain in the CANDIDATE graph, so their connected-components clusters
    are unchanged and only redundant intra-group pair mass is dropped.
    Caveat (ADVICE r09): connectivity is pre-rerank — when one bucket
    interleaves distinct duplicate groups (or hash collisions), the
    exact-Jaccard rerank can cut chain links through dissimilar
    bucket-mates and split a cluster the uncapped form kept, so recall
    (already probabilistic under banding) can drop further on mixed
    buckets (tests/test_llm_ops.py pins the homogeneous-group property).
    Pass ``max_successors=None`` for the exhaustive-pairs form.
    """
    r = num_hashes // bands
    shingles = F.array_distinct(_word_ngrams_col(F.split(normalized_text(text_col), " "), n))

    # Signature as a codegen'd hash aggregate: explode shingles once, take
    # min(xxhash64(shingle, seed_j)) per permutation. Higher-order-function
    # folds (aggregate/zip_with) stay interpreted in Spark and CollapseProject
    # re-inlines lambda-bearing expressions (they're excluded from
    # subexpression elimination), so the "functional" formulations all
    # re-evaluate the shingling or run row-at-a-time; min()-aggregates go
    # through whole-stage codegen and the shuffle carries (id, shingle) once.
    # Hash each shingle STRING once (length-proportional cost), then derive
    # the per-permutation draws by hashing the resulting 64-bit value with
    # the permutation index (constant cost): xxhash64(xxhash64(g), j) is an
    # independent-enough family for banding and cuts the string-hash work
    # num_hashes-fold — at sf1 the signature scan dominated the tier's
    # wall (alpha 0.93, the suite's worst; VERDICT r05 item 7). The
    # single-string-hash signature cut the measured exponent to
    # alpha=0.61 at sf1 (SCALE_sf1.json). The concrete candidate set
    # differs (different permutation family -> different bucket
    # collisions) but the EXPECTED recall is set by the banding shape
    # (b=16, r=2), not by which independent hash family seeds it;
    # t_dedup_recall_report stays the measured guardrail.
    words = (
        spread(df)
        .select(F.col(id_col), F.explode(shingles).alias("_g"))
        .select(F.col(id_col), F.xxhash64("_g").alias("_h"))
    )
    sigt = words.groupBy(id_col).agg(
        *[F.min(F.xxhash64("_h", F.lit(j))).alias(f"_m{j}") for j in range(num_hashes)]
    )
    # Post-aggregation the minima are real attributes, so banding them is
    # plain cheap projection. Postings carry only (id, band, bucket) —
    # carrying shingle arrays through the band explode would amplify shuffle
    # bytes by ``bands``x; the (few) candidate pairs join back to the
    # shingled table by id for the exact rerank instead.
    buckets = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col(f"_m{b * r + i}") for i in range(r)])
            for b in range(bands)
        ]
    )
    postings = sigt.select(F.col(id_col), F.posexplode(buckets).alias("_band", "_bucket"))
    # Bucket-size cap: a (band, bucket) holding > max_postings docs would
    # emit O(size²) candidate pairs. A bucket that hot means the band's
    # minhashes are degenerate across a huge doc population (boilerplate /
    # near-empty docs) — drop it; other bands still vote, so the banded-OR
    # recall guarantee degrades gracefully instead of the pair-gen
    # exploding. capped_pair_rows applies the cap on the one (band, bucket)
    # shuffle and evaluates the signature aggregate ONCE (the self-join
    # form ran the whole shingle+minhash pipeline per side).
    # cand feeds THREE consumers (the candidate-id broadcast for each
    # rerank side's semi-join, and the final pair join) and each would
    # re-evaluate the full signature pipeline — cache it so the minhash
    # aggregate runs once. Lazy persist, not eager checkpoint: the work
    # stays inside the query's own execution, it's just not repeated.
    # scoped_persist bounds the cache to one live handle across repeated
    # calls (a bare persist() per call leaks executor storage in loops).
    from boxoffice_spark.functions.caching import scoped_persist

    cand = scoped_persist(
        capped_pair_rows(
            postings, ["_band", "_bucket"], id_col, (), max_postings,
            max_successors=max_successors,
        ).dropDuplicates(["id_a", "id_b"]),
        "minhash_lsh_pairs.cand",
    )
    # Rerank shingles are recomputed ONLY for candidate docs: the semi-join
    # on raw (id, text) runs BEFORE the shingle projection, so the n-gram
    # transform never touches the non-candidate corpus (LSH admits few
    # candidates by design — this is the difference between re-shingling
    # ~0.1% and 100% of a 100 TB corpus, twice).
    cand_ids = cand.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    shingled = (
        spread(df)
        .select(F.col(id_col), F.col(text_col))
        .join(cand_ids, id_col, "semi")
        .select(F.col(id_col), shingles.alias("_sh"))
    )
    sha = shingled.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha"))
    shb = shingled.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    return (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .select("id_a", "id_b", (inter.cast("double") / union).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= threshold)
    )


# the pigeonhole scheme shared by the batch pair generator below and the
# streaming cluster-maintenance probe (streaming/jobs.py): any pair within
# Hamming distance <= SIMHASH_MAX_HAMMING must agree exactly on at least
# one of SIMHASH_CHUNKS equal fingerprint chunks
SIMHASH_CHUNKS = 4
SIMHASH_MAX_HAMMING = 3


def simhash_chunk_postings(
    sh: DataFrame,
    keep_cols: list[str],
    chunks: int = SIMHASH_CHUNKS,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Posting rows (keep_cols..., simhash, _chunk, _val) for a frame
    carrying a ``simhash`` column: the fingerprint split into ``chunks``
    equal slices, one row per slice — the inverted-index key under the
    pigeonhole candidate join. One shared expression so the batch pair
    generator and the streaming probe can never drift apart on the
    chunking scheme."""
    width = bits // chunks
    mask = (1 << width) - 1
    return sh.select(
        *keep_cols,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask))
                    for c in range(chunks)
                ]
            )
        ).alias("_chunk", "_val"),
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
    chunks: int = SIMHASH_CHUNKS,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints by Hamming distance.

    Pigeonhole bucketing: split the ``bits``-bit fingerprint into ``chunks``
    equal chunks; any pair within Hamming distance < ``chunks`` must agree
    EXACTLY on at least one chunk (max_hamming <= chunks-1 guarantees no
    recall loss). Posting-list self-join on (chunk_index, chunk_value) —
    the same inverted-index shape as ngram_jaccard_pairs, constant per-doc
    postings — then an exact popcount(xor) rerank on candidates. Everything
    codegen, oracle-exact against DuckDB's bit_count(xor(...)).
    """
    if max_hamming > chunks - 1:
        raise ValueError("pigeonhole guarantee needs max_hamming <= chunks - 1")
    sh = simhash(df, id_col, text_col, bits)
    postings = simhash_chunk_postings(sh, [id_col], chunks, bits)
    # No cap here: the DuckDB twin below has none, and this operator's
    # contract is oracle-exactness. At corpus scale compose with an
    # upstream exact_dedup pass (identical docs share a fingerprint and
    # are THE degenerate-bucket source) or pass a cap via
    # capped_pair_rows directly.
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        capped_pair_rows(postings, ["_chunk", "_val"], id_col, ("simhash",), None)
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_hamming_pairs_sql(
    table_expr: str,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    chunks: int = 4,
) -> str:
    """DuckDB twin of :func:`simhash_hamming_pairs` (kept in lockstep)."""
    width = bits // chunks
    mask = (1 << width) - 1
    union = "\n        UNION ALL ".join(
        f"SELECT {id_col}, simhash, {c} AS chunk, ((simhash >> {c * width}) & {mask}) AS val FROM sh"
        for c in range(chunks)
    )
    return f"""
    WITH sh AS ({simhash_sql(table_expr, id_col, text_col, bits)}),
    postings AS (
        {union}
    )
    SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM postings a JOIN postings b
      ON a.chunk = b.chunk AND a.val = b.val AND a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def content_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    avg_chunk: int = 64,
    min_chunk: int = 16,
    max_chunk: int = 256,
) -> DataFrame:
    """Content-defined chunking via a Gear rolling hash (the 'rolling hash
    fingerprinting' primitive): boundaries fall where the rolling hash of
    the last bytes masks to zero, so INSERTIONS SHIFT BOUNDARIES ONLY
    LOCALLY — two near-identical documents share almost all chunk hashes,
    which is what makes sub-document dedup/delta-storage work where
    whole-doc fingerprints (exact_dedup) see two distinct blobs.

    Output: (id, chunk_no, start, n_bytes, chunk_hash) over the utf-8 bytes
    of the normalized text. Per-byte recurrence is inherently sequential —
    not expressible in Catalyst — so this is a mapInPandas operator: the
    loop runs once per document inside Arrow batches, partition-parallel,
    zero shuffle. Deterministic (seeded gear table); tested for coverage,
    determinism, and chunk sharing across planted near-dups.
    """
    import hashlib
    import re as _re
    from collections.abc import Iterator

    import pandas as pd

    # deterministic 256-entry gear table from md5 of the byte value
    gear = [
        int.from_bytes(hashlib.md5(bytes([b])).digest()[:8], "big") for b in range(256)
    ]
    boundary_mask = avg_chunk - 1  # avg_chunk must be a power of two

    def chunk_one(text: str) -> list[tuple[int, int, int, str]]:
        data = _re.sub(r"\s+", " ", text.lower()).strip().encode("utf-8")
        out, start, h = [], 0, 0
        for i, byte in enumerate(data):
            h = ((h << 1) + gear[byte]) & 0xFFFFFFFFFFFFFFFF
            size = i + 1 - start
            if (size >= min_chunk and (h & boundary_mask) == 0) or size >= max_chunk:
                piece = data[start : i + 1]
                out.append((len(out), start, size, hashlib.md5(piece).hexdigest()))
                start, h = i + 1, 0
        if start < len(data):
            piece = data[start:]
            out.append((len(out), start, len(piece), hashlib.md5(piece).hexdigest()))
        return out

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                for chunk_no, start, n, hx in chunk_one(text):
                    rows.append((did, chunk_no, start, n, hx))
            yield pd.DataFrame(
                rows, columns=[id_col, "chunk_no", "start", "n_bytes", "chunk_hash"]
            )

    return spread(df).select(id_col, text_col).mapInPandas(
        batches,
        schema=f"{id_col} long, chunk_no int, start int, n_bytes int, chunk_hash string",
    )


def chunk_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 3,
    min_containment: float = 0.5,
    max_postings: int = 1000,
    **chunk_kwargs,
) -> DataFrame:
    """Sub-document near-dup pairs from shared CDC chunk fingerprints
    (content_chunks): two documents pair when they share >= min_shared
    distinct chunk hashes AND the shared count covers >= min_containment
    of the smaller document's chunks. Catches partial-overlap/containment
    duplicates that whole-doc fingerprints (simhash/minhash over the full
    text) dilute away.

    Scale shape = an inverted index join: (doc, chunk_hash) postings
    self-joined on chunk_hash. The quadratic risk is a boilerplate chunk
    shared by millions of docs — those postings lists are capped at
    max_postings docs and dropped (a chunk that common is boilerplate, not
    dedup signal; same cap strategy as the LSH bucket join). One shuffle
    on chunk_hash for the join, one on the pair for the count.
    """
    # Per-doc distinct chunk hashes + their count in ONE scan of the (Python,
    # expensive) CDC chunker — the previous per_doc/hot/pruned three-branch
    # layout re-ran content_chunks per branch. collect_set per doc is
    # bounded: chunk count per doc ~ len(text)/target_size.
    chunks = (
        content_chunks(df, id_col, text_col, **chunk_kwargs)
        .groupBy(id_col)
        .agg(F.collect_set("chunk_hash").alias("_chs"))
        .select(
            F.col(id_col),
            F.size("_chs").alias("_n"),
            F.explode("_chs").alias("chunk_hash"),
        )
    )
    pairs = capped_pair_rows(chunks, ["chunk_hash"], id_col, ("_n",), max_postings)
    return (
        pairs.groupBy("id_a", "id_b", "_n_a", "_n_b")
        .agg(F.count("*").alias("shared_chunks"))
        .filter(F.col("shared_chunks") >= min_shared)
        .withColumn(
            "containment",
            F.round(F.col("shared_chunks") / F.least("_n_a", "_n_b"), 6),
        )
        .filter(F.col("containment") >= min_containment)
        .select("id_a", "id_b", "shared_chunks", "containment")
    )


def contamination_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_pred: Column,
    n: int = 8,
) -> DataFrame:
    """Train/eval decontamination report: for each EVAL document, the
    fraction of its distinct word-``n``-gram shingles that also occur
    anywhere in the TRAIN split (``~eval_pred``) — the standard benchmark-
    contamination check run before pretraining (n-gram overlap against held-
    out eval sets; cf. the 13-gram checks popularized by GPT-3/Dolma).

    Scale shape: shingles are reduced to 60-bit hashes before the join, so
    the shuffle carries 8-byte keys instead of n-word strings; the train
    side is a distinct-aggregate (map-side partial dedup) and the probe is
    a LEFT SEMI join — Spark keeps only the key column and short-circuits
    on first match. At 100 TB the train shingle set is the big side: both
    sides shuffle-partition on the hash (no broadcast), which is exactly
    the Dolma/RedPajama decontamination layout.

    No hand-built Bloom prefilter: thinning the train scan by a filter
    over the small eval hash set is left to Spark's runtime Bloom-filter
    injection (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on by
    default), which the optimizer applies to shuffle joins when its size
    conditions hold.
    """
    # Two Generate barriers (explode(array(e)) — see ngram_jaccard_pairs):
    # first materializes the word split so the n-gram lambda reads a column
    # instead of re-splitting the document per element (O(len), not
    # O(len^2)); second materializes the shingle array so each consumer
    # branch reads it rather than re-deriving the lambda expression.
    from boxoffice_spark.functions.caching import scoped_persist

    # r11: the shingle frame feeds THREE consumers (eval hashes, eval
    # totals, train hashes) — without the persist the corpus scan +
    # normalize + n-gram build is re-evaluated once per branch (the same
    # tripled-scan t_curation_funnel's persisted shingle frame fixed;
    # its sf1 growth probe measured the doubled variant as α=0.75).
    # Bounded: one live handle per scope (scoped_persist).
    base = scoped_persist(
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            eval_pred.alias("_is_eval"),
            F.explode(F.array(F.split(normalized_text(text_col), " "))).alias("_w"),
        )
        .select(
            "doc_id",
            "_is_eval",
            F.explode(
                F.array(F.array_distinct(_word_ngrams_col(F.col("_w"), n)))
            ).alias("_sh"),
        ),
        "contamination_report.shingled",
    )
    ev = base.filter("_is_eval")
    evh = ev.select("doc_id", F.explode("_sh").alias("_g")).select(
        "doc_id", _word_hash(F.col("_g")).alias("h")
    )
    train = (
        base.filter(~F.col("_is_eval"))
        .select(F.explode("_sh").alias("_g"))
        .select(_word_hash(F.col("_g")).alias("h"))
        .distinct()
    )
    hits = evh.join(train, "h", "left_semi").groupBy("doc_id").agg(
        F.count("*").alias("n_hit")
    )
    totals = ev.select("doc_id", F.size("_sh").cast("long").alias("n_shingles"))
    # contamination_frac is an exact integer ratio: ratio6's BIGINT HALF_UP
    # replaces the build-sensitive round(double, 6) (r09 legacy conversion)
    from boxoffice_spark.functions.numeric import ratio6

    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            ratio6("n_hit", "greatest(n_shingles, 1)").alias(
                "contamination_frac"
            ),
        )
    )


CONTAMINATION_SQL = """
WITH base AS (
    SELECT {id_col} AS doc_id, ({eval_pred}) AS is_eval,
           list_distinct({ngrams}) AS sh
    FROM {table}
), evh AS (
    SELECT doc_id, {hash_g} AS h
    FROM (SELECT doc_id, unnest(sh) AS g FROM base WHERE is_eval)
), train AS (
    SELECT DISTINCT {hash_g} AS h
    FROM (SELECT unnest(sh) AS g FROM base WHERE NOT is_eval)
), totals AS (
    SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM base WHERE is_eval
), hits AS (
    SELECT doc_id, count(*) AS n_hit FROM evh
    WHERE h IN (SELECT h FROM train) GROUP BY 1
)
SELECT t.doc_id, t.n_shingles,
       CAST(coalesce(hi.n_hit, 0) AS BIGINT) AS n_hit,
""" + _ratio6_sql(
    "coalesce(hi.n_hit, 0)", "greatest(t.n_shingles, 1)"
) + """ AS contamination_frac
FROM totals t LEFT JOIN hits hi USING (doc_id)
"""


def doc_units(
    df: DataFrame, id_col: str, text_col: str, unit_words: int = 8
) -> DataFrame:
    """Segment every document into consecutive ``unit_words``-word units:
    (id, pos, line) rows, empty units dropped. The shared tiling step
    under line_dedup (keep-first span dedup) and boilerplate mining —
    scan-local (posexplode), zero shuffles."""
    norm = normalized_text(text_col)
    words = F.split(norm, " ")
    # built on the materialized _w column, not the original text — the
    # Generate projection below drops text_col
    n_units = F.ceil(F.size(F.col("_w")) / F.lit(unit_words)).cast("int")
    return (
        df.select(F.col(id_col), F.explode(F.array(words)).alias("_w"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n_units, F.lit(0)) - 1),
                    lambda s: F.array_join(
                        F.slice(F.col("_w"), s * unit_words + 1, unit_words), " "
                    ),
                )
            ).alias("pos", "line"),
        )
        .filter(F.col("line") != "")
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    unit_words: int = 8,
) -> DataFrame:
    """C4-style corpus-level span dedup: segment every document into
    consecutive ``unit_words``-word units ("lines" — the fixture corpus
    has no newlines, so the unit is a fixed word window), keep only the
    FIRST occurrence of each distinct unit across the whole corpus
    (ordered by (doc_id, pos)), and reassemble the surviving units in
    document order. The span-level complement of document-level dedup:
    boilerplate shared by thousands of otherwise-distinct pages is
    removed from all but one of them (C4's "three-sentence span" rule,
    Raffel et al. 2020, word-window form).

    Scale shape: posexplode to (doc, pos, unit) — no shuffle; ONE shuffle
    on the unit string for the keep-first window (at 100 TB hash the unit
    to 8 bytes first and resolve the rare collisions with an equality
    re-check, as contamination_report does); one more shuffle back on doc
    to reassemble via sorted collect. Output row count == input row count
    (empty/fully-deduped docs come back with empty text), so the operator
    composes with downstream quality filters.
    """
    from pyspark.sql import Window

    segs = doc_units(df, id_col, text_col, unit_words)
    w = Window.partitionBy("line").orderBy(id_col, "pos")
    kept = segs.withColumn("keep", F.row_number().over(w) == 1)
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "line", "keep"))),
                    lambda x: x["keep"],
                ),
                lambda x: x["line"],
            ),
            " ",
        ).alias("cleaned_text"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


LINE_DEDUP_SQL = """
WITH w AS (
    SELECT {id_col}, string_split({norm}, ' ') AS words FROM {table}
), segs AS (
    SELECT {id_col}, CAST(s AS INT) AS pos,
           array_to_string(list_slice(words, s * {u} + 1, s * {u} + {u}), ' ') AS line
    FROM (
        SELECT {id_col}, words,
               unnest(range(CAST(ceil(len(words) / {u}.0) AS BIGINT))) AS s
        FROM w WHERE len(words) > 0
    )
    WHERE array_to_string(list_slice(words, s * {u} + 1, s * {u} + {u}), ' ') <> ''
), k AS (
    SELECT {id_col}, pos, line,
           row_number() OVER (PARTITION BY line ORDER BY {id_col}, pos) = 1 AS keep
    FROM segs
), agg AS (
    SELECT {id_col},
           array_to_string(list_transform(
               list_sort(list(struct_pack(pos := pos, line := line)) FILTER (WHERE keep)),
               x -> x.line), ' ') AS cleaned_text,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped
    FROM k GROUP BY 1
)
SELECT d.{id_col},
       coalesce(a.cleaned_text, '') AS cleaned_text,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.n_dropped, 0) AS n_dropped
FROM {table} d LEFT JOIN agg a USING ({id_col})
"""


def source_overlap_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Corpus-level overlap between SOURCES: for every pair of groups
    (crawl snapshots, vendors, dumps), the Jaccard similarity of their
    distinct word-n-gram shingle SETS — the sourcing-decision report a
    pipeline reads before paying to ingest a new corpus ("how much of
    vendor B is already inside crawl A?"). Doc-level dedup answers a
    different question (which rows to drop); this answers whether a whole
    source is worth acquiring.

    Physical shape: one tokenize scan -> distinct (group, shingle) ->
    per-shingle sorted group list (the posting list — bounded by the
    number of SOURCES, typically < 100, so the pair explosion per
    shingle is at most C(|groups|, 2), never corpus-sized) -> exploded
    group pairs counted per (a, b). Set sizes ride a broadcast join.
    At 100 TB this is the cheapest of the dedup family: the shuffle is
    the distinct over (group, shingle), and everything after it is
    |groups|²-bounded.

    Returns (source_a, source_b, n_a, n_b, n_common, jaccard), one row
    per unordered group pair that shares at least one shingle.
    """
    base = spread(df).select(
        F.col(group_col).alias("_grp"),
        F.explode(F.array(F.split(normalized_text(text_col), " "))).alias("_w"),
    ).select(
        "_grp",
        F.explode(F.array_distinct(_word_ngrams_col(F.col("_w"), n))).alias("_sh"),
    ).distinct()
    sizes = base.groupBy("_grp").agg(F.count("*").alias("_n"))
    postings = (
        base.groupBy("_sh")
        .agg(F.sort_array(F.collect_set("_grp")).alias("_gs"))
        .filter(F.size("_gs") >= 2)
    )
    pairs = (
        postings.select(F.explode("_gs").alias("source_a"), "_gs")
        .select("source_a", F.explode("_gs").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    common = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_common")
    )
    sa = sizes.select(F.col("_grp").alias("source_a"), F.col("_n").alias("n_a"))
    sb = sizes.select(F.col("_grp").alias("source_b"), F.col("_n").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def _minhash_expr(k: int, g) -> Column:
    """k-th MinHash base hash of shingle column ``g``: md5-derived 60-bit
    int, seeded by prefixing the permutation index — the same derivation
    as WORD_HASH_SQL so signatures are bit-identical across engines."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{k}|"), g)), 1, 15), 16, 10
    ).cast("long")


def _minhash_sql(k: int, g: str) -> str:
    return f"CAST(('0x' || substring(md5('{k}|' || {g}), 1, 15)) AS BIGINT)"


def minhash_banded_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 12,
    band_size: int = 3,
) -> DataFrame:
    """Deterministic MinHash + LSH banding with EXACT cross-engine
    parity — the oracle-checkable twin of the Spark-ML tier
    (minhash_lsh_pairs): each doc's signature is ``num_hashes`` md5-seeded
    min-hashes over its distinct word-n-gram shingles; signatures split
    into bands of ``band_size`` rows; two docs become a candidate pair iff
    at least one full band matches (P[band match] = jaccard^band_size, the
    standard S-curve). Because every hash is md5-derived (no engine RNG),
    the SAME pairs and the SAME signature-agreement scores come out of
    Spark and DuckDB — minhash_banded_pairs_sql builds the oracle.

    Returns (id_a, id_b, n_shared_bands, sig_agreement) where
    sig_agreement = fraction of equal signature components — the unbiased
    MinHash estimate of the pair's true shingle Jaccard.

    Physical shape at 100 TB: the signature is ONE partial-agg shuffle of
    the shingle postings (num_hashes mins computed map-side per shingle,
    combined per doc); banding explodes each doc to num_hashes/band_size
    band rows; candidate generation groups by (band, band signature) —
    collision buckets, postings-cap-able exactly like the shingle index
    (left capless here: this form is the oracle-checked contract, the
    Spark-ML tier with bucket caps is the documented scale path). The
    agreement rerank joins full signatures only for candidate pairs.
    """
    if num_hashes % band_size != 0:
        raise ValueError(f"num_hashes {num_hashes} not divisible by band_size {band_size}")
    n_bands = num_hashes // band_size
    shingled = spread(df).select(
        F.col(id_col),
        F.explode(F.array(F.split(normalized_text(text_col), " "))).alias("_w"),
    ).select(
        id_col,
        F.explode(F.array_distinct(_word_ngrams_col(F.col("_w"), n))).alias("_g"),
    )
    sig = shingled.groupBy(id_col).agg(
        *[F.min(_minhash_expr(k, F.col("_g"))).alias(f"_h{k}") for k in range(num_hashes)]
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("_band"),
            F.concat_ws(
                ",", *[F.col(f"_h{b * band_size + j}").cast("string") for j in range(band_size)]
            ).alias("_bsig"),
        )
        for b in range(n_bands)
    ]
    bands = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("_bs")
    ).select(id_col, F.col("_bs._band").alias("_band"), F.col("_bs._bsig").alias("_bsig"))
    cand = (
        capped_pair_rows(bands, ["_band", "_bsig"], id_col, (), None)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )
    sa = sig.select(F.col(id_col).alias("id_a"), *[F.col(f"_h{k}").alias(f"_a{k}") for k in range(num_hashes)])
    sb = sig.select(F.col(id_col).alias("id_b"), *[F.col(f"_h{k}").alias(f"_b{k}") for k in range(num_hashes)])
    agree = sum(
        F.when(F.col(f"_a{k}") == F.col(f"_b{k}"), 1).otherwise(0) for k in range(num_hashes)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_bands",
            F.round(agree.cast("double") / num_hashes, 6).alias("sig_agreement"),
        )
    )


def minhash_banded_pairs_sql(
    table: str,
    id_col: str,
    shingles_expr: str,
    num_hashes: int = 12,
    band_size: int = 3,
) -> str:
    """DuckDB oracle for minhash_banded_pairs: identical md5-seeded
    min-hash signatures, banding, and agreement arithmetic."""
    n_bands = num_hashes // band_size
    mins = ",\n           ".join(
        f"min({_minhash_sql(k, 'g')}) AS h{k}" for k in range(num_hashes)
    )
    band_rows = "\n    UNION ALL\n    ".join(
        "SELECT {id}, {b} AS band, {sig} AS bsig FROM sig".format(
            id=id_col,
            b=b,
            sig=" || ',' || ".join(
                f"CAST(h{b * band_size + j} AS VARCHAR)" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(num_hashes)
    )
    return f"""
    WITH d AS (SELECT {id_col}, {shingles_expr} AS sh FROM {table}),
    ex AS (SELECT {id_col}, unnest(sh) AS g FROM d),
    sig AS (
        SELECT {id_col},
           {mins}
        FROM ex GROUP BY {id_col}
    ),
    bands AS (
    {band_rows}
    ),
    cand AS (
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared_bands
        FROM bands a JOIN bands b
            ON a.band = b.band AND a.bsig = b.bsig
           AND a.{id_col} < b.{id_col}
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared_bands,
           round(CAST({agree} AS DOUBLE) / {num_hashes}, 6) AS sig_agreement
    FROM cand
    JOIN sig sa ON sa.{id_col} = id_a
    JOIN sig sb ON sb.{id_col} = id_b
    """
