"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken — MOSS,
SIGMOD 2003): the local fingerprinting algorithm behind plagiarism /
near-dup detection with a positional guarantee the sketch tiers
(simhash/minhash, operators/dedup.py) don't give: any shared substring of
length >= w + k - 1 between two documents is certain to share at least one
selected fingerprint.

Algorithm, per document: hash every k-char gram of the normalized text,
slide a w-gram window over the hash sequence, and in each window select the
minimum hash (rightmost occurrence on ties). The distinct (position, hash)
selections are the document's fingerprints — expected density 2/(w+1) of
the gram count, so the index is a small fraction of corpus size.

The exact form is Catalyst higher-order functions over per-document
arrays — zero Python, zero shuffle to fingerprint (the only shuffles are
the pair-generation groupBys in :func:`winnow_dup_pairs`); the
:func:`winnow_fast` Arrow twin swaps md5 grams for Karp-Rabin rolling
hashes (the paper's own hash family) at ~9x the throughput, rows-only.

Defaults k=20/w=10 (guarantee: 29-char shared substrings) — measured at
sf0.1, k=7 grams recur so heavily across a same-domain corpus (3.2k
distinct fingerprints over 5k docs, avg doc-frequency 163) that the pair
join degenerates; k=20 yields 206k distinct fingerprints, max df 22, and
an ~800x smaller pair mass at identical recall for document-scale
overlap. Exact-form hashes are md5-prefix (15 hex chars = 60 bits,
positive int64 in both engines), the same engine-portable idiom as
dedup._word_hash, so every stage is oracle-comparable bit-for-bit
against DuckDB.

Scale notes (100 TB): fingerprinting is embarrassingly parallel and
scan-local; cost is O(grams x w) per doc from the window min (lambda
expressions are interpreted and not subexpression-eliminated — see
operators/dedup.py:216). At w=10 that is ~10 comparisons per char and
stays scan-bound; for much larger w, the mapInPandas twin pattern
(dedup.simhash) with a NumPy sliding-window argmin is the drop-in.
Pair generation reuses the capped inverted-index layout of
ngram_jaccard_pairs / chunk_dup_pairs: postings above ``max_postings``
are boilerplate, not signal, and are dropped before the self-join so no
single hot fingerprint can emit k² join rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from boxoffice_spark.functions.numeric import (
    ratio6 as _ratio6,
    ratio6_sql as _ratio6_sql,
)
from boxoffice_spark.tables import spread

DEFAULT_K = 20  # k-gram length (chars of normalized text)
DEFAULT_W = 10  # winnowing window (grams); guarantee length = w + k - 1


def _fingerprint_array(k: int, w: int) -> tuple[str, str, str]:
    """Three SQL exprs ``(grams, mins, wins)`` that compose (each referencing
    the previous via the ``_h`` / ``_mins`` intermediate columns) into an
    array<struct<pos:int, fp:bigint>> of winnowed selections over ``_norm``.
    Window size shrinks to the gram count for short docs (< w grams -> one
    window over all grams); docs shorter than k chars fingerprint to an
    empty array."""
    grams = (
        f"CASE WHEN length(_norm) >= {k} THEN "
        f"transform(sequence(1, length(_norm) - {k} + 1), "
        f"i -> cast(conv(substring(md5(substring(_norm, i, {k})), 1, 15), 16, 10) AS bigint)) "
        f"ELSE cast(array() AS array<bigint>) END"
    )
    # per-window mins, materialized once: lambda expressions are excluded
    # from subexpression elimination, so computing array_min inline in BOTH
    # the fp field and the tie filter would double the O(w) scan per
    # window — _mins gets its own Generate barrier in the query plan.
    mins = (
        "CASE WHEN size(_h) >= 1 THEN transform("
        "sequence(1, size(_h) - least({w}, size(_h)) + 1), "
        "i -> array_min(slice(_h, i, least({w}, size(_h))))) "
        "ELSE cast(array() AS array<bigint>) END"
    ).format(w=w)
    # rightmost-min selection: filter window offsets to those equal to the
    # window min, take the largest -> robust Winnowing's tie rule, which
    # keeps fingerprints consistent across overlapping windows.
    wins = (
        "CASE WHEN size(_h) >= 1 THEN array_distinct(transform("
        "sequence(1, size(_mins)), "
        "i -> named_struct("
        "'pos', i - 1 + array_max(filter(sequence(1, least({w}, size(_h))), "
        "j -> element_at(_h, i + j - 1) = element_at(_mins, i))), "
        "'fp', element_at(_mins, i))"
        ")) ELSE cast(array() AS array<struct<pos:int,fp:bigint>>) END"
    ).format(w=w)
    return grams, mins, wins


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_K, w: int = DEFAULT_W
) -> DataFrame:
    """One row per selected fingerprint: (id, pos, fp). ``pos`` is the
    1-based gram offset of the selected hash — positions let a caller
    verify extent overlap, exactly MOSS's match-report shape."""
    from boxoffice_spark.operators.dedup import normalized_text

    grams, mins, wins = _fingerprint_array(k, w)
    return (
        spread(df)
        # Generate barriers (explode(array(...))) so each lambda stage reads
        # a materialized column instead of re-inlining the previous
        # (non-subexpression-eliminated) lambda expression per element.
        .select(F.col(id_col), F.explode(F.array(normalized_text(text_col))).alias("_norm"))
        .select(F.col(id_col), F.explode(F.array(F.expr(grams))).alias("_h"))
        .select(F.col(id_col), "_h", F.explode(F.array(F.expr(mins))).alias("_mins"))
        .select(F.col(id_col), F.explode(F.expr(wins)).alias("_s"))
        .select(F.col(id_col), F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
    )


# DuckDB twin. Lists are 1-based; h[i:j] is inclusive slicing; struct
# literals + list lambdas mirror the Spark higher-order form. list_distinct
# on structs is avoided (engine-version-sensitive) — distinctness is taken
# at row level after unnest, which the Spark side's array_distinct already
# guarantees per doc.
WINNOW_SQL = """
WITH src AS (
    SELECT {id_col} AS {id_alias}, {norm} AS norm FROM {table}
), grams AS (
    SELECT {id_alias},
           CASE WHEN length(norm) >= {k} THEN
               list_transform(generate_series(1, length(norm) - {k} + 1),
                   i -> CAST(('0x' || substring(md5(substring(norm, i, {k})), 1, 15)) AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END AS h
    FROM src
), sized AS (
    SELECT {id_alias}, h, least({w}, len(h)) AS wp FROM grams WHERE len(h) >= 1
), wins AS (
    SELECT {id_alias},
           list_transform(generate_series(1, len(h) - wp + 1),
               i -> {{'pos': i - 1 + list_max(list_filter(generate_series(1, wp),
                             j -> h[i + j - 1] = list_min(h[i:i+wp-1]))),
                     'fp': list_min(h[i:i+wp-1])}}) AS sels
    FROM sized
), flat AS (
    SELECT {id_alias}, unnest(sels) AS s FROM wins
)
SELECT DISTINCT {id_alias}, CAST(s.pos AS INT) AS pos, s.fp AS fp FROM flat
"""


def winnow_fp_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_K, w: int = DEFAULT_W
) -> DataFrame:
    """Arrow twin of the fingerprint scan feeding :func:`winnow_dup_pairs`:
    one row per (doc, DISTINCT fingerprint) plus the doc's distinct-
    fingerprint count — ``(id, _sz, fp)`` — computed in a mapInPandas
    kernel with the SAME md5 hash family as the Catalyst form (md5 of each
    k-char gram, first 15 hex chars as int64 == first 8 digest bytes >> 4)
    and the same rightmost-min window selection, so the output is
    bit-identical to the exact form's ``array_distinct(transform(wins,
    s -> s.fp))`` explode (regression-tested against it).

    Why (guide §4.2, r12): the Catalyst form's per-window min is an
    interpreted lambda scan — O(grams x w) comparisons per doc with no
    codegen and no subexpression elimination — and each gram additionally
    pays substring+md5+conv through the expression interpreter. Here the
    md5 runs over NumPy-sliced byte grams (one hashlib call per gram, no
    hex-string parse) and the window min is one strided argmin — O(chars)
    of Python-loop overhead per doc instead of per gram x w. Scan-local:
    zero shuffle, zero Python state; same normalization twin as
    :func:`winnow_fast` (re.ASCII collapse, strip(' '), codepoint-aligned
    grams for non-ASCII text)."""
    from collections.abc import Iterator
    from hashlib import md5

    import numpy as np
    import pandas as pd

    def fp_sets(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        from_bytes = int.from_bytes

        for pdf in it:
            out_id, out_sz, out_fp = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                norm = re.sub(
                    r"\s+", " ", (text or "").lower(), flags=re.ASCII
                ).strip(" ")
                n = len(norm)
                if n < k:
                    continue
                m = n - k + 1
                if norm.isascii():
                    # ASCII: byte offsets == char offsets, slice bytes once
                    b = norm.encode()
                    h = np.fromiter(
                        (
                            from_bytes(md5(b[i : i + k]).digest()[:8], "big") >> 4
                            for i in range(m)
                        ),
                        dtype=np.int64,
                        count=m,
                    )
                else:
                    # char-aligned grams (the exact form's substring() unit),
                    # each UTF-8 encoded like Spark's md5(string)
                    h = np.fromiter(
                        (
                            from_bytes(
                                md5(norm[i : i + k].encode()).digest()[:8], "big"
                            )
                            >> 4
                            for i in range(m)
                        ),
                        dtype=np.int64,
                        count=m,
                    )
                wp = min(w, m)
                win = np.lib.stride_tricks.sliding_window_view(h, wp)
                # distinct fp VALUES only — the rightmost-tie rule picks a
                # POSITION among equal minima, so the selected value per
                # window is simply the window min
                fps = np.unique(win.min(axis=1))
                out_id.extend([doc_id] * len(fps))
                out_sz.extend([len(fps)] * len(fps))
                out_fp.extend(fps.tolist())
            yield pd.DataFrame({id_col: out_id, "_sz": out_sz, "fp": out_fp})

    src = spread(df).select(id_col, text_col)
    id_type = src.schema[id_col].dataType.simpleString()
    return src.mapInPandas(fp_sets, schema=f"{id_col} {id_type}, _sz int, fp long")


def winnow_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_K,
    w: int = DEFAULT_W,
    threshold: float = 0.25,
    max_postings: int = 200,
) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint Jaccard, via the capped
    inverted-index layout (operators/dedup.py:127 count-window cap): only
    pairs sharing a fingerprint are materialized, a fingerprint in more
    than ``max_postings`` docs is boilerplate and dropped, and
    ``|A ∪ B| = |A| + |B| - common`` closes the Jaccard without a second
    pass. Deterministic given (k, w) — oracle-exact, unlike MinHash.

    Physical layout: the per-doc DISTINCT fingerprint set and its size are
    computed scan-side (no distinct shuffle, no per-id window), so the
    whole pair generation is the single capped (fp) shuffle of
    dedup.capped_pair_rows plus the pair aggregate — and the fingerprint
    scan runs ONCE (the pre-r11 self-join evaluated it per join side).

    r12 (guide §4.2): the scan itself is the :func:`winnow_fp_sets` Arrow
    kernel — bit-identical rows to the Catalyst higher-order form
    (tests/test_llm_ops.py::test_winnow_fp_sets_matches_catalyst_form),
    measured 1.40 s -> 0.90 s min-of-7 interleaved at steal_delta 26 on
    the full pair query (the interpreted O(grams x w) lambda window-min
    was the cost). :func:`winnow_fingerprints` keeps the Catalyst form:
    it is the positional MOSS report (needs pos, which the set kernel
    drops) and the zero-Python exact reference the oracle anchors on."""
    from boxoffice_spark.operators.dedup import capped_pair_rows

    post = winnow_fp_sets(df, id_col, text_col, k, w)
    pairs = capped_pair_rows(post, ["fp"], id_col, ("_sz",), max_postings)
    return (
        pairs.groupBy("id_a", "id_b", "_sz_a", "_sz_b")
        .agg(F.count("*").cast("int").alias("n_shared"))
        .select(
            "id_a",
            "id_b",
            "n_shared",
            # exact integer ratio: ratio6's BIGINT HALF_UP replaces the
            # build-sensitive round(double, 6) (r09 legacy conversion)
            _ratio6("n_shared", "_sz_a + _sz_b - n_shared").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


WINNOW_PAIRS_SQL = """
WITH fp_rows AS (
    SELECT DISTINCT {id_alias}, fp FROM ({winnow})
), sized AS (
    SELECT {id_alias}, fp, count(*) OVER (PARTITION BY {id_alias}) AS sz FROM fp_rows
), capped AS (
    SELECT * FROM (
        SELECT sized.*, count(*) OVER (PARTITION BY fp) AS dfreq FROM sized
    ) WHERE dfreq <= {max_postings}
), pairs AS (
    SELECT a.{id_alias} AS id_a, b.{id_alias} AS id_b,
           a.sz AS sza, b.sz AS szb, count(*) AS n_shared
    FROM capped a JOIN capped b
      ON a.fp = b.fp AND a.{id_alias} < b.{id_alias}
    GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, CAST(n_shared AS INT) AS n_shared,
       """ + _ratio6_sql("n_shared", "sza + szb - n_shared") + """ AS jaccard
FROM pairs
WHERE """ + _ratio6_sql("n_shared", "sza + szb - n_shared") + """ >= {threshold}
"""


def winnow_fast(
    df: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_K, w: int = DEFAULT_W
) -> DataFrame:
    """Arrow scale twin of :func:`winnow_fingerprints` (the dedup.simhash
    mapInPandas pattern): Karp-Rabin ROLLING k-gram hashes — the hash family the
    winnowing paper itself is built on — computed vectorized in NumPy from
    one prefix-hash pass, then a strided sliding-window rightmost-min.
    O(chars) per document instead of the Catalyst form's O(grams x w)
    interpreted-lambda cost, and no per-gram md5.

    Same gram UNIT as the exact form (k CHARACTERS — the text is decoded
    to a codepoint array via UTF-32, not UTF-8 bytes, so non-ASCII text
    yields the same gram boundaries, ``pos`` values, and w+k-1-char
    guarantee length as the Catalyst/DuckDB form) and same selection RULE
    (per-window min, rightmost on ties, distinct (pos, fp)), but a
    different hash family, so fingerprint VALUES differ from the md5 form:
    this twin is rows-only (no cross-engine oracle); the winnowing
    guarantee, density, and determinism are property-tested in
    tests/test_llm_ops.py. Arithmetic is uint64 with natural overflow —
    deterministic everywhere, partitioning-independent.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    B = np.uint64(1000000007)
    INV_B = np.uint64(pow(1000000007, -1, 1 << 64))  # B odd -> invertible mod 2^64

    def fingerprints(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in it:
            out_id, out_pos, out_fp = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                # EXACT twin of dedup.normalized_text: Java regex \s is
                # ASCII-only, so the Python collapse must use re.ASCII (a
                # Unicode \xa0 etc. must survive on both sides), and Spark
                # F.trim strips only ' ' — so strip(' '), not strip().
                norm = re.sub(
                    r"\s+", " ", (text or "").lower(), flags=re.ASCII
                ).strip(" ")
                # one uint32 per CODEPOINT (utf-32-le = the codepoint
                # sequence), so k-gram boundaries are character-aligned
                # with the exact substring() form — not UTF-8 bytes.
                data = np.frombuffer(
                    norm.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
                )
                n = len(data)
                if n < k:
                    continue
                m = n - k + 1  # gram count
                with np.errstate(over="ignore"):
                    # ascending-power prefix: prefix[i] = sum_{j<i} d[j]*B^j,
                    # so gram(i) = (prefix[i+k] - prefix[i]) * B^-i
                    #            = sum_t d[i+t]*B^t  (mod 2^64)
                    # — position- and doc-independent, equal grams hash equal.
                    powers = np.empty(n, dtype=np.uint64)
                    powers[0] = 1
                    np.multiply.accumulate(np.full(n - 1, B, dtype=np.uint64), out=powers[1:])
                    inv_powers = np.empty(m, dtype=np.uint64)
                    inv_powers[0] = 1
                    np.multiply.accumulate(
                        np.full(m - 1, INV_B, dtype=np.uint64), out=inv_powers[1:]
                    )
                    scaled = data.astype(np.uint64) * powers
                    prefix = np.zeros(n + 1, dtype=np.uint64)
                    np.cumsum(scaled, out=prefix[1:], dtype=np.uint64)
                    h = (prefix[k:] - prefix[:-k]) * inv_powers
                wp = min(w, m)
                win = np.lib.stride_tricks.sliding_window_view(h, wp)
                rev_arg = win[:, ::-1].argmin(axis=1)
                sel_off = wp - 1 - rev_arg  # rightmost min offset per window
                pos = np.arange(len(win)) + sel_off  # 0-based gram index
                fp = win[np.arange(len(win)), sel_off]
                uniq = np.unique(np.stack([pos.astype(np.int64), fp.view(np.int64)], axis=1), axis=0)
                out_id.extend([doc_id] * len(uniq))
                out_pos.extend((uniq[:, 0] + 1).tolist())  # 1-based like the exact form
                out_fp.extend(uniq[:, 1].tolist())
            yield pd.DataFrame({id_col: out_id, "pos": out_pos, "fp": out_fp})

    # output schema preserves the caller's id type (string/uuid doc ids
    # work like they do in the exact form; hardcoding 'long' broke them)
    src = spread(df).select(id_col, text_col)
    id_type = src.schema[id_col].dataType.simpleString()
    return src.mapInPandas(
        fingerprints, schema=f"{id_col} {id_type}, pos int, fp long"
    )
