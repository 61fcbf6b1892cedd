"""NULL-handling parity between Spark anti-joins and the DuckDB oracles.

Regression for the t_incremental_dedup oracle: with any NULL document text,
md5(normalized) is NULL. A `NOT IN (subquery)` oracle would return ZERO rows
as soon as the corpus side contains one NULL (SQL three-valued logic), while
Spark's LEFT ANTI keeps null-fingerprint batch rows — the oracle must use
NOT EXISTS to match anti-join semantics. The shipped fixtures have no NULL
text, so this builds its own.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from boxoffice_spark.registry import load_all
from boxoffice_spark.testing import compare

SPECS = load_all()


@pytest.fixture(scope="module")
def null_doc_dir(tmp_path_factory):
    """A documents.parquet where both the corpus (doc_id % 10 != 0) and the
    incoming batch (doc_id % 10 == 0) contain NULL-text rows, plus a
    batch-only duplicate pair and a corpus-seen fingerprint."""
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 10, 20, 30, 40],
            "text": [
                "seen before",  # corpus
                None,  # corpus NULL -> NOT IN would blank the result
                "corpus only",
                "seen before",  # batch, seen in corpus -> dropped
                None,  # batch NULL -> anti-join keeps it
                "fresh twice",  # batch-only dup pair ...
                "fresh twice",  # ... keeper = 30, n copies = 2
            ],
            "lang": ["en"] * 7,
        }
    )
    d = tmp_path_factory.mktemp("nulldocs")
    rows.to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_incremental_dedup_null_text_matches_oracle(spark, null_doc_dir):
    spec = SPECS["t_incremental_dedup"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{null_doc_dir}/documents.parquet')"
    )
    result = compare("t_incremental_dedup", spec.fn(spark, null_doc_dir), con, spec.oracle)
    assert result.ok, str(result)
    # and the semantics themselves: NULL fingerprint admitted, dup pair
    # collapsed to one keeper, corpus-seen fingerprint dropped
    out = {r["keeper_id"]: r["n_batch_copies"] for r in spec.fn(spark, null_doc_dir).collect()}
    assert out == {20: 1, 30: 2}


def test_snapshot_diff_null_transitions(spark):
    """Null-safe change detection: value->NULL and NULL->value are
    updates, NULL==NULL is unchanged, and insert/delete classification
    survives all-NULL compare values."""
    from boxoffice_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None), (5, "e")],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, "b"), (3, "c"), (4, None), (6, None)],
        "k long, v string",
    )
    got = {
        r.k: (r.change_type, r.v)
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    assert got == {
        1: ("update", None),   # value -> NULL
        2: ("update", "b"),    # NULL -> value
        5: ("delete", "e"),    # only in old
        6: ("insert", None),   # only in new, all-NULL compare value
    }  # 3 (unchanged) and 4 (NULL == NULL) are absent


def test_snapshot_diff_empty_compare_cols(spark):
    """compare_cols=[] degrades to presence-only diffing: inserts and
    deletes classify, keys present on both sides are never 'update'
    (regression: F.when(None, ...) used to raise here)."""
    from boxoffice_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    got = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"], []).collect()}
    assert got == {1: "delete", 3: "insert"}


@pytest.fixture(scope="module")
def edge_doc_dir(tmp_path_factory):
    """documents.parquet of SimHash edge rows: empty, one word, whitespace
    runs, non-ASCII, a non-breaking space (a word character in all three
    normalizers) and a NULL text."""
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6, 7],
            "text": [
                "",
                "word",
                "  Alpha\t\tbeta \n\n GAMMA  ",
                "Äpfel ÜBER Straße naïve café 東京 東京",
                "non\u00a0breaking space",
                None,
                "   ",
            ],
        }
    )
    d = tmp_path_factory.mktemp("simhash_edges")
    rows.to_parquet(d / "documents.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", ["t_simhash", "t_simhash_fast"])
def test_simhash_edge_rows_match_oracle(spark, edge_doc_dir, name):
    """Both SimHash names equal DuckDB's simhash_sql on edge rows; a NULL
    text drops the doc instead of failing the Python worker."""
    spec = SPECS[name]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{edge_doc_dir}/documents.parquet')"
    )
    df = spec.fn(spark, edge_doc_dir)
    result = compare(name, df, con, spec.oracle)
    assert result.ok, str(result)
    assert sorted(r.doc_id for r in df.collect()) == [1, 2, 3, 4, 5, 7]
