"""Prefix search: oracle identity, expansion cap determinism, guards, and
the dictionary scan's StartsWith pushdown."""

from __future__ import annotations

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from search_spark.corpus import transcripts_from_documents
from search_spark.operators.indexer import build_index
from search_spark.operators.prefix import (
    expand_fuzzy_multi,
    expand_prefix,
    fuzzy_search,
    prefix_search,
)
from search_spark.operators.snippet import search_snippets
from search_spark.operators.wand import IndexReader
from search_spark.oracle_sql import fuzzy_topk_sql, prefix_topk_sql, snippet_topk_sql
from search_spark.sources.index_store import IndexStore

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("prefix_idx"))
    store = IndexStore(root, doc_bucket_size=128, term_buckets=8)
    build_index(spark, transcripts_from_documents(spark, SF), store, n_units=2)
    return IndexReader(spark, store)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    return con


@pytest.mark.parametrize("pref", ["or", "fa", "t", "s"])
def test_prefix_matches_oracle(reader, ddb, pref):
    got = [
        (r["doc_id"], round(r["score"] * 1e6))
        for r in prefix_search(reader, pref, 10).collect()
    ]
    want = [(r[0], r[2]) for r in ddb.execute(prefix_topk_sql(pref, 10)).fetchall()]
    assert got == want and len(got) > 0


def test_prefix_expansion_cap(reader, ddb):
    """Capped expansion must equal the oracle's (df DESC, term ASC) head."""
    got = expand_prefix(reader, "s", max_expansions=3)
    want = [
        r[0]
        for r in ddb.execute(
            """
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             FROM read_parquet('/root/testdata/sf0.001/documents.parquet')),
  tf AS (SELECT doc_id, unnest(toks) AS term FROM tok),
  dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
SELECT term FROM dft WHERE starts_with(term, 's') ORDER BY df DESC, term LIMIT 3"""
        ).fetchall()
    ]
    assert got == want and len(got) == 3
    # capped search == uncapped-equivalent oracle with the same cap
    g = [
        (r["doc_id"], round(r["score"] * 1e6))
        for r in prefix_search(reader, "s", 10, max_expansions=3).collect()
    ]
    w = [
        (r[0], r[2])
        for r in ddb.execute(prefix_topk_sql("s", 10, max_expansions=3)).fetchall()
    ]
    assert g == w


def test_prefix_guards(reader):
    assert prefix_search(reader, "zzq_nothing", 10).count() == 0
    assert prefix_search(reader, "", 10).count() == 0
    assert prefix_search(reader, "or", 0).count() == 0


@pytest.mark.parametrize("q,dist", [("ordr", 1), ("fasst scen", 1), ("tble", 2)])
def test_fuzzy_matches_oracle(reader, ddb, q, dist):
    got = [
        (r["doc_id"], round(r["score"] * 1e6))
        for r in fuzzy_search(reader, q, dist, 10).collect()
    ]
    want = [(r[0], r[2]) for r in ddb.execute(fuzzy_topk_sql(q, dist, 10)).fetchall()]
    assert got == want and len(got) > 0


def test_fuzzy_expansion_and_guards(reader):
    assert expand_fuzzy_multi(reader, ["ordr"]) == {"ordr": ["order"]}
    assert expand_fuzzy_multi(reader, [""]) == {}
    assert fuzzy_search(reader, "zzzzzz", 1, 10).count() == 0
    assert fuzzy_search(reader, "ordr", 1, 0).count() == 0
    # exact terms are within distance 0 of themselves
    assert fuzzy_search(reader, "order", 0, 5).count() == 5


@pytest.mark.parametrize("q", ["order fast", "the"])
def test_snippets_match_oracle(reader, ddb, q):
    got = [
        (r["doc_id"], r["rank"], round(r["score"] * 1e6), r["match_pos"], r["snippet"])
        for r in search_snippets(reader, q, 5).collect()
    ]
    want = [tuple(r) for r in ddb.execute(snippet_topk_sql(q, 5)).fetchall()]
    assert got == want and len(got) == 5


def test_snippet_window_semantics(reader):
    """Every snippet contains ≥1 query term and ≤ 2*width+1 tokens; the
    match position is the analyzed-stream first occurrence."""
    rows = search_snippets(reader, "order fast", 10, width=2).collect()
    assert len(rows) == 10
    for r in rows:
        toks = r["snippet"].split(" ")
        assert len(toks) <= 5
        assert ("order" in toks) or ("fast" in toks)
        assert r["match_pos"] >= 1


def test_snippet_multi_term_partial_presence(reader, ddb):
    """Hits that contain only a subset of the query terms still get the
    right first-occurrence window (regression: the oracle's list_position
    returns 0 for absent terms, which must not win the min)."""
    q = "order fast scan"
    got = [
        (r["doc_id"], r["rank"], round(r["score"] * 1e6), r["match_pos"], r["snippet"])
        for r in search_snippets(reader, q, 10).collect()
    ]
    want = [tuple(r) for r in ddb.execute(snippet_topk_sql(q, 10)).fetchall()]
    assert got == want and all(g[3] >= 1 for g in got)


def test_snippet_guards(reader):
    assert search_snippets(reader, "zzq_oov", 10).count() == 0
    assert search_snippets(reader, "", 10).count() == 0
    assert search_snippets(reader, "order", 0).count() == 0


def test_prefix_dictionary_scan_pushes_startswith(reader):
    from pyspark.sql import functions as F

    plan = (
        reader._dict_df.filter(F.col("term").startswith("or"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "StartsWith" in plan


def test_suggest_terms_matches_oracle(reader, ddb):
    from search_spark.operators.prefix import suggest_terms
    from search_spark.oracle_sql import suggest_terms_sql

    got = [(r["term"], r["df"]) for r in suggest_terms(reader, "s", 4).collect()]
    want = [tuple(r) for r in ddb.execute(suggest_terms_sql("s", 4)).fetchall()]
    assert got == want and len(got) == 4
    assert suggest_terms(reader, "", 8).count() == 0
    assert suggest_terms(reader, "s", 0).count() == 0


def test_prefix_batch_identity_and_guards(reader):
    """prefix_batch ≡ per-query prefix_search (rank + score), both gate-
    verified halves composed; empty/OOV prefixes contribute 0 rows."""
    from search_spark.operators.prefix import prefix_batch

    qs = [("p_or", "or"), ("p_fa", "fa"), ("p_t", "t"), ("p_oov", "zzqx")]
    got = prefix_batch(reader, qs, k=10)
    assert got.columns == ["query_id", "rank", "doc_id", "score"]
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"] * 1e6))
        )
    assert "p_oov" not in by_q
    for qid, pref in qs[:3]:
        want = [
            (r["rank"], r["doc_id"], round(r["score"] * 1e6))
            for r in prefix_search(reader, pref, 10).collect()
        ]
        assert sorted(by_q[qid]) == sorted(want) and len(want) > 0
    assert prefix_batch(reader, [], k=10).count() == 0
    assert prefix_batch(reader, qs, k=0).count() == 0
    assert prefix_batch(reader, [("q", "zzqx")], k=10).count() == 0


def test_prefix_batch_matches_oracle(reader, ddb):
    """prefix_batch vs the DuckDB batch oracle directly (oracle_sql.
    prefix_batch_sql), not just via per-query identity — the same
    evidence form the driver gate gives the other *_batch entries."""
    from search_spark.operators.prefix import prefix_batch
    from search_spark.oracle_sql import prefix_batch_sql

    qs = [("p_or", "or"), ("p_fa", "fa"), ("p_s", "s")]
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"] * 1e6))
        for r in prefix_batch(reader, qs, k=10).collect()
    )
    want = sorted(
        (r[0], r[2], r[1], r[3])
        for r in ddb.execute(prefix_batch_sql(qs, 10)).fetchall()
    )
    assert got == want and len(got) > 0


def test_fuzzy_batch_identity(reader):
    """fuzzy_batch ≡ per-query fuzzy_search (rank + score)."""
    from search_spark.operators.prefix import fuzzy_batch

    qs = [("f1", "tble"), ("f2", "hashh"), ("f3", "tble hashh")]
    got = fuzzy_batch(reader, qs, max_dist=1, k=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"] * 1e6))
        )
    for qid, text in qs:
        want = [
            (i + 1, r["doc_id"], round(r["score"] * 1e6))
            for i, r in enumerate(fuzzy_search(reader, text, 1, 10).collect())
        ]
        assert sorted(by_q.get(qid, [])) == sorted(want)
