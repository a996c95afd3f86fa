"""Phrase search: engine vs DuckDB oracle rank identity, guard semantics,
plan shape (pruned candidate scan, broadcast verify join)."""

from __future__ import annotations

import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from search_spark.corpus import transcripts_from_documents
from search_spark.operators.indexer import build_index
from search_spark.operators.boolean import matching_doc_ids
from search_spark.operators.phrase import (
    near_search,
    near_tf_col,
    phrase_count,
    phrase_search,
    phrase_tf_col,
)
from search_spark.operators.wand import IndexReader
from search_spark.oracle_sql import near_topk_sql, phrase_count_sql, phrase_topk_sql
from search_spark.sources.index_store import IndexStore

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("phrase_idx"))
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


@pytest.mark.parametrize(
    "phrase",
    [
        "order fast",          # head bigram (df≈47)
        "big order scan",      # selective trigram
        "the",                 # single-term phrase == term search w/ ptf
        "order order",         # repeated-term phrase (overlap counting)
    ],
)
def test_phrase_matches_oracle(reader, ddb, phrase):
    got = [
        (r["doc_id"], round(r["score"] * 1e6), r["ptf"])
        for r in phrase_search(reader, phrase, 10).collect()
    ]
    want = [(r[0], r[2], r[3]) for r in ddb.execute(phrase_topk_sql(phrase, 10)).fetchall()]
    assert got == want


def test_phrase_guards(reader):
    assert phrase_search(reader, "zzq unseen", 10).count() == 0  # OOV term
    assert phrase_search(reader, "", 10).count() == 0            # empty phrase
    assert phrase_search(reader, "order fast", 0).count() == 0   # k=0
    # terms exist but never adjacent in this order (cands > 0, verify = 0)
    assert phrase_search(reader, "fast order fast order fast", 10).count() == 0


def test_phrase_count_matches_oracle(reader, ddb):
    got = phrase_count(reader, "order fast").collect()[0]
    want = ddb.execute(phrase_count_sql("order fast")).fetchall()[0]
    assert (got["n_docs"], got["n_occurrences"]) == want


def test_phrase_tf_overlap_counting(spark):
    df = spark.createDataFrame(
        [(1, ["a", "a", "a", "a"]), (2, ["a"]), (3, [])],
        "doc_id int, toks array<string>",
    )
    out = {
        r["doc_id"]: r["ptf"]
        for r in df.select(
            "doc_id", phrase_tf_col(F.col("toks"), ["a", "a"]).alias("ptf")
        ).collect()
    }
    assert out == {1: 3, 2: 0, 3: 0}  # overlapping occurrences all counted


@pytest.mark.parametrize(
    "text,slop",
    [
        ("order fast", 0),        # slop=0 ≡ unordered adjacency
        ("order fast", 2),
        ("scan filter table", 3),
        ("order", 1),             # single term: window = 1+slop
    ],
)
def test_near_matches_oracle(reader, ddb, text, slop):
    got = [
        (r["doc_id"], round(r["score"] * 1e6), r["ptf"])
        for r in near_search(reader, text, slop, 10).collect()
    ]
    want = [
        (r[0], r[2], r[3])
        for r in ddb.execute(near_topk_sql(text, slop, 10)).fetchall()
    ]
    assert got == want and len(got) > 0


def test_near_widens_with_slop(reader):
    """Proximity matches are monotone in slop and contain phrase matches."""
    phrase = {r["doc_id"] for r in phrase_search(reader, "order fast", 1000).collect()}
    near0 = {r["doc_id"] for r in near_search(reader, "order fast", 0, 1000).collect()}
    near3 = {r["doc_id"] for r in near_search(reader, "order fast", 3, 1000).collect()}
    assert phrase <= near0 <= near3


def test_near_tf_window_semantics(spark):
    df = spark.createDataFrame(
        [(1, ["a", "x", "b"]), (2, ["a", "x", "x", "b"]), (3, ["a"]), (4, [])],
        "doc_id int, toks array<string>",
    )
    def tfs(slop):
        return {
            r["doc_id"]: r["ptf"]
            for r in df.select(
                "doc_id", near_tf_col(F.col("toks"), ["a", "b"], slop).alias("ptf")
            ).collect()
        }
    assert tfs(0) == {1: 0, 2: 0, 3: 0, 4: 0}   # window 2: never adjacent
    assert tfs(1) == {1: 1, 2: 0, 3: 0, 4: 0}   # window 3 covers a,x,b
    assert tfs(2) == {1: 1, 2: 1, 3: 0, 4: 0}   # window 4 covers a,x,x,b


def test_conjunctive_candidates_superset_and_pruned_plan(reader, spark):
    cands = matching_doc_ids(reader, ["order", "fast"], "all")
    ids = {r["doc_id"] for r in cands.collect()}
    hits = {r["doc_id"] for r in phrase_search(reader, "order fast", 1000).collect()}
    assert hits <= ids and len(ids) > 0
    # candidate scan must be partition-pruned + term-pushed
    plan = reader.candidate_blocks(
        ["order", "fast"],
        [b for _, b in reader._dictionary_rows(["fast", "order"]).values()],
    )._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan


def test_capped_bucket_list_path(reader, ddb, monkeypatch):
    """Force the >MAX_BUCKET_LIST fallback (unpruned verify, shuffled
    join): results must be identical to the pruned path."""
    import search_spark.operators.phrase as ph

    monkeypatch.setattr(ph, "MAX_BUCKET_LIST", 1)
    got = [
        (r["doc_id"], round(r["score"] * 1e6), r["ptf"])
        for r in phrase_search(reader, "order fast", 10).collect()
    ]
    want = [
        (r[0], r[2], r[3])
        for r in ddb.execute(phrase_topk_sql("order fast", 10)).fetchall()
    ]
    assert got == want and len(got) == 10
    gc = phrase_count(reader, "order fast").collect()[0]
    wc = ddb.execute(phrase_count_sql("order fast")).fetchall()[0]
    assert (gc["n_docs"], gc["n_occurrences"]) == wc


def test_phrase_batch_matches_single(reader):
    """phrase_batch over N phrases ≡ per-query phrase_search (shared-scan
    batching must not change any answer)."""
    from search_spark.operators.phrase import phrase_batch

    qs = [("a", "order fast"), ("b", "big order scan"), ("c", "the"),
          ("d", "order order")]
    batch = phrase_batch(reader, qs, 10).collect()
    got = {
        qid: [
            (r["doc_id"], r["ptf"], round(r["score"] * 1e6))
            for r in sorted(
                (r for r in batch if r["query_id"] == qid),
                key=lambda r: r["rank"],
            )
        ]
        for qid, _ in qs
    }
    for qid, text in qs:
        want = [
            (r["doc_id"], r["ptf"], round(r["score"] * 1e6))
            for r in phrase_search(reader, text, 10)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        assert got[qid] == want, qid


def test_phrase_batch_matches_sql_oracle(reader, ddb):
    from search_spark.operators.phrase import phrase_batch
    from search_spark.oracle_sql import phrase_batch_sql

    qs = [("p1", "order fast"), ("p2", "big order scan")]
    res = phrase_batch(reader, qs, 10)
    got = sorted(
        (r["query_id"], r["doc_id"], r["rank"], round(r["score"] * 1e6), r["ptf"])
        for r in res.collect()
    )
    want = sorted(map(tuple, ddb.execute(phrase_batch_sql(qs, 10)).fetchall()))
    assert got == want


def test_phrase_batch_guards(reader, spark):
    from search_spark.operators.phrase import phrase_batch

    assert phrase_batch(reader, [], 10).count() == 0
    assert phrase_batch(reader, [("a", "order fast")], 0).count() == 0
    # OOV / empty phrases drop only their own query
    res = phrase_batch(
        reader, [("ok", "order fast"), ("oov", "zzq unseen"), ("nil", "")], 5
    )
    qids = {r["query_id"] for r in res.collect()}
    assert qids == {"ok"}


def test_phrase_tf_dyn_equals_literal(spark):
    """Column-parameterized phrase tf ≡ literal-parameterized phrase tf on
    randomized token arrays (incl. docs shorter than the phrase)."""
    import random

    from search_spark.operators.phrase import phrase_tf_col, phrase_tf_dyn_col

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d"]
    rows = [
        ([rng.choice(vocab) for _ in range(rng.randint(0, 12))],)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "toks array<string>")
    for phrase in (["a", "b"], ["b"], ["a", "a"], ["c", "d", "a"], ["a"] * 5):
        both = df.select(
            phrase_tf_col(F.col("toks"), phrase).alias("lit"),
            phrase_tf_dyn_col(F.col("toks"), F.lit(phrase)).alias("dyn"),
        ).collect()
        assert all(r["lit"] == r["dyn"] for r in both), phrase


def test_near_batch_matches_single(reader):
    """near_batch over N (text, slop) queries ≡ per-query near_search."""
    from search_spark.operators.phrase import near_batch

    qs = [("a", "order fast", 3), ("b", "order fast", 0), ("c", "big scan", 2)]
    batch = near_batch(reader, qs, 10).collect()
    got = {
        qid: [
            (r["doc_id"], r["ptf"], round(r["score"] * 1e6))
            for r in sorted(
                (r for r in batch if r["query_id"] == qid),
                key=lambda r: r["rank"],
            )
        ]
        for qid, _, _ in qs
    }
    for qid, text, slop in qs:
        want = [
            (r["doc_id"], r["ptf"], round(r["score"] * 1e6))
            for r in near_search(reader, text, slop, 10)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        assert got[qid] == want, qid


def test_near_batch_matches_sql_oracle(reader, ddb):
    from search_spark.operators.phrase import near_batch
    from search_spark.oracle_sql import near_batch_sql

    qs = [("n1", "order fast", 3), ("n2", "order fast", 0)]
    res = near_batch(reader, qs, 10)
    got = sorted(
        (r["query_id"], r["doc_id"], r["rank"], round(r["score"] * 1e6), r["ptf"])
        for r in res.collect()
    )
    want = sorted(map(tuple, ddb.execute(near_batch_sql(qs, 10)).fetchall()))
    assert got == want


def test_near_tf_dyn_equals_literal(spark):
    """Column-parameterized proximity tf ≡ literal form on randomized
    token arrays across slops (incl. docs shorter than the term set)."""
    import random

    from search_spark.operators.phrase import near_tf_col, near_tf_dyn_col

    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    rows = [
        ([rng.choice(vocab) for _ in range(rng.randint(0, 12))],)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "toks array<string>")
    for terms, slop in ((["a", "b"], 0), (["a", "b"], 3), (["c"], 2),
                        (["a", "b", "d"], 1), (["b", "b", "a"], 2)):
        uniq = sorted(set(terms))
        both = df.select(
            near_tf_col(F.col("toks"), terms, slop).alias("lit"),
            near_tf_dyn_col(
                F.col("toks"), F.lit(uniq), F.lit(slop)
            ).alias("dyn"),
        ).collect()
        assert all(r["lit"] == r["dyn"] for r in both), (terms, slop)


def test_np_kernels_equal_jvm_twins(spark):
    """The Arrow/numpy verify kernels (functions.positional) ≡ the JVM
    higher-order-function twins on randomized TEXTS (the kernels tokenize
    internally, so the twin side tokenizes with the same frozen spec)."""
    import random

    from search_spark.analyzer import tokens_col
    from search_spark.functions.positional import near_tf_np, phrase_tf_np
    from search_spark.operators.phrase import near_tf_col, phrase_tf_col

    rng = random.Random(13)
    vocab = ["a", "b", "c", "dd", "e7"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14)))
        for _ in range(400)
    ] + ["", "A b! C", "a a a a", "b a b a b"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    toks = tokens_col("text")
    for phrase in (["a", "b"], ["b"], ["a", "a"], ["c", "dd", "e7"], ["a"] * 4):
        jvm = [
            r["ptf"]
            for r in df.select("i", phrase_tf_col(toks, phrase).alias("ptf"))
            .orderBy("i").collect()
        ]
        ptf, _dl = phrase_tf_np(texts, phrase)
        assert list(ptf) == jvm, phrase
    for terms, slop in ((["a", "b"], 0), (["a", "b"], 3), (["c"], 2),
                        (["a", "b", "dd"], 1), (["b", "b", "a"], 2)):
        jvm = [
            r["ptf"]
            for r in df.select("i", near_tf_col(toks, terms, slop).alias("ptf"))
            .orderBy("i").collect()
        ]
        ptf, _dl = near_tf_np(texts, terms, slop)
        assert list(ptf) == jvm, (terms, slop)


def test_head_only_phrase_skips_candidate_stage(reader):
    """A phrase whose every term has df ≥ half the corpus must take the
    dense path (no conjunctive candidate job) and still match the
    brute-force answer — the 10^12-doc \"the a\" shape."""
    from search_spark.operators import phrase as ph

    # find two head terms in the fixture corpus via the reader dictionary
    n = int(reader.stats["n_docs"])
    head = [
        t for t in ["the", "a", "to", "of", "order", "scan"]
        if (lambda v: v and ph._df_from_idf(n, v[0]) >= ph.DENSE_SKIP_FRAC * n)(
            reader._dictionary_rows([t]).get(t)
        )
    ]
    if len(head) < 2:
        import pytest

        pytest.skip("fixture corpus has <2 half-corpus head terms")
    q = f"{head[0]} {head[1]}"
    got = [
        (r["doc_id"], r["ptf"], round(r["score"] * 1e6))
        for r in ph.phrase_search(reader, q, 10).collect()
    ]
    # brute force over the raw docs
    from search_spark.analyzer import tokenize as tok
    from search_spark.oracle import idf as oidf
    from search_spark.oracle import term_score

    docs = {
        r["doc_id"]: tok(r["text"])
        for r in reader.doc_source().select("doc_id", "text").collect()
    }
    avgdl = float(reader.stats["avgdl"])
    terms = tok(q)
    w = len(terms)
    tfs = {
        d: sum(1 for i in range(len(t) - w + 1) if t[i:i + w] == terms)
        for d, t in docs.items()
    }
    tfs = {d: c for d, c in tfs.items() if c >= 1}
    idf = oidf(n, len(tfs))
    want = sorted(
        (
            (d, c, round(term_score(c, len(docs[d]), avgdl, idf) * 1e6))
            for d, c in tfs.items()
        ),
        key=lambda x: (-x[2], x[0]),
    )[:10]
    assert got == want
