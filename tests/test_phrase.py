"""Phrase search: engine vs DuckDB oracle rank identity on both verify
paths (flat corpus scan and index candidates), guard semantics, plan
shape (pruned candidate scan, broadcast verify join) and the one-query
job count."""

from __future__ import annotations

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

import search_spark.operators.phrase as ph
from search_spark.corpus import transcripts_from_documents
from search_spark.functions.positional import (
    flat_tokens,
    near_tf_from_flat,
    phrase_tf_from_flat,
)
from search_spark.operators.indexer import build_index
from search_spark.operators.boolean import matching_doc_ids
from search_spark.operators.phrase import near_search, phrase_count, phrase_search
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
def test_phrase_matches_oracle(reader, ddb, verify_paths, phrase):
    want = [(r[0], r[2], r[3]) for r in ddb.execute(phrase_topk_sql(phrase, 10)).fetchall()]
    for path in verify_paths():
        got = [
            (r["doc_id"], round(r["score"] * 1e6), r["ptf"])
            for r in phrase_search(reader, phrase, 10).collect()
        ]
        assert got == want, path


def test_phrase_guards(reader, verify_paths):
    for path in verify_paths():
        assert phrase_search(reader, "zzq unseen", 10).count() == 0, path  # OOV term
        assert phrase_search(reader, "", 10).count() == 0, path            # empty phrase
        assert phrase_search(reader, "order fast", 0).count() == 0, path   # k=0
        # terms exist but never adjacent in this order (cands > 0, verify = 0)
        assert phrase_search(reader, "fast order fast order fast", 10).count() == 0, path
        assert [tuple(r) for r in phrase_count(reader, "zzq unseen").collect()] == [(0, 0)], path
        assert [tuple(r) for r in phrase_count(reader, "").collect()] == [(0, 0)], path


def test_phrase_count_matches_oracle(reader, ddb, verify_paths):
    want = ddb.execute(phrase_count_sql("order fast")).fetchall()[0]
    for path in verify_paths():
        got = phrase_count(reader, "order fast").collect()[0]
        assert (got["n_docs"], got["n_occurrences"]) == want, path


def _np_tf(docs: dict[int, list[str]], kernel) -> dict[int, int]:
    """doc_id → tf of a numpy kernel over token lists joined into texts."""
    ids = list(docs)
    ptf = kernel(flat_tokens([" ".join(docs[i]) for i in ids]))
    return {i: int(c) for i, c in zip(ids, ptf)}


def test_phrase_tf_overlap_counting():
    docs = {1: ["a", "a", "a", "a"], 2: ["a"], 3: []}
    out = _np_tf(docs, lambda fdl: phrase_tf_from_flat(*fdl, ["a", "a"]))
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
def test_near_matches_oracle(reader, ddb, verify_paths, text, slop):
    want = [
        (r[0], r[2], r[3])
        for r in ddb.execute(near_topk_sql(text, slop, 10)).fetchall()
    ]
    assert len(want) > 0
    for path in verify_paths():
        got = [
            (r["doc_id"], round(r["score"] * 1e6), r["ptf"])
            for r in near_search(reader, text, slop, 10).collect()
        ]
        assert got == want, path


def test_near_widens_with_slop(reader):
    """Proximity matches are monotone in slop and contain phrase matches."""
    phrase = {r["doc_id"] for r in phrase_search(reader, "order fast", 1000).collect()}
    near0 = {r["doc_id"] for r in near_search(reader, "order fast", 0, 1000).collect()}
    near3 = {r["doc_id"] for r in near_search(reader, "order fast", 3, 1000).collect()}
    assert phrase <= near0 <= near3


def test_near_tf_window_semantics():
    docs = {1: ["a", "x", "b"], 2: ["a", "x", "x", "b"], 3: ["a"], 4: []}

    def tfs(slop):
        return _np_tf(docs, lambda fdl: near_tf_from_flat(*fdl, ["a", "b"], slop))
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
    join) on the candidate path: results must be identical to the pruned
    path."""
    monkeypatch.setattr(ph, "DENSE_SKIP_FRAC", 1.01)
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
    """phrase_batch over N phrases ≡ per-query phrase_search: the
    many-query final (ranked_topk) and the one-query final (ordered limit)
    give the same rows, and phrase_search returns them in rank order."""
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
            for r in phrase_search(reader, text, 10).collect()
        ]
        assert got[qid] == want, qid


def _batch_rows(res):
    return sorted(
        (r["query_id"], r["doc_id"], r["rank"], round(r["score"] * 1e6), r["ptf"])
        for r in res.collect()
    )


def test_phrase_batch_matches_sql_oracle(reader, ddb, verify_paths):
    from search_spark.operators.phrase import phrase_batch
    from search_spark.oracle_sql import phrase_batch_sql

    qs = [("p1", "order fast"), ("p2", "big order scan")]
    want = sorted(map(tuple, ddb.execute(phrase_batch_sql(qs, 10)).fetchall()))
    for path in verify_paths():
        assert _batch_rows(phrase_batch(reader, qs, 10)) == want, path


def test_mixed_path_batch_matches_sql_oracle(reader, ddb, monkeypatch):
    """At DENSE_SKIP_FRAC 0.8 one batch sends "merge scan" (both terms
    df ≥ 0.8 n_docs) down the flat path and "order fast" (df < 0.8 n_docs)
    down the candidate path; the merged answer must equal the oracle's."""
    from search_spark.operators.phrase import phrase_batch
    from search_spark.oracle_sql import phrase_batch_sql

    monkeypatch.setattr(ph, "DENSE_SKIP_FRAC", 0.8)
    qs = [("flat", "merge scan"), ("cand", "order fast")]
    n = int(reader.stats["n_docs"])
    min_df = {
        qid: min(
            ph._df_from_idf(n, idf)
            for idf, _ in reader._dictionary_rows(text.split()).values()
        )
        for qid, text in qs
    }
    assert min_df["flat"] >= 0.8 * n > min_df["cand"]
    got = _batch_rows(phrase_batch(reader, qs, 10))
    want = sorted(map(tuple, ddb.execute(phrase_batch_sql(qs, 10)).fetchall()))
    assert got == want and {r[0] for r in got} == {"flat", "cand"}


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


def test_near_batch_matches_single(reader):
    """near_batch over N (text, slop) queries ≡ per-query near_search (the
    many-query and one-query finals agree, row order included)."""
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
            for r in near_search(reader, text, slop, 10).collect()
        ]
        assert got[qid] == want, qid


def test_near_batch_matches_sql_oracle(reader, ddb, verify_paths):
    from search_spark.operators.phrase import near_batch
    from search_spark.oracle_sql import near_batch_sql

    qs = [("n1", "order fast", 3), ("n2", "order fast", 0)]
    want = sorted(map(tuple, ddb.execute(near_batch_sql(qs, 10)).fetchall()))
    for path in verify_paths():
        assert _batch_rows(near_batch(reader, qs, 10)) == want, path


def test_np_kernels_equal_jvm_twins():
    """The Arrow/numpy verify kernels (functions.positional) ≡ the DuckDB
    oracle's positional tf (the ``ptf`` column of phrase_topk_sql /
    near_topk_sql) on randomized TEXTS: the kernels tokenize through
    flat_tokens, the oracle with the same frozen SQL token spec."""
    import random

    from search_spark.oracle_sql import near_topk_sql, phrase_topk_sql

    rng = random.Random(13)
    vocab = ["a", "b", "c", "dd", "e7"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14)))
        for _ in range(400)
    ] + ["", "A b! C", "a a a a", "b a b a b"]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    docs_sql = "SELECT doc_id, text FROM t"
    fdl = flat_tokens(texts)
    k = len(texts)

    def oracle_tf(sql: str) -> dict[int, int]:
        return {int(r[0]): int(r[3]) for r in con.execute(sql).fetchall()}

    def kernel_tf(ptf) -> dict[int, int]:
        return {i: int(c) for i, c in enumerate(ptf) if c}

    for phrase in (["a", "b"], ["b"], ["a", "a"], ["c", "dd", "e7"], ["a"] * 4):
        want = oracle_tf(phrase_topk_sql(" ".join(phrase), k, docs_sql))
        assert kernel_tf(phrase_tf_from_flat(*fdl, phrase)) == want, phrase
    for terms, slop in ((["a", "b"], 0), (["a", "b"], 3), (["c"], 2),
                        (["a", "b", "dd"], 1), (["b", "b", "a"], 2)):
        want = oracle_tf(near_topk_sql(" ".join(terms), slop, k, docs_sql))
        assert kernel_tf(near_tf_from_flat(*fdl, terms, slop)) == want, (terms, slop)


def test_head_only_phrase_skips_candidate_stage(reader):
    """A phrase whose every term has df ≥ half the corpus must take the
    dense path (no conjunctive candidate job) and still match the
    brute-force answer — the 10^12-doc \"the a\" shape."""
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


def _job_count(spark, fn) -> int:
    """Spark jobs that ``fn()`` submits, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


#: jobs of one warm query, result collect included, as counted on this
#: fixture under the separate single-query engine the batch-of-one calls
#: replaced; a one-query call must not run more
ONE_QUERY_JOBS = {
    ("phrase", "flat"): 6,
    ("phrase", "candidate"): 11,
    ("near", "flat"): 6,
    ("near", "candidate"): 11,
}


def test_one_query_job_count(reader, spark, verify_paths):
    """A warm one-query phrase_search / near_search (a batch of one) runs
    no more Spark jobs than the single-query engine did, on both verify
    paths: its final top-k is one ordered-limit job, not the windows."""
    calls = {
        "phrase": lambda: phrase_search(reader, "order fast", 10).collect(),
        "near": lambda: near_search(reader, "order fast", 2, 10).collect(),
    }
    for path in verify_paths():
        for kind, call in calls.items():
            call()  # warm: term cache, gone-ids frame, Python workers
            n = _job_count(spark, call)
            assert n <= ONE_QUERY_JOBS[kind, path], (kind, path, n)
