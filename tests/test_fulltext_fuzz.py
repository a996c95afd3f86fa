"""Randomized oracle-identity fuzz for the round-3 fulltext operators.

One deterministic adversarial corpus (seed 7): tiny vocab with heavy
repetition (phrase/overlap stress), empty and single-token docs,
punctuation/numerics, a doc of one repeated word.  Engine and DuckDB
oracle must agree on every random phrase / proximity / boolean query —
the same twin-testing doctrine as the core scorer's property fuzz.
Phrase and proximity queries run on both verify paths (flat corpus scan
and index candidates)."""

from __future__ import annotations

import random
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from search_spark.corpus import TURNS_PER_CONV
from search_spark.operators.boolean import boolean_search
from search_spark.operators.indexer import build_index
from search_spark.operators.phrase import near_search, phrase_search
from search_spark.operators.wand import IndexReader
from search_spark.oracle_sql import (
    boolean_topk_sql,
    near_topk_sql,
    phrase_topk_sql,
)
from search_spark.sources.index_store import IndexStore

VOCAB = ["aa", "bb", "cc", "dd", "ee", "x1", "xy2z"]
N_DOCS = 80


def _corpus():
    rng = random.Random(7)
    docs = []
    for i in range(N_DOCS):
        if i == 0:
            text = ""                       # empty doc
        elif i == 1:
            text = "aa"                     # single token
        elif i == 2:
            text = " ".join(["aa"] * 12)    # one repeated word
        elif i == 3:
            text = "Aa, BB! cc? x1... 42"   # punctuation + case + numeric
        else:
            n = rng.randint(2, 20)
            text = " ".join(rng.choice(VOCAB) for _ in range(n))
        docs.append((i, text))
    return docs


@pytest.fixture(scope="module")
def rig(spark, tmp_path_factory):
    docs = _corpus()
    tr = spark.createDataFrame(
        [
            (
                f"conv-{i // TURNS_PER_CONV:06d}",
                i % TURNS_PER_CONV,
                "user",
                text,
                None,
                __import__("datetime").datetime(2026, 1, 1),
            )
            for i, text in docs
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    root = str(tmp_path_factory.mktemp("fuzz_idx"))
    store = IndexStore(root, doc_bucket_size=32, term_buckets=4)
    build_index(spark, tr, store, n_units=2)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    return IndexReader(spark, store), con


def test_random_phrases_match_oracle(rig, verify_paths):
    reader, con = rig
    rng = random.Random(11)
    phrases = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 3)))
        for _ in range(10)
    ]
    for path in verify_paths():
        for phrase in phrases:
            got = [
                (r["doc_id"], round(r["score"] * 1e6), r["ptf"])
                for r in phrase_search(reader, phrase, 10).collect()
            ]
            want = [
                (r[0], r[2], r[3])
                for r in con.execute(phrase_topk_sql(phrase, 10)).fetchall()
            ]
            assert got == want, (path, phrase)


def test_random_proximity_matches_oracle(rig, verify_paths):
    reader, con = rig
    rng = random.Random(13)
    queries = [
        (
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 3))),
            rng.randint(0, 4),
        )
        for _ in range(10)
    ]
    for path in verify_paths():
        for q, slop in queries:
            got = [
                (r["doc_id"], round(r["score"] * 1e6), r["ptf"])
                for r in near_search(reader, q, slop, 10).collect()
            ]
            want = [
                (r[0], r[2], r[3])
                for r in con.execute(near_topk_sql(q, slop, 10)).fetchall()
            ]
            assert got == want, (path, q, slop)


def test_random_boolean_matches_oracle(rig):
    reader, con = rig
    rng = random.Random(17)
    for _ in range(10):
        pool = VOCAB + ["zzq"]
        must = " ".join(rng.sample(pool, rng.randint(0, 2)))
        should = " ".join(rng.sample(pool, rng.randint(0, 2)))
        mnot = " ".join(rng.sample(pool, rng.randint(0, 1)))
        got = [
            (r["doc_id"], round(r["score"] * 1e6))
            for r in boolean_search(reader, must, should, mnot, 10).collect()
        ]
        want = [
            (r[0], r[2])
            for r in con.execute(boolean_topk_sql(must, should, mnot, 10)).fetchall()
        ]
        assert got == want, (must, should, mnot)
