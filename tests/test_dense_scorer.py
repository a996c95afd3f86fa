"""The per-bucket scoring kernel (wand.bucket_topk) against a brute-force
scorer built on the oracle's per-posting formula
(search_spark.oracle.term_score) — the engine's analogue of the
reference's kernel-vs-scalar equivalence tests
(/root/reference/internal/cosine/simd/simd_test.go:52-74).

Both must return IDENTICAL (doc_id, score) lists — same docs, same ranks,
float-equal scores (same summation order) — on arbitrary posting data,
including dense Zipf-head shapes, exact-tie shapes and boolean clauses.
The kernel reads encoded blocks through wand.decode_term; the brute-force
side reads the raw postings, so the codec round trip is inside the check."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from search_spark import codec
from search_spark.operators.wand import bucket_topk, decode_term
from search_spark.oracle import term_score

AVGDL = 20.0


def oracle_topk(postings, must, should, must_not, idf, avgdl, k, deleted=()):
    """Brute-force clause top-k: ``postings`` = term → (doc_ids, tfs, dls).
    Scores are python-float oracle.term_score sums in ascending term order;
    the clause filter is plain set membership."""
    held = {t: set(p[0].tolist()) for t, p in postings.items()}
    acc: dict[int, float] = {}
    for t in sorted(set(must) | set(should)):
        if t not in postings:
            continue
        for d, tf, dl in zip(*(a.tolist() for a in postings[t])):
            acc[d] = acc.get(d, 0.0) + term_score(tf, dl, avgdl, idf[t])
    rows = [
        (d, s)
        for d, s in acc.items()
        if all(d in held.get(t, ()) for t in must)
        and not any(d in held.get(t, ()) for t in must_not)
        and d not in deleted
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[: max(k, 0)]


def kernel_topk(blocks, must, should, must_not, idf, avgdl, k, deleted=()):
    """bucket_topk over ``blocks`` = term → encoded block DataFrame."""
    by_term = {t: decode_term(b) for t, b in blocks.items()}
    gone = np.array(sorted(deleted), dtype=np.int64) if deleted else None
    ids, scores = bucket_topk(by_term, must, should, must_not, idf, avgdl, k, gone)
    return list(zip(ids.tolist(), scores.tolist()))


def _blocks_df(doc_ids, tfs, dls, avgdl=AVGDL):
    rows = codec.make_blocks(
        np.asarray(doc_ids, dtype=np.int64),
        np.asarray(tfs, dtype=np.int64),
        np.asarray(dls, dtype=np.int64),
        avgdl,
    )
    return pd.DataFrame(rows)


def _random_corpus(rng, n_terms, n_docs, density):
    blocks, postings, qidf = {}, {}, {}
    for t in range(n_terms):
        term = f"t{t:02d}"
        mask = rng.random(n_docs) < density[t]
        docs = np.flatnonzero(mask)
        if docs.size == 0:
            continue
        tfs = rng.integers(1, 6, size=docs.size)
        dls = rng.integers(5, 60, size=docs.size)
        blocks[term] = _blocks_df(docs, tfs, dls)
        postings[term] = (docs, tfs, dls)
        qidf[term] = float(rng.uniform(0.1, 3.0))
    return blocks, postings, qidf


def _check(blocks, postings, must, should, must_not, qidf, avgdl, k, deleted=()):
    got = kernel_topk(blocks, must, should, must_not, qidf, avgdl, k, deleted)
    want = oracle_topk(postings, must, should, must_not, qidf, avgdl, k, deleted)
    assert got == want  # docs, order, AND exact float scores
    return got


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
@pytest.mark.parametrize("k", [1, 10, 50])
def test_wand_dense_parity_random(seed, k):
    """Random densities, should-only (ranked retrieval) and one boolean
    clause with tombstones over the same bucket."""
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(1, 6))
    density = rng.uniform(0.01, 0.9, size=n_terms)
    blocks, postings, qidf = _random_corpus(rng, n_terms, 2000, density)
    if not blocks:
        return
    terms = sorted(blocks)
    _check(blocks, postings, [], terms, [], qidf, AVGDL, k)
    deleted = set(rng.choice(2000, size=200, replace=False).tolist())
    _check(blocks, postings, terms[:1], terms[1:2], terms[2:3], qidf, AVGDL, k, deleted)


def test_parity_exact_ties():
    # identical tf/dl everywhere → all scores equal → pure doc_id tiebreak
    docs = np.arange(100, 400, 3)
    tfs, dls = np.full(docs.size, 2), np.full(docs.size, 20)
    got = _check({"a": _blocks_df(docs, tfs, dls)}, {"a": (docs, tfs, dls)}, [], ["a"], [], {"a": 1.5}, AVGDL, 7)
    assert [doc for doc, _ in got] == list(docs[:7])  # ascending doc_id on ties


def test_parity_multi_block_head_term():
    # >8 blocks for one term + a sparse term: exercises the block decode
    # and the cross-term accumulation order
    docs_a = np.arange(0, 1500)           # dense head term, 12 blocks
    docs_b = np.arange(0, 1500, 97)       # sparse term
    postings = {
        "a": (docs_a, (docs_a % 4) + 1, (docs_a % 37) + 5),
        "b": (docs_b, (docs_b % 3) + 1, (docs_b % 29) + 5),
    }
    blocks = {t: _blocks_df(*p) for t, p in postings.items()}
    qidf = {"a": 0.2, "b": 2.7}
    _check(blocks, postings, [], ["a", "b"], [], qidf, AVGDL, 10)
    _check(blocks, postings, ["a", "b"], [], [], qidf, AVGDL, 10)  # conjunction
    _check(blocks, postings, [], ["a"], ["b"], qidf, AVGDL, 10)    # exclusion


def test_pruning_safe_under_avgdl_drift():
    """Blocks encoded under a stale avgdl hint must still score exactly
    under a different (larger) live avgdl: the stored block-max columns
    hold only for the encode-time avgdl and must not leak into scoring
    (a pruning bound taken from them lost a true top-10 doc in the
    streaming path, found 2026-08-17)."""
    rng = np.random.default_rng(99)
    docs = np.sort(rng.choice(5000, size=1000, replace=False))
    tfs = rng.integers(1, 5, size=1000)
    dls = rng.integers(5, 60, size=1000)
    stale = {"a": _blocks_df(docs, tfs, dls, avgdl=10.0)}  # wrong hint
    _check(stale, {"a": (docs, tfs, dls)}, [], ["a"], [], {"a": 1.3}, 30.0, 10)


def test_k_edge_cases():
    docs = np.arange(50)
    tfs, dls = np.ones(50, dtype=np.int64), np.full(50, 10)
    blocks, postings = {"a": _blocks_df(docs, tfs, dls)}, {"a": (docs, tfs, dls)}
    qidf = {"a": 1.0}
    assert kernel_topk(blocks, [], ["a"], [], qidf, AVGDL, 0) == []
    assert kernel_topk(blocks, [], ["a"], [], qidf, AVGDL, -1) == []
    got = _check(blocks, postings, [], ["a"], [], qidf, AVGDL, 100)
    assert len(got) == 50  # k > candidates → all, ordered
    # a must term absent from the bucket → nothing matches
    assert kernel_topk(blocks, ["b"], ["a"], [], qidf, AVGDL, 10) == []
    # every candidate tombstoned → nothing survives
    assert kernel_topk(blocks, [], ["a"], [], qidf, AVGDL, 10, set(range(50))) == []
