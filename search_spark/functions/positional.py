"""Vectorized positional-match kernels (phrase / proximity tf).

The positional verify of operators/phrase.py runs these inside its one
``mapInPandas`` verify generator: :func:`flat_tokens` tokenizes a batch
ONCE via :func:`analyzer.tokenize_arrow` (flat token array + parent
indices, all Arrow C++), then the counting kernels match with
shifted-slice boolean algebra over the whole batch — no per-row Python,
and one tokenize serves every query that checks the batch.

Semantics are pinned to the DuckDB oracle (``phrase_topk_sql`` /
``near_topk_sql``, property-tested equal in tests/test_phrase.py):

- phrase tf = number of start offsets where the ORDERED terms appear
  consecutively; overlapping occurrences all count.
- near tf  = number of start offsets whose window of
  ``|distinct terms| + slop`` tokens (clamped to the doc length) contains
  ALL distinct terms; docs shorter than the distinct-term count match 0.

Reference analogue: the positional verify behind phrase search — the
reference scores flat token multisets only (index.go:53-86), so
phrase/near semantics are defined by our SQL oracle, not the Go code.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..analyzer import tokenize_arrow

__all__ = ["flat_tokens", "phrase_tf_from_flat", "near_tf_from_flat"]


def flat_tokens(texts: pd.Series | list):
    """Tokenize a batch: (flat tokens pyarrow.StringArray, doc index
    int64 ndarray, per-doc length int32 ndarray)."""
    flat, doc_idx = tokenize_arrow(
        texts.to_numpy() if isinstance(texts, pd.Series) else texts
    )
    n = len(texts)
    di = np.asarray(doc_idx.to_numpy(zero_copy_only=False), dtype=np.int64)
    dl = np.bincount(di, minlength=n).astype(np.int32)
    return flat, di, dl


def _term_masks(flat, terms: list[str]) -> dict[str, np.ndarray]:
    """Per-distinct-term boolean match arrays over the flat token array
    (Arrow C++ equality, one pass per distinct term)."""
    import pyarrow.compute as pc

    return {
        t: pc.equal(flat, t).to_numpy(zero_copy_only=False)
        for t in dict.fromkeys(terms)
    }


def phrase_tf_from_flat(flat, di, dl, terms: list[str]) -> np.ndarray:
    """int32 exact ordered-phrase occurrence counts (overlapping counted)
    of ``terms`` per doc of a PRE-TOKENIZED batch (the ``flat_tokens``
    triple) — a multi-query verify stage pays the tokenize cost once per
    Arrow batch, not once per query."""
    n = len(dl)
    w = len(terms)
    L = len(flat)
    M = L - w + 1
    if w == 0 or M <= 0:
        return np.zeros(n, dtype=np.int32)
    eq = _term_masks(flat, terms)
    m = eq[terms[0]][0:M].copy()
    for j in range(1, w):
        m &= eq[terms[j]][j : M + j]
    # the whole window must sit inside one doc (flat is doc-ordered)
    if w > 1:
        m &= di[0:M] == di[w - 1 : L]
    return np.bincount(di[0:M][m], minlength=n).astype(np.int32)


def near_tf_from_flat(
    flat, di, dl, terms: list[str], slop: int
) -> np.ndarray:
    """int32 per-doc count of start offsets whose window of ``|distinct
    terms| + slop`` tokens (clamped to the doc) contains all distinct
    terms, over a pre-tokenized batch (same tokenize-once contract as
    :func:`phrase_tf_from_flat`)."""
    n = len(dl)
    uniq = sorted(set(terms))
    n_uniq = len(uniq)
    if n_uniq == 0:
        return np.zeros(n, dtype=np.int32)
    w = n_uniq + slop
    L = len(flat)
    eq = _term_masks(flat, uniq)
    ptf = np.zeros(n, dtype=np.int32)

    # Long docs (dl >= w): every start i with the w-window inside one doc;
    # presence of each term via global prefix sums differenced at (i, i+w)
    # — windows crossing doc boundaries are masked out, so the global
    # cumsum never leaks counts across docs into a VALID window.
    M = L - w + 1
    if M > 0:
        valid = di[0:M] == di[w - 1 : L] if w > 1 else np.ones(M, dtype=bool)
        ok = valid
        for t in uniq:
            cs = np.concatenate(([0], np.cumsum(eq[t], dtype=np.int64)))
            ok = ok & (cs[w : w + M] - cs[0:M] > 0)
        ptf = np.bincount(di[0:M][ok], minlength=n).astype(np.int32)

    # Short docs (n_uniq <= dl < w): the clamped window is the whole doc —
    # exactly one start, matching iff every distinct term occurs.
    short = (dl < w) & (dl >= n_uniq)
    if short.any():
        pres = short.copy()
        for t in uniq:
            pres &= np.bincount(di[eq[t]], minlength=n) > 0
        ptf[pres] = 1
    return ptf
