"""Exact phrase and proximity search over the persisted inverted index.

The reference engine has no phrase operator (it serves whole-document
vector search, index.go:52-86); a fulltext engine needs one, and the
Spark-first construction is a two-stage prune-then-verify plan that never
scans the corpus.  ONE engine (:func:`_verified`) runs it for every
operator here: ``phrase_batch`` / ``near_batch`` rank its rows,
``phrase_count`` aggregates them, and ``phrase_search`` / ``near_search``
are batches of one.

1. **Conjunctive candidates from the index** — a phrase can only occur in
   documents containing ALL its terms, so the candidate set is the
   per-``doc_bucket`` intersection of the query terms' posting lists
   (the shared per-bucket plan, :meth:`wand.IndexReader._bucket_groups`:
   pruned posting scan, one exchange; each term decodes once per bucket
   for the whole batch).  The candidate count is bounded by the rarest
   term's df — Zipf makes this small for any phrase containing one
   non-head term.

2. **Positional verify on the candidates only** — the index stores no
   positions (by design: positions triple index size; candidates are
   cheap to re-check), so candidates rehydrate their text from the
   staged docs and count matches with the Arrow/numpy kernels of
   :mod:`..functions.positional` inside ONE ``mapInPandas`` verify
   generator (:func:`_verify`): each Arrow batch tokenizes once, per-query
   terms and slop live in the kernel closures.  The docs scan is
   partition-pruned to the units containing candidates and the candidate
   side is broadcast (:func:`candidate_docs`), so the verify is a map-side
   join over a pruned scan: NO corpus shuffle.

For HEAD-ONLY queries (every term's df ≥ half the corpus) stage 1 is
skipped entirely: intersecting near-full posting lists costs a full
decode to prune <half the verify input — the flat verify scan IS the
minimal plan (the 10^12-doc "the a" shape, SCALE.md).  One flat scan
serves every head-only query of a batch.

Scoring treats the phrase as one pseudo-term: tf = exact occurrence
count (overlaps included), df = number of documents containing the
phrase, dl/avgdl/N from the index stats — standard BM25, bit-identical
to the DuckDB oracle (idf derived driver-side in CPython, same
convention as wand.IndexReader._dictionary_rows).  The final top-k is an
ordered limit when one query has matches (Spark runs it as a single
TakeOrderedAndProject job) and the hierarchical :func:`wand.ranked_topk`
when several do.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer import tokenize
from ..functions.bm25 import term_score_col
from ..functions.positional import flat_tokens, near_tf_from_flat, phrase_tf_from_flat
from ..oracle import idf as oracle_idf
from .wand import bucket_match, ranked_topk

#: broadcast the candidate side of the verify join only below this many
#: candidate docs (driver-side count; above it fall back to a shuffled
#: join and let AQE pick the strategy)
BROADCAST_CANDIDATES_MAX = 2_000_000

#: cap on the driver-side candidate-bucket list (used for doc-scan
#: pruning).  A head-only phrase over 10^12 docs touches ~all of the
#: ~10^8 doc_buckets — at that point the list prunes nothing and would
#: itself be driver-sized, so past the cap the verify scans unpruned
#: (which IS the matching physical plan for an everywhere-phrase)
MAX_BUCKET_LIST = 8192

#: min-df fraction of the corpus above which candidate generation is
#: skipped and the verify scans the corpus flat: pruning can remove less
#: than (1 - frac) of the verify input but costs a full posting
#: decode+intersect of every (near-corpus-sized) list first
DENSE_SKIP_FRAC = 0.5

_RANKED_SCHEMA = "query_id string, rank int, doc_id bigint, score double, ptf int"
_VERIFIED_SCHEMA = "query_id string, doc_id long, ptf int, dl int"


def phrase_search(reader, phrase_text: str, k: int = 10) -> DataFrame:
    """Top-k BM25 phrase search: (doc_id, ptf, score), (score DESC,
    doc_id ASC).  Empty phrase, OOV term, no occurrence, or k<=0 → 0 rows
    (reference guard semantics, index.go:54-56).  A batch of one."""
    return phrase_batch(reader, [("q", phrase_text)], k).select("doc_id", "ptf", "score")


def near_search(reader, query_text: str, slop: int = 2, k: int = 10) -> DataFrame:
    """Top-k BM25 proximity search: docs where all query terms co-occur
    within a window of |distinct terms| + slop tokens, scored as one
    pseudo-term (tf = matching-window count, df = matching-doc count).
    A batch of one, like :func:`phrase_search`."""
    return near_batch(reader, [("q", query_text, slop)], k).select("doc_id", "ptf", "score")


def phrase_batch(reader, queries: list[tuple[str, str]], k: int = 10) -> DataFrame:
    """Batched exact phrase search: ``queries`` = [(query_id, phrase_text)]
    → (query_id, rank, doc_id, score, ptf) in (query_id, rank) order.
    Per-query semantics: empty/OOV phrase or no occurrence → 0 rows for
    that query only."""
    # ORDERED terms (dups kept): phrase matching is positional
    parsed = {qid: tokenize(text) for qid, text in queries}
    kernels = {
        qid: (lambda fdl, t=t: phrase_tf_from_flat(*fdl, t)) for qid, t in parsed.items()
    }
    return _pseudo_term_batch(reader, parsed, kernels, k)


def near_batch(
    reader, queries: list[tuple[str, str, int]], k: int = 10
) -> DataFrame:
    """Batched proximity search: ``queries`` = [(query_id, text, slop)] →
    (query_id, rank, doc_id, score, ptf) — :func:`near_search` semantics
    per query, batched exactly like :func:`phrase_batch` (per-query terms
    AND slop live in the kernel closures, not the plan)."""
    parsed = {qid: tokenize(text) for qid, text, _ in queries}
    kernels = {
        qid: (lambda fdl, t=parsed[qid], s=int(slop): near_tf_from_flat(*fdl, t, s))
        for qid, _, slop in queries
    }
    return _pseudo_term_batch(reader, parsed, kernels, k)


def phrase_count(reader, phrase_text: str) -> DataFrame:
    """(n_docs, n_occurrences) of the phrase across the corpus — the
    EXISTS/count form: one aggregate over the engine's verified rows for
    one query, no ranking.  Empty or OOV phrase → (0, 0)."""
    terms = tokenize(phrase_text)
    kernels = {"q": lambda fdl: phrase_tf_from_flat(*fdl, terms)}
    row = (0, 0)
    with _verified(reader, {"q": terms}, kernels) as verified:
        if verified is not None:
            row = tuple(
                verified.agg(
                    F.count(F.lit(1)), F.coalesce(F.sum("ptf"), F.lit(0))
                ).collect()[0]
            )
    return reader.spark.createDataFrame([row], "n_docs bigint, n_occurrences bigint")


def _pseudo_term_batch(reader, parsed: dict, kernels: dict, k: int) -> DataFrame:
    """Top-k over the engine's verified rows: pseudo-term BM25 with each
    query's (tf, df), then (score DESC, doc_id ASC) ranks per query.
    Returns materialized rows in (query_id, rank) order, so the one-query
    wrappers only select columns."""
    spark = reader.spark
    if k <= 0:
        return spark.createDataFrame([], _RANKED_SCHEMA)
    rows = []
    with _verified(reader, parsed, kernels) as verified:
        dfs = {}
        if verified is not None:
            verified.persist()  # read twice: per-query df, then the top-k
            dfs = {
                r["query_id"]: int(r["n"])
                for r in verified.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
            }
        if dfs:
            # idf in CPython from (N, df): bit-identical to the oracle's
            # correctly-rounded libm ln (wand._dictionary_rows convention)
            n_docs = int(reader.stats["n_docs"])
            idf_map = F.create_map(
                *[
                    lit
                    for qid, df_q in dfs.items()
                    for lit in (F.lit(qid), F.lit(oracle_idf(n_docs, df_q)))
                ]
            )
            scored = verified.select(
                "query_id",
                "doc_id",
                "ptf",
                term_score_col(
                    F.col("ptf"),
                    F.col("dl"),
                    F.lit(float(reader.stats["avgdl"])),
                    idf_map[F.col("query_id")],
                ).alias("score"),
            )
            if len(dfs) == 1:
                # one job (TakeOrderedAndProject) instead of the windows'
                # exchanges — the per-call floor is what a single query pays
                top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
                rows = [
                    (r["query_id"], rank, r["doc_id"], r["score"], r["ptf"])
                    for rank, r in enumerate(top, 1)
                ]
            else:
                # verified rows are ALL matches, not ≤ k per bucket; the
                # ranked windows' `row_number() <= k` filters plan a
                # partial WindowGroupLimit below each window exchange, so
                # every input partition still ships ≤ k rows per query
                out = ranked_topk(scored, k, reader._n_buckets(), extra=("ptf",))
                rows = sorted(map(tuple, out.collect()), key=lambda r: (r[0], r[1]))
    # materialized (≤ k × |queries| rows) before the caches unpersist
    return spark.createDataFrame(rows, _RANKED_SCHEMA)


@contextmanager
def _verified(reader, parsed: dict[str, list[str]], kernels: dict):
    """The prune-then-verify engine.  ``parsed`` maps query_id → its
    tokenized terms; ``kernels`` maps query_id → the positional counting
    kernel over a PRE-TOKENIZED batch (``(flat, di, dl) -> ptf``).

    Yields the lazy (query_id, doc_id, ptf, dl) rows, one per matching
    (query, doc), or None when no query can match (empty or OOV terms,
    no candidates).  A caller that reads them more than once persists
    them; on exit the engine unpersists them and its candidate cache."""
    specs = {qid: terms for qid, terms in parsed.items() if terms}
    dict_rows = reader._dictionary_rows(sorted({t for ts in specs.values() for t in ts}))
    specs = {
        qid: terms
        for qid, terms in specs.items()
        if all(t in dict_rows for t in terms)  # OOV term → query matches 0
    }
    n_docs = int(reader.stats["n_docs"])
    # per-query dense split: queries whose every term is in ≥ half the
    # corpus skip candidate generation; ONE flat corpus verify serves
    # ALL dense queries of the batch
    dense = sorted(
        qid
        for qid, terms in specs.items()
        if min(_df_from_idf(n_docs, dict_rows[t][0]) for t in set(terms))
        >= DENSE_SKIP_FRAC * n_docs
    )
    sparse = {q: sorted(set(t)) for q, t in specs.items() if q not in dense}
    parts = []
    cands = verified = None
    try:
        if sparse:

            def intersect(by_term, bucket: int, deleted) -> pd.DataFrame:
                outs = []
                for qid, uniq in sparse.items():
                    acc = bucket_match(by_term, uniq, "all", deleted)
                    if acc.shape[0]:
                        outs.append(
                            pd.DataFrame(
                                {"query_id": qid, "doc_bucket": np.int32(bucket), "doc_id": acc}
                            )
                        )
                if not outs:
                    return pd.DataFrame(columns=["query_id", "doc_bucket", "doc_id"])
                return pd.concat(outs, ignore_index=True)

            needed = {t for uniq in sparse.values() for t in uniq}
            cands = reader._bucket_groups(
                {t: dict_rows[t] for t in needed},
                intersect,
                "query_id string, doc_bucket int, doc_id long",
            ).persist()
            joined = candidate_docs(reader, cands, ["text"])
            if joined is not None:
                parts.append(
                    joined.mapInPandas(_verify({q: kernels[q] for q in sparse}), _VERIFIED_SCHEMA)
                )
        if dense:
            # unlike the candidate path (whose doc set comes FROM the
            # index), the flat scan sees staged docs the index no longer
            # serves: tombstoned docs AND physically purged ones (purge
            # removes postings, not staged doc files) — exclude both
            corpus = _minus_gone(reader, reader.doc_source().select("doc_id", "text"))
            parts.append(
                corpus.mapInPandas(_verify({q: kernels[q] for q in dense}), _VERIFIED_SCHEMA)
            )
        if parts:
            verified = reduce(DataFrame.unionByName, parts)
        yield verified
    finally:
        if verified is not None:
            verified.unpersist()
        if cands is not None:
            cands.unpersist()


def _verify(kernels: dict):
    """The positional-verify body for ``mapInPandas``.  Input rows are
    (doc_id, text) — every query of ``kernels`` checks every row (flat
    scan) — or (doc_id, text, query_id) — each row is checked by its own
    query (candidates).  Each group of texts tokenizes ONCE
    (:func:`flat_tokens`); only the cheap counting kernels loop per
    query.  Emits (query_id, doc_id, ptf, dl) for ptf ≥ 1."""

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if "query_id" in pdf.columns:
                groups = [(g, [qid]) for qid, g in pdf.groupby("query_id", sort=False)]
            else:
                groups = [(pdf, list(kernels))]
            for g, qids in groups:
                fdl = flat_tokens(g["text"])
                ids = g["doc_id"].to_numpy()
                for qid in qids:
                    ptf = kernels[qid](fdl)
                    keep = ptf >= 1
                    if keep.any():
                        yield pd.DataFrame(
                            {"query_id": qid, "doc_id": ids[keep], "ptf": ptf[keep], "dl": fdl[2][keep]}
                        )

    return gen


def candidate_docs(reader, cands: DataFrame, cols: list[str]) -> DataFrame | None:
    """Index candidates → their staged docs: ``cands`` (doc_bucket,
    doc_id, ...) joined with the docs' (doc_id, *cols), one output row per
    candidate row; None when there are no candidates.

    ONE capped job yields both the candidate count and the bucket list.
    The docs scan is pruned to the units holding candidate buckets (unit
    = pmod(doc_bucket, n_units), the staged layout's partition dir); past
    MAX_BUCKET_LIST buckets the list prunes nothing and would be
    driver-sized, so the scan runs unpruned.  The candidate side is
    broadcast when its row count is known and ≤ BROADCAST_CANDIDATES_MAX
    — gated on candidate ROWS, not buckets: a head query can pack
    millions of candidates into few buckets."""
    per_bucket = cands.groupBy("doc_bucket").count().limit(MAX_BUCKET_LIST + 1).collect()
    if not per_bucket:
        return None
    capped = len(per_bucket) > MAX_BUCKET_LIST
    buckets = None if capped else [int(r["doc_bucket"]) for r in per_bucket]
    docs = reader.doc_source(buckets=buckets).select("doc_id", *cols)
    side = cands.drop("doc_bucket")
    if not capped and sum(int(r["count"]) for r in per_bucket) <= BROADCAST_CANDIDATES_MAX:
        side = F.broadcast(side)
    return docs.join(side, "doc_id")


def _minus_gone(reader, docs: DataFrame) -> DataFrame:
    """Drop docs the index no longer serves from a flat staged-docs scan:
    live tombstones (logical deletes) plus the purged ledger (physical
    purge removes postings during compaction but leaves the staged doc
    files in place).  Broadcast anti-join — never an ``isin`` literal
    list (delete sets are thousands-to-millions of ids).  The gone-ids
    DataFrame is built ONCE per reader snapshot from a numpy array
    (wand.IndexReader.gone_ids_df), not re-serialized through the driver
    as Python row tuples on every dense query."""
    gone_df = reader.gone_ids_df()
    if gone_df is None:
        return docs
    return docs.join(F.broadcast(gone_df), "doc_id", "left_anti")


def _df_from_idf(n_docs: int, idf: float) -> float:
    """Invert the BM25 idf convention back to df (heuristics only)."""
    import math

    return (n_docs + 1.0) / math.exp(idf) - 0.5
