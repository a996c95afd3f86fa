"""Boolean retrieval (MUST / SHOULD / MUST_NOT) and faceting over the
persisted inverted index.

The reference engine scores every query as a disjunctive vector match
(/root/reference/index.go:52-86); a fulltext engine also needs filtered
retrieval — "all of these, none of those, rank by relevance".  Boolean
queries run the same plan and the same kernel as ranked retrieval
(:meth:`wand.IndexReader._bucket_topk`): one partition-pruned,
term-pushed posting scan covering every clause's terms, ONE exchange
sized to the true doc-bucket count, then per bucket
:func:`wand.bucket_topk`, which does the candidate algebra as masks over
the bucket's doc range while it accumulates BM25:

- **MUST** — a doc must hold every must term (must-hit count).
- **MUST_NOT** — the excluded terms' postings in the same bucket clear
  their docs.  No corpus scan: an exclusion only needs the excluded
  terms' postings.
- **SHOULD** — when no MUST clause exists the candidates are the docs
  holding any should term; otherwise should terms only add score.
- **Scoring** — BM25 summed over the distinct (must ∪ should) terms a
  candidate contains, in ascending term order (bit-identical to the
  DuckDB oracle).

OOV semantics mirror the reference's guard style (index.go:54-56): an
OOV must term → 0 rows (nothing can match); OOV should / must_not terms
drop out of their clause.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer import tokenize
from .phrase import candidate_docs
from .wand import bucket_match


def matching_doc_ids(reader, terms: list[str], mode: str = "all") -> DataFrame | None:
    """Docs matching ``terms`` under ``mode``: ``all`` = conjunction
    (intersection of posting lists), ``any`` = disjunction (union).

    Returns (doc_bucket, doc_id); None when no doc can match (``all``
    with an OOV term, or ``any`` with every term OOV).  Plan: the
    per-bucket plan (pruned scan → one exchange) with numpy set algebra
    per bucket (:func:`wand.bucket_match`).
    """
    uniq = sorted(set(terms))
    dict_rows = reader._dictionary_rows(uniq)
    if not dict_rows or (mode == "all" and len(dict_rows) < len(uniq)):
        return None
    live = sorted(dict_rows)

    def combine(by_term, bucket: int, deleted) -> pd.DataFrame:
        acc = bucket_match(by_term, live, mode, deleted)
        return pd.DataFrame(
            {"doc_bucket": np.full(acc.shape[0], bucket, dtype=np.int32), "doc_id": acc}
        )

    return reader._bucket_groups(dict_rows, combine, "doc_bucket int, doc_id long")


def boolean_batch(
    reader,
    clauses: list[tuple[str, str, str, str]],
    k: int = 10,
) -> DataFrame:
    """Batched filtered retrieval: ``clauses`` =
    [(query_id, must, should, must_not)] → (query_id, rank, doc_id, score).

    Serving is batched (BENCH.md): the batch shares ONE partition-pruned,
    term-pushed posting scan over the union of every clause's terms and
    ONE exchange sized to the true bucket count; per bucket each term
    decodes ONCE for the whole batch (head terms typically appear in many
    clauses), then the kernel loops queries — the plan of
    wand.IndexReader.batch_search, which is the should-only case.
    Per-query semantics are unchanged from boolean_search: an OOV must
    term, or no live (must ∪ should) term, yields 0 rows for that query
    only.  The final merge is the hierarchical exact top-k
    (wand.ranked_topk).
    """
    spark = reader.spark
    empty = "query_id string, rank int, doc_id bigint, score double"
    if k <= 0 or not clauses:
        return spark.createDataFrame([], empty)
    parsed: dict[str, tuple[list[str], list[str], list[str]]] = {}
    for qid, must, should, must_not in clauses:
        must_t = sorted(set(tokenize(must)))
        should_t = sorted(set(tokenize(should)))
        mnot_t = sorted(set(tokenize(must_not)) - set(must_t))
        if must_t or should_t:
            parsed[qid] = (must_t, should_t, mnot_t)
    if not parsed:
        return spark.createDataFrame([], empty)

    all_terms = sorted({t for c in parsed.values() for part in c for t in part})
    dict_rows = reader._dictionary_rows(all_terms)
    specs: dict[str, tuple[list[str], list[str], list[str]]] = {}
    needed: set[str] = set()
    for qid, (must_t, should_t, mnot_t) in parsed.items():
        if any(t not in dict_rows for t in must_t):
            continue  # OOV must term → this query matches nothing
        should_live = [t for t in should_t if t in dict_rows]
        mnot_live = [t for t in mnot_t if t in dict_rows]
        if not must_t and not should_live:
            continue
        specs[qid] = (must_t, should_live, mnot_live)
        needed.update(must_t, should_live, mnot_live)
    if not specs:
        return spark.createDataFrame([], empty)
    idf = {t: dict_rows[t][0] for t in sorted(needed)}
    return reader._bucket_topk(specs, dict_rows, idf, k)


def boolean_search(
    reader,
    must: str = "",
    should: str = "",
    must_not: str = "",
    k: int = 10,
) -> DataFrame:
    """Filtered BM25 top-k: (doc_id, score) under (score DESC, doc_id ASC).

    A doc matches iff it contains ALL must terms and NO must_not term;
    with an empty must clause it matches iff it contains ≥1 should term.
    Score = BM25 over the distinct (must ∪ should) terms present.
    Single-clause form of :func:`boolean_batch` (same plan, one query).
    """
    return (
        boolean_batch(reader, [("q", must, should, must_not)], k)
        .orderBy("rank")
        .select("doc_id", "score")
    )


def facet_counts(
    reader,
    query_text: str,
    facet: str = "role",
    k: int = 10,
    mode: str = "any",
) -> DataFrame:
    """Facet the query's match set: (facet_value, n_docs) top-k by
    (n_docs DESC, facet_value ASC).

    Plan: index-driven match set (matching_doc_ids — never a corpus text
    scan) → broadcast-joined against the doc source pruned to the
    candidate units (phrase.candidate_docs, the phrase verify's join) →
    hash-aggregate on the facet column.  One pruned postings scan + one
    pruned docs scan + one tiny aggregate.
    """
    spark = reader.spark
    terms = tokenize(query_text)
    empty = "facet_value string, n_docs bigint"
    if not terms:
        return spark.createDataFrame([], empty)
    ids = matching_doc_ids(reader, terms, mode=mode)
    if ids is None:
        return spark.createDataFrame([], empty)
    ids = ids.cache()
    try:
        matched = candidate_docs(reader, ids, [facet])
        if matched is None:
            return spark.createDataFrame([], empty)
        out = (
            matched.groupBy(F.col(facet).cast("string").alias("facet_value"))
            .agg(F.count("*").cast("bigint").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc_nulls_last("facet_value"))
            .limit(k)
        )
        rows = out.collect()
        return (
            spark.createDataFrame(rows, schema=out.schema)
            if rows
            else spark.createDataFrame([], empty)
        )
    finally:
        ids.unpersist()
