"""Exact BM25 top-k over compressed posting blocks: the one per-bucket
scoring kernel and the IndexReader query pipeline (north_star).

Exactness contract: identical top-k to the brute-force oracle, the
reference's exact-search guarantee (/root/reference/README.md:13,
index.go:26).  Total order is pinned to ``(score DESC, doc_id ASC)``
(SURVEY.md §7.5), the order the reference's bounded min-heap yields
(/root/reference/index.go:63-86).

Scoring arithmetic matches the oracle bit-for-bit: per-term float64
contributions summed in ascending term order (SURVEY.md §7.5).

Distribution model: postings are bucketed by doc range (``doc_bucket``, at
most ``doc_bucket_size`` consecutive doc_ids), so one ``applyInPandas``
group = all query-term blocks for one doc range.  Each group decodes its
blocks once and runs :func:`bucket_topk` per query — a vectorized
accumulation over the bucket's doc range with the boolean clause algebra
as masks — and emits its local top-k; the global top-k is the k best of
(k × buckets) candidate rows, exact because any global winner is a local
winner in its bucket.  Query time thus shuffles only candidate *blocks*
(pruned by term_bucket partition pruning + term predicate pushdown at the
parquet scan), never raw postings rows.  Boolean retrieval, phrase/near
candidate generation and facets run the same per-bucket plan
(:meth:`IndexReader._bucket_groups`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codec
from ..analyzer import tokenize
from ..functions.bm25 import B, K1
from ..oracle import idf as oracle_idf
from ..sources.index_store import IndexStore

_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def decode_term(blocks: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concat-decode one term's blocks within a bucket group →
    (doc_ids, tfs, dls), doc_ids sorted ascending and unique.

    Blocks ARE doc-ordered within a segment (indexer.finalize), but
    applyInPandas group rows carry no order guarantee, and a term spans
    several segments before compaction — the explicit first_doc sort is
    what makes the sorted-output invariant true."""
    first = blocks["first_doc"].to_numpy()
    cols = [blocks[c].to_numpy() for c in ("doc_ids_delta", "tfs", "dls", "n_docs")]
    ids, tfs, dls = [], [], []
    for i in np.argsort(first, kind="stable"):
        n = int(cols[3][i])
        ids.append(codec.decode_doc_ids(cols[0][i], int(first[i]), n))
        tfs.append(codec.decode_tfs(cols[1][i], n))
        dls.append(codec.decode_dls(cols[2][i], n))
    return np.concatenate(ids), np.concatenate(tfs), np.concatenate(dls)


def bucket_topk(
    by_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    must: list[str],
    should: list[str],
    must_not: list[str],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    deleted: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k of one boolean clause over one doc bucket.

    ``by_term`` maps term → (doc_ids, tfs, dls) as :func:`decode_term`
    returns them; ``deleted`` is the sorted tombstone array (or None).  A
    doc matches iff it holds every ``must`` term and no ``must_not`` term
    and is not tombstoned; with no ``must`` term it must hold at least one
    ``should`` term.  Its score is BM25 over the distinct (must ∪ should)
    terms it holds.  Plain ranked retrieval is the should-only clause.

    BM25 accumulates into a float64 array over the bucket's doc range
    (≤ doc_bucket_size wide) term by term in ASCENDING TERM ORDER — the
    oracle's summation order, so scores are bit-identical.  Every
    contribution is strictly positive (idf > 0, tf ≥ 1), so ``score > 0``
    marks the docs holding a scoring term; a must-hit count, the must_not
    postings and the tombstones mask that set down to the candidates.

    Returns (doc_ids, scores) ordered (score DESC, doc_id ASC).
    """
    scoring = sorted(set(must) | set(should))
    present = [t for t in scoring if t in by_term]
    if k <= 0 or not present or any(t not in by_term for t in must):
        return _NO_HITS
    lo = min(int(by_term[t][0][0]) for t in present)
    hi = max(int(by_term[t][0][-1]) for t in present)
    scores = np.zeros(hi - lo + 1, dtype=np.float64)
    must_set = set(must)
    hits = np.zeros(hi - lo + 1, dtype=np.int32) if must_set else None
    for term in present:  # ascending — pins the float summation order
        docs, tf_i, dl_i = by_term[term]
        tf = tf_i.astype(np.float64)
        dl = dl_i.astype(np.float64)
        idx = docs - lo
        # unique docs per term: plain fancy-index add
        scores[idx] += idf[term] * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        if term in must_set:
            hits[idx] += 1
    keep = scores > 0.0
    if must_set:
        keep &= hits == len(must_set)
    excluded = [by_term[t][0] for t in must_not if t in by_term]
    if deleted is not None:
        excluded.append(deleted)
    for ids in excluded:  # sorted arrays: slice to the bucket's range
        i, j = np.searchsorted(ids, (lo, hi + 1))
        keep[ids[i:j] - lo] = False
    cand = np.flatnonzero(keep)
    if cand.shape[0] > k:
        # kth-largest score via partial select; keep everything at/above it
        # (boundary ties included) so the exact (score DESC, doc_id ASC)
        # sort below decides the final k
        kth = -np.partition(-scores[cand], k - 1)[k - 1]
        cand = cand[scores[cand] >= kth]
    cand = cand[np.lexsort((cand, -scores[cand]))[:k]]
    return cand + lo, scores[cand]


def bucket_match(
    by_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    terms: list[str],
    mode: str,
    deleted: np.ndarray | None,
) -> np.ndarray:
    """Sorted live doc_ids of one bucket holding ALL (``mode="all"``) or
    ANY (``mode="any"``) of the distinct ``terms`` — the unscored
    candidate step of phrase, near and facet queries."""
    lists = [by_term[t][0] for t in terms if t in by_term]
    if not lists or (mode == "all" and len(lists) < len(terms)):
        return _NO_HITS[0]
    if mode == "all":
        lists.sort(key=len)  # rarest first: intersections only shrink
        acc = lists[0]
        for ids in lists[1:]:
            acc = np.intersect1d(acc, ids, assume_unique=True)
    else:
        acc = np.unique(np.concatenate(lists))
    if deleted is not None and acc.shape[0]:
        acc = acc[~np.isin(acc, deleted)]
    return acc


#: bucket count above which the final per-query top-k merge goes
#: hierarchical.  Below it, k×buckets candidate rows through one window
#: partition is cheaper than an extra exchange; above it, the single
#: partition becomes the scale-killer SCALE.md computes (head-only query
#: at 10^12 docs: 15M buckets × k=10 = 150M rows through ONE task).
MERGE_FANOUT = 64


def ranked_topk(
    local: DataFrame, k: int, n_buckets: int, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Exact hierarchical per-query top-k over per-bucket survivors.

    ``local`` holds ≤ k rows per (query_id, doc_bucket) — each doc lives
    in exactly one bucket, so rows are per-(query, doc) unique and any
    global winner is a local winner in its group at every level.  The
    distributed analogue of the reference's per-partition-heaps-then-
    merge (/root/reference/index.go:63-86), in two bounded levels:

    1. when ``n_buckets > MERGE_FANOUT``: group survivors into
       g = ⌈√n_buckets⌉ merge groups by doc_id hash and keep the
       per-(query, group) top-k — a PARTITIONED window, parallelism
       queries × g, ≤ k·(n_buckets/g) ≈ k·√B rows per window partition;
    2. final per-query rank over ≤ k·g ≈ k·√B rows.

    Worst case per task thus grows as k·√buckets instead of k·buckets —
    the 150M-row head-query case becomes ~39k rows/task.
    """
    if n_buckets > MERGE_FANOUT:
        import math

        g = math.isqrt(max(0, n_buckets - 1)) + 1
        pre = Window.partitionBy("query_id", "_mg").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        local = (
            local.withColumn(
                "_mg", F.pmod(F.xxhash64("doc_id"), F.lit(g)).cast("int")
            )
            .withColumn("_pr", F.row_number().over(pre))
            .filter(F.col("_pr") <= k)
            .drop("_mg", "_pr")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score", *extra)
    )


# ---------------------------------------------------------------------------
# Spark query pipeline over an IndexStore
# ---------------------------------------------------------------------------

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


class IndexReader:
    """Query-side handle on a persisted index (analogue of the loaded
    ``Index[T]`` in /root/reference/example/main.go:59-65, but lazy: only
    the manifest + stats are read eagerly; postings stream per query).

    SNAPSHOT AT OPEN: the postings file listing, stats, and dictionary are
    fixed at construction (Spark caches the listing in the DataFrame's
    FileIndex, so repeated queries skip the directory walk).  Segments
    ingested or compacted AFTER construction are invisible until
    :meth:`refresh` — the same contract as the reference's loaded in-memory
    index.  Streaming consumers should call ``refresh()`` when the store's
    ledger advances (``store.checkpoints()['stream_batches']`` count)."""

    def __init__(self, spark: SparkSession, store: IndexStore):
        store.check_versions()
        self.spark = spark
        self.store = store
        self.term_buckets = store.manifest()["term_buckets"]
        self.refresh()

    #: driver-side term-cache bound (≈ tens of MB at the cap; reset, not
    #: LRU-tracked — a full reset is rare and the next queries re-warm it)
    TERM_CACHE_MAX = 1_000_000

    def refresh(self) -> "IndexReader":
        """Re-open the store's CURRENT snapshot: re-reads stats, dictionary
        and the postings file listing (new stream segments / compacted
        layouts become visible) and drops the term cache (idf depends on
        the snapshot's N/df).  Cheap — three metadata reads, no data."""
        self.stats = self.store.stats()
        self._dict_df = self.spark.read.parquet(self.store.dictionary_path)
        self._posts_df = self.store.load_postings_df(self.spark)
        # tombstoned doc_ids: excluded from every result (logical delete);
        # scores keep the physical index's stats until a compaction purges
        self.deleted: frozenset = self.store.tombstones()
        # term → (idf, term_bucket), or None for known-absent terms —
        # negative entries stop OOV terms from re-running the lookup job
        self._term_cache: dict[str, tuple[float, int] | None] = {}
        # snapshot-scoped caches for the delete set's two serving forms
        # (built lazily, invalidated here because the set is snapshot state)
        self._gone_df = None
        if getattr(self, "_deleted_bc", None) is not None:
            self._deleted_bc.unpersist()
        self._deleted_bc = None
        return self

    #: ship tombstones per-task in the closure below this size (driver-
    #: sized sets serialize fine); above it use ONE broadcast per snapshot
    #: so a lazily-compacted store with millions of tombstones doesn't pay
    #: the pickle cost on every task of every query
    TOMBSTONE_BROADCAST_MIN = 100_000

    def tombstones_ref(self):
        """(small_set, broadcast) — exactly one is non-None when tombstones
        exist.  Scorer closures capture both; executors resolve via
        ``bc.value if bc is not None else small``.  Results are identical
        on either path (pinned in tests/test_deletes.py)."""
        if not self.deleted:
            return None, None
        if len(self.deleted) < self.TOMBSTONE_BROADCAST_MIN:
            return self.deleted, None
        if self._deleted_bc is None:
            self._deleted_bc = self.spark.sparkContext.broadcast(self.deleted)
        return None, self._deleted_bc

    def gone_ids_df(self) -> DataFrame | None:
        """Tombstoned ∪ purged doc_ids as a (cached per snapshot) single-
        column DataFrame for anti-joins — built from a numpy array via
        Arrow, not a per-id Python row list (delete sets are thousands to
        millions of ids; re-materializing them through the driver on every
        flat-scan query was a measured per-call cost)."""
        if self._gone_df is None:
            gone = (self.deleted or frozenset()) | self.store.purged_ids()
            if not gone:
                self._gone_df = False  # sentinel: nothing to exclude
            else:
                import numpy as np
                import pandas as pd

                arr = np.fromiter(gone, dtype=np.int64)
                arr.sort()
                self._gone_df = self.spark.createDataFrame(
                    pd.DataFrame({"doc_id": arr})
                )
        return None if self._gone_df is False else self._gone_df

    def _dictionary_rows(self, terms: list[str]) -> dict[str, tuple[float, int]]:
        """term → (idf, term_bucket).  ONE Spark job for the batch's UNSEEN
        terms only; terms repeat heavily across a serving session's
        queries — Zipf again — so steady-state batches often skip the
        lookup job entirely.

        The lookup scan is PARTITION-PRUNED: the dictionary is laid out by
        term_bucket (indexer.finalize) and the query's buckets are derived
        driver-side with the spec-tested pure-Python xxhash64 twin — at
        10^12-doc scale the dictionary is billions of terms, and this turns
        the lookup from a vocabulary scan into ≤|terms| partition reads.
        Stored-vs-derived bucket equality is asserted on every fetched row
        (a hash-spec drift fails loudly instead of silently missing terms).
        """
        from ..functions.hashing import term_bucket_py

        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            py_buckets = {t: term_bucket_py(t, self.term_buckets) for t in missing}
            rows = (
                self._dict_df.filter(
                    F.col("term_bucket").isin(sorted(set(py_buckets.values())))
                    & F.col("term").isin(missing)
                )
                .select("term", "df", "term_bucket")
                .collect()
            )
            for r in rows:
                if int(r["term_bucket"]) != py_buckets[r["term"]]:
                    raise RuntimeError(
                        f"term_bucket mismatch for {r['term']!r}: stored "
                        f"{r['term_bucket']} != derived {py_buckets[r['term']]} "
                        "— xxhash64_py no longer matches the layout hash"
                    )
            # idf derived HERE in CPython from (N, df) rather than read from
            # the stored column: JVM Math.log is only 1-ulp-accurate while
            # the oracle uses correctly-rounded libm — deriving driver-side
            # makes the scorer's idf bit-identical to the oracle's
            n = int(self.stats["n_docs"])
            found = {
                r["term"]: (oracle_idf(n, int(r["df"])), int(r["term_bucket"]))
                for r in rows
            }
            if len(self._term_cache) + len(missing) > self.TERM_CACHE_MAX:
                # keep THIS batch's already-cached entries through the reset —
                # dropping them would silently score those terms as OOV below
                self._term_cache = {
                    t: self._term_cache[t] for t in terms if t in self._term_cache
                }
            for t in missing:
                self._term_cache[t] = found.get(t)
        out = {}
        for t in terms:
            v = self._term_cache.get(t)
            if v is not None:
                out[t] = v
        return out

    def candidate_blocks(self, terms: list[str], buckets: list[int] | None = None) -> DataFrame:
        """Scan only the term_bucket partitions + terms of the query:
        partition pruning on the directory column, then predicate pushdown
        on ``term`` into the parquet row groups.  ``buckets=None`` skips the
        partition prune (term predicate still pushes down)."""
        posts = self._posts_df
        pred = F.col("term").isin(terms)
        if buckets is not None:
            pred = F.col("term_bucket").isin(sorted(set(buckets))) & pred
        return posts.filter(pred)

    def _n_buckets(self) -> int:
        """Doc-bucket count of the snapshot (ceil(n_docs / doc_bucket_size))."""
        return -(-int(self.stats["n_docs"]) // int(self.stats["doc_bucket_size"]))

    def _bucket_groups(self, dict_rows: dict, fn, schema) -> DataFrame:
        """The per-bucket plan every index operator runs over the terms of
        ``dict_rows`` (term → (idf, term_bucket)): pruned candidate-block
        scan → ONE exchange on doc_bucket → ``applyInPandas`` calling
        ``fn(by_term, doc_bucket, deleted)`` per bucket group, where
        ``by_term`` holds each term's blocks decoded ONCE for the group
        (shared terms decode once per bucket, not once per query) and
        ``deleted`` is the tombstone set as one sorted array per group.

        Explicit partition count: the per-group cost is Python work, not
        bytes — AQE's byte-based coalescing would serialize it onto one
        task at small scale, while over-partitioning pays a Python worker
        round trip per EMPTY task.  Group count = doc buckets (known from
        stats).  The hash layout matches the grouping key, so the groupBy
        adds no second exchange."""
        blocks = self.candidate_blocks(
            sorted(dict_rows), [b for _, b in dict_rows.values()]
        )
        # small delete sets ride the closure; large ones go through ONE
        # broadcast per snapshot (TOMBSTONE_BROADCAST_MIN) — identical
        # results either way, pinned in tests/test_deletes.py
        deleted_small, deleted_bc = self.tombstones_ref()

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            gone = deleted_bc.value if deleted_bc is not None else deleted_small
            deleted = np.sort(np.fromiter(gone, np.int64, len(gone))) if gone else None
            by_term = {t: decode_term(g) for t, g in pdf.groupby("term")}
            return fn(by_term, int(pdf["doc_bucket"].iloc[0]), deleted)

        n_part = max(1, min(self.spark.sparkContext.defaultParallelism, self._n_buckets()))
        return (
            blocks.repartition(n_part, "doc_bucket")
            .groupBy("doc_bucket")
            .applyInPandas(run, schema=schema)
        )

    def _bucket_topk(
        self, specs: dict, dict_rows: dict, idf: dict[str, float], k: int
    ) -> DataFrame:
        """Batched scored retrieval: ``specs`` = {query_id: (must, should,
        must_not)} over live terms, ``idf`` = term → (possibly boosted) idf
        for every term the specs use.  Per bucket group :func:`bucket_topk`
        runs once per query; the final merge is the hierarchical exact
        top-k (:func:`ranked_topk`).  Returns (query_id, rank, doc_id,
        score)."""
        avgdl = float(self.stats["avgdl"])

        def score(by_term, _bucket, deleted) -> pd.DataFrame:
            outs = []
            for qid, (must, should, must_not) in specs.items():
                ids, scores = bucket_topk(
                    by_term, must, should, must_not, idf, avgdl, k, deleted
                )
                if ids.shape[0]:
                    outs.append(
                        pd.DataFrame({"query_id": qid, "doc_id": ids, "score": scores})
                    )
            if not outs:
                return pd.DataFrame(columns=["query_id", "doc_id", "score"])
            return pd.concat(outs, ignore_index=True)

        local = self._bucket_groups(
            {t: dict_rows[t] for t in idf}, score, RESULT_SCHEMA
        )
        return ranked_topk(local, k, self._n_buckets())

    def batch_search(
        self,
        queries: list[tuple[str, str]],
        k: int = 10,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """Batch top-k: queries = [(query_id, query_text)].

        ``boosts`` (term → positive weight) scales each term's
        contribution: BM25 is linear in idf per term, so boosting is an
        idf scale, applied before scoring.

        Plan: the should-only case of :meth:`_bucket_topk` — candidate
        blocks (pruned scan) → applyInPandas per ``doc_bucket`` group
        scoring ALL queries of the batch against the bucket (shared-term
        blocks cross the wire and decode ONCE per bucket, not once per
        query — head terms like "the" typically appear in many queries of
        a batch) → global per-query top-k over k×buckets candidate rows.
        Returns (query_id, rank, doc_id, score).
        """
        if k <= 0:
            return self.spark.createDataFrame(
                [], "query_id string, rank int, doc_id bigint, score double"
            )
        qterms_all = {qid: sorted(set(tokenize(text))) for qid, text in queries}
        all_terms = sorted({t for ts in qterms_all.values() for t in ts})
        dict_rows = self._dictionary_rows(all_terms)
        qterms = {
            qid: [t for t in ts if t in dict_rows]
            for qid, ts in qterms_all.items()
            if any(t in dict_rows for t in ts)
        }
        if not qterms:
            return self.spark.createDataFrame(
                [], "query_id string, rank int, doc_id bigint, score double"
            )

        idf = {t: v for t, (v, _) in dict_rows.items()}
        if boosts:
            if any(w <= 0 for w in boosts.values()):
                raise ValueError(f"boosts must be positive: {boosts}")
            idf = {t: v * float(boosts.get(t, 1.0)) for t, v in idf.items()}
        specs = {qid: ((), terms, ()) for qid, terms in qterms.items()}
        return self._bucket_topk(specs, dict_rows, idf, k)

    def search(self, query_text: str, k: int = 10) -> DataFrame:
        """Single query → (rank, doc_id, score)."""
        return self.batch_search([("q", query_text)], k).drop("query_id")

    def search_page(
        self, query_text: str, offset: int = 0, size: int = 10
    ) -> DataFrame:
        """Deep pagination: results ranked offset+1 .. offset+size.

        Exact-top-k semantics carry over: the engine retrieves the top
        (offset+size) and slices — the only exact way to paginate a
        rank-sensitive score (ranks stay globally consistent across
        pages of the same snapshot).  Cost grows with the page depth,
        which is the honest cost model of deep paging on any engine."""
        if offset < 0 or size <= 0:
            return self.spark.createDataFrame(
                [], "rank int, doc_id bigint, score double"
            )
        return (
            self.batch_search([("q", query_text)], offset + size)
            .drop("query_id")
            .filter(F.col("rank") > offset)
            .select("rank", "doc_id", "score")
        )

    def doc_source(self, buckets: list[int] | None = None) -> DataFrame:
        """The store's staged document table (batch docs ∪ stream docs).

        Doc sources mirror the index's own discovery (streaming/ingest.py
        finalize): batch docs PLUS stream_docs/batch=* — a stream-only
        store has no batch docs dir at all, and a hybrid store's streamed
        doc_ids would otherwise rehydrate to NULLs.

        ``buckets`` prunes the batch side to the unit partitions that can
        contain those doc_buckets (unit = pmod(doc_bucket, n_units) — the
        staged layout, indexer.stage_docs) plus a doc_bucket predicate for
        row-group skipping; stream segments are small and read unpruned.
        """
        import os

        cols = ["doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
        sources = []
        if os.path.exists(self.store.docs_path()):
            batch = self.spark.read.parquet(self.store.docs_path())
            if buckets is not None:
                n_units = int(self.store.checkpoints().get("n_units", 1))
                units = sorted({b % n_units for b in buckets})
                batch = batch.filter(
                    F.col("unit").isin(units)
                    & F.col("doc_bucket").isin(sorted(set(buckets)))
                )
            sources.append(batch.select(*cols))
        sdocs_root = os.path.join(self.store.root, "stream_docs")
        if os.path.exists(sdocs_root):
            # only INDEX-ACKNOWLEDGED batches: stream docs land on disk
            # BEFORE their postings commit, so a flat scan during a live or
            # crashed micro-batch would surface docs the index never served
            # — diverging from the candidate path on the same store state.
            # The crash-window rule lives in ONE place (the store helper)
            # shared with finalize_stream's full recompute.
            acked = self.store.acked_stream_batches()
            if acked:
                stream = (
                    self.spark.read.option("basePath", sdocs_root)
                    .parquet(sdocs_root)
                    .filter(F.col("batch").isin(acked))
                )
                if buckets is not None and "doc_bucket" in stream.columns:
                    stream = stream.filter(
                        F.col("doc_bucket").isin(sorted(set(buckets)))
                    )
                sources.append(stream.select(*cols))
        if not sources:
            raise FileNotFoundError(
                f"no docs staged under {self.store.root} (neither batch docs "
                "nor stream_docs) — build or ingest before rehydrating"
            )
        docs = sources[0]
        for d in sources[1:]:
            docs = docs.unionByName(d)
        return docs

    def rehydrate(self, results: DataFrame) -> DataFrame:
        """Join results back to the staged docs table — the reference keeps
        the payload inline in each entry (/root/reference/index.go:16-17);
        we store it relationally and join on demand."""
        return results.join(self.doc_source(), "doc_id", "left")
