"""Document deletion: logical tombstones + physical purge at compaction.

Covers: oracle identity for both semantics, scorer-pair parity under
deletes, exclusion across every operator family, tombstone lifecycle
(late deletes survive a purge), and no-op edges."""

from __future__ import annotations

import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from search_spark.corpus import transcripts_from_documents
from search_spark.operators.boolean import boolean_search, facet_counts
from search_spark.operators.compact import compact_index
from search_spark.operators.indexer import build_index
from search_spark.operators.phrase import phrase_search
from search_spark.operators.prefix import prefix_search
from search_spark.operators.wand import IndexReader
from search_spark.oracle_sql import (
    bm25_topk_excluding_sql,
    bm25_topk_sql,
    docs_sql_excluding,
    phrase_topk_sql,
)
from search_spark.sources.index_store import IndexStore

SF = "/root/testdata/sf0.001"
PRED = "doc_id % 7 = 3"
Q = "the fast order"


def _ids(df):
    return [(r["doc_id"], round(r["score"] * 1e6)) for r in df.collect()]


@pytest.fixture()
def store(spark, tmp_path):
    st = IndexStore(str(tmp_path / "idx"), doc_bucket_size=128, term_buckets=8)
    build_index(spark, transcripts_from_documents(spark, SF), st, n_units=2)
    return st


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    return con


def _deleted(spark):
    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    return [d for d in range(n) if d % 7 == 3]


def test_tombstone_then_purge_matches_oracles(spark, store, ddb):
    reader = IndexReader(spark, store)
    dele = _deleted(spark)
    base = _ids(reader.batch_search([("q", Q)], 10).drop("query_id"))

    store.delete_docs(dele)
    reader.refresh()
    tomb = _ids(reader.batch_search([("q", Q)], 10).drop("query_id"))
    want = [(r[0], r[2]) for r in ddb.execute(bm25_topk_excluding_sql(Q, 10, PRED)).fetchall()]
    assert tomb == want and tomb != base
    assert not ({d for d, _ in tomb} & set(dele))

    compact_index(spark, store)
    assert store.tombstones() == frozenset()  # consumed by the purge
    reader.refresh()
    purged = _ids(reader.batch_search([("q", Q)], 10).drop("query_id"))
    want2 = [
        (r[0], r[2])
        for r in ddb.execute(
            bm25_topk_sql(Q, 10, docs_sql=docs_sql_excluding(PRED))
        ).fetchall()
    ]
    assert purged == want2
    # purged stats reflect the reduced corpus
    n_live = ddb.execute(
        f"SELECT count(*) FROM documents WHERE NOT ({PRED})"
    ).fetchone()[0]
    assert reader.stats["n_docs"] == n_live


def test_deletes_hold_across_operator_families(spark, store, ddb):
    dele = set(_deleted(spark))
    store.delete_docs(sorted(dele))
    reader = IndexReader(spark, store)
    assert not ({r["doc_id"] for r in phrase_search(reader, "order fast", 1000).collect()} & dele)
    assert not ({r["doc_id"] for r in boolean_search(reader, "order", "fast", "", 1000).collect()} & dele)
    assert not ({r["doc_id"] for r in prefix_search(reader, "or", 1000).collect()} & dele)
    # phrase over the tombstoned store == oracle over the reduced docs with
    # full-corpus scoring... pseudo-term df is live-count by construction,
    # and N/avgdl are physical — mirror by excluding docs from the oracle's
    # doc set while keeping its stats CTEs corpus-wide is not expressible
    # in one template, so pin the exclusion property plus the purged form:
    compact_index(spark, store)
    reader.refresh()
    got = [
        (r["doc_id"], round(r["score"] * 1e6), r["ptf"])
        for r in phrase_search(reader, "order fast", 10).collect()
    ]
    want = [
        (r[0], r[2], r[3])
        for r in ddb.execute(
            phrase_topk_sql("order fast", 10, docs_sql=docs_sql_excluding(PRED))
        ).fetchall()
    ]
    assert got == want


def test_facets_exclude_deleted(spark, store):
    dele = _deleted(spark)
    reader = IndexReader(spark, store)
    before = {r["facet_value"]: r["n_docs"] for r in facet_counts(reader, "order", facet="role").collect()}
    store.delete_docs(dele)
    reader.refresh()
    after = {r["facet_value"]: r["n_docs"] for r in facet_counts(reader, "order", facet="role").collect()}
    assert sum(after.values()) < sum(before.values())


def test_tombstone_lifecycle(spark, store):
    # deleting nothing is a no-op snapshot-wise
    before = store.manifest()["current_snapshot"]
    store.delete_docs([])
    assert store.manifest()["current_snapshot"] == before
    # non-existent ids are harmless
    store.delete_docs([10_000_000])
    reader = IndexReader(spark, store)
    assert reader.batch_search([("q", Q)], 5).count() == 5
    # a tombstone landing AFTER the purge's file snapshot must survive:
    # simulate by writing one tombstone, purging, then checking a second
    store.delete_docs([0, 1])
    compact_index(spark, store)
    assert store.tombstones() == frozenset()
    store.delete_docs([2])
    assert store.tombstones() == frozenset({2})


def test_purge_on_streamed_store_survives_marker_reconcile(spark, tmp_path):
    """A purge on a stream-built store must update the fold marker inside
    the installed dictionary — otherwise _reconcile_fold_marker would
    'repair' stats back to the pre-purge n_docs."""
    from search_spark.corpus import generate_pandas
    from search_spark.streaming.ingest import (
        _reconcile_fold_marker,
        finalize_stream,
        start_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    pdf = generate_pandas(40)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / "p1"))
    store = IndexStore(str(tmp_path / "idx"), doc_bucket_size=512, term_buckets=4)
    q = start_ingest(
        spark, f"{src}/p*", store, checkpoint_dir=str(tmp_path / "cp"), available_now=True
    )
    q.awaitTermination(300)
    finalize_stream(spark, store)

    n0 = store.stats()["n_docs"]
    # stream batches live in a per-batch doc_id namespace (base 2^40), so
    # deletes must target REAL ids, not 0..n-1
    reader0 = IndexReader(spark, store)
    all_ids = sorted(
        r["doc_id"] for r in reader0.doc_source().select("doc_id").collect()
    )
    dele = all_ids[::5]
    store.delete_docs(dele)
    compact_index(spark, store)
    n1 = store.stats()["n_docs"]
    assert n1 == n0 - len(dele)
    # the reconciler must be a no-op now, not a resurrection
    _reconcile_fold_marker(store)
    assert store.stats()["n_docs"] == n1
    # and the purged store still answers rank-identically to a reader view
    reader = IndexReader(spark, store)
    res = reader.batch_search([("q", "the fast")], 5).drop("query_id").collect()
    assert all(r["doc_id"] not in set(dele) for r in res)


def test_purge_stats_idempotent_on_redelivered_tombstones(spark, store, ddb):
    """ADVICE r3 (medium): a crash after write_stats but before the
    consumed tombstone files are removed re-delivers the same ids to the
    next compaction, and delete_docs re-called with already-purged ids
    adds them back — in both cases the stats decrement must NOT apply a
    second time (the purged/ ledger is the idempotency record)."""
    import json
    import os

    dele = _deleted(spark)
    store.delete_docs(dele)
    compact_index(spark, store)
    s1 = store.stats()

    # crash window: resurrect the consumed tombstone file verbatim
    os.makedirs(store.tombstones_path(), exist_ok=True)
    with open(os.path.join(store.tombstones_path(), "delete-999.json"), "w") as f:
        json.dump({"doc_ids": dele}, f)
    compact_index(spark, store)
    s2 = store.stats()
    assert (s2["n_docs"], s2["total_tokens"]) == (s1["n_docs"], s1["total_tokens"])

    # repeat delete_docs with a subset of already-purged ids: still no-op
    store.delete_docs(dele[:10])
    compact_index(spark, store)
    s3 = store.stats()
    assert (s3["n_docs"], s3["total_tokens"]) == (s1["n_docs"], s1["total_tokens"])

    # and the store still answers rank-identically to the reduced oracle
    reader = IndexReader(spark, store)
    got = _ids(reader.batch_search([("q", Q)], 10).drop("query_id").orderBy("rank"))
    want = [
        (r[0], r[2])
        for r in ddb.execute(
            bm25_topk_sql(Q, 10, docs_sql=docs_sql_excluding(PRED))
        ).fetchall()
    ]
    assert got == want


def test_reconcile_purged_stats_repairs_crash_window(spark, store):
    """Crash between record_purged and write_stats: the ledger entry is
    newer than the stats file — reconcile_purged_stats re-applies the
    recorded stats, and is a no-op once they match."""
    dele = _deleted(spark)
    store.delete_docs(dele)
    compact_index(spark, store)
    good = store.stats()
    assert good.get("purge_seq")  # the purge stamped its snapshot id

    stale = dict(good)
    stale["n_docs"] = good["n_docs"] + len(dele)  # pre-purge value
    stale.pop("purge_seq", None)
    store.write_stats(stale)
    assert store.reconcile_purged_stats() is True
    assert store.stats() == good
    assert store.reconcile_purged_stats() is False  # already applied


def test_tombstone_broadcast_path_identical(spark, store):
    """Past TOMBSTONE_BROADCAST_MIN the delete set ships as ONE broadcast
    per snapshot instead of per-task closures; results must be identical
    on both paths, across the wand, boolean, phrase and batch engines."""
    from search_spark.operators.boolean import boolean_batch
    from search_spark.operators.phrase import near_batch, phrase_batch
    from search_spark.operators.wand import IndexReader

    store.delete_docs(_deleted(spark))
    reader = IndexReader(spark, store)

    def snapshot():
        out = {
            "wand": _ids(reader.batch_search([("q", Q)], 10).drop("query_id")),
            "bool": _ids(
                boolean_search(reader, must="the order", k=10).select(
                    "doc_id", "score"
                )
            ),
            "phrase": _ids(phrase_search(reader, "the fast", 10).select("doc_id", "score")),
        }
        out["pbatch"] = sorted(
            (r["query_id"], r["doc_id"], round(r["score"] * 1e6))
            for r in phrase_batch(reader, [("a", "the fast"), ("b", "fast order")], 5).collect()
        )
        out["nbatch"] = sorted(
            (r["query_id"], r["doc_id"], round(r["score"] * 1e6))
            for r in near_batch(reader, [("a", "fast order", 2)], 5).collect()
        )
        return out

    small, bc = reader.tombstones_ref()
    assert small is not None and bc is None  # closure path by default
    closure_results = snapshot()

    orig = IndexReader.TOMBSTONE_BROADCAST_MIN
    try:
        IndexReader.TOMBSTONE_BROADCAST_MIN = 1
        reader.refresh()  # drop the cached ref so the threshold re-applies
        small, bc = reader.tombstones_ref()
        assert small is None and bc is not None  # broadcast path active
        assert snapshot() == closure_results
    finally:
        IndexReader.TOMBSTONE_BROADCAST_MIN = orig
        reader.refresh()
