"""Embedding similarity search over ``embeddings(vec_id, embedding, label)``.

Analogue of the reference's core loop — brute-force exact cosine top-k with
a bounded heap (/root/reference/index.go:53-86, SIMD dot product at
internal/cosine/simd/simd.go:33-44) — re-expressed for Spark:

- ``cosine_col``: dot/norm as a *sequential left fold in double*
  (``F.aggregate`` over ``F.zip_with``).  Fold order and precision are
  pinned so the DuckDB oracle (same fold via list_reduce) reproduces the
  score bit-for-bit — the cross-engine analogue of the reference's
  kernel-vs-scalar equivalence tests (simd_test.go:52-74).
- ``ann_brute_topk``: exact top-k per query.  The query side is a tiny
  broadcast; the corpus side is a full scan (the reference's contract);
  per-query ranking is a window top-k = Spark's bounded-heap
  TakeOrderedAndProject shape.
- ``cosine_top_pairs``: top-N most-similar pairs (near-dup analysis form).
- ``ann_lsh_topk``: the 100 TB path — sign-random-projection LSH buckets
  (deterministic ±1 hyperplanes derived from the pinned hash spec) so each
  query scans one bucket instead of the full corpus.  Exactness is traded
  for recall; tests pin observed recall vs the brute-force baseline.

At 100 TB the brute-force path stays the *verification* tool (sampled),
and the bucketed path is the serving plan: buckets are written
partitioned-by-bucket so a query prunes to one partition (predicate
pushdown on the bucket key), exactly like the term-bucketed postings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h32_py
from .dedup import MAX_BAND_SIZE, band_guard

LSH_PLANES = 4   # bucket key bits per hash table
LSH_TABLES = 4   # independent hash tables (multi-table LSH: union of candidates)


def dot_col(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double (order-pinned)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cos = dot / (na * nb), norms precomputed per vector once."""
    return dot_col(a, b) / (na * nb)


def with_norm(emb: DataFrame) -> DataFrame:
    return emb.withColumn("nrm", norm_col(F.col("embedding")))


def rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact-cosine rerank + per-query top-k over an ANN candidate frame
    (query_id, vec_id, embedding, nrm, q_emb, q_nrm) → (query_id, vec_id,
    rank, cos_micro), (cos_micro DESC, vec_id ASC).

    The cosine runs as an Arrow/numpy kernel in ``mapInPandas`` using the
    SEQUENTIAL-FOLD pair kernel (functions/npfold.fold_dot_pairs) — bit-
    identical to the JVM ``cosine_col`` fold and the DuckDB oracle's
    list_reduce (property-pinned), but vectorized: the higher-order-
    function fold is interpreted per lambda call, the measured ~10×
    anti-pattern on candidate sets beyond a few thousand rows.  Rounding
    to micro stays JVM-side (F.round half-up, the oracle convention)."""
    import numpy as np
    import pandas as pd

    from ..functions.npfold import fold_dot_pairs

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q_emb"].to_numpy()).astype(np.float64)
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cos = fold_dot_pairs(Q, E) / (
                pdf["q_nrm"].to_numpy() * pdf["nrm"].to_numpy()
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cos": cos,
                }
            )

    scored = cand.mapInPandas(
        kern, "query_id bigint, vec_id bigint, cos double"
    ).select(
        "query_id",
        "vec_id",
        F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_micro"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos_micro")
    )


def exclude_ids(df: DataFrame, col: str, deleted) -> DataFrame:
    """Drop rows whose ``col`` is tombstoned — the ANN/similarity
    analogue of the lexical scorers' tombstone mask (wand.bucket_topk).
    Broadcast anti-join from a numpy array, never an
    ``isin`` literal (delete sets are thousands-to-millions of ids);
    no-op when the set is empty."""
    if not deleted:
        return df
    import numpy as np
    import pandas as pd

    arr = np.fromiter((int(d) for d in deleted), dtype=np.int64)
    arr.sort()
    gone = df.sparkSession.createDataFrame(pd.DataFrame({col: arr}))
    return df.join(F.broadcast(gone), col, "left_anti")


def ann_brute_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, deleted=None
) -> DataFrame:
    """Exact cosine top-k for each query vector (queries live in the corpus).

    Output (query_id, vec_id, rank, cos_micro); total order per query =
    (cos_micro DESC, vec_id ASC) over micro-rounded scores so ranks are
    engine-independent (same convention as the BM25 top-k).
    ``deleted`` (tombstoned vec_ids, e.g. ``reader.deleted``) never enter
    the ranking — queries in the set also return nothing (a deleted doc
    is not servable as either side)."""
    e = exclude_ids(with_norm(emb), "vec_id", deleted).select(
        "vec_id", "embedding", "nrm"
    )
    q = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(
            cosine_col(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")) * 1e6
        )
        .cast("bigint")
        .alias("cos_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_micro"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos_micro")
    )


def cosine_top_pairs(emb: DataFrame, n: int = 50, deleted=None) -> DataFrame:
    """Top-N most-similar distinct pairs (a_id < b_id) by exact cosine.

    O(N²) by design — the brute-force *verification* form (the same
    exactness role as the reference's full scan, /root/reference/
    index.go:63-81).  The serving path is :func:`cosine_top_pairs_lsh`
    (banded candidates, no cartesian); this form cross-checks it on
    samples and small fixtures.  ``deleted`` vec_ids are excluded from
    both sides."""
    e = exclude_ids(with_norm(emb), "vec_id", deleted).select(
        "vec_id", "embedding", "nrm"
    )
    a = e.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"), F.col("nrm").alias("a_nrm")
    )
    b = e.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"), F.col("nrm").alias("b_nrm")
    )
    pairs = a.join(b, F.col("a_id") < F.col("b_id")).select(
        "a_id",
        "b_id",
        F.round(
            cosine_col(F.col("a_emb"), F.col("b_emb"), F.col("a_nrm"), F.col("b_nrm")) * 1e6
        )
        .cast("bigint")
        .alias("cos_micro"),
    )
    return pairs.orderBy(F.desc("cos_micro"), F.asc("a_id"), F.asc("b_id")).limit(n)


# -- LSH path ---------------------------------------------------------------

def _plane_signs(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic ±1 hyperplane from the pinned hash spec."""
    return [
        1.0 if h32_py(f"lshplane/{table}/{plane}/{i}") & 1 else -1.0 for i in range(dim)
    ]


# MAX_BAND_SIZE / band_guard are the ENGINE-WIDE banded-self-join guard,
# defined once in operators/dedup.py and shared here (same failure mode:
# a degenerate corpus forming one unbounded quadratic join group).


def lsh_bucket_col(emb: Column, dim: int, table: int, planes: int = LSH_PLANES) -> Column:
    """Bucket id in [0, 2^planes) for one hash table:
    bit p = sign(emb · plane_{table,p})."""
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        signs = F.array(*[F.lit(s) for s in _plane_signs(dim, table, p)])
        proj = dot_col(emb, signs)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_candidate_pairs(
    emb: DataFrame,
    dim: int,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    max_band_size: int = MAX_BAND_SIZE,
    cache_handle: list | None = None,
) -> DataFrame:
    """Banded candidate pairs: (a_id, b_id), a_id < b_id, sharing at least
    one (table, bucket) — the embedding analogue of dedup.lsh_candidates.

    Shuffle key = (table_id, bucket): join work per group is ≤
    ``max_band_size``² by the band guard, so no key can degenerate into an
    unbounded quadratic group (the failure mode of the all-pairs join).
    """
    b = lsh_bucketed(emb, dim, tables, planes).select("vec_id", "table_id", "bucket")
    kept = band_guard(b, ["table_id", "bucket"], max_band_size)
    if cache_handle is not None:
        # the guarded bucket table feeds BOTH self-join sides; without the
        # persist each side re-runs the 8-table hyperplane bucketing AND
        # the guard window (cache_handle contract — caller unpersists)
        kept = kept.persist()
        cache_handle.append(kept)
    a = kept.select(F.col("vec_id").alias("a_id"), "table_id", "bucket")
    c = kept.select(F.col("vec_id").alias("b_id"), "table_id", "bucket")
    return (
        a.join(c, ["table_id", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def _exact_cosine_of_pairs(cand: DataFrame, emb: DataFrame) -> DataFrame:
    """(a_id, b_id) → (a_id, b_id, cos_micro): exact verification join —
    candidates shuffle on a_id then b_id (uniform id keys, bounded work)."""
    e = with_norm(emb).select("vec_id", "embedding", "nrm")
    a = e.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"), F.col("nrm").alias("a_nrm")
    )
    b = e.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"), F.col("nrm").alias("b_nrm")
    )
    return cand.join(a, "a_id").join(b, "b_id").select(
        "a_id",
        "b_id",
        F.round(
            cosine_col(F.col("a_emb"), F.col("b_emb"), F.col("a_nrm"), F.col("b_nrm")) * 1e6
        )
        .cast("bigint")
        .alias("cos_micro"),
    )


def cosine_top_pairs_lsh(
    emb: DataFrame,
    n: int = 50,
    dim: int = 64,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    max_band_size: int = MAX_BAND_SIZE,
    cache_handle: list | None = None,
    deleted=None,
) -> DataFrame:
    """Top-N most-similar pairs AMONG banded LSH candidates — the serving
    form of :func:`cosine_top_pairs` with no cartesian product anywhere in
    the plan: candidates come from the (table_id, bucket) equi-join, then
    exact cosine verifies only those.

    Same output schema/order as the brute form; the candidate set (hence
    possible misses of never-colliding pairs) is part of the operator's
    defined semantics — the DuckDB oracle mirrors the banding exactly, and
    coverage vs the brute form is pinned in tests.
    """
    emb = exclude_ids(emb, "vec_id", deleted)
    cand = lsh_candidate_pairs(
        emb, dim, tables, planes, max_band_size, cache_handle=cache_handle
    )
    pairs = _exact_cosine_of_pairs(cand, emb)
    return pairs.orderBy(F.desc("cos_micro"), F.asc("a_id"), F.asc("b_id")).limit(n)


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    max_band_size: int = MAX_BAND_SIZE,
    cache_handle: list | None = None,
    deleted=None,
) -> DataFrame:
    """Embedding-cosine NEAR-DUP pairs (the dedup-family form): every
    banded candidate pair with cosine ≥ threshold, output
    (a_id, b_id, cos_micro).

    Same LSH-candidates → exact-verify shape as MinHash dedup: threshold
    semantics instead of top-N, so a pipeline can drop/cluster near-dup
    embeddings the same way it drops near-dup text.  Recall depends on the
    banding (higher thresholds → higher collision probability → higher
    recall); the DuckDB oracle mirrors the banding, and sign-LSH theory
    gives per-pair collision ≥ 1-(1-(1-acos(τ)/π)^planes)^tables at τ."""
    emb = exclude_ids(emb, "vec_id", deleted)
    cand = lsh_candidate_pairs(
        emb, dim, tables, planes, max_band_size, cache_handle=cache_handle
    )
    pairs = _exact_cosine_of_pairs(cand, emb)
    return pairs.filter(F.col("cos_micro") >= int(round(threshold * 1e6)))


def lsh_bucketed(
    emb: DataFrame, dim: int, tables: int = LSH_TABLES, planes: int = LSH_PLANES
) -> DataFrame:
    """(vec_id, embedding, nrm, table_id, bucket) — one row per hash table.

    At scale this is the *persisted* form: written partitioned by
    (table_id, bucket) so a query's candidate fetch prunes to L partitions
    (predicate pushdown on the partition keys), the same pruning story as
    the term-bucketed postings."""
    e = with_norm(emb)
    parts = [
        e.select(
            "vec_id",
            "embedding",
            "nrm",
            F.lit(t).alias("table_id"),
            lsh_bucket_col(F.col("embedding"), dim, t, planes).alias("bucket"),
        )
        for t in range(tables)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ann_lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    tables: int = LSH_TABLES,
    deleted=None,
) -> DataFrame:
    """Approximate top-k: candidates = union over L hash tables of the
    query's bucket mates (multi-table sign-LSH), then exact cosine + rank.

    EPHEMERAL variant (recomputes buckets per call) — kept as the
    cross-check for the persisted, partition-pruned, multi-probe serving
    path in operators/ann_index.py (build_lsh_index / LshIndex), which is
    what the driver entry and any real deployment should use.

    Output schema matches ann_brute_topk; recall vs the brute-force
    baseline is pinned in tests.  ``deleted`` vec_ids never serve (either
    side), matching the persisted index paths."""
    b = lsh_bucketed(exclude_ids(emb, "vec_id", deleted), dim, tables)
    q = b.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("table_id").alias("q_table"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = (
        b.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("q_table")) & (F.col("bucket") == F.col("q_bucket")),
        )
        .select("query_id", "vec_id", "embedding", "nrm", "q_emb", "q_nrm")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(
            cosine_col(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")) * 1e6
        )
        .cast("bigint")
        .alias("cos_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_micro"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos_micro")
    )
