"""Persisted multi-probe sign-LSH ANN index over embeddings — the 100 TB
serving path for approximate nearest-neighbor top-k.

The reference's search is an exact brute-force scan of every vector
(/root/reference/index.go:63-81) and its README caps the design at <100k
entries for exactly that reason (/root/reference/README.md:30).  This
module is the scale path that replaces the O(N·d) scan:

- **Build** (``build_lsh_index``): one pass over the embeddings table in
  ``mapInPandas`` — a single numpy matmul per Arrow batch projects every
  vector onto ``tables × planes`` deterministic ±1 hyperplanes (derived
  from the pinned hash spec, functions/hashing.py) and packs the signs
  into a bucket id per table.  Output is written **partitioned by
  (table_id, bucket_prefix)** — dir count bounded by LSH_PREFIX_BITS at
  any corpus size — with the full bucket id sorted inside each file for
  row-group pruning, plus a versioned JSON meta sidecar: the same
  "pruned layout + version gate" story as the posting store
  (/root/reference/index_codec.go:56-58).
- **Plane-count auto-scaling**: ``planes = max(4, ceil(log2(n / 256)))``,
  so a bucket holds ~256 vectors at ANY corpus size — 16 buckets/table at
  5k vectors, 2^22 buckets/table at 10^9.  A query's scanned fraction is
  ``probes × 2^-planes`` per table, i.e. constant work per query as the
  corpus grows (the ephemeral 4-plane variant in operators/similarity.py
  rescanned ~6% of the corpus per query regardless of size).
- **Query** (``LshIndex.topk``): buckets for the query vectors are
  computed driver-side with the SAME numpy routine as the build (bit-
  identical), expanded to all buckets within Hamming radius ``radius``
  (multi-probe LSH — recall of many tables at the candidate cost of few),
  and the scan is pruned by PARTITION FILTERS on (table_id,
  bucket_prefix) plus a bucket row-group predicate before a broadcast
  join + Arrow fold-kernel exact-cosine rerank (similarity.rerank_topk).
  No shuffle of the corpus at query time.

Exactness contract: approximate by design; recall@k vs the brute-force
scorer is pinned in tests/test_pipeline_ops.py (the brute path,
operators/similarity.py:ann_brute_topk, stays the verification tool).
"""

from __future__ import annotations

import json
import math
import os
from functools import reduce
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import FORMAT_VERSION
from ..functions.hashing import HASH_SPEC_VERSION, h32_py
from ..functions.npfold import fold_dot, fold_norm
from .similarity import rerank_topk

#: default hash-table count (multi-table LSH: union of probed buckets)
LSH_INDEX_TABLES = 8
#: target vectors per bucket — drives plane-count auto-scaling
TARGET_BUCKET_SIZE = 256
#: directory-partition granularity: layouts partition on the bucket's TOP
#: ``min(planes, LSH_PREFIX_BITS)`` bits, with the full bucket id a
#: file-sorted DATA column (parquet row-group min/max prunes the rest).
#: Bounds the dir count at tables × 2^LSH_PREFIX_BITS at ANY corpus size —
#: partitioning on the raw bucket id produced tables × 2^planes dirs
#: (24k at 1.4M vectors, 33M at 10^9), and the open-time file listing of
#: that layout cost 50 s of driver jobs before the first query ran.
LSH_PREFIX_BITS = 9


def plane_matrix(dim: int, tables: int, planes: int) -> np.ndarray:
    """(tables, planes, dim) float64 ±1 hyperplanes from the pinned hash
    spec — same derivation as similarity._plane_signs, so ephemeral and
    persisted variants agree on plane geometry."""
    P = np.empty((tables, planes, dim), dtype=np.float64)
    for t in range(tables):
        for p in range(planes):
            P[t, p] = [
                1.0 if h32_py(f"lshplane/{t}/{p}/{i}") & 1 else -1.0 for i in range(dim)
            ]
    return P


def buckets_np(E: np.ndarray, P: np.ndarray) -> np.ndarray:
    """(tables, n) int64 bucket ids: bit p of table t = sign(E · P[t,p]).

    Projections use the SEQUENTIAL-FOLD kernel (functions/npfold.py), not a
    BLAS matmul: the sign test sits at a float boundary, and fold order is
    what makes build, query, the ephemeral JVM-fold variant
    (similarity.lsh_bucket_col), and the DuckDB oracle agree bit-for-bit."""
    tables, planes, _ = P.shape
    out = np.empty((tables, E.shape[0]), dtype=np.int64)
    w = (1 << np.arange(planes, dtype=np.int64))
    for t in range(tables):
        out[t] = (fold_dot(E, P[t]) > 0) @ w
    return out


def auto_planes(n: int, target_bucket: int = TARGET_BUCKET_SIZE) -> int:
    """Plane count so that 2^planes ≈ n / target_bucket (clamped 4..24)."""
    return max(4, min(24, math.ceil(math.log2(max(1.0, n / target_bucket)))))


def _probe_mask_bits(planes: int, radius: int) -> list[tuple[int, tuple[int, ...]]]:
    """(xor_mask, flipped_bit_positions) for all buckets within Hamming
    distance ``radius``, distance-0 first.  THE single source of truth for
    the probe expansion: LshIndex.topk consumes the pairs (bits drive the
    query-directed margin cost) and the DuckDB oracle mirror
    (oracle_sql_pipeline.lsh_index_topk_sql) consumes the masks — gate
    identity of ann_lsh_* rests on both sides probing the same bucket set,
    so neither may enumerate independently."""
    out: list[tuple[int, tuple[int, ...]]] = [(0, ())]
    for r in range(1, radius + 1):
        for bits in combinations(range(planes), r):
            out.append((sum(1 << b for b in bits), bits))
    return out


def _probe_masks(planes: int, radius: int) -> list[int]:
    """XOR masks for all buckets within Hamming distance ``radius``."""
    return [m for m, _ in _probe_mask_bits(planes, radius)]


def build_lsh_index(
    spark: SparkSession,
    emb: DataFrame,
    root: str,
    tables: int = LSH_INDEX_TABLES,
    planes: int | None = None,
    target_bucket: int = TARGET_BUCKET_SIZE,
) -> dict:
    """Materialize the bucketed layout under ``root``; returns the meta.

    ``emb`` must have (vec_id BIGINT, embedding ARRAY<FLOAT>).  Rows are
    replicated ``tables`` times (one per hash table) and written
    partitioned by (table_id, bucket_prefix) — the bucket's top
    ``min(planes, LSH_PREFIX_BITS)`` bits — with the full ``bucket`` id
    sorted within each file so row-group stats prune to the probed
    buckets.  An explicit repartition on the partition keys bounds the
    file count to one writer task per populated prefix slice, and the
    prefix cap bounds the DIRECTORY count independently of corpus size
    (see LSH_PREFIX_BITS).
    """
    first = emb.select(F.size("embedding").alias("d")).first()
    if first is None:
        raise ValueError("empty embeddings input")
    dim = int(first["d"])
    n = emb.count()
    if planes is None:
        planes = auto_planes(n, target_bucket)
    P = plane_matrix(dim, tables, planes)

    prefix_bits = min(planes, LSH_PREFIX_BITS)
    shift = planes - prefix_bits

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = fold_norm(E)  # fold order matches norm_col / the oracle
            B = buckets_np(E, P)
            frames = []
            for t in range(tables):
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "table_id": np.int32(t),
                            "bucket": B[t],
                            "bucket_prefix": B[t] >> shift,
                            "embedding": pdf["embedding"],
                            "nrm": nrm,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    schema = (
        "vec_id bigint, table_id int, bucket bigint, bucket_prefix bigint, "
        "embedding array<float>, nrm double"
    )
    bucketed = emb.select("vec_id", "embedding").mapInPandas(assign, schema=schema)
    n_out = min(
        spark.sparkContext.defaultParallelism * 4,
        max(2, tables * (1 << prefix_bits)),
    )
    (
        bucketed.repartition(n_out, "table_id", "bucket_prefix")
        # the partitioned writer REQUIRES child ordering on the partition
        # columns; sorting on them first (then bucket) satisfies it, so
        # the planner adds no second sort and the within-file bucket
        # order (row-group min/max → bucket prune) is guaranteed rather
        # than riding on the injected sort's stability
        .sortWithinPartitions("table_id", "bucket_prefix", "bucket")
        .write.mode("overwrite")
        .partitionBy("table_id", "bucket_prefix")
        # lookup-optimized row groups: a probe needs ONE bucket (~256
        # rows ≈ 70 KB); default 128 MB row groups would make stats
        # pruning a no-op and every probe decode a whole prefix slice
        .option("parquet.block.size", 1 << 20)
        .parquet(os.path.join(root, "buckets"))
    )
    # bucket-occupancy sidecar: (table_id, bucket) → count, the driver-side
    # statistic behind query-adaptive probing (LshIndex.topk budget=...).
    # One column-pruned pass over the layout just written; tiny output
    # (n/target_bucket × tables rows — 64k at 1.4M vectors, ~31M at 10^9).
    (
        spark.read.parquet(os.path.join(root, "buckets"))
        .groupBy("table_id", "bucket")
        .count()
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(root, "bucket_counts"))
    )
    meta = {
        "format_version": FORMAT_VERSION,
        "hash_spec_version": HASH_SPEC_VERSION,
        "dim": dim,
        "n": n,
        "tables": tables,
        "planes": planes,
        "prefix_bits": prefix_bits,
        "counts": True,
    }
    tmp = os.path.join(root, "_lsh_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(root, "_lsh_meta.json"))
    return meta


class LshIndex:
    """Query-side handle on a persisted LSH layout (snapshot at open, like
    operators/wand.IndexReader).

    The index reads through its own ``spark.newSession()``: the same
    SparkContext (executors, cache, job groups) with its own SQL conf, in
    which ``spark.sql.parquet.pushdown.inFilterThreshold`` is 4096.  The
    bucket In-filter must reach parquet row-group stats, and Spark skips
    parquet pushdown for In-sets beyond a small threshold (default 10)
    while a multi-probe batch carries hundreds of buckets.  The query
    methods return lazy DataFrames of that session, so the conf holds at
    action time, and the caller's session conf is left as it was."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark.newSession()
        self.spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "4096")
        self.root = root
        with open(os.path.join(root, "_lsh_meta.json")) as f:
            self.meta = json.load(f)
        if self.meta["format_version"] != FORMAT_VERSION:
            raise ValueError(
                f"lsh index format {self.meta['format_version']} != engine {FORMAT_VERSION}"
            )
        if self.meta["hash_spec_version"] != HASH_SPEC_VERSION:
            raise ValueError("lsh index built under a different hash spec")
        self._P = plane_matrix(self.meta["dim"], self.meta["tables"], self.meta["planes"])
        base = os.path.join(root, "buckets")
        self._df = self.spark.read.option("basePath", base).parquet(base)
        self._counts: tuple[np.ndarray, np.ndarray] | None | bool = False  # lazy

    def _bucket_counts(self) -> tuple[np.ndarray, np.ndarray] | None:
        """Sorted (key, count) arrays of the bucket-occupancy sidecar, or
        None for legacy layouts without one.  Loaded once, directly via
        pyarrow — no Spark job (it is a driver-side probe-planning
        statistic, ~16 B/bucket: 1 MB at 1.4M vectors, ~500 MB at 10^9;
        past that, switch probe planning to a per-batch selective read)."""
        if self._counts is False:
            if not self.meta.get("counts"):
                self._counts = None
            else:
                import pyarrow.parquet as pq

                tb = pq.read_table(
                    os.path.join(self.root, "bucket_counts"),
                    columns=["table_id", "bucket", "count"],
                )
                key = (
                    tb.column("table_id").to_numpy().astype(np.int64) << 48
                ) | tb.column("bucket").to_numpy().astype(np.int64)
                cnt = tb.column("count").to_numpy().astype(np.int64)
                order = np.argsort(key)
                self._counts = (key[order], cnt[order])
        return self._counts

    def topk(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        radius: int = 1,
        deleted=None,
        budget: int | None = None,
    ) -> DataFrame:
        """Approximate top-k for explicit (query_id, vector) pairs.

        Output (query_id, vec_id, rank, cos_micro) — same schema and
        (cos_micro DESC, vec_id ASC) total order as ann_brute_topk.
        ``deleted`` (tombstoned vec_ids, e.g. the text store's
        ``reader.deleted``) are masked out of the candidate set BEFORE
        ranking — the persisted layout is append-only like the
        reference's (/root/reference/index.go:44-50), so logical deletes
        must be honored at serve time until the index is rebuilt (the
        same contract as the lexical scorers, operators/wand.py).

        ``budget`` (opt-in) caps the CANDIDATE rows fetched per query:
        probes within ``radius`` are ordered query-directed (ascending sum
        of |projection margin| over the flipped planes — the bits most
        likely to have cut off a true neighbor, Lv et al. multi-probe
        LSH), empty buckets are skipped, and expansion stops once the
        bucket-occupancy sidecar says the budget is met.  The exact-hash
        distance-0 buckets of every table are always probed.  This is the
        heavy-tail guard at scale: a clustered corpus concentrates rows in
        few buckets, and an unbudgeted radius-1 batch can pull >70% of the
        corpus as candidates (measured at 1.4M vectors) where a 50·k
        budget with margin ordering keeps recall (pinned in bench
        ann_1p4m) at ~1% of the scan.  Default None = full expansion
        (the oracle-mirrored gate shape); requires the counts sidecar
        (meta["counts"]), silently full-expands on legacy layouts.
        """
        if k <= 0 or not queries:
            return self.spark.createDataFrame(
                [], "query_id bigint, vec_id bigint, rank int, cos_micro bigint"
            )
        tables, planes = self.meta["tables"], self.meta["planes"]
        Q = np.asarray([v for _, v in queries], dtype=np.float64)
        qn = fold_norm(Q)
        # projections per table — signs give the bucket (bit-identical to
        # buckets_np: same fold kernel), magnitudes are the probe margins
        proj = np.stack([fold_dot(Q, self._P[t]) for t in range(tables)])
        w = 1 << np.arange(planes, dtype=np.int64)
        B = (proj > 0).astype(np.int64) @ w  # (tables, n_queries)
        mask_bits = _probe_mask_bits(planes, radius)
        counts = self._bucket_counts() if (budget is not None) else None

        probe_rows = []
        for qi, (qid, vec) in enumerate(queries):
            vec_f = [float(x) for x in vec]
            qn_f = float(qn[qi])
            if counts is None:
                for t in range(tables):
                    for m, _ in mask_bits:
                        probe_rows.append((int(qid), t, int(B[t, qi]) ^ m, vec_f, qn_f))
                continue
            # query-directed budgeted expansion: cheapest margin first
            margins = np.abs(proj[:, qi, :])  # (tables, planes)
            cand = []
            keys = []
            for t in range(tables):
                for m, bits in mask_bits:
                    b = int(B[t, qi]) ^ m
                    cost = float(margins[t, list(bits)].sum()) if bits else -1.0
                    cand.append((cost, t, b))
                    keys.append((t << 48) | b)
            ckey, ccnt = counts
            pos = np.searchsorted(ckey, np.asarray(keys, dtype=np.int64))
            pos_ok = (pos < len(ckey)) & (ckey[np.minimum(pos, len(ckey) - 1)] == keys)
            sizes = np.where(pos_ok, ccnt[np.minimum(pos, len(ckey) - 1)], 0)
            order = sorted(range(len(cand)), key=lambda i: cand[i][0])
            total = 0
            for i in order:
                cost, t, b = cand[i]
                sz = int(sizes[i])
                if sz == 0:
                    continue  # empty bucket: nothing to fetch
                if cost >= 0.0 and total >= budget:
                    break  # distance-0 probes (cost -1) always included
                total += sz
                probe_rows.append((int(qid), t, b, vec_f, qn_f))
        if not probe_rows:
            # budgeted expansion can skip EVERY probe (all candidate
            # buckets empty in the sidecar — e.g. an out-of-corpus query
            # over a sparse layout): no candidates, empty result
            return self.spark.createDataFrame(
                [], "query_id bigint, vec_id bigint, rank int, cos_micro bigint"
            )
        probes = self.spark.createDataFrame(
            probe_rows,
            "query_id bigint, table_id int, bucket bigint, q_emb array<double>, q_nrm double",
        )

        # pruning: partition filters on (table_id, bucket_prefix) cut the
        # scan to the probed prefix dirs, then the bucket In-filter pushes
        # into parquet row groups (files are bucket-sorted at write).
        # Legacy layouts (no prefix_bits in meta) partition on the raw
        # bucket and prune directly.
        by_table: dict[int, set[int]] = {}
        for _, t, b, _, _ in probe_rows:
            by_table.setdefault(t, set()).add(b)
        shift = planes - self.meta.get("prefix_bits", planes)
        has_prefix = "prefix_bits" in self.meta

        def table_pred(t: int, bs: set[int]):
            p = (F.col("table_id") == t) & F.col("bucket").isin(sorted(bs))
            if has_prefix:
                p = p & F.col("bucket_prefix").isin(sorted({b >> shift for b in bs}))
            return p

        pred = reduce(lambda a, b: a | b, [table_pred(t, bs) for t, bs in by_table.items()])
        corpus = self._df.filter(pred)
        if deleted:
            from .similarity import exclude_ids

            corpus = exclude_ids(corpus, "vec_id", deleted)
        cand = (
            corpus.join(F.broadcast(probes), ["table_id", "bucket"])
            .dropDuplicates(["query_id", "vec_id"])
        )
        return rerank_topk(cand, k)

    def topk_for_ids(
        self,
        query_ids: list[int],
        k: int = 10,
        radius: int = 1,
        deleted=None,
        budget: int | None = None,
    ) -> DataFrame:
        """Convenience: queries are rows of the indexed corpus itself.

        Fetches the query vectors from the table_id=0 slice (one pruned
        scan with a vec_id pushdown).  Serving systems that hold the query
        vector should call :meth:`topk` directly and skip this job.
        Deleted ids are unservable as queries too (they return no rows)."""
        live = [q for q in query_ids if not (deleted and int(q) in deleted)]
        rows = (
            self._df.filter((F.col("table_id") == 0) & F.col("vec_id").isin(live))
            .select("vec_id", "embedding")
            .collect()
        )
        vecs = {int(r["vec_id"]): list(r["embedding"]) for r in rows}
        return self.topk(
            [(q, vecs[q]) for q in live if q in vecs],
            k,
            radius,
            deleted=deleted,
            budget=budget,
        )
