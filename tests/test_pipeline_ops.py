"""Unit tests for the training-pipeline operators (dedup / similarity /
text stats / media) — spec-level agreement across the three
implementations (Python / Spark Column / DuckDB SQL) plus behavior checks
the driver's oracle gate can't see (LSH recall, stub seams).

The full Spark-vs-DuckDB comparison of every operator runs in
tests/test_entry_contract.py at sf0.01."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from search_spark.analyzer import tokenize
from search_spark.functions import hashing as H
from search_spark.functions import textstats as TS

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def test_h32_three_way(spark, ddb):
    samples = ["", "hello", "the fast scan", "a b c", "héllo-∆"]
    py = [H.h32_py(s) for s in samples]
    sdf = spark.createDataFrame([(s,) for s in samples], "s string")
    sp = [r[0] for r in sdf.select(H.h32_col(F.col("s"))).collect()]
    dk = [
        ddb.execute(f"SELECT {H.h32_sql('?')}", [s]).fetchone()[0] for s in samples
    ]
    assert py == sp == dk


def test_minhash_perm_bounds_and_agreement(spark):
    # no signed-64 overflow by construction; three-way agreement on perms
    hmax = 2**32 - 1
    for j in range(H.MINHASH_K):
        assert H.MINHASH_A[j] * (hmax % H.P31) + H.MINHASH_B[j] < 2**63
    sdf = spark.createDataFrame([(H.h32_py("x"),)], "h long")
    sp = sdf.select(
        *[H.minhash_perm_col(F.col("h"), j) for j in range(H.MINHASH_K)]
    ).collect()[0]
    py = [H.minhash_perm_py(H.h32_py("x"), j) for j in range(H.MINHASH_K)]
    assert list(sp) == py


def test_rolling_fingerprint_three_way(spark, ddb):
    texts = ["the fast scan merges", "", "one", "a a a a a a"]
    py = [H.rolling_fp_py(tokenize(t)) for t in texts]
    sdf = spark.createDataFrame([(t,) for t in texts], "t string")
    from search_spark.analyzer import tokens_col

    sp = [r[0] for r in sdf.select(H.rolling_fp_col(tokens_col("t"))).collect()]
    from search_spark.analyzer import sql_tokens

    dk = [
        ddb.execute(f"SELECT {H.rolling_fp_sql(sql_tokens('?'))}", [t]).fetchone()[0]
        for t in texts
    ]
    assert py == sp == dk


def test_lang_id_spec(spark):
    cases = {
        "the cat is on the mat": "en",
        "el que la de los": "es",
        "": "und",
        "xyz qrs tuv": "und",
        # tie between en and de on 'und'? 'und' is a de marker only
        "der die und": "de",
    }
    sdf = spark.createDataFrame([(t,) for t in cases], "t string")
    from search_spark.analyzer import tokens_col

    got = [r[0] for r in sdf.select(TS.lang_id_col(tokens_col("t"))).collect()]
    assert got == list(cases.values())
    assert [TS.lang_id_py(tokenize(t)) for t in cases] == list(cases.values())


def test_bpe_count_spec():
    assert TS.bpe_count_py([]) == 0
    assert TS.bpe_count_py(["ab"]) == 1
    assert TS.bpe_count_py(["abcd", "abcde"]) == 1 + 2


def test_ann_lsh_recall_vs_brute(spark):
    """Pin the observed recall of the bucketed path on the fixed corpus —
    deterministic (seeded data + pinned planes), so exact assertion."""
    from search_spark.operators.similarity import ann_brute_topk, ann_lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r["query_id"], r["vec_id"]) for r in ann_brute_topk(emb, qids, 10).collect()
    }
    lsh = {
        (r["query_id"], r["vec_id"]) for r in ann_lsh_topk(emb, qids, 10).collect()
    }
    # every LSH hit must be a true neighbor of its query's bucket → subset of
    # the corpus; self-match always survives (query is in its own bucket)
    assert {(q, q) for q in qids} <= lsh
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.3, recall  # bucketing to 1/256 of corpus keeps ≥30% here


def test_persisted_lsh_index_recall_and_pruning(spark, tmp_path):
    """The serving ANN path (persisted (table_id, bucket) layout +
    multi-probe): recall@10 ≥ 0.9 vs brute at sf0.01, partition filters in
    the scan, and bucket assignment identical between build and query."""
    from search_spark.operators.ann_index import LshIndex, build_lsh_index
    from search_spark.operators.similarity import ann_brute_topk

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
    meta = build_lsh_index(spark, emb, str(tmp_path / "lsh"), tables=8)
    assert meta["planes"] == 4  # auto_planes(500, 256)
    idx = LshIndex(spark, str(tmp_path / "lsh"))

    qids = [0, 1, 2, 3, 4]
    res = idx.topk_for_ids(qids, 10, radius=1)
    brute = {
        (r["query_id"], r["vec_id"]) for r in ann_brute_topk(emb, qids, 10).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in res.collect()}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.9, recall

    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "table_id" in plan


def test_lsh_budgeted_all_probes_empty_returns_empty(spark, tmp_path):
    """Budgeted expansion skips empty buckets; a query whose ENTIRE probe
    set is empty (out-of-corpus vector over a sparse layout) must return
    an empty frame, not crash building the probe predicate."""
    import numpy as np
    import pandas as pd

    from search_spark.operators.ann_index import LshIndex, build_lsh_index

    # 5 identical vectors → exactly one populated bucket per table
    v = np.ones(16, dtype=np.float32)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(5, dtype=np.int64), "embedding": [v.tolist()] * 5}
        )
    )
    # planes=8: -v's bucket and all its radius-1 flips sit ≥ 7 bits from
    # the one populated bucket per table → every probe lands empty
    build_lsh_index(spark, emb, str(tmp_path / "lsh"), tables=4, planes=8)
    idx = LshIndex(spark, str(tmp_path / "lsh"))
    res = idx.topk([(99, (-v).tolist())], k=5, radius=1, budget=100)
    assert res.count() == 0
    assert res.columns == ["query_id", "vec_id", "rank", "cos_micro"]
    # same query unbudgeted goes through the full-expansion path (no
    # sidecar consult) and must also come back empty-but-well-formed
    assert idx.topk([(99, (-v).tolist())], k=5, radius=1).count() == 0


def test_lsh_index_leaves_caller_conf(spark, tmp_path):
    """Opening an LshIndex widens the parquet In-filter pushdown threshold
    in the index's own session only; the caller's session keeps its value
    and the index still answers."""
    import numpy as np
    import pandas as pd

    from search_spark.operators.ann_index import LshIndex, build_lsh_index

    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    before = spark.conf.get(key)
    v = np.ones(16, dtype=np.float32)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(5, dtype=np.int64), "embedding": [v.tolist()] * 5}
        )
    )
    build_lsh_index(spark, emb, str(tmp_path / "lsh"), tables=2, planes=4)
    idx = LshIndex(spark, str(tmp_path / "lsh"))
    assert spark.conf.get(key) == before
    assert idx.spark.conf.get(key) == "4096"
    assert idx.topk([(0, v.tolist())], k=3).count() == 3


def test_persisted_ivf_index_recall_and_pruning(spark, tmp_path):
    """IVF ANN (coarse-quantizer alternative to sign-LSH): deterministic
    sample-fit k-means cells, partition-pruned nprobe scan, exact rerank.
    Clustered data → near-perfect recall probing few cells; the flat
    sf0.01 corpus (no cluster structure) gets a looser pin."""
    import numpy as np
    import pandas as pd

    from search_spark.operators.ivf_index import IvfIndex, build_ivf_index
    from search_spark.operators.similarity import ann_brute_topk

    # clustered synthetic (seeded): the regime IVF exists for
    rng = np.random.default_rng(42)
    N, DIM = 3000, 32
    centers = rng.standard_normal((30, DIM))
    M = centers[rng.integers(0, 30, N)] + 0.4 * rng.standard_normal((N, DIM))
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(N, dtype=np.int64),
                "embedding": [r.astype(np.float32).tolist() for r in M],
            }
        )
    )
    meta = build_ivf_index(spark, emb, str(tmp_path / "ivf"))
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    qids = [0, 1, 2]
    nrm = np.sqrt((M * M).sum(1))
    Cs = (M[qids] @ M.T) / (nrm[qids][:, None] * nrm[None, :])
    truth = {q: set(np.argsort(-Cs[i])[:10].tolist()) for i, q in enumerate(qids)}
    res = idx.topk_for_ids(qids, 10, nprobe=4)
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    rec = sum(len(got.get(q, set()) & truth[q]) / 10 for q in qids) / len(qids)
    assert rec >= 0.9, rec
    assert 4 < meta["nlist"]  # actually pruning, not scanning everything
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan

    # the flat-embedding fixture: structure-free, looser deterministic pin
    sf_emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    build_ivf_index(spark, sf_emb, str(tmp_path / "ivf2"))
    idx2 = IvfIndex(spark, str(tmp_path / "ivf2"))
    brute = {
        (r["query_id"], r["vec_id"])
        for r in ann_brute_topk(sf_emb, [0, 1, 2, 3, 4], 10).collect()
    }
    got2 = {
        (r["query_id"], r["vec_id"])
        for r in idx2.topk_for_ids([0, 1, 2, 3, 4], 10, nprobe=8).collect()
    }
    assert len(brute & got2) / len(brute) >= 0.5


def test_lsh_top_pairs_no_cartesian_and_coverage(spark):
    """Serving top-pairs: no cartesian in the physical plan; coverage of
    the exact brute top-50 is pinned (deterministic banding)."""
    from search_spark.operators.similarity import cosine_top_pairs, cosine_top_pairs_lsh

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
    served = cosine_top_pairs_lsh(emb, 50, dim=64, tables=8, planes=4)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan

    brute = {(r["a_id"], r["b_id"]) for r in cosine_top_pairs(emb, 50).collect()}
    got = {(r["a_id"], r["b_id"]) for r in served.collect()}
    # moderate-similarity corpus: 8×4 banding covers most but not all of
    # the exact top-50 (measured 38/50 — deterministic, pinned loosely)
    assert len(brute & got) / len(brute) >= 0.7


def test_dedup_band_guard_survives_identical_flood(spark):
    """10k identical docs: MinHash banding would form one quadratic group;
    the guard drops it and the job completes with only the distinct docs'
    pairs considered (identical rows are exact-dedup's job)."""
    from search_spark.operators.dedup import lsh_candidates, minhash_signatures, doc_shingles

    rows = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(10_000)]
    rows += [(10_000 + i, f"unique text number {i} with words w{i} w{i+1} w{i+2} filler") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sig = minhash_signatures(doc_shingles(docs))
    cand = lsh_candidates(sig, max_band_size=100)
    got = cand.collect()
    ids = {r["a_id"] for r in got} | {r["b_id"] for r in got}
    assert all(i >= 10_000 for i in ids)  # flood dropped, job bounded


def test_auto_shingle_df_cap_matches_sql_rule(spark, ddb):
    """The Spark histogram walk and the DuckDB cume_dist rule must derive
    the SAME cap (floor included) — that equality is what keeps the capped
    entry green."""
    from search_spark.analyzer import sql_tokens
    from search_spark.operators.dedup import (
        SHINGLE_DF_CAP_MIN,
        auto_shingle_df_cap,
        doc_shingles,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    cap = auto_shingle_df_cap(doc_shingles(docs))
    toks = sql_tokens("text")
    sql = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, len({toks}) - 2),
    i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))) AS shingle
  FROM documents),
dfs AS (SELECT shingle, count(*) AS sdf FROM sh GROUP BY shingle)
SELECT greatest(min(sdf), {SHINGLE_DF_CAP_MIN})
FROM (SELECT sdf, cume_dist() OVER (ORDER BY sdf) cd FROM dfs)
WHERE cd >= 0.995"""
    assert cap == ddb.execute(sql).fetchone()[0]
    assert cap >= SHINGLE_DF_CAP_MIN


def test_auto_cap_floor_keeps_neardups_on_unique_corpus(spark):
    """On a MOSTLY-UNIQUE corpus (>=99.5% of distinct shingles at df=1 —
    the norm for w-gram shingles over natural text) the raw quantile cap
    degenerates to 1, which would exclude every repeated shingle and the
    DEFAULT capped operator would silently find ZERO pairs.  The floor
    must keep a known df=2 near-dup pair alive."""
    from search_spark.operators.dedup import (
        SHINGLE_DF_CAP_MIN,
        auto_shingle_df_cap,
        doc_shingles,
        ngram_jaccard_pairs,
    )

    # 400 unique docs (distinct token streams, shingles all df=1) + one
    # near-dup pair sharing most of their shingles (those shingles: df=2)
    rows = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f") for i in range(400)]
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows.append((9001, dup))
    rows.append((9002, dup + " iota"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cap = auto_shingle_df_cap(doc_shingles(docs))
    assert cap == SHINGLE_DF_CAP_MIN  # raw quantile degenerates to 1 here

    pairs = ngram_jaccard_pairs(docs).collect()  # DEFAULT auto cap
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(9001, 9002)}


def test_band_size_guard_bounds_duplicate_floods(spark):
    """An all-duplicates corpus (5k identical vectors) must NOT create an
    unbounded quadratic band group: with max_band_size below the flood the
    candidate set is empty and the job completes fast."""
    import numpy as np

    from search_spark.operators.similarity import lsh_candidate_pairs

    rng = np.random.default_rng(7)
    base = [float(x) for x in rng.standard_normal(8)]
    rows = [(i, base) for i in range(5000)] + [
        (5000 + i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cand = lsh_candidate_pairs(emb, dim=8, tables=2, planes=4, max_band_size=100)
    ids = {r["a_id"] for r in cand.collect()} | {r["b_id"] for r in cand.collect()}
    # the 5k-identical flood is dropped by the guard; only the 20 random
    # vectors (band groups ≤ 100) may pair up
    assert all(i >= 5000 for i in ids)


def test_spearman_average_rank_matches_pandas(spark, ddb):
    """Standard tie handling: ρ must equal pandas' average-rank Spearman
    (hence scipy / the reference's rank transform), not just this repo's
    own oracle — three-way bit-identity on tie-heavy data."""
    import numpy as np
    import pandas as pd

    from search_spark.functions.stats import spearman, spearman_sql

    rng = np.random.default_rng(3)
    x = rng.integers(0, 50, 400).astype(np.int64)
    y = (x * 3 + rng.integers(0, 40, 400)).astype(np.int64)
    pdf = pd.DataFrame({"x": x, "y": y})
    ref = round(pdf.corr(method="spearman").iloc[0, 1] * 1e6)
    got = spearman(spark.createDataFrame(pdf), "x", "y").collect()[0][0]
    ddb.register("sp_rel", pdf)
    want = ddb.execute(spearman_sql("SELECT x, y FROM sp_rel", "x", "y")).fetchone()[0]
    assert got == want == ref


def test_media_decode_stub_seam():
    from search_spark.operators.media import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x01", fake=False)
    meta = decode_image(b"payload", fake=True)
    assert set(meta) == {"width", "height", "format"}
    assert meta["width"] >= 16 and meta["height"] >= 16


def test_media_plumbing_shapes(spark):
    from search_spark.operators.media import attach_payload, frame_sample, media_metadata

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(20)
    media = attach_payload(docs)
    meta = media_metadata(media)
    rows = meta.collect()
    assert len(rows) == 20
    assert meta.columns == [
        "doc_id", "media_type", "byte_len", "content_h32", "width", "height", "format",
    ]
    frames = frame_sample(media).collect()
    assert len(frames) >= 20  # every doc emits ≥1 frame
    # deterministic: same input → same fan-out
    assert len(frames) == len(frame_sample(media).collect())


def test_simhash_near_dups_rank_below_background(spark, ddb):
    """True near-dup pairs (Jaccard ≥ 0.5) must appear among simhash pairs
    at the pinned Hamming threshold."""
    from search_spark.operators.dedup import ngram_jaccard_pairs, simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    true_pairs = {
        (r["a_id"], r["b_id"]) for r in ngram_jaccard_pairs(docs).collect()
    }
    sh_pairs = {(r["a_id"], r["b_id"]) for r in simhash_pairs(docs).collect()}
    hit = len(true_pairs & sh_pairs) / max(len(true_pairs), 1)
    assert hit >= 0.8, hit  # candidate generator: high recall on true dups


def test_capped_ngram_broadcasts_head_not_tail(spark):
    """Scale guard: the capped path must broadcast the tiny OVER-cap head
    set into a LEFT ANTI join — broadcasting the under-cap side (~all
    distinct shingles) would OOM executors at corpus scale."""
    from search_spark.operators.dedup import doc_shingles, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(docs, max_shingle_df=4)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    # semantics unchanged vs the plain inner-join-on-under-cap form
    sh = doc_shingles(docs)
    from pyspark.sql import functions as F

    dfs = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
    kept_inner = sh.join(dfs.filter(F.col("sdf") <= 4).select("shingle"), "shingle")
    kept_anti = sh.join(
        dfs.filter(F.col("sdf") > 4).select("shingle"), "shingle", "left_anti"
    )
    assert sorted(map(tuple, kept_inner.collect())) == sorted(map(tuple, kept_anti.collect()))


def test_npfold_matches_jvm_fold_bitwise(spark):
    """The numpy sequential-fold kernels must equal the JVM fold
    (F.aggregate over F.zip_with) BIT-FOR-BIT — that identity is what lets
    the persisted ANN indexes carry exact DuckDB oracles (the reference
    pins kernel-vs-scalar agreement the same way, simd_test.go:52-74)."""
    import numpy as np

    from search_spark.functions.npfold import fold_dot, fold_dot_pairs, fold_norm
    from search_spark.operators.similarity import dot_col, norm_col
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    A = rng.standard_normal((50, 64)).astype(np.float32)
    B = rng.standard_normal((1, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, a.tolist(), B[0].tolist()) for i, a in enumerate(A)],
        "i int, a array<float>, b array<float>",
    )
    rows = df.select(
        "i", dot_col(F.col("a"), F.col("b")).alias("d"), norm_col(F.col("a")).alias("n")
    ).collect()
    want_d = fold_dot(A.astype(np.float64), B.astype(np.float64))[:, 0]
    want_n = fold_norm(A.astype(np.float64))
    # the row-paired rerank kernel must agree with both forms bit-for-bit
    want_p = fold_dot_pairs(
        A.astype(np.float64), np.repeat(B.astype(np.float64), len(A), axis=0)
    )
    assert (want_p == want_d).all()
    for r in rows:
        assert r["d"] == want_d[r["i"]], (r["d"], want_d[r["i"]])
        assert r["n"] == want_n[r["i"]]


def test_ivf_centroids_py_twin_matches_build(spark, tmp_path):
    """centroids_py (the oracle-side no-Spark twin) must reproduce the
    centroid matrix build_ivf_index trains — the pinned-centroid IVF
    oracle depends on this bit-identity."""
    import json

    import numpy as np

    from search_spark.operators.ivf_index import build_ivf_index, centroids_py

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
    build_ivf_index(spark, emb, str(tmp_path / "ivf"))
    with open(tmp_path / "ivf" / "_ivf_meta.json") as f:
        stored = np.asarray(json.load(f)["centroids"], dtype=np.float64)

    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchall()
    twin = centroids_py(rows)
    assert stored.shape == twin.shape
    assert np.array_equal(stored, twin)


def test_xxhash64_py_matches_spark(spark):
    """The layout hash twin: xxhash64_py must equal F.xxhash64 bit-for-bit
    (the dictionary-lookup partition pruning rides on this)."""
    from pyspark.sql import functions as F

    from search_spark.functions.hashing import term_bucket_py, xxhash64_py

    cases = (
        ["", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
         "0123456789abcdef", "x" * 31, "y" * 32, "z" * 33, "w" * 100]
        + ["héllo-∆ ünïcode 测试", "needle7", "conv-000123", " mixÿ"]
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text").limit(50)
    vocab = sorted({
        t for r in docs.collect() for t in tokenize(r["text"] or "")
    })
    cases = [c for c in cases if c] + vocab + [""]
    sdf = spark.createDataFrame([(c,) for c in cases], "s string")
    rows = sdf.select(
        "s",
        F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(16)).cast("int").alias("b"),
    ).collect()
    for r in rows:
        assert xxhash64_py(r["s"]) == r["h"], repr(r["s"])
        assert term_bucket_py(r["s"], 16) == r["b"], repr(r["s"])


def test_dup_clusters_transitive_and_keepers(spark):
    """Chain a-b, b-c and an island d-e must yield two components with
    min-id cluster ids; untouched docs are singleton keepers."""
    from search_spark.operators.cluster import dup_clusters, keeper_assignment

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 9)], "a_id long, b_id long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame([(i,) for i in range(11)], "doc_id long")
    ka = {r["doc_id"]: (r["cluster_id"], r["is_dup"]) for r in keeper_assignment(docs, pairs).collect()}
    assert ka[1] == (1, False) and ka[2] == (1, True) and ka[3] == (1, True)
    assert ka[7] == (7, False) and ka[9] == (7, True)
    assert ka[0] == (0, False) and ka[10] == (10, False)  # singletons


def test_dup_clusters_twophase_vs_propagation_vs_unionfind(spark):
    """Cross-algorithm equivalence on seeded random graphs: the two-phase
    large-star/small-star default, the min-label-propagation twin, and a
    pure-Python union-find must produce identical labelings (the same
    doctrine as the npfold/JVM-fold and SIMD/scalar kernel twins)."""
    import random

    from search_spark.operators.cluster import dup_clusters, dup_clusters_propagation

    rng = random.Random(1234)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 80))
        ]
        # union-find ground truth (component min as label)
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in sorted(touched)}

        pairs = spark.createDataFrame(edges, "a_id long, b_id long")
        got_star = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
        got_prop = {
            r["doc_id"]: r["cluster_id"]
            for r in dup_clusters_propagation(pairs).collect()
        }
        assert got_star == want, f"trial {trial}: two-phase != union-find"
        assert got_prop == want, f"trial {trial}: propagation != union-find"


def test_dup_clusters_chain_beyond_propagation_budget(spark):
    """A 120-node dup chain (diameter 119 — the boilerplate-page-edited-
    per-snapshot shape): min-label propagation capped at 8 rounds must
    raise, while the two-phase default converges in O(log n) rounds (a
    15-round cap, ~log2(119)+detection — vs 119 rounds for propagation)
    and labels the whole chain with its minimum."""
    import pytest as _pytest

    from search_spark.operators.cluster import dup_clusters, dup_clusters_propagation

    chain = [(i, i + 1) for i in range(119)]
    pairs = spark.createDataFrame(chain, "a_id long, b_id long")

    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters_propagation(pairs, max_iters=8)

    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs, max_iters=15).collect()}
    assert got == {i: 0 for i in range(120)}


def test_dup_clusters_degenerate_inputs(spark):
    """Self-pairs label themselves; an empty pair list yields an empty
    labeling with the right schema."""
    from search_spark.operators.cluster import dup_clusters

    selfp = spark.createDataFrame([(5, 5), (3, 3)], "a_id long, b_id long")
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(selfp).collect()}
    assert got == {5: 5, 3: 3}

    empty = spark.createDataFrame([], "a_id long, b_id long")
    out = dup_clusters(empty)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.count() == 0


def test_dictionary_lookup_partition_pruned(spark, tmp_path):
    """The per-query dictionary lookup must carry PartitionFilters on
    term_bucket (vocabulary-scan lookups won't survive a big dictionary)."""
    from pyspark.sql import functions as F

    from search_spark.functions.hashing import term_bucket_py
    from search_spark.operators.indexer import build_index
    from search_spark.operators.wand import IndexReader
    from search_spark.sources.index_store import IndexStore
    from search_spark.corpus import transcripts_from_documents

    store = IndexStore(str(tmp_path / "idx"), doc_bucket_size=256, term_buckets=8)
    tr = transcripts_from_documents(spark, SF)
    build_index(spark, tr, store, n_units=2)
    reader = IndexReader(spark, store)
    terms = ["the", "fast", "scan"]
    buckets = sorted({term_bucket_py(t, 8) for t in terms})
    lookup = reader._dict_df.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    )
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "term_bucket" in plan.split("PartitionFilters")[1][:200]
    # and the full lookup path agrees with the stored buckets (the runtime
    # invariant raises on mismatch)
    rows = reader._dictionary_rows(terms)
    assert set(rows) == set(terms)


def test_rrf_fuse_two_semantics(spark):
    """RRF fusion: both-lists docs sum reciprocals, single-list docs get
    one term, ties break on doc_id ASC, k truncates."""
    from search_spark.operators.hybrid import RRF_K0, rrf_fuse_two

    bm = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id long, rank int")
    cs = spark.createDataFrame([(20, 1), (40, 2), (50, 3)], "doc_id long, rank int")
    got = {
        r["doc_id"]: (r["rank"], r["rrf_micro"])
        for r in rrf_fuse_two(bm, cs, k=4).collect()
    }
    mk = lambda *rs: round(1e6 * sum(1.0 / (RRF_K0 + r) for r in rs))
    # doc 20 in both lists -> top; then 10 (bm rank1) ties 40 (cs rank2)?
    assert got[20] == (1, mk(2, 1))
    assert got[10][1] == mk(1) and got[40][1] == mk(2)
    # equal-micro docs order by doc_id ASC
    pairs = sorted(got.items(), key=lambda kv: kv[1][0])
    micros = [m for _, (_, m) in pairs]
    assert micros == sorted(micros, reverse=True)
    for (d1, (r1, m1)), (d2, (r2, m2)) in zip(pairs, pairs[1:]):
        if m1 == m2:
            assert d1 < d2
    assert len(got) == 4  # k truncation


def test_rrf_exclude_drops_from_both_lists(spark):
    from search_spark.operators.hybrid import rrf_fuse_two

    bm = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    cs = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank int")
    out = {r["doc_id"] for r in rrf_fuse_two(bm, cs, k=10, exclude=frozenset({2, 4})).collect()}
    assert out == {1, 3}  # 2 gone from both lists, 4 from the ANN side
    base = {r["doc_id"] for r in rrf_fuse_two(bm, cs, k=10).collect()}
    assert base == {1, 2, 3, 4}


def test_ann_serving_paths_exclude_tombstones(spark, tmp_path):
    """A deleted vec_id never surfaces from ANY similarity serving path:
    persisted LSH, persisted IVF, brute, ephemeral LSH, and pair mining
    (reference contract analogue: results must reflect the live corpus,
    /root/reference/index.go:63-86).  Deleted ids are also unservable as
    queries."""
    from search_spark.operators.ann_index import LshIndex, build_lsh_index
    from search_spark.operators.ivf_index import IvfIndex, build_ivf_index
    from search_spark.operators.similarity import (
        ann_brute_topk,
        ann_lsh_topk,
        cosine_top_pairs,
        cosine_top_pairs_lsh,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    n = emb.count()
    deleted = frozenset(v for v in range(int(n)) if v % 7 == 3)
    qids = [0, 1, 2, 3, 4]  # qid 3 is deleted → must vanish as a query too
    live_q = [q for q in qids if q not in deleted]

    build_lsh_index(spark, emb, str(tmp_path / "lsh"), tables=8)
    build_ivf_index(spark, emb, str(tmp_path / "ivf"))
    lsh = LshIndex(spark, str(tmp_path / "lsh"))
    ivf = IvfIndex(spark, str(tmp_path / "ivf"))

    frames = {
        "lsh": lsh.topk_for_ids(qids, 10, radius=1, deleted=deleted),
        "ivf": ivf.topk_for_ids(qids, 10, nprobe=8, deleted=deleted),
        "brute": ann_brute_topk(emb, qids, 10, deleted=deleted),
        "ephemeral": ann_lsh_topk(emb, qids, 10, deleted=deleted),
    }
    for name, df in frames.items():
        rows = df.collect()
        assert rows, name  # live queries still get results
        assert not {r["vec_id"] for r in rows} & deleted, name
        assert {r["query_id"] for r in rows} <= set(live_q), name

    for pairs in (
        cosine_top_pairs(emb, 25, deleted=deleted),
        cosine_top_pairs_lsh(emb, 25, deleted=deleted),
    ):
        rows = pairs.collect()
        assert rows
        ids = {r["a_id"] for r in rows} | {r["b_id"] for r in rows}
        assert not ids & deleted
