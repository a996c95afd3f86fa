"""The benchmark's workloads and the run that drives them.

Each run is one closed-loop, single-client session on ``local[nproc]``:
set-up (session, warm-up, inputs, index build), a timed loop of
``--seconds``, a post phase, then the correctness checks.  Both workloads
build, compact and serve single BM25 and fulltext calls; each adds the
layer its regime is about.

``point-small``
    Interactive serving on the checked-in documents corpus (5,000 turns)
    and its 2,000 vectors.  Set-up builds the index, compacts it and builds
    the LSH index; the timed loop mixes single BM25, phrase, near, boolean
    and ANN calls against the compacted store with a warm term cache.  Postings are tiny, so the per-call floor (Spark jobs, Python
    workers, plan building) dominates and the scorer does almost no work.

``stream-fresh``
    Writes beside reads on a seeded synthetic transcript corpus.  Set-up
    builds a ~3k-turn base index; the timed loop lands ~1.4k-turn parquet
    micro-batches one at a time and, for each, runs ``start_ingest``,
    ``finalize_stream``, ``IndexReader.refresh``, a probe for a token
    planted in that batch, then three BM25 and two prefix calls.  Every
    refresh empties the term cache and every batch adds a segment, so
    queries take the cold, fragmented path; compaction runs after the loop.

The seed picks the queries, the conversation window, the planted probe
rows and the ANN query ids; the engine receives only the generated inputs.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
import zlib
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import (
    RssSampler,
    StealMeter,
    Tracer,
    attribute_jobs,
    host_cores,
    median,
    read_jobs,
    read_stages,
    session_env,
    span_cost_s,
    span_stage_totals,
    start_session,
    stop_session,
    tail_percentile,
    warmup,
)

K = 10
#: an operation slower than this counts as failed (timed out)
OP_DEADLINE_S = 60.0
FULLTEXT = ["phrase", "near", "boolean", "prefix"]

WORKLOADS = {
    "point-small": {
        "corpus": "documents",
        "schedule": [
            "bm25", "phrase", "bm25", "near", "ann", "bm25", "boolean",
            "bm25", "phrase", "bm25", "near", "bm25", "boolean",
        ],
    },
    "stream-fresh": {
        "corpus": "synthetic",
        "base_convs": 400,
        "stream_convs": 200,
        # after each landed batch and its probe
        "schedule": ["bm25", "prefix", "bm25", "prefix", "bm25"],
    },
}

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def write_transcripts(pdf: pd.DataFrame, path: str) -> None:
    # ts stays Python datetimes: arrow stores them as microseconds, while a
    # pandas nanosecond column would overflow for conversation ordinals
    # beyond ~86k (corpus.gen_conv advances a day per conversation)
    pq.write_table(pa.Table.from_pandas(pdf[TRANSCRIPT_SCHEMA.names], schema=TRANSCRIPT_SCHEMA, preserve_index=False), path)


def text_bytes(texts: pd.Series) -> int:
    return int(texts.str.encode("utf-8").str.len().sum())


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``."""
    n = b = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, fn))
    return n, b


class QueryGen:
    """Seeded query arguments drawn from the corpus text itself, so every
    phrase, near and boolean query has at least one match."""

    def __init__(self, rng: np.random.Generator, texts: list[str], fixed: list[str]):
        from search_spark.analyzer import tokenize

        self.rng = rng
        self.docs = [t for t in (tokenize(x) for x in texts) if len(t) >= 4]
        self.vocab = sorted({t for d in self.docs for t in d})
        self.fixed = fixed

    def _pick(self, seq):
        return seq[int(self.rng.integers(len(seq)))]

    def _token(self, min_len: int = 1) -> str:
        while True:
            t = self._pick(self._pick(self.docs))
            if len(t) >= min_len:
                return t

    def bm25(self) -> dict:
        """A fixture query or 1-6 tokens at corpus frequency (Zipf)."""
        if self.fixed and self.rng.random() < 0.25:
            return {"text": self._pick(self.fixed)}
        return {"text": " ".join(self._token() for _ in range(int(self.rng.integers(1, 7))))}

    def phrase(self) -> dict:
        d = self._pick(self.docs)
        i = int(self.rng.integers(len(d) - 1))
        return {"text": f"{d[i]} {d[i + 1]}"}

    def near(self) -> dict:
        d = self._pick(self.docs)
        i = int(self.rng.integers(len(d) - 3))
        return {"text": f"{d[i]} {d[i + int(self.rng.integers(1, 4))]}", "slop": 2}

    def boolean(self) -> dict:
        d = self._pick(self.docs)
        a, b = self._pick(d), self._pick(d)
        return {"must": a, "should": b, "must_not": self._pick([t for t in self.vocab if t not in (a, b)])}

    def prefix(self) -> dict:
        from search_spark.operators.prefix import MAX_EXPANSIONS

        t = self._token(3)
        return {"text": t[:-1], "max_expansions": MAX_EXPANSIONS}


class Run:
    """One benchmark run: set-up, timed loop, post phase, checks."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.data = os.path.join(root, "perfbench", "data")
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
        self.tracer = Tracer(trace)
        self.work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
        self.records: list[dict] = []
        self.timings: dict[str, float] = {}
        self.steal = StealMeter()
        self.batches: list[dict] = []  # micro-batches: path, probe token, turns, text bytes
        self.state = 0  # micro-batches visible to the reader
        self.lsh = None
        self.t_start = time.perf_counter()

    # ------------------------------------------------------------ plumbing

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def timed(self, name: str, fn):
        """Time one engine phase (and record it as a span when tracing)."""
        self.log(name)
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.timings[name] = self.timings.get(name, 0.0) + time.perf_counter() - t0
        return out

    def op(self, kind: str, args: dict, fn) -> dict:
        """Run one checked operation; ``fn`` returns the collected rows.
        An exception or a deadline overrun is recorded as a failure."""
        tr = self.tracer
        tr.new_op()
        rec = {"op": kind, "args": args, "state": self.state}
        t0 = time.perf_counter()
        try:
            with tr.span(f"op.{kind}"):
                rec["rows"] = [r.asDict() for r in fn()]
            rec["s"] = time.perf_counter() - t0
            if rec["s"] > OP_DEADLINE_S:
                rec["error"] = f"timed out ({rec['s']:.1f} s > {OP_DEADLINE_S} s)"
        except Exception as e:  # an engine failure is a result, not a crash
            rec["s"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        self.records.append(rec)
        return rec

    # ------------------------------------------------------------ inputs

    def make_inputs(self) -> None:
        """Base corpus (a Spark DataFrame for the build, text for query
        generation) and, for the stream workload, its first micro-batch."""
        if self.cfg["corpus"] == "documents":
            from search_spark.corpus import transcripts_from_documents
            from search_spark.sources.queryset import load_queryset_py

            self.base_df = transcripts_from_documents(self.spark, self.data)
            texts = pq.read_table(os.path.join(self.data, "documents.parquet"), columns=["text"]).column("text").to_pandas()
            fixed = [t for _, t in load_queryset_py(os.path.join(self.root, "fixtures", "queries.tsv"))]
        else:
            os.makedirs(os.path.join(self.work, "inputs"))
            self.conv0 = int(self.rng.integers(0, 200_000))
            base = self._convs(self.conv0, self.cfg["base_convs"])
            self.base_path = os.path.join(self.work, "inputs", "base.parquet")
            write_transcripts(base, self.base_path)
            self.base_df = self.spark.read.parquet(self.base_path)
            texts, fixed = base["text"], []
            self._next_batch()
        self.n_base = len(texts)
        self.base_text_bytes = text_bytes(texts)
        self.gen = QueryGen(self.rng, texts.tolist(), fixed)

    @staticmethod
    def _convs(first: int, n: int) -> pd.DataFrame:
        from search_spark.corpus import gen_conv

        return pd.DataFrame([r for c in range(first, first + n) for r in gen_conv(c)])

    def _next_batch(self) -> None:
        """Generate the next micro-batch, with a token found nowhere else
        in the corpus planted in one seeded turn."""
        i, n = len(self.batches), self.cfg["stream_convs"]
        b = self._convs(self.conv0 + self.cfg["base_convs"] + i * n, n)
        token = f"fresh{self.seed % 100000:05d}x{i:03d}"
        row = int(self.rng.integers(len(b)))
        b.loc[row, "text"] = b.loc[row, "text"] + " " + token
        path = os.path.join(self.work, "inputs", f"batch-{i:03d}.parquet")
        write_transcripts(b, path)
        self.batches.append({"path": path, "probe": token, "turns": len(b), "text_bytes": text_bytes(b["text"])})

    def load_vectors(self) -> None:
        emb = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
        self.vec_ids = emb.column("vec_id").to_numpy()
        self.vectors = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))

    # ------------------------------------------------------------ engine phases

    def build(self) -> None:
        from search_spark.operators.indexer import build_index
        from search_spark.sources.index_store import IndexStore

        # geometry scaled to the corpus, so a small corpus does not pay
        # big-corpus unit and bucket constants
        bucket = max(512, min(4096, self.n_base // 16))
        self.store = IndexStore(os.path.join(self.work, "index"), doc_bucket_size=bucket, term_buckets=16)
        self.timed("op.build", lambda: build_index(self.spark, self.base_df, self.store, n_units=1))

    def open_reader(self) -> None:
        from search_spark.operators.wand import IndexReader

        self.reader = self.timed("wand.open", lambda: IndexReader(self.spark, self.store))

    def build_ann(self) -> None:
        from search_spark.operators.ann_index import LshIndex, build_lsh_index

        root = os.path.join(self.work, "lsh")
        emb = self.spark.read.parquet(os.path.join(self.data, "embeddings.parquet")).select("vec_id", "embedding")
        self.timed("ann_index.build", lambda: build_lsh_index(self.spark, emb, root))
        self.lsh = self.timed("ann_index.open", lambda: LshIndex(self.spark, root))

    def compact(self) -> None:
        from search_spark.operators.compact import compact_index

        self.files_before = self.postings_files()
        self.timed("compact.compact_index", lambda: compact_index(self.spark, self.store))
        self.files_after = self.postings_files()
        self.timed("wand.reopen", self.reader.refresh)

    def postings_files(self) -> tuple[int, int]:
        n = b = 0
        for rel in self.store.covered_segments() or ["postings", "stream_postings"]:
            fn, fb = dir_bytes(os.path.join(self.store.root, rel), ".parquet")
            n, b = n + fn, b + fb
        return n, b

    def fresh_cycle(self) -> None:
        """Land the next micro-batch and time it until the probe finds it."""
        from search_spark.streaming.ingest import finalize_stream, start_ingest

        i = self.state
        if i == len(self.batches):
            self._next_batch()
        batch = self.batches[i]
        src = os.path.join(self.work, "stream-src")
        os.makedirs(src, exist_ok=True)
        staged = os.path.join(self.work, "inputs", "staged.parquet")
        shutil.copyfile(batch["path"], staged)
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(src, f"batch-{i:03d}.parquet"))  # the batch lands

        def ingest():
            q = start_ingest(self.spark, src, self.store, os.path.join(self.work, "stream-cp"), available_now=True)
            q.awaitTermination()

        self.timed("ingest.microbatch", ingest)
        self.timed("ingest.finalize_stream", lambda: finalize_stream(self.spark, self.store))
        ingest_s = time.perf_counter() - t0
        self.timed("ingest.refresh", self.reader.refresh)
        self.state = i + 1
        token = batch["probe"]
        rec = self.op("probe", {"text": token}, lambda: self.reader.batch_search([("q", token)], K).collect())
        if "error" not in rec and not rec["rows"]:
            rec["error"] = f"probe for {token} returned no rows"
        rec.update(fresh_s=time.perf_counter() - t0, ingest_s=ingest_s, turns=batch["turns"])

    def run_op(self, kind: str) -> dict:
        from search_spark.operators.boolean import boolean_search
        from search_spark.operators.phrase import near_search, phrase_search
        from search_spark.operators.prefix import prefix_search

        r, tr = self.reader, self.tracer
        if kind == "bm25":
            a = self.gen.bm25()

            def fn():
                with tr.span("wand.plan"):
                    df = r.batch_search([("q", a["text"])], K)
                with tr.span("wand.exec"):
                    return df.collect()

            rec = self.op("bm25", a, fn)
            if tr.enabled and "error" not in rec:
                # traced runs only: the candidate postings the scorer was handed
                from pyspark.sql import functions as F

                from search_spark.analyzer import tokenize

                got = r.candidate_blocks(sorted(set(tokenize(a["text"])))).agg(F.sum("n_docs")).first()[0]
                rec["candidate_postings"] = int(got or 0)
            return rec
        if kind == "ann":
            row = int(self.rng.integers(len(self.vec_ids)))
            a = {"vec_id": int(self.vec_ids[row]), "row": row}
            vec = self.vectors[row].tolist()
            # default arguments, so a change of the default budget shows
            return self.op("ann", a, lambda: self.lsh.topk([(a["vec_id"], vec)], K).collect())
        a = getattr(self.gen, kind)()
        call = {
            "phrase": lambda: phrase_search(r, a["text"], K),
            "near": lambda: near_search(r, a["text"], a["slop"], K),
            "boolean": lambda: boolean_search(r, a["must"], a["should"], a["must_not"], K),
            "prefix": lambda: prefix_search(r, a["text"], K, a["max_expansions"]),
        }[kind]
        return self.op(kind, a, lambda: call().collect())

    # ------------------------------------------------------------ run phases

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = self.timed("session.start", lambda: start_session(self.work))
        self.timed("session.warmup", lambda: warmup(self.spark))
        self.make_inputs()
        self._install_wrappers()
        self.build()
        self.open_reader()
        if self.name == "point-small":
            self.compact()
            self.load_vectors()
            self.build_ann()
        self.timings["setup"] = time.perf_counter() - t0
        self.steal.mark("setup")

    def timed_loop(self) -> None:
        """Closed loop: the next operation starts when the previous one
        returns.  Whole passes of the schedule (for stream-fresh, each
        after landing a micro-batch) run until ``seconds`` have passed, so
        every run measures the same mix."""
        self.log("timed loop")
        t_end = time.perf_counter() + self.seconds
        while True:
            if self.name == "stream-fresh":
                self.fresh_cycle()
            for kind in self.cfg["schedule"]:
                self.run_op(kind)
            if time.perf_counter() >= t_end:
                break
        self.steal.mark("timed_loop")

    def post(self) -> None:
        landed = self.batches[: self.state]
        self.n_docs = self.n_base + sum(b["turns"] for b in landed)
        self.store_shape = self._store_shape()
        if self.name == "stream-fresh":
            self.compact()
        corpus_bytes = self.base_text_bytes + sum(b["text_bytes"] for b in landed)
        self.index_bytes_per_text_byte = dir_bytes(self.store.root)[1] / corpus_bytes
        self.steal.mark("post")

    def _store_shape(self) -> dict:
        files, fbytes = self.postings_files()
        segs = self.store.covered_segments()
        return {
            "postings_files": files,
            # without a covered-segments list: the one build unit plus one
            # segment per landed micro-batch
            "segments": len(segs) if segs is not None else 1 + self.state,
            "postings_bytes_per_turn": fbytes / self.n_docs,
            "dictionary_bytes": dir_bytes(self.store.dictionary_path)[1],
        }

    def _install_wrappers(self) -> None:
        """Traced runs: spans around engine entry points the benchmark does
        not call itself.  ``build_index`` looks the phase functions up as
        module globals, so replacing the attributes needs no engine change."""
        from search_spark.operators import indexer
        from search_spark.operators.wand import IndexReader
        from search_spark.sources.index_store import IndexStore

        tr = self.tracer
        tr.wrap(indexer, "stage_docs", "indexer.stage_docs")
        tr.wrap(indexer, "build_unit", "indexer.build_unit")
        tr.wrap(indexer, "finalize", "indexer.finalize")
        tr.wrap(IndexStore, "load_postings_df", "index_store.load_postings")
        tr.wrap(IndexReader, "refresh", "wand.refresh")

    # ------------------------------------------------------------ checks

    def check(self) -> dict:
        """Compare every recorded operation with its oracle; a mismatch is
        marked on the record and listed."""
        from oracle import AnnOracle, LexicalOracle, engine_rows
        from search_spark.streaming.ingest import STREAM_DOC_BASE

        lex = LexicalOracle()
        ann = AnnOracle(self.vectors) if self.lsh is not None else None
        if self.cfg["corpus"] == "documents":
            lex.add_documents(os.path.join(self.data, "documents.parquet"))
        else:
            lex.add_part(self.base_path, 0)
        parts = offset = 0
        mism, recalls = [], []
        try:
            for rec in sorted(self.records, key=lambda r: r["state"]):
                while parts < rec["state"]:
                    offset += lex.add_part(self.batches[parts]["path"], STREAM_DOC_BASE + offset)
                    parts += 1
                if "error" in rec:
                    continue
                kind = rec["op"]
                if kind == "ann":
                    ok, recall = ann.check(self.vectors[rec["args"]["row"]], rec["rows"], K)
                    recalls.append(recall)
                else:
                    rows = rec["rows"]
                    if rows and "rank" in rows[0]:
                        rows = sorted(rows, key=lambda r: r["rank"])
                    ok = engine_rows(kind, rows) == lex.expected(kind, rec["args"], K)
                rec["match"] = ok
                if not ok:
                    mism.append({"op": kind, "args": rec["args"]})
        finally:
            lex.close()
        return {"mismatches": mism, "recalls": recalls}

    # ------------------------------------------------------------ metrics

    def end_to_end(self, checks: dict) -> dict:
        """Every end-to-end metric this run measured: the ones every
        workload has, plus ANN (point-small) or freshness (stream-fresh)."""
        ok = [r for r in self.records if "error" not in r]

        def p50_ms(kinds):
            xs = [r["s"] * 1e3 for r in ok if r["op"] in kinds]
            return median(xs) if xs else None

        t = self.timings
        probes = [r for r in ok if r["op"] == "probe"]
        m = {
            "setup_s": (t["setup"], "s"),
            "bm25_p50_ms": (p50_ms({"bm25"}), "ms"),
            "fulltext_p50_ms": (p50_ms(set(FULLTEXT)), "ms"),
            "build_turns_per_s": (self.n_base / t["op.build"], "turns/s"),
            "compact_s": (t["compact.compact_index"], "s"),
            "index_bytes_per_text_byte": (self.index_bytes_per_text_byte, "ratio"),
            "peak_rss_mb": (self.rss.peak / 2**20, "MB"),
        }
        if self.lsh is not None:
            m["ann_p50_ms"] = (p50_ms({"ann"}), "ms")
            m["ann_recall_at_10"] = (sum(checks["recalls"]) / len(checks["recalls"]) if checks["recalls"] else None, "ratio")
        if probes:
            m["fresh_p50_s"] = (median([r["fresh_s"] for r in probes]), "s")
            m["ingest_turns_per_s"] = (sum(r["turns"] for r in probes) / sum(r["ingest_s"] for r in probes), "turns/s")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items() if v is not None}

    def distributions(self) -> dict:
        by = defaultdict(list)
        for r in self.records:
            if "error" not in r:
                by[r["op"]].append(r["s"] * 1e3)
        return {k: tail_percentile(v) for k, v in sorted(by.items())}

    def per_layer(self) -> dict:
        """Per-layer metrics of a traced run, from its spans and the stage
        metrics of the Spark jobs each span opened."""
        spans = [s for s in self.tracer.spans if "t1" in s]
        jobs = read_jobs(self.spark)
        by_span = attribute_jobs(spans, jobs)
        jobs_by_id = {j["job"]: j for j in jobs}
        stages = read_stages(self.spark)

        def named(*names):
            return [s for s in spans if s["name"] in names]

        def dur(ss):
            return [s["t1"] - s["t0"] for s in ss]

        def p50_ms(ss):
            return median(dur(ss)) * 1e3 if ss else None

        def totals(ss):
            return span_stage_totals([s["id"] for s in ss], spans, by_span, jobs_by_id, stages)

        m: dict[str, tuple] = {
            "session.start_s": (self.timings["session.start"], "s"),
            "session.warmup_s": (self.timings["session.warmup"], "s"),
        }

        build, units = named("op.build"), named("indexer.build_unit")
        bt, build_wall = totals(build), sum(dur(build))
        m.update({
            "indexer.stage_docs_s": (sum(dur(named("indexer.stage_docs"))), "s"),
            "indexer.build_units_s": (max(s["t1"] for s in units) - min(s["t0"] for s in units), "s"),
            "indexer.build_units_busy_s": (sum(dur(units)), "s"),
            "indexer.finalize_s": (sum(dur(named("indexer.finalize"))), "s"),
            "indexer.executor_run_s": (bt["executorRunTime"] / 1e3, "s"),
            "indexer.core_busy_frac": (bt["executorRunTime"] / 1e3 / (build_wall * host_cores()), "ratio"),
            "indexer.tasks": (bt["numTasks"], "count"),
            "indexer.shuffle_write_bytes_per_turn": (bt["shuffleWriteBytes"] / self.n_base, "B/turn"),
        })

        ct = totals(named("compact.compact_index"))
        m.update({
            "compact.files_before": (self.files_before[0], "count"),
            "compact.files_after": (self.files_after[0], "count"),
            "compact.bytes_rewritten_per_turn": (self.files_after[1] / self.n_docs, "B/turn"),
            "compact.executor_run_s": (ct["executorRunTime"] / 1e3, "s"),
        })

        sh = self.store_shape
        m.update({
            "index_store.postings_files": (sh["postings_files"], "count"),
            "index_store.segments": (sh["segments"], "count"),
            "index_store.postings_bytes_per_turn": (sh["postings_bytes_per_turn"], "B/turn"),
            "index_store.dictionary_bytes": (sh["dictionary_bytes"], "B"),
            "index_store.load_postings_ms": (p50_ms(named("index_store.load_postings")), "ms"),
        })

        bm, plans = named("op.bm25"), named("wand.plan")
        qt, nq = totals(bm), max(1, len(bm))
        counted = [r for r in self.records if "candidate_postings" in r]
        m.update({
            "wand.plan_ms": (p50_ms(plans), "ms"),
            "wand.exec_ms": (p50_ms(named("wand.exec")), "ms"),
            "wand.jobs_per_query": (qt["jobs"] / nq, "jobs"),
            "wand.tasks_per_query": (qt["numTasks"] / nq, "tasks"),
            # a plan step that opened no Spark job found every term cached
            "wand.term_cache_hit_ratio": (sum(not by_span[s["id"]] for s in plans) / max(1, len(plans)), "ratio"),
            "wand.refresh_ms": (p50_ms(named("wand.refresh")), "ms"),
            "wand.executor_run_ms_per_query": (qt["executorRunTime"] / nq, "ms"),
            "wand.scan_bytes_per_query": (qt["inputBytes"] / nq, "B"),
            "wand.scan_rows_per_query": (qt["inputRecords"] / nq, "rows"),
            "wand.postings_per_result": (
                sum(r["candidate_postings"] for r in counted) / max(1, sum(len(r["rows"]) for r in counted)),
                "ratio",
            ),
        })

        ft = named(*[f"op.{k}" for k in FULLTEXT])
        m["fulltext.p50_ms"] = (p50_ms(ft), "ms")
        m["fulltext.jobs_per_query"] = (totals(ft)["jobs"] / max(1, len(ft)), "jobs")
        for kind in FULLTEXT:
            ss = named(f"op.{kind}")
            if ss:
                m[f"{kind}.p50_ms"] = (p50_ms(ss), "ms")
                m[f"{kind}.jobs_per_query"] = (totals(ss)["jobs"] / len(ss), "jobs")

        if self.lsh is not None:
            an = named("op.ann")
            at = totals(an)
            m.update({
                "ann_index.open_ms": (self.timings["ann_index.open"] * 1e3, "ms"),
                "ann_index.jobs_per_query": (at["jobs"] / max(1, len(an)), "jobs"),
                "ann_index.scan_rows_per_query": (at["inputRecords"] / max(1, len(an)), "rows"),
            })

        micro, fin = named("ingest.microbatch"), named("ingest.finalize_stream")
        if micro:
            it = totals(micro + fin)
            turns = sum(r["turns"] for r in self.records if r["op"] == "probe")
            m.update({
                "ingest.microbatch_s": (median(dur(micro)), "s"),
                "ingest.finalize_stream_s": (median(dur(fin)), "s"),
                "ingest.refresh_ms": (p50_ms(named("ingest.refresh")), "ms"),
                "ingest.first_query_ms": (p50_ms(named("op.probe")), "ms"),
                "ingest.executor_run_s": (it["executorRunTime"] / 1e3 / len(micro), "s"),
                "ingest.shuffle_write_bytes_per_turn": (it["shuffleWriteBytes"] / turns, "B/turn"),
            })

        m["host.steal_frac"] = (self.steal.phases["timed_loop"], "ratio")
        # what tracing adds to an operation: its spans times the measured
        # cost of one span (wrappers included); the job and stage read-out
        # happens after the measured phases
        spans_per_op = sum(1 for s in spans if s["op"]) / max(1, len({s["op"] for s in spans if s["op"]}))
        m["trace.overhead_ms"] = (spans_per_op * span_cost_s() * 1e3, "ms")
        self.self_time = self.tracer.self_time()
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items() if v is not None}

    # ------------------------------------------------------------ execution

    def execute(self) -> dict:
        os.makedirs(self.work)
        session_env(self.root, self.work)
        self.spark = None
        try:
            with RssSampler() as self.rss:
                try:
                    self.setup()
                    self.timed_loop()
                    self.post()
                    layers = self.per_layer() if self.tracer.enabled else None
                finally:
                    self.tracer.uninstall()
                    if self.spark is not None:
                        self.log("stop")
                        stop_session(self.spark)
            self.log("check")
            checks = self.check()
            self.log("done")
            return {"e2e": self.end_to_end(checks), "layers": layers, "checks": checks}
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
