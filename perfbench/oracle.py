"""Correctness checks for every benchmarked operation, run outside the
timed region.

Lexical results are compared, rank for rank at ``score_micro``, with the
DuckDB oracles of ``search_spark.oracle_sql``.  Those generators inline the
corpus CTEs (tokenize, doc lengths, stats, tf, df) into every query; here
the CTEs are materialized once per corpus state and each generated query is
rewritten to read the tables, which turns a per-query corpus re-tokenize
into a lookup.  ANN results are compared with a numpy brute-force scan.
"""

from __future__ import annotations

import duckdb
import numpy as np

from search_spark import oracle_sql
from search_spark.analyzer import sql_tokens, tokenize

#: CTE name → (inline body emitted by oracle_sql, body reading a table)
_CTE_REWRITES = {
    "tok": (
        f"tok AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM docs)",
        "tok AS (SELECT doc_id, toks FROM o_tok)",
    ),
    "dl": ("dl  AS (SELECT doc_id, len(toks) AS dl FROM tok)", "dl  AS (SELECT doc_id, dl FROM o_dl)"),
    "stats": (
        "stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)",
        "stats AS (SELECT n_docs, avgdl FROM o_stats)",
    ),
    "tf": (
        """tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
    GROUP BY doc_id, term)""",
        "tf AS (SELECT doc_id, term, tf FROM o_tf)",
    ),
    "dft": ("dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term)", "dft AS (SELECT term, df FROM o_dft)"),
}

DOCS_SQL = "SELECT doc_id, text FROM o_docs"
SHARDS = 4


class LexicalOracle:
    """DuckDB oracle over a growing corpus.  ``add_part`` appends rows
    whose doc_id is ``base`` + rank under (conv_id, turn_idx) within the
    part — the engine's assignment for a batch build (base 0) and for each
    stream micro-batch (its reserved range)."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE o_docs (doc_id BIGINT, text VARCHAR)")
        self.con.execute("CREATE TABLE o_tok (doc_id BIGINT, toks VARCHAR[])")
        self._dirty = True

    def add_part(self, parquet_path: str, base: int) -> int:
        self.con.execute(
            f"""INSERT INTO o_docs
            SELECT CAST({base} + row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT), text
            FROM read_parquet('{parquet_path}')"""
        )
        self.con.execute(
            f"""INSERT INTO o_tok SELECT doc_id, {sql_tokens('text')} FROM o_docs
            WHERE doc_id NOT IN (SELECT doc_id FROM o_tok)"""
        )
        self._dirty = True
        return self.con.execute(f"SELECT count(*) FROM read_parquet('{parquet_path}')").fetchone()[0]

    def add_documents(self, documents_parquet: str) -> None:
        """The transcript view of the documents corpus, with doc_id the rank
        under (conv_id, turn_idx) — the oracle twin of
        ``corpus.transcripts_from_documents`` followed by a batch build."""
        self.con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_parquet}')")
        self.con.execute(f"INSERT INTO o_docs {oracle_sql.transcripts_docs_sql()}")
        self.con.execute(f"INSERT INTO o_tok SELECT doc_id, {sql_tokens('text')} FROM o_docs")
        self._dirty = True

    def _refresh(self) -> None:
        if not self._dirty:
            return
        c = self.con
        c.execute("CREATE OR REPLACE TABLE o_dl AS SELECT doc_id, len(toks) AS dl FROM o_tok")
        c.execute("CREATE OR REPLACE TABLE o_stats AS SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM o_dl")
        c.execute(
            """CREATE OR REPLACE TABLE o_tf AS SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM o_tok) GROUP BY doc_id, term"""
        )
        c.execute("CREATE OR REPLACE TABLE o_dft AS SELECT term, count(*) AS df FROM o_tf GROUP BY term")
        self._dirty = False

    def run(self, sql: str, all_of: list[str] | None = None) -> list[tuple]:
        """Execute an oracle_sql query against the materialized CTEs.

        ``all_of`` (phrase and near) restricts the positional scan to docs
        holding every query term; a doc missing one has tf 0 either way.
        It applies only once doc lengths and stats read their tables, so
        the restriction cannot leak into N or avgdl."""
        applied = set()
        for name, (inline, table) in _CTE_REWRITES.items():
            if inline in sql:
                sql = sql.replace(inline, table)
                applied.add(name)
        if all_of and {"tok", "dl", "stats"} <= applied:
            # DuckDB runs a small table's scan on one thread; disjoint
            # doc_id shards let the positional scan use every core
            terms = ", ".join(f"'{t}'" for t in all_of)
            shards = " UNION ALL ".join(
                f"SELECT doc_id, toks FROM o_tok WHERE doc_id % {SHARDS} = {i} AND list_has_all(toks, [{terms}])"
                for i in range(SHARDS)
            )
            sql = sql.replace(_CTE_REWRITES["tok"][1], f"tok AS ({shards})")
        self._refresh()
        return self.con.execute(sql).fetchall()

    def expected(self, op: str, args: dict, k: int) -> list[tuple]:
        """Oracle rows for one operation as (doc_id, score_micro[, ptf])."""
        if op in ("bm25", "probe"):
            rows = self.run(oracle_sql.bm25_topk_sql(args["text"], k, DOCS_SQL))
            return [(r[0], r[2]) for r in rows]
        if op == "phrase":
            rows = self.run(oracle_sql.phrase_topk_sql(args["text"], k, DOCS_SQL), tokenize(args["text"]))
            return [(r[0], r[2], r[3]) for r in rows]
        if op == "near":
            rows = self.run(
                oracle_sql.near_topk_sql(args["text"], args["slop"], k, DOCS_SQL), tokenize(args["text"])
            )
            return [(r[0], r[2], r[3]) for r in rows]
        if op == "boolean":
            rows = self.run(
                oracle_sql.boolean_topk_sql(args["must"], args["should"], args["must_not"], k, DOCS_SQL)
            )
            return [(r[0], r[2]) for r in rows]
        if op == "prefix":
            rows = self.run(oracle_sql.prefix_topk_sql(args["text"], k, args["max_expansions"], DOCS_SQL))
            return [(r[0], r[2]) for r in rows]
        raise ValueError(f"no oracle for op {op!r}")

    def close(self) -> None:
        self.con.close()


def micro(x: float) -> int:
    """Half-up rounding to integer micro-units (the oracle convention)."""
    return int(np.floor(x * 1e6 + 0.5)) if x >= 0 else -int(np.floor(-x * 1e6 + 0.5))


def engine_rows(op: str, rows: list[dict]) -> list[tuple]:
    """Engine output in rank order, in the oracle's tuple shape."""
    if op in ("phrase", "near"):
        return [(r["doc_id"], micro(r["score"]), r["ptf"]) for r in rows]
    return [(r["doc_id"], micro(r["score"])) for r in rows]


def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-paired dot products accumulated dimension by dimension."""
    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc += A[:, i] * B[:, i]
    return acc


class AnnOracle:
    """Brute-force cosine top-k over the whole vector set."""

    def __init__(self, vectors: np.ndarray):
        self.E = np.asarray(vectors, dtype=np.float64)
        self.norms = np.sqrt(_fold_dot(self.E, self.E))

    def cos_micro(self, q: np.ndarray, ids: np.ndarray) -> np.ndarray:
        Q = np.broadcast_to(np.asarray(q, dtype=np.float64), (len(ids), self.E.shape[1]))
        cos = _fold_dot(Q, self.E[ids]) / (np.sqrt(_fold_dot(Q[:1], Q[:1]))[0] * self.norms[ids])
        return np.array([micro(c) for c in cos], dtype=np.int64)

    def topk(self, q: np.ndarray, k: int) -> list[int]:
        ids = np.arange(len(self.E))
        cm = self.cos_micro(q, ids)
        order = np.lexsort((ids, -cm))
        return [int(i) for i in order[:k]]

    def check(self, q: np.ndarray, rows: list[dict], k: int) -> tuple[bool, float]:
        """(exact, recall@k): every returned cosine equals the brute-force
        value (±1 micro for summation rounding), ranks follow (cos DESC,
        vec_id ASC), and the recall of the brute-force top-k."""
        rows = sorted(rows, key=lambda r: r["rank"])
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        got = np.array([r["cos_micro"] for r in rows], dtype=np.int64)
        exact = len(rows) <= k and len(set(ids.tolist())) == len(ids)
        if len(rows):
            exact = exact and bool(np.all(np.abs(self.cos_micro(q, ids) - got) <= 1))
            keys = list(zip((-got).tolist(), ids.tolist()))
            exact = exact and keys == sorted(keys)
        truth = set(self.topk(q, k))
        return exact, len(truth & set(ids.tolist())) / k
