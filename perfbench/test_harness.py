"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q -p no:cacheprovider

Covers the percentile rule, the metric-name pattern, job-window
attribution on a toy Spark job, and that the correctness checks fail on
perturbed results (a checker that cannot fail proves nothing).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from harness import (  # noqa: E402
    NAME_RE,
    Tracer,
    attribute_jobs,
    check_name,
    read_jobs,
    read_stages,
    result_line,
    session_env,
    span_stage_totals,
    start_session,
    stop_session,
    tail_percentile,
)


# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize(
    "n, key, rank",
    [(9, None, None), (99, None, None), (100, "p90", 90), (199, "p90", 180), (200, "p95", 190), (1000, "p99", 990)],
)
def test_tail_percentile_needs_ten_beyond(n, key, rank):
    xs = list(range(n, 0, -1))  # unsorted input
    out = tail_percentile(xs)
    assert out["n"] == n
    tails = [k for k in out if k not in ("n", "p50")]
    if key is None:
        assert tails == []
    else:
        assert tails == [key]
        assert out[key] == rank  # nearest rank of 1..n
        assert sum(x > out[key] for x in xs) >= 10


def test_median_even_and_odd():
    assert tail_percentile([3, 1, 2])["p50"] == 2
    assert tail_percentile([4, 1, 3, 2])["p50"] == 2.5


# ------------------------------------------------------------ names


@pytest.mark.parametrize("name", ["setup_s", "wand.plan_ms", "index_store.load_postings_ms", "a", "9-x", "x" * 64])
def test_metric_name_accepted(name):
    assert check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65])
def test_metric_name_rejected(name):
    with pytest.raises(ValueError):
        check_name(name)


def test_benchmark_json_names_match_pattern():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.fullmatch(n) for n in names)
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_result_line_is_compact_and_validated():
    line = result_line(True, 3, 0, {"setup_s": {"value": 1.25, "unit": "s"}})
    assert "\n" not in line and json.loads(line)["attempted"] == 3
    with pytest.raises(ValueError):
        result_line(True, 3, 0, {"bad name": {"value": 1.0, "unit": "s"}})
    with pytest.raises(ValueError):
        result_line(True, 3, 0, {"x": {"value": float("nan"), "unit": "s"}})


# ------------------------------------------------------------ job windows


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    session_env(ROOT, work)
    s = start_session(work, cores=1)
    yield s
    stop_session(s)


def test_job_window_attribution_on_toy_job(spark):
    tr = Tracer(True)
    spark.range(5).count()  # before any span: attributed to none
    with tr.span("one"):
        spark.range(10).count()
    with tr.span("idle"):
        time.sleep(0.05)
    with tr.span("outer"):
        spark.range(7).collect()
        with tr.span("inner"):
            spark.range(3).collect()
            spark.range(4).collect()
    spans = tr.spans
    jobs = read_jobs(spark)
    by_span = attribute_jobs(spans, jobs)
    sid = {s["name"]: s["id"] for s in spans}
    assert len(by_span[sid["one"]]) >= 1
    assert by_span[sid["idle"]] == []
    assert len(by_span[sid["inner"]]) >= 2
    # outer keeps only its own job; its totals include the inner span's
    assert len(by_span[sid["outer"]]) >= 1
    assert not set(by_span[sid["outer"]]) & set(by_span[sid["inner"]])
    attributed = sorted(j for ids in by_span.values() for j in ids)
    assert attributed == sorted(set(attributed))  # no job counted twice
    first = min(attributed)
    assert [j["job"] for j in jobs if j["job"] < first]  # the pre-span job stays out
    # the window is contiguous: one sequential client
    assert attributed == list(range(first, first + len(attributed)))
    stages = read_stages(spark)
    by_id = {j["job"]: j for j in jobs}
    outer = span_stage_totals([sid["outer"]], spans, by_span, by_id, stages)
    inner = span_stage_totals([sid["inner"]], spans, by_span, by_id, stages)
    assert outer["jobs"] == len(by_span[sid["outer"]]) + inner["jobs"]
    assert inner["numTasks"] >= inner["jobs"] >= 2


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("parent"):
        time.sleep(0.02)
        with tr.span("child"):
            time.sleep(0.05)
    st = tr.self_time()
    assert 0.015 < st["parent"] < 0.045
    assert st["child"] >= 0.05


def test_disabled_tracer_records_nothing():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer(False)
    tr.wrap(mod, "f", "f")
    with tr.span("x"):
        assert mod.f(1) == 2
    assert tr.spans == []


# ------------------------------------------------------------ checkers


@pytest.fixture(scope="module")
def lex(tmp_path_factory):
    from oracle import LexicalOracle

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    rng = np.random.default_rng(7)
    rows = [
        {"conv_id": f"conv-{c:06d}", "turn_idx": t, "text": " ".join(rng.choice(words, int(rng.integers(4, 12))))}
        for c in range(40)
        for t in range(3)
    ]
    path = str(tmp_path_factory.mktemp("corpus") / "base.parquet")
    pd.DataFrame(rows).to_parquet(path)
    o = LexicalOracle()
    o.add_part(path, 0)
    yield o
    o.close()


OPS = [
    ("bm25", {"text": "alpha beta"}),
    ("phrase", {"text": "alpha beta"}),
    ("near", {"text": "alpha gamma", "slop": 2}),
    ("boolean", {"must": "alpha", "should": "beta", "must_not": "zeta"}),
    ("prefix", {"text": "th", "max_expansions": 64}),
]


def _raw(lex, op, a, k):
    """The unrewritten oracle_sql query, run directly."""
    from search_spark import oracle_sql as q

    d = "SELECT doc_id, text FROM o_docs"
    sql = {
        "bm25": lambda: q.bm25_topk_sql(a["text"], k, d),
        "phrase": lambda: q.phrase_topk_sql(a["text"], k, d),
        "near": lambda: q.near_topk_sql(a["text"], a["slop"], k, d),
        "boolean": lambda: q.boolean_topk_sql(a["must"], a["should"], a["must_not"], k, d),
        "prefix": lambda: q.prefix_topk_sql(a["text"], k, a["max_expansions"], d),
    }[op]()
    rows = lex.con.execute(sql).fetchall()
    return [(r[0], r[2], r[3]) if op in ("phrase", "near") else (r[0], r[2]) for r in rows]


@pytest.mark.parametrize("op, args", OPS)
def test_materialized_oracle_equals_inline_oracle(lex, op, args):
    got = lex.expected(op, args, 10)
    assert got and got == _raw(lex, op, args, 10)


def _as_engine(op, want):
    """Engine-shaped rows that reproduce the oracle's answer."""
    out = []
    for rank, w in enumerate(want, 1):
        r = {"doc_id": w[0], "score": w[1] / 1e6, "rank": rank}
        if op in ("phrase", "near"):
            r["ptf"] = w[2]
        out.append(r)
    return out


@pytest.mark.parametrize("op, args", OPS)
def test_checker_flags_perturbed_topk(lex, op, args):
    from oracle import engine_rows

    want = lex.expected(op, args, 10)
    rows = _as_engine(op, want)
    assert engine_rows(op, rows) == want
    assert len(rows) >= 2
    swapped = [rows[1], rows[0], *rows[2:]]
    other_doc = [{**rows[0], "doc_id": rows[0]["doc_id"] + 10_000}, *rows[1:]]
    off_by_one_micro = [{**rows[0], "score": rows[0]["score"] + 1e-6}, *rows[1:]]
    for bad in (swapped, other_doc, off_by_one_micro, rows[:-1]):
        assert engine_rows(op, bad) != want


def test_ann_checker_flags_wrong_scores_and_missed_neighbours():
    from oracle import AnnOracle

    rng = np.random.default_rng(3)
    E = rng.normal(size=(200, 8))
    ann = AnnOracle(E)
    q = E[17]
    ids = ann.topk(q, 10)
    cos = ann.cos_micro(q, np.array(ids))
    rows = [{"vec_id": i, "cos_micro": int(c), "rank": r} for r, (i, c) in enumerate(zip(ids, cos), 1)]
    assert ids[0] == 17
    assert ann.check(q, rows, 10) == (True, 1.0)
    wrong = [{**rows[0], "cos_micro": rows[0]["cos_micro"] - 5}, *rows[1:]]
    assert ann.check(q, wrong, 10)[0] is False
    swapped = [{**rows[1], "rank": 1}, {**rows[0], "rank": 2}, *rows[2:]]
    assert ann.check(q, swapped, 10)[0] is False
    far = int(np.argmin(ann.cos_micro(q, np.arange(200))))
    missed = rows[:-1] + [{"vec_id": far, "cos_micro": int(ann.cos_micro(q, np.array([far]))[0]), "rank": 10}]
    exact, recall = ann.check(q, missed, 10)
    assert exact is True and recall == 0.9
