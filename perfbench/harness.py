"""Measurement plumbing for the benchmark: host-fitted Spark session,
span tracer with job-window stage metrics, /proc samplers, percentile
rules and the result format.

Nothing here imports the engine, so the self-tests can exercise it on a
toy Spark job.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import subprocess
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

#: metric names: start with a letter or digit, at most 64 of [A-Za-z0-9_.-]
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


# ---------------------------------------------------------------- statistics


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(xs: list[float], min_beyond: int = 10) -> dict:
    """Median plus the highest of p99/p95/p90 that has at least
    ``min_beyond`` samples above it (nearest-rank), with the sample count.
    p90 therefore needs n >= 100; below that only the median is given."""
    s = sorted(xs)
    n = len(s)
    out = {"n": n, "p50": median(s)}
    for p in (99, 95, 90):
        rank = math.ceil(p / 100 * n)  # 1-based nearest rank
        if n - rank >= min_beyond:
            out[f"p{p}"] = s[rank - 1]
            break
    return out


# ---------------------------------------------------------------- host probes


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])


class StealMeter:
    """Share of CPU time stolen by the hypervisor, per named phase."""

    def __init__(self):
        self.phases: dict[str, float] = {}
        self._t = cpu_times()

    def mark(self, phase: str) -> None:
        now = cpu_times()
        d_total = now[1] - self._t[1]
        self.phases[phase] = (now[0] - self._t[0]) / d_total if d_total else 0.0
        self._t = now


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the Spark
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------- session


def session_env(root: str, work: str) -> None:
    """Environment the driver JVM and its Python workers inherit: the
    checkout on PYTHONPATH (workers unpickle engine closures), this
    interpreter for the workers, and scratch space inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root if not pp else root + os.pathsep + pp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM would otherwise keep perf data in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(work: str, cores: int | None = None):
    """``local[cores]`` session sized to this host: cores from the CPU
    affinity mask, driver heap an eighth of RAM within [1, 4] GiB, no UI
    and no console progress bar (stdout carries only the result line)."""
    from pyspark.sql import SparkSession

    cores = cores or host_cores()
    heap_mb = min(4096, max(1024, host_mem_mb() // 8))
    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warmup(spark) -> None:
    """The session's first job (JVM class loading, code generation).
    Python workers start inside the first engine call that needs them,
    as they would for any user of a fresh session."""
    spark.range(0, 64, 1, 4).selectExpr("sum(id)").collect()


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM, and wait for every process this
    run started (JVM and Python workers) to exit."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return True


# ---------------------------------------------------------------- tracing

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "inputRecords",
    "shuffleWriteBytes",
    "numTasks",
)


class Tracer:
    """Spans recorded from the benchmark's side of each layer boundary.

    A span is (id, name, parent, op, start, end); spans of one benchmark
    operation share ``op``.  Spans stay in memory; the run writes them to
    its result file at the end.  When disabled, ``span`` and ``wrap`` are
    no-ops, so the untraced run executes the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._installed: list[tuple[object, str, object]] = []
        self._op = 0

    def new_op(self) -> None:
        self._op += 1

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def _span(self, name: str):
        stack = self._stack()
        # a span opened on a helper thread (e.g. the indexer's unit pool)
        # hangs under whatever the main thread has open
        top = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "parent": top["id"] if top else None, "op": self._op}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        rec["wall0"], rec["t0"] = time.time(), time.perf_counter()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["wall1"] = time.time()
            stack.pop()

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module global or class attribute) by
        a wrapper recording a span around each call."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer._span(name):
                return orig(*a, **kw)

        wrapped.__wrapped__ = orig
        self._installed.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def self_time(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        direct child spans (seconds)."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["t1"] - s["t0"] - kids.get(s["id"], 0.0)
        return out


def span_cost_s(n: int = 2000) -> float:
    """Measured cost of one traced call: a wrapped no-op call recording its
    span, minus the bare call."""
    import types

    mod = types.SimpleNamespace(f=lambda: None)
    tr = Tracer(True)
    tr.wrap(mod, "f", "f")
    t0 = time.perf_counter()
    for _ in range(n):
        mod.f()
    traced = time.perf_counter() - t0
    f = mod.f.__wrapped__
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    return max(0.0, traced - (time.perf_counter() - t0)) / n


def _drain_listener_bus(jsc, timeout_ms: int = 10000) -> None:
    """Wait until the status store has seen every event posted so far."""
    from py4j.protocol import Py4JError

    try:
        jsc.listenerBus().waitUntilEmpty(timeout_ms)
    except Py4JError:  # internal signature drift: fall back to a short wait
        time.sleep(1.0)


def read_jobs(spark) -> list[dict]:
    """Every job in the status store: id, submission epoch-ms, stage ids."""
    jsc = spark._jsc.sc()
    _drain_listener_bus(jsc)
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        ids = j.stageIds()
        out.append(
            {
                "job": int(j.jobId()),
                "submitted_ms": int(sub.get().getTime()) if sub.isDefined() else None,
                "stages": [int(ids.apply(k)) for k in range(ids.size())],
            }
        )
    return sorted(out, key=lambda r: r["job"])


def read_stages(spark) -> dict[int, dict]:
    """stage id → summed STAGE_FIELDS over its attempts, from the JVM
    AppStatusStore (populated with the UI disabled)."""
    jsc = spark._jsc.sc()
    gw = spark.sparkContext._gateway
    empty = gw.jvm.java.util.ArrayList()
    stages = jsc.statusStore().stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)
    out: dict[int, dict] = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        rec = out.setdefault(int(s.stageId()), dict.fromkeys(STAGE_FIELDS, 0))
        for f in STAGE_FIELDS:
            rec[f] += int(getattr(s, f)())
    return out


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[int]]:
    """span id → ids of the jobs submitted inside it and inside none of its
    children.  The load is one sequential client, so the jobs of a span
    are the contiguous job-id window opened between its start and end."""
    out: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for j in jobs:
        t = j["submitted_ms"]
        if t is None:
            continue
        best = None
        for s in spans:
            # the JVM stamps whole milliseconds: widen by 1 ms at each end
            if s["wall0"] * 1e3 - 1 <= t <= s["wall1"] * 1e3 + 1:
                if best is None or s["wall0"] >= best["wall0"]:
                    best = s  # the innermost (latest-started) enclosing span
        if best is not None:
            out[best["id"]].append(j["job"])
    return out


def span_stage_totals(
    span_ids: list[int],
    spans: list[dict],
    by_span: dict[int, list[int]],
    jobs: dict[int, dict],
    stages: dict[int, dict],
) -> dict:
    """Jobs and stage metrics of the given spans and all their descendants."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    todo, job_ids = list(span_ids), []
    while todo:
        sid = todo.pop()
        job_ids.extend(by_span.get(sid, []))
        todo.extend(children.get(sid, []))
    tot = dict.fromkeys(STAGE_FIELDS, 0)
    seen: set[int] = set()
    for jid in job_ids:
        for st in jobs[jid]["stages"]:
            if st in seen or st not in stages:
                continue
            seen.add(st)
            for f in STAGE_FIELDS:
                tot[f] += stages[st][f]
    tot["jobs"] = len(job_ids)
    return tot


# ---------------------------------------------------------------- provenance


def code_provenance(root: str) -> dict:
    """The code commit when the checkout is a git work tree, and always a
    content hash of the engine sources (checkouts need not be git)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "search_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    commit = None
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if r.returncode == 0:
            commit = r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {"commit": commit, "source_sha256": h.hexdigest()}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The compact final stdout line: {correct, attempted, failed, metrics}."""
    for name, m in metrics.items():
        check_name(name)
        if not UNIT_RE.fullmatch(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} for {name}")
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            raise ValueError(f"metric {name} is not a finite number: {m['value']!r}")
    if attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics},
        separators=(",", ":"),
    )
