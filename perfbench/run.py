"""Benchmark entry point.

    python3 perfbench/run.py --workload point-small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last stdout line is one compact JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The full record
(provenance, per-phase steal, operations attempted per type, latency
distributions, mismatches, spans and self time) goes to
``.perfbench/results/<workload>-seed<seed>-trace<t>.json``.  Progress and
engine logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import search_spark  # the engine must come from this checkout

    from harness import code_provenance, host_cores, result_line
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    out = run.execute()

    records = run.records
    failed = [r for r in records if "error" in r]
    checked = [r for r in records if "match" in r]
    mismatches = out["checks"]["mismatches"]
    correct = not mismatches and len(checked) + len(failed) == len(records)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    measured = out["layers"] if args.trace else out["e2e"]
    missing = [n for n in listed if n not in measured]
    side = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "provenance": {**code_provenance(ROOT), "format_version": search_spark.FORMAT_VERSION},
        "nproc": host_cores(),
        "steal_frac": run.steal.phases,
        "attempted": dict(Counter(r["op"] for r in records)),
        "failed": dict(Counter(r["op"] for r in failed)),
        "errors": [{"op": r["op"], "error": r["error"]} for r in failed],
        "match_rate": sum(r["match"] for r in checked) / max(1, len(checked)),
        "error_rate": len(failed) / len(records),
        "mismatches": mismatches,
        "latency_ms": run.distributions(),
        "timings_s": run.timings,
        "end_to_end": out["e2e"],
        "per_layer": out["layers"],
    }
    if args.trace:
        side["self_time_s"] = run.self_time
        side["spans"] = run.tracer.spans
    res = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(res, exist_ok=True)
    with open(os.path.join(res, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(side, f, indent=1, default=str)
    if missing:
        print(f"perfbench: run did not measure {missing}", file=sys.stderr)
        return 1
    print(result_line(correct, len(records), len(failed), {n: measured[n] for n in listed}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
