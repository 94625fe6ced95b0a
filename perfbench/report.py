"""Traced-run report for one workload: the per-layer table, the tracing
overhead, and which counters repeat exactly.

    python3 perfbench/report.py --workload term_session --seed 1

Runs ``run.py`` once untraced and twice traced with the same seed and
the ``run_seconds`` of ``BENCHMARK.json``, each in its own process, and
prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Counters that depend only on the inputs and the code, never on timing.
DETERMINISTIC = (
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "py4j.calls",
    "shuffle.write_bytes", "shuffle.read_bytes",
    "python.bytes_sent", "python.bytes_received")


def run_once(workload: str, seed: int, seconds: float,
             traced: bool) -> tuple[dict, dict, list[dict]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(traced))]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                         check=True, cwd=ROOT).stdout
    lines = [json.loads(x) for x in out.splitlines() if x.startswith("{")]
    rows = [x["trace_op"] for x in lines if "trace_op" in x]
    detail = next(x["run"] for x in lines if "run" in x)
    return lines[-1], detail, rows


def report(workload: str, seed: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    plain, plain_detail, _ = run_once(workload, seed, seconds, False)
    traced = [run_once(workload, seed, seconds, True) for _ in range(2)]
    (res1, det1, rows1), (res2, _, rows2) = traced
    layers = {k: v["value"] for k, v in res1["metrics"].items()}
    repeats = {}
    for name in DETERMINISTIC:
        diffs = [abs(a.get(name, 0) - b.get(name, 0))
                 / max(1, abs(a.get(name, 0)))
                 for a, b in zip(rows1, rows2)]
        repeats[name] = {"exact": len(rows1) == len(rows2) and not any(diffs),
                         "max_rel_diff": max(diffs, default=0.0)}
    return {
        "workload": workload, "seed": seed,
        "correct": all(r["correct"] for r in (plain, res1, res2)),
        "per_layer": res1["metrics"],
        "per_op": rows1,
        "tracing_overhead_s": {
            "op_p50": layers["trace.op_p50_s"] - plain_detail["op_p50_s"],
            "setup": (det1["session_start_s"] + det1["generate_s"]
                      + det1["warmup_s"]) - plain["metrics"]["setup_s"]["value"],
        },
        "untraced_op_p50_s": plain_detail["op_p50_s"],
        "counters_repeat_exactly": repeats,
        "job_window_check": det1["job_window_check"],
        "job_count_check": det1["job_count_check"],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    print(json.dumps(report(args.workload, args.seed), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
