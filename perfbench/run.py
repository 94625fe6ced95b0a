"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload term_session --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. One process, one SparkSession, one
client in a closed loop: a first operation on the fresh session, an
untimed warm-up, then a fixed number of timed operations. Every output
is checked against an independent oracle after the session stops.

Standard output: with ``--trace 1`` one JSON line per operation with its
per-layer row, then a JSON line with the run record (warm-up, host
load, CPU steal), then the result line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Per-layer step timers: the median over the timed operations that ran
# the step, or over all that ran it when it is one-time work of the first
# operation (an index or codebook build). Every other per-layer metric
# is the median over the timed operations.
STEP_METRICS = (
    "text.index_s", "dedup.exact_s", "dedup.minhash_s",
    "similarity.codebook_s", "similarity.knn_s", "similarity.pairs_s")
OP_METRICS = (
    "py4j.calls", "text.build_s", "catalyst.plan_s", "scheduler.jobs",
    "scheduler.stages", "scheduler.tasks", "driver.idle_s",
    "dedup.candidate_yield", "cache.mem_bytes", "cache.rdds",
    "python.run_s", "python.bytes_sent", "python.bytes_received",
    "task.run_s", "task.cpu_s", "task.wait_s", "task.gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _stop_jvm() -> None:
    """Stop the py4j JVM (it exits when its stdin closes) and wait for
    it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def failures(wl, outputs: list) -> list[dict]:
    """The operations whose output failed its check or that raised."""
    errors = []
    for i, out in enumerate(outputs):
        errs = ([repr(out)] if isinstance(out, Exception)
                else wl.check(i, out))
        if errs:
            errors.append({"op": i, "errors": errs[:5]})
    return errors


def run(args, work: str) -> tuple[dict, dict, list[dict]]:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS
    from project_2_semantic_similarity_spark.session import get_spark

    wl = WORKLOADS[args.workload](work, args.seed, args.smoke)
    n_timed = wl.timed_ops(args.seconds)
    first_timed = 1 + wl.warmups()
    n_ops = first_timed + n_timed
    traced = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    conf = {"spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    log_dir = os.path.join(work, "eventlog")
    if traced:
        conf.update(trace.event_log_conf(log_dir))

    steal0, ticks0 = _cpu_ticks()
    load0 = os.getloadavg()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", cpus=cpus, extra_conf=conf)
    session_s = time.perf_counter() - t0
    wl.generate(n_ops)
    wl.load(spark)
    gen_s = time.perf_counter() - t0 - session_s

    rec = trace.OpRecorder(spark, traced)
    outputs: list = []
    try:
        for i in range(n_ops):
            kind = ("first" if i == 0 else
                    "warmup" if i < first_timed else "timed")
            out = None
            try:
                with rec.op(i, kind) as record:
                    out = wl.run_op(i, rec)
                if traced:
                    wl.after_op(record, out)
            except Exception as exc:  # counted as a failed operation
                traceback.print_exc()
                out = exc
            outputs.append(out)
    finally:
        t1 = time.perf_counter()
        rec.close()
        spark.stop()
        _stop_jvm()
        t2 = time.perf_counter()

    steal1, ticks1 = _cpu_ticks()
    errors = failures(wl, outputs)
    check_s = time.perf_counter() - t2
    for e in errors:
        print(f"op {e['op']} failed its check: {e['errors']}",
              file=sys.stderr)

    walls = [r["wall_s"] for r in rec.ops]
    timed = walls[first_timed:]
    warm = walls[1:first_timed]
    setup_s = session_s + gen_s + sum(warm)
    # One client in a closed loop: throughput is work per operation over
    # its latency. The median keeps one stalled operation from moving it.
    items_per_s = _median(wl.items(i) / walls[i]
                          for i in range(first_timed, n_ops))
    detail = {
        "workload": wl.name, "seed": args.seed, "traced": traced,
        "cpus": cpus, "warmup_ops": len(warm), "timed_ops": len(timed),
        "warmup_tail_p50_s": _median(warm[-5:]),
        "op_p50_s": _median(timed),
        "op_p90_s": statistics.quantiles(timed, n=10)[-1]
        if len(timed) >= 2 else timed[0],
        f"{wl.unit}_per_s": items_per_s,
        "session_start_s": session_s, "generate_s": gen_s,
        "warmup_s": sum(warm), "first_op_s": walls[0],
        "stop_s": t2 - t1, "check_s": check_s,
        "timed_op_s": [round(x, 4) for x in timed],
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "cpu_steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "failed_ops": [e["op"] for e in errors],
    }
    metrics = {"setup_s": setup_s, "first_op_s": walls[0],
               "op_p50_s": _median(timed), "items_per_s": items_per_s}

    rows: list[dict] = []
    if traced:
        events = trace.parse_event_log(log_dir)
        rows = [dict(trace.op_layers(r, events), op=r["op"], kind=r["kind"])
                for r in rec.ops]
        timed_rows = rows[first_timed:]
        metrics = {"session.start_s": session_s,
                   "trace.op_p50_s": _median(timed)}
        for name in STEP_METRICS:
            metrics[name] = _median([r[name] for r in timed_rows if name in r]
                                    or [r[name] for r in rows if name in r])
        for name in OP_METRICS:
            metrics[name] = _median(r.get(name, 0.0) for r in timed_rows)
        detail["layers"] = metrics
        detail["job_window_check"] = all(r["trace.jobs_in_op"] for r in rows)
        detail["job_count_check"] = all(
            r["scheduler.jobs"] == o["status_jobs"]
            for r, o in zip(rows, rec.ops))

    spec = _spec()["per_layer" if traced else "end_to_end"]
    result = {
        "correct": not errors,
        "attempted": n_ops,
        "failed": len(errors),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec},
    }
    return result, detail, rows


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("term_session", "neardup_knn", "corpus_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and two timed operations (tests)")
    args = p.parse_args(argv)

    # Import this directory as the ``perfbench`` package, never as
    # top-level modules, and let Spark's Python workers find the engine.
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [d for d in sys.path
                            if os.path.abspath(d or ".") != here]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Keep every file the run writes inside the checkout: the JVMs
    # (Spark's launcher and driver) skip their /tmp perf-data file,
    # and an inherited SPARK_LOCAL_DIRS would override spark.local.dir.
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}"]))
    os.environ["P2SS_SCRATCH_DIR"] = os.path.join(work, "p2ss")
    tempfile.tempdir = None
    try:
        result, detail, rows = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    for row in rows:
        print(json.dumps({"trace_op": row}))
    print(json.dumps({"run": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
