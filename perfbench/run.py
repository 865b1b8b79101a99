"""Benchmark entry point; run from the root of a checkout of the repo.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Workloads: ``dashboard``, ``medallion``, ``corpus_rounds`` (see
README.md). With ``--trace 0`` the last stdout line is one JSON object
with the gated end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a traced run, and the spans, the Spark event log
and the per-span rollup are kept under ``.perfbench_out/``. The line
before it is a JSON object describing the host and the run, with the
wall-clock latency figures.

Everything the run writes goes under the checkout: inputs, tables and
Spark scratch space in ``.perfbench_work/`` (removed at exit), trace
output in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time starts with the process

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("dashboard", "medallion", "corpus_rounds")


def _driver_mem() -> str:
    """A heap that fits the host: 1 GiB, or a quarter of its memory if
    that is less (the session's own default asks for 48 GiB). A heap this
    size fills before the first measured call, so peak RSS varies little
    from run to run."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(512, min(1024, total_kb // 4096))}m"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "chicago_crash_data_pipeline_dashboard_spark")):
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    harness = None
    try:
        import harness
        import spans

        if args.trace:
            result, host = traced(harness, spans, args, root, work)
        else:
            ph = harness.Phase(args.workload, args.seed, args.seconds, work, None, T_PROCESS)
            try:
                metrics = ph.end_to_end()
                result = _result(ph, metrics, harness.END_TO_END)
                host = ph.host()
                host["wall"] = {k: {"value": metrics[k], "unit": u} for k, u in harness.WALL.items()}
            finally:
                ph.stop()
    finally:
        if harness is not None:
            _stop_jvm(harness)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


def _stop_jvm(harness) -> None:
    """End the gateway JVM and the Python workers it started, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    started = [p for p in harness.process_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = [p for p in started if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in started:
        os.kill(p, signal.SIGKILL)


def _result(ph, metrics: dict, units: dict) -> dict:
    failures = ph.wl.failures
    for msg in failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": ph.wl.attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def traced(harness, spans, args, root: str, work: str):
    """A traced phase (event log, job groups), then an untraced phase of
    the traced phase's first pass, on fresh state in the same JVM. The
    untraced phase reuses a warm JVM, so the reported overhead leans
    high."""
    out = os.path.join(root, ".perfbench_out", f"{args.workload}-{args.seed}")
    shutil.rmtree(out, ignore_errors=True)
    ev_dir = os.path.join(out, "eventlog")
    ph = harness.Phase(args.workload, args.seed, args.seconds, os.path.join(work, "t"),
                       ev_dir, T_PROCESS)
    app = ph.spark.sparkContext.applicationId
    ph.stop()
    ph.tracer.write(os.path.join(out, "spans.jsonl"))
    plain = harness.Phase(args.workload, args.seed, args.seconds, os.path.join(work, "u"),
                          None, time.perf_counter(),
                          max_calls=getattr(ph.wl, "calls_per_pass", 1))
    plain.stop()
    log = next(os.path.join(ev_dir, f) for f in os.listdir(ev_dir) if app in f)
    stats = spans.rollup(log, ph.tracer.spans)
    with open(os.path.join(out, "rollup.jsonl"), "w") as f:
        for s in ph.tracer.spans:
            row = {"id": s.id, "name": s.name, "parent": s.parent, "secs": s.secs}
            f.write(json.dumps({**row, **s.tags, **stats[s.id].as_dict()}) + "\n")
    metrics = harness.layer_metrics(ph, stats, plain)
    res = _result(ph, metrics, harness.PER_LAYER)
    if plain.wl.failures:
        res["correct"] = False
        res["failed"] += len(plain.wl.failures)
    res["attempted"] += plain.wl.attempted
    with open(os.path.join(out, "layers.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    return res, ph.host()


if __name__ == "__main__":
    sys.exit(main())
