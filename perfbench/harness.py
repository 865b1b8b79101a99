"""Session, measurement loop and metrics for one benchmark run.

Load model: a closed loop with one client in one process; each call
starts only after the previous one returns. The loop runs whole passes
(one call per query for ``dashboard``, one round otherwise): as many as
fit in ``--seconds`` at the workload's nominal pass time, at least one,
and at least two calls, so no figure rests on a single call. Every query
in a run has the same number of samples, and both sides of a comparison
do the same work. Every sample counts: nothing is retried and nothing
is dropped as an outlier.
"""

from __future__ import annotations

import glob
import math
import os
import resource
import statistics
import sys
import time

import numpy as np

from chicago_crash_data_pipeline_dashboard_spark.session import get_spark

from corpus import FAMILIES, Corpus
from dashboard import DASHBOARD_QUERIES, Dashboard
from medallion import Medallion
from spans import Tracer, inclusive

WORKLOADS = {w.name: w for w in (Dashboard, Medallion, Corpus)}

# The traced dashboard run starts its corpus round only this many
# seconds into the process (it got there 25-50 s in). The round, the
# untraced phase and the exit took 1.6 times as long as the run before
# them, and a run must end within 180 s.
CORPUS_ROUND_DEADLINE_S = 60.0

# Gated end-to-end metrics. Wall-clock latency is printed beside them
# (WALL) but not gated: on a shared host whose hypervisor steals 0-30%
# of CPU time from one minute to the next, the run-to-run spread of wall
# latency reached 0.48 of its median. CPU per call leaves out the JIT
# compiler threads (see ``jit_cpu_s``).
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cpu_s_per_call": "s",
}
WALL = {
    "latency_p50_s": "s",
    "latency_geomean_s": "s",
    "items_per_s": "1/s",
}


def _per_layer_units() -> dict[str, str]:
    u = {"session.start_s": "s", "session.warmup_s": "s"}
    for m in DASHBOARD_QUERIES:
        u.update({
            f"plans.{m}.build_s": "s", f"plans.{m}.exec_s": "s",
            f"plans.{m}.jobs": "count", f"plans.{m}.eager_jobs": "count",
            f"plans.{m}.executor_cpu_s": "s", f"plans.{m}.shuffle_bytes": "bytes",
        })
    u["plans.non_job_geomean_s"] = "s"
    for k in ("sources.bronze.write_s", "sources.bronze.read_s", "operators.transform.silver_s",
              "sources.silver.csv_roundtrip_s", "streaming.ingest.drain_s",
              "streaming.ingest.zero_drain_s", "operators.gold.verify_s"):
        u[k] = "s"
    u.update({
        "streaming.ingest.batches": "count", "streaming.ingest.drain_jobs": "count",
        "operators.gold.input_bytes_per_round": "bytes", "operators.gold.bytes_per_row": "bytes",
        "operators.gold.files": "count",
    })
    for f in FAMILIES:
        u.update({f"{f}_s": "s", f"{f}.jobs": "count", f"{f}.shuffle_bytes": "bytes",
                  f"{f}.input_bytes": "bytes"})
    u.update({
        "sources.compact.table_files": "count", "sources.compact.compactions": "count",
        "sources.compact.write_amplification": "ratio",
        "run.latency_p90_s": "s", "run.cpu_s": "s",
        "trace.overhead_s": "s", "trace.overhead_share": "ratio",
        "trace.jobs_by_group_share": "ratio",
    })
    return u


PER_LAYER = _per_layer_units()


# --- host and process readings ---------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.split("/")[2]))
    return out


def process_tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory, in MB, of this process, of the JVM and of
    the Python workers it started, and their sum."""
    me = os.getpid()
    out = {"driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
           "jvm": 0.0, "workers": 0.0}
    for p in process_tree(me):
        if p == me:
            continue
        try:
            with open(f"/proc/{p}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "workers"
        except OSError:
            continue
        out[kind] += _status_kb(p, "VmHWM") / 1024.0
    out["total"] = sum(out.values())
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot. Steal is time
    the hypervisor ran another guest on this machine's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def _stat_cpu(path: str) -> tuple[str, int]:
    """(name, user + system clock ticks) from a /proc stat file."""
    with open(path) as f:
        s = f.read()
    fields = s.rsplit(")", 1)[1].split()
    return s[s.index("(") + 1:s.rindex(")")], int(fields[11]) + int(fields[12])


def process_cpu_s() -> float:
    """CPU seconds of the process tree (user + system), which in local
    mode is the driver plus every executor thread."""
    total = 0
    for p in process_tree(os.getpid()):
        try:
            total += _stat_cpu(f"/proc/{p}/stat")[1]
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


# HotSpot's JIT compiler and code-cache sweeper threads. The session
# starts the JVM with -XX:-UseDynamicNumberOfCompilerThreads, so these
# threads live as long as the JVM and their counters never reset.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_cpu_s() -> float:
    """CPU seconds the JVM's JIT threads have used. A few minutes into a
    JVM, C2 compilation still takes 0-17 s of CPU per medallion round at
    random; that is the JVM warming its own code, not work the program
    asked for, so the CPU metrics leave it out."""
    total = 0
    for p in process_tree(os.getpid()):
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                name, ticks = _stat_cpu(f"/proc/{p}/task/{t}/stat")
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                total += ticks
    return total / os.sysconf("SC_CLK_TCK")


# --- session ------------------------------------------------------------------


def start_session(work: str, event_log: str | None):
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            # the whole heap resident from the start: otherwise the JVM's
            # peak RSS is wherever G1's heap sizing stood at a GC, which
            # moved peak_rss_mb by 0.13 of its median from run to run
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }
    # set either way: the session builder keeps options across sessions
    conf["spark.eventLog.enabled"] = "true" if event_log else "false"
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        # one plain file: the Python zstandard module is absent
        conf.update({
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()  # the first job starts the executor side
    return spark


# --- one phase: set up, warm up, measure ---------------------------------------


class Phase:
    def __init__(self, workload: str, seed: int, seconds: float, work: str,
                 event_log: str | None, t_process: float, max_calls: int | None = None):
        self.t0 = t_process
        ticks0 = cpu_ticks()
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        self.spark = start_session(work, event_log)
        self.session_s = time.perf_counter() - self.t0
        sc = self.spark.sparkContext if event_log else None
        self.tracer = Tracer(f"{workload}-{seed}-{'traced' if event_log else 'plain'}", sc)
        self.wl = WORKLOADS[workload](self.spark, self.tracer, os.path.join(work, "data"), seed)
        t_warm = time.perf_counter()
        self.wl.warm_up()
        oracle_s = getattr(self.wl, "oracle_secs", 0.0)
        self.warmup_s = time.perf_counter() - t_warm - oracle_s
        # --seconds buys a fixed number of passes at the workload's
        # nominal pass time, so both sides of an A/B run the same work
        passes = max(1, int(seconds / self.wl.nominal_pass_s))
        n_calls = max_calls or max(2, passes * getattr(self.wl, "calls_per_pass", 1))
        self.wl.prepare(n_calls)  # inputs for the timed calls, made untimed
        self.setup_s = time.perf_counter() - self.t0 - oracle_s
        self.setup_steal = steal_share(ticks0, cpu_ticks())

        self.load_start = os.getloadavg()
        self.cpu_start, self.jit_start = process_cpu_s(), jit_cpu_s()
        self.calls: list[dict] = []
        t_meas = time.perf_counter()
        for i in range(1, n_calls + 1):
            before = cpu_ticks()
            try:
                self.calls.append(self.wl.step(i))
                self.calls[-1]["steal"] = steal_share(before, cpu_ticks())
            except Exception as exc:  # noqa: BLE001 — a failed call counts, the run goes on
                self.wl.failures.append(f"call {i}: {type(exc).__name__}: {exc}"[:300])
        self.measured_s = time.perf_counter() - t_meas
        self.steal = statistics.fmean(c["steal"] for c in self.calls) if self.calls else 0.0
        self.jit_s = jit_cpu_s() - self.jit_start
        self.cpu_s = process_cpu_s() - self.cpu_start - self.jit_s
        self.load_end = os.getloadavg()
        self.corpus: Corpus | None = None
        self.corpus_calls: list[dict] = []
        if event_log and isinstance(self.wl, Medallion):
            self.wl.zero_drain()
        if event_log and isinstance(self.wl, Dashboard):
            elapsed = time.perf_counter() - self.t0
            if elapsed < CORPUS_ROUND_DEADLINE_S:
                self._corpus_round(work, seed)
            else:
                print(f"perfbench: corpus round skipped, {elapsed:.0f} s into the run; "
                      "its per-layer metrics read 0", file=sys.stderr)
        self.peak_rss = peak_rss_mb()

    def _corpus_round(self, work: str, seed: int) -> None:
        """The traced dashboard run ends with one ``corpus_rounds`` round
        (tables built from the initial corpus first), so the dedup,
        similarity and compaction layers are measured on a benchmarked
        workload. Its figures are per-layer only: a corpus round costs
        ~25-50 s, more than an untraced run has to spare. It rides on
        the dashboard's traced run, which gets here sooner: at the end
        of the medallion's it took a slow host's run to ~140 s of the
        180 s a run may take."""
        self.corpus = Corpus(self.spark, self.tracer, os.path.join(work, "corpus"), seed)
        try:
            self.corpus.build_tables()
            self.corpus_calls.append(self.corpus.step(0))
        except Exception as exc:  # noqa: BLE001 — counted like a failed call
            self.corpus.attempted = 1
            self.corpus.failures.append(f"corpus round: {type(exc).__name__}: {exc}"[:300])
        self.wl.failures += self.corpus.failures
        self.wl.attempted += self.corpus.attempted

    def latencies(self) -> list[float]:
        return [c["secs"] for c in self.calls]

    def end_to_end(self) -> dict[str, float]:
        """Every end-to-end figure, gated (END_TO_END) and wall (WALL)."""
        lat = self.latencies()
        return {
            "setup_s": self.setup_s,
            "peak_rss_mb": self.peak_rss["total"],
            "cpu_s_per_call": self.cpu_s / len(lat),
            "latency_p50_s": float(np.percentile(lat, 50)),
            "latency_geomean_s": math.exp(statistics.fmean(math.log(x) for x in lat)),
            "items_per_s": sum(c["items"] for c in self.calls) / sum(lat),
        }

    def host(self) -> dict:
        return {
            "nproc": os.cpu_count(),
            "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in self.load_end],
            "measured_s": round(self.measured_s, 3),
            "calls": len(self.calls),
            "corpus_calls": len(self.corpus_calls),
            "cpu_s": round(self.cpu_s, 3),  # the process tree less the JIT threads
            "jit_cpu_s": round(self.jit_s, 3),
            "wall_s_sum": round(sum(self.latencies()), 3),
            "steal_share_setup": round(self.setup_steal, 4),
            "steal_share_calls": round(self.steal, 4),
            "peak_rss_mb": {k: round(v, 1) for k, v in self.peak_rss.items()},
        }

    def stop(self) -> None:
        self.spark.stop()


# --- per-layer metrics from a traced phase ---------------------------------------


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_metrics(ph: Phase, stats: dict, untraced: Phase) -> dict[str, float]:
    """The per-layer metrics of a traced phase, from its spans and their
    event-log ``stats``; ``untraced`` ran the same calls without tracing."""
    spans = ph.tracer.spans
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = ph.session_s
    out["session.warmup_s"] = ph.warmup_s
    kids: dict[str, list] = {}
    for s in spans:
        if s.parent:
            kids.setdefault(s.parent, []).append(s)
    timed = [c["span"] for c in ph.calls]  # completed calls only

    if isinstance(ph.wl, Dashboard):
        non_job = []
        for m in DASHBOARD_QUERIES:
            qs = [s for s in timed if s.name == f"plans.{m}.query"]
            if not qs:
                continue
            build, exe = ([k for q in qs for k in kids[q.id] if k.name.endswith(end)]
                          for end in (".build", ".exec"))
            inc = [inclusive(stats, spans, q.id) for q in qs]
            out[f"plans.{m}.build_s"] = _median(b.secs for b in build)
            out[f"plans.{m}.exec_s"] = _median(e.secs for e in exe)
            out[f"plans.{m}.jobs"] = statistics.fmean(i.jobs for i in inc)
            out[f"plans.{m}.eager_jobs"] = statistics.fmean(stats[b.id].jobs for b in build)
            out[f"plans.{m}.executor_cpu_s"] = statistics.fmean(i.cpu_secs for i in inc)
            out[f"plans.{m}.shuffle_bytes"] = statistics.fmean(i.shuffle_write_bytes for i in inc)
            non_job += [max(q.secs - i.job_secs, 1e-6) for q, i in zip(qs, inc)]
        if non_job:
            out["plans.non_job_geomean_s"] = math.exp(statistics.fmean(math.log(x) for x in non_job))

    if isinstance(ph.wl, Medallion):
        def step_secs(name):
            return _median(k.secs for r in timed for k in kids[r.id] if k.name == name)
        for name in ("sources.bronze.write", "sources.bronze.read", "operators.transform.silver",
                     "sources.silver.csv_roundtrip", "streaming.ingest.drain",
                     "operators.gold.verify"):
            out[f"{name}_s"] = step_secs(name)
        drains = [k for r in timed for k in kids[r.id] if k.name == "streaming.ingest.drain"]
        verifies = [k for r in timed for k in kids[r.id] if k.name == "operators.gold.verify"]
        out["streaming.ingest.batches"] = _mean(d.tags["batches"] for d in drains)
        out["streaming.ingest.drain_jobs"] = _mean(inclusive(stats, spans, d.id).jobs for d in drains)
        out["streaming.ingest.zero_drain_s"] = _median(ph.wl.zero_drain_secs)
        out["operators.gold.input_bytes_per_round"] = _mean(
            inclusive(stats, spans, d.id).input_bytes + inclusive(stats, spans, v.id).input_bytes
            for d, v in zip(drains, verifies))
        last = timed[-1].tags if timed else {"gold_bytes": 0, "gold_rows": 0, "gold_files": 0}
        out["operators.gold.bytes_per_row"] = last["gold_bytes"] / max(last["gold_rows"], 1)
        out["operators.gold.files"] = last["gold_files"]

    corpus, corpus_calls = (ph.wl, timed) if isinstance(ph.wl, Corpus) else (
        ph.corpus, [c["span"] for c in ph.corpus_calls])
    if corpus is not None:
        for f in FAMILIES:
            fs = [k for r in corpus_calls for k in kids[r.id] if k.name == f]
            inc = [inclusive(stats, spans, k.id) for k in fs]
            out[f"{f}_s"] = _median(k.secs for k in fs)
            out[f"{f}.jobs"] = _mean(i.jobs for i in inc)
            out[f"{f}.shuffle_bytes"] = _mean(i.shuffle_write_bytes for i in inc)
            out[f"{f}.input_bytes"] = _mean(i.input_bytes for i in inc)
        out["sources.compact.table_files"] = sum(n[-1] for n in corpus.files.values() if n)
        out["sources.compact.compactions"] = sum(corpus.compactions.values())
        out["sources.compact.write_amplification"] = (
            sum(corpus.written.values()) / max(sum(corpus.appended.values()), 1))

    all_jobs = sum(st.jobs for st in stats.values())
    out["trace.jobs_by_group_share"] = sum(st.by_group for st in stats.values()) / max(all_jobs, 1)
    out["run.latency_p90_s"] = float(np.percentile(ph.latencies(), 90)) if ph.calls else 0.0
    out["run.cpu_s"] = ph.cpu_s
    n = min(len(ph.calls), len(untraced.calls))
    traced_med = _median(ph.latencies()[:n])
    plain_med = _median(untraced.latencies()[:n])
    out["trace.overhead_s"] = traced_med - plain_med
    out["trace.overhead_share"] = (traced_med - plain_med) / plain_med if plain_med else 0.0
    return out
