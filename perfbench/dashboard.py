"""``dashboard`` workload: timed registry queries, read-only.

One call is ``QUERIES[name].fn(spark, data_dir)`` (plan build, plus any
job the query runs eagerly) followed by a ``noop`` write (execution).
Each pass runs every query once, in a fresh order drawn from the seed,
so one host stall spreads over many queries instead of inflating a
contiguous block of them.
"""

from __future__ import annotations

import subprocess
import sys
import time

import numpy as np

from chicago_crash_data_pipeline_dashboard_spark.plans import QUERIES
from chicago_crash_data_pipeline_dashboard_spark.plans import analytics  # noqa: F401
from chicago_crash_data_pipeline_dashboard_spark.plans import crash_ops  # noqa: F401
from chicago_crash_data_pipeline_dashboard_spark.plans import jobspec_ops  # noqa: F401
from chicago_crash_data_pipeline_dashboard_spark.plans import ml_ops  # noqa: F401

import gen
from checks import Oracle

# The query set, by plan module. Every query here is one of the
# registry's timed latency queries; at-rest, streaming and file
# round-trip queries belong to the ingest workloads. The set is as large
# as the per-run budget allows (a cold pass costs ~3 s a query on 4
# cores) while covering each module and ROADMAP item 2's levers: eager
# jobs inside fn() (quantiles), a broadcast star with AQE sub-jobs
# (revenue_by_nation), the long crash cleaning chain (crash_clean_chain),
# a classifier evaluation over it (crash_rule_eval), and five filter
# modes unioned from one job spec (jobspec_extract).
DASHBOARD_QUERIES = {
    "analytics": ["quantiles", "revenue_by_nation"],
    "crash_ops": ["crash_clean_chain"],
    "ml_ops": ["crash_rule_eval"],
    "jobspec_ops": ["jobspec_extract"],
}
MODULE_OF = {q: m for m, qs in DASHBOARD_QUERIES.items() for q in qs}


class Dashboard:
    name = "dashboard"
    nominal_pass_s = 6.5  # a warm pass on 4 cores; --seconds buys passes of this length

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        # in a child process, so the generator's memory stays out of the
        # driver's peak RSS
        self.data_dir = f"{work}/tables"
        subprocess.run([sys.executable, gen.__file__, str(seed), self.data_dir], check=True)
        self.rng = np.random.default_rng([seed, 5])
        self.order: list[str] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.oracle_secs = 0.0

    @property
    def calls_per_pass(self) -> int:
        return len(MODULE_OF)

    def warm_up(self) -> None:
        """An untimed pass that also checks every query against its
        DuckDB oracle: ``toArrow()`` stands in for the noop write, whose
        own first use is warmed on a one-row frame. The oracle's time is
        excluded from ``setup_s``."""
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        oracle = Oracle(self.data_dir)
        try:
            for q in self.rng.permutation(sorted(MODULE_OF)):
                spec = QUERIES[q]
                self.attempted += 1
                try:
                    with self.tr.span("dashboard.check", query=q):
                        result = spec.fn(self.spark, self.data_dir).toArrow()
                    if spec.oracle is None:
                        continue
                    t0 = time.perf_counter()
                    msg = oracle.compare(result, spec.oracle)
                    self.oracle_secs += time.perf_counter() - t0
                except Exception as exc:  # noqa: BLE001 — one query's failure is counted, not fatal
                    msg = f"{type(exc).__name__}: {exc}"[:300]
                if msg:
                    self.failures.append(f"{q}: {msg}")
        finally:
            oracle.close()

    def prepare(self, n: int) -> None:
        """Nothing: the tables are written before the warm pass."""

    def step(self, i: int) -> dict:
        if not self.order:
            self.order = list(self.rng.permutation(sorted(MODULE_OF)))
        q = self.order.pop()
        m = MODULE_OF[q]
        self.attempted += 1
        with self.tr.span(f"plans.{m}.query", query=q) as sp:
            with self.tr.span(f"plans.{m}.build", query=q):
                df = QUERIES[q].fn(self.spark, self.data_dir)
            with self.tr.span(f"plans.{m}.exec", query=q):
                df.write.format("noop").mode("overwrite").save()
        return {"items": 1, "secs": sp.secs, "span": sp}
