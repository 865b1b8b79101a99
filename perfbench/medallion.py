"""``medallion`` workload: incremental bronze → silver → gold rounds.

One round is one call of the loop: ``write_bronze`` → ``read_bronze`` →
``silver_transform`` → silver CSV round trip → one availableNow
``stream_bronze_to_gold`` drain → ``verify_integrity``. Each step is a
child span, so its time (and, traced, its Spark jobs) is billed to the
module that ran it. Gold grows every round, so the upsert's full count
and anti-join get costlier as the run goes on.
"""

from __future__ import annotations

import os

from chicago_crash_data_pipeline_dashboard_spark.operators.gold import GoldTable
from chicago_crash_data_pipeline_dashboard_spark.operators.transform import silver_transform
from chicago_crash_data_pipeline_dashboard_spark.schemas import (
    BRONZE_CRASHES,
    BRONZE_PEOPLE,
    BRONZE_VEHICLES,
    CRASH_COLUMNS,
)
from chicago_crash_data_pipeline_dashboard_spark.sources.bronze import read_bronze, write_bronze
from chicago_crash_data_pipeline_dashboard_spark.sources.silver import (
    read_silver_csv,
    write_silver_csv,
)
from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import stream_bronze_to_gold
from chicago_crash_data_pipeline_dashboard_spark.streaming.watermark import WatermarkStore

import gen
from fsscan import tree_stats


class Medallion:
    name = "medallion"
    nominal_pass_s = 9.5  # a warm round on 4 cores; --seconds buys rounds of this length

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.dirs = {k: os.path.join(work, k) for k in ("bronze", "silver", "gold", "ckpt")}
        self.wm_path = os.path.join(work, "watermark.json")
        self.rounds: list[gen.BronzeRound] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.gold_expected = 0
        self.zero_drain_secs: list[float] = []
        self.inputs: dict[int, tuple] = {}

    def warm_up(self) -> None:
        """Round 0, the backfill, runs untimed: it pays the first-use
        costs (streaming engine start, CSV and JSON writers, the Python
        worker) and grows gold before the timed rounds."""
        self.step(0)

    def prepare(self, n: int) -> None:
        """Generate rounds 1..n and hand them to Spark before the timed
        loop, so the timed CPU is the pipeline's alone."""
        for r in range(1, n + 1):
            self.inputs[r] = self._inputs(r)

    def _inputs(self, r: int) -> tuple:
        rnd = gen.bronze_round(self.seed, r, self.rounds[-1] if self.rounds else None)
        self.rounds.append(rnd)
        return (rnd, *(self.spark.createDataFrame(rows, schema) for rows, schema in (
            (rnd.delivered, BRONZE_CRASHES), (rnd.vehicles, BRONZE_VEHICLES),
            (rnd.people, BRONZE_PEOPLE))))

    def step(self, r: int) -> dict:
        """Run round ``r``; returns the items it ingested (bronze rows)."""
        spark, tr = self.spark, self.tr
        rnd, bronze_in, veh, ppl = self.inputs.pop(r) if r in self.inputs else self._inputs(r)
        corr = f"r{r:04d}"
        self.attempted += 1
        with tr.span("medallion.round", round=r, rows=len(rnd.delivered)) as sp:
            with tr.span("sources.bronze.write"):
                write_bronze(bronze_in, self.dirs["bronze"], "crashes", corr=corr)
            with tr.span("sources.bronze.read"):
                crashes = read_bronze(
                    spark, self.dirs["bronze"], "crashes", BRONZE_CRASHES, corr=corr
                ).select(*CRASH_COLUMNS).persist()
                n_bronze = crashes.count()
            with tr.span("operators.transform.silver"):
                silver = silver_transform(crashes, veh, ppl).persist()
                silver.count()
            with tr.span("sources.silver.csv_roundtrip"):
                write_silver_csv(silver, self.dirs["silver"], corr=corr)
                n_silver = read_silver_csv(
                    spark, self.dirs["silver"], corr, schema=silver.schema
                ).count()
            silver.unpersist()
            crashes.unpersist()
            with tr.span("streaming.ingest.drain") as drain:
                stats = stream_bronze_to_gold(
                    spark, self.dirs["bronze"], "crashes", BRONZE_CRASHES,
                    self.dirs["gold"], self.dirs["ckpt"], self.wm_path,
                )
                drain.tags["batches"] = len(stats)
            with tr.span("operators.gold.verify"):
                integ = GoldTable(spark, self.dirs["gold"]).verify_integrity()
        self._check(r, rnd, n_bronze, n_silver, stats, integ)
        gold = tree_stats(self.dirs["gold"])
        sp.tags.update(gold_files=gold.files, gold_bytes=gold.bytes, gold_rows=integ["total"])
        return {"items": len(rnd.delivered), "secs": sp.secs, "span": sp}

    def _check(self, r, rnd, n_bronze, n_silver, stats, integ) -> None:
        self.gold_expected += rnd.n_new_valid
        inserted = sum(s["inserted"] for s in stats)
        wm = WatermarkStore(self.wm_path).get()
        want = {
            "bronze rows read back": (n_bronze, len(rnd.delivered)),
            "silver rows after keep-first": (n_silver, rnd.n_silver),
            "rows inserted (re-delivered rows insert 0)": (inserted, rnd.n_new_valid),
            "gold total": (integ["total"], self.gold_expected),
            "integrity ok": (integ["ok"], 1),
            "watermark": (wm, rnd.max_valid_date),
        }
        for what, (got, exp) in want.items():
            if got != exp:
                self.failures.append(f"round {r}: {what} = {got!r}, expected {exp!r}")

    def zero_drain(self) -> None:
        """A drain with no new files: the streaming fixed cost alone."""
        with self.tr.span("streaming.ingest.zero_drain") as sp:
            stats = stream_bronze_to_gold(
                self.spark, self.dirs["bronze"], "crashes", BRONZE_CRASHES,
                self.dirs["gold"], self.dirs["ckpt"], self.wm_path,
            )
        self.zero_drain_secs.append(sp.secs)
        if stats:
            self.failures.append(f"zero-file drain ran {len(stats)} batches, expected 0")
