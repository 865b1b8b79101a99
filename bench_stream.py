#!/usr/bin/env python
"""Spark-only timings for the streaming gates the latency bench skips
(micro-batch Structured Streaming machinery: watermarked windows,
session windows, stream-stream interval joins, streaming dedup, the
checkpointed ingest e2e). These are correctness-gated every round but
their wall-clock was never recorded anywhere — this artifact completes
the classification VERDICT r6 item 8 asked for: every registered query
is latency-benched (bench.py), IO-benched (bench_io.py), or
stream-benched here.

What the number MEANS: end-to-end wall-clock of a bounded
``availableNow``/memory-sink micro-batch run at the gate's SF —
dominated by per-batch fixed costs (trigger scheduling, state-store
init, checkpoint IO), not by data volume. It is a REGRESSION TRIPWIRE
for the streaming machinery (a state-store misconfiguration or an
accidental extra batch shows up as a step change), not a throughput
claim; streaming throughput at scale is governed by the same shuffle/
state plans the batch twins measure.

No oracle comparison and no DuckDB twin (DuckDB has no streaming
runtime): Spark wall-clock only, not part of the 2x gate vs
BASELINE_BENCH.json.

Prints ONE JSON line: {"metric": "stream_total_median_query_seconds",
"value": N, "unit": "sec", "queries": {...}, "sf": ..., "runs": N}.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_io import emit, fresh_session_notes, sf_from_env, time_fresh_sessions

# Every streaming member of bench.py's SKIP set.
STREAM_QUERIES = [
    "event_windowed_counts_stream",
    "event_sessions_stream",
    "event_sessions_native_stream",
    "event_first_seen_stream",
    "event_dedup_watermark_stream",
    "event_error_click_window_stream",
    "streaming_ingest_e2e",
    "doc_ingest_stream",  # r12: the streamed cross-run dedup round
    # r13: the txn ledger extended to the fingerprint + SimHash
    # families — their streamed rounds
    "doc_exact_ingest_stream",
    "doc_simhash_ingest_stream",
    # r14: the embeddings family joins — streamed semantic ingest round
    # + the streamed ANN maintenance drain under the same ledger
    "emb_semantic_ingest_stream",
    "emb_maintain_stream",
]


def main() -> None:
    sf_dir, sf = sf_from_env()
    timings, session_split, errors, spark = time_fresh_sessions(
        STREAM_QUERIES, sf_dir, "events", "ccpd_bench_stream"
    )
    notes = fresh_session_notes(session_split)
    # Decompose the ingest gate's number into per-drain fixed cost vs
    # rows/s so the artifact explains itself (VERDICT r7 item 7: the
    # ~16 s streaming_ingest_e2e reading is dominated by three
    # stream start/stops + checkpoint IO, not by data volume)
    try:
        from chicago_crash_data_pipeline_dashboard_spark.plans.crash_ops import (
            streaming_ingest_throughput_probe,
        )

        notes["ingest_throughput"] = streaming_ingest_throughput_probe(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — harness boundary
        notes["ingest_throughput"] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    # r11 (VERDICT r10 item 6): decompose the dominant windowed-count
    # gate — batch-twin plan cost vs stream start/stop vs full drain
    try:
        from chicago_crash_data_pipeline_dashboard_spark.plans.analytics import (
            windowed_stream_cost_probe,
        )

        notes["windowed_counts_cost"] = windowed_stream_cost_probe(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — harness boundary
        notes["windowed_counts_cost"] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    emit("stream_total_median_query_seconds", timings, errors, sf, notes, "BENCH_STREAM_SELF.json")
    spark.stop()


if __name__ == "__main__":
    main()
