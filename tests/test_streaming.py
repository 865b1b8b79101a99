"""Structured Streaming ingest: exactly-once file processing via the
checkpoint, PK upsert under re-delivery, watermark advance semantics,
and late-data windowed aggregation parity with batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from chicago_crash_data_pipeline_dashboard_spark.operators.clean import clean_crashes
from chicago_crash_data_pipeline_dashboard_spark.operators.gold import GoldTable
from chicago_crash_data_pipeline_dashboard_spark.plans.crash_ops import synth_bronze_spark
from chicago_crash_data_pipeline_dashboard_spark.schemas import BRONZE_CRASHES
from chicago_crash_data_pipeline_dashboard_spark.sources.bronze import write_bronze
from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import (
    stream_bronze_to_gold,
    windowed_event_counts,
)
from chicago_crash_data_pipeline_dashboard_spark.streaming.watermark import WatermarkStore


def test_stream_ingest_end_to_end(spark, sf_smoke, tmp_path):
    bronze_dir = str(tmp_path / "bronze")
    gold_path = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    wm_path = str(tmp_path / "wm.json")

    bronze = synth_bronze_spark(spark, sf_smoke).cache()
    first = bronze.filter(F.col("crash_record_id").isNotNull()).limit(400)
    write_bronze(first, bronze_dir, "crashes", corr="run-1")

    # batch 1: everything cleans + inserts (mode=backfill → watermark untouched)
    stats1 = stream_bronze_to_gold(
        spark, bronze_dir, "crashes", BRONZE_CRASHES, gold_path, ckpt, wm_path,
        mode="backfill",
    )
    gold = GoldTable(spark, gold_path)
    n1 = gold.read().count()
    assert n1 == sum(s["inserted"] for s in stats1) > 0
    assert WatermarkStore(wm_path).get() is None  # backfill never advances

    # drain again with the same checkpoint: no new files → no new batches
    stats2 = stream_bronze_to_gold(
        spark, bronze_dir, "crashes", BRONZE_CRASHES, gold_path, ckpt, wm_path,
        mode="backfill",
    )
    assert sum(s.get("inserted", 0) for s in stats2) == 0
    assert gold.read().count() == n1

    # batch 2 re-delivers run-1 rows plus fresh ones → only fresh insert
    write_bronze(bronze, bronze_dir, "crashes", corr="run-2")
    stats3 = stream_bronze_to_gold(
        spark, bronze_dir, "crashes", BRONZE_CRASHES, gold_path, ckpt, wm_path,
        mode="streaming",
    )
    n2 = gold.read().count()
    assert n2 > n1
    assert sum(s["skipped"] for s in stats3) > 0  # re-delivered PKs skipped
    assert gold.verify_integrity()["ok"] == 1  # no dup/null PKs
    assert WatermarkStore(wm_path).get() is not None  # streaming advances


def _cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_stream_drains_leave_no_cache_behind(spark, sf_smoke, tmp_path):
    """Each micro-batch caches its input once and releases it: three
    drains, each with a new file, leave the cached-RDD count unchanged."""
    bronze_dir, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    gold_path, wm_path = str(tmp_path / "gold"), str(tmp_path / "wm.json")
    bronze = synth_bronze_spark(spark, sf_smoke).filter(F.col("crash_record_id").isNotNull())
    start = _cached_rdds(spark)
    inserted = 0
    for i in range(3):
        part = bronze.filter(F.abs(F.hash("crash_record_id")) % 3 == i).limit(200)
        write_bronze(part, bronze_dir, "crashes", corr=f"run-{i}")
        stats = stream_bronze_to_gold(
            spark, bronze_dir, "crashes", BRONZE_CRASHES, gold_path, ckpt, wm_path
        )
        assert len(stats) == 1
        inserted += stats[0]["inserted"]
        assert _cached_rdds(spark) == start, f"drain {i} left a cached RDD behind"
    assert GoldTable(spark, gold_path).read().count() == inserted > 0


def test_stream_drain_watermark_filters_every_row(spark, sf_smoke, tmp_path):
    """A streaming drain whose watermark is past every row: the batch
    inserts nothing, skips nothing (no row reaches the upsert) and
    leaves the watermark where it was."""
    bronze_dir, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    gold_path, wm_path = str(tmp_path / "gold"), str(tmp_path / "wm.json")
    WatermarkStore(wm_path).advance("2999-01-01", mode="streaming")
    part = synth_bronze_spark(spark, sf_smoke).limit(100)
    write_bronze(part, bronze_dir, "crashes", corr="late")
    stats = stream_bronze_to_gold(
        spark, bronze_dir, "crashes", BRONZE_CRASHES, gold_path, ckpt, wm_path
    )
    assert stats == [
        {"before_count": 0, "after_count": 0, "inserted": 0, "skipped": 0, "batch_id": 0}
    ]
    assert WatermarkStore(wm_path).get() == "2999-01-01"


def test_watermark_monotonic(tmp_path):
    wm = WatermarkStore(str(tmp_path / "w.json"))
    assert wm.get() is None
    assert wm.advance("2025-01-05", mode="streaming") == "2025-01-05"
    assert wm.advance("2025-01-03", mode="streaming") == "2025-01-05"  # never regresses
    assert wm.advance("2025-02-01", mode="backfill") == "2025-01-05"  # backfill frozen
    assert wm.advance("2025-02-01", mode="streaming") == "2025-02-01"


def test_windowed_counts_stream_matches_batch(spark, sf_smoke, tmp_path):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    ev = ev.select("event_id", "ts").limit(500)

    src_dir = str(tmp_path / "events_json")
    ev.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).write.json(src_dir)

    batch_expected = {
        (r.window_start, r.window_end): r.n_events
        for r in windowed_event_counts(ev).collect()
    }

    schema = "event_id bigint, ts timestamp"
    stream = spark.readStream.schema(schema).json(src_dir)
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.window_end): r.n_events
        for r in spark.table("win_counts").collect()
    }
    assert got == batch_expected


def test_windowed_counts_drop_events_older_than_watermark(spark, tmp_path):
    """The DROP half of the watermark contract: once a window's state
    has been evicted (watermark passed its end in an EARLIER batch), a
    late row for that window is input-filtered — it neither resurrects
    the window nor bumps the emitted count. Three files with
    maxFilesPerTrigger=1 so the watermark advances between batches
    (eviction and a same-batch late arrival would otherwise merge —
    Spark only guarantees the drop across batch boundaries); append
    mode emits each window exactly once, after finalization."""
    import json as _json
    import time as _time

    src = tmp_path / "late_json"
    src.mkdir()
    # batch 0: three events in the Jan-1 window + one at Jan 10 →
    # end-of-batch watermark = Jan 10 - 2 days = Jan 8 (past the
    # Jan-1 window's end)
    (src / "a_batch0.json").write_text(
        "\n".join(
            _json.dumps({"event_id": i, "ts": t})
            for i, t in enumerate(
                ["2025-01-01 01:00:00", "2025-01-01 05:00:00",
                 "2025-01-01 23:00:00", "2025-01-10 00:00:00"]
            )
        )
    )
    _time.sleep(1.05)  # distinct mtimes: file order = batch order
    # batch 1: runs WITH watermark Jan 8 → evicts + emits the Jan-1
    # window (n=3); its own row keeps the stream moving
    (src / "b_batch1.json").write_text(
        _json.dumps({"event_id": 20, "ts": "2025-01-11 00:00:00"})
    )
    _time.sleep(1.05)
    # batch 2: a LATE Jan-1 event (behind the watermark, window state
    # gone → must be dropped, not resurrected) + a fresh Jan-13 row
    (src / "c_batch2.json").write_text(
        "\n".join(
            _json.dumps({"event_id": i + 30, "ts": t})
            for i, t in enumerate(["2025-01-01 12:00:00", "2025-01-13 00:00:00"])
        )
    )

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        windowed_event_counts(stream, window_duration="1 day", watermark_delay="2 days")
        .writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    rows = spark.table("late_drop").collect()
    jan1 = [r for r in rows if str(r.window_start).startswith("2025-01-01")]
    assert len(jan1) == 1 and jan1[0].n_events == 3, rows  # late row excluded
    assert dropped == 1  # and the engine filtered exactly that row
    # control: a batch run of the same frame counts the late row
    # (withWatermark is a no-op on batch frames)
    batch = spark.read.schema("event_id bigint, ts timestamp").json(str(src))
    batch_counts = {
        str(r.window_start): r.n_events
        for r in windowed_event_counts(batch).collect()
    }
    assert batch_counts["2025-01-01 00:00:00"] == 4


def test_native_session_window_stream_emits_at_exact_watermark(spark, tmp_path):
    """Pins the append-mode emission rule the event_sessions_native_stream
    oracle encodes: a session emits when the final watermark is >= its
    end (NON-strict — a watermark exactly equal to last-event + gap
    emits), and a session whose end exceeds the watermark holds state."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def run(rows, name):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp_ntz, event_type string"
        )
        src = tmp_path / name
        df.coalesce(1).write.mode("overwrite").parquet(str(src))
        raw = spark.read.parquet(str(src))
        stream = spark.readStream.schema(raw.schema).parquet(str(src))
        s = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        q = (
            s.withWatermark("ts", "0 seconds")
            .groupBy(
                F.col("event_type").alias("key"),
                F.session_window("ts", "1 hour").alias("w"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted((r.key, r.n) for r in spark.table(name).collect())

    # watermark lands EXACTLY on a's session end (t0 + gap) -> emits
    exact = run(
        [(1, t0, "a"), (2, t0 + dt.timedelta(seconds=3600), "b")],
        "ccpd_t_sess_exact",
    )
    assert exact == [("a", 1)]  # a emitted at equality; b held

    # watermark 1 ms past a's end -> emits too (sanity)
    past = run(
        [(1, t0, "a"), (2, t0 + dt.timedelta(seconds=3600, microseconds=1000), "b")],
        "ccpd_t_sess_past",
    )
    assert past == [("a", 1)]


def test_ingest_throughput_probe_decomposes(spark, sf_smoke):
    """The bench instrument (BENCH_STREAM notes) must measure what it
    claims: a rows-carrying drain, a genuinely zero-batch second drain,
    and a positive data-proportional rate derived from their gap."""
    from chicago_crash_data_pipeline_dashboard_spark.plans.crash_ops import (
        streaming_ingest_throughput_probe,
    )

    p = streaming_ingest_throughput_probe(spark, sf_smoke)
    assert p["rows"] > 0 and p["n_batches"] >= 1
    assert p["zero_batch_drains"] is True
    assert p["drain_rows_sec"] > 0 and p["drain_zero_sec"] > 0
    if p["noisy"]:
        # a noisy host (zero drain slower than the rows drain) must
        # publish null, never a 1e-9-floored absurd rate (r10 ADVICE)
        assert p["rows_per_sec"] is None and p["variable_sec"] is None
    else:
        assert p["rows_per_sec"] > 0
        # 1e-4 = the artifact's 4-decimal rounding granularity
        assert abs(p["variable_sec"] - (p["drain_rows_sec"] - p["drain_zero_sec"])) < 2e-4


def test_windowed_stream_cost_probe_decomposes(spark, sf_smoke):
    """The r11 BENCH_STREAM decomposition instrument (VERDICT r10 item
    6) must measure what it claims: a real batch twin, a genuinely
    zero-batch drain, a full drain, and either a non-negative overhead
    or an explicit noisy flag."""
    from chicago_crash_data_pipeline_dashboard_spark.plans.analytics import (
        windowed_stream_cost_probe,
    )

    p = windowed_stream_cost_probe(spark, sf_smoke)
    assert p["rows"] > 0 and p["n_windows"] > 0
    assert p["batch_twin_sec"] > 0
    assert p["drain_zero_sec"] > 0 and p["drain_full_sec"] > 0
    if p["noisy"]:
        assert p["stream_overhead_sec"] is None
    else:
        assert 0 < p["stream_overhead_sec"] <= p["drain_full_sec"]


def test_stream_append_to_ivf_index(spark, tmp_path):
    """Incremental index maintenance as a stream: each drained file
    appends under the saved quantizer; the checkpoint guarantees a
    re-drain appends nothing; the grown index's probe results equal a
    same-quantizer rebuild of the full corpus; drift stats are
    reported against the persisted build baseline."""
    import numpy as np

    from chicago_crash_data_pipeline_dashboard_spark.operators import similarity as SIM
    from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import (
        stream_append_to_ivf_index,
    )

    rng = np.random.RandomState(41)
    vecs = rng.standard_normal((300, 16)).astype("float32")
    full = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    index = str(tmp_path / "ivf")
    saved = SIM.write_ivf_index(full.filter(F.col("vec_id") < 200), index, n_clusters=8, seed=42)

    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    full.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 250)).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stats1 = stream_append_to_ivf_index(spark, src, index, ckpt)
    assert len(stats1) == 1
    assert stats1[0]["n_vectors"] == 50
    assert stats1[0]["baseline_mean"] is not None  # retrain signal vs build baseline

    # re-drain with no new files: ZERO batches, nothing double-appended
    assert stream_append_to_ivf_index(spark, src, index, ckpt) == []

    full.filter(F.col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(src)
    stats2 = stream_append_to_ivf_index(spark, src, index, ckpt)
    assert sum(s["n_vectors"] for s in stats2) == 50

    rebuilt = str(tmp_path / "rebuilt")
    SIM.write_ivf_index(full, rebuilt, centroids=saved)
    q = full.filter(F.col("vec_id") < 10)
    got = SIM.ivf_topk_indexed(spark, index, q, k=5, n_probe=3).collect()
    want = SIM.ivf_topk_indexed(spark, rebuilt, q, k=5, n_probe=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    ids = {r.neighbor_id for r in spark.read.parquet(index).select("neighbor_id").collect()}
    assert ids == set(range(300))


def test_stream_maintain_index_policy(spark, tmp_path):
    """The streaming maintenance drain: an in-distribution file
    appends; a later out-of-distribution file triggers the drift
    retrain inside the stream; the checkpoint still guarantees a
    re-drain does nothing."""
    import numpy as np

    from chicago_crash_data_pipeline_dashboard_spark.operators import similarity as SIM
    from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import (
        stream_maintain_index,
    )

    rng = np.random.RandomState(42)
    base = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(rng.standard_normal((250, 16)).astype("float32"))],
        "vec_id long, embedding array<float>",
    )
    index = str(tmp_path / "ivf")
    SIM.write_ivf_index(base.filter(F.col("vec_id") < 200), index, n_clusters=8, seed=42)

    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    base.filter(F.col("vec_id") >= 200).coalesce(1).write.mode("append").parquet(src)
    reports = stream_maintain_index(spark, src, index, ckpt)
    assert [r["action"] for r in reports] == ["appended"]

    assert stream_maintain_index(spark, src, index, ckpt) == []  # ledger holds

    far = spark.createDataFrame(
        [(500 + i, (v + 25.0).tolist()) for i, v in enumerate(rng.standard_normal((50, 16)).astype("float32"))],
        "vec_id long, embedding array<float>",
    )
    far.coalesce(1).write.mode("append").parquet(src)
    reports2 = stream_maintain_index(spark, src, index, ckpt)
    assert [r["action"] for r in reports2] == ["retrained"]
    assert reports2[0]["drift_ratio"] > 1.5
    ids = {r.neighbor_id for r in spark.read.parquet(index).select("neighbor_id").collect()}
    assert ids == set(range(250)) | {500 + i for i in range(50)}


def _doc_fixture(spark, ids, clone_of=None, seed=17):
    """Unique high-entropy texts per id (w{n} tokens from a 5000-word
    space: two independent docs share ~no 3-shingles, so only planted
    clones pair at high thresholds). ``clone_of`` maps new_id ->
    source_id whose text is duplicated exactly."""
    import random

    texts = {}
    for i in sorted(set(ids) | set((clone_of or {}).values())):
        rng = random.Random(seed + i)
        texts[i] = " ".join(f"w{rng.randrange(5000)}" for _ in range(30))
    rows = [(i, texts[i]) for i in ids]
    for new_id, src_id in (clone_of or {}).items():
        rows.append((new_id, texts[src_id]))
    return spark.createDataFrame(rows, "doc_id long, text string")


_SIG = dict(num_hashes=16, bands=4, shingle_n=3, seed=7, parts=8)


def test_stream_minhash_ingest_sequential_rounds(spark, tmp_path):
    """The streamed dedup ingest == calling minhash_ingest_round per
    batch by hand: batch 2's clone of a batch-1 SURVIVOR drops through
    the table (cross-run, not within-frame), batch 2's clone of a
    corpus doc drops, a re-drain runs zero batches, and the final
    signature table holds exactly corpus + survivors."""
    from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
    from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import (
        stream_minhash_ingest,
    )

    corpus = _doc_fixture(spark, range(30))
    b1 = _doc_fixture(spark, range(100, 110), clone_of={200: 3, 201: 100})
    b2 = _doc_fixture(spark, range(120, 130), clone_of={210: 100, 211: 5})

    sigs = str(tmp_path / "sigs")
    DD.write_minhash_signatures(corpus, sigs, "doc_id", "text", **_SIG)
    sigs2 = str(tmp_path / "sigs_manual")
    DD.write_minhash_signatures(corpus, sigs2, "doc_id", "text", **_SIG)

    src = str(tmp_path / "incoming")
    args = dict(
        spark=spark, src_dir=src, sig_path=sigs,
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.9,
        survivors_dir=str(tmp_path / "surv"),
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    r1 = stream_minhash_ingest(**args)
    b2.coalesce(1).write.mode("append").parquet(src)
    r2 = stream_minhash_ingest(**args)

    assert [r["action"] for r in r1 + r2] == ["appended", "appended"]
    surv1 = {
        r.doc_id
        for r in spark.read.parquet(f"{tmp_path}/surv/batch=0").collect()
    }
    surv2 = {
        r.doc_id
        for r in spark.read.parquet(f"{tmp_path}/surv/batch=1").collect()
    }
    # 200 (corpus clone) and 201 (within-batch clone of 100) drop;
    # 210 (clone of the batch-1 SURVIVOR 100 — caught through the
    # table) and 211 (corpus clone) drop
    assert surv1 == set(range(100, 110))
    assert surv2 == set(range(120, 130))

    # re-drain: the file-source checkpoint dedups input
    assert stream_minhash_ingest(**args) == []

    # parity with hand-run sequential rounds on an identical table
    m1 = DD.minhash_ingest_round(b1, sigs2, "doc_id", "text", threshold=0.9)
    m2 = DD.minhash_ingest_round(b2, sigs2, "doc_id", "text", threshold=0.9)
    assert {r.doc_id for r in m1["survivors"].collect()} == surv1
    assert {r.doc_id for r in m2["survivors"].collect()} == surv2
    docs = {
        r.doc for r in spark.read.parquet(f"{sigs}/banded").select("doc").collect()
    }
    assert docs == set(range(30)) | surv1 | surv2


def test_minhash_ingest_round_txn_replay_and_crash(spark, tmp_path):
    """The transactional round under the at-least-once contract: a
    committed txn replays as a no-op with the identical report; a
    crash AFTER the staged moves but BEFORE the marker replays to
    completed_replay WITHOUT re-probing — the reconstructed report
    still shows the first attempt's survivor count (a re-probe would
    find the batch's own appended signatures, pair every doc with
    itself, and report zero survivors)."""
    import unittest.mock as mock

    import pytest

    from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil as FS
    from chicago_crash_data_pipeline_dashboard_spark.sources.txn import txn_committed

    corpus = _doc_fixture(spark, range(30))
    sigs = str(tmp_path / "sigs")
    DD.write_minhash_signatures(corpus, sigs, "doc_id", "text", **_SIG)

    def census() -> int:
        return len(FS.glob_paths(f"{sigs}/banded/part=*/*.parquet"))

    b1 = _doc_fixture(spark, range(100, 108), clone_of={200: 3})
    rep1 = DD.minhash_ingest_round(
        b1, sigs, "doc_id", "text", threshold=0.9, txn="rt-b0"
    )
    assert rep1["action"] == "appended"
    assert rep1["n_survivors"] == 8
    assert {r.doc_id for r in rep1["survivors"].collect()} == set(range(100, 108))
    c1 = census()

    # replay of a committed round: nothing re-runs, identical report
    rep1r = DD.minhash_ingest_round(
        b1, sigs, "doc_id", "text", threshold=0.9, txn="rt-b0"
    )
    assert rep1r["action"] == "skipped_replay"
    assert rep1r["n_survivors"] == 8
    assert {r.doc_id for r in rep1r["survivors"].collect()} == set(range(100, 108))
    assert census() == c1

    # crash in the window the ledger exists for: moves done, marker lost
    real_write_text = fsutil.write_text

    def crash_on_marker(p, text, spark_=None):
        if "/_ledger/" in p:
            raise OSError("injected crash before marker write")
        return real_write_text(p, text, spark_)

    b2 = _doc_fixture(spark, range(120, 128), clone_of={210: 100})
    with mock.patch.object(fsutil, "write_text", crash_on_marker):
        with pytest.raises(OSError, match="injected"):
            DD.minhash_ingest_round(
                b2, sigs, "doc_id", "text", threshold=0.9, txn="rt-b1"
            )
    assert not txn_committed(sigs, "rt-b1")
    c2 = census()
    assert c2 > c1  # the appends landed before the "crash"

    rep2 = DD.minhash_ingest_round(
        b2, sigs, "doc_id", "text", threshold=0.9, txn="rt-b1"
    )
    assert rep2["action"] == "completed_replay"
    # NOT zero — the probe did not re-run against the mutated table
    assert rep2["n_survivors"] == 8
    assert {r.doc_id for r in rep2["survivors"].collect()} == set(range(120, 128))
    assert census() == c2  # nothing double-appended
    assert txn_committed(sigs, "rt-b1")

    # crash BEFORE the manifest froze (mid-staging): the replay
    # restages from scratch — and may safely re-probe, because no file
    # of this txn ever moved into the table
    def crash_on_manifest(p, text, spark_=None):
        if "/_ingest_tmp/" in p and p.endswith("_manifest.json"):
            raise OSError("injected crash before manifest freeze")
        return real_write_text(p, text, spark_)

    b3 = _doc_fixture(spark, range(140, 148), clone_of={220: 120})
    with mock.patch.object(fsutil, "write_text", crash_on_manifest):
        with pytest.raises(OSError, match="injected"):
            DD.minhash_ingest_round(
                b3, sigs, "doc_id", "text", threshold=0.9, txn="rt-b2"
            )
    assert census() == c2  # nothing moved
    rep3 = DD.minhash_ingest_round(
        b3, sigs, "doc_id", "text", threshold=0.9, txn="rt-b2"
    )
    assert rep3["action"] == "appended"
    assert {r.doc_id for r in rep3["survivors"].collect()} == set(range(140, 148))


def test_stream_fingerprint_ingest_rounds_and_replay(spark, tmp_path):
    """Exactly-once streamed EXACT dedup — the fingerprint family under
    the same ledger contract test_stream_minhash_ingest pins: cross-run
    catches through the table (a batch-2 clone of a batch-1 survivor
    drops), a re-drain runs zero batches, a committed txn replays to
    skipped_replay with identical report and untouched file census, and
    a crash between the staged moves and the marker replays to
    completed_replay WITHOUT re-probing (a re-probe would find the
    batch's own appended fingerprints and drop every row)."""
    import unittest.mock as mock

    import pytest

    from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil as FS
    from chicago_crash_data_pipeline_dashboard_spark.sources.txn import txn_committed
    from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import (
        stream_fingerprint_ingest,
    )

    corpus = _doc_fixture(spark, range(30))
    fps = str(tmp_path / "fps")
    DD.write_fingerprints(corpus, fps, "doc_id", "text", parts=8)

    def census() -> int:
        return len(FS.glob_paths(f"{fps}/fingerprints/part=*/*.parquet"))

    def n_rows() -> int:
        return spark.read.parquet(f"{fps}/fingerprints").count()

    src = str(tmp_path / "incoming")
    args = dict(
        spark=spark, src_dir=src, fp_path=fps,
        checkpoint_dir=str(tmp_path / "ckpt"),
        survivors_dir=str(tmp_path / "surv"),
    )
    # 200 = corpus clone (drops vs table), 201 = clone of 100 (within)
    b1 = _doc_fixture(spark, range(100, 110), clone_of={200: 3, 201: 100})
    b1.coalesce(1).write.mode("append").parquet(src)
    r1 = stream_fingerprint_ingest(**args)
    # 210 = clone of the batch-1 SURVIVOR 100 — caught through the table
    b2 = _doc_fixture(spark, range(120, 130), clone_of={210: 100, 211: 5})
    b2.coalesce(1).write.mode("append").parquet(src)
    r2 = stream_fingerprint_ingest(**args)

    assert [r["action"] for r in r1 + r2] == ["appended", "appended"]
    surv1 = {r.doc_id for r in spark.read.parquet(f"{tmp_path}/surv/batch=0").collect()}
    surv2 = {r.doc_id for r in spark.read.parquet(f"{tmp_path}/surv/batch=1").collect()}
    assert surv1 == set(range(100, 110))
    assert surv2 == set(range(120, 130))
    assert r1[0]["n_within_dups"] == 1 and r1[0]["n_corpus_hits"] == 1
    assert r2[0]["n_corpus_hits"] == 2  # 210 via the table, 211 via corpus
    assert stream_fingerprint_ingest(**args) == []  # checkpoint dedups input
    docs = {
        r.doc
        for r in spark.read.parquet(f"{fps}/fingerprints").select("doc").collect()
    }
    assert docs == set(range(30)) | surv1 | surv2

    # committed-txn manual replay: no-op, identical report, same census
    from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import (
        _stream_ledger_id,
    )

    txn_b0 = f"{_stream_ledger_id(args['checkpoint_dir'])}-b0"
    c1 = census()
    rep = DD.fingerprint_ingest_round(b1, fps, "doc_id", "text", txn=txn_b0)
    assert rep["action"] == "skipped_replay"
    assert rep["n_survivors"] == 10
    assert {r.doc_id for r in rep["survivors"].collect()} == surv1
    assert census() == c1

    # crash after moves, before marker: replay completes WITHOUT re-probe
    real_write_text = fsutil.write_text

    def crash_on_marker(p, text, spark_=None):
        if "/_ledger/" in p:
            raise OSError("injected crash before marker write")
        return real_write_text(p, text, spark_)

    b3 = _doc_fixture(spark, range(140, 148), clone_of={220: 120})
    with mock.patch.object(fsutil, "write_text", crash_on_marker):
        with pytest.raises(OSError, match="injected"):
            DD.fingerprint_ingest_round(b3, fps, "doc_id", "text", txn="fp-b3")
    assert not txn_committed(fps, "fp-b3")
    r2_rows = n_rows()
    assert census() > c1  # the appends landed before the "crash"
    rep3 = DD.fingerprint_ingest_round(b3, fps, "doc_id", "text", txn="fp-b3")
    assert rep3["action"] == "completed_replay"
    assert rep3["n_survivors"] == 8  # NOT zero: no re-probe of mutated table
    assert {r.doc_id for r in rep3["survivors"].collect()} == set(range(140, 148))
    # nothing double-appended: ROW count unchanged (post-commit
    # compaction may legitimately merge files, so the file census is
    # not the duplication signal here)
    assert n_rows() == r2_rows
    assert txn_committed(fps, "fp-b3")


def test_stream_simhash_ingest_rounds_and_replay(spark, tmp_path):
    """Exactly-once streamed SIMHASH dedup — same ledger contract as
    the MinHash and fingerprint streams: cross-run catches through the
    segment index, zero-batch re-drain, skipped_replay with identical
    report and census, completed_replay without re-probe."""
    import unittest.mock as mock

    import pytest

    from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil as FS
    from chicago_crash_data_pipeline_dashboard_spark.sources.txn import txn_committed
    from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import (
        stream_simhash_ingest,
    )

    corpus = _doc_fixture(spark, range(30))
    idx = str(tmp_path / "simhash")
    DD.write_simhash_index(
        corpus, idx, "doc_id", "text", max_distance=3, bits=64, parts=8
    )

    def census() -> int:
        return len(FS.glob_paths(f"{idx}/segments/part=*/*.parquet"))

    def n_rows() -> int:
        return spark.read.parquet(f"{idx}/segments").count()

    src = str(tmp_path / "incoming")
    args = dict(
        spark=spark, src_dir=src, index_path=idx,
        checkpoint_dir=str(tmp_path / "ckpt"),
        survivors_dir=str(tmp_path / "surv"),
    )
    b1 = _doc_fixture(spark, range(100, 110), clone_of={200: 3, 201: 100})
    b1.coalesce(1).write.mode("append").parquet(src)
    r1 = stream_simhash_ingest(**args)
    b2 = _doc_fixture(spark, range(120, 130), clone_of={210: 100, 211: 5})
    b2.coalesce(1).write.mode("append").parquet(src)
    r2 = stream_simhash_ingest(**args)

    assert [r["action"] for r in r1 + r2] == ["appended", "appended"]
    surv1 = {r.doc_id for r in spark.read.parquet(f"{tmp_path}/surv/batch=0").collect()}
    surv2 = {r.doc_id for r in spark.read.parquet(f"{tmp_path}/surv/batch=1").collect()}
    assert surv1 == set(range(100, 110))
    assert surv2 == set(range(120, 130))
    assert stream_simhash_ingest(**args) == []  # checkpoint dedups input
    docs = {
        r.doc for r in spark.read.parquet(f"{idx}/segments").select("doc").collect()
    }
    assert docs == set(range(30)) | surv1 | surv2

    # committed-txn manual replay: no-op, identical report, same census
    from chicago_crash_data_pipeline_dashboard_spark.streaming.ingest import (
        _stream_ledger_id,
    )

    txn_b0 = f"{_stream_ledger_id(args['checkpoint_dir'])}-b0"
    c1 = census()
    rep = DD.simhash_ingest_round(b1, idx, "doc_id", "text", txn=txn_b0)
    assert rep["action"] == "skipped_replay"
    assert rep["n_survivors"] == 10
    assert {r.doc_id for r in rep["survivors"].collect()} == surv1
    assert census() == c1

    # crash after moves, before marker: replay completes WITHOUT re-probe
    real_write_text = fsutil.write_text

    def crash_on_marker(p, text, spark_=None):
        if "/_ledger/" in p:
            raise OSError("injected crash before marker write")
        return real_write_text(p, text, spark_)

    b3 = _doc_fixture(spark, range(140, 148), clone_of={220: 120})
    with mock.patch.object(fsutil, "write_text", crash_on_marker):
        with pytest.raises(OSError, match="injected"):
            DD.simhash_ingest_round(b3, idx, "doc_id", "text", txn="sh-b3")
    assert not txn_committed(idx, "sh-b3")
    r2_rows = n_rows()
    assert census() > c1
    rep3 = DD.simhash_ingest_round(b3, idx, "doc_id", "text", txn="sh-b3")
    assert rep3["action"] == "completed_replay"
    assert rep3["n_survivors"] == 8  # NOT zero: no re-probe of mutated table
    assert {r.doc_id for r in rep3["survivors"].collect()} == set(range(140, 148))
    # nothing double-appended: ROW count unchanged (post-commit
    # compaction may legitimately merge files, so the file census is
    # not the duplication signal here)
    assert n_rows() == r2_rows
    assert txn_committed(idx, "sh-b3")
