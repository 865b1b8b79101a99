"""Structured Streaming ingest: bronze file-stream → clean → gold upsert.

The reference's "streaming" is RabbitMQ micro-batches with hand-rolled
state (SURVEY §2.8); the Spark-native equivalent:

- ST2/ST3 (page markers, at-least-once + ack): the file-source
  checkpoint — each bronze file is processed exactly once across
  restarts, no custom marker objects;
- ST5 (late/duplicate data): the gold PK upsert (left-anti append)
  inside ``foreachBatch`` — re-delivered rows insert 0;
- ST1 (high-water mark, "backfills never advance"): the tiny
  WatermarkStore advanced per batch from max(crash_date), only in
  streaming mode — kept for parity with the reference's contract
  (extractor/main.go:693-702) even though the checkpoint already
  guarantees no-reprocessing;
- late-data windowed aggregation (``withWatermark`` + tumbling window)
  is provided for the streaming-analytics path.

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size; the
foreachBatch body is the same lazy clean plan as batch mode (code
reuse, one implementation to verify); gold append stays partition-
parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.clean import clean_crashes
from ..operators.gold import GoldTable, observed
from ..sources.bronze import _with_partitions
from .watermark import WatermarkStore


def read_bronze_stream(
    spark: SparkSession,
    base_dir: str,
    alias: str,
    schema: T.StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the partitioned bronze layout; the
    checkpoint (set on the writer) tracks processed files."""
    base = f"{base_dir}/{alias}"
    reader = spark.readStream.schema(_with_partitions(schema)).option("basePath", base)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(base) if fmt == "json" else reader.parquet(base)


def stream_bronze_to_gold(
    spark: SparkSession,
    bronze_dir: str,
    alias: str,
    schema: T.StructType,
    gold_path: str,
    checkpoint_dir: str,
    watermark_path: str,
    mode: str = "streaming",
    fmt: str = "json",
) -> list[dict]:
    """One availableNow pass: drain all unprocessed bronze files through
    clean → PK upsert, advancing the watermark per micro-batch.
    Returns the per-batch upsert stats."""
    stats: list[dict] = []
    src = read_bronze_stream(spark, bronze_dir, alias, schema, fmt=fmt)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # the batch is read twice (the median job, then the append), so
        # it is cached here, once, and released with the batch; nothing
        # downstream caches (each cache would outlive its micro-batch)
        batch_df = batch_df.persist()
        try:
            wm_store = WatermarkStore(watermark_path)
            cleaned = clean_crashes(batch_df, persist_intermediate=False)
            if mode == "streaming":
                wm = wm_store.get()
                if wm is not None:
                    # ST1: incremental runs only take rows past the mark
                    cleaned = cleaned.filter(F.col("crash_date") > F.lit(wm).cast("date"))
            # the watermark's max(crash_date) rides the append as an
            # observed metric instead of a second pass over the batch
            wm_obs = Observation()
            s = GoldTable(spark, gold_path).upsert(
                cleaned.observe(wm_obs, F.max("crash_date").alias("m")),
                corr_id=f"stream-{batch_id}",
            )
            mx = observed(wm_obs, "m", lambda: cleaned.agg(F.max("crash_date")).first()[0])
            wm_store.advance(str(mx) if mx is not None else None, mode=mode)
            s["batch_id"] = batch_id
            stats.append(s)
        finally:
            batch_df.unpersist()

    q = (
        src.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark_delay: str = "2 days",
) -> DataFrame:
    """Late-data-tolerant tumbling-window aggregation: the Structured
    Streaming analytics shape (withWatermark bounds state; late rows
    beyond the delay are dropped). Works identically on a batch frame
    (watermark is a no-op there) — used by tests to cross-check."""
    # watermarks require TIMESTAMP (ltz); NTZ inputs (Spark >= 4.1
    # nanos-parquet reads) cast value-preserving under the UTC session
    # timezone (same dispatch as streaming/stateful.sessionize)
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def _stream_ledger_id(checkpoint_dir: str) -> str:
    """Stable per-stream ledger namespace: a restarted stream MUST
    reuse its checkpoint dir (that's how it resumes), so a hash of it
    keys the same ledger across restarts while two different streams
    appending to one index never collide."""
    import hashlib

    return "cp" + hashlib.md5(checkpoint_dir.encode("utf-8")).hexdigest()[:10]


def stream_append_to_ivf_index(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """Incremental ANN-index maintenance AS A STREAM — the composition
    the append family exists for: a 100 TB corpus arrives as files, and
    each availableNow drain appends every new file's vectors to the
    at-rest IVF index under the SAVED quantizer
    (``operators.similarity.append_to_ivf_index``; probe results gated
    equal to a same-quantizer rebuild in tests/test_streaming.py),
    under the drain's delivery contract (:func:`_stream_ingest_rounds`).
    Duplicate ids ACROSS source files remain the upstream contract,
    exactly as in batch appends.

    Per batch, the returned stats carry ``assign_drift_stats`` vs the
    build-time baseline persisted in the index metadata
    (``read_drift_baseline``) — the retrain signal surfaces in the
    drain's output instead of silently decaying recall. Returns one
    dict per micro-batch: {batch_id, n_vectors, mean_dist, p95_dist,
    max_dist, baseline_mean}.
    """
    from ..operators import similarity as SIM

    baseline = SIM.read_drift_baseline(spark, index_path)

    def run_round(batch_df: DataFrame, txn: str) -> dict:
        centroids = SIM.append_to_ivf_index(
            batch_df, index_path, id_col=id_col, vec_col=vec_col, txn=txn
        )
        drift = SIM.assign_drift_stats(batch_df, centroids, vec_col=vec_col).first()
        return {
            "n_vectors": drift["n_vectors"],
            "mean_dist": drift["mean_dist"],
            "p95_dist": drift["p95_dist"],
            "max_dist": drift["max_dist"],
            "baseline_mean": baseline["mean_dist"] if baseline else None,
        }

    return _stream_ingest_rounds(
        spark, src_dir, checkpoint_dir, run_round,
        survivors_dir=None, max_files_per_trigger=max_files_per_trigger,
    )


def stream_maintain_index(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    **policy,
) -> list[dict]:
    """:func:`stream_append_to_ivf_index`'s grown-up sibling: each
    drained micro-batch goes through the FULL maintenance policy
    (``operators.similarity.maintain_index`` — drift-gated auto-
    retrain / append / trigger-based compaction) instead of a bare
    append, so a long-running ingest stream keeps its index healthy
    without an operator watching the drift stats. ``policy`` kwargs
    pass through to ``maintain_index`` (``retrain_drift_ratio``,
    ``compact_trigger``, ``retrain="never"`` …).

    Same delivery contract as every drain (:func:`_stream_ingest_rounds`);
    a retrain round's ledger marker is published atomically with the
    swapped-in index. Returns maintain_index's per-batch reports (with
    batch_id added)."""
    from ..operators import similarity as SIM

    return _stream_ingest_rounds(
        spark, src_dir, checkpoint_dir,
        lambda batch_df, txn: SIM.maintain_index(
            spark, index_path, batch_df, id_col=id_col, vec_col=vec_col,
            txn=txn, **policy
        ),
        survivors_dir=None,
        max_files_per_trigger=max_files_per_trigger,
    )


def stream_minhash_ingest(
    spark: SparkSession,
    src_dir: str,
    sig_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    comp_path: str | None = None,
    threshold: float = 0.6,
    max_bucket: int | None = None,
    survivors_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """Cross-run MinHash dedup AS A STREAM — the dedup twin of
    :func:`stream_maintain_index`, completing the at-rest family's
    streaming story: a 100 TB corpus arrives as files, and each
    drained micro-batch runs ONE full ingest round
    (``operators.dedup.minhash_ingest_round``) against the signature
    table — probe vs the corpus (text never read, scan pruned to the
    batch's bucket partitions), probe vs itself, the INGEST survivor
    policy, survivors-only signature append, optional standing-cluster
    fold (``comp_path``), trigger-gated compaction. Batch N+1's
    duplicates of batch N's survivors are caught through the table —
    sequential rounds, exactly the semantics of calling the round per
    batch by hand (gated in tests/test_streaming.py).

    Delivery contract, survivors sink and report shape: see
    :func:`_stream_ingest_rounds`."""
    from ..operators import dedup as DD

    return _stream_ingest_rounds(
        spark, src_dir, checkpoint_dir,
        lambda batch_df, txn: DD.minhash_ingest_round(
            batch_df, sig_path, id_col, text_col,
            comp_path=comp_path, threshold=threshold,
            max_bucket=max_bucket, txn=txn,
        ),
        survivors_dir=survivors_dir,
        max_files_per_trigger=max_files_per_trigger,
    )


def stream_fingerprint_ingest(
    spark: SparkSession,
    src_dir: str,
    fp_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    survivors_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """Cross-run EXACT dedup AS A STREAM — :func:`stream_minhash_ingest`
    for the fingerprint table (``operators.dedup.write_fingerprints``):
    each drained micro-batch runs one full
    ``fingerprint_ingest_round`` — within-batch exact dedup, probe
    against the at-rest corpus fingerprints (pruned scan, corpus never
    shuffled), survivors-only append, trigger-gated compaction. Same
    drain as the MinHash stream; within-batch duplicate IDs across
    source files remain the upstream contract."""
    from ..operators import dedup as DD

    return _stream_ingest_rounds(
        spark, src_dir, checkpoint_dir,
        lambda batch_df, txn: DD.fingerprint_ingest_round(
            batch_df, fp_path, id_col, text_col, txn=txn
        ),
        survivors_dir=survivors_dir,
        max_files_per_trigger=max_files_per_trigger,
    )


def stream_simhash_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int | None = None,
    max_bucket: int | None = None,
    survivors_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """Cross-run SIMHASH dedup AS A STREAM — :func:`stream_minhash_ingest`
    for the segment index (``operators.dedup.write_simhash_index``):
    each drained micro-batch runs one full ``simhash_ingest_round``
    (probe vs corpus segments + Hamming pairs vs itself under the
    index's pinned params, ingest survivor policy, survivors-only
    segment append, trigger-gated compaction). Same drain as the
    MinHash stream."""
    from ..operators import dedup as DD

    return _stream_ingest_rounds(
        spark, src_dir, checkpoint_dir,
        lambda batch_df, txn: DD.simhash_ingest_round(
            batch_df, index_path, id_col, text_col,
            max_distance=max_distance, max_bucket=max_bucket, txn=txn,
        ),
        survivors_dir=survivors_dir,
        max_files_per_trigger=max_files_per_trigger,
    )


def stream_semantic_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_probe: int = 4,
    files_per_cluster: int = 1,
    verify: str = "auto",
    survivors_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """Cross-run SEMANTIC dedup + ANN-index ingest AS A STREAM —
    :func:`stream_minhash_ingest` for the embeddings family: each
    drained micro-batch runs one
    full ``similarity.semantic_ingest_round`` against the IVF / IVF-PQ
    index — probe vs the ingested corpus (scan pruned to the probed
    cluster partitions, corpus never shuffled) and vs itself under the
    index's geometry, the shared INGEST survivor policy, survivors-only
    append under the SAVED quantizers, trigger-gated compaction. Batch
    N+1's near-duplicates of batch N's
    survivors are caught through the index — sequential rounds, the
    semantics of calling the round per batch by hand.

    Quantizer health is a separate concern: run
    :func:`stream_maintain_index` (or batch ``maintain_index``) on its
    own cadence to watch drift and retrain; this stream never
    retrains. Same drain as the other three ingest streams."""
    from ..operators import similarity as SIM

    return _stream_ingest_rounds(
        spark, src_dir, checkpoint_dir,
        lambda batch_df, txn: SIM.semantic_ingest_round(
            batch_df, index_path, id_col=id_col, vec_col=vec_col,
            threshold=threshold, n_probe=n_probe,
            files_per_cluster=files_per_cluster, verify=verify, txn=txn,
        ),
        survivors_dir=survivors_dir,
        max_files_per_trigger=max_files_per_trigger,
    )


def _stream_ingest_rounds(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    run_round,
    survivors_dir: str | None,
    max_files_per_trigger: int | None,
) -> list[dict]:
    """The one availableNow drain behind the six ANN / dedup streams:
    each micro-batch runs ``run_round(batch_df, txn) -> report`` once,
    with ``batch_df`` cached for the round and a per-batch txn id
    keyed on this stream's checkpoint.

    Delivery contract: the file-source checkpoint deduplicates INPUT
    (each source file enters exactly one micro-batch across restarts
    and re-drains — a second drain with no new files runs ZERO
    batches), but ``foreachBatch`` itself is AT-LEAST-ONCE: a crash
    after a round succeeds but before the checkpoint commit replays
    the same micro-batch on restart. Every round therefore runs under
    its txn in the table's staged-move ledger (sources/txn.py): a
    replayed batch that already committed is a no-op that reports
    ``skipped_replay``, and a batch that crashed mid-move completes
    its frozen staging instead of duplicating rows. For the dedup
    rounds the ledger also guards the probe-before-append rule: a
    replay must NOT re-probe a table holding its own half-appended
    rows (the batch would pair with itself and drop every row), so
    the frozen staging skips the re-probe and completes the moves.

    ``survivors_dir``: optional sink — each batch's surviving rows
    land under ``{survivors_dir}/batch={batch_id}`` in overwrite mode
    (replay-idempotent by construction: a replayed batch overwrites
    its own directory with identical content). Returns one report per
    micro-batch (the round's report plus ``batch_id``, without the
    survivors frame)."""
    schema = spark.read.parquet(src_dir).schema
    reports: list[dict] = []
    ledger = _stream_ledger_id(checkpoint_dir)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    src = reader.parquet(src_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            rep = run_round(batch_df, f"{ledger}-b{batch_id}")
            if survivors_dir is not None:
                rep["survivors"].write.mode("overwrite").parquet(
                    f"{survivors_dir}/batch={batch_id}"
                )
            rep["batch_id"] = batch_id
            rep.pop("survivors", None)  # a plan over an unpersisted frame
            reports.append(rep)
        finally:
            batch_df.unpersist()

    q = (
        src.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return reports
