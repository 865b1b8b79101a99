"""Right-to-be-forgotten at rest (sources/forget.py + the dedup/ANN
wrappers): partition-pruned hard deletion — correct rows gone, kept
rows intact, untouched partitions provably untouched (file identity,
not just content), emptied partitions cleared, flat tables refused."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
from chicago_crash_data_pipeline_dashboard_spark.operators import similarity as SIM
from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil as FS
from chicago_crash_data_pipeline_dashboard_spark.sources.forget import (
    delete_rows_partitioned,
)


def _docs(spark, n=60, seed=5):
    rows = []
    for i in range(n):
        rng = random.Random(seed + i)
        rows.append((i, " ".join(f"w{rng.randrange(5000)}" for _ in range(25))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _file_census(pattern):
    import os

    return {
        p: os.stat(p.replace("file:", "")).st_mtime_ns
        for p in FS.glob_paths(pattern)
    }


def test_delete_rows_partitioned_prunes_and_clears(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.pmod(F.col("id"), F.lit(10)).cast("int").alias("part"),
    )
    df.repartition("part").write.partitionBy("part").parquet(path)
    before = _file_census(f"{path}/part=*/*.parquet")

    # delete keys living in exactly two partitions (part 3 and 7)
    keys = spark.range(1000).filter(
        (F.col("id") % 10 == 3) | ((F.col("id") % 10 == 7) & (F.col("id") < 500))
    ).select(F.col("id").alias("k"))
    st = delete_rows_partitioned(spark, path, keys, key_col="k")
    assert st["parts_touched"] == 2
    assert st["parts_emptied"] == 1  # part=3 lost every row
    assert st["rows_deleted"] == 100 + 50
    assert not FS.exists(f"{path}/part=3")

    out = spark.read.parquet(path)
    assert out.count() == 1000 - 150
    assert out.filter(F.col("k") % 10 == 3).count() == 0
    kept7 = {r.k for r in out.filter(F.col("part") == 7).collect()}
    assert kept7 == {i for i in range(500, 1000) if i % 10 == 7}
    # v column survived the rewrite intact
    assert out.filter(F.col("v") != F.col("k") * 2).count() == 0

    # untouched partitions: the SAME files, not rewritten copies
    after = _file_census(f"{path}/part=*/*.parquet")
    untouched_before = {p: m for p, m in before.items() if "/part=3" not in p and "/part=7" not in p}
    assert untouched_before.items() <= after.items()

    # no-hit delete: pure no-op, zero rewrites
    pre = _file_census(f"{path}/part=*/*.parquet")
    st2 = delete_rows_partitioned(
        spark, path, spark.range(5).select((F.col("id") + 10_000).alias("k")),
        key_col="k",
    )
    assert st2["rows_deleted"] == 0 and st2["parts_touched"] == 0
    assert _file_census(f"{path}/part=*/*.parquet") == pre


def test_forget_documents_simhash_layout(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "sh")
    DD.write_simhash_index(
        docs, path, "doc_id", "text", max_distance=3, bits=64,
        hash_mode="murmur3", parts=8,
    )
    forget = docs.filter(F.col("doc_id") % 4 == 1).select("doc_id")
    st = DD.forget_documents(spark, path, forget)
    assert st["table"] == "segments"
    assert st["rows_deleted"] == forget.count() * 4  # d+1 segment rows/doc

    # clones of forgotten docs no longer pair; clones of kept docs do
    clones = docs.select((F.col("doc_id") + 500).alias("doc_id"), "text")
    pairs = DD.simhash_near_duplicates_against(clones, path, "doc_id", "text")
    got = {(r.corpus_doc, r.batch_doc) for r in pairs.collect()}
    for i in range(60):
        if i % 4 == 1:
            assert (i, i + 500) not in got
        else:
            assert (i, i + 500) in got


def test_delete_from_ivfpq_and_pq_index(spark, tmp_path):
    import numpy as np

    rng = np.random.RandomState(11)
    full = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(rng.standard_normal((300, 16)).astype("float32"))],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivfpq")
    cents, cb = SIM.write_ivfpq_index(full, path, n_clusters=8, m=8, ks=16, seed=42)
    doomed = full.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= 10))
    st = SIM.delete_from_index(spark, path, doomed.select("vec_id"))
    assert st["kind"] == "ivfpq"
    assert st["rows_deleted"] == doomed.count()

    q = full.filter(F.col("vec_id") < 10)
    got = SIM.ivfpq_topk_indexed(spark, path, q, k=5, n_probe=4, refine=8)
    doomed_ids = {r.vec_id for r in doomed.select("vec_id").collect()}
    assert not ({r.neighbor_id for r in got.collect()} & doomed_ids)
    # identical to a same-quantizer rebuild on the survivors
    survivors = full.join(doomed.select("vec_id"), "vec_id", "left_anti")
    rebuilt = str(tmp_path / "rebuilt")
    SIM.write_ivfpq_index(survivors, rebuilt, quantizers=(cents, cb))
    want = SIM.ivfpq_topk_indexed(spark, rebuilt, q, k=5, n_probe=4, refine=8)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # PQ is one cluster: the same delete equals a same-codebook rebuild
    pq = str(tmp_path / "pq")
    cb = SIM.write_pq_index(full, pq, id_col="vec_id", vec_col="embedding",
                            dim=16, m=8, ks=16, seed=42)
    st = SIM.delete_from_index(spark, pq, doomed.select("vec_id"))
    assert st["kind"] == "ivfpq" and st["rows_deleted"] == doomed.count()
    pq_rebuilt = str(tmp_path / "pq_rebuilt")
    SIM.write_pq_index(survivors, pq_rebuilt, codebook=cb)
    got = SIM.pq_topk_indexed(spark, pq, q, k=5, refine=8)
    want = SIM.pq_topk_indexed(spark, pq_rebuilt, q, k=5, refine=8)
    assert not ({r.neighbor_id for r in got.collect()} & doomed_ids)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_forget_nodes_relabels_and_preserves_star_property(spark, tmp_path):
    """Component-table deletion: rows gone; a component whose CANONICAL
    was forgotten relabels to its surviving min member (the star-graph
    property extend_components depends on — a forgotten node must
    never survive as a label, or a later extend re-emits it as an
    endpoint); fully-deleted components vanish; a later extend over
    the cleaned table works and never resurrects forgotten nodes."""
    from chicago_crash_data_pipeline_dashboard_spark.operators.graph import (
        connected_components,
        extend_components_at_rest,
        forget_nodes,
        read_components,
        write_components,
    )

    # comps: {1,2,3} (canonical 1), {10,11} (canonical 10), {20,21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "src long, dst long"
    )
    path = str(tmp_path / "comps")
    write_components(connected_components(edges), path, parts=64)

    # forget the canonical of {1,2,3}, ALL of {10,11}, a member of {20..}
    ids = spark.createDataFrame([(1,), (10,), (11,), (21,)], "node long")
    st = forget_nodes(spark, path, ids)
    assert st["rows_deleted"] == 4
    assert st["comps_touched"] == 3
    assert st["comps_relabeled"] == 1  # {2,3} adopted canonical 2

    got = {(r.node, r.comp) for r in read_components(spark, path).collect()}
    assert got == {(2, 2), (3, 2), (20, 20), (22, 20)}

    # no-op on unknown ids
    st2 = forget_nodes(spark, path, spark.createDataFrame([(99,)], "node long"))
    assert st2 == {
        "rows_deleted": 0, "comps_touched": 0,
        "comps_relabeled": 0, "rewritten_parts": 0,
    }

    # a later extend neither resurrects forgotten nodes nor mislabels:
    # new edge joins 3 to 22 -> one comp under min surviving id 2
    extend_components_at_rest(
        spark, path, spark.createDataFrame([(3, 22)], "src long, dst long")
    )
    got = {(r.node, r.comp) for r in read_components(spark, path).collect()}
    assert got == {(2, 2), (3, 2), (20, 2), (22, 2)}

    # documented semantic limit: forgetting an articulation node keeps
    # the survivors in ONE component (memberships carry no edges to
    # split on) — the conservative direction for dedup
    path2 = str(tmp_path / "comps2")
    write_components(
        connected_components(
            spark.createDataFrame([(5, 6), (6, 7)], "src long, dst long")
        ),
        path2, parts=8,
    )
    forget_nodes(spark, path2, spark.createDataFrame([(6,)], "node long"))
    got = {(r.node, r.comp) for r in read_components(spark, path2).collect()}
    assert got == {(5, 5), (7, 5)}


def test_forget_refuses_inflight_txn(spark, tmp_path):
    """A crashed-but-uncommitted ingest txn holds a frozen staging
    whose remaining moves target the table's partitions — forgetting
    now would strand the replay mid-move, so forget refuses until the
    staging is drained or discarded."""
    import pytest

    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil

    docs = _docs(spark, n=20)
    path = str(tmp_path / "sigs")
    DD.write_minhash_signatures(
        docs, path, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, seed=7, parts=8,
    )
    fsutil.write_text(f"{path}/_ingest_tmp/cpz-b4/_manifest.json", "[]")
    with pytest.raises(RuntimeError, match="in-flight ingest"):
        DD.forget_documents(
            spark, path, docs.limit(3).select("doc_id")
        )
    fsutil.delete(f"{path}/_ingest_tmp")
    st = DD.forget_documents(spark, path, docs.filter(F.col("doc_id") < 3).select("doc_id"))
    assert st["rows_deleted"] == 3 * 4  # bands rows per doc


def test_forget_scrubs_round_records(spark, tmp_path):
    """forget_documents hard-deletes from the WHOLE table root: the
    per-txn survivor records under _rounds/ hold doc ids too, and a
    forgotten id must not survive there (nor reappear in a replayed
    round's reconstructed survivors)."""
    docs = _docs(spark, n=30)
    path = str(tmp_path / "sigs")
    DD.write_minhash_signatures(
        docs.filter(F.col("doc_id") < 20), path, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, seed=7, parts=8,
    )
    batch = docs.filter(F.col("doc_id") >= 20)
    rep = DD.minhash_ingest_round(
        batch, path, "doc_id", "text", threshold=0.9, txn="scrub-b0"
    )
    assert rep["n_survivors"] == 10

    st = DD.forget_documents(
        spark, path, spark.createDataFrame([(25,), (27,)], "doc_id long")
    )
    assert st["round_records_scrubbed"] == 2
    rec = {r.doc for r in spark.read.parquet(f"{path}/_rounds/scrub-b0").collect()}
    assert rec == set(range(20, 30)) - {25, 27}
    # a replay of the committed round reconstructs survivors WITHOUT
    # the forgotten ids
    rep2 = DD.minhash_ingest_round(
        batch, path, "doc_id", "text", threshold=0.9, txn="scrub-b0"
    )
    assert rep2["action"] == "skipped_replay"
    got = {r.doc_id for r in rep2["survivors"].collect()}
    assert got == set(range(20, 30)) - {25, 27}
    # the replayed report's count must agree with its own survivors
    # frame (post-scrub), not echo the pre-forget staged stats
    assert rep2["n_survivors"] == 8


def test_quiescence_guard_ignores_committed_txn_litter(spark, tmp_path):
    """A crash between the committed-marker write and the staging
    cleanup (txn protocol step 4) leaves an orphaned _ingest_tmp/{txn}
    dir. That txn is NOT in flight — the quiescence guards must clear
    the litter and proceed, not refuse forever on a quiescent table."""
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil

    docs = _docs(spark, n=20)
    path = str(tmp_path / "sigs")
    DD.write_minhash_signatures(
        docs, path, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, seed=7, parts=8,
    )
    # committed marker + leftover staging = post-commit litter
    fsutil.write_text(f"{path}/_ledger/cpz-b4", '{"txn": "cpz-b4"}')
    fsutil.write_text(f"{path}/_ingest_tmp/cpz-b4/_manifest.json", "[]")
    st = DD.forget_documents(
        spark, path, docs.filter(F.col("doc_id") < 2).select("doc_id")
    )
    assert st["rows_deleted"] == 2 * 4
    assert not fsutil.exists(f"{path}/_ingest_tmp/cpz-b4")
    # an UNcommitted staging alongside still refuses
    import pytest

    fsutil.write_text(f"{path}/_ingest_tmp/cpz-b5/_manifest.json", "[]")
    with pytest.raises(RuntimeError, match="in-flight ingest"):
        DD.forget_documents(spark, path, docs.limit(1).select("doc_id"))


def test_skipped_replay_clears_committed_stage_litter(spark, tmp_path):
    """The txn-round replay short-circuit must also clear post-commit
    staging litter (it returns before staged_append's own
    marker branch would) — otherwise a checkpoint-deduped re-drain
    runs zero batches, never replays, and the litter trips the forget
    guards forever."""
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil

    docs = _docs(spark, n=30)
    path = str(tmp_path / "sigs")
    DD.write_minhash_signatures(
        docs.filter(F.col("doc_id") < 20), path, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, seed=7, parts=8,
    )
    batch = docs.filter(F.col("doc_id") >= 20)
    DD.minhash_ingest_round(batch, path, "doc_id", "text", threshold=0.9, txn="lit-b0")
    # simulate the crash window: marker written, staging not yet dropped
    fsutil.write_text(f"{path}/_ingest_tmp/lit-b0/_manifest.json", "[]")
    rep = DD.minhash_ingest_round(
        batch, path, "doc_id", "text", threshold=0.9, txn="lit-b0"
    )
    assert rep["action"] == "skipped_replay"
    assert not fsutil.exists(f"{path}/_ingest_tmp/lit-b0")


def test_replay_recovers_crashed_scrub_swap(spark, tmp_path):
    """forget_documents' _rounds scrub swap is delete(rec) then
    rename(tmp, rec); a crash between the two leaves the record absent
    until the next forget's recovery walk. A txn replay reading the
    record in that window must finish the swap itself, not fail on the
    missing path."""
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil

    docs = _docs(spark, n=30)
    path = str(tmp_path / "sigs")
    DD.write_minhash_signatures(
        docs.filter(F.col("doc_id") < 20), path, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, seed=7, parts=8,
    )
    batch = docs.filter(F.col("doc_id") >= 20)
    DD.minhash_ingest_round(batch, path, "doc_id", "text", threshold=0.9, txn="swp-b0")
    # simulate the crash: the scrubbed copy sits at the tmp name, the
    # original record is gone
    rec = f"{path}/_rounds/swp-b0"
    fsutil.rename(rec, f"{rec}__scrub_tmp")
    rep = DD.minhash_ingest_round(
        batch, path, "doc_id", "text", threshold=0.9, txn="swp-b0"
    )
    assert rep["action"] == "skipped_replay"
    assert fsutil.exists(rec) and not fsutil.exists(f"{rec}__scrub_tmp")
    assert rep["n_survivors"] == 10
    assert {r.doc_id for r in rep["survivors"].collect()} == set(range(20, 30))


def test_forget_refreshes_bucket_size_stats(spark, tmp_path):
    """After a forget shrinks a hot bucket below the probe cap, the
    capped probe must FIND pairs in it again: the rewrite recomputes
    ``bucket_size`` over the touched partitions' survivors (VERDICT
    r12 item 5 — stale write-time stats previously kept the bucket
    skipped forever, a silent recall loss)."""
    base = _docs(spark, n=6)
    text = base.filter(F.col("doc_id") == 0).collect()[0].text
    # six exact clones: every banded bucket they share has size 6
    corpus = base.select("doc_id", "text").unionByName(
        spark.createDataFrame([(100 + i, text) for i in range(6)],
                              "doc_id long, text string")
    ).filter(F.col("doc_id") >= 100)
    path = str(tmp_path / "sigs")
    DD.write_minhash_signatures(
        corpus, path, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, seed=7, parts=8,
    )
    probe = spark.createDataFrame([(999, text)], "doc_id long, text string")
    # cap 4 < bucket size 6: the probe skips the clones' buckets
    before = DD.near_duplicates_against(
        probe, path, "doc_id", "text", threshold=0.9, max_bucket=4
    ).count()
    assert before == 0
    st = DD.forget_documents(
        spark, path, spark.createDataFrame([(100,), (101,), (102,)], "doc_id long")
    )
    assert st["stats_refreshed"] is True
    # bucket shrank to 3 <= cap AND the stats were refreshed in the
    # rewrite — the probe recalls the surviving clones again
    pairs = DD.near_duplicates_against(
        probe, path, "doc_id", "text", threshold=0.9, max_bucket=4
    )
    assert {r.corpus_doc for r in pairs.collect()} == {103, 104, 105}


def test_bucket_size_refresh_never_newly_drops_multi_segment_buckets(spark, tmp_path):
    """The refresh subtracts the bucket's DELETED count from each
    surviving row's per-write-segment value — never a merged recount:
    the cap's semantics are per WRITE SEGMENT (a bucket hot only across
    segments is deliberately kept), so a forget touching a partition
    must never push an untargeted bucket over the cap by merging its
    segments' counts."""
    base = _docs(spark, n=4)
    text = base.filter(F.col("doc_id") == 0).collect()[0].text
    seg1 = spark.createDataFrame(
        [(100 + i, text) for i in range(3)], "doc_id long, text string"
    )
    seg2 = spark.createDataFrame(
        [(103 + i, text) for i in range(3)], "doc_id long, text string"
    )
    path = str(tmp_path / "sigs")
    DD.write_minhash_signatures(
        seg1, path, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, seed=7, parts=8,
    )
    DD.append_minhash_signatures(seg2, path, "doc_id", "text")
    probe = spark.createDataFrame([(999, text)], "doc_id long, text string")
    # each segment's rows store bucket_size=3 <= cap 4: all 6 probed,
    # even though the bucket's TOTAL (6) exceeds the cap
    before = DD.near_duplicates_against(
        probe, path, "doc_id", "text", threshold=0.9, max_bucket=4
    )
    assert {r.corpus_doc for r in before.collect()} == set(range(100, 106))
    # forget ONE clone: remaining total 5 still exceeds the cap, but
    # the delta refresh writes 3−1=2 on every surviving row — a merged
    # recount would write 5 and silently drop the whole bucket
    st = DD.forget_documents(
        spark, path, spark.createDataFrame([(100,)], "doc_id long")
    )
    assert st["stats_refreshed"] is True
    after = DD.near_duplicates_against(
        probe, path, "doc_id", "text", threshold=0.9, max_bucket=4
    )
    assert {r.corpus_doc for r in after.collect()} == set(range(101, 106))


def test_pending_txns_readonly_probe(spark, tmp_path):
    """pending_txns is read-only by default (r14, ADVICE r13: a
    list-named helper must be safe as a monitoring probe); the
    quiescence guards opt into reaping committed litter explicitly."""
    from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil
    from chicago_crash_data_pipeline_dashboard_spark.sources.txn import pending_txns

    root = str(tmp_path / "t")
    fsutil.write_text(f"{root}/_ledger/done-b0", "{}")
    fsutil.write_text(f"{root}/_ingest_tmp/done-b0/_manifest.json", "[]")
    fsutil.write_text(f"{root}/_ingest_tmp/live-b1/_manifest.json", "[]")
    # default = read-only: reports only the uncommitted txn, deletes nothing
    assert pending_txns(root) == ["live-b1"]
    assert fsutil.exists(f"{root}/_ingest_tmp/done-b0")
    # guard mode: reaps the committed litter, still reports the live one
    assert pending_txns(root, reap_committed=True) == ["live-b1"]
    assert not fsutil.exists(f"{root}/_ingest_tmp/done-b0")
    assert fsutil.exists(f"{root}/_ingest_tmp/live-b1")


def test_bare_txn_appends_replay_idempotent(spark, tmp_path):
    """append_fingerprints / append_simhash_index with a txn id: a
    replayed call is a no-op (row counts unchanged), a fresh txn
    appends, and trailing-slash table roots normalize."""
    corpus = _docs(spark, n=20)
    batch = _docs(spark, n=30).filter(F.col("doc_id") >= 20)

    fps_root = str(tmp_path / "fps")
    DD.write_fingerprints(corpus, fps_root, "doc_id", "text", parts=8)
    DD.append_fingerprints(batch, fps_root + "/", "doc_id", "text", txn="a-b0")
    n1 = spark.read.parquet(f"{fps_root}/fingerprints").count()
    assert n1 == 30
    DD.append_fingerprints(batch, fps_root + "/", "doc_id", "text", txn="a-b0")
    assert spark.read.parquet(f"{fps_root}/fingerprints").count() == n1
    DD.append_fingerprints(batch, fps_root, "doc_id", "text", txn="a-b1")
    assert spark.read.parquet(f"{fps_root}/fingerprints").count() == 40

    sh_root = str(tmp_path / "sh")
    DD.write_simhash_index(
        corpus, sh_root, "doc_id", "text", max_distance=3, bits=64, parts=8
    )
    DD.append_simhash_index(batch, sh_root + "/", "doc_id", "text", txn="s-b0")
    n1 = spark.read.parquet(f"{sh_root}/segments").count()
    assert n1 == 30 * 4  # (d+1) segment rows per doc
    DD.append_simhash_index(batch, sh_root + "/", "doc_id", "text", txn="s-b0")
    assert spark.read.parquet(f"{sh_root}/segments").count() == n1
