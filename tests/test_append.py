"""The one append path, across the six at-rest tables (MinHash,
fingerprints, SimHash, IVF, PQ, IVF-PQ): every append runs the staged
ledger, so an anonymous append leaves only data files behind and grows
the table exactly as a rebuild with the saved params or quantizers
would, a keyed append replays as a no-op, and a failed append leaves no
staging that would block forget / delete. Tiny inputs: 12 rows in all,
2 partitions / clusters.

Also pins the append-after-crashed-compaction repair: an append into a
cluster-partitioned index whose compaction crashed mid-swap must not
recreate the parked cluster and so lose its rows."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
from chicago_crash_data_pipeline_dashboard_spark.operators import similarity as SIM
from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil as FS
from chicago_crash_data_pipeline_dashboard_spark.sources.txn import (
    pending_txns,
    txn_committed,
)

CORPUS, BATCH_A, BATCH_B = range(6), range(6, 9), range(9, 12)
# queries: a fresh row (50) plus clones of a corpus row and of one row
# from each batch
CLONE_OF = {1001: 1, 1007: 7, 1010: 10}


def _docs(spark, ids, clone_of=None):
    def text(i):
        rng = random.Random(23 + i)
        return " ".join(f"w{rng.randrange(5000)}" for _ in range(30))

    rows = [(i, text(i)) for i in ids]
    rows += [(new, text(src)) for new, src in (clone_of or {}).items()]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, ids, clone_of=None):
    def vec(i):
        return [float(x) for x in np.random.default_rng(23 + i).normal(size=16)]

    rows = [(i, vec(i)) for i in ids]
    rows += [(new, vec(src)) for new, src in (clone_of or {}).items()]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


_MINHASH = dict(num_hashes=16, bands=4, shingle_n=3, seed=7, parts=2)

# appender -> (frame builder, id col, build(df, path, saved_from=None),
# append(batch, path, **kw), probe(spark, path, queries) -> set, data
# file glob under the table root, keyed (takes txn), (module, row writer
# patched to fail, an id column of the rows it returns), forget call)
APPENDERS = {
    "minhash": (
        _docs, "doc_id",
        lambda df, p, saved=None: DD.write_minhash_signatures(
            df, p, "doc_id", "text", **_MINHASH
        ),
        lambda b, p, **kw: DD.append_minhash_signatures(b, p, "doc_id", "text", **kw),
        lambda spark, p, q: _rows(
            DD.near_duplicates_against(q, p, "doc_id", "text", threshold=0.5)
        ),
        "banded/*/*.parquet", False,
        (DD, "_write_banded", None), DD.forget_documents,
    ),
    "fingerprint": (
        _docs, "doc_id",
        lambda df, p, saved=None: DD.write_fingerprints(df, p, "doc_id", "text", parts=2),
        lambda b, p, **kw: DD.append_fingerprints(b, p, "doc_id", "text", **kw),
        lambda spark, p, q: _rows(DD.dedup_exact_against(q, p, "doc_id", "text")),
        "fingerprints/*/*.parquet", True,
        (DD, "_fingerprint_rows", "doc"), DD.forget_documents,
    ),
    "simhash": (
        _docs, "doc_id",
        lambda df, p, saved=None: DD.write_simhash_index(
            df, p, "doc_id", "text", max_distance=3, bits=32, parts=2
        ),
        lambda b, p, **kw: DD.append_simhash_index(b, p, "doc_id", "text", **kw),
        lambda spark, p, q: _rows(
            DD.simhash_near_duplicates_against(q, p, "doc_id", "text")
        ),
        "segments/*/*.parquet", True,
        (DD, "_simhash_segment_rows", "doc"), DD.forget_documents,
    ),
    "ivf": (
        _vecs, "vec_id",
        lambda df, p, saved=None: SIM.write_ivf_index(
            df, p, n_clusters=2, seed=42,
            centroids=SIM.read_ivf_centroids(df.sparkSession, saved) if saved else None,
        ),
        SIM.append_to_ivf_index,
        lambda spark, p, q: _rows(SIM.ivf_topk_indexed(spark, p, q, k=3, n_probe=2)),
        "_cluster=*/*.parquet", True,
        (SIM, "_cluster_aligned", "neighbor_id"), SIM.delete_from_index,
    ),
    "pq": (
        _vecs, "vec_id",
        lambda df, p, saved=None: SIM.write_pq_index(
            df, p, dim=16, m=4, ks=4, seed=42,
            codebook=SIM.read_pq_codebook(df.sparkSession, saved) if saved else None,
        ),
        SIM.append_to_pq_index,
        lambda spark, p, q: _rows(SIM.pq_topk_indexed(spark, p, q, k=3)),
        "*/*.parquet", True,
        (SIM, "_write_pq_tables", None), None,
    ),
    "ivfpq": (
        _vecs, "vec_id",
        lambda df, p, saved=None: SIM.write_ivfpq_index(
            df, p, n_clusters=2, m=4, ks=4, seed=42,
            quantizers=(
                SIM.read_ivf_centroids(df.sparkSession, saved),
                SIM.read_pq_codebook(df.sparkSession, saved),
            ) if saved else None,
        ),
        SIM.append_to_ivfpq_index,
        lambda spark, p, q: _rows(
            SIM.ivfpq_topk_indexed(spark, p, q, k=3, n_probe=2)
        ),
        "data/_cluster=*/*.parquet", True,
        (SIM, "_cluster_aligned", "neighbor_id"), SIM.delete_from_index,
    ),
}


def _ledger_entries(path: str) -> list[str]:
    return [e for d in ("_ledger", "_ingest_tmp") for e in FS.glob_paths(f"{path}/{d}/*")]


@pytest.mark.parametrize("name", sorted(APPENDERS))
def test_one_append_path(spark, tmp_path, monkeypatch, name):
    (frame, id_col, build, append, probe, data_glob, keyed,
     (module, writer, col), forget) = APPENDERS[name]
    path, rebuilt = str(tmp_path / "table"), str(tmp_path / "rebuilt")
    build(frame(spark, CORPUS), path)

    # an anonymous append runs the ledger and leaves none of it behind
    append(frame(spark, BATCH_A), path)
    assert _ledger_entries(path) == []

    # a keyed append commits once; its replay moves nothing
    if keyed:
        append(frame(spark, BATCH_B), path, txn="k-b")
        files = sorted(FS.glob_paths(f"{path}/{data_glob}"))
        append(frame(spark, BATCH_B), path, txn="k-b")
        assert sorted(FS.glob_paths(f"{path}/{data_glob}")) == files
        assert txn_committed(path, "k-b")
    else:
        append(frame(spark, BATCH_B), path)
        assert _ledger_entries(path) == []

    # two appends probe exactly like a rebuild with the saved params
    build(frame(spark, [*CORPUS, *BATCH_A, *BATCH_B]), rebuilt, path)
    queries = frame(spark, [50], CLONE_OF)
    got = probe(spark, path, queries)
    assert got and got == probe(spark, rebuilt, queries)

    # a failed append leaves no staging behind, so forget still runs
    real = getattr(module, writer)

    def failing(*args, **kwargs):
        rows = real(*args, **kwargs)
        if col is None:  # the writer staged its rows itself
            raise RuntimeError("injected")
        return rows.withColumn(col, F.raise_error(F.lit("injected")).cast("long"))

    monkeypatch.setattr(module, writer, failing)
    with pytest.raises(Exception, match="injected"):
        append(frame(spark, BATCH_A), path)
    monkeypatch.undo()
    assert FS.glob_paths(f"{path}/_ingest_tmp/*") == []
    assert pending_txns(path) == []
    if forget is not None:
        forget(spark, path, frame(spark, [0]).select(id_col))


@pytest.mark.parametrize("name", ["ivf", "ivfpq"])
def test_append_repairs_crashed_compaction_first(spark, tmp_path, name):
    """A compaction that crashed between its two renames leaves cluster
    0 parked in ``_compact_old``. An append must restore it before
    writing: were cluster 0 recreated by the append, the next recovery
    would see the leaf present and discard the parked rows."""
    frame, _, build, append = APPENDERS[name][:4]
    path = str(tmp_path / "index")
    build(frame(spark, range(60)), path)
    data_dir = f"{path}/data" if name == "ivfpq" else path
    FS.mkdirs(f"{data_dir}/_compact_old")
    FS.rename(f"{data_dir}/_cluster=0", f"{data_dir}/_compact_old/_cluster=0")

    append(frame(spark, range(60, 90)), path)
    SIM.compact_index(spark, path)
    ids = spark.read.parquet(data_dir).select("neighbor_id")
    assert ids.count() == ids.distinct().count() == 90
