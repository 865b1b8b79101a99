"""The one ingest-round body, across the four at-rest signature
families (MinHash, exact fingerprints, SimHash, semantic IVF): every
round runs the staged-move ledger, an anonymous round (``txn=None``)
leaves only data files behind, a keyed round replays as a no-op, and a
failed anonymous round leaves no staging that would block forget.
Tiny inputs: 6 corpus rows, a 6-row batch, 2 partitions / clusters."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
from chicago_crash_data_pipeline_dashboard_spark.operators import similarity as SIM
from chicago_crash_data_pipeline_dashboard_spark.sources import fsutil as FS

CORPUS_IDS = range(6)
BATCH_IDS = range(100, 104)
# 200 clones corpus doc 3 (drops vs the table), 201 clones batch doc
# 100 (within-batch: the min id 100 keeps)
CLONE_OF = {200: 3, 201: 100}
SURVIVORS = set(BATCH_IDS)
LEDGER_DIRS = ("_ledger", "_rounds", "_rounds_stats", "_ingest_tmp")


def _docs(spark, ids, clone_of=None):
    texts = {}
    for i in sorted(set(ids) | set((clone_of or {}).values())):
        rng = random.Random(17 + i)
        texts[i] = " ".join(f"w{rng.randrange(5000)}" for _ in range(30))
    rows = [(i, texts[i]) for i in ids]
    rows += [(new, texts[src]) for new, src in (clone_of or {}).items()]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, ids, clone_of=None):
    def vec(i):
        return [float(x) for x in np.random.default_rng(17 + i).normal(size=16)]

    rows = [(i, vec(i)) for i in ids]
    rows += [(new, vec(src)) for new, src in (clone_of or {}).items()]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_ROUND_SECS = {"probe", "within", "survivors", "append", "compact"}
_EDGE_KEYS = {"n_cross_pairs", "n_within_pairs"}

# family -> (frame builder, id col, table writer, round, report keys
# beyond the shared ones, secs keys, (module, row writer patched to
# fail, an id column of the rows it returns), forget call)
FAMILIES = {
    "minhash": (
        _docs, "doc_id",
        lambda df, p: DD.write_minhash_signatures(
            df, p, "doc_id", "text",
            num_hashes=16, bands=4, shingle_n=3, seed=7, parts=2,
        ),
        lambda b, p, **kw: DD.minhash_ingest_round(
            b, p, "doc_id", "text", threshold=0.9, **kw
        ),
        _EDGE_KEYS | {"extended"}, _ROUND_SECS,
        (DD, "_part_aligned", "doc"), DD.forget_documents,
    ),
    "fingerprint": (
        _docs, "doc_id",
        lambda df, p: DD.write_fingerprints(df, p, "doc_id", "text", parts=2),
        lambda b, p, **kw: DD.fingerprint_ingest_round(b, p, "doc_id", "text", **kw),
        {"n_within_dups", "n_corpus_hits"}, {"within", "probe", "append", "compact"},
        (DD, "_part_aligned", "doc"), DD.forget_documents,
    ),
    "simhash": (
        _docs, "doc_id",
        lambda df, p: DD.write_simhash_index(
            df, p, "doc_id", "text", max_distance=3, bits=64, parts=2
        ),
        lambda b, p, **kw: DD.simhash_ingest_round(b, p, "doc_id", "text", **kw),
        _EDGE_KEYS, _ROUND_SECS,
        (DD, "_part_aligned", "doc"), DD.forget_documents,
    ),
    "semantic": (
        _vecs, "vec_id",
        lambda df, p: SIM.write_ivf_index(df, p, n_clusters=2, seed=42),
        lambda b, p, **kw: SIM.semantic_ingest_round(
            b, p, threshold=0.9, n_probe=2, **kw
        ),
        _EDGE_KEYS, _ROUND_SECS,
        (SIM, "_cluster_aligned", "neighbor_id"), SIM.delete_from_index,
    ),
}
_SHARED_KEYS = {"survivors", "n_batch", "n_survivors", "compacted", "secs"}


def _ledger_entries(path: str) -> list[str]:
    return [e for d in LEDGER_DIRS for e in FS.glob_paths(f"{path}/{d}/*")]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_one_round_body_anonymous_and_keyed(spark, tmp_path, family):
    frame, id_col, write, run, keys, secs, _, _ = FAMILIES[family]
    batch = frame(spark, BATCH_IDS, CLONE_OF)

    def fresh_table(name: str) -> str:
        path = str(tmp_path / name)
        write(frame(spark, CORPUS_IDS), path)
        return path

    def ids(rep) -> set:
        return {r[0] for r in rep["survivors"].select(id_col).collect()}

    anon = fresh_table("anon")
    rep = run(batch, anon)
    assert ids(rep) == SURVIVORS
    assert rep["n_batch"] == 6 and rep["n_survivors"] == len(SURVIVORS)
    assert _SHARED_KEYS | keys <= set(rep)
    assert set(rep["secs"]) == secs
    assert rep["action"] == "appended" and rep["txn"] is None
    assert _ledger_entries(anon) == []

    keyed = fresh_table("keyed")
    first = run(batch, keyed, txn="t-b0")
    again = run(batch, keyed, txn="t-b0")
    assert (first["action"], again["action"]) == ("appended", "skipped_replay")
    assert ids(first) == ids(again) == SURVIVORS
    assert again["n_survivors"] == first["n_survivors"]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_failed_anonymous_round_does_not_block_forget(
    spark, tmp_path, monkeypatch, family
):
    frame, id_col, write, run, _, _, (module, writer, col), forget = FAMILIES[family]
    path = str(tmp_path / "table")
    write(frame(spark, CORPUS_IDS), path)
    real = getattr(module, writer)

    def failing(*args, **kwargs):
        rows = real(*args, **kwargs)
        if col is None:  # a writer that stages its rows itself (none today)
            raise RuntimeError("injected")
        # the staged write starts (creating the stage dir), then its
        # job fails on the poisoned id column
        return rows.withColumn(col, F.raise_error(F.lit("injected")).cast("long"))

    monkeypatch.setattr(module, writer, failing)
    with pytest.raises(Exception, match="injected"):
        run(frame(spark, BATCH_IDS, CLONE_OF), path)
    monkeypatch.undo()
    assert FS.glob_paths(f"{path}/_ingest_tmp/*") == []
    forget(spark, path, frame(spark, [0]).select(id_col))  # no in-flight guard
