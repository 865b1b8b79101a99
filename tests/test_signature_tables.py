"""The one-row JSON ``_params`` sidecar of the signature and components
tables: a read starts no Spark job, and the sidecars older writers left
(a Spark JSON part file with the params wrapped in ``params_json``,
fingerprints' plain columns, no ``files_per_part``) still read, probe
and append like a fresh table's. Also pins that the exact probe passes
every batch column through, a column named ``part`` included. Tiny
inputs: 6 corpus rows, 2 partitions."""

from __future__ import annotations

import json
import random
import shutil

from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
from chicago_crash_data_pipeline_dashboard_spark.operators.graph import (
    connected_components,
    extend_components_at_rest,
    read_components,
    write_components,
)
from tests.test_plans import _job_count

_MINHASH = dict(num_hashes=16, bands=4, shingle_n=3, seed=7, hash_mode="murmur3")


def _docs(spark, ids, clone_of=None):
    def text(i):
        rng = random.Random(31 + i)
        return " ".join(f"w{rng.randrange(5000)}" for _ in range(30))

    rows = [(i, text(i)) for i in ids]
    rows += [(new, text(src)) for new, src in (clone_of or {}).items()]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spark_json_sidecar(spark, path: str, row, schema: str) -> None:
    """A ``_params`` sidecar as the Spark JSON writer left it."""
    shutil.rmtree(f"{path}/_params", ignore_errors=True)
    spark.createDataFrame([row], schema).coalesce(1).write.json(f"{path}/_params")


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def test_params_read_starts_no_job_and_legacy_sidecars_read(spark, tmp_path):
    corpus = _docs(spark, range(6))
    tables = {
        "minhash": (
            lambda p: DD.write_minhash_signatures(
                corpus, p, "doc_id", "text", parts=2, **_MINHASH
            ),
            {**_MINHASH, "parts": 2, "files_per_part": 1},
        ),
        "fingerprint": (
            lambda p: DD.write_fingerprints(corpus, p, "doc_id", "text", parts=2),
            {"parts": 2, "files_per_part": 1},
        ),
        "simhash": (
            lambda p: DD.write_simhash_index(
                corpus, p, "doc_id", "text", max_distance=3, bits=32, parts=2
            ),
            {"bits": 32, "max_distance": 3, "hash_mode": "murmur3", "parts": 2,
             "files_per_part": 1},
        ),
        "components": (
            lambda p: write_components(
                connected_components(
                    spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
                ),
                p, parts=2,
            ),
            {"parts": 2, "files_per_part": 1},
        ),
    }
    for name, (write, expected) in tables.items():
        path = str(tmp_path / name)
        write(path)
        got = {}
        jobs = _job_count(
            spark, f"params-{name}", lambda: got.update(DD._read_params(spark, path))
        )
        assert (name, jobs, got) == (name, 0, expected)

    # the three legacy forms, each read back to the params it holds
    wrapped = str(tmp_path / "minhash")
    fresh = str(tmp_path / "minhash_fresh")
    shutil.copytree(wrapped, fresh)
    p = tables["minhash"][1]
    _spark_json_sidecar(spark, wrapped, (json.dumps(p),), "params_json string")
    assert DD._read_params(spark, wrapped) == p
    fps = str(tmp_path / "fingerprint")
    _spark_json_sidecar(spark, fps, (2, 1), "parts int, files_per_part int")
    assert DD._read_params(spark, fps) == {"parts": 2, "files_per_part": 1}
    sims = str(tmp_path / "simhash")
    no_fpp = {k: v for k, v in tables["simhash"][1].items() if k != "files_per_part"}
    _spark_json_sidecar(spark, sims, (json.dumps(no_fpp),), "params_json string")
    assert DD._read_params(spark, sims) == tables["simhash"][1]

    # the legacy MinHash table probes and appends like the fresh one
    queries = _docs(spark, [50], {1001: 1, 1007: 7})
    probe = lambda p: _rows(  # noqa: E731
        DD.near_duplicates_against(queries, p, "doc_id", "text", threshold=0.5)
    )
    assert probe(wrapped) == probe(fresh) == {(1, 1001, 1.0)}
    for table in (wrapped, fresh):
        DD.append_minhash_signatures(_docs(spark, [7, 8]), table, "doc_id", "text")
    assert probe(wrapped) == probe(fresh) == {(1, 1001, 1.0), (7, 1007, 1.0)}
    banded = lambda p: _rows(  # noqa: E731
        spark.read.parquet(f"{p}/banded").drop("signature")
    )
    assert banded(wrapped) == banded(fresh)
    # and the legacy components table extends
    comps = str(tmp_path / "components")
    _spark_json_sidecar(
        spark, comps, (json.dumps({"parts": 2}),), "params_json string"
    )
    extend_components_at_rest(
        spark, comps, spark.createDataFrame([(2, 3)], "src long, dst long")
    )
    assert {r["comp"] for r in read_components(spark, comps).collect()} == {1}


def test_exact_probe_keeps_a_batch_part_column(spark, tmp_path):
    path = str(tmp_path / "fps")
    DD.write_fingerprints(_docs(spark, range(6)), path, "doc_id", "text", parts=2)
    batch = _docs(spark, [50, 51], {1001: 1}).selectExpr(
        "doc_id", "text", "doc_id * 10 AS part"
    )
    kept = DD.dedup_exact_against(batch, path, "doc_id", "text")
    assert kept.columns == batch.columns
    assert sorted((r.doc_id, r.part) for r in kept.collect()) == [(50, 500), (51, 510)]

    rep = DD.fingerprint_ingest_round(batch, path, "doc_id", "text")
    assert rep["survivors"].columns == batch.columns
    assert sorted((r.doc_id, r.part) for r in rep["survivors"].collect()) == [
        (50, 500), (51, 510),
    ]
