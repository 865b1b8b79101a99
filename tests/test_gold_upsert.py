"""Gold upsert (M1-M4), watermark (ST1-ST2), bronze layout (S3-S7) tests."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chicago_crash_data_pipeline_dashboard_spark.operators.clean import clean_crashes
from chicago_crash_data_pipeline_dashboard_spark.operators.gold import GoldTable
from chicago_crash_data_pipeline_dashboard_spark.schemas import BRONZE_CRASHES
from chicago_crash_data_pipeline_dashboard_spark.sources.bronze import read_bronze, write_bronze
from chicago_crash_data_pipeline_dashboard_spark.streaming.watermark import (
    MarkerStore,
    WatermarkStore,
    job_fingerprint,
)

from .fixtures.crash_data import make_crashes


@pytest.fixture(scope="module")
def gold_input(spark):
    pdf = make_crashes(300)
    sdf = spark.createDataFrame(pdf.where(pd.notna(pdf), None), schema=BRONZE_CRASHES)
    return clean_crashes(sdf)


def test_upsert_insert_then_skip(spark, gold_input, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gold") / "crashes")
    table = GoldTable(spark, path)

    stats1 = table.upsert(gold_input, corr_id="run-1")
    assert stats1["before_count"] == 0
    assert stats1["inserted"] > 0
    assert stats1["after_count"] == stats1["inserted"]

    # idempotent re-run: same batch → 0 inserted, all skipped
    stats2 = table.upsert(gold_input, corr_id="run-2")
    assert stats2["inserted"] == 0
    assert stats2["skipped"] > 0
    assert stats2["after_count"] == stats1["after_count"]

    integ = table.verify_integrity()
    assert integ["ok"] == 1
    assert integ["duplicate_pks"] == 0
    assert integ["null_pks"] == 0


def test_upsert_dedups_batch_and_drops_null_pk(spark, gold_input, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gold2") / "crashes")
    table = GoldTable(spark, path)
    table.upsert(gold_input, corr_id="r1")
    g = table.read().toPandas()
    assert g["crash_record_id"].notna().all()
    assert g["crash_record_id"].is_unique
    assert (g["corr_id"] == "r1").all()
    assert g["inserted_at"].notna().all()


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _r, _d, files in os.walk(path) for f in files)


def test_upsert_statically_empty_batch(spark, gold_input, tmp_path_factory):
    """A batch the optimizer proves empty prunes the observed nodes; the
    stats fall back to explicit counts instead of failing or hanging."""
    table = GoldTable(spark, str(tmp_path_factory.mktemp("gold_empty") / "crashes"))
    n = table.upsert(gold_input, corr_id="r1")["after_count"]
    empty = gold_input.filter(F.lit(False))
    assert table.upsert(empty, corr_id="r2") == {
        "before_count": n, "after_count": n, "inserted": 0, "skipped": 0,
    }
    assert table.verify_integrity() == {"total": n, "duplicate_pks": 0, "null_pks": 0, "ok": 1}


def test_upsert_empty_batch_into_new_table(spark, gold_input, tmp_path_factory):
    table = GoldTable(spark, str(tmp_path_factory.mktemp("gold_new") / "crashes"))
    assert table.upsert(gold_input.filter(F.lit(False)), corr_id="r1") == {
        "before_count": 0, "after_count": 0, "inserted": 0, "skipped": 0,
    }
    assert table.read().count() == 0


def test_upsert_all_duplicate_batch(spark, tmp_path_factory):
    """Every row is a duplicate — of a gold key, of another batch row,
    or has a NULL key: nothing is inserted and every input row counts
    as skipped."""
    table = GoldTable(spark, str(tmp_path_factory.mktemp("gold_dup") / "crashes"))
    schema = "crash_record_id string, crash_date date"
    first = spark.createDataFrame([("A", None), ("B", None)], schema)
    assert table.upsert(first, corr_id="r1")["inserted"] == 2
    dups = spark.createDataFrame(
        [("A", None), ("A", None), ("B", None), (None, None), (None, None)], schema
    )
    assert table.upsert(dups, corr_id="r2") == {
        "before_count": 2, "after_count": 2, "inserted": 0, "skipped": 5,
    }
    # intra-batch duplicates of a NEW key insert it once
    mixed = spark.createDataFrame([("C", None), ("C", None), ("A", None), (None, None)], schema)
    assert table.upsert(mixed, corr_id="r3") == {
        "before_count": 2, "after_count": 3, "inserted": 1, "skipped": 3,
    }
    assert table.verify_integrity()["ok"] == 1


def test_small_upsert_adds_one_file(spark, gold_input, tmp_path_factory):
    """The append is not cached, so AQE coalesces a small delta into one
    write task: one new parquet file per small batch, not one per
    shuffle partition."""
    path = str(tmp_path_factory.mktemp("gold_files") / "crashes")
    table = GoldTable(spark, path)
    half = gold_input.filter(F.col("crash_record_id") < "CRASH000150")
    table.upsert(half, corr_id="r1")
    before = _parquet_files(path)
    assert table.upsert(gold_input, corr_id="r2")["inserted"] > 0
    assert _parquet_files(path) == before + 1


def test_watermark_rules(tmp_path):
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    assert wm.get() is None
    # streaming run advances
    assert wm.advance("2025-01-02T00:00:00", mode="streaming") == "2025-01-02T00:00:00"
    # backfill never advances (ST1)
    assert wm.advance("2025-06-01T00:00:00", mode="backfill") == "2025-01-02T00:00:00"
    # never regresses
    assert wm.advance("2024-01-01T00:00:00", mode="streaming") == "2025-01-02T00:00:00"
    # moves forward
    assert wm.advance("2025-03-01T00:00:00", mode="streaming") == "2025-03-01T00:00:00"


def test_markers(tmp_path):
    ms = MarkerStore(str(tmp_path / "markers"))
    fp = job_fingerprint("crashes", "2025-01-01", "2025-02-01")
    assert len(fp) == 12
    assert not ms.is_done(fp, 0)
    ms.mark_done(fp, 0, {"page_max": "2025-01-15"})
    assert ms.is_done(fp, 0)
    # different job params → different fingerprint → independent markers
    fp2 = job_fingerprint("crashes", "2025-01-01", "2025-03-01")
    assert fp2 != fp
    assert not ms.is_done(fp2, 0)


def test_bronze_partitioned_roundtrip(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bronze"))
    pdf = make_crashes(100)
    sdf = spark.createDataFrame(pdf.where(pd.notna(pdf), None), schema=BRONZE_CRASHES)

    write_bronze(sdf, base, "crashes", corr="2025-01-01-00-00-00")
    write_bronze(sdf.limit(40), base, "crashes", corr="2025-02-02-00-00-00")

    # corr-pruned read (S5 path-glob partition pruning)
    one = read_bronze(spark, base, "crashes", BRONZE_CRASHES, corr="2025-01-01-00-00-00")
    n_rows_with_date = sdf.filter(sdf.crash_date.isNotNull()).count()
    n_null_date = sdf.count() - n_rows_with_date
    got = one.count()
    assert got == sdf.count()
    # year partition column materialized; null dates land in year=0 (ST6)
    years = {r["year"] for r in one.select("year").distinct().collect()}
    assert 0 in years or n_null_date == 0
    assert {2023, 2024, 2025} & years

    # full read sees both runs
    both = read_bronze(spark, base, "crashes", BRONZE_CRASHES)
    assert both.count() == sdf.count() + 40
    corrs = {r["corr"] for r in both.select("corr").distinct().collect()}
    assert corrs == {"2025-01-01-00-00-00", "2025-02-02-00-00-00"}
