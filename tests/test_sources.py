"""Job-spec predicate precedence (P2), silver CSV round-trip (S8/S9),
catalog introspection (S12), upload validation (S13)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chicago_crash_data_pipeline_dashboard_spark.sources.jobspec import (
    JobSpec,
    apply_job,
    build_where,
    ensure_select,
)
from chicago_crash_data_pipeline_dashboard_spark.sources.silver import (
    current_database,
    describe_table,
    list_tables,
    read_silver_csv,
    validate_upload_schema,
    write_silver_csv,
)

ROWS = [
    ("a", "2025-01-01"),
    ("b", "2025-01-05"),
    ("c", "2025-01-10"),
    ("d", "2025-01-15"),
    ("e", None),
]


def _frame(spark):
    return spark.createDataFrame(ROWS, ["crash_record_id", "crash_date"])


def _ids(df):
    return sorted(r.crash_record_id for r in df.collect())


def test_where_precedence_explicit_beats_all(spark):
    spec = JobSpec(where="crash_date >= '2025-01-10'", date_range=("2025-01-01", "2025-01-05"))
    pred, mode = build_where(spec, watermark="2025-01-14", today="2025-01-20")
    assert mode == "explicit_where"
    assert _ids(_frame(spark).filter(pred)) == ["c", "d"]


def test_where_date_range_half_open(spark):
    spec = JobSpec(date_range=("2025-01-01", "2025-01-10"))
    pred, mode = build_where(spec, watermark="2024-12-31", today="2025-01-20")
    assert mode == "date_range"
    assert _ids(_frame(spark).filter(pred)) == ["a", "b"]  # end exclusive


def test_where_watermark_strictly_greater(spark):
    pred, mode = build_where(JobSpec(), watermark="2025-01-05", today="2025-01-20")
    assert mode == "watermark"
    assert _ids(_frame(spark).filter(pred)) == ["c", "d"]


def test_where_since_days_and_default(spark):
    pred, mode = build_where(JobSpec(since_days=10), today="2025-01-16")
    assert mode == "since_days"
    assert _ids(_frame(spark).filter(pred)) == ["c", "d"]  # >= 2025-01-06
    pred, mode = build_where(JobSpec(), today="2025-01-16")
    assert mode == "default_last_7_days"
    assert _ids(_frame(spark).filter(pred)) == ["c", "d"]  # >= 2025-01-09


def test_ensure_select_forces_key_and_date():
    spec = JobSpec(select=["weather_condition"])
    assert ensure_select(spec) == ["weather_condition", "crash_record_id", "crash_date"]
    assert ensure_select(JobSpec()) is None


def test_apply_job_projection_and_order(spark):
    spec = JobSpec(select=["crash_record_id"], date_range=("2025-01-01", "2025-02-01"))
    out = apply_job(_frame(spark), spec)
    assert out.columns == ["crash_record_id", "crash_date"]
    assert [r.crash_record_id for r in out.collect()] == ["a", "b", "c", "d"]  # ordered


def test_silver_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ["b", "a"], "x"), (2, [], "y")], ["k", "tags", "v"]
    )
    write_silver_csv(df, str(tmp_path), corr="r1")
    back = read_silver_csv(spark, str(tmp_path), corr="r1")
    rows = {r.k: r for r in back.collect()}
    assert back.columns == ["k", "v", "tags_json"]  # F18: list → *_json, moved last
    assert rows[1].tags_json == '["b","a"]'
    assert rows[2].tags_json == "[]"


def test_catalog_introspection(spark):
    spark.range(3).createOrReplaceTempView("tmp_cat_probe")
    tables = list_tables(spark)
    assert any(t["name"] == "tmp_cat_probe" and t["is_temporary"] for t in tables)
    cols = describe_table(spark, "tmp_cat_probe")
    assert cols == [{"name": "id", "type": "bigint", "nullable": False}]
    assert current_database(spark) == "default"
    spark.catalog.dropTempView("tmp_cat_probe")


def test_validate_upload_schema(spark):
    df = spark.createDataFrame([(1, "x")], ["a", "b"])
    assert validate_upload_schema(df, ["a", "b"]) == []
    assert validate_upload_schema(df, ["a", "c", "d"]) == ["c", "d"]


def test_events_ts_loads_as_timestamp(spark, sf_smoke):
    """registry.load must surface events.ts as a usable timestamp type:
    Spark >= 4.1 reads TIMESTAMP(NANOS) parquet natively as
    timestamp_ntz."""
    from chicago_crash_data_pipeline_dashboard_spark.plans.registry import load

    df = load(spark, sf_smoke, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    # and it must be consumable by the session-gap arithmetic
    from chicago_crash_data_pipeline_dashboard_spark.streaming.stateful import sessionize_batch

    out = sessionize_batch(df.limit(100))
    assert out.count() > 0


def test_orc_round_trip_pushes_filters(spark, sf_smoke, tmp_path):
    """ORC is a first-class columnar source: values round-trip exactly
    and filters/projections push into the ORC scan just like parquet."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    path = str(tmp_path / "docs_orc")
    docs.write.orc(path)
    back = spark.read.orc(path)
    assert back.count() == docs.count()
    # exact value round-trip on a checksum column
    a = docs.agg(F.sum("n_chars").alias("s"), F.sum(F.crc32("text")).alias("h")).first()
    b = back.agg(F.sum("n_chars").alias("s"), F.sum(F.crc32("text")).alias("h")).first()
    assert (a["s"], a["h"]) == (b["s"], b["h"])
    # pushdown: the filter reaches the ORC scan, the projection prunes
    q = back.filter(F.col("doc_id") < 10).select("doc_id", "lang")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan
