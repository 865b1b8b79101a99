"""Differential test: Spark Gold cleaning chain vs pandas oracle."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from chicago_crash_data_pipeline_dashboard_spark.operators.clean import clean_crashes
from chicago_crash_data_pipeline_dashboard_spark.schemas import BRONZE_CRASHES

from .fixtures.crash_data import make_crashes
from .pandas_oracles import clean_oracle


@pytest.fixture(scope="module")
def bronze_pdf() -> pd.DataFrame:
    return make_crashes(600)


@pytest.fixture(scope="module")
def spark_clean(spark, bronze_pdf):
    sdf = spark.createDataFrame(bronze_pdf.where(pd.notna(bronze_pdf), None), schema=BRONZE_CRASHES)
    return clean_crashes(sdf).toPandas()


@pytest.fixture(scope="module")
def oracle_clean(bronze_pdf) -> pd.DataFrame:
    return clean_oracle(bronze_pdf)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(
        ["crash_record_id", "weather_condition", "latitude"],
        na_position="first",
    ).reset_index(drop=True)


def test_row_count(spark_clean, oracle_clean):
    assert len(spark_clean) == len(oracle_clean)


def test_columns(spark_clean, oracle_clean):
    assert set(spark_clean.columns) == set(oracle_clean.columns)


@pytest.mark.parametrize(
    "col",
    [
        "hit_and_run_i", "intersection_related_i", "private_property_i", "work_zone_i",
        "is_weekend", "hour_bin", "crash_type", "weather_condition",
        "roadway_surface_cond", "lighting_condition", "traffic_control_device",
        "road_defect", "street_direction", "trafficway_type", "grid_id",
        "crash_day_of_week", "crash_hour", "beat_of_occurrence", "num_units",
        "posted_speed_limit",
    ],
)
def test_column_parity(spark_clean, oracle_clean, col):
    s = _sorted(spark_clean)[col].tolist()
    o = _sorted(oracle_clean)[col].tolist()
    assert len(s) == len(o)
    for i, (a, b) in enumerate(zip(s, o)):
        a_null = a is None or (isinstance(a, float) and math.isnan(a))
        b_null = b is None or b is pd.NA or (isinstance(b, float) and math.isnan(b))
        if a_null and b_null:
            continue
        assert not (a_null or b_null), f"{col} row {i}: {a!r} vs {b!r}"
        if isinstance(a, float):
            assert math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-9), f"{col} row {i}: {a!r} vs {b!r}"
        else:
            assert a == b, f"{col} row {i}: {a!r} vs {b!r}"


@pytest.mark.parametrize("col", ["latitude", "longitude", "lat_bin", "lng_bin", "injuries_total"])
def test_float_parity(spark_clean, oracle_clean, col):
    s = _sorted(spark_clean)[col].tolist()
    o = _sorted(oracle_clean)[col].tolist()
    for i, (a, b) in enumerate(zip(s, o)):
        a_null = a is None or (isinstance(a, float) and math.isnan(a))
        b_null = b is None or (isinstance(b, float) and math.isnan(b))
        assert a_null == b_null, f"{col} row {i}: {a!r} vs {b!r}"
        if not a_null:
            assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9), f"{col} row {i}: {a!r} vs {b!r}"


def test_dates_normalized(spark_clean, oracle_clean):
    s = _sorted(spark_clean)["crash_date"].tolist()
    o = [d.date() for d in _sorted(oracle_clean)["crash_date"]]
    assert s == o


def test_null_coord_rows_survive(spark_clean):
    # the §4.3 trap: null-coordinate rows must pass the bbox filter,
    # keep grid_id 'nan_nan', and get median-filled lat_bin
    nan_grid = spark_clean[spark_clean["grid_id"] == "nan_nan"]
    assert len(nan_grid) > 0
    assert nan_grid["lat_bin"].notna().all()


def test_caps(spark_clean):
    assert (spark_clean["num_units"].dropna() <= 10).all()
    assert (spark_clean["posted_speed_limit"].dropna() <= 75).all()


_RESTART_SCRIPT = """
import sys
from chicago_crash_data_pipeline_dashboard_spark.operators import clean
from chicago_crash_data_pipeline_dashboard_spark.plans.crash_ops import synth_bronze_spark
from chicago_crash_data_pipeline_dashboard_spark.session import get_spark

def rows():
    spark = get_spark(app_name="ccpd_restart")
    out = clean.clean_crashes(synth_bronze_spark(spark, sys.argv[1]), persist_intermediate=False)
    got = sorted(map(tuple, out.collect()), key=repr)
    spark.stop()
    return got

first = rows()
exprs = clean._exprs()
second = rows()
assert clean._exprs() is exprs, "the Columns were rebuilt on the same gateway"
assert first and first == second, (len(first), len(second))
print("ok", len(first))
"""


def test_clean_crashes_survives_a_new_context(sf_smoke, tmp_path):
    """clean_crashes builds its data-independent Columns once per JVM
    gateway; after SparkContext.stop() and a new session on the same
    gateway, the same Columns give the same rows. Run in a subprocess,
    so stopping the context does not stop the suite's session."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_LOCAL_DIRS": str(tmp_path)}
    res = subprocess.run([sys.executable, "-c", _RESTART_SCRIPT, sf_smoke], cwd=root, env=env,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().startswith("ok "), res.stdout
