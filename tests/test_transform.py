"""Differential test: Spark Silver transform vs pandas/Polars-semantics oracle."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from chicago_crash_data_pipeline_dashboard_spark.operators.transform import (
    make_csv_safe,
    merge_crash_vehicles_people,
    silver_transform,
)

from .fixtures.crash_data import make_crashes, make_people, make_vehicles
from .pandas_oracles import transform_oracle


@pytest.fixture(scope="module")
def frames(spark):
    crashes = make_crashes(200)
    ids = [i for i in crashes["crash_record_id"].dropna().unique().tolist()]
    vehicles = make_vehicles(ids[:150], mixed_case=True)
    people = make_people(ids[:120])
    s_crashes = spark.createDataFrame(crashes.where(pd.notna(crashes), None))
    s_vehicles = spark.createDataFrame(vehicles.where(pd.notna(vehicles), None))
    s_people = spark.createDataFrame(people.where(pd.notna(people), None))
    return (crashes, vehicles, people, s_crashes, s_vehicles, s_people)


def test_merge_parity(frames):
    crashes, vehicles, people, sc, sv, sp = frames
    spark_out = merge_crash_vehicles_people(sc, sv, sp).toPandas()
    oracle = transform_oracle(crashes, vehicles, people)

    assert len(spark_out) == len(oracle)
    assert set(spark_out.columns) == set(oracle.columns)

    key = "crash_record_id"
    s = spark_out.sort_values(key, na_position="first").reset_index(drop=True)
    o = oracle.sort_values(key, na_position="first").reset_index(drop=True)

    # counts agree
    for prefix in ("veh", "ppl"):
        sa = s[f"{prefix}_count"].fillna(-1).astype("int64").tolist()
        oa = o[f"{prefix}_count"].fillna(-1).astype("int64").tolist()
        assert sa == oa, f"{prefix}_count mismatch"

    # sorted-distinct list columns agree (Spark arrays vs python lists)
    list_cols = [c for c in oracle.columns if c.endswith("_list")]
    assert len(list_cols) == 10  # 5 vehicle + 5 people text columns
    for c in list_cols:
        for i, (a, b) in enumerate(zip(s[c].tolist(), o[c].tolist())):
            a = list(a) if a is not None else None
            b = list(b) if isinstance(b, list) else (None if b is None or b != b else b)
            assert a == b, f"{c} row {i}: {a!r} vs {b!r}"


def test_mixed_case_columns_canonicalized(frames):
    *_, sc, sv, sp = frames
    out = merge_crash_vehicles_people(sc, sv, sp)
    # 'Crash_Record_ID' and ' MAKE ' were normalized
    assert "veh_make_list" in out.columns
    assert "crash_record_id" in out.columns


def test_orphans_excluded(frames):
    crashes, _, _, sc, sv, sp = frames
    out = merge_crash_vehicles_people(sc, sv, sp).toPandas()
    # left join: orphan vehicle ids don't create rows
    assert not out["crash_record_id"].astype(str).str.startswith("ORPHAN").any()


def test_csv_safe_serializes_lists(frames):
    *_, sc, sv, sp = frames
    out = silver_transform(sc, sv, sp)
    list_cols = [c for c in out.columns if c.endswith("_list_json")]
    assert len(list_cols) == 10
    row = out.filter(out["veh_count"].isNotNull()).select(list_cols[0]).first()
    parsed = json.loads(row[0])
    assert isinstance(parsed, list)


def test_keep_first_dedup_by_id(frames):
    *_, sc, sv, sp = frames
    out = merge_crash_vehicles_people(sc, sv, sp).toPandas()
    non_null = out["crash_record_id"].dropna()
    assert non_null.is_unique


def test_keep_first_payload_parity(frames):
    """For duplicated ids (same id, different payload) the row that
    survives is the first one, as in the pandas oracle — every non-list
    column, not just the counts and lists."""
    crashes, vehicles, people, sc, sv, sp = frames
    out = merge_crash_vehicles_people(sc, sv, sp)
    assert dict(out.dtypes)["veh_count"] == "bigint"
    assert dict(out.dtypes)["ppl_count"] == "bigint"

    key = "crash_record_id"
    dup_ids = set(crashes.loc[crashes[key].duplicated(keep=False), key].dropna())
    assert dup_ids  # the fixture plants same-id rows with other payloads

    s = out.toPandas().sort_values(key, na_position="first").reset_index(drop=True)
    o = (
        transform_oracle(crashes, vehicles, people)
        .sort_values(key, na_position="first")
        .reset_index(drop=True)
    )
    payload = [c for c in crashes.columns if c != key]
    for c in payload:
        a = [None if pd.isna(v) else str(v) for v in s[c]]
        b = [None if pd.isna(v) else str(v) for v in o[c]]
        assert a == b, f"{c}: kept payload differs from the first row"
    kept = s[s[key].isin(dup_ids)].set_index(key)["weather_condition"]
    first = crashes[crashes[key].isin(dup_ids)].drop_duplicates(key).set_index(key)
    assert kept.to_dict() == first["weather_condition"].to_dict()
