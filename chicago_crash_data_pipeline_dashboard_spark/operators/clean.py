"""Gold cleaning chain — Silver crashes → typed Gold-ready DataFrame.

Re-expresses the reference cleaner (cleaner/cleaning_rules.py:11-223)
as one lazy Spark plan plus a single extra job for the exact-median
imputation statistics (two-pass by necessity: the fill values are data-
dependent aggregates; the reference does the same thing eagerly row-by-
row in pandas).

Chain order is semantically faithful (P3 → F3 → F4 → F5 → P5 → F6 →
P4 → F8 → F9 → F10/F11 → F12 → F13/A11 → F14 → F15): medians are
computed AFTER the date/bbox filters, and grid_id BEFORE imputation
(so null-coordinate rows keep grid_id='nan_nan' while their lat_bin is
median-filled — a reference quirk we reproduce exactly).

Scale notes: everything except the median pass is narrow (no shuffle);
the median pass is one global exact-percentile aggregate per run —
at 100 TB prefer approx_percentile(…, 1e-6) if byte-parity with the
pandas oracle is not required (flagged inline).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cleaning as C
from ..schemas import GOLD_REQUIRED_INPUT_COLUMNS, MEDIAN_FILL_EXCLUDE, NUM_UNITS_CAP, SPEED_LIMIT_CAP

BOOL_COLS = ["hit_and_run_i", "intersection_related_i", "private_property_i", "work_zone_i"]

# numeric parse targets for the all-string Silver/Bronze input
_NUMERIC_INPUTS = {
    "posted_speed_limit": "double",
    "beat_of_occurrence": "double",
    "num_units": "double",
    "injuries_total": "double",
    "crash_hour": "double",
    "crash_day_of_week": "double",
    "latitude": "double",
    "longitude": "double",
}

_FINAL_INT_COLS = [
    "crash_day_of_week",
    "crash_hour",
    "beat_of_occurrence",
    "num_units",
    "posted_speed_limit",
]


@dataclass(frozen=True)
class _ChainExprs:
    """The chain's Columns that do not depend on the data."""

    present: dict[str, Column]  # P3: required column as read
    missing: dict[str, Column]  # P3: required column created all-null
    parsed: dict[str, Column]  # numeric parse casts
    features: dict[str, Column]  # F3 bools + F4/F5 time features
    crash_date: Column  # F6
    coords_ok: Column  # P4
    bins_recodes: dict[str, Column]  # F8/F9 + F10/F11
    caps: dict[str, Column]  # F15
    final_ints: dict[str, Column]  # final Gold typing


def _build_exprs() -> _ChainExprs:
    lat_bin, lng_bin = C.coord_bin(F.col("latitude")), C.coord_bin(F.col("longitude"))
    return _ChainExprs(
        present={c: F.col(c) for c in GOLD_REQUIRED_INPUT_COLUMNS},
        missing={c: F.lit(None).cast("string").alias(c) for c in GOLD_REQUIRED_INPUT_COLUMNS},
        parsed={c: F.col(c).cast(t) for c, t in _NUMERIC_INPUTS.items()},
        features={
            **{c: C.standardize_boolean(F.col(c)) for c in BOOL_COLS},
            "is_weekend": C.is_weekend(F.col("crash_day_of_week")),
            "hour_bin": C.hour_bin(F.col("crash_hour")),
        },
        crash_date=C.normalize_crash_date(F.col("crash_date")),
        coords_ok=~C.invalid_coords(F.col("latitude"), F.col("longitude")),
        bins_recodes={
            "lat_bin": lat_bin,
            "lng_bin": lng_bin,
            "grid_id": C.grid_id(lat_bin, lng_bin),
            "roadway_surface_cond": C.roadway_surface_recode(F.col("roadway_surface_cond")),
            "lighting_condition": C.lighting_recode(F.col("lighting_condition")),
            "weather_condition": C.weather_recode(F.col("weather_condition")),
            "traffic_control_device": C.traffic_control_recode(F.col("traffic_control_device")),
            "crash_type": C.crash_type_recode(F.col("crash_type")),
        },
        caps={
            "num_units": C.cap(F.col("num_units"), NUM_UNITS_CAP),
            "posted_speed_limit": C.cap(F.col("posted_speed_limit"), SPEED_LIMIT_CAP),
        },
        # pandas keeps imputed columns as float; DuckDB's INTEGER cast
        # rounds half-even — Spark's truncates, so bround first
        final_ints={c: F.bround(F.col(c), 0).cast("int") for c in _FINAL_INT_COLS},
    )


@functools.lru_cache(maxsize=1)
def _exprs_on(gateway) -> _ChainExprs:
    """Every F.* call and literal behind the chain's Columns is a Py4J
    round trip (~1.5k for the set), so they are built once per JVM
    gateway. A Column is an immutable expression tree over column names;
    it stays valid across SparkContexts on the same gateway (stop(),
    then a new session)."""
    return _build_exprs()


def _exprs() -> _ChainExprs:
    return _exprs_on(SparkContext._gateway)


def select_required(df: DataFrame) -> DataFrame:
    """P3 (cleaning_rules.py:31-51): keep the 22 req_cols; create any
    missing one as all-null (a run where a column was entirely null in
    the source drops it from the inferred Silver schema)."""
    ex, present = _exprs(), set(df.columns)
    return df.select(
        [ex.present[c] if c in present else ex.missing[c] for c in GOLD_REQUIRED_INPUT_COLUMNS]
    )


def parse_types(df: DataFrame) -> DataFrame:
    """Cast string-typed numeric inputs to double (pandas read_csv
    inference analog, made explicit and deterministic). One batched
    projection."""
    parsed, types = _exprs().parsed, dict(df.dtypes)
    return df.withColumns({c: e for c, e in parsed.items() if types.get(c) == "string"})


def clean_crashes(
    df: DataFrame, exact_median: bool = True, persist_intermediate: bool = True
) -> DataFrame:
    """Full cleaning chain. Input: Silver crashes (string or typed
    columns). Output: Gold-shaped frame (no audit columns yet — the
    upsert writer adds corr_id/inserted_at/updated_at, M3).

    The exact-median imputation makes this a two-pass plan (stats job,
    then the fill). ``persist_intermediate`` materializes the pre-fill
    frame once so the stats job and the final plan don't both recompute
    the upstream chain — Spark's cache manager also shares it across
    queries built on the same input plan. MEMORY_AND_DISK; LRU-evicted,
    recompute-on-miss keeps it correct either way.

    The cache is never released here (the returned plan reads it), so
    it lives as long as the caller's session. Pass
    ``persist_intermediate=False`` when the caller calls this once per
    batch (a streaming micro-batch, an ingest round) — each call would
    leave one more cached frame behind — and cache the input itself,
    for the batch's lifetime, if it is costly to re-read. Pass it too
    when the result is executed once per call (a registered query):
    a second call over the same input would otherwise read the frame
    the first call cached instead of recomputing it.
    """
    ex = _exprs()
    out = parse_types(select_required(df))

    # F3 bools + F4/F5 time features — one batched projection
    # (withColumns, not a withColumn chain: each withColumn adds a
    # Project node and re-analysis; batched it's one node)
    out = out.withColumns(ex.features)

    # P5 + F6: drop null dates, normalize to day
    out = out.na.drop(subset=["crash_date"])
    out = out.withColumn("crash_date", ex.crash_date)

    # P4 null-safe bounding box (null coords survive)
    out = out.filter(ex.coords_ok)

    # F8/F9 spatial binning + grid id (BEFORE imputation — quirk) and
    # F10/F11 categorical recodes (null → OTHER)
    out = out.withColumns(ex.bins_recodes)

    # F12 injuries_total → 0
    out = out.na.fill({"injuries_total": 0.0})

    # F13/A11 exact-median imputation over the DYNAMIC numeric column set
    # (every numeric column not in the exclusion list;
    # cleaning_rules.py:192-202). One extra job total: computing the
    # median of a column WITHOUT nulls and "filling" it is a no-op, so
    # the pandas "if any nulls" guard needs no separate null-count scan.
    numeric_cols = [
        c
        for c, t in out.dtypes
        if t in ("double", "float", "int", "bigint")
        and c not in MEDIAN_FILL_EXCLUDE
        and c != "crash_record_id"
    ]
    if numeric_cols and persist_intermediate:
        out = out.persist()
    if numeric_cols:
        # exact interpolating percentile — matches pandas .median(); at
        # 100 TB swap to approx_percentile(c, 0.5, 1e6) when oracle
        # byte-parity is not required.
        fn = "percentile" if exact_median else "approx_percentile"
        medians = out.select(
            [F.expr(f"{fn}({c}, 0.5)").alias(c) for c in numeric_cols]
        ).first()
        out = out.na.fill({c: float(medians[c]) for c in numeric_cols if medians[c] is not None})

    # F14 categorical null → OTHER (every string col except the PK)
    string_cols = [c for c, t in out.dtypes if t == "string" and c != "crash_record_id"]
    out = out.na.fill("OTHER", subset=string_cols)

    # F15 outlier caps + final Gold typing
    out = out.withColumns(ex.caps)
    out = out.withColumns(ex.final_ints)

    return out
