"""Silver transform — Bronze crashes/vehicles/people → one wide frame.

Re-expresses the reference transformer (transformer/transformer.py:
201-305) Spark-first:

- column-name canonicalization (F1/F2) is a schema-level rename —
  zero-cost, no data movement;
- full-row dedup (W8) and keep-first-by-key dedup (W9): Polars'
  ``maintain_order``/``keep='first'`` is insertion-order-defined; the
  distributed-correct equivalent is an explicit total order + window
  row_number (SURVEY §4.3). We carry a ``_row_order`` surrogate from
  the source (file order) when available, else synthesize one. When
  the key column exists, W8 is subsumed by W9: a key's first row is
  always the first copy of itself, so one keep-first window on the
  crash side, BEFORE the 1:1 joins, gives the reference's W8 → join →
  W9 result with one shuffle instead of three;
- many-to-one pre-aggregation BEFORE the join (J2): the semi-join
  reduction the reference designs in; keeps the join 1:1 so the output
  row count equals the crash count — at 100 TB this avoids a row
  explosion and lets AQE pick broadcast for the aggregated side when
  small;
- list columns are real ArrayType; CSV-safety (F18 make_csv_safe,
  transformer.py:263-305) serializes them with ``to_json`` into
  ``*_json`` string columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

ROW_ORDER_COL = "_row_order"


def standardize_columns(df: DataFrame) -> DataFrame:
    """F1 (transformer.py:201-204): strip+lowercase every column name."""
    return df.toDF(*[c.strip().lower() for c in df.columns])


def canonicalize_id(df: DataFrame, id_col: str = "crash_record_id") -> DataFrame:
    """F2 (transformer.py:233-243): case-insensitive find of the join
    column, renamed to the lowercase canonical name."""
    if id_col in df.columns:
        return df
    for c in df.columns:
        if c.lower() == id_col:
            return df.withColumnRenamed(c, id_col)
    return df


def with_row_order(df: DataFrame) -> DataFrame:
    """Attach a deterministic-enough row-order surrogate for keep-first
    semantics. monotonically_increasing_id is stable for a fixed file
    layout + partitioning (partition-major, position-minor) — the Spark
    analog of 'file order'."""
    if ROW_ORDER_COL in df.columns:
        return df
    return df.withColumn(ROW_ORDER_COL, F.monotonically_increasing_id())


def dedup_full_rows(df: DataFrame) -> DataFrame:
    """W8 (transformer.py:205): distinct over all data columns, keeping
    the first occurrence by row order."""
    data_cols = [c for c in df.columns if c != ROW_ORDER_COL]
    if ROW_ORDER_COL not in df.columns:
        return df.dropDuplicates(data_cols)
    w = W.partitionBy(*data_cols).orderBy(ROW_ORDER_COL)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def dedup_keep_first(df: DataFrame, key: str) -> DataFrame:
    """W9 (transformer.py:258): one row per key, first by row order
    (explicit order column when present — deterministic on a cluster)."""
    order = F.col(ROW_ORDER_COL) if ROW_ORDER_COL in df.columns else F.monotonically_increasing_id()
    w = W.partitionBy(key).orderBy(order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def aggregate_many_to_one(df: DataFrame, id_col: str, prefix: str, max_text_cols: int = 5) -> DataFrame:
    """J2/A1/A2/W2 (transformer.py:207-219): per-key count of distinct
    rows + up to 5 sorted-distinct string-list columns.

    One groupBy (one shuffle): the per-key set of distinct whole rows
    (``collect_set(struct(*))``) gives the count by its size, and each
    list column is that set's field with nulls dropped, deduplicated and
    sorted ascending — exactly Polars ``drop_nulls().unique().sort()
    .implode()`` over the distinct rows.
    """
    text_cols = [c for c, t in df.dtypes if c != id_col and t == "string"][:max_text_cols]
    rows = df.groupBy(id_col).agg(F.collect_set(F.struct(*df.columns)).alias("_rows"))
    return rows.select(
        id_col,
        F.size("_rows").cast("long").alias(f"{prefix}_count"),
        *(
            F.sort_array(
                F.array_distinct(F.filter(F.col("_rows")[c], lambda v: v.isNotNull()))
            ).alias(f"{prefix}_{c}_list")
            for c in text_cols
        ),
    )


def merge_crash_vehicles_people(
    crashes: DataFrame,
    vehicles: DataFrame | None,
    people: DataFrame | None,
    id_col: str = "crash_record_id",
) -> DataFrame:
    """J3/J4 + W8/W9 (transformer.py:221-258): standardize all three,
    keep-first dedup of the crashes by crash id (full-row dedup when
    there is no id), pre-aggregate the many side, left-join onto the
    crashes. Both joins are 1:1, so deduplicating before them keeps the
    same rows as the reference's dedup after them."""
    crashes = canonicalize_id(standardize_columns(with_row_order(crashes)), id_col)
    if id_col in crashes.columns:
        out = dedup_keep_first(crashes, id_col)
    else:
        out = dedup_full_rows(crashes)

    for df, prefix in ((vehicles, "veh"), (people, "ppl")):
        if df is None:
            continue
        side = canonicalize_id(standardize_columns(df), id_col)
        if id_col not in side.columns:
            continue
        side = side.drop(ROW_ORDER_COL) if ROW_ORDER_COL in side.columns else side
        out = out.join(aggregate_many_to_one(side, id_col, prefix), id_col, "left")

    return out.drop(ROW_ORDER_COL)


def make_csv_safe(df: DataFrame) -> DataFrame:
    """F18 (transformer.py:263-305): JSON-stringify every Array/Struct/
    Map column into ``{name}_json`` and drop the original — the frame
    becomes CSV-serializable. One ``select``: the plain columns keep
    their order, the JSON columns follow."""
    nested = (T.ArrayType, T.StructType, T.MapType)
    fields = df.schema.fields
    return df.select(
        *(F.col(f.name) for f in fields if not isinstance(f.dataType, nested)),
        *(
            F.to_json(F.col(f.name)).alias(f"{f.name}_json")
            for f in fields
            if isinstance(f.dataType, nested)
        ),
    )


def silver_transform(
    crashes: DataFrame,
    vehicles: DataFrame | None = None,
    people: DataFrame | None = None,
) -> DataFrame:
    """Full Silver stage: merge + CSV-safety. Output is the reference's
    ``merged.csv`` frame (transformer.py:310-343) as a lazy plan."""
    return make_csv_safe(merge_crash_vehicles_people(crashes, vehicles, people))
