"""Gold table: PK-respecting append-only upsert + integrity checks.

The reference's Gold is a DuckDB table with
``INSERT ... ON CONFLICT (crash_record_id) DO NOTHING``
(cleaner/duckdb_writer.py:108-225). Spark parquet has no PK, so the
upsert is emulated exactly as SURVEY §2.7 prescribes:

1. add audit columns (M3: corr_id, inserted_at, updated_at);
2. dedup the incoming batch by PK keep-first (DuckDB resolves
   intra-batch conflicts sequentially — first row wins);
3. left-anti join against the existing key set (J6);
4. append; stats = inserted/skipped (M2), read from two observed
   metrics on the append itself — the batch's input rows and the
   appended rows — so the write is the only job over the batch (no
   separate count, no cached delta). When the optimizer prunes an
   observed node (a statically empty batch), the metric is not
   reported and that one count runs explicitly instead.

Scale: the existing-side is projected to the single key column before
the anti-join; Catalyst broadcasts it while it fits, else AQE picks a
shuffled hash join. With a transactional table format (Delta/Iceberg)
this whole class collapses to ``MERGE WHEN NOT MATCHED THEN INSERT`` —
the parquet variant is the format-free equivalent and is idempotent at
the batch level (re-running the same batch inserts 0).
"""

from __future__ import annotations

import os
from typing import Any, Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schemas import GOLD_CRASHES
from .transform import dedup_keep_first, with_row_order

PK = "crash_record_id"


def observed(obs: Observation, name: str, recompute: Callable[[], Any]) -> Any:
    """Metric ``name`` of ``obs`` once an action over the observed frame
    has run. When the optimizer pruned the observed node (it sat under
    a subtree found empty), Spark completes the observation with an
    empty row; ``recompute()`` then supplies the value explicitly."""
    try:
        return obs.get[name]
    except Py4JJavaError:
        return recompute()


class GoldTable:
    """Parquet-backed gold.crashes with PK-insert-ignore semantics.

    ``partition_on_year=True`` lays the table out as ``year=YYYY/``
    directories (event-time year from crash_date) — at 100 TB the
    dashboard's date-ranged queries then prune whole partitions at
    file-listing time instead of scanning the table (asserted in
    tests/test_plans.py).
    """

    def __init__(self, spark: SparkSession, path: str, partition_on_year: bool = False):
        self.spark = spark
        self.path = path
        self.partition_on_year = partition_on_year

    def _schema(self):
        if not self.partition_on_year:
            return GOLD_CRASHES
        from pyspark.sql import types as T

        return T.StructType(list(GOLD_CRASHES.fields) + [T.StructField("year", T.IntegerType(), True)])

    # -- M1: idempotent create ------------------------------------------
    def exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        for root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], self._schema())
        return self._scan()

    def _scan(self) -> DataFrame:
        return self.spark.read.schema(self._schema()).parquet(self.path)

    def _existing_keys(self, batch: DataFrame) -> DataFrame:
        """Existing-side PK set for the anti-join (the table must
        exist), partition-pruned to the batch's years when the table is
        year-partitioned: at 100 TB the incremental path then file-lists
        only the touched year=YYYY/ directories instead of the whole
        table (PartitionFilters — asserted in tests/test_plans). Sound
        under the same invariant the year layout itself needs — a PK's
        crash_date year is stable across batches (verify_integrity's
        global dup-PK check is the backstop if a source ever violates
        it)."""
        existing = self._scan()
        if self.partition_on_year:
            batch_years = [r["year"] for r in batch.select("year").distinct().collect()]
            years = [y for y in batch_years if y is not None]
            cond = F.col("year").isin(years) if years else F.lit(False)
            if None in batch_years:  # NULL-crash_date rows land in the
                cond = cond | F.col("year").isNull()  # default partition
            existing = existing.filter(cond)
        return existing.select(PK)

    # -- M2 + M3: upsert -------------------------------------------------
    def upsert(self, df: DataFrame, corr_id: str) -> dict[str, int]:
        """Insert-if-absent; returns before/after/inserted/skipped stats
        (duckdb_writer.py:216-221 contract). The batch is read once, by
        the append; its row count and the inserted count are observed
        metrics of that append."""
        rows = F.count(F.lit(1)).alias("rows")
        batch_obs, new_obs = Observation(), Observation()
        batch = df.observe(batch_obs, rows).withColumns(
            {
                "corr_id": F.lit(corr_id),
                "inserted_at": F.current_timestamp(),
                "updated_at": F.current_timestamp(),
            }
        )
        # align to gold column order/types; absent columns become null
        # (DuckDB INSERT's missing-column default)
        present = set(batch.columns)
        batch = batch.select(
            [
                (F.col(f.name) if f.name in present else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in GOLD_CRASHES.fields
            ]
        )
        batch = batch.filter(F.col(PK).isNotNull())
        batch = dedup_keep_first(with_row_order(batch), PK).drop("_row_order")
        if self.partition_on_year:
            batch = batch.withColumn("year", F.year(F.col("crash_date")))

        exists = self.exists()
        before = self._scan().count() if exists else 0
        new_rows = batch.join(self._existing_keys(batch), PK, "left_anti") if exists else batch

        writer = new_rows.observe(new_obs, rows).write.mode("append")
        if self.partition_on_year:
            writer = writer.partitionBy("year")
        writer.parquet(self.path)

        inserted = observed(new_obs, "rows", lambda: self._scan().count() - before)
        n_batch = observed(batch_obs, "rows", df.count)
        return {
            "before_count": before,
            "after_count": before + inserted,
            "inserted": inserted,
            "skipped": n_batch - inserted,
        }

    # -- M4: integrity -----------------------------------------------------
    def verify_integrity(self) -> dict[str, int]:
        """duckdb_writer.py:228-288: no dup PKs, no null PKs, total count —
        one aggregate pass."""
        g = self.read()
        row = g.agg(
            F.count(F.lit(1)).alias("total"),
            (F.count(PK) - F.countDistinct(PK)).alias("dup_pk"),
            F.sum(F.col(PK).isNull().cast("long")).alias("null_pk"),
        ).first()
        return {
            "total": row["total"],
            "duplicate_pks": row["dup_pk"] or 0,
            "null_pks": row["null_pk"] or 0,
            "ok": int((row["dup_pk"] or 0) == 0 and (row["null_pk"] or 0) == 0),
        }
