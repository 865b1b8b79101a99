"""ML-surface queries (U2-U5 + A18).

Two layers:

- ``crash_rule_eval`` puts the A18 evaluation math (confusion matrix,
  accuracy/precision/recall/F1) under the DuckDB hash gate using a
  deterministic rule classifier — the metric computation is what gets
  differentially verified;
- ``crash_model_eval`` runs the REAL distributed Spark ML pipeline
  (ml/pipeline.py: indexer → one-hot → GBT) end-to-end — train on a
  deterministic 80 % id-split, threshold-score the rest (0.26,
  model_metadata.json:28), evaluate. Gradient-boosted training is not
  SQL-expressible, so the gate row checks SQL-expressible invariants
  (exact split sizes, confusion-count consistency, metric ranges);
  metric values are pinned by tests/test_ml.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import pipeline as MLP
from ..operators.clean import clean_crashes
from .crash_ops import _CLEAN_ORACLE, synth_bronze_spark
from .registry import register


def _metrics_df(agg: DataFrame) -> DataFrame:
    """tp/fp/fn/tn → accuracy, precision, recall, F1 (identical
    expression shape to the SQL oracle; integer inputs ⇒ exact
    doubles)."""
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    total = tp + fp + fn + tn
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    return agg.select(
        "tp", "fp", "fn", "tn",
        F.round(F.when(total > 0, (tp + tn) / total).otherwise(F.lit(0.0)), 6).alias("accuracy"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(prec + rec > 0, (2.0 * prec * rec) / (prec + rec)).otherwise(F.lit(0.0)), 6
        ).alias("f1"),
    )


@register(
    "crash_rule_eval",
    oracle=f"""
    WITH cleaned AS ({_CLEAN_ORACLE}),
    labeled AS (
      SELECT hit_and_run_i AS y,
             CAST(CASE WHEN posted_speed_limit >= 35 OR is_weekend = 1
                       THEN 1 ELSE 0 END AS INTEGER) AS p
      FROM cleaned
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM labeled
    )
    SELECT tp, fp, fn, tn,
      round(CASE WHEN tp + fp + fn + tn > 0
                 THEN (tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE) ELSE 0.0 END, 6) AS accuracy,
      round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS precision,
      round(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6) AS recall,
      round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
                    + (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END) > 0
                 THEN (2.0 * (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
                           * (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END))
                      / ((CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
                       + (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END))
                 ELSE 0.0 END, 6) AS f1
    FROM agg
    """,
    doc="A18 evaluation metrics (confusion matrix + accuracy/precision/"
    "recall/F1, streamlit_frontend.py:2354-2405) under the differential "
    "gate, using a deterministic rule classifier over the cleaned frame. "
    "One aggregate pass; scalars derived from the four counts.",
)
def crash_rule_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cleaned = clean_crashes(synth_bronze_spark(spark, sf_dir), persist_intermediate=False)
    y = F.col("hit_and_run_i")
    p = ((F.col("posted_speed_limit") >= 35) | (F.col("is_weekend") == 1)).cast("int")
    labeled = cleaned.select(y.alias("y"), p.alias("p"))
    agg = labeled.agg(
        F.sum(((F.col("y") == 1) & (F.col("p") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("y") == 0) & (F.col("p") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("y") == 1) & (F.col("p") == 0)).cast("long")).alias("fn"),
        F.sum(((F.col("y") == 0) & (F.col("p") == 0)).cast("long")).alias("tn"),
    )
    return _metrics_df(agg)


@register(
    "crash_model_eval",
    oracle=f"""
    WITH cleaned AS ({_CLEAN_ORACLE}),
    keyed AS (SELECT CAST(substr(crash_record_id, 3, 8) AS INTEGER) AS k FROM cleaned)
    SELECT
      CAST(SUM(CASE WHEN k % 5 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      CAST(SUM(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
      TRUE AS counts_consistent,
      TRUE AS metrics_in_range
    FROM keyed
    """,
    doc="End-to-end distributed ML (U2-U5): GBT pipeline trained on a "
    "deterministic 80% id-split of the cleaned frame, threshold-scored "
    "(0.26) on the held-out 20%, A18-evaluated. GBT training is "
    "iterative/non-SQL, so the gate checks the SQL-expressible "
    "invariants instead: exact split sizes (cross-engine), confusion "
    "counts summing to the held-out size, and metrics in [0, 1]. The "
    "metric VALUES are pinned in tests/test_ml.py.",
)
def crash_model_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: the cleaning chain (incl. its two-pass median) would
    # otherwise re-execute for every downstream action (GBT iterations,
    # scoring, both count aggregates). Project to the columns the gate
    # actually consumes (split key + label + the 18 features) BEFORE
    # caching — the cleaned frame is ~1.5x wider, and every GBT
    # iteration re-scans the cache (guide §5: cache only what is
    # reused). Identical model/metrics: same rows, same feature values.
    cleaned = (
        clean_crashes(synth_bronze_spark(spark, sf_dir))
        .select(
            "crash_record_id",
            MLP.LABEL,
            *MLP.FEATURES_NUMERIC,
            *MLP.FEATURES_CATEGORICAL,
        )
        .persist()
    )
    # ONE stats pass replaces three jobs (r16, VERDICT r15 item 4): it
    # materializes the cache (the old count()'s second duty), yields
    # n_cleaned for the partition clamp, AND the n_train/n_test counts
    # the old plan recomputed later as two more aggregates glued by
    # BroadcastNestedLoopJoins. NULL split keys land in neither split,
    # so n_train + n_test <= n_cleaned and all three must be counted.
    key = F.substring("crash_record_id", 3, 8).cast("int")
    stats = cleaned.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum((key % 5 != 0).cast("long")).alias("n_train"),
        F.sum((key % 5 == 0).cast("long")).alias("n_test"),
    ).first()
    n_cleaned = stats["n_all"]
    n_train = int(stats["n_train"] or 0)
    n_test = int(stats["n_test"] or 0)
    # Size the training frame's partitioning to its volume. The cleaned
    # chain can come out under-split (a single-row-group source scans
    # as ONE task — same failure mode registry.load rebalances for),
    # which would run every GBT histogram job single-threaded; an
    # iterative fitter schedules one task per partition per job, so
    # over-splitting a small frame wastes scheduler rounds instead.
    # Clamp to ~20k rows/partition, capped at the default parallelism —
    # at real scale the cap wins and the training frame keeps its
    # natural splits. (Clamp value and the repartition decision are
    # byte-identical to r15: the GBT split-finder samples rows per
    # partition, so the partitioning is part of the pinned model.)
    target = max(1, min(spark.sparkContext.defaultParallelism, n_cleaned // 20_000))
    train_df = cleaned.filter(key % 5 != 0)
    test_df = cleaned.filter(key % 5 == 0)
    if train_df.rdd.getNumPartitions() < target:
        train_df = train_df.repartition(target)
    model = MLP.train(train_df, max_iter=3, max_depth=3)
    scored = MLP.score(model, test_df, threshold=MLP.DEFAULT_THRESHOLD)
    y, p = F.col("hit_and_run_i"), F.col("hit_run_pred")
    conf = scored.agg(
        F.sum(((y == 1) & (p == 1)).cast("long")).alias("tp"),
        F.sum(((y == 0) & (p == 1)).cast("long")).alias("fp"),
        F.sum(((y == 1) & (p == 0)).cast("long")).alias("fn"),
        F.sum(((y == 0) & (p == 0)).cast("long")).alias("tn"),
    ).first()
    cleaned.unpersist()
    # The four output fields are exact-integer / boolean functions of
    # the counts above — assembling them driver-side is bit-identical
    # to the old Spark-side select (the metrics are in [0, 1] by
    # construction, so metrics_in_range is the same True the old
    # rounded-expression check produced; counts_consistent is the same
    # exact-integer equality).
    tp, fp, fn, tn = (int(conf[k] or 0) for k in ("tp", "fp", "fn", "tn"))
    total = tp + fp + fn + tn
    prec = tp / (tp + fp) if tp + fp > 0 else 0.0
    rec = tp / (tp + fn) if tp + fn > 0 else 0.0
    acc = (tp + tn) / total if total > 0 else 0.0
    f1 = (2.0 * prec * rec) / (prec + rec) if prec + rec > 0 else 0.0
    in01 = all(0.0 <= m <= 1.0 for m in (acc, prec, rec, f1))
    return spark.createDataFrame(
        [(n_train, n_test, total == n_test, in01)],
        "n_train bigint, n_test bigint, counts_consistent boolean, metrics_in_range boolean",
    )
