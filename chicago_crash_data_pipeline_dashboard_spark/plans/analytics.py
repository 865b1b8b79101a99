"""Core relational query surface over the driver testdata tables.

Every query here re-expresses one or more reference operators
(SURVEY.md §2, file:line cited per query) as an idiomatic Spark
DataFrame plan, with a DuckDB oracle for the differential harness.

Cross-engine determinism conventions (see registry.py docstring):

- double sums: ``CAST(per-row double AS DECIMAL(p,6))`` → SUM → DOUBLE.
  The per-row double product is IEEE-identical across engines; the
  decimal sum is exact and order-independent; a scale-6 decimal boundary
  (odd/2e6) is not representable in binary, so the two engines' cast
  rounding modes can never disagree. The Spark side uses the narrowest
  per-row precision the data spec allows (see ``_dsum``/``_qsum``) —
  the summed VALUE is precision-independent at fixed scale, so oracle
  SQL keeps DECIMAL(25,6) unchanged.
- ratios: computed from exact integer/decimal parts in double at the end.
- day-of-week: Spark ``dayofweek`` is Sun=1; oracle uses
  ``EXTRACT(dow)+1`` (DuckDB dow is Sun=0).
- deterministic order only when the query itself is a top-k; otherwise
  output order is unconstrained (harness compares order-insensitively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .registry import _scratch_dir, load, register

# A money-safe exact-sum helper: per-row double expr -> exact decimal sum
# -> double. Per-row precision 13 keeps the cast on Spark's long-backed
# Decimal fast path (precision <= 18 avoids a per-row BigDecimal alloc —
# measured 1.05 s -> 0.64 s on the 600k-row order_profile agg); it bounds
# per-row inputs to |v| < 1e7, which every money/value column here
# satisfies by the data spec (max observed ~5e5). The SUM buffer is
# decimal(23,6) — exact to ~1e17, ample for 100 TB money sums. The summed
# VALUE is identical to any wider precision at the same scale, so oracle
# SQL may use any DECIMAL(p,6).
def _dsum(expr) -> F.Column:
    return F.sum(expr.cast("decimal(13,6)")).cast("double")


# Exact sum for double columns that are integral-valued by the data spec
# (TPC-H l_quantity is a whole number 1..50): a long sum is exact,
# order-independent, and stays on the codegen integer fast path
# (~2.3x faster than the decimal route). Value-identical to the
# decimal-sum oracle because every input is integral.
def _qsum(expr) -> F.Column:
    return F.sum(expr.cast("long")).cast("double")


# --------------------------------------------------------------------------
# Q1. Pricing summary — grouped multi-aggregate scan
# --------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)                       AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)                  AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
      CAST(COUNT(*) AS BIGINT)                                                     AS count_order,
      CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)            AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Reference A3/A6 grouped sum+count (streamlit_frontend.py:1045-1074, "
    "duckdb_writer.py:126) as a TPC-H-Q1-style scan. Single shuffle on the "
    "group keys with map-side partial aggregation; filter + 6-column "
    "projection push into the parquet scan.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _qsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
            (_qsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
        )
    )


# --------------------------------------------------------------------------
# Q2. Grouped boolean rate — the reference's "hit-and-run rate by X" shape
# --------------------------------------------------------------------------
@register(
    "rate_by_priority",
    oracle="""
    SELECT
      o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      100.0 * SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) / COUNT(*) AS f_rate_pct
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Reference A3 (streamlit_frontend.py:1070-1074): grouped sum+count → "
    "percentage. Integer parts exact; ratio derived in double at the end.",
)
def rate_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    is_f = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(is_f).alias("n_f"),
        (F.lit(100.0) * F.sum(is_f) / F.count(F.lit(1))).alias("f_rate_pct"),
    )


# --------------------------------------------------------------------------
# Q3. value_counts + top-k with deterministic tie-break
# --------------------------------------------------------------------------
@register(
    "value_counts_topk",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, event_type
    LIMIT 5
    """,
    doc="Reference A5/W4 (streamlit_frontend.py:978, 1276): frequency desc "
    "top-k. Compiles to partial-agg + TakeOrderedAndProject — no full sort "
    "at scale. Tie-break on the key for determinism (SURVEY §4.3).",
)
def value_counts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("event_type"))
        .limit(5)
    )


# --------------------------------------------------------------------------
# Q4. Pivot (wide) aggregation — hour × day-of-week
# --------------------------------------------------------------------------
@register(
    "pivot_hour_dow",
    oracle="""
    SELECT
      EXTRACT(hour FROM ts) AS crash_hour,
      CAST(SUM(CASE WHEN EXTRACT(dow FROM ts) + 1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
      CAST(SUM(CASE WHEN EXTRACT(dow FROM ts) + 1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
      CAST(SUM(CASE WHEN EXTRACT(dow FROM ts) + 1 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
      CAST(SUM(CASE WHEN EXTRACT(dow FROM ts) + 1 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
      CAST(SUM(CASE WHEN EXTRACT(dow FROM ts) + 1 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS d5,
      CAST(SUM(CASE WHEN EXTRACT(dow FROM ts) + 1 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS d6,
      CAST(SUM(CASE WHEN EXTRACT(dow FROM ts) + 1 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS d7
    FROM events
    GROUP BY 1
    """,
    doc="Reference A16 pivot (streamlit_frontend.py:1222-1257): "
    "groupBy(hour).pivot(dow).count + fill 0. Explicit pivot values avoid "
    "the extra distinct-values job Spark otherwise runs.",
)
def pivot_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    withkeys = ev.select(
        # long for type parity: DuckDB EXTRACT(hour) is BIGINT
        F.hour("ts").cast("long").alias("crash_hour"),
        F.dayofweek("ts").alias("dow"),
    )
    piv = (
        withkeys.groupBy("crash_hour")
        .pivot("dow", list(range(1, 8)))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return piv.select(
        "crash_hour", *[F.col(str(d)).cast("long").alias(f"d{d}") for d in range(1, 8)]
    )


# --------------------------------------------------------------------------
# Q5. Null/missing-data profile
# --------------------------------------------------------------------------
@register(
    "null_profile",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
      CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_totalprice,
      CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_priority,
      CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_pk,
      CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pk
    FROM orders
    """,
    doc="Reference A7/A13/A14 data-quality profile "
    "(streamlit_frontend.py:933,1625,1630; duckdb_writer.py:246-264): "
    "null counts, duplicate-PK count, null-PK count in ONE scan "
    "(single aggregate, no per-column jobs).",
)
def null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")

    def nulls(c: str):
        return F.sum(F.col(c).isNull().cast("long"))

    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        nulls("o_custkey").alias("null_custkey"),
        nulls("o_totalprice").alias("null_totalprice"),
        nulls("o_orderpriority").alias("null_priority"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_pk"),
        nulls("o_orderkey").alias("null_pk"),
    )


# --------------------------------------------------------------------------
# Q6. Exact median / 95th percentile
# --------------------------------------------------------------------------
@register(
    "quantiles",
    oracle="""
    SELECT
      ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6)  AS median_qty,
      ROUND(CAST(quantile_cont(l_quantity, 0.95) AS DOUBLE), 6) AS p95_qty,
      ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 6)  AS median_price,
      ROUND(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 6) AS p95_price
    FROM lineitem
    """,
    doc="Reference A11/A12 exact interpolating percentile "
    "(cleaning_rules.py:198-202, streamlit_frontend.py:1365). Exact (NOT "
    "approx_percentile) to match the pandas/DuckDB interpolation (SURVEY "
    "§4.3). Per-column strategy by cardinality: l_quantity (50 distinct) "
    "keeps the built-in `percentile` — its value→count map buffer IS the "
    "map-side combine and stays 50 entries at any scale; l_extendedprice "
    "(~97% distinct) takes a DISTRIBUTED exact form (r16): approx "
    "splits → exact per-bucket counts → rank the 1-2 bracket buckets "
    "only, Window partitioned by bucket. No single task ever sees the "
    "full column (the r15 sort form and the built-in both funneled "
    "O(n) or O(distinct) through one task). "
    "Rounded to 6dp: interpolation arithmetic is FP-order-stable but not "
    "bit-guaranteed across engines.",
)
def quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    # high-cardinality column: DISTRIBUTED exact percentile. Exactness
    # needs a global ORDER, not a single task (the r15 sort form
    # funneled every row through one SinglePartition Window). Three
    # cheap passes, none of which sorts or single-tasks the column:
    #   1. ONE codegen'd agg: the low-cardinality qty percentiles (its
    #      50-entry value→count map IS the map-side combine) + min/max/
    #      count of the price column — the uniform-bucket frame.
    #   2. exact per-bucket counts on bucket = clamp(floor((v-lo)·B/
    #      (hi-lo))) — three arithmetic ops per row (an approx_
    #      percentile split sketch costs ~0.5 s and a 63-way compare
    #      chain ~0.7 s at sf0.1; the uniform expression is ~free).
    #      Map-side agg on ≤B groups, tiny exchange; cumulative rank
    #      offsets B scalars driver-side.
    #   3. only the buckets holding the four bracketing ranks are
    #      re-scanned — a CONSERVATIVE literal v-range (one spare
    #      bucket each side, provably wider than any FP error in the
    #      bucket expression) pushes into the parquet scan, the exact
    #      bucket expression decides membership — ranked per bucket
    #      (Window PARTITIONED by bucket, parallel) and interpolated
    #      with the same expression shape as before: position (n-1)·p
    #      over the exact total n.
    # The result is exact for ANY bucket boundaries (ranks come from
    # exact counts over the same pure function of v); uniform buckets
    # only set bucket BALANCE. Worst-case balance (all mass in one
    # bucket — a pathological value distribution) degrades pass 3 to
    # the r15 single-task window over that bucket, never worse.
    n_buckets = max(4096, spark.sparkContext.defaultParallelism * 8)
    stats = li.agg(
        F.expr("percentile(l_quantity, array(0.5, 0.95))").alias("q"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count("l_extendedprice").alias("n"),
    ).first()
    q0, q1 = (None, None) if stats["q"] is None else (stats["q"][0], stats["q"][1])
    lo, hi, n = stats["lo"], stats["hi"], stats["n"]
    qty = spark.range(1).select(
        F.lit(q0).cast("double").alias("q0"), F.lit(q1).cast("double").alias("q1")
    )

    v = li.select(F.col("l_extendedprice").alias("v")).where(F.col("v").isNotNull())
    if n == 0 or lo == hi:
        # empty -> NULLs; constant column -> every rank holds the same
        # value, interpolation returns it exactly (matches the built-in)
        const = None if n == 0 else hi
        price = spark.range(1).select(
            F.lit(const).cast("double").alias("p0"),
            F.lit(const).cast("double").alias("p1"),
        )
    else:
        width_inv = n_buckets / (hi - lo)

        def _bucket(col: F.Column) -> F.Column:
            raw = F.floor((col - F.lit(lo)) * F.lit(width_inv))
            return F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), raw)).cast("int")

        counts = {
            r["b"]: r["c"]
            for r in v.groupBy(_bucket(F.col("v")).alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for b in sorted(counts):
            offsets[b] = acc
            acc += counts[b]

        def _locate(rank: int) -> tuple[int, int]:
            """(bucket, local rank) holding 1-based global ``rank``."""
            for b in sorted(counts):
                if rank <= offsets[b] + counts[b]:
                    return b, rank - offsets[b]
            raise AssertionError(f"rank {rank} > n {n}")

        import math

        aggs, target_buckets = [], set()
        for i, p in enumerate((0.5, 0.95)):
            pos = (n - 1) * p
            lo_b, lo_r = _locate(math.floor(pos) + 1)
            hi_b, hi_r = _locate(math.ceil(pos) + 1)
            target_buckets.update((lo_b, hi_b))
            vlo = F.max(F.when((F.col("b") == lo_b) & (F.col("rn") == lo_r), F.col("v")))
            vhi = F.max(F.when((F.col("b") == hi_b) & (F.col("rn") == hi_r), F.col("v")))
            posv = F.lit(pos)
            aggs.append((vlo + (vhi - vlo) * (posv - F.floor(posv))).alias(f"p{i}"))

        # coarse pushdown range: one full spare bucket each side — the
        # bucket expression's FP error is a few ulps of n_buckets
        # (≈1e-12 buckets), so no row with bucket in target_buckets can
        # fall outside this window; exact membership is re-decided by
        # the bucket expression itself
        w = (hi - lo) / n_buckets
        keep = None
        for b in sorted(target_buckets):
            rng = (F.col("v") >= F.lit(lo + (b - 1) * w)) & (
                F.col("v") <= F.lit(lo + (b + 2) * w)
            )
            keep = rng if keep is None else keep | rng
        ranked = (
            v.where(keep)
            .select("v", _bucket(F.col("v")).alias("b"))
            .where(F.col("b").isin(*[int(b) for b in target_buckets]))
            .select(
                "v",
                "b",
                F.row_number().over(W.partitionBy("b").orderBy("v")).alias("rn"),
            )
        )
        price = ranked.agg(*aggs)

    return qty.crossJoin(price).select(
        F.round(F.col("q0"), 6).alias("median_qty"),
        F.round(F.col("q1"), 6).alias("p95_qty"),
        F.round(F.col("p0"), 6).alias("median_price"),
        F.round(F.col("p1"), 6).alias("p95_price"),
    )


# --------------------------------------------------------------------------
# Q7. Pre-aggregate-then-left-join (the Silver transform join shape)
# --------------------------------------------------------------------------
@register(
    "order_profile",
    oracle="""
    SELECT
      o.o_orderkey,
      o.o_orderpriority,
      CAST(COALESCE(l.n_items, 0) AS BIGINT) AS n_items,
      CAST(COALESCE(l.sum_qty, 0.0) AS DOUBLE) AS sum_qty,
      COALESCE(l.flags, '') AS flags
    FROM orders o
    LEFT JOIN (
      SELECT
        l_orderkey,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
        array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flags
      FROM lineitem
      GROUP BY l_orderkey
    ) l ON o.o_orderkey = l.l_orderkey
    """,
    doc="Reference J2/J3/A1/A2/W2 (transformer.py:207-256): many-to-one "
    "pre-aggregation (count + sorted distinct list) BEFORE the left join — "
    "the semi-join-reduction design the reference bakes in and Catalyst "
    "won't invent. List serialized to CSV string = F18 to_json analog. "
    "Both sides shuffle on the join key once; at 100 TB this is a "
    "co-partitioned sort-merge join.",
)
def order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        _qsum(F.col("l_quantity")).alias("sum_qty"),
        F.array_join(F.sort_array(F.collect_set("l_returnflag")), ",").alias("flags"),
    )
    return o.join(agg, o.o_orderkey == agg.l_orderkey, "left").select(
        "o_orderkey",
        "o_orderpriority",
        F.coalesce("n_items", F.lit(0)).alias("n_items"),
        F.coalesce("sum_qty", F.lit(0.0)).alias("sum_qty"),
        F.coalesce("flags", F.lit("")).alias("flags"),
    )


# --------------------------------------------------------------------------
# Q8. Deterministic keep-first dedup (window row_number)
# --------------------------------------------------------------------------
@register(
    "dedup_keep_first",
    oracle="""
    SELECT user_id, event_id, ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ) t
    WHERE rn = 1
    """,
    doc="Reference W9 keep-first dedup (transformer.py:258). Polars "
    "keep='first' is insertion-order-defined; the Spark-correct version is "
    "an EXPLICIT total order (ts, event_id) + row_number (SURVEY §4.3) — "
    "deterministic on any cluster/partitioning.",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# Q9. Anti-join (the Gold PK upsert shape)
# --------------------------------------------------------------------------
@register(
    "anti_join_new_keys",
    oracle="""
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers_no_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    doc="Reference J6/M2 insert-if-absent upsert (duckdb_writer.py:141-225): "
    "left-anti join against existing keys. The key set is projected to ONE "
    "column before the join; at scale the anti-join is broadcast when the "
    "existing-keys side is small, else shuffled-hash.",
)
def anti_join_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    )


# --------------------------------------------------------------------------
# Q10. Semi-join ("enrich only crashes we have" shape)
# --------------------------------------------------------------------------
@register(
    "semi_join_discounted",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08
    )
    GROUP BY o.o_orderpriority
    """,
    doc="Reference J1 API-level semi-join (extractor/main.go:814-910): the "
    "IN-list batching disappears into a left-semi join; the filter on the "
    "probe side is pushed below the join into the parquet scan.",
)
def semi_join_discounted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.08)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        o.join(li, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --------------------------------------------------------------------------
# Q11. Top-k by derived measure with dimension lookup join
# --------------------------------------------------------------------------
@register(
    "topk_orders_by_revenue",
    oracle="""
    SELECT o.o_orderkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderkey, c.c_name
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
    doc="Reference W3 order-by-desc + limit (streamlit_frontend.py:1677) over "
    "a 3-table join. Customer is broadcast (small dim); the agg output "
    "feeds TakeOrderedAndProject — no global sort materialization. Exact "
    "decimal revenue makes the top-k tie-break engine-stable.",
)
def topk_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_name")
        .agg(_dsum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q12. Correlation / covariance statistics
# --------------------------------------------------------------------------
@register(
    "corr_stats",
    oracle="""
    SELECT
      ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      ROUND(corr(l_discount, l_extendedprice), 6) AS corr_disc_price,
      CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    """,
    doc="Reference A15 Pearson correlation matrix "
    "(streamlit_frontend.py:1400-1406) as pairwise corr aggregates — one "
    "distributed pass, rounded to 6dp (streaming moments are "
    "FP-order-sensitive in the last ULPs).",
)
def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_extendedprice"), 6).alias("corr_disc_price"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Q13. Numeric binning (pd.cut analog, right-closed)
# --------------------------------------------------------------------------
@register(
    "price_bins",
    oracle="""
    SELECT
      CASE
        WHEN o_totalprice <= 50000 THEN '0-50k'
        WHEN o_totalprice <= 150000 THEN '50-150k'
        WHEN o_totalprice <= 300000 THEN '150-300k'
        WHEN o_totalprice <= 450000 THEN '300-450k'
        ELSE '450k+'
      END AS price_bin,
      CAST(COUNT(*) AS BIGINT) AS cnt,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1
    """,
    doc="Reference F17 pd.cut speed binning (streamlit_frontend.py:1041-1043) "
    "— right-closed intervals as chained CASE/when; stays in whole-stage "
    "codegen, no Bucketizer ML dependency.",
)
def price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    bin_col = (
        F.when(p <= 50000, "0-50k")
        .when(p <= 150000, "50-150k")
        .when(p <= 300000, "150-300k")
        .when(p <= 450000, "300-450k")
        .otherwise("450k+")
    )
    return (
        o.select(bin_col.alias("price_bin"), "o_totalprice")
        .groupBy("price_bin")
        .agg(F.count(F.lit(1)).alias("cnt"), _dsum(F.col("o_totalprice")).alias("total"))
    )


# --------------------------------------------------------------------------
# Q14. Event-time feature derivation (weekend / hour_bin / dow)
# --------------------------------------------------------------------------
@register(
    "time_features",
    oracle="""
    SELECT
      CAST(EXTRACT(dow FROM ts) + 1 AS INTEGER) AS dow,
      CAST(CASE WHEN EXTRACT(dow FROM ts) + 1 IN (1, 7) THEN 1 ELSE 0 END AS INTEGER) AS is_weekend,
      CASE
        WHEN EXTRACT(hour FROM ts) <= 6 THEN 'night'
        WHEN EXTRACT(hour FROM ts) <= 12 THEN 'morning'
        WHEN EXTRACT(hour FROM ts) <= 18 THEN 'afternoon'
        ELSE 'evening'
      END AS hour_bin,
      CAST(COUNT(*) AS BIGINT) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Reference F4 is_weekend (cleaning_rules.py:92-97, Sun=1/Sat=7) and "
    "F5 hour_bin boundaries 6/12/18/23 (cleaning_rules.py:100-112) over "
    "event time. Spark dayofweek is already Sun=1 (matches Socrata).",
)
def time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    dow = F.dayofweek("ts")
    hr = F.hour("ts")
    hour_bin = (
        F.when(hr <= 6, "night")
        .when(hr <= 12, "morning")
        .when(hr <= 18, "afternoon")
        .otherwise("evening")
    )
    return (
        ev.select(
            dow.alias("dow"),
            F.when(dow.isin(1, 7), 1).otherwise(0).alias("is_weekend"),
            hour_bin.alias("hour_bin"),
            "value",
        )
        .groupBy("dow", "is_weekend", "hour_bin")
        .agg(F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value"))
    )


# --------------------------------------------------------------------------
# Q15. Whitelist-else-OTHER recode (two-step, weather-style)
# --------------------------------------------------------------------------
@register(
    "whitelist_recode",
    oracle="""
    WITH up AS (
      SELECT CASE WHEN upper(event_type) IN ('ERROR', 'TIMEOUT') THEN 'FAILURE'
                  ELSE upper(event_type) END AS et
      FROM events
    )
    SELECT
      CASE WHEN et IN ('CLICK', 'VIEW', 'PURCHASE', 'FAILURE') THEN et ELSE 'OTHER' END AS event_class,
      CAST(COUNT(*) AS BIGINT) AS cnt
    FROM up
    GROUP BY 1
    """,
    doc="Reference F10/F11 uppercase + whitelist-else-OTHER and the two-step "
    "weather consolidation (cleaning_rules.py:153-181): first a group-merge "
    "recode, then the whitelist gate. Pure when/otherwise chains — "
    "codegen'd, no UDF.",
)
def whitelist_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    up = F.upper(F.col("event_type"))
    step1 = F.when(up.isin("ERROR", "TIMEOUT"), "FAILURE").otherwise(up)
    step2 = F.when(step1.isin("CLICK", "VIEW", "PURCHASE", "FAILURE"), step1).otherwise("OTHER")
    return ev.select(step2.alias("event_class")).groupBy("event_class").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# --------------------------------------------------------------------------
# Q16. Run-history aggregate (min/max timestamps per group, top-k by max)
# --------------------------------------------------------------------------
@register(
    "run_history",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY event_type
    """,
    doc="Reference A8/A9/A10 run history (streamlit_frontend.py:1668-1679): "
    "per-group count + MIN/MAX timestamps. The reference's "
    "latest-run-argmax (LIMIT 1 by MAX desc) is this plus "
    "TakeOrderedAndProject.",
)
def run_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# --------------------------------------------------------------------------
# Q17. Analytic window — running revenue per customer
# --------------------------------------------------------------------------
@register(
    "running_customer_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
    FROM orders
    """,
    doc="True analytic window (beyond the reference's surface — SURVEY §2.5 "
    "notes it has none; a Spark-native engine should). Cumulative decimal "
    "sum + row_number over an explicit total order; one shuffle on "
    "o_custkey serves both window functions.",
)
def running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_total"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


# --------------------------------------------------------------------------
# Q18. Unpivot / melt
# --------------------------------------------------------------------------
@register(
    "unpivot_daily_events",
    oracle="""
    WITH wide AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)  AS view
      FROM events GROUP BY 1
    )
    SELECT day, 'click' AS kind, CAST(click AS BIGINT) AS cnt FROM wide
    UNION ALL
    SELECT day, 'view' AS kind, CAST(view AS BIGINT) AS cnt FROM wide
    """,
    doc="Reference W11 melt (streamlit_frontend.py:1140): wide conditional "
    "agg then unpivot back to long. Spark `unpivot` (3.4+) — no UDF, no "
    "driver round-trip.",
)
def unpivot_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wide = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("view"),
    )
    return wide.unpivot("day", ["click", "view"], "kind", "cnt")


# --------------------------------------------------------------------------
# Q19. Deterministic hash-sample (seeded-sample analog)
# --------------------------------------------------------------------------
@register(
    "hash_sample_stats",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS sum_acctbal
    FROM customer
    WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0', '1')
    GROUP BY c_mktsegment
    """,
    doc="Reference W7 seeded sample (streamlit_frontend.py:1308,1327) made "
    "engine-portable: a deterministic hash-based Bernoulli sample "
    "(md5 prefix ⇒ ~2/16 rate). Unlike rand(seed), identical across "
    "engines, re-runs, and partitionings — the right reproducible-sample "
    "primitive at scale.",
)
def hash_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    bucket = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1)
    return (
        c.filter(bucket.isin("0", "1"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            _dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Q20. Star-schema rollup: revenue by region/nation (multi-join)
# --------------------------------------------------------------------------
def _order_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⨝ customer ⨝ nation ⨝ region with every dim broadcast —
    the shared star-join spine of the revenue queries."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )


@register(
    "revenue_by_nation",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    doc="Dimension-chain join (customer→nation→region all broadcast — zero "
    "shuffle for the dims; one shuffle for the fact agg). The reference "
    "has no star schema, but this is the canonical shape its "
    "grouped-metric queries take at warehouse scale.",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _order_dims(spark, sf_dir)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q20b. Fact-to-many-dims star: lineitem ⨝ part ⨝ supplier ⨝ nation
#       (TPC-H Q9/Q14 shape — promo revenue share by supplier nation)
# --------------------------------------------------------------------------
@register(
    "promo_part_star",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue,
           CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END AS DECIMAL(25,6))) AS DOUBLE) AS promo_revenue,
           round(CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                                    THEN l.l_extendedprice * (1 - l.l_discount)
                                    ELSE 0.0 END AS DECIMAL(25,6))) AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE), 6) AS promo_ratio
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="TPC-H Q9/Q14-shaped star: the lineitem fact joins THREE "
    "broadcast dims (part 2%, supplier 0.1%, nation const of the fact "
    "row count — all broadcastable at any SF since dims grow with sqrt "
    "of the fact in TPC-H-like schemas, and part/supplier here are "
    "bounded lookup tables) — a single fact-scan pass, zero dim "
    "shuffles, one shuffle for the final agg. Conditional decimal sums "
    "make the promo share exact and order-independent; the ratio is "
    "one double division at the end.",
)
def promo_part_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    total = _dsum(rev)
    promo = _dsum(promo_rev)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            total.alias("total_revenue"),
            promo.alias("promo_revenue"),
            F.round(promo / total, 6).alias("promo_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Q21. Silver-transform shape: many-to-one pre-agg + sorted-set lists +
#      left join + JSON stringification (J2-J4/A1-A2/W2/F18)
# --------------------------------------------------------------------------
@register(
    "customer_orders_wide",
    oracle="""
    WITH agg AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS ord_count,
             CAST(to_json(list_sort(list_distinct(
               list(o_orderpriority) FILTER (WHERE o_orderpriority IS NOT NULL)
             ))) AS VARCHAR) AS ord_priority_json,
             CAST(to_json(list_sort(list_distinct(
               list(o_orderstatus) FILTER (WHERE o_orderstatus IS NOT NULL)
             ))) AS VARCHAR) AS ord_status_json
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_mktsegment,
           a.ord_count, a.ord_priority_json, a.ord_status_json
    FROM customer c LEFT JOIN agg a ON a.o_custkey = c.c_custkey
    """,
    doc="The reference Silver transform shape on real tables "
    "(transformer.py:207-258 + 263-305): group the many side to one row "
    "per key (count + sorted-distinct string lists ≡ Polars "
    "drop_nulls().unique().sort().implode()), left-join onto the one "
    "side (customers without orders keep nulls), JSON-stringify the "
    "list columns (F18 make_csv_safe). One shuffle for the pre-agg; "
    "the 1:1 join avoids the row explosion a direct fact join causes.",
)
def customer_orders_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("ord_count"),
        F.to_json(F.sort_array(F.collect_set("o_orderpriority"))).alias("ord_priority_json"),
        F.to_json(F.sort_array(F.collect_set("o_orderstatus"))).alias("ord_status_json"),
    )
    return c.select("c_custkey", "c_mktsegment").join(
        agg, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).drop("o_custkey")


# --------------------------------------------------------------------------
# Q22. F16 dict-map recode — including the reference's day-label bug
# --------------------------------------------------------------------------
@register(
    "eda_day_labels",
    oracle="""
    SELECT CAST(EXTRACT(dow FROM ts) + 1 AS INTEGER) AS dow,
           CASE EXTRACT(dow FROM ts) + 1
             WHEN 0 THEN 'Sun' WHEN 1 THEN 'Mon' WHEN 2 THEN 'Tue'
             WHEN 3 THEN 'Wed' WHEN 4 THEN 'Thu' WHEN 5 THEN 'Fri'
             WHEN 6 THEN 'Sat' END AS day_label,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
    doc="F16 dict-map recode REPRODUCING the reference's day-of-week bug "
    "(streamlit_frontend.py:1174-1243): a 0-6 label map applied to 1-7 "
    "Socrata data — day 7 (Saturday) maps to null and every label is "
    "shifted. Kept bug-for-bug per SURVEY §4.3.",
)
def eda_day_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import day_label_eda

    ev = load(spark, sf_dir, "events")
    dow = F.dayofweek("ts")
    return (
        ev.select(dow.alias("dow"), day_label_eda(dow).alias("day_label"))
        .groupBy("dow", "day_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --------------------------------------------------------------------------
# Q23. Sketch-based approximate stats — the 100 TB path for A11/A12/A13
# --------------------------------------------------------------------------
@register(
    "approx_sketch_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS dc_in_bound,
           TRUE AS p50_in_bound,
           TRUE AS p95_in_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Approximate sketches per group: HyperLogLog++ distinct counts "
    "(approx_count_distinct) and t-digest-style quantiles "
    "(approx_percentile) — the single-pass, mergeable alternatives to the "
    "exact percentile/countDistinct queries at 100 TB. Sketch internals "
    "are engine-specific, so the gate row checks the sketches' ERROR "
    "BOUNDS instead: HLL within 10% (5× its 2% rsd) of the exact "
    "distinct count, approx percentiles between the exact 0.45/0.55 "
    "(resp. 0.93/0.97) quantiles — with the exact counts themselves "
    "cross-engine anchors.",
)
def approx_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # Two separate aggregations joined on the (tiny) group key: mixing
    # count_distinct with percentile buffers in ONE agg forces an
    # Expand (row duplication per aggregate family) that multiplies the
    # percentile sort work — measured 44 s vs ~2.5 s split at sf0.1.
    pcts = F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)")
    exact_pcts = F.expr(
        "percentile(l_extendedprice, array(0.45, 0.55, 0.93, 0.97))"
    )
    pct_agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        pcts[0].alias("ap50"),
        pcts[1].alias("ap95"),
        exact_pcts[0].alias("p45"),
        exact_pcts[1].alias("p55"),
        exact_pcts[2].alias("p93"),
        exact_pcts[3].alias("p97"),
    )
    dc_agg = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    agg = pct_agg.join(dc_agg, "l_returnflag")
    err = (
        F.abs(F.col("approx_orders") - F.col("exact_orders")).cast("double")
        / F.col("exact_orders")
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_orders",
        (err <= 0.10).alias("dc_in_bound"),
        F.col("ap50").between(F.col("p45"), F.col("p55")).alias("p50_in_bound"),
        F.col("ap95").between(F.col("p93"), F.col("p97")).alias("p95_in_bound"),
    )


# --------------------------------------------------------------------------
# Q23b. Sketch-based heavy hitters — the 100 TB path for W4's top-k
# --------------------------------------------------------------------------
@register(
    "value_counts_approx_topk",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(max(c) AS BIGINT) AS max_cnt,
           CAST(min(c) AS BIGINT) AS min_cnt,
           CAST(sum(c) AS BIGINT) AS sum_cnt
    FROM (SELECT count(*) AS c FROM lineitem
          GROUP BY l_partkey ORDER BY c DESC LIMIT 10)
    """,
    doc="Heavy hitters over a HIGH-cardinality key via approx_top_k "
    "(Spark 4's bounded-memory top-k sketch) — the scale path for W4's "
    "exact value_counts top-k: at 100 TB an exact top-k over a "
    "billion-key column still needs the full groupBy state, while the "
    "sketch tracks maxItemsTracked counters per partition and merges. "
    "At gate SF the tracking budget (100k) exceeds l_partkey's "
    "cardinality, so counts are EXACT and the gate is fully "
    "differential (the quantiles-vs-approx_sketch_stats pattern). The "
    "compared row is the top-10 COUNT MULTISET (k/max/min/sum) — "
    "deterministic under boundary ties, which item order is not.",
)
def value_counts_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    tk = li.agg(F.expr("approx_top_k(l_partkey, 10, 100000)").alias("tk"))
    counts = tk.select(F.explode("tk").alias("s")).select(
        F.col("s.count").alias("cnt")
    )
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
        F.sum("cnt").alias("sum_cnt"),
    )


# --------------------------------------------------------------------------
# Q24. Hierarchical rollup (grouping sets) — subtotal/grand-total in one pass
# --------------------------------------------------------------------------
@register(
    "revenue_rollup",
    oracle="""
    SELECT COALESCE(r.r_name, 'ALL') AS region,
           CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation,
           CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
    doc="ROLLUP grouping sets: per-nation, per-region subtotal, and grand "
    "total in ONE aggregation pass (grouping_id distinguishes levels) — "
    "beyond the reference's flat groupbys, the dashboard-summary shape "
    "at warehouse scale. Dims broadcast; single fact shuffle.",
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _order_dims(spark, sf_dir)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .select(
            # gid bit layout matches the oracle: r_name = MSB, n_name = LSB
            F.when(F.col("gid").bitwiseAND(2) == 2, "ALL").otherwise(F.col("r_name")).alias("region"),
            F.when(F.col("gid").bitwiseAND(1) == 1, "ALL").otherwise(F.col("n_name")).alias("nation"),
            "gid", "n_orders", "revenue",
        )
    )


# --------------------------------------------------------------------------
# Q25. Set operations — UNION / INTERSECT / EXCEPT over key sets
# --------------------------------------------------------------------------
@register(
    "order_key_setops",
    oracle="""
    WITH f AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
    o AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
    u AS (SELECT k FROM f UNION SELECT k FROM o),
    i AS (SELECT k FROM f INTERSECT SELECT k FROM o),
    e AS (SELECT k FROM f EXCEPT SELECT k FROM o)
    SELECT CAST((SELECT count(*) FROM u) AS BIGINT) AS n_union,
           CAST((SELECT count(*) FROM i) AS BIGINT) AS n_intersect,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_except
    """,
    doc="Set algebra over customer key sets (finished vs open orders): "
    "union/intersect/except distinct from ONE orders pass — a single "
    "groupBy(custkey) with per-status membership flags classifies every "
    "key (r15: replaces two distinct subqueries stitched by a full-outer "
    "SortMergeJoin — 2 scans + 3 shuffles + SMJ → 1 scan + 1 shuffle, "
    "no join; the status IN (F,O) predicate pushes into the scan and "
    "map-side partial aggregation shrinks the shuffle to distinct keys, "
    "the same bytes the two distincts shuffled combined). NULL custkeys "
    "would group as one key, matching the oracle's null-equal set-op "
    "semantics (the full-outer form kept null sides apart); o_custkey "
    "is non-null in the corpus either way.",
)
def order_key_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    flags = (
        o.filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.max((F.col("o_orderstatus") == "F").cast("int")).alias("in_f"),
            F.max((F.col("o_orderstatus") == "O").cast("int")).alias("in_o"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.sum(((F.col("in_f") == 1) & (F.col("in_o") == 1)).cast("long")).alias("n_intersect"),
        F.sum(((F.col("in_f") == 1) & (F.col("in_o") == 0)).cast("long")).alias("n_except"),
    )


# --------------------------------------------------------------------------
# Q26. Sliding event-time windows (2-day window, 1-day slide)
# --------------------------------------------------------------------------
@register(
    "sliding_event_counts",
    oracle="""
    WITH w AS (
      SELECT unnest([
               date_trunc('day', ts) - INTERVAL 1 DAY,
               date_trunc('day', ts)
             ]) AS window_start,
             value
      FROM events
    )
    SELECT CAST(window_start AS TIMESTAMP) AS window_start,
           CAST(window_start + INTERVAL 2 DAY AS TIMESTAMP) AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM w
    GROUP BY window_start
    """,
    doc="Sliding event-time windows (size 2 days, slide 1 day) — Spark's "
    "window() assigns each row to size/slide overlapping windows via "
    "Expand (the batch twin of the streaming sliding aggregation). The "
    "oracle unnests the two window starts per row explicitly.",
)
def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Q27. Session windows (batch twin of the stateful streaming operator)
# --------------------------------------------------------------------------
@register(
    "event_sessions",
    oracle="""
    WITH o AS (
      SELECT CAST(event_type AS VARCHAR) AS key, ts,
             CASE WHEN EXTRACT(epoch FROM ts) -
                       lag(EXTRACT(epoch FROM ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                       > 3600 OR
                       lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      -- RANGE framing: timestamp ties at a session boundary aggregate
      -- both flag rows into each tied row's sid, matching Spark's
      -- default RANGE sum window (row framing is tie-order-dependent)
      SELECT key, ts,
             SUM(new_sess) OVER (PARTITION BY key ORDER BY ts
                                 RANGE UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT key, CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY key, sid
    """,
    doc="Inactivity-gap session windows (1 h gap) over event time — the "
    "batch twin of streaming/stateful.py sessionize (their equivalence "
    "is pinned in tests/test_stateful.py); here the window-function "
    "form itself goes under the differential gate: lag → gap flag → "
    "running session id → group.",
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import sessionize_batch

    ev = load(spark, sf_dir, "events")
    return sessionize_batch(ev, key_col="event_type", ts_col="ts", gap_seconds=3600.0)


@register(
    "event_sessions_native",
    oracle="""
    WITH o AS (
      SELECT CAST(event_type AS VARCHAR) AS key, ts,
             CASE WHEN EXTRACT(epoch FROM ts) -
                       lag(EXTRACT(epoch FROM ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                       > 3600 OR
                       lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT key, ts,
             SUM(new_sess) OVER (PARTITION BY key ORDER BY ts
                                 RANGE UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT key, CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY key, sid
    """,
    doc="The NATIVE session operator: groupBy(key, session_window(ts, "
    "'1 hour')) — Spark's built-in gap-based session aggregation, the "
    "JVM-side alternative to both the window-function form "
    "(event_sessions) and the Python-stateful streaming form "
    "(stateful.sessionize). Boundary semantics verified empirically: "
    "an event exactly gap seconds after its predecessor still MERGES "
    "(new session strictly > gap), identical to the lag-based form, so "
    "the oracle shares its gaps-and-islands SQL with session_end = "
    "max(ts) + gap (session_window's end is last-event + gap, not "
    "last-event). At scale this is one hash exchange on the key with "
    "in-memory window merging — no O(events) per-key window sort "
    "state, and it is the same operator Structured Streaming uses for "
    "watermarked session aggregation.",
)
def event_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type").alias("key"),
            F.session_window("ts", "1 hour").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "key",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# Q27b. The REAL stateful streaming path under the gate
# --------------------------------------------------------------------------


def _key_coverage_gate(
    spark: SparkSession,
    emitted: DataFrame,
    key_cols: list[str],
    table_keys: DataFrame,
    names: tuple[str, str, str, str],
) -> DataFrame:
    """Shared invariant row for the streaming-dedup gates: exactly one
    emitted row per key tuple, and the emitted key set covers the
    table's distinct key set. WHICH row a streaming dedup emits depends
    on arrival order, so these are the deterministic checks."""
    from pyspark.sql import types as T

    emitted = emitted.persist()
    stats = emitted.agg(
        F.count_distinct(*[F.col(k) for k in key_cols]).alias("nk"),
        F.count(F.lit(1)).alias("nr"),
    ).crossJoin(
        emitted.select(*key_cols)
        .distinct()
        .join(table_keys, key_cols, "full_outer")
        .agg(F.count(F.lit(1)).alias("nu"))
    )
    row = stats.first()
    emitted.unpersist()
    n_name, rows_name, one_name, cov_name = names
    out_schema = T.StructType(
        [
            T.StructField(n_name, T.LongType(), False),
            T.StructField(rows_name, T.LongType(), False),
            T.StructField(one_name, T.BooleanType(), False),
            T.StructField(cov_name, T.BooleanType(), False),
        ]
    )
    return spark.createDataFrame(
        [
            (
                row["nk"],
                row["nr"],
                bool(row["nr"] == row["nk"]),
                bool(row["nu"] == row["nk"]),
            )
        ],
        out_schema,
    )


def _drain_events_stream(
    spark: SparkSession, sf_dir: str, name: str, build_query, n_streams: int = 1
):
    """Run a stateful operator over the events table as a REAL
    Structured Streaming query: file source over a temp-dir symlink
    (the source requires a directory), availableNow drain into a
    memory sink named ``name``; returns the sink table.

    ``build_query`` receives ``n_streams`` independent readStream
    frames over the same directory (a stream-stream join needs two
    sources; each keeps its own file-source offsets). The streams read
    with ``load``'s schema, so ``ts`` is ``timestamp_ntz`` as in batch."""
    import os

    schema = load(spark, sf_dir, "events").schema
    with _scratch_dir(f"{name}_") as tmp:
        os.symlink(f"{sf_dir}/events.parquet", f"{tmp}/events.parquet")
        streams = [spark.readStream.schema(schema).parquet(tmp) for _ in range(n_streams)]
        q = (
            build_query(*streams)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def windowed_stream_cost_probe(spark: SparkSession, sf_dir: str) -> dict:
    """BENCH_STREAM notes decomposition for the dominant stream gate
    (VERDICT r10 item 6: event_windowed_counts_stream is ~30% of the
    stream total — is that availableNow machinery or plan?). Three
    measurements of the SAME windowed-count operator:

    - ``batch_twin_sec``: the identical agg run as a plain batch query
      over the same parquet — the cost of the aggregation itself;
    - ``drain_zero_sec``: the streaming query started and drained over
      an EMPTY source directory (0 batches) — stream start/stop,
      file-source listing, sink setup;
    - ``drain_full_sec``: the gate's real drain (1 availableNow batch
      through watermark + window state + memory sink).

    ``stream_overhead_sec`` = full − batch_twin: what the micro-batch
    machinery adds on top of the plan. An unmeasurable decomposition
    (batch twin slower than the full drain — host noise) publishes
    nulls with ``noisy: true`` rather than a fabricated number (same
    posture as streaming_ingest_throughput_probe)."""
    import os
    import time as _time

    from ..streaming.ingest import windowed_event_counts

    raw = load(spark, sf_dir, "events")

    def _stream_over(src_dir: str, name: str) -> float:
        stream = spark.readStream.schema(raw.schema).parquet(src_dir)
        t0 = _time.perf_counter()
        q = (
            windowed_event_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sec = _time.perf_counter() - t0
        spark.catalog.dropTempView(name)
        return sec

    with _scratch_dir("ccpd_wstream_probe_") as tmp:
        # unmeasured warm-up (first stream in a session pays one-time
        # engine + codegen costs that belong to neither bucket)
        os.makedirs(f"{tmp}/warm")
        raw.limit(1).write.parquet(f"{tmp}/warm/events.parquet")
        _stream_over(f"{tmp}/warm", "ccpd_wstream_warm")

        os.makedirs(f"{tmp}/empty")
        drain_zero_sec = _stream_over(f"{tmp}/empty", "ccpd_wstream_zero")

        os.symlink(f"{sf_dir}/events.parquet", f"{tmp}/full_events.parquet")
        os.makedirs(f"{tmp}/full")
        os.symlink(f"{sf_dir}/events.parquet", f"{tmp}/full/events.parquet")
        drain_full_sec = _stream_over(f"{tmp}/full", "ccpd_wstream_full")

        batch = windowed_event_counts(raw)
        t0 = _time.perf_counter()
        n_windows = batch.count()
        batch_twin_sec = _time.perf_counter() - t0

    overhead = drain_full_sec - batch_twin_sec
    noisy = overhead <= 0
    return {
        "rows": raw.count(),
        "n_windows": int(n_windows),
        "batch_twin_sec": round(batch_twin_sec, 4),
        "drain_zero_sec": round(drain_zero_sec, 4),
        "drain_full_sec": round(drain_full_sec, 4),
        "stream_overhead_sec": None if noisy else round(overhead, 4),
        "noisy": noisy,
    }


@register(
    "event_sessions_stream",
    oracle="""
    WITH o AS (
      SELECT CAST(event_type AS VARCHAR) AS key, ts,
             CASE WHEN EXTRACT(epoch FROM ts) -
                       lag(EXTRACT(epoch FROM ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                       > 3600 OR
                       lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      -- RANGE framing: timestamp ties at a session boundary aggregate
      -- BOTH flag rows into each tied row's sid, exactly like Spark's
      -- default RANGE sum window — row-framed sums are tie-order-
      -- dependent and can split tied rows across sessions
      SELECT key, ts,
             SUM(new_sess) OVER (PARTITION BY key ORDER BY ts
                                 RANGE UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    sess AS (
      SELECT key, sid, CAST(min(ts) AS TIMESTAMP) AS session_start,
             CAST(max(ts) AS TIMESTAMP) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY key, sid
    ),
    ranked AS (
      SELECT *, max(sid) OVER (PARTITION BY key) AS max_sid FROM sess
    )
    SELECT key, session_start, session_end, n_events
    FROM ranked
    -- emitted iff closed IN-BATCH (a same-key successor session exists
    -- — emitted unconditionally, no watermark involved) OR the final
    -- watermark (ms floor of max event time at delay 0) STRICTLY
    -- exceeds the ms-floored deadline (equality holds state — probed)
    WHERE sid < max_sid
       OR (SELECT epoch_us(max(ts)) FROM events) // 1000
          > (epoch_us(session_end) + 3600000000) // 1000
    """,
    doc="The actual applyInPandasWithState sessionizer executed as a "
    "Structured Streaming query (availableNow drain into a memory "
    "sink) — per-key Arrow-batched state, event-time timeouts. "
    "Deterministic output: in-batch-closed sessions (every non-last "
    "session of a key) emit immediately; a key's last session emits "
    "only via the terminal no-data micro-batch's timeout, which fires "
    "iff the final watermark strictly exceeds its ms-floored deadline "
    "(end + gap). The oracle encodes exactly that rule.",
)
def event_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import sessionize

    return _drain_events_stream(
        spark,
        sf_dir,
        "ccpd_event_sessions_stream",
        lambda stream: sessionize(
            stream, key_col="event_type", ts_col="ts", gap_seconds=3600.0
        ),
    )


@register(
    "event_sessions_native_stream",
    oracle="""
    WITH o AS (
      SELECT CAST(event_type AS VARCHAR) AS key, ts,
             CASE WHEN EXTRACT(epoch FROM ts) -
                       lag(EXTRACT(epoch FROM ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                       > 3600 OR
                       lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT key, ts,
             SUM(new_sess) OVER (PARTITION BY key ORDER BY ts
                                 RANGE UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    sess AS (
      SELECT key, sid, min(ts) AS session_start, max(ts) AS last_ev,
             CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY key, sid
    )
    SELECT key, CAST(session_start AS TIMESTAMP) AS session_start,
           CAST(last_ev + INTERVAL 1 HOUR AS TIMESTAMP) AS session_end,
           n_events
    FROM sess
    -- append-mode emission: the final watermark (ms floor of max event
    -- time at delay 0, as microseconds) must be >= the session end
    -- (NON-strict — equality emits; probed empirically, see the gate
    -- doc). The last session of the globally-latest key stays in state.
    WHERE (SELECT epoch_us(max(ts)) FROM events) // 1000 * 1000
          >= epoch_us(last_ev + INTERVAL 1 HOUR)
    """,
    doc="The NATIVE streaming session operator: withWatermark + "
    "groupBy(session_window) in append mode, drained availableNow into "
    "a memory sink — Spark's built-in watermarked session aggregation, "
    "the JVM-side production form of what stateful.sessionize does in "
    "Python (state lives in the HDFS-backed state store; no Arrow "
    "round-trip, no Python workers). A session emits when the "
    "watermark reaches its end (last event + gap): probed empirically "
    "— a watermark EXACTLY equal to the end emits (non-strict), one "
    "1 ms past emits, anything earlier holds state — and the oracle "
    "encodes exactly that rule with the final-watermark ms floor. "
    "events.ts (TIMESTAMP_NTZ) casts to TIMESTAMP for the watermark "
    "(UTC session timezone keeps the wall instant) and back for "
    "oracle parity.",
)
def event_sessions_native_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(stream):
        s = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        return (
            s.withWatermark("ts", "0 seconds")
            .groupBy(
                F.col("event_type").alias("key"),
                F.session_window("ts", "1 hour").alias("w"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "key",
                F.col("w.start").cast("timestamp_ntz").alias("session_start"),
                F.col("w.end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
            )
        )

    return _drain_events_stream(
        spark, sf_dir, "ccpd_event_sessions_native_stream", build
    )


@register(
    "event_first_seen_stream",
    oracle="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_rows,
           TRUE AS one_row_per_key,
           TRUE AS keys_covered
    FROM events
    """,
    doc="The streaming first-seen dedup (streaming/stateful.py "
    "running_dedup — the gold PK guard when the sink cannot anti-join) "
    "executed as a real Structured Streaming query. WHICH row is "
    "emitted per key depends on read order, so the gate checks the "
    "deterministic invariants: exactly one row per key, and the "
    "emitted key set equals the table's distinct key set.",
)
def event_first_seen_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import running_dedup

    emitted = _drain_events_stream(
        spark,
        sf_dir,
        "ccpd_event_first_seen_stream",
        lambda stream: running_dedup(stream.select("user_id", "event_id"), "user_id"),
    )
    distinct_keys = load(spark, sf_dir, "events").select("user_id").distinct()
    return _key_coverage_gate(
        spark,
        emitted,
        ["user_id"],
        distinct_keys,
        ("n_keys", "n_rows", "one_row_per_key", "keys_covered"),
    )


@register(
    "event_windowed_counts_stream",
    oracle="""
    WITH b AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
             CAST((date_trunc('day', ts) + INTERVAL 1 DAY) AS TIMESTAMP) AS window_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY date_trunc('day', ts)
    )
    SELECT window_start, window_end, n_events
    FROM b
    -- append-mode emission: a tumbling window is released when the
    -- final watermark (ms floor of max event time minus the 2-day
    -- delay) reaches its end; later windows stay in state (probed:
    -- 27 of 30 day-windows emit on this data — no ms-boundary tie is
    -- possible here since windows end at midnight and max(ts) doesn't)
    WHERE epoch_us(window_end) // 1000
          <= (SELECT epoch_us(max(ts)) FROM events) // 1000 - 172800000
    """,
    doc="streaming/ingest.py windowed_event_counts executed as a REAL "
    "Structured Streaming query (file source, availableNow drain, "
    "append-mode memory sink): watermarked tumbling 1-day windows, "
    "2-day late-data delay. The stream≡batch equivalence is pinned in "
    "tests/test_streaming.py; this gate pins the APPEND-MODE emission "
    "semantics — only windows the final watermark has passed are "
    "released; the last ~2 days of windows are held as state. At "
    "100 TB this is the canonical late-data-tolerant rollup: state is "
    "one count per open window, shuffled once on the window key.",
)
def event_windowed_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import windowed_event_counts

    return _drain_events_stream(
        spark,
        sf_dir,
        "ccpd_event_windowed_counts_stream",
        lambda stream: windowed_event_counts(stream),
    )


# --------------------------------------------------------------------------
# Q28. As-of (point-in-time) join — last click before each error
# --------------------------------------------------------------------------
@register(
    "event_asof_last_click",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, max(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           CAST(c.ts AS TIMESTAMP) AS last_click_ts, c.click_value
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    doc="Backward as-of join (operators/asof.py): for every 'error' event, "
    "the most recent same-user 'click' at-or-before it. Spark has no native "
    "as-of join; this is the union+window form — one shuffle on the key and "
    "a partition-local sort, never a per-key quadratic range join. The "
    "oracle is DuckDB's native ASOF LEFT JOIN (an independent "
    "implementation of the same semantics).",
)
def event_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    joined = asof_join(errors, clicks, on="ts", by="user_id", value_cols=["click_value"])
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("last_click_ts"),
        F.col("click_value_right").alias("click_value"),
    )


# --------------------------------------------------------------------------
# Q29. Interval join (batch twin of the stream-stream join)
# --------------------------------------------------------------------------
@register(
    "event_error_click_window",
    oracle="""
    SELECT e.event_id AS err_id, c.event_id AS click_id
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 6 HOUR
    WHERE e.event_type = 'error' AND c.event_type = 'click'
    """,
    doc="Event-time interval join: clicks within 6 h after each same-user "
    "error — the batch twin of streaming/joins.py interval_join (their "
    "stream≡batch equivalence is pinned in tests/test_stream_joins.py). "
    "The equality conjunct (user_id) drives a hash join; the time range "
    "is a post-join filter, so no per-key quadratic range join.",
)
def event_error_click_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import interval_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    out = interval_join(
        errors, clicks, key="user_id", left_ts="ts", right_ts="c_ts",
        interval_seconds=6 * 3600, watermark_delay="2 hours",
    )
    return out.select("err_id", "click_id")


@register(
    "event_error_click_window_stream",
    oracle="""
    SELECT e.event_id AS err_id, c.event_id AS click_id
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 6 HOUR
    WHERE e.event_type = 'error' AND c.event_type = 'click'
    """,
    doc="The streaming/joins.py interval_join executed as a REAL "
    "stream-stream join: two file-source streams over the same events "
    "directory, dual 2 h watermarks bounding the state store, inner "
    "join with the equality conjunct first (state hash-partitioned on "
    "user_id). An availableNow drain emits every matched pair, so the "
    "append-mode sink must equal the batch interval join — the same "
    "oracle as event_error_click_window. Watermarks require TIMESTAMP "
    "(ltz): the NTZ event time is cast first (session tz is UTC; the "
    "interval predicate is shift-invariant, so pairs are unchanged).",
)
def event_error_click_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import interval_join

    def build(s_err: DataFrame, s_click: DataFrame) -> DataFrame:
        errors = (
            s_err.filter(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("err_id"),
                "user_id",
                F.col("ts").cast("timestamp").alias("ts"),
            )
        )
        clicks = (
            s_click.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").cast("timestamp").alias("c_ts"),
            )
        )
        return interval_join(
            errors, clicks, key="user_id", left_ts="ts", right_ts="c_ts",
            interval_seconds=6 * 3600, watermark_delay="2 hours",
        ).select("err_id", "click_id")

    return _drain_events_stream(
        spark, sf_dir, "ccpd_err_click_stream", build, n_streams=2
    )


# --------------------------------------------------------------------------
# Q30. Z-order (Morton) clustering key
# --------------------------------------------------------------------------
def _zorder_oracle(bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(((user_id >> {b}) & 1) << {2 * b})")
        terms.append(f"(((hour(ts)::BIGINT >> {b}) & 1) << {2 * b + 1})")
    z = " + ".join(terms)
    return f"""
    SELECT event_id, CAST({z} AS BIGINT) AS z
    FROM events
    """


@register(
    "event_zorder_keys",
    oracle=_zorder_oracle(16),
    doc="Morton / Z-order clustering key (operators/layout.py z_value): "
    "bit-interleave of (user_id, hour-of-day) — pure shift/mask column "
    "arithmetic under the differential gate. write_zordered range-"
    "partitions + sorts on this key so every output file bounds BOTH "
    "dimensions (min/max file skipping on either predicate); the layout "
    "effect itself is asserted in tests/test_layout.py.",
)
def event_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import z_value

    ev = load(spark, sf_dir, "events")
    z = z_value([F.col("user_id"), F.hour("ts").cast("long")], bits=16)
    return ev.select("event_id", z.alias("z"))


# --------------------------------------------------------------------------
# Ad-hoc SQL pass-through + semi-structured JSON extraction
# --------------------------------------------------------------------------

# ONE SQL text, TWO engines: written in the ANSI subset Spark SQL and
# DuckDB share (standard joins, DATE literals, CAST/DECIMAL routing,
# no engine-specific functions), it runs verbatim through spark.sql()
# AND as its own DuckDB oracle — the reference dashboard's ad-hoc SQL
# box (user-typed SQL against the warehouse) re-expressed on Spark.
_ADHOC_SQL = """
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY o.o_orderpriority
    """


@register(
    "sql_adhoc_query",
    oracle=_ADHOC_SQL,
    doc="Ad-hoc SQL entry point: the parquet tables register as temp "
    "views and ONE user-style SQL string executes verbatim via "
    "spark.sql() — the same text is the DuckDB oracle, so the gate "
    "proves dialect-portable SQL round-trips identically through "
    "Catalyst (predicate pushdown, broadcast, codegen all still apply "
    "to SQL-entered plans exactly as to DataFrame-built ones).",
)
def sql_adhoc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefixed view names (the silver 'ccpd_cat_' convention): gates
    # share one session catalog, so registering-then-dropping a bare
    # 'orders'/'lineitem' would silently replace and delete a same-
    # named view another gate registered. The user-style SQL text
    # keeps the bare names (it IS the oracle) and is rewritten to the
    # prefixed views only for the Spark run; views drop after analysis
    # (spark.sql resolves eagerly, so the returned plan stays valid).
    import re

    names = {"orders": "ccpd_adhoc_orders", "lineitem": "ccpd_adhoc_lineitem"}
    try:
        for t, view in names.items():
            load(spark, sf_dir, t).createOrReplaceTempView(view)
        # rewrite ONLY table references — names directly after
        # FROM/JOIN (optionally re-matched before an alias). A bare
        # \b(orders|lineitem)\b would also rewrite occurrences inside
        # string literals or comments if the SQL ever grew one
        # (tests/test_analytics_units.py pins exactly two rewrites).
        rewritten = re.sub(
            r"\b(FROM|JOIN)\s+(orders|lineitem)\b",
            lambda m: f"{m.group(1)} {names[m.group(2)]}",
            _ADHOC_SQL,
            flags=re.IGNORECASE,
        )
        return spark.sql(rewritten)
    finally:
        for view in names.values():
            spark.catalog.dropTempView(view)


@register(
    "event_props_json",
    oracle="""
    WITH dirty AS (
      SELECT event_type,
             CASE WHEN event_id % 13 = 0 THEN '{"other": 1}'
                  WHEN event_id % 17 = 0 THEN '{bad'
                  ELSE props END AS p
      FROM events
    ),
    parsed AS (
      -- "bad" mirrors Spark's from_json corrupt semantics exactly:
      -- malformed JSON, OR a present k whose JSON type is not an
      -- integer (from_json flags type mismatches as corrupt; a JSON
      -- null or absent key is merely a NULL field)
      -- CASE (not AND) around json_type: DuckDB evaluates AND operands
      -- for every row, so json_extract would throw on malformed input
      SELECT event_type,
             CASE WHEN NOT json_valid(p) THEN FALSE
                  WHEN json_extract(p, '$.k') IS NULL THEN TRUE
                  ELSE json_type(json_extract(p, '$.k')) IN ('BIGINT', 'UBIGINT', 'NULL')
             END AS ok,
             CASE WHEN json_valid(p)
                  THEN TRY_CAST(json_extract(p, '$.k') AS BIGINT) END AS k
      FROM dirty
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_json,
           CAST(SUM(CASE WHEN ok AND k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_k
    FROM parsed
    GROUP BY event_type
    """,
    doc="Semi-structured schema-on-read under real dirt: every 13th "
    "event's props loses its key and every 17th becomes malformed "
    "JSON (deterministic injection, same expression both engines — "
    "the fixture corpus is 100% clean so without it the NULL legs "
    "would be dead code), then from_json with an explicit schema "
    "parses the rest: malformed rows and type-mismatched keys flag the "
    "corrupt-record column (the struct is always NON-null — bad input "
    "must be detected via columnNameOfCorruptRecord, not s.isNull()), "
    "absent/JSON-null keys become a NULL field — never an error — and "
    "both populations are counted separately per event type. The "
    "oracle mirrors the same classification and guards with "
    "json_valid + TRY_CAST because DuckDB's json_extract throws on "
    "malformed input where from_json degrades. At 100 TB this is the "
    "schema-evolution seam: new JSON keys land in data before columns "
    "exist in tables.",
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = (
        F.when(F.col("event_id") % 13 == 0, F.lit('{"other": 1}'))
        .when(F.col("event_id") % 17 == 0, F.lit("{bad"))
        .otherwise(F.col("props"))
    )
    s = F.from_json(
        p, "k long, _bad string", {"columnNameOfCorruptRecord": "_bad"}
    )
    parsed = ev.select("event_type", s.alias("s"))
    per = parsed.select(
        "event_type",
        (~F.col("s")["_bad"].isNotNull()).alias("ok"),
        F.col("s")["k"].alias("k"),
    )
    return per.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).cast("long").alias("n_bad_json"),
        F.sum(F.when(F.col("ok") & F.col("k").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing_k"),
    )


@register(
    "event_props_variant",
    oracle="""
    WITH dirty AS (
      SELECT event_type,
             CASE WHEN event_id % 13 = 0 THEN '{"other": 1}'
                  WHEN event_id % 17 = 0 THEN '{bad'
                  ELSE props END AS p
      FROM events
    ),
    parsed AS (
      SELECT event_type,
             CASE WHEN p IS NULL OR NOT json_valid(p) THEN 1 ELSE 0 END AS invalid,
             CASE WHEN p IS NOT NULL AND json_valid(p)
                  THEN TRY_CAST(json_extract(p, '$.k') AS BIGINT) END AS k
      FROM dirty
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(invalid) AS BIGINT) AS n_invalid,
           CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM parsed GROUP BY event_type
    """,
    doc="Semi-structured props through Spark 4's VARIANT type: "
    "try_parse_json keeps the whole document as a typed binary variant "
    "(NULL on malformed — same dirty injection as event_props_json), "
    "try_variant_get extracts '$.k' as bigint (NULL on type mismatch "
    "or absent key). Against from_json, VARIANT needs NO up-front "
    "schema — at 100 TB that means one parse at ingest and "
    "shredded-access pushdown later, instead of a schema migration "
    "per new key. Oracle: DuckDB json_valid + TRY_CAST json_extract.",
)
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = (
        F.when(F.col("event_id") % 13 == 0, F.lit('{"other": 1}'))
        .when(F.col("event_id") % 17 == 0, F.lit("{bad"))
        .otherwise(F.col("props"))
    )
    per = ev.select(
        "event_type", F.try_parse_json(p).alias("v")
    ).select(
        "event_type",
        F.col("v").isNull().alias("invalid"),
        F.expr("try_variant_get(v, '$.k', 'bigint')").alias("k"),
    )
    return per.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("invalid"), 1).otherwise(0)).cast("long").alias("n_invalid"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).cast("long").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
    )


# --------------------------------------------------------------------------
# Funnel / cohort / incremental-aggregation — the classic product-
# analytics workloads a reference-dashboard user runs daily
# --------------------------------------------------------------------------


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT user_id % 50 AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id % 50
    """,
    doc="Incremental aggregate maintenance: history (ts < cutoff) and a "
    "new batch (ts >= cutoff) aggregate SEPARATELY into mergeable "
    "partials (count, decimal sum), then union + re-aggregate — the "
    "combine step of incremental view maintenance, where yesterday's "
    "rollup never recomputes. The oracle recomputes from scratch over "
    "all events, proving partial-merge equals full recompute exactly "
    "(decimal routing makes the sums associative across any batch "
    "boundary). At 100 TB the history partial is a stored table and "
    "only the delta scans.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy((F.col("user_id") % 50).alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("sum_value_d"),
        )

    # null-safe split: a NULL ts satisfies neither < nor >=, and a row
    # vanishing from both partials would break partial-merge ≡ full
    # recompute; NULL-ts rows bucket into history
    base = partial(ev.filter((F.col("ts") < cutoff) | F.col("ts").isNull()))
    delta = partial(ev.filter(F.col("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("bucket")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_d").cast("double").alias("sum_value"),
        )
    )


def funnel_user_steps(
    ev: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """One row per user with every funnel step's first qualifying ts
    (``_t0.._tN``, step i strictly after step i-1's first ts) in ONE
    shuffle: sequential window mins over the same user_id partitioning
    — the former join-then-min chain shuffled the filtered events once
    PER STEP and, because plans are trees, re-executed each prior
    step's subtree at every reference (the step-1 frame planned 3x in
    the registered gate). Join-form equivalences kept exactly:

    - ``_has0`` marks users with ≥1 step-0 row even if every such row
      has a NULL ts (the join form's step-0 groupBy keeps them with
      t=NULL; a bare ``_t0 IS NOT NULL`` test would drop them);
    - steps ≥1 qualify only when ``user_id`` is non-null (the join
      form's equi-join drops NULL keys; a window partition would
      otherwise happily chain inside the NULL-user group);
    - a NULL ts never qualifies for steps ≥1 (``ts > prev`` is NULL),
      same as the join form's filter."""
    w = W.partitionBy("user_id")
    cur = ev.select("user_id", "event_type", "ts")
    cols: list[str] = []
    for i, step in enumerate(steps):
        is_step = F.col("event_type") == step
        if i == 0:
            cond = is_step
            cur = cur.withColumn("_has0", F.max(is_step.cast("int")).over(w))
        else:
            cond = (
                is_step
                & (F.col("ts") > F.col(cols[-1]))
                & F.col("user_id").isNotNull()
            )
        cur = cur.withColumn(f"_t{i}", F.min(F.when(cond, F.col("ts"))).over(w))
        cols.append(f"_t{i}")
    # collapse to one row per user: every row of a user carries the same
    # window values, and the groupBy reuses the window's partitioning —
    # no second exchange
    return cur.groupBy("user_id").agg(
        F.max("_has0").alias("_has0"), *[F.max(c).alias(c) for c in cols]
    )


def funnel_chain(ev: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")):
    """Per-user first-qualifying-ts frames for an ordered funnel: each
    step keeps only rows strictly AFTER the user's previous step's
    first occurrence. Shared by the registered gate and the semantic
    pins in tests/test_analytics_semantics.py — edit here, both move.
    Thin per-step views over :func:`funnel_user_steps` (one shuffle)."""
    per_user = funnel_user_steps(ev, steps)
    out = []
    for i in range(len(steps)):
        keep = (
            F.col("_has0") == 1 if i == 0 else F.col(f"_t{i}").isNotNull()
        )
        out.append(
            per_user.filter(keep).select("user_id", F.col(f"_t{i}").alias("t"))
        )
    return out


def cohort_triangle(ev: DataFrame) -> DataFrame:
    """Weekly retention triangle: cohort = each user's first active ISO
    week, counted at integer week offsets. Shared by the registered
    gate and tests/test_analytics_semantics.py.

    The cohort week is a window min over the distinct user-week frame
    (r15): the former groupBy+self-join planned the distinct subtree
    twice (plans are trees — 2 scans + 2 distinct shuffles + a join
    re-exchange); the window form scans and distincts once, and its
    user_id exchange is the only extra hop. NULL user_ids are dropped
    up front — the join form's inner equi-join removed them anyway
    (matching the oracle), while a window partition would otherwise
    emit their cohort rows with n_users=0."""
    weekly = (
        ev.filter(F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("w"))
        .distinct()
    )
    cohort = F.min("w").over(W.partitionBy("user_id"))
    labeled = weekly.withColumn("cohort_week", cohort)
    off = (F.datediff(F.col("w"), F.col("cohort_week")) / 7).cast("long")
    return labeled.groupBy("cohort_week", off.alias("week_offset")).agg(
        F.count_distinct("user_id").alias("n_users")
    )


@register(
    "event_funnel_steps",
    oracle="""
    WITH f AS (
      SELECT * FROM events
      WHERE (event_type = 'view')
         OR (event_type = 'click' AND event_id % 4 = 0)
         OR (event_type = 'purchase' AND event_id % 6 = 0)
    ),
    v AS (SELECT user_id, min(ts) AS t FROM f WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t
          FROM f e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t
          FROM f e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after_view,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after_click
    """,
    doc="Ordered conversion funnel (view → click → purchase): each step "
    "keeps only users whose step event strictly FOLLOWS their previous "
    "step's first occurrence (min-ts chain via join-then-min, not mere "
    "set intersection — a user who purchased before ever viewing does "
    "not convert). Click/purchase events are deterministically thinned "
    "(event_id % 4 / % 6, same predicate both engines) because every "
    "fixture user otherwise converts at every step — thinned, the "
    "ordered chain measurably diverges from naive set intersection "
    "(112 vs 130 step-3 conversions at sf0.01), so the strictly-after "
    "semantics are live under the gate. One scan + one user_id shuffle: "
    "sequential window mins carry each step's first qualifying ts and "
    "the three step counts fall out of a single aggregate (r15: the "
    "join-then-min chain planned the step-1 frame 3x / step-2 frame 2x "
    "because plans are trees — 12 scans, 26 Exchanges → 1 scan, 2).",
)
def event_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "events")
    ev = raw.filter(
        (F.col("event_type") == "view")
        | ((F.col("event_type") == "click") & (F.col("event_id") % 4 == 0))
        | ((F.col("event_type") == "purchase") & (F.col("event_id") % 6 == 0))
    )
    per_user = funnel_user_steps(ev)
    return per_user.agg(
        F.sum("_has0").cast("long").alias("n_view"),
        F.count("_t1").alias("n_click_after_view"),
        F.count("_t2").alias("n_purchase_after_click"),
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT * FROM events
      WHERE CAST(ts AS DATE) >= DATE '2024-01-01' + CAST((user_id % 4) * 7 AS INTEGER)
    ),
    weekly AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
      FROM f
    ),
    cohorts AS (SELECT user_id, min(w) AS cohort_week FROM weekly GROUP BY user_id)
    SELECT c.cohort_week,
           CAST((w.w - c.cohort_week) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM weekly w JOIN cohorts c ON w.user_id = c.user_id
    GROUP BY c.cohort_week, (w.w - c.cohort_week) // 7
    """,
    doc="Weekly retention cohorts: users cohort by their first active "
    "ISO week (date_trunc('week') — Monday-based in BOTH engines), and "
    "each later active week counts them at integer week offsets — the "
    "classic retention triangle. Each user's early events are "
    "deterministically deferred by (user_id % 4) weeks on both engines "
    "because every fixture user is otherwise active from week one — "
    "one degenerate cohort would leave per-user cohort assignment "
    "untested; staggered, four distinct cohorts populate the triangle "
    "(~38 users each at sf0.01). Two shuffles (distinct user-weeks, "
    "then the cohort join re-uses the user_id partitioning); day "
    "arithmetic stays integer end-to-end.",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "events")
    ev = raw.filter(
        F.col("ts").cast("date")
        >= F.date_add(F.lit("2024-01-01").cast("date"), ((F.col("user_id") % 4) * 7).cast("int"))
    )
    return cohort_triangle(ev)


@register(
    "event_dedup_watermark_stream",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS one_row_per_pair,
           TRUE AS pairs_covered
    FROM (SELECT DISTINCT user_id, event_type FROM events) t
    """,
    doc="Streaming dedup with BOUNDED state (streaming/joins.py "
    "dedup_within_watermark → dropDuplicatesWithinWatermark): "
    "suppression state for a (user_id, event_type) pair expires two "
    "hours past its event time, so 100 TB of historical keys never "
    "accumulates — unlike running_dedup's keep-forever state, this is "
    "the variant a long-lived production stream runs. WHICH row "
    "survives depends on arrival order, so the gate checks the "
    "deterministic invariants: exactly one emitted row per pair and "
    "emitted-pair coverage of the table's distinct pair set. The "
    "one-row claim is the SINGLE-micro-batch drain contract (the "
    "fixture is one parquet file, so availableNow runs one batch and "
    "state never expires mid-run); on a long-lived multi-batch stream "
    "the operator's contract is rows-per-pair bounded by "
    "watermark-horizon recurrences, not global uniqueness.",
)
def event_dedup_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import dedup_within_watermark

    emitted = _drain_events_stream(
        spark,
        sf_dir,
        "ccpd_event_dedup_wm_stream",
        # NTZ→LTZ cast (value-preserving under the UTC session):
        # watermarks require TIMESTAMP, and 4.1 reads the testdata's
        # TIMESTAMP(NANOS) parquet as timestamp_ntz
        lambda stream: dedup_within_watermark(
            stream.select(
                "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
            ),
            ["user_id", "event_type"],
            ts_col="ts",
            watermark_delay="2 hours",
        ),
    )
    distinct_pairs = (
        load(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    )
    return _key_coverage_gate(
        spark,
        emitted,
        ["user_id", "event_type"],
        distinct_pairs,
        ("n_pairs", "n_rows", "one_row_per_pair", "pairs_covered"),
    )
