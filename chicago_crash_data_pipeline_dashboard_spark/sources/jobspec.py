"""The job-spec config layer: the reference's declarative extract query
(SURVEY §3.1 entry point A) as a thin parameterization over DataFrame
filters.

A reference Job is JSON (extractor/main.go:114-157; examples
backfill.json, streaming.json): projection (``select``), predicate
(``where`` / ``date_range`` / ``since_days``), sort (``order``), page
size. Under Spark, pagination disappears (the scan partitions itself)
and the spec compiles to select/filter/orderBy — Catalyst pushes all
of it into the source scan.

Predicate precedence is EXACTLY buildWhere (extractor/main.go:202-222):

1. explicit ``where``            (an SQL condition string)
2. ``date_range`` [start, end)   (half-open — ST4)
3. watermark                     (``date_col > watermark`` — ST1)
4. ``since_days``                (``date_col >= today − n days``)
5. default: last 7 days

``ensure_select`` mirrors ensureSelect (main.go:409-429): the join key
and the event-time column are force-included so downstream enrich joins
and watermark tracking never lose their inputs to projection.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class JobSpec:
    """Declarative extract job (config parity with the reference JSON)."""

    select: list[str] | None = None
    where: str | None = None
    date_range: tuple[str, str] | None = None  # [start, end) half-open
    since_days: int | None = None
    order: list[str] = field(default_factory=lambda: ["crash_date", "crash_record_id"])
    id_col: str = "crash_record_id"
    date_col: str = "crash_date"


def ensure_select(spec: JobSpec) -> list[str] | None:
    """P1 ensureSelect: force-include the join key + date column."""
    if spec.select is None:
        return None
    cols = list(spec.select)
    for required in (spec.id_col, spec.date_col):
        if required not in cols:
            cols.append(required)
    return cols


def build_where(
    spec: JobSpec,
    watermark: str | None = None,
    today: str | None = None,
) -> tuple[Column, str]:
    """P2 buildWhere precedence; returns (predicate, mode-tag).

    ``today`` is injected (ISO date) rather than read from the clock so
    incremental runs are reproducible/testable; the driver passes the
    run date.
    """
    d = F.col(spec.date_col)
    if spec.where:
        return F.expr(spec.where), "explicit_where"
    if spec.date_range:
        start, end = spec.date_range
        return (d >= F.lit(start)) & (d < F.lit(end)), "date_range"
    if watermark is not None:
        return d > F.lit(watermark), "watermark"
    if spec.since_days is not None:
        cutoff = F.date_sub(F.lit(today).cast("date"), spec.since_days)
        return d.cast("date") >= cutoff, "since_days"
    cutoff = F.date_sub(F.lit(today).cast("date"), 7)
    return d.cast("date") >= cutoff, "default_last_7_days"


def compile_job(
    spec: JobSpec,
    watermark: str | None = None,
    today: str | None = None,
) -> tuple[Column, list[str] | None]:
    """Compile the spec to its predicate and its projection (``None``:
    every column), with no order. A caller that runs several specs over
    one source can tag rows with the predicates in one scan."""
    pred, _mode = build_where(spec, watermark=watermark, today=today)
    return pred, ensure_select(spec)


def apply_job(
    df: DataFrame,
    spec: JobSpec,
    watermark: str | None = None,
    today: str | None = None,
) -> DataFrame:
    """Apply the compiled spec to a source frame: predicate (pushed into
    the scan), projection (pruned into the scan), then the spec's
    deterministic order (W1 — the reference sorts for stable pagination;
    kept for output parity). The order is a global sort, which costs a
    range-sampling job plus a sort."""
    pred, cols = compile_job(spec, watermark=watermark, today=today)
    out = df.filter(pred)
    if cols is not None:
        out = out.select([c for c in cols if c in df.columns])
    if spec.order:
        out = out.orderBy(*[c for c in spec.order if c in out.columns])
    return out
