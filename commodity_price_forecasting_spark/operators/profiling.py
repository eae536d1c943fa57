"""Profiling / statistics operators (SURVEY.md §2.4 A1–A9, §2.8 F9).

The reference profiles its wide frames with ``isna().sum()``,
``describe()``, ``var()``, ``duplicated().sum()``, ``corr()`` and
30-bin histograms (reference: MC cells 6–26, 50–61;
SE:62738 (cell 77), SE:62820 (cell 80)).

Spark-first design: per-column statistics are ONE aggregate job with a
map-side partial combine (no per-column passes); results come back as
a *long* table ``(column, stat…)`` so downstream filters ("columns
with missing > 0", "top-20 by variance") stay distributed relational
ops rather than driver-side pandas-Series logic.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _require_cols(fn: str, cols: Sequence[str]) -> None:
    if not cols:
        raise ValueError(f"{fn}: cols must name at least one column")


def null_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column null count + fraction as a long table
    ``(column, n_null, null_frac)`` — the reference's
    ``df.isna().sum()`` / ``.mean()`` (MC:24124 (cell 9),
    MC:24463 (cell 15)).

    Single pass: one wide aggregate row, then an explode to long form
    via ``stack`` — the unpivot is over the 1-row aggregate, so it is
    free at any data scale.
    """
    cols = list(cols or df.columns)
    agg_row = df.agg(
        F.count(F.lit(1)).alias("_total"),
        *[F.sum(F.col(c).isNull().cast("bigint")).alias(c) for c in cols],
    )
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in cols)
    return agg_row.selectExpr(
        "_total", f"stack({len(cols)}, {stack_expr}) as (col_name, n_null)"
    ).select(
        "col_name",
        F.col("n_null").cast("bigint").alias("n_null"),
        F.round(F.col("n_null") / F.col("_total"), 6).alias("null_frac"),
    )


def describe_long(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact descriptive stats per numeric column as a long table
    ``(column, n, mean, stddev, min, max)`` — the reference's
    ``df.describe()`` (MC:24031 (cell 6)) with exact aggregates.

    Quartiles are intentionally separate (:func:`quantile_summary`)
    because at scale they use ``approx_percentile`` (t-digest) rather
    than an exact sort.
    """
    _require_cols("describe_long", cols)
    pieces = []
    for c in cols:
        pieces.append(
            df.agg(
                F.lit(c).alias("col_name"),
                F.count(F.col(c)).alias("n"),
                F.round(F.avg(c), 6).alias("mean"),
                F.round(F.stddev_samp(c), 6).alias("stddev"),
                F.round(F.min(c).cast("double"), 6).alias("min"),
                F.round(F.max(c).cast("double"), 6).alias("max"),
            )
        )
    return reduce(DataFrame.unionAll, pieces)


def quantile_summary(df: DataFrame, cols: Sequence[str], probs=(0.25, 0.5, 0.75)) -> DataFrame:
    """Approximate quartiles per column (t-digest sketch, one pass —
    the scale-correct version of pandas ``describe``'s quartiles).
    Each ``p`` in ``probs`` names one column ``p{int(p * 100)}``."""
    _require_cols("quantile_summary", cols)
    probs = list(probs)
    if not probs or any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError(
            f"quantile_summary: probs must be non-empty and in [0, 1]: {probs}"
        )
    names = [f"p{int(p * 100)}" for p in probs]
    if len(set(names)) < len(names):
        raise ValueError(
            f"quantile_summary: probs {probs} give duplicate column names {names}"
        )
    pieces = []
    for c in cols:
        qs = F.percentile_approx(c, probs, 10000)
        pieces.append(
            df.agg(
                F.lit(c).alias("col_name"),
                *[qs.getItem(i).alias(name) for i, name in enumerate(names)],
            )
        )
    return reduce(DataFrame.unionAll, pieces)


def variance_by_group(df: DataFrame, group_cols: Sequence[str], value_col: str) -> DataFrame:
    """Sample variance per group — the reference's per-target
    ``df.var()`` in long layout (MC:57595 (cell 61)); the input to
    top-k target selection."""
    return df.groupBy(*group_cols).agg(
        F.round(F.var_samp(value_col), 6).alias("variance"),
        F.count(value_col).alias("n"),
    )


def duplicate_row_count(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Duplicate-row count — the reference's ``df.duplicated().sum()``
    (MC:57490 (cell 55)): total rows minus distinct rows, fused into
    ONE aggregate pass (count + count-distinct over the row struct) —
    a single scan, no join."""
    proj = df.select(*subset) if subset else df
    row = F.struct(*[F.col(c) for c in proj.columns])
    return proj.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(row).alias("n_distinct"),
    ).select(
        "n_rows",
        "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).alias("n_duplicates"),
    )


def histogram_fixed(
    df: DataFrame, col: str, lo: float, hi: float, nbins: int = 30
) -> DataFrame:
    """Fixed-range equi-width histogram — the reference's 30-bin
    per-column histograms (SE:62820 (cell 80)).

    ``floor((x-lo)/w)`` clamped to the last bucket; a single
    groupBy-count (map-side combinable). Bounds are parameters, not a
    data-dependent min/max pass, so the plan is one stage.
    """
    if not lo < hi:
        raise ValueError(f"histogram_fixed: lo must be < hi: lo={lo}, hi={hi}")
    if not isinstance(nbins, int) or nbins < 1:
        raise ValueError(f"histogram_fixed: nbins must be a positive int: {nbins!r}")
    w = (hi - lo) / nbins
    bucket = F.least(
        F.floor((F.col(col) - F.lit(lo)) / F.lit(w)), F.lit(nbins - 1)
    ).cast("int")
    return (
        df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def corr_pairs(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlations as a long table
    ``(col_a, col_b, corr)`` with ``col_a < col_b`` — the reference's
    ``df.corr()`` + O(n²) threshold pair scan (SE:62738 (cell 77)).

    For a handful of columns, C(n,2) ``corr`` aggregates fuse into ONE
    job (one pass over the data, all pairs combined map-side). For
    hundreds of columns prefer ``pyspark.ml.stat.Correlation`` on an
    assembled vector (BLAS, single pass).
    """
    aggs = []
    names = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(F.round(F.corr(a, b), 6).alias(f"{a}|{b}"))
            names.append((a, b))
    row = df.agg(*aggs)
    stack_expr = ", ".join(f"'{a}', '{b}', `{a}|{b}`" for a, b in names)
    return row.selectExpr(f"stack({len(names)}, {stack_expr}) as (col_a, col_b, corr)")
