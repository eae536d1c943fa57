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

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _require_cols(fn: str, cols: Sequence[str]) -> None:
    if not cols:
        raise ValueError(f"{fn}: cols must name at least one column")


def _per_column(
    df: DataFrame, cols: Sequence[str], stats: dict[str, Callable[[str], Column]]
) -> DataFrame:
    """ONE aggregate pass computing ``stats[name](c)`` for every column
    ``c`` of ``cols`` as one wide row, unpivoted to the long table
    ``(col_name, *stats)``, one row per column in ``cols`` order. The
    unpivot is over the 1-row aggregate, so it is free at any data
    scale; a stat's type widens across columns as a union would."""
    row = df.agg(
        *[fn(c).alias(f"_{i}_{name}") for i, c in enumerate(cols) for name, fn in stats.items()]
    )
    return row.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        *[F.col(f"_{i}_{name}").alias(name) for name in stats],
                    )
                    for i, c in enumerate(cols)
                ]
            )
        )
    )


def null_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column null count + fraction as a long table
    ``(col_name, n_null, null_frac)`` — the reference's
    ``df.isna().sum()`` / ``.mean()`` (MC:24124 (cell 9),
    MC:24463 (cell 15)), in one aggregate pass.
    """
    _require_cols("null_profile", cols)

    def n_null(c: str) -> Column:
        return F.sum(F.col(c).isNull().cast("bigint"))

    return _per_column(
        df,
        cols,
        {
            "n_null": n_null,
            "null_frac": lambda c: F.round(n_null(c) / F.count(F.lit(1)), 6),
        },
    )


def describe_long(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact descriptive stats per numeric column as a long table
    ``(col_name, n, mean, stddev, min, max)`` — the reference's
    ``df.describe()`` (MC:24031 (cell 6)) with exact aggregates, in
    one aggregate pass.

    Quartiles are intentionally separate (:func:`quantile_summary`)
    because at scale they use ``approx_percentile`` (t-digest) rather
    than an exact sort.
    """
    _require_cols("describe_long", cols)
    return _per_column(
        df,
        cols,
        {
            "n": lambda c: F.count(F.col(c)),
            "mean": lambda c: F.round(F.avg(c), 6),
            "stddev": lambda c: F.round(F.stddev_samp(c), 6),
            "min": lambda c: F.round(F.min(c).cast("double"), 6),
            "max": lambda c: F.round(F.max(c).cast("double"), 6),
        },
    )


def quantile_summary(df: DataFrame, cols: Sequence[str], probs=(0.25, 0.5, 0.75)) -> DataFrame:
    """Approximate quartiles per column (t-digest sketch, one pass over
    all columns — the scale-correct version of pandas ``describe``'s
    quartiles). Each ``p`` in ``probs`` names one column
    ``p{int(p * 100)}``."""
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

    # one sketch per column: the planner merges the identical
    # percentile_approx aggregates behind the k getItem calls
    def item(i: int) -> Callable[[str], Column]:
        return lambda c: F.percentile_approx(c, probs, 10000).getItem(i)

    return _per_column(df, cols, {name: item(i) for i, name in enumerate(names)})


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
