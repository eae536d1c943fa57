"""Cleaning / imputation operators (SURVEY.md §2.5 W1, §2.7 SO3–SO4).

The reference's cleaning core is ``sort_values(date_id).fillna(
method='ffill').fillna(method='bfill')`` plus any-null row drops and
>50 %-missing column drops (reference: notebooks/Marilyn_Cleaning.ipynb
:57401 (cell 50), :57311 (cell 44), :57354 (cell 47)).

Spark-first design: imputation is a window function. In the long/tidy
layout ``(key, time, value)`` the window is ``partitionBy(key)
.orderBy(time)`` — every key fills independently, so the operator
scales horizontally instead of funnelling 100 TB through the single
global sort the wide pandas layout implies. The wide-layout variant is
kept for reference fidelity but documented as the non-scalable path.

Both fills run in linear time per partition: the forward fill is a
running ``last(ignorenulls)``, and the back fill is ONE
``first(ignorenulls)`` over the whole partition. After a forward fill
the only nulls left precede the partition's first non-null value, so
that value is exactly what ``bfill`` would put there. A
``currentRow..unboundedFollowing`` frame would give the same values,
but Spark re-evaluates it for every row: O(n²) per partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _ffill_bfill(value: Column, ordered: WindowSpec) -> Column:
    """pandas ``ffill().bfill()`` of ``value`` along ``ordered``: the
    running last non-null, else the partition's first non-null."""
    w_ff = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return F.coalesce(
        F.last(value, ignorenulls=True).over(w_ff),
        F.first(value, ignorenulls=True).over(w_all),
    )


def ffill_bfill_long(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str],
    out_col: str | None = None,
) -> DataFrame:
    """Forward-fill then back-fill ``value_col`` along ``order_cols``
    within each ``partition_cols`` group — time-series imputation,
    exactly pandas ``groupby(partition_cols).ffill().bfill()``.

    One partition per key makes this an embarrassingly parallel
    window. An empty ``partition_cols`` raises ``ValueError``: it
    would be a single-task global window, which is
    :func:`ffill_bfill_wide`'s job.
    """
    if not partition_cols:
        raise ValueError(
            "ffill_bfill_long: partition_cols must name at least one column; "
            "use ffill_bfill_wide for one global order"
        )
    ordered = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(out_col or value_col, _ffill_bfill(F.col(value_col), ordered))


def ffill_bfill_wide(df: DataFrame, time_col: str, value_cols: Sequence[str]) -> DataFrame:
    """Wide-layout ffill+bfill over one global time order — exact
    fidelity with the reference's ``df.sort_values('date_id')
    .ffill().bfill()`` but NOT scalable (single-partition window).
    Prefer :func:`ffill_bfill_long` for anything large.
    """
    ordered = Window.orderBy(time_col)
    return df.select(
        F.col(time_col), *[_ffill_bfill(F.col(c), ordered).alias(c) for c in value_cols]
    )


def drop_any_null_rows(df: DataFrame) -> DataFrame:
    """Any-null row drop, the reference's ``df.dropna()``
    (reference: MC:57311 (cell 44) — 1961→1133 rows)."""
    return df.dropna(how="any")


def sparse_columns(df: DataFrame, value_cols: Sequence[str], threshold: float = 0.5) -> list[str]:
    """Names of columns whose null fraction exceeds ``threshold``
    (reference: MC:57354 (cell 47) — drop >50 % missing).

    One aggregate job computes every column's null fraction in a
    single pass (map-side partial aggregation; no shuffle beyond the
    final 1-row reduce), then the decision is driver-side metadata.
    """
    fracs = df.select(
        [F.avg(F.col(c).isNull().cast("double")).alias(c) for c in value_cols]
    ).first()
    return [c for c in value_cols if (fracs[c] or 0.0) > threshold]


def upsert_latest(
    base: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    version_col: str,
) -> DataFrame:
    """Last-writer-wins upsert (CDC/merge emulation without a table
    format): union base and updates, keep the highest-``version_col``
    row per key. One shuffle on the key; ties broken toward the
    updates side (it is unioned second and max_by is order-stable on
    equal versions via the added ``_src`` ordinal).

    The scalable MERGE pattern when no Delta/Iceberg layer exists:
    at 100 TB, partition both sides by key range so the window
    touches co-located partitions only."""
    from pyspark.sql import Window as W

    b = base.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    w = W.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("_src").desc()
    )
    return (
        b.unionByName(u)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
