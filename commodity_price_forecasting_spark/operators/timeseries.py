"""Time-series operators (SURVEY.md §2.5 W2–W6, §2.2 P7–P8).

The reference's temporal ops beyond the E1 spine: lag features and
rolling stats (README.md:31, slides), monotonicity checks (MC:57552
(cell 58)), as-of alignment and EW volatility. The per-target
heterogeneous lead shift (``df[t].shift(-lag)`` per mapping row,
MC:59845 (cell 67)) is implemented once, in
``plans/e1_pipeline.future_spreads``, as a self-join on
``(pair, day + lag)``.

Spark-first design notes:

- A *constant* lag is ``F.lag`` over a per-key window.
- Rolling stats are frame-bounded windows: ``rowsBetween(-k, 0)``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rolling_stats(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str],
    window_rows: int,
) -> DataFrame:
    """Trailing rolling mean / stddev / min / max over the last
    ``window_rows`` rows per key, as ``roll_avg``/``roll_std``/
    ``roll_min``/``roll_max`` — the reference's rolling averages and
    volatility measures (Presentation slide 13, README.md:31)."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    return (
        df.withColumn("roll_avg", F.avg(value_col).over(w))
        .withColumn("roll_std", F.stddev_samp(value_col).over(w))
        .withColumn("roll_min", F.min(value_col).over(w))
        .withColumn("roll_max", F.max(value_col).over(w))
    )


def lag_features(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str],
    lags: Sequence[int] = (1, 2, 3),
) -> DataFrame:
    """Leakage-safe lag feature columns (reference: README.md:31,
    missing Lydia_Feature_Engineering notebook, reconstructed)."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    for k in lags:
        df = df.withColumn(f"{value_col}_lag{k}", F.lag(value_col, k).over(w))
    return df


def is_monotonic_increasing(
    df: DataFrame,
    time_col: str,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-partition strict monotonicity check — the reference's
    ``date_id.is_monotonic_increasing`` (MC:57552 (cell 58)).

    Returns one row per partition with a boolean ``monotonic``.
    Distributed: each key's check is an independent window + aggregate.
    """
    w = Window.orderBy(time_col)
    group: list = list(partition_cols)
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(time_col)
    step_ok = (F.col(time_col) > F.lag(time_col, 1).over(w)) | F.lag(time_col, 1).over(w).isNull()
    flagged = df.withColumn("_step_ok", step_ok.cast("int"))
    agg = [F.min("_step_ok").cast("boolean").alias("monotonic"), F.count("*").alias("n_rows")]
    return flagged.groupBy(*group).agg(*agg) if group else flagged.agg(*agg)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    out_col: str = "asof_value",
    direction: str = "backward",
    tolerance_days: int | None = None,
) -> DataFrame:
    """AS-OF join: for every left row, the nearest ``value_col`` from
    ``right`` within the same key — ``direction="backward"`` takes the
    most recent right row with ``right.time <= left.time`` (pandas
    ``merge_asof`` default; trades-to-quotes alignment),
    ``"forward"`` the next right row with ``right.time >= left.time``.
    ``tolerance_days`` nulls the match when the matched right time is
    further than that many days from the left time (merge_asof's
    ``tolerance``) — stale quotes must not leak into pricing. (The
    reference aligns by exact equality after shifting; this is the
    general operator a multi-market engine needs.)

    Scalable single-shuffle form: union both sides tagged, one window
    pass per key ordered by (time, side) with right rows sorting
    before left rows at equal timestamps (ties are inclusive in both
    directions; forward just reverses the time order), then keep the
    left rows with the last seen right (time, value) PAIR — carried as
    ONE struct through a single ``last(ignorenulls=True)`` so the
    matched time and matched value always come from the SAME right
    row (two independent last() passes would, when the right value
    column has NULLs, pair a stale value with a newer row's time and
    let it slip past the tolerance test; merge_asof matches the
    nearest ROW and returns its value, NaN included). The tolerance
    test is a plain column comparison on the carried time. No per-row
    Python, no range-join explosion; skewed keys split by AQE."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    rtv_type = (
        f"struct<_rt:{right.schema[time_col].dataType.simpleString()},"
        f"_rv:{right.schema[value_col].dataType.simpleString()}>"
    )
    l_tag = left.select(
        F.col(key_col).alias("_k"),
        F.col(time_col).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(rtv_type).alias("_rtv"),
    )
    r_tag = right.select(
        F.col(key_col).alias("_k"),
        F.col(time_col).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("_lrow"),
        F.struct(
            F.col(time_col).alias("_rt"), F.col(value_col).alias("_rv")
        ).alias("_rtv"),
    )
    order_t = F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
    w = (
        Window.partitionBy("_k")
        .orderBy(order_t, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("_rtv", ignorenulls=True).over(w)
    merged = (
        l_tag.unionByName(r_tag)
        .withColumn("_c", carried)
        .withColumn(out_col, F.col("_c._rv"))
        .withColumn("_mt", F.col("_c._rt"))
    )
    if tolerance_days is not None:
        staleness = (
            F.datediff(F.col("_t"), F.col("_mt"))
            if direction == "backward"
            else F.datediff(F.col("_mt"), F.col("_t"))
        )
        merged = merged.withColumn(
            out_col,
            F.when(staleness <= tolerance_days, F.col(out_col)),
        )
    return (
        merged.filter(F.col("_side") == 1)
        .select("_lrow.*", out_col)
    )


def ewma_by_group(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.2,
) -> DataFrame:
    """Exponentially weighted moving average + EW volatility per key
    (slides 13-14's "volatility measures" beyond plain rolling
    stddev, W6). The recursion s_t = α·x_t + (1-α)·s_{t-1} is not
    window-expressible, so each series runs as one Arrow batch via
    applyInPandas (pandas ``ewm(alpha, adjust=True)`` semantics) —
    per-instrument parallel, deterministic.

    Returns ``(key, time, value, ewma, ew_vol)``.
    """
    import pandas as pd

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        ew = pdf[value_col].ewm(alpha=alpha, adjust=True)
        out = pdf[[key_col, time_col, value_col]].copy()
        out["ewma"] = ew.mean()
        out["ew_vol"] = ew.std()
        return out

    schema = (
        f"{key_col} long, {time_col} date, {value_col} double, "
        "ewma double, ew_vol double"
    )
    return (
        df.select(key_col, time_col, value_col)
        .groupBy(key_col)
        .applyInPandas(_per_group, schema=schema)
    )
