"""The reference's offline preparation pipeline E1, at full fidelity
(SURVEY.md §3 E1; reference: notebooks/Marilyn_Cleaning.ipynb cells
3→67), over reference-shaped wide tables:

    labels.dropna()                                 (MC:57311 cell 44)
    train.drop(columns > 50% null)                  (MC:57354 cell 47)
    train.sort(date_id).ffill().bfill()             (MC:57401 cell 50)
    invariants: 0 nulls / 0 dups / monotonic        (cells 52-58)
    per-target variance -> top-K selection          (MC:57595 cell 61)
    pairs semi-join selected, dedup, parse legs     (MC:59373 cell 64)
    per-target lead(lag) shift, dropna, rename      (MC:59845 cell 67)
    X(date_id, features) inner-join Y on date_id    (MC:59845 cell 67)

Scale note: this wide variant keeps the reference's exact semantics,
including the single global time order — correct for the reference's
~2k-row frames and any per-entity frame that fits a task. The
scalable form of the same DAG is the long-layout flagship
(``e1_pipeline.py``), where every window partitions by instrument.
The lead-shift here CAN use ``lead(col, k)`` because within one
target the lag is a constant — the per-column variation is unrolled
driver-side into one multi-column window pass (no per-target jobs).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.functions.spreads import parse_pairs
from commodity_price_forecasting_spark.operators.cleaning import (
    drop_any_null_rows,
    ffill_bfill_wide,
    sparse_columns,
)
from commodity_price_forecasting_spark.plans.e1_pipeline import check_top_k


@dataclass
class E1Result:
    merged: DataFrame           # df_transformed-shaped: date_id + features + spread targets
    feature_cols: list[str]
    target_cols: list[str]      # spread-expression names ("A - B")
    mapping: DataFrame          # target, lag, pair, leg_a, leg_b
    invariants: dict


def check_invariants(df: DataFrame) -> dict:
    """The reference's four standing checks (SURVEY.md §5; FIXTURES.md
    §5): zero nulls, zero duplicate rows, strictly monotonic
    ``date_id``. One pass for the null count; count-vs-distinct for
    dups."""
    value_cols = [c for c in df.columns if c != "date_id"]
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("date_id").alias("n_time"),
        *[F.sum(F.col(c).isNull().cast("bigint")).alias(f"_n_{i}") for i, c in enumerate(value_cols)],
    ).first()
    total_nulls = sum(agg[f"_n_{i}"] for i in range(len(value_cols)))
    n_dup = agg["n"] - df.distinct().count()
    return {
        "zero_nulls": total_nulls == 0,
        "zero_duplicates": n_dup == 0,
        "time_unique": agg["n"] == agg["n_time"],
        "n_rows": agg["n"],
    }


def run_e1(
    train: DataFrame,
    train_labels: DataFrame,
    target_pairs: DataFrame,
    top_k: int = 20,
    sparse_threshold: float = 0.5,
) -> E1Result:
    check_top_k(top_k)
    label_cols = [c for c in train_labels.columns if c != "date_id"]
    market_cols = [c for c in train.columns if c != "date_id"]

    # 1. any-null row drop on labels (MC:57311)
    labels_clean = drop_any_null_rows(train_labels)

    # 2. drop >50%-null market columns (MC:57354)
    sparse = sparse_columns(train, market_cols, sparse_threshold)
    train_dense = train.drop(*sparse)
    dense_cols = [c for c in train_dense.columns if c != "date_id"]

    # 3. global-sort ffill + bfill (MC:57401) — fidelity-exact wide window
    train_filled = ffill_bfill_wide(train_dense, "date_id", dense_cols)

    # 4. per-target variance -> top-K (MC:57595). One fused aggregate
    # row; ranking is driver-side over K values (metadata-scale).
    var_row = labels_clean.agg(
        *[F.var_samp(c).alias(c) for c in label_cols]
    ).first()
    ranked = sorted(label_cols, key=lambda c: (-(var_row[c] or 0.0), c))
    selected = ranked[:top_k]

    # 5. mapping: semi-join pairs to selected targets, dedup, parse legs
    mapping = parse_pairs(
        target_pairs.filter(F.col("target").isin(selected)).dropDuplicates(["target"])
    )
    map_rows = mapping.collect()  # K rows of metadata — driver-side by design
    pair_names = {r["pair"] for r in map_rows}
    feature_cols = sorted(
        {r["leg_a"] for r in map_rows} | {r["leg_b"] for r in map_rows if r["leg_b"]}
    )
    # A single-instrument target keeps its instrument name as the
    # target column ("rename t -> pair"); exclude that instrument from
    # the feature side so the merged frame has unique column names.
    # (The reference's serving artifact likewise carries only
    # spread-named targets: Data/df_transformed.csv:1.)
    feature_cols = [c for c in feature_cols if c in dense_cols and c not in pair_names]

    # 6. per-target lead shift by its own lag, rename to the pair
    # expression (MC:59845). All shifts share ONE window spec -> a
    # single window pass despite heterogeneous lags.
    w = Window.orderBy("date_id")
    shifted_cols = [
        F.lead(F.col(r["target"]), r["lag"]).over(w).alias(r["pair"]) for r in map_rows
    ]
    y = labels_clean.select(F.col("date_id"), *shifted_cols)
    y = y.dropna()  # rows whose horizon ran past the end (shift dropna)

    # 7. X ⋈ Y inner on date_id (MC:59845)
    x = train_filled.select("date_id", *feature_cols)
    merged = x.join(y, "date_id", "inner")

    inv = check_invariants(merged)
    return E1Result(
        merged=merged,
        feature_cols=feature_cols,
        target_cols=[r["pair"] for r in map_rows],
        mapping=mapping,
        invariants=inv,
    )
