"""Fidelity tests for the reference-shaped E1 pipeline: the Spark
implementation must agree with an independent pandas reimplementation
of the reference's semantics (sort→ffill→bfill, dropna, per-target
shift(-lag), inner merge) on the seed-fixed fixtures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from commodity_price_forecasting_spark.plans.reference_pipeline import run_e1
from commodity_price_forecasting_spark.sources.fixtures import make_reference_fixtures


@pytest.fixture(scope="module")
def fixtures(spark):
    return make_reference_fixtures(spark, n_days=120, n_targets=12, seed=42)


@pytest.fixture(scope="module")
def result(fixtures):
    return run_e1(
        fixtures["train"], fixtures["train_labels"], fixtures["target_pairs"], top_k=8
    )


def test_invariants_hold(result):
    """The reference's own §5 checks must pass on the merged output."""
    inv = result.invariants
    assert inv["zero_nulls"], inv
    assert inv["zero_duplicates"], inv
    assert inv["time_unique"], inv
    assert inv["n_rows"] > 0


def test_shapes(result):
    assert len(result.target_cols) == 8
    assert set(result.merged.columns) == {"date_id", *result.feature_cols, *result.target_cols}


def test_matches_pandas_reference_semantics(fixtures, result):
    """Independent pandas pipeline (the reference's own operations,
    MC cells 44→67) must produce the identical merged frame."""
    train = fixtures["train"].toPandas()
    labels = fixtures["train_labels"].toPandas()
    pairs = fixtures["target_pairs"].toPandas()

    labels_clean = labels.dropna()
    null_frac = train.drop(columns=["date_id"]).isna().mean()
    sparse = null_frac[null_frac > 0.5].index.tolist()
    train_dense = train.drop(columns=sparse)
    train_filled = train_dense.sort_values("date_id").ffill().bfill()

    variances = labels_clean.drop(columns=["date_id"]).var()
    selected = sorted(variances.index, key=lambda c: (-variances[c], c))[:8]
    mapping = pairs[pairs["target"].isin(selected)].drop_duplicates("target")

    y = labels_clean[["date_id"]].copy()
    for _, r in mapping.iterrows():
        y[r["pair"]] = labels_clean[r["target"]].shift(-int(r["lag"]))
    y = y.dropna()

    legs = set()
    for p in mapping["pair"]:
        legs.update(s.strip() for s in p.split(" - "))
    # Single-instrument targets keep their instrument name as the target
    # column; exclude it from the feature side (the engine's documented
    # unique-column-name convention, reference_pipeline.py step 5).
    pair_names = set(mapping["pair"])
    feature_cols = sorted(
        c for c in legs if c in train_filled.columns and c not in pair_names
    )

    merged_pd = train_filled[["date_id"] + feature_cols].merge(y, on="date_id", how="inner")

    merged_spark = result.merged.toPandas().sort_values("date_id").reset_index(drop=True)
    merged_pd = merged_pd.sort_values("date_id").reset_index(drop=True)

    assert list(merged_spark.columns).__len__() == len(merged_pd.columns)
    merged_spark = merged_spark[merged_pd.columns]
    pd.testing.assert_frame_equal(merged_spark, merged_pd, check_dtype=False, atol=1e-12)


def test_pandas_shift_equivalence_on_gapped_index(spark):
    """The lead-shift must be positional (pandas shift semantics), not
    date-arithmetic: verify on a frame with a gap in date_id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"date_id": [0, 1, 3, 7, 8], "t": [1.0, 2.0, 3.0, 4.0, 5.0]})
    sdf = spark.createDataFrame(pdf)
    w = Window.orderBy("date_id")
    got = (
        sdf.withColumn("shifted", F.lead("t", 2).over(w))
        .toPandas()
        .sort_values("date_id")["shifted"]
        .tolist()
    )
    want = pdf["t"].shift(-2).tolist()
    assert got[:3] == want[:3] and all(np.isnan(v) for v in got[3:])


def test_e1_entry_points_refuse_top_k_below_one():
    """``top_k=-1`` used to drop the lowest-variance target silently
    (``ranked[:-1]``) and ``top_k=0`` to select none; both E1 entry
    points now refuse a ``top_k`` below 1 or not an int with a named
    ``ValueError`` before any Spark work — the frames and session
    passed here are never touched."""
    from commodity_price_forecasting_spark.plans.e1_pipeline import e1_flagship

    for bad in (0, -1, 2.5, True, "3"):
        with pytest.raises(ValueError, match="top_k"):
            run_e1(None, None, None, top_k=bad)
        with pytest.raises(ValueError, match="top_k"):
            e1_flagship(None, "unused", top_k=bad)


def test_spreads_match_oracle_across_id_holes_and_missing_days(spark, tmp_path):
    """``spreads`` pairs legs with a ``lead`` over each day's
    instruments; with instrument ids {0, 1, 2, 4, 5} and days on which
    one leg has no quote, the lead names a non-adjacent or no
    instrument, and those rows must drop exactly as the two-leg join
    of ``E1_ORACLE``'s ``spread`` CTE drops them."""
    import duckdb

    from commodity_price_forecasting_spark.plans.e1_pipeline import (
        E1_ORACLE,
        daily_bars,
        imputed,
        pair_mapping,
        spreads,
        with_gaps,
    )

    rng = np.random.default_rng(5)
    missing = {(2, 3), (5, 8), (0, 1)}  # (instrument, day of month) never quoted
    rows = [
        (u, pd.Timestamp(2024, 1, d, h), round(float(rng.uniform(10, 90)), 2))
        for u in (0, 1, 2, 4, 5)
        for d in range(1, 16)
        if (u, d) not in missing
        for h in (3, 15)[: 1 + (u + d) % 2]
    ]
    events = pd.DataFrame(rows, columns=["user_id", "ts", "value"]).astype(
        {"ts": "datetime64[us]"}
    )
    events.to_parquet(tmp_path / "events.parquet", index=False)

    daily = daily_bars(spark, str(tmp_path))
    sp = spreads(imputed(with_gaps(daily)), pair_mapping(daily))
    got = sorted(tuple(r) for r in sp.collect())

    cut = E1_ORACLE.index("), tgt AS (")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
        want = sorted(con.execute(E1_ORACLE[:cut] + ") SELECT pair, lag, day, spread FROM spread").fetchall())
    finally:
        con.close()

    assert {r[0] for r in want} == {"0 - 1", "1 - 2", "4 - 5"}
    assert len(want) == 3 * 15 - 3  # each missing day drops one pair-day
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert [r[3] for r in got] == pytest.approx([r[3] for r in want], abs=1e-9)
