"""Trading-signal rules as native column expressions (SURVEY.md §2.8
F7–F8, §2.11).

The reference implements these as plain-Python functions
(``interpret_confidence`` app.py:150-156, ``trade_suggestion_detailed``
app.py:159-189). Re-expressed as ``when/otherwise`` CASE chains so
Catalyst sees them (codegen, pushdown) — no Python UDF in the hot
path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def confidence_level(r2: Column) -> Column:
    """R² → High / Medium / Low (reference: app.py:150-156)."""
    return (
        F.when(r2 >= 0.7, F.lit("High"))
        .when(r2 >= 0.4, F.lit("Medium"))
        .otherwise(F.lit("Low"))
    )


def signal_strength(pred: Column, threshold: float | Column) -> Column:
    """``min(|pred| / threshold, 1)`` (reference: app.py:159-189)."""
    return F.least(F.abs(pred) / F.lit(threshold), F.lit(1.0))


def trade_signal(
    pred: Column,
    r2: Column,
    threshold: float | Column = 0.6,
    min_confidence: float | Column = 0.6,
) -> Column:
    """The deployed signal rule (reference: app.py:159-189,
    app.py:279-296): WAIT when |pred| below threshold or confidence
    below minimum; BUY_A_SELL_B on positive spread prediction;
    SELL_A_BUY_B on negative. Returns a struct
    ``(signal, confidence, strength)``. ``threshold`` and
    ``min_confidence`` are literals or columns, so one expression can
    serve rows that carry their own rule parameters."""
    signal = (
        F.when((F.abs(pred) < threshold) | (r2 < min_confidence), F.lit("WAIT"))
        .when(pred > 0, F.lit("BUY_A_SELL_B"))
        .otherwise(F.lit("SELL_A_BUY_B"))
    )
    return F.struct(
        signal.alias("signal"),
        confidence_level(r2).alias("confidence"),
        F.round(signal_strength(pred, threshold), 6).alias("strength"),
    )
