"""Spread-expression parsing and construction (SURVEY.md §1.1, §2.8 F1,
§2.3 J5).

The reference encodes a spread as a *string-embedded expression* in the
column name: ``"{colA} - {colB}"`` parsed by ``split(' - ')`` at every
entry point (reference: MC:57130 (cell 35), app.py:272). Design rule
from SURVEY.md §7: parse ONCE at the edge into real columns
``(leg_a, leg_b)``; never ship name-parsing into the engine core.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The reference's exact separator (space-hyphen-space).
SEPARATOR = " - "


def parse_pair_expr(pair: Column) -> Column:
    """``"A - B"`` → struct ``(leg_a, leg_b)``; single-instrument pairs
    get ``leg_b = NULL``. Pure column expression (Catalyst-visible)."""
    parts = F.split(pair, SEPARATOR)
    return F.struct(
        F.trim(parts.getItem(0)).alias("leg_a"),
        F.when(F.size(parts) > 1, F.trim(parts.getItem(1))).alias("leg_b"),
    )


def parse_pairs(df_pairs: DataFrame) -> DataFrame:
    """Add ``leg_a`` / ``leg_b`` columns, parsed from ``pair``, to a
    target_pairs-shaped mapping table (reference: MC:57130 (cell 35)
    split-parse)."""
    parsed = parse_pair_expr(F.col("pair"))
    return df_pairs.withColumn("leg_a", parsed["leg_a"]).withColumn("leg_b", parsed["leg_b"])
