"""Defensive source validation (SURVEY.md §5.2 / §2.1 S4): the
reference's load-time checks (app.py:99-111 — empty-dataset error,
no-target-columns error, try/except around the scan) as explicit,
testable engine errors instead of Streamlit error boxes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from commodity_price_forecasting_spark.functions.spreads import SEPARATOR


class EmptyDatasetError(ValueError):
    """The scanned frame has no rows (app.py:100-102)."""


class MissingTargetColumnsError(ValueError):
    """No spread-named ('A - B') target columns found (app.py:105-108)."""


def classify_columns(df: DataFrame) -> tuple[list[str], list[str]]:
    """Feature/target split by the name-embedded spread convention
    (app.py:96-97, P2): numeric columns other than ``date_id`` and
    without ' - ' are features, columns containing ' - ' are targets.
    Driver-side over the schema — no data scan."""
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("double", "float", "integer", "long", "decimal")
    }
    features = [
        c for c in df.columns if SEPARATOR not in c and c != "date_id" and c in numeric
    ]
    targets = [c for c in df.columns if SEPARATOR in c]
    return features, targets


def validate_serving_frame(
    df: DataFrame,
) -> tuple[DataFrame, list[str], list[str]]:
    """The reference's ``load_data`` contract: non-empty frame with at
    least one feature and one spread target; returns
    ``(df, feature_cols, target_cols)`` or raises a typed error.
    Emptiness uses ``isEmpty()`` (first-partition probe, not a full
    count)."""
    if df.isEmpty():
        raise EmptyDatasetError("serving dataset is empty")
    features, targets = classify_columns(df)
    if not targets:
        raise MissingTargetColumnsError(
            f"no spread-named ('A{SEPARATOR}B') target columns in schema"
        )
    if not features:
        raise MissingTargetColumnsError("no numeric feature columns in schema")
    return df, features, targets
