"""Interactive-prediction serving semantics (SURVEY.md §3 E3,
Phase 5): the reference's Streamlit path (app.py:192-645) as a thin
Spark-native API — no UI, same contract.

Flow parity with ``main()``:
- defaults: latest value of each feature (app.py:242 ``iloc[-1]``)
- X_input: defaults + user overrides (sidebar state)
- ensemble prediction (app.py:115-148): one dense vector scored on the
  driver by every fitted model's ``predict`` — the same JVM model and
  code path ``transform`` uses, with no Spark job per request
- signal rules: threshold/confidence CASE logic (app.py:159-189,
  279-296) as column expressions — Catalyst-visible, folded by the
  optimizer into the one-row local relation, so ``collect()`` launches
  no job either
- results row: timestamped, CSV-able (app.py:629-645)

The response plan — schema, the fitted assembler's feature order and
the signal projection — is built on the first request to an ensemble
and kept on its ``EnsembleResult``; the request's threshold and
min-confidence are two extra columns of the one-row relation, not
literals in the plan. A request is then the driver ``predict`` calls,
one Arrow table, one ``createDataFrame`` and one ``select``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pyarrow as pa
from pyspark.ml.linalg import Vectors
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from commodity_price_forecasting_spark.functions.signals import trade_signal
from commodity_price_forecasting_spark.functions.spreads import SEPARATOR
from commodity_price_forecasting_spark.ml.ensemble import EnsembleResult


def default_inputs(df: DataFrame, feature_cols: list[str]) -> dict:
    """Latest observed value per feature — the app's slider defaults
    (app.py:242): the first row of ``orderBy(desc("date_id"))``, K
    scalars to the driver. An empty frame, or a latest row with a null
    feature, raises a ``ValueError`` that says which."""
    row = df.orderBy(F.desc("date_id")).select(*feature_cols).first()
    if row is None:
        raise ValueError("default_inputs: the frame is empty, no latest row")
    nulls = [c for c in feature_cols if row[c] is None]
    if nulls:
        raise ValueError(
            f"default_inputs: the latest row has null feature columns {nulls}"
        )
    return {c: float(row[c]) for c in feature_cols}


# The request's rule parameters travel as two columns of the one-row
# relation, so the plan's signal expressions are built once, not per
# request; the projection leaves them out of the response.
_THRESHOLD, _MIN_CONFIDENCE = "_threshold", "_min_confidence"


@dataclass(frozen=True)
class _ResponsePlan:
    """What every request on one fitted ensemble shares: the fitted
    assembler's feature order, the relation's schema and the response
    projection — the ``trade_signal`` fields, aliases and
    ``generated_at``. Building the projection costs ~40 py4j Column
    constructions, several times the driver-side scoring."""

    input_cols: list[str]
    schema: T.StructType
    projection: list[Column]


def _build_plan(ens: EnsembleResult) -> _ResponsePlan:
    input_cols = next(iter(ens.fitted.values())).stages[0].getInputCols()
    # Explicit schema: leg_b is None for single-instrument targets and
    # would otherwise break schema inference (NullType).
    response = [
        T.StructField("target", T.StringType(), False),
        T.StructField("leg_a", T.StringType(), False),
        T.StructField("leg_b", T.StringType(), True),
        T.StructField("prediction", T.DoubleType(), False),
        T.StructField("avg_r2", T.DoubleType(), False),
        *[T.StructField(f"pred_{n}", T.DoubleType(), False) for n in ens.fitted],
    ]
    schema = T.StructType(
        [
            *response,
            T.StructField(_THRESHOLD, T.DoubleType(), False),
            T.StructField(_MIN_CONFIDENCE, T.DoubleType(), False),
        ]
    )
    sig = trade_signal(
        F.col("prediction"),
        F.col("avg_r2"),
        threshold=F.col(_THRESHOLD),
        min_confidence=F.col(_MIN_CONFIDENCE),
    )
    projection = [
        *[F.col(f.name) for f in response],
        sig["signal"].alias("signal"),
        sig["confidence"].alias("confidence"),
        sig["strength"].alias("strength"),
        F.current_timestamp().alias("generated_at"),
    ]
    return _ResponsePlan(input_cols, schema, projection)


def _feature_vector(cols: list[str], feature_cols: list[str], inputs: dict):
    """The request as one dense vector in the fitted assembler's column
    order ``cols`` (``run_ensemble`` fits every pipeline behind one
    assembler), so the caller's ``feature_cols`` order does not matter.
    Rejects what ``VectorAssembler(handleInvalid="error")`` rejected on
    the old one-row-frame path — a missing or NaN feature — which
    ``Model.predict`` would otherwise score as NaN."""
    if sorted(feature_cols) != sorted(cols):
        raise ValueError(
            "feature_cols must be the fitted features: missing "
            f"{sorted(set(cols) - set(feature_cols))}, unknown {sorted(set(feature_cols) - set(cols))}"
        )
    missing = [c for c in cols if c not in inputs]
    if missing:
        raise ValueError(f"missing input for feature(s): {missing}")
    values = [float(inputs[c]) for c in cols]
    nan = [c for c, v in zip(cols, values) if math.isnan(v)]
    if nan:
        raise ValueError(f"NaN input for feature(s): {nan}")
    return Vectors.dense(values)


def predict_signal(
    spark: SparkSession,
    ens: EnsembleResult,
    feature_cols: list[str],
    target: str,
    inputs: dict,
    threshold: float = 0.6,
    min_confidence: float = 0.6,
) -> DataFrame:
    """One-row prediction + trade signal for a spread target.

    Scores the input through every fitted model, combines with the
    ensemble weights, and applies the deployed signal rules. Returns a
    one-row DataFrame (the app's results table, app.py:629-645) over a
    local relation: neither this call nor its ``collect()`` runs a
    Spark job. The response plan (schema, feature order, signal
    projection) is built on the first request to ``ens`` and kept on
    it; ``threshold`` and ``min_confidence`` are data in the relation,
    not literals in the plan. Raises ``ValueError`` for a threshold
    that is not finite and > 0, a min_confidence that is not finite, a
    missing or NaN feature input, or ``feature_cols`` that are not the
    fitted features."""
    if not (math.isfinite(threshold) and threshold > 0):
        raise ValueError(f"threshold must be finite and > 0, got {threshold!r}")
    if not math.isfinite(min_confidence):
        raise ValueError(f"min_confidence must be finite, got {min_confidence!r}")
    if ens._response_plan is None:
        ens._response_plan = _build_plan(ens)
    plan = ens._response_plan
    vec = _feature_vector(plan.input_cols, feature_cols, inputs)
    preds = {name: float(model.stages[-1].predict(vec)) for name, model in ens.fitted.items()}
    pred = sum(ens.weights[n] * p for n, p in preds.items())

    legs = target.split(SEPARATOR)
    leg_a = legs[0].strip()
    leg_b = legs[1].strip() if len(legs) > 1 else None

    row = (target, leg_a, leg_b, float(pred), float(ens.avg_r2), *preds.values())
    row += (float(threshold), float(min_confidence))
    # An Arrow table becomes a LocalRelation; a list of tuples would be
    # a Python-pickled RDD that every scan runs through Python workers.
    table = pa.Table.from_pydict({f.name: [v] for f, v in zip(plan.schema.fields, row)})
    return spark.createDataFrame(table, plan.schema).select(*plan.projection)
