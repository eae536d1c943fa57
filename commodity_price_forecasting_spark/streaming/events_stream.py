"""Structured Streaming surface over the ``events`` fixture
(SURVEY.md §2.10 — an extension beyond reference parity: the
reference is batch-only pandas over historical CSVs; a 100 TB
multi-market pipeline needs incremental ingestion).

Design rule: every transformation here is **batch/stream agnostic** —
a pure ``DataFrame -> DataFrame`` function usable on both
``spark.read`` and ``spark.readStream`` inputs. Structured Streaming
guarantees the incremental execution of the same logical plan, so
batch == stream on the same data (tested in
``tests/test_streaming.py`` via ``availableNow`` runs), and the
DuckDB oracle can check the batch plan (``plans/queries_streaming``).

Scale posture: windowed aggregations shuffle on (window, key) —
bounded state per watermark; dedup state is bounded by
``dropDuplicatesWithinWatermark``; sessionization uses Spark's native
``session_window`` (state merges in the streaming aggregation
operator, no Python in the hot path).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from commodity_price_forecasting_spark.sources.readers import normalize_event_ts


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet: the local stand-in
    for a Kafka/Kinesis ingest.

    The stream schema is taken from the parquet footer via a batch
    footer read (a streaming source requires an explicit schema), and
    ``ts`` is normalized through the SAME helper the batch reader
    uses (sources/readers.normalize_event_ts) — so batch == stream on
    the same data whatever the fixture's physical timestamp encoding.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema  # footer-only read
    # The file stream source requires a directory: scan sf_dir with a
    # glob filter selecting only the events table.
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


# --- batch/stream-agnostic transformations ------------------------------

def tumbling_stats(df: DataFrame) -> DataFrame:
    """Daily tumbling-window per-event-type aggregate of returns/values.
    Epoch-aligned windows (== ``date_trunc`` to the day). The 1-day
    watermark bounds streaming state; on batch input it is a no-op."""
    return (
        df.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def sliding_stats(df: DataFrame) -> DataFrame:
    """Sliding-window (overlapping) aggregate — 2-day windows sliding
    by 1 day, so each event contributes to two windows; Spark expands
    this in the native window expression (no self-join)."""
    return (
        df.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "2 days", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def session_stats(df: DataFrame) -> DataFrame:
    """Per-user session windows (gap-based): a session extends while
    consecutive events arrive within 30 minutes. Native
    ``session_window`` — streaming state merges adjacent sessions."""
    return (
        df.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_events(df: DataFrame) -> DataFrame:
    """Stateful exact dedup by event_id. On a stream, state is bounded
    by a 1-day watermark (``dropDuplicatesWithinWatermark``); on batch
    input, plain ``dropDuplicates`` (same result on a bounded set)."""
    if df.isStreaming:
        return df.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return df.dropDuplicates(["event_id"])


def enrich_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    """STREAM-STATIC enrichment join: attach the customer dimension
    (market segment, nation) to each event by ``user_id = c_custkey``.
    On a stream the static side is planned per micro-batch — Spark
    broadcasts the dimension (it is far below the session's broadcast
    threshold), so the stream never shuffles; on batch input the same
    plan is an ordinary broadcast join. No watermark needed: the
    static side is bounded, the join is stateless."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return events.join(F.broadcast(dim), "user_id", "left")


def segment_value_stats(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Enriched windowed aggregate — the canonical streaming ETL
    shape: stream-static broadcast join THEN a tumbling-window
    aggregate on the enriched key (day × market segment)."""
    enriched = enrich_with_customer(events, customer)
    return (
        enriched.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "mktsegment",
            "n_events",
            "sum_value",
        )
    )


# --- custom stateful operator (applyInPandasWithState) ------------------

RUNNING_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
        T.StructField("mean_value", T.DoubleType(), False),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("total", T.DoubleType(), False),
    ]
)


def _update_running_stats(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user running (count, sum, mean) across micro-batches — the
    custom-stateful-operator pattern (e.g. online per-instrument
    return statistics). Arrow-batched; state is two scalars/user."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "mean_value": [total / n if n else 0.0],
        }
    )


def running_user_stats(df: DataFrame) -> DataFrame:
    """Streaming: cumulative per-user stats via
    ``applyInPandasWithState``; batch fallback computes the same with
    a plain aggregate (final state == batch aggregate)."""
    if df.isStreaming:
        return (
            df.groupBy("user_id")
            .applyInPandasWithState(
                _update_running_stats,
                outputStructType=RUNNING_STATS_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(F.sum("value"), F.lit(0.0)).alias("total_value"),
        (F.coalesce(F.sum("value"), F.lit(0.0)) / F.count(F.lit(1))).alias(
            "mean_value"
        ),
    )


def view_purchase_attribution(events: DataFrame) -> DataFrame:
    """STREAM-STREAM interval join: attribute each purchase to the
    same user's views in the preceding 12 hours — last-touch
    attribution, the canonical streaming join shape.

    Both sides carry 1-day watermarks plus a bounded time-range
    predicate, which is exactly what Structured Streaming requires to
    size the join state: view rows are dropped from state once the
    watermark passes ``v_ts + 12 hours``, so state is bounded by
    (12 hours + 1 day) × ingest rate. On batch input the watermarks
    are no-ops and the same plan is a plain interval join
    (oracle-checkable)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", "1 day")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "1 day")
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 12 hours"))
        & (F.col("v_ts") < F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        "view_id",
        "user_id",
        F.round("purchase_value", 6).alias("purchase_value"),
        (
            F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")
        ).alias("gap_seconds"),
    )


# --- test/driver helper -------------------------------------------------

def state_sized_partitions(
    spark: SparkSession,
    state_keys: int,
    rows_per_trigger: int | None = None,
) -> int:
    """Recommended ``spark.sql.shuffle.partitions`` for a STATEFUL
    streaming pipeline, sized to the state cardinality instead of the
    core count (the r9 trigger-floor sweep, SCALE.md: the per-trigger
    floor is per-task fixed cost × partitions across the stateful
    stages — at 126 window×bin state keys, 32→8 partitions cut the
    trigger ~2.2× at identical results; this rule, 16 state keys per
    partition, reproduces that measured-better cell: ceil(126/16) = 8).
    Clamped to the session default so a genuinely large state still
    fans out.

    r11 second bound: when the expected per-trigger INPUT is known,
    partitions are also capped at ceil(rows_per_trigger / 32) — 32
    input rows per task; the curation-ingest sweep (SCALE.md r11) showed a
    4,071-key dedup state whose state bound says "stay wide" but whose
    100-row micro-batches measured 2× faster at 4–8 partitions than at
    32: with tiny triggers the per-task fixed cost dominates no matter
    how big the store is (state-store instances are per-partition and
    persist across triggers either way). The binding constraint is
    min(state bound, input bound)."""
    import math

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = math.ceil(max(state_keys, 1) / 16)
    if rows_per_trigger is not None:
        p = min(p, math.ceil(max(rows_per_trigger, 1) / 32))
    return max(1, min(default, p))


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> None:
    """Drain a (file-)stream with availableNow into an in-memory table
    — deterministic end-to-end streaming execution for tests.

    ``shuffle_partitions``: set ``spark.sql.shuffle.partitions`` for
    THIS query's execution (restored after), the lever that sizes the
    state-store partition count — pass
    ``state_sized_partitions(...)`` for stateful pipelines (r9
    trigger-floor sweep; partition count is captured when the query
    starts, so the around-start scope is exactly the right one)."""
    spark = stream_df.sparkSession
    prev = None
    if shuffle_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


# --- custom stateful operator #2: incremental strict funnel -------------

FUNNEL_STAGE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("stage_reached", T.IntegerType(), False),
    ]
)
_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("signup_us", T.ArrayType(T.LongType()), True),
        T.StructField("view_us", T.ArrayType(T.LongType()), True),
        T.StructField("click_us", T.ArrayType(T.LongType()), True),
        T.StructField("purchase_us", T.ArrayType(T.LongType()), True),
    ]
)

_FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def _funnel_stage_from_lists(
    sign: list, view: list, click: list, pur: list
) -> int:
    """Strict-funnel stage from per-type event times (µs): stage k+1
    needs an event of type k+1 at-or-after the stage-k time."""
    t1 = min(sign) if sign else None
    t2 = min((x for x in view if x >= t1), default=None) if t1 is not None else None
    t3 = min((x for x in click if x >= t2), default=None) if t2 is not None else None
    t4 = min((x for x in pur if x >= t3), default=None) if t3 is not None else None
    return 4 if t4 is not None else 3 if t3 is not None else 2 if t2 is not None else 1 if t1 is not None else 0


def _update_funnel(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Accumulate per-type event timestamps per user and re-derive the
    funnel stage each micro-batch. Keeping the full per-type lists is
    what makes the operator EXACT under out-of-order arrival: a
    late-arriving earlier signup can retroactively qualify old views
    (a min-only state could not recover those). State is bounded by
    events/user; a watermark-finalized variant would truncate lists
    below the watermark once stages freeze."""
    if state.exists:
        stored = state.get
        lists = [list(stored[i] or []) for i in range(4)]
    else:
        lists = [[], [], [], []]
    for pdf in pdf_iter:
        us = (pdf["ts"].astype("int64") // 1000).tolist()
        for et, t in zip(pdf["event_type"].tolist(), us):
            try:
                lists[_FUNNEL_STAGES.index(et)].append(t)
            except ValueError:
                continue  # event types outside the funnel don't advance it
    state.update(tuple(lists))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "stage_reached": [_funnel_stage_from_lists(*lists)],
        }
    )


def funnel_stage(df: DataFrame) -> DataFrame:
    """Per-user strict-funnel stage (0–4), batch/stream agnostic.

    Streaming: custom stateful operator (``applyInPandasWithState``,
    update mode) whose emitted stage is monotone non-decreasing across
    micro-batches. Batch: the one-window-pass formulation (running
    conditional minima — same plan family as
    ``plans/queries_behavior.funnel_conversion``), fully JVM-side."""
    if df.isStreaming:
        return (
            df.select("user_id", "event_type", "ts")
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_funnel,
                outputStructType=FUNNEL_STAGE_SCHEMA,
                stateStructType=_FUNNEL_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    ev = df.select("user_id", "event_type", "ts")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    ev = ev.withColumn("f2", (F.col("event_type") == "view") & t1.isNotNull())
    t2 = F.min(F.when(F.col("f2"), F.col("ts"))).over(w)
    ev = ev.withColumn("f3", (F.col("event_type") == "click") & t2.isNotNull())
    t3 = F.min(F.when(F.col("f3"), F.col("ts"))).over(w)
    ev = ev.withColumn("f4", (F.col("event_type") == "purchase") & t3.isNotNull())
    return ev.groupBy("user_id").agg(
        F.when(F.max(F.col("f4").cast("int")) == 1, 4)
        .when(F.max(F.col("f3").cast("int")) == 1, 3)
        .when(F.max(F.col("f2").cast("int")) == 1, 2)
        .when(F.max((F.col("event_type") == "signup").cast("int")) == 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("stage_reached")
    )


# --- custom stateful operator #3: transformWithState (Spark 4 API) ------

DRAWDOWN_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("final_cum", T.DoubleType(), False),
        T.StructField("peak_cum", T.DoubleType(), False),
        T.StructField("max_drawdown", T.DoubleType(), False),
    ]
)


def _make_drawdown_processor():
    """Build the StatefulProcessor lazily so importing this module
    never requires the Spark 4 transformWithState classes."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class DrawdownProcessor(StatefulProcessor):
        """Per-user running max-drawdown over the cumulative value
        stream (online P&L risk tracking). State = 4 scalars/user in a
        ValueState — the Spark 4 ``transformWithState`` successor to
        ``applyInPandasWithState`` (typed state handles, timer support;
        here only a ValueState is needed)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "dd", "cum double, peak double, maxdd double, n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            cum, peak, maxdd, n = (
                self._state.get() if self._state.exists() else (0.0, 0.0, 0.0, 0)
            )
            cum, peak, maxdd, n = _dd_step(cum, peak, maxdd, n, rows)
            self._state.update((cum, peak, maxdd, n))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "final_cum": [cum],
                    "peak_cum": [peak],
                    "max_drawdown": [maxdd],
                }
            )

        def close(self) -> None:
            pass

    return DrawdownProcessor()


_DD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cum", T.DoubleType(), False),
        T.StructField("peak", T.DoubleType(), False),
        T.StructField("maxdd", T.DoubleType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)


def _dd_step(cum, peak, maxdd, n, pdf_iter):
    """Shared micro-batch state transition for both streaming
    backends: fold the chunk(s) in (ts, event_id) order."""
    import numpy as np

    chunks = [pdf for pdf in pdf_iter]
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    vals = pdf["value"].fillna(0.0).to_numpy(dtype=float)
    if len(vals):
        c = cum + np.cumsum(vals)
        peaks = np.maximum.accumulate(np.maximum(c, peak))
        maxdd = max(maxdd, float((peaks - c).max()))
        cum, peak, n = float(c[-1]), float(peaks[-1]), n + len(vals)
    return cum, peak, maxdd, n


def _update_drawdown(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    cum, peak, maxdd, n = state.get if state.exists else (0.0, 0.0, 0.0, 0)
    cum, peak, maxdd, n = _dd_step(cum, peak, maxdd, n, pdf_iter)
    state.update((cum, peak, maxdd, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "final_cum": [cum],
            "peak_cum": [peak],
            "max_drawdown": [maxdd],
        }
    )


def _has_transform_with_state() -> bool:
    """Spark 4's transformWithState python worker needs protobuf; gate
    on it so the operator degrades to applyInPandasWithState in
    containers without the dependency (import-try per environment
    policy — semantics are identical, only the state API differs)."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def running_drawdown(df: DataFrame) -> DataFrame:
    """Per-user cumulative-value max drawdown, batch/stream agnostic.

    Streaming: ``transformWithStateInPandas`` (Spark 4 stateful API)
    with a 4-scalar ValueState per user when the runtime has protobuf
    (the TWS python worker requires it), else the same state
    transition through ``applyInPandasWithState``; within each
    micro-batch rows are processed in (ts, event_id) order, across
    batches in arrival order — the semantics of an ordered ingest.
    Batch: the identical quantity as two ordered windows over the
    SAME (ts, event_id) order plus one aggregate (oracle-checkable
    SQL; peak floors at 0 because the cumulative series starts from
    an empty position)."""
    if df.isStreaming:
        if _has_transform_with_state():
            return df.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=_make_drawdown_processor(),
                outputStructType=DRAWDOWN_SCHEMA,
                outputMode="update",
                timeMode="none",
            )
        return df.groupBy("user_id").applyInPandasWithState(
            _update_drawdown,
            outputStructType=DRAWDOWN_SCHEMA,
            stateStructType=_DD_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = df.select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("v"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        "v",
        F.sum("v").over(w).alias("cum"),
    )
    stepped = cum.select(
        "user_id",
        "v",
        "cum",
        F.greatest(F.lit(0.0), F.max("cum").over(w)).alias("peak"),
    )
    # final_cum = the cumulative sum at the last ordered row = the plain
    # group sum (order-independent — never F.last, which is
    # nondeterministic after a shuffle)
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").alias("final_cum"),
        F.max(F.col("peak")).alias("peak_cum"),
        F.max(F.col("peak") - F.col("cum")).alias("max_drawdown"),
    )


# --- chained stateful drift monitor: windowed PSI vs static baseline ----


#: value-bin width shared by the drift monitor's baseline and window
#: sides — both must bin identically for the PSI terms to line up.
_PSI_BIN_WIDTH = 25.0


def value_bin_baseline(df: DataFrame) -> DataFrame:
    """STATIC per-bin reference distribution for the drift monitor:
    ``(bin, p_base, k_bins)`` over ``_PSI_BIN_WIDTH``-wide value bins
    from a batch scan — in production the frozen training-period
    histogram the live stream is compared against. Window-over-all runs on the |bins|-row frame
    (dimension-sized, ~14 bins here), never on raw events."""
    from pyspark.sql import Window

    c = (
        df.select(
            F.floor(F.col("value") / _PSI_BIN_WIDTH).cast("long").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    w = Window.partitionBy()
    return c.select(
        "bin",
        (F.col("n_b").cast("double") / F.sum("n_b").over(w)).alias("p_base"),
        F.count(F.lit(1)).over(w).alias("k_bins"),
    )


def windowed_psi(df: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per-day Population Stability Index of the value distribution
    against a static baseline — the production drift monitor
    (`drift_psi_value`'s batch statistic, incrementalized): PSI_w =
    Σ_bins (p_w − p_base)·ln(p_w/p_base), with the window-side
    probability Laplace-smoothed, p_w = (n+s)/(n_w+s·K) at s = 0.5,
    so a bin unseen in a thin window cannot produce ln(0). Bins are OBSERVED
    bins (stream-static inner join against the baseline): a stream
    cannot right-join a static frame per window, so missing-bin mass
    shows up through the smoothed denominator — documented monitor
    semantics, mirrored exactly by the batch oracle.

    Streaming shape (the interesting part): TWO chained stateful
    aggregations — (window, bin) counts, then the per-window PSI fold
    — Spark 3.4+ multiple-stateful-operator support, append mode,
    state bounded by the watermark at both levels; the baseline join
    between them is stream-static broadcast (stateless). The PSI fold
    itself is a JVM higher-order ``aggregate`` over the ≤K collected
    (n, p_base) structs — no Python, no second shuffle."""
    binned = df.withWatermark("ts", "1 day").select(
        F.window("ts", "1 day").alias("win"),
        F.floor(F.col("value") / _PSI_BIN_WIDTH).cast("long").alias("bin"),
    )
    wb = binned.groupBy("win", "bin").agg(F.count(F.lit(1)).alias("n_wb"))
    j = wb.join(F.broadcast(baseline), "bin")
    terms = j.groupBy("win").agg(
        F.collect_list(
            F.struct(
                F.col("n_wb").alias("n"),
                F.col("p_base").alias("p"),
                F.col("k_bins").alias("k"),
            )
        ).alias("t")
    )
    n_w = F.aggregate(
        "t", F.lit(0).cast("long"), lambda a, x: a + x["n"]
    )
    with_total = terms.select("win", n_w.alias("n_w"), "t")

    def p_w(x):
        return (x["n"] + F.lit(0.5)) / (F.col("n_w") + F.lit(0.5) * x["k"])

    psi = F.aggregate(
        "t",
        F.lit(0.0),
        lambda a, x: a + (p_w(x) - x["p"]) * F.log(p_w(x) / x["p"]),
    )
    return with_total.select(
        F.col("win.start").alias("window_start"),
        F.col("n_w").cast("long").alias("n_events"),
        F.round(psi, 6).alias("psi"),
        F.size("t").cast("int").alias("n_bins_observed"),
    )
