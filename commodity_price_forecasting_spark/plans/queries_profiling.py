"""Profiling / cleaning / statistics queries (SURVEY.md §2.4 A1–A7,
§2.6 T1, §2.7 SO3–SO4, §2.8 F9, §2.3 J4) — the reference's data-QA
surface re-expressed as single-pass distributed aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.cleaning import drop_any_null_rows
from commodity_price_forecasting_spark.operators.profiling import (
    corr_pairs,
    describe_long,
    duplicate_row_count,
    histogram_fixed,
    null_profile,
    variance_by_group,
)
from commodity_price_forecasting_spark.plans.registry import register
from commodity_price_forecasting_spark.sources.readers import load_table


def _events_nullified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``value`` deterministically nulled on 'error' rows —
    the fixture stand-in for the reference's missing market data."""
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn(
        "value", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    )


_NULLIFIED_CTE = """
WITH ev AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
         props
  FROM events
)
"""


_A1_ORACLE = (
    _NULLIFIED_CTE
    + """
, t AS (SELECT COUNT(*) AS total,
               COUNT(*) FILTER (WHERE value IS NULL)   AS n_value,
               COUNT(*) FILTER (WHERE user_id IS NULL) AS n_user,
               COUNT(*) FILTER (WHERE props IS NULL)   AS n_props
        FROM ev)
SELECT 'value' AS col_name, n_value AS n_null, ROUND(n_value * 1.0 / total, 6) AS null_frac FROM t
UNION ALL
SELECT 'user_id', n_user, ROUND(n_user * 1.0 / total, 6) FROM t
UNION ALL
SELECT 'props', n_props, ROUND(n_props * 1.0 / total, 6) FROM t
"""
)


@register("a1_null_profile", oracle=_A1_ORACLE, tags=("profiling",))
def a1_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null count/fraction (MC:24124 (cell 9), A1/A2) —
    one wide aggregate pass, unpivoted to long form."""
    return null_profile(_events_nullified(spark, sf_dir), ["value", "user_id", "props"])


_A3_ORACLE = """
SELECT 'l_quantity' AS col_name, COUNT(l_quantity) AS n,
       ROUND(AVG(l_quantity), 6) AS mean, ROUND(STDDEV_SAMP(l_quantity), 6) AS stddev,
       ROUND(MIN(l_quantity), 6) AS min, ROUND(MAX(l_quantity), 6) AS max
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(l_extendedprice),
       ROUND(AVG(l_extendedprice), 6), ROUND(STDDEV_SAMP(l_extendedprice), 6),
       ROUND(MIN(l_extendedprice), 6), ROUND(MAX(l_extendedprice), 6)
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(l_discount),
       ROUND(AVG(l_discount), 6), ROUND(STDDEV_SAMP(l_discount), 6),
       ROUND(MIN(l_discount), 6), ROUND(MAX(l_discount), 6)
FROM lineitem
"""


@register("a3_describe_stats", oracle=_A3_ORACLE, tags=("profiling",))
def a3_describe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact describe() per numeric column (MC:24031 (cell 6), A3) as
    a long stats table from one aggregate pass over the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return describe_long(li, ["l_quantity", "l_extendedprice", "l_discount"])


_A4_ORACLE = """
WITH daily AS (
  SELECT user_id AS instrument, CAST(ts AS DATE) AS day, AVG(value) AS px
  FROM events GROUP BY 1, 2
)
SELECT instrument, ROUND(VAR_SAMP(px), 6) AS variance, COUNT(px) AS n
FROM daily GROUP BY instrument
ORDER BY variance DESC, instrument LIMIT 20
"""


@register("a4_variance_topk", oracle=_A4_ORACLE, tags=("profiling", "topk"))
def a4_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-based target ranking, top-20 (MC:57595 (cell 61),
    A4+T1) — the reference's target-selection step: group variance
    then a 20-row takeOrdered (no global sort materialization)."""
    from commodity_price_forecasting_spark.plans.e1_pipeline import daily_bars

    daily = daily_bars(spark, sf_dir)
    return (
        variance_by_group(daily, ["instrument"], "px")
        .orderBy(F.desc("variance"), F.asc("instrument"))
        .limit(20)
    )


_A5_ORACLE = """
SELECT COUNT(*) AS n_rows,
       (SELECT COUNT(*) FROM (SELECT DISTINCT l_suppkey, l_returnflag, l_linestatus
                              FROM lineitem)) AS n_distinct,
       COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT l_suppkey, l_returnflag,
                                         l_linestatus FROM lineitem)) AS n_duplicates
FROM lineitem
"""


@register("a5_duplicate_count", oracle=_A5_ORACLE, tags=("profiling", "invariant"))
def a5_duplicate_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-row census over a key projection (MC:57490
    (cell 55), A5): total − distinct, two shuffle-free-merged
    aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return duplicate_row_count(li, ["l_suppkey", "l_returnflag", "l_linestatus"])


_A7_ORACLE = """
SELECT * FROM (
  SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
         ROUND(CORR(l_discount, l_extendedprice), 6) AS corr FROM lineitem
  UNION ALL
  SELECT 'l_discount', 'l_quantity', ROUND(CORR(l_discount, l_quantity), 6) FROM lineitem
  UNION ALL
  SELECT 'l_discount', 'l_tax', ROUND(CORR(l_discount, l_tax), 6) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', 'l_quantity', ROUND(CORR(l_extendedprice, l_quantity), 6) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', 'l_tax', ROUND(CORR(l_extendedprice, l_tax), 6) FROM lineitem
  UNION ALL
  SELECT 'l_quantity', 'l_tax', ROUND(CORR(l_quantity, l_tax), 6) FROM lineitem
) t
"""


@register("a7_corr_pairs", oracle=_A7_ORACLE, tags=("profiling", "stats"))
def a7_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation long table (SE:62738 (cell 77),
    A7): all C(4,2) pairs as fused aggregates in ONE pass over the
    scan (vs the reference's O(n²) Python loop)."""
    li = load_table(spark, sf_dir, "lineitem")
    return corr_pairs(
        li, ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
    )


_F9_ORACLE = """
SELECT CAST(LEAST(FLOOR((l_extendedprice - 0.0) / (120000.0 / 30)), 29) AS INTEGER) AS bucket,
       COUNT(*) AS n
FROM lineitem
WHERE l_extendedprice >= 0.0 AND l_extendedprice <= 120000.0
GROUP BY 1
"""


@register("f9_histogram", oracle=_F9_ORACLE, tags=("profiling",))
def f9_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-bin fixed-range histogram of extended price (SE:62820
    (cell 80), F9) — bucket arithmetic + groupBy count, one
    map-combinable stage."""
    li = load_table(spark, sf_dir, "lineitem")
    return histogram_fixed(li, "l_extendedprice", 0.0, 120000.0, 30)


_SO3_ORACLE = (
    _NULLIFIED_CTE
    + """
SELECT event_type, COUNT(*) AS n
FROM ev
WHERE value IS NOT NULL AND props IS NOT NULL
GROUP BY event_type
"""
)


@register("so3_dropna", oracle=_SO3_ORACLE, tags=("cleaning",))
def so3_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-null row drop (MC:57311 (cell 44), SO3) then survivor
    census — null-predicate filters push down to the scan."""
    ev = _events_nullified(spark, sf_dir).select("event_type", "value", "props")
    return drop_any_null_rows(ev).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


_SO4_ORACLE = (
    _NULLIFIED_CTE
    + """
, t AS (SELECT COUNT(*) AS total FROM ev)
SELECT col AS col_name, ROUND(nf, 6) AS null_frac,
       CASE WHEN nf > 0.5 THEN 0 ELSE 1 END AS kept
FROM (
  SELECT 'value' AS col,
         (SELECT COUNT(*) FILTER (WHERE value IS NULL) * 1.0 FROM ev) / (SELECT total FROM t) AS nf
  UNION ALL
  SELECT 'user_id',
         (SELECT COUNT(*) FILTER (WHERE user_id IS NULL) * 1.0 FROM ev) / (SELECT total FROM t)
  UNION ALL
  SELECT 'props',
         (SELECT COUNT(*) FILTER (WHERE props IS NULL) * 1.0 FROM ev) / (SELECT total FROM t)
) s
"""
)


@register("so4_sparse_columns", oracle=_SO4_ORACLE, tags=("cleaning",))
def so4_sparse_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """>50 %-missing column-drop decision (MC:57354 (cell 47), SO4):
    the null-fraction aggregate plus the keep/drop verdict as data —
    the driver-side ``df.drop`` consumes this single-pass profile."""
    prof = null_profile(_events_nullified(spark, sf_dir), ["value", "user_id", "props"])
    return prof.select(
        "col_name",
        "null_frac",
        F.when(F.col("null_frac") > 0.5, F.lit(0)).otherwise(F.lit(1)).alias("kept"),
    )


_J4_ORACLE = """
WITH legs AS (
  SELECT DISTINCT UNNEST(STRING_SPLIT(p_type, ' ')) AS leg FROM part
), known AS (
  SELECT DISTINCT p_brand AS name FROM part
)
SELECT leg FROM legs
WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.name = legs.leg)
"""


@register("j4_parse_explode_anti", oracle=_J4_ORACLE, tags=("join", "scalar"))
def j4_parse_explode_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split→explode→distinct→anti-join — the reference's pair-leg
    completeness check (MC:57130 (cell 35), J4/F1): parse compound
    string expressions into legs, verify each against a known-name
    dimension, report the unmatched."""
    part = load_table(spark, sf_dir, "part")
    legs = (
        part.select(F.explode(F.split("p_type", " ")).alias("leg")).distinct()
    )
    known = part.select(F.col("p_brand").alias("name")).distinct()
    return legs.join(known, legs["leg"] == known["name"], "left_anti").select("leg")


# --- A11: deterministic mode (most frequent value) per group ------------

_MODE_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rk
  FROM counts
)
SELECT user_id, event_type AS mode_event, n AS mode_count
FROM ranked WHERE rk = 1
"""


@register("a11_mode_per_group", oracle=_MODE_ORACLE, tags=("profiling", "agg"))
def a11_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent event_type per user, DETERMINISTIC (count desc,
    value asc tie-break) — unlike the engines' native mode(), whose
    tie behavior is unspecified and engine-dependent. Count aggregate
    then a per-user rank over |users|·|types| rows."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), F.col("n").alias("mode_count"))
    )


# --- A12: Shannon entropy of the event-type mix per user ----------------

_ENTROPY_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT user_id, SUM(n) AS tot_n FROM counts GROUP BY user_id
)
SELECT c.user_id,
       ROUND(SUM(-(c.n * 1.0 / t.tot_n) * LN(c.n * 1.0 / t.tot_n)), 6)
         AS type_entropy,
       COUNT(*) AS n_types
FROM counts c JOIN tot t ON c.user_id = t.user_id
GROUP BY c.user_id
"""


@register("a12_type_entropy", oracle=_ENTROPY_ORACLE, tags=("profiling", "agg"))
def a12_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity profile column. Exact integer counts feed the
    LN, rounded once at the edge; two aggregates clustered on the
    same user_id key, so the second reuses the first's partitioning."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy(F.col("user_id").alias("_u")).agg(F.sum("n").alias("tot_n"))
    p = F.col("n") / F.col("tot_n")
    return (
        counts.join(tot, counts.user_id == F.col("_u"))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(-p * F.log(p)), 6).alias("type_entropy"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )


# --- A13: exact per-group median ----------------------------------------

_GROUP_MEDIAN_ORACLE = """
WITH daily AS (
  SELECT user_id AS instrument, CAST(ts AS DATE) AS day, AVG(value) AS px
  FROM events GROUP BY 1, 2
)
SELECT instrument,
       ROUND(quantile_cont(px, 0.5), 6) AS median_px,
       COUNT(*) AS n_days
FROM daily GROUP BY instrument
"""


@register("a13_group_median", oracle=_GROUP_MEDIAN_ORACLE, tags=("profiling", "agg"))
def a13_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per instrument (Spark ``percentile``
    == DuckDB ``quantile_cont``). Exact percentile buffers each
    group's values on the reducer — fine for bounded series length;
    ``percentile_approx`` (t-digest, mergeable) is the unbounded-group
    scale path (operators/profiling)."""
    from commodity_price_forecasting_spark.plans.e1_pipeline import daily_bars

    daily = daily_bars(spark, sf_dir)
    return daily.groupBy("instrument").agg(
        F.round(F.percentile("px", F.lit(0.5)), 6).alias("median_px"),
        F.count(F.lit(1)).alias("n_days"),
    )


# --- DQ: declarative data-quality rule audit (one pass) -----------------

_DQ_ORACLE = """
WITH s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
         CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ship,
         CAST(SUM(CASE WHEN l_tax > 0.07 THEN 1 ELSE 0 END) AS BIGINT) AS v_tax
  FROM lineitem
)
SELECT 'quantity_positive' AS rule, n AS n_checked, v_qty AS n_violations,
       ROUND(1.0 - v_qty * 1.0 / n, 6) AS pass_rate FROM s
UNION ALL SELECT 'discount_in_range', n, v_disc, ROUND(1.0 - v_disc * 1.0 / n, 6) FROM s
UNION ALL SELECT 'shipdate_not_null', n, v_ship, ROUND(1.0 - v_ship * 1.0 / n, 6) FROM s
UNION ALL SELECT 'tax_below_cap', n, v_tax, ROUND(1.0 - v_tax * 1.0 / n, 6) FROM s
"""


@register("dq_rule_violations", oracle=_DQ_ORACLE, tags=("profiling", "quality"))
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ/expectations shape,
    SURVEY §2.5 A8/A9 generalized): every rule — positivity, range,
    completeness, cap — evaluates as a conditional SUM inside ONE
    aggregate pass over the fact table, then unpivots to one row per
    rule. At 100 TB the audit costs a single scan regardless of how
    many rules are registered; adding a rule adds a column, not a
    job."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_shipdate", "l_tax"
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("v_qty"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("long")
        ).alias("v_disc"),
        F.sum(F.col("l_shipdate").isNull().cast("long")).alias("v_ship"),
        F.sum((F.col("l_tax") > 0.07).cast("long")).alias("v_tax"),
    )
    return s.selectExpr(
        """stack(4,
             'quantity_positive', v_qty,
             'discount_in_range', v_disc,
             'shipdate_not_null', v_ship,
             'tax_below_cap',     v_tax) AS (rule, n_violations)""",
        "n AS n_checked",
    ).select(
        "rule",
        "n_checked",
        "n_violations",
        F.round(1.0 - F.col("n_violations") * 1.0 / F.col("n_checked"), 6).alias(
            "pass_rate"
        ),
    )


# --- Incremental aggregation: mergeable partial moments -----------------

_INCR_MERGE_ORACLE = """
WITH h AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 0 ELSE 1 END AS half,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(28,10))) AS s,
         SUM(CAST(value * value AS DECIMAL(28,10))) AS ss
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s) AS DOUBLE) AS s, CAST(SUM(ss) AS DOUBLE) AS ss
  FROM h GROUP BY 1
)
SELECT event_type, n,
       ROUND(s / n, 6) AS mean_value,
       ROUND((ss - s * s / n) / (n - 1), 6) AS var_value
FROM m
"""


@register("incr_merge_stats", oracle=_INCR_MERGE_ORACLE, tags=("profiling", "agg"))
def incr_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-aggregation pattern: per-batch partial moments
    (count, Σx, Σx²) computed independently per time slice, then
    MERGED into global mean/variance — the algebraic-state design
    that lets a 100 TB metric update from each new partition without
    rescanning history (same contract as streaming state / OLAP
    cube refresh). Sums run through DECIMAL(28,10) so partial-state
    addition is exact and order-independent; the merged state
    converts to double ONCE for the closed-form mean/variance."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    half = (F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp")).cast("int")
    partial = ev.groupBy("event_type", half.alias("half")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,10)")).alias("ss"),
    )
    merged = partial.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("s").cast("double").alias("s"),
        F.sum("ss").cast("double").alias("ss"),
    )
    return merged.select(
        "event_type",
        "n",
        F.round(F.col("s") / F.col("n"), 6).alias("mean_value"),
        F.round(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1), 6
        ).alias("var_value"),
    )


_WINSOR_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n,
       ROUND(AVG(e.value), 6) AS raw_mean,
       ROUND(AVG(LEAST(GREATEST(e.value, q.lo), q.hi)), 6) AS winsor_mean,
       CAST(SUM(CASE WHEN e.value < q.lo OR e.value > q.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped
FROM events e JOIN q ON e.event_type = q.event_type
WHERE e.value IS NOT NULL
GROUP BY e.event_type
"""


@register("a16_winsorized_mean", oracle=_WINSOR_ORACLE, tags=("profiling", "agg"))
def a16_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: CLAMP (not drop — the
    distinction from the a14 IQR screen) values to their group's
    exact [P5, P95] band, then average — the robust location estimate
    that keeps every row's vote while bounding outlier leverage.
    Two aggregates: an exact-percentile pass over |groups| rows
    broadcast back against the stream, then the clamped mean —
    map-side join, no sort of the fact table. Spark's exact
    ``percentile`` interpolates identically to DuckDB's
    ``quantile_cont`` (the a3/a13 precedent)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = ev.groupBy(F.col("event_type").alias("_et")).agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(q), ev.event_type == F.col("_et"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("raw_mean"),
            F.round(F.avg(clamped), 6).alias("winsor_mean"),
            F.sum(
                ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).cast(
                    "int"
                )
            )
            .cast("long")
            .alias("n_clamped"),
        )
    )
