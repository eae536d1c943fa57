"""Source readers for the engine's fixture tables.

Scans mirror the reference's sources (SURVEY.md §2.1, S1–S4:
``pd.read_csv`` of train/labels/pairs/serving tables) re-expressed as
Spark reads of the parquet fixture tables (TESTDATA.md). All reads
are lazy scans — Catalyst pushes filters and prunes columns down to
the parquet footer level, which is the 100 TB-scale win the eager
reference cannot have.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Fixture tables generated by the driver (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to always broadcast in joins
#: (SURVEY.md §1.4: "always broadcast" the mapping-table class).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-zone TIMESTAMP (LTZ)
    whatever the fixture's physical encoding. The driver's parquet
    unit has drifted across rounds — TIMESTAMP(NANOS) (bigint under
    the legacy nanos conf) vs TIMESTAMP(MICROS) without UTC
    adjustment (TIMESTAMP_NTZ) — and every downstream consumer
    (watermarks, ``unix_micros``, interval arithmetic) assumes one
    canonical type. The session time zone is pinned to UTC
    (session.py), so NTZ→LTZ is a wall-clock-preserving relabel and
    the projection stays lazy (column pruning/pushdown unaffected).

    ONE helper shared by the batch and streaming readers so
    batch == stream by construction (tests/test_sources_scale.py
    asserts the invariant under both readers).
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":  # legacy TIMESTAMP(NANOS) read as long nanos
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table; ``events.ts`` is
    normalized to a session-zone timestamp (see normalize_event_ts)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for Spark SQL."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
