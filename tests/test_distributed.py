"""Tests for operators/distributed.prefix_sum — the range-partition +
prefix-offset exact running sum (the scale-safe replacement for a
single-partition ``Window.orderBy``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.distributed import prefix_sum


def test_prefix_sum_matches_sequential(spark):
    # 1000 rows, values chosen so every prefix is distinct; 8 range
    # partitions forces real cross-partition offsets.
    rows = [(i, (i * 7 + 3) % 11) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, v long")
    out = prefix_sum(df, "k", "v", out_col="cum", num_partitions=8)
    got = {r["k"]: r["cum"] for r in out.collect()}
    run = 0
    for k, v in rows:
        run += v
        assert got[k] == run, f"k={k}"


def test_prefix_sum_no_single_partition_exchange(spark):
    # The executed plan must not contain a SinglePartition exchange —
    # that is exactly the anti-pattern prefix_sum exists to avoid.
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    out = prefix_sum(df, "k", "v", num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_connected_components_star_and_forest(spark):
    """A star (diameter 2) must converge in O(1) iterations whatever
    its fan-out, and a forest of disjoint components must keep them
    separate with per-component min labels (the distributed loop)."""
    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components_star,
    )

    # 10k-leaf star centred on node 0
    star = spark.range(1, 10_001).select(
        F.lit(0).alias("doc_a"), F.col("id").alias("doc_b")
    )
    stats = {}
    out = connected_components_star(star, stats=stats)
    assert out.select("component").distinct().count() == 1
    assert stats["iterations"] <= 2, stats

    # forest: 500 disjoint triangles {3k, 3k+1, 3k+2}
    tri = spark.range(500).selectExpr("id * 3 AS base")
    edges = (
        tri.selectExpr("base AS doc_a", "base + 1 AS doc_b")
        .union(tri.selectExpr("base + 1", "base + 2"))
        .union(tri.selectExpr("base", "base + 2"))
    )
    comp = connected_components_star(edges)
    rows = comp.groupBy("component").count().collect()
    assert len(rows) == 500
    assert all(r["count"] == 3 for r in rows)
    assert all(r["component"] % 3 == 0 for r in rows)


def test_connected_components_fast_path_equals_distributed(spark):
    """The driver union-find fast path and the distributed loop must
    be indistinguishable: same (node, component) pairs, min-id
    labels, on a graph mixing chains, stars and singleton-free
    isolated pairs."""
    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.range(999).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    star = spark.range(2_000, 2_100).selectExpr(
        "1500 AS doc_a", "id AS doc_b"
    )
    pairs = spark.range(10).selectExpr(
        "5000 + id * 2 AS doc_a", "5001 + id * 2 AS doc_b"
    )
    edges = chain.union(star).union(pairs)
    stats_fast, stats_star = {}, {}
    fast = connected_components(edges, stats=stats_fast)
    starp = connected_components_star(edges, stats=stats_star)
    assert stats_fast.get("fast_path") is True
    assert "fast_path" not in stats_star
    got_fast = sorted(tuple(r) for r in fast.collect())
    got_star = sorted(tuple(r) for r in starp.collect())
    assert got_fast == got_star
    assert len(got_fast) == 1000 + 101 + 20


def test_session_default_checkpoint_dir_and_reliable_cc(spark, tmp_path):
    """r8 VERDICT ask #7: the session factory must configure a
    checkpoint dir OUT OF THE BOX, so the components loop's lineage
    cut (reliable df.checkpoint() whenever a dir is configured) takes
    the cluster-safe path by default instead of silently falling back
    to single-JVM localCheckpoint."""
    import os

    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components_star,
    )

    sc = spark.sparkContext
    ckpt_dir = sc.getCheckpointDir()
    assert ckpt_dir is not None, "session factory left no checkpoint dir"
    # the distributed loop must actually write reliable checkpoints
    # there: run the star loop (the >1M-edge production strategy) and
    # observe new checkpoint payloads under the configured dir.
    local = ckpt_dir[len("file:"):] if ckpt_dir.startswith("file:") else ckpt_dir

    def _ckpt_files() -> set[str]:
        found: set[str] = set()
        for root, _dirs, files in os.walk(local):
            found.update(os.path.join(root, f) for f in files)
        return found

    # set difference, not a count: the session enables
    # cleanCheckpoints, so stale checkpoint files from EARLIER tests
    # may be GC-collected while this test runs — only NEW files prove
    # the reliable path was taken.
    before = _ckpt_files()
    edges = spark.range(50).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    out = connected_components_star(edges)
    assert out.select("component").distinct().count() == 1
    assert _ckpt_files() - before, (
        "connected_components_star ran without writing reliable checkpoints "
        "to the session checkpoint dir"
    )
