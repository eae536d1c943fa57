"""IVF ANN: probing a fraction of the KMeans cells must still recover
most of the exact brute-force top-k (recall), cell assignment must
cover the corpus exactly once, and every seed-routing lane must share
one tie rule and one set of input guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.similarity import (
    assign_cells_blas,
    assign_cells_fold,
    assign_to_seeds,
    cosine_topk,
    ivf_assign,
    ivf_pq_index,
    ivf_pq_probe,
    ivf_pq_probe_batch,
    ivf_seed_assign,
    ivf_seed_topk,
)
from commodity_price_forecasting_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings").cache()
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)

    exact = {r["vec_id"] for r in cosine_topk(emb, query_id=0, k=10).collect()}
    assigned, centers = ivf_assign(corpus, k=8)
    assert assigned.count() == corpus.count()
    assert len(centers) == 8
    seeds = list(enumerate(centers))

    # probing ALL cells must equal exact brute force
    full = {
        r["vec_id"]
        for r in ivf_seed_topk(assigned, seeds, qvec, k=10, n_probe=8).collect()
    }
    assert full == exact

    # probing 3/8 cells: meaningful recall with ~60% of the scan pruned
    pruned = {
        r["vec_id"]
        for r in ivf_seed_topk(assigned, seeds, qvec, k=10, n_probe=3).collect()
    }
    assert len(pruned & exact) >= 5


def test_seed_routing_refuses_empty_seeds_and_nonpositive_n_probe(spark):
    """An empty seed list (k=0, an empty corpus) and ``n_probe < 1``
    fail while the plan is built, with a ValueError that names the
    problem — not a JVM AnalysisException from ``zip_with`` over an
    empty array literal, and not a silently empty result."""
    df = spark.createDataFrame(
        [(3, [0.0, 1.0]), (5, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for build in (
        lambda: ivf_seed_assign(df, k=0),
        lambda: ivf_seed_assign(empty),
        lambda: ivf_pq_index(df, k_coarse=0, n_centroids=2, m_sub=1),
        lambda: ivf_seed_topk(df, [], [1.0, 1.0]),
    ):
        with pytest.raises(ValueError, match="empty seed list"):
            build()

    assigned, seeds = ivf_seed_assign(df, k=2)
    idx = ivf_pq_index(df, k_coarse=2, n_centroids=2, m_sub=1)
    queries = df.select(F.col("vec_id").alias("query_id"), "embedding")
    for n_probe in (0, -1):
        for probe in (
            lambda: ivf_seed_topk(assigned, seeds, [1.0, 1.0], n_probe=n_probe),
            lambda: ivf_pq_probe(idx, [1.0, 1.0], n_probe=n_probe),
            lambda: ivf_pq_probe_batch(idx, queries, n_probe=n_probe),
        ):
            with pytest.raises(ValueError, match="n_probe must be >= 1"):
                probe()
    idx["res"].unpersist()


def test_exact_6dp_cosine_tie_goes_to_smallest_seed_id(spark):
    """Every routing lane breaks an exact 6-dp cosine tie to the
    smallest seed id. The vector/query [1, 1] scores 0.707107 against
    both seeds; seed 5 is listed first and is nearer BEFORE rounding
    (0.70710685 vs 0.70710678), so a lane that compared raw cosines or
    broke ties by list position would pick 5 instead of 3."""
    seeds = [(5, [1.0, 1e-7]), (3, [0.0, 1.0])]
    corpus = spark.createDataFrame(
        [(5, [1.0, 1e-7]), (3, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    tie = spark.createDataFrame(
        [(10, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )

    # cell assignment: the IVF fold, the SemDeDup fold and the BLAS lane
    assert [r["cell"] for r in assign_to_seeds(tie, seeds).collect()] == [3]
    for lane in (assign_cells_fold, assign_cells_blas):
        assert [(r["cell"], r["_cent"]) for r in lane(tie, seeds).collect()] == [
            (3, 0.707107)
        ]

    # driver routing: only cell 3 is probed
    assigned = assign_to_seeds(corpus.unionByName(tie), seeds)
    got = ivf_seed_topk(assigned, seeds, [1.0, 1.0], k=10, n_probe=1).collect()
    assert sorted((r["vec_id"], r["cell"]) for r in got) == [(3, 3), (10, 3)]

    # IVF-PQ probes over an index whose md5-ordered seeds are 5 then 3
    idx = ivf_pq_index(corpus, k_coarse=2, n_centroids=2, m_sub=1)
    assert [s for s, _ in idx["seeds"]] == [5, 3]
    got = ivf_pq_probe(idx, [1.0, 1.0], k=10, n_probe=1).collect()
    assert [(r["vec_id"], r["cell"]) for r in got] == [(3, 3)]
    got = ivf_pq_probe_batch(
        idx, tie.withColumnRenamed("vec_id", "query_id"), k=10, n_probe=1
    ).collect()
    assert [(r["query_id"], r["vec_id"], r["cell"]) for r in got] == [(10, 3, 3)]
    idx["res"].unpersist()
