#!/usr/bin/env python
"""Measure the SemDeDup intra-cell pair count at each SF (r7): the
pair stage meets Σ|cell|²/2 candidate pairs, the quantity whose
curvature decides the lane's scaling exponent (Θ(n²/k) — at k=⌈√n⌉
that is Θ(n^1.5), the flat-clustering optimum; see
operators/similarity.semantic_dedup_drops). Prints one JSON line per
sf dir: {n, k, cells_used, sum_sq_pairs, max_cell}.
"""
from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.similarity import (
    assign_cells_blas,
    assign_cells_hier_cogroup,
    seed_routing_frame,
    _semdedup_seeds,
)
from commodity_price_forecasting_spark.session import get_spark
from commodity_price_forecasting_spark.sources.readers import load_table


def main() -> None:
    spark = get_spark(app_name="semdedup-pair-probe", master="local[8]",
                      shuffle_partitions=8)
    args = list(sys.argv[1:])
    cell_size = None
    if "--hier" in args:  # k = ceil(n/C) two-level lane instead of flat sqrt(n)
        i = args.index("--hier")
        cell_size = int(args[i + 1])
        del args[i : i + 2]
    for sf_dir in args:
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        if cell_size:
            k = max(16, math.ceil(n / cell_size))
            k1 = max(1, math.isqrt(k - 1) + 1) if k > 1 else 1
            coarse = sorted(_semdedup_seeds(emb, k1))
            assigned = assign_cells_hier_cogroup(
                emb, coarse, seed_routing_frame(emb, k, coarse)
            )
        else:
            k = max(16, math.isqrt(n))
            seeds = _semdedup_seeds(emb, k)
            assigned = assign_cells_blas(emb, seeds)
        sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("c"))
        row = sizes.agg(
            F.count(F.lit(1)).alias("cells"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
            F.max("c").alias("max_cell"),
        ).collect()[0]
        print(json.dumps({
            "sf_dir": sf_dir, "n": n, "k": k,
            "cells_used": row["cells"],
            "sum_sq_pairs": int(row["pairs"]),
            "max_cell": row["max_cell"],
        }), flush=True)


if __name__ == "__main__":
    main()
