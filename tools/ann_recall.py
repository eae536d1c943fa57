#!/usr/bin/env python
"""Cross-lane ANN recall@k table (r8 VERDICT ask #3).

One fixture, one ground truth per metric, every single-vector ANN
lane side by side — the recall-vs-cost dial a user choosing a lane
actually needs:

- ``brute``   — exact cosine top-k (recall 1.0 by definition).
- ``ivf``     — coarse md5-min seeds, probe n_probe cells, exact
                cosines inside (``ivf_seed_assign``/``ivf_seed_topk``).
                Metric: cosine.
- ``ivf_kmeans`` — the TRAINED coarse quantizer (MLlib KMeans,
                ``ivf_assign``): same probe (``ivf_seed_topk``), cells that
                actually cluster the data. The recall uplift over
                ``ivf`` is the price of the md5-seed lanes'
                engine-reproducibility (0-iteration init).
                Metric: cosine.
- ``pq_adc``  — PQ codes on RAW vectors, ADC LUT sum. Metric: L2.
- ``ivf_pq``  — PQ codes on RESIDUALS, per-cell LUT, n_probe cells
                (``ivf_pq_index``/``ivf_pq_probe``). Metric: L2.

Ground truth is exact top-k under EACH LANE'S OWN metric (cosine for
ivf, squared-L2 for the PQ lanes), computed on the driver in numpy
with the repo's HALF_UP 6-dp rounding + smallest-id tie-break — the
same total order the lanes use. The index is built ONCE over the full
corpus; each query excludes itself from its result (standard
recall@k protocol; the registered queries' leave-one-out BUILD
convention is an oracle-reproducibility device, not the deployment
shape). ``sim_late_interaction`` is excluded: it is a multi-vector
text lane (token trigrams), not a single-vector ANN over this
fixture.

Usage:
  python tools/ann_recall.py --sf-dir /root/testdata/sf0.1
  python tools/ann_recall.py --sf-dir .scratch/sf1 --n-queries 20
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _half_up6_np(x: np.ndarray) -> np.ndarray:
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def exact_topk(
    mat: np.ndarray, ids: np.ndarray, qi: int, k: int, metric: str
) -> list[int]:
    """Exact top-k under the lane's metric with the repo's total
    order: 6-dp HALF_UP score, ties to the smallest id; self
    excluded."""
    q = mat[ids == qi][0]
    if metric == "cosine":
        denom = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
        score = _half_up6_np(np.divide(mat @ q, denom, where=denom > 0))
        order = sorted(
            ((float(-s), int(i)) for s, i in zip(score, ids) if i != qi)
        )
    else:  # squared L2, ascending
        d2 = _half_up6_np(((mat - q) ** 2).sum(axis=1))
        order = sorted(
            ((float(s), int(i)) for s, i in zip(d2, ids) if i != qi)
        )
    return [i for _, i in order[:k]]


def recall_table(
    spark,
    sf_dir: str,
    k: int = 10,
    n_queries: int = 20,
    lanes: list[str] | None = None,
) -> list[dict]:
    """Compute the recall@k table; returns a list of result dicts
    (one per lane × n_probe setting). Importable so pytest can pin
    the measured floors. ``lanes`` (prefix match, e.g.
    ``["ivf_pq_trained"]``; a trailing ``$`` matches that one lane,
    e.g. ``["ivf$"]``) restricts to a subset so one new cell doesn't
    cost a full-table rerun; shared index builds are skipped when no
    requested lane needs them."""
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_assign,
        ivf_pq_index,
        ivf_pq_probe,
        ivf_seed_assign,
        ivf_seed_topk,
        pq_distances,
        pq_encode,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n = len(ids)
    qids = [int(ids[(i * n) // n_queries]) for i in range(min(n_queries, n))]

    def want(lane: str) -> bool:
        return lanes is None or any(re.match(p, lane) for p in lanes)

    # --- shared index builds (once, full corpus; only if a requested
    # lane consumes them) -------------------------------------------------
    assigned = seeds = dists = codes_raw = idx = None
    if want("ivf"):
        assigned, seeds = ivf_seed_assign(emb, k=16)
        assigned = assigned.cache()
        assigned.count()
    if want("pq_adc"):
        dists = pq_distances(emb, n_centroids=16, m_sub=8).cache()
        codes_raw = pq_encode(dists).cache()
        codes_raw.count()
    if want("ivf_pq"):
        idx = ivf_pq_index(emb)
        idx["codes"] = idx["codes"].cache()
        idx["cells"] = idx["cells"].cache()
        idx["codes"].count()
    gt_cos = {qi: exact_topk(mat, ids, qi, k, "cosine") for qi in qids}
    gt_l2 = {qi: exact_topk(mat, ids, qi, k, "l2") for qi in qids}

    results = []

    def add(lane: str, metric: str, n_probe, recs: list[float]) -> None:
        results.append(
            {
                "lane": lane,
                "metric": metric,
                "n_probe": n_probe,
                "recall_at_k": round(float(np.mean(recs)), 4),
                "min_query_recall": round(float(np.min(recs)), 4),
                "k": k,
                "n_queries": len(recs),
            }
        )

    if want("brute"):
        add("brute", "cosine", None, [1.0] * len(qids))  # by definition

    def ivf_recall(lane: str, ivf_assigned, ivf_seeds) -> None:
        # probe n cells, exact cosines inside
        for n_probe in (1, 2, 4):
            recs = []
            for qi in qids:
                q = [float(x) for x in mat[ids == qi][0]]
                got = ivf_seed_topk(
                    ivf_assigned, ivf_seeds, q, k=k, n_probe=n_probe,
                    exclude_id=qi,
                ).collect()
                recs.append(
                    len({r["vec_id"] for r in got} & set(gt_cos[qi])) / k
                )
            add(lane, "cosine", n_probe, recs)

    if want("ivf"):
        ivf_recall("ivf", assigned, seeds)
    # the same probe over a TRAINED coarse quantizer (MLlib KMeans)
    if want("ivf_kmeans"):
        km_assigned, centers = ivf_assign(emb, k=16)
        km_assigned = km_assigned.cache()
        ivf_recall("ivf_kmeans", km_assigned, list(enumerate(centers)))
        km_assigned.unpersist()

    # --- PQ-ADC on raw vectors -------------------------------------------
    recs = []
    for qi in qids if want("pq_adc") else []:
        lut = dists.filter(F.col("vec_id") == qi).select(
            F.col("m").alias("_lm"),
            F.col("c").alias("_lc"),
            F.col("d2").alias("qd"),
        )
        got = (
            codes_raw.join(
                F.broadcast(lut),
                (F.col("m") == F.col("_lm")) & (F.col("code") == F.col("_lc")),
            )
            .filter(F.col("vec_id") != qi)
            .groupBy("vec_id")
            .agg(F.sum("qd").alias("s"))
            .orderBy(F.asc("s"), F.asc("vec_id"))
            .limit(k)
            .collect()
        )
        recs.append(len({r["vec_id"] for r in got} & set(gt_l2[qi])) / k)
    if want("pq_adc"):
        add("pq_adc", "l2", None, recs)

    # --- IVF-PQ (residual codes, per-cell LUT) ----------------------------
    for n_probe in (1, 2, 4) if want("ivf_pq") else ():
        recs = []
        for qi in qids:
            q = [float(x) for x in mat[ids == qi][0]]
            got = ivf_pq_probe(
                idx, q, k=k, n_probe=n_probe, exclude_id=qi
            ).collect()
            recs.append(len({r["vec_id"] for r in got} & set(gt_l2[qi])) / k)
        add("ivf_pq", "l2", n_probe, recs)

    # --- IVF-PQ + exact refine (ivf_pq_refine_topk, r11) -------------------
    # re-rank the ADC top-C with exact cosines: recall is measured
    # against the COSINE ground truth (the refine output's own metric)
    # and its ceiling is the IVF lane at the same n_probe — the table
    # shows how much of the PQ quantization loss C=50/100 buys back.
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_refine_topk,
    )

    if want("ivf_pq_refine"):
        if idx is None:
            idx = ivf_pq_index(emb)
            idx["codes"] = idx["codes"].cache()
            idx["cells"] = idx["cells"].cache()
            idx["codes"].count()
        for n_probe in (1, 2, 4):
            for refine_c in (50, 100):
                recs = []
                for qi in qids:
                    q = [float(x) for x in mat[ids == qi][0]]
                    got = ivf_pq_refine_topk(
                        idx,
                        emb,
                        q,
                        k=k,
                        refine=refine_c,
                        n_probe=n_probe,
                        exclude_id=qi,
                    ).collect()
                    recs.append(
                        len({r["vec_id"] for r in got} & set(gt_cos[qi])) / k
                    )
                add(f"ivf_pq_refine_c{refine_c}", "cosine", n_probe, recs)

    # --- trained codebooks (pq_codebook_kmeans, r9) ------------------------
    from commodity_price_forecasting_spark.operators.similarity import (
        pq_codebook_kmeans,
    )

    def pq_adc_recall(lane: str, n_centroids: int) -> None:
        cb_trained = pq_codebook_kmeans(emb, n_centroids=n_centroids, m_sub=8)
        dists_t = pq_distances(
            emb, n_centroids=n_centroids, m_sub=8, codebook=cb_trained
        ).cache()
        codes_t = pq_encode(dists_t).cache()
        codes_t.count()
        recs = []
        for qi in qids:
            lut = dists_t.filter(F.col("vec_id") == qi).select(
                F.col("m").alias("_lm"),
                F.col("c").alias("_lc"),
                F.col("d2").alias("qd"),
            )
            got = (
                codes_t.join(
                    F.broadcast(lut),
                    (F.col("m") == F.col("_lm"))
                    & (F.col("code") == F.col("_lc")),
                )
                .filter(F.col("vec_id") != qi)
                .groupBy("vec_id")
                .agg(F.sum("qd").alias("s"))
                .orderBy(F.asc("s"), F.asc("vec_id"))
                .limit(k)
                .collect()
            )
            recs.append(len({r["vec_id"] for r in got} & set(gt_l2[qi])) / k)
        add(lane, "l2", None, recs)
        dists_t.unpersist()
        codes_t.unpersist()

    if want("pq_adc_trained"):
        pq_adc_recall("pq_adc_trained", 16)
    # the codebook-SIZE dial: 256 trained centroids per subspace =
    # 8-bit codes, the FAISS default — same index shape, 16x the
    # codebook resolution (skipped when the corpus is too small for
    # 256 distinct centroids per subspace)
    if n > 512 and want("pq_adc_trained256"):
        pq_adc_recall("pq_adc_trained256", 256)

    def ivf_pq_trained_recall(
        lane: str,
        n_centroids: int,
        coarse: str = "seed",
        codebook: str = "kmeans",
        normalize: bool = False,
    ) -> None:
        # normalized lanes (r12 ask #4) score against the COSINE ground
        # truth: on unit vectors L2 ranking == cosine ranking, which is
        # the whole point of the flag
        gt = gt_cos if normalize else gt_l2
        idx_t = ivf_pq_index(
            emb,
            codebook=codebook,
            n_centroids=n_centroids,
            coarse=coarse,
            normalize=normalize,
        )
        idx_t["codes"] = idx_t["codes"].cache()
        idx_t["cells"] = idx_t["cells"].cache()
        idx_t["codes"].count()
        for n_probe in (1, 2, 4):
            recs = []
            for qi in qids:
                q = [float(x) for x in mat[ids == qi][0]]
                got = ivf_pq_probe(
                    idx_t, q, k=k, n_probe=n_probe, exclude_id=qi
                ).collect()
                recs.append(
                    len({r["vec_id"] for r in got} & set(gt[qi])) / k
                )
            add(lane, "cosine" if normalize else "l2", n_probe, recs)
        idx_t["codes"].unpersist()
        idx_t["cells"].unpersist()
        idx_t["res"].unpersist()

    if want("ivf_pq_trained"):
        ivf_pq_trained_recall("ivf_pq_trained", 16)
    # refine stacked on a trained-coarse, 256-entry-codebook index
    # over L2-normalized vectors, so the ADC candidates are ranked by
    # the metric refine re-ranks with (r12 ask #4).
    def _refine_on(
        lane: str, n_probes: tuple = (2, 4), k_coarse: int = 16
    ) -> None:
        from commodity_price_forecasting_spark.operators.similarity import (
            ivf_pq_refine_topk,
        )

        idx_r = ivf_pq_index(
            emb, codebook="kmeans", n_centroids=256, coarse="kmeans",
            normalize=True, k_coarse=k_coarse,
        )
        idx_r["codes"] = idx_r["codes"].cache()
        idx_r["cells"] = idx_r["cells"].cache()
        idx_r["codes"].count()
        for n_probe in n_probes:
            for refine_c in (100,):
                recs = []
                for qi in qids:
                    q = [float(x) for x in mat[ids == qi][0]]
                    got = ivf_pq_refine_topk(
                        idx_r, emb, q, k=k, refine=refine_c,
                        n_probe=n_probe, exclude_id=qi,
                    ).collect()
                    recs.append(
                        len({r["vec_id"] for r in got} & set(gt_cos[qi])) / k
                    )
                add(f"{lane}_c{refine_c}", "cosine", n_probe, recs)
        idx_r["codes"].unpersist()
        idx_r["cells"].unpersist()
        idx_r["res"].unpersist()

    if n > 512 and want("ivf_pq_full256_norm_refine"):
        _refine_on("ivf_pq_full256_norm_refine")
    # r14 (r13 VERDICT ask #5): the n_probe RECALL CURVE for the
    # cosine deployment lane on routing-limited geometry. Cell probing
    # is already soft multi-probe in the standard sense — cells are
    # ranked by query-to-centroid similarity and the best n_probe are
    # scanned — so n_probe IS the multi-probe budget; the question is
    # where the knee sits. Two quantizer widths: the deployment's
    # k_coarse=16 (n_probe=16 == whole index == the IVF-exact ceiling)
    # and k_coarse=64 (one cell per true cluster on the clustered
    # fixture, n_probe up to 32 = half the index).
    if n > 512 and want("ivf_pq_norm_refine_knee16"):
        _refine_on("ivf_pq_norm_refine_knee16", n_probes=(4, 8, 12, 16))
    if n > 512 and want("ivf_pq_norm_refine_knee64"):
        _refine_on(
            "ivf_pq_norm_refine_knee64", k_coarse=64, n_probes=(4, 8, 16, 32)
        )
    # ADC-only normalized twins: the flag's lift without refine
    if n > 512 and want("ivf_pq_full256_norm"):
        ivf_pq_trained_recall(
            "ivf_pq_full256_norm", 256, coarse="kmeans", normalize=True
        )
    # the deployment cell: 256-entry trained RESIDUAL codebooks (8-bit
    # codes, the FAISS default) — the pq_adc_trained256 dial applied
    # to the IVF-PQ index
    if n > 512 and want("ivf_pq_trained256"):
        ivf_pq_trained_recall("ivf_pq_trained256", 256)
    # the COMPLETE FAISS shape: trained coarse quantizer (residuals
    # shrink to within-cluster noise) + trained 256-entry residual
    # codebooks — the cell that shows WHERE the training matters
    # (SCALE.md r9 v3: coarse, not codebook)
    if n > 512 and want("ivf_pq_full256"):
        ivf_pq_trained_recall("ivf_pq_full256", 256, coarse="kmeans")

    for frame in (assigned, dists, codes_raw):
        if frame is not None:
            frame.unpersist()
    if idx is not None:
        idx["res"].unpersist()
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-queries", type=int, default=20)
    ap.add_argument("--driver-mem", default="24g")
    ap.add_argument(
        "--lanes",
        default=None,
        help="comma-separated lane-name prefixes to run, a trailing $ "
        "for one exact lane (default all)",
    )
    args = ap.parse_args()

    from commodity_price_forecasting_spark.session import get_spark

    spark = get_spark(
        app_name="cpf-ann-recall",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
        extra_conf={"spark.driver.memory": args.driver_mem},
    )
    for row in recall_table(
        spark,
        args.sf_dir,
        k=args.k,
        n_queries=args.n_queries,
        lanes=args.lanes.split(",") if args.lanes else None,
    ):
        print(json.dumps({"sf_dir": args.sf_dir, **row}))
    spark.stop()


if __name__ == "__main__":
    main()
