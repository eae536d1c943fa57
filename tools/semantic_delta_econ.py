#!/usr/bin/env python
"""Semantic-delta economics — the SemDeDup row of the incremental-
dedup cost story (sibling of ``tools/dedup_delta_econ.py``): a
growing embedding corpus can either re-run full SemDeDup over
survivors ∪ delta every ingest, or keep the persisted cell store
(``operators/semantic_store``) and dedup only the delta against it.

Per cell: wall seconds for the store build (amortized one-off), the
delta run (recurring), a frozen-seed re-run over survivors ∪ delta
(the cheap competitor — note it STILL needs the store: the frozen
seeds and the survivor set are store artifacts), and the TRUE
storeless competitor — full SemDeDup with fresh seeds over the whole
grown corpus (what a pipeline without any persisted state pays every
ingest). The verdict-vs-rerun equality check RESTRICTED to
non-inversion vectors (the operator's documented contract) runs
inline so a fast-but-wrong cell cannot enter SCALE.md.

Usage:
  python tools/semantic_delta_econ.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    ap.add_argument("--driver-mem", default="24g")
    ap.add_argument("--k", type=int, default=16)
    ap.add_argument(
        "--assign",
        choices=("fold", "blas"),
        default="fold",
        help="assignment lane for BOTH the delta and the rerun "
        "competitor (fair fight): fold for small k (the oracle lane), "
        "blas for production k — at k=232 the fold lane spends ~24 s "
        "building/compiling the seed-literal plan per run",
    )
    args = ap.parse_args()

    from commodity_price_forecasting_spark.operators.semantic_store import (
        semantic_dedup_delta,
        semantic_store_build,
        semantic_store_load,
    )
    from commodity_price_forecasting_spark.operators.similarity import (
        _assigner,
        _drops_from_assigned,
    )

    assigner = _assigner(args.assign)
    from commodity_price_forecasting_spark.session import get_spark

    spark = get_spark(
        app_name="semantic-delta-econ",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf={"spark.driver.memory": args.driver_mem},
    )
    emb = spark.read.parquet(
        os.path.join(args.sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    max_id = emb.agg(F.max("vec_id")).first()[0]

    results = []
    for label, frac_old in (("10pct_delta", 10), ("100pct_delta", 2)):
        cut = (max_id * (frac_old - 1)) // frac_old
        old = emb.filter(F.col("vec_id") < cut)
        delta = emb.filter(F.col("vec_id") >= cut)
        n_old, n_delta = old.count(), delta.count()
        work = tempfile.mkdtemp(prefix="sem_econ_")
        try:
            t0 = time.perf_counter()
            semantic_store_build(
                old, os.path.join(work, "store"), k=args.k, assign=args.assign
            )
            t_store = time.perf_counter() - t0

            t0 = time.perf_counter()
            res = semantic_dedup_delta(
                spark,
                os.path.join(work, "store"),
                delta,
                append=True,
                assign=args.assign,
            )
            verdicts = {
                r["vec_id"]: (r["status"], r["dup_of"])
                for r in res["verdicts"].collect()
            }
            t_delta = time.perf_counter() - t0
            inverted = {r["delta_vec_id"] for r in res["inversions"].collect()}

            # storeless competitor: frozen-seed full re-run over
            # survivors ∪ delta (seeds re-derived from the old slice —
            # the same derivation the store froze)
            store = semantic_store_load(spark, os.path.join(work, "store"))
            kept_ids = store["cells"].select("vec_id").filter(
                F.col("vec_id") < cut
            )
            ref_corpus = old.join(kept_ids, "vec_id").unionByName(delta)
            t0 = time.perf_counter()
            assigned = assigner(ref_corpus, store["seeds"])
            rerun = {
                r["vec_id"]: r["first_keeper"]
                for r in _drops_from_assigned(assigned, 0.3, "vec_id").collect()
                if r["vec_id"] >= cut
            }
            t_rerun = time.perf_counter() - t0

            # TRUE storeless competitor: full SemDeDup over old ∪
            # delta with FRESH seeds from the grown corpus — no
            # persisted state at all
            from commodity_price_forecasting_spark.operators.similarity import (
                semantic_dedup_drops,
            )

            t0 = time.perf_counter()
            semantic_dedup_drops(
                emb.filter(F.col("vec_id") <= max_id),
                k=args.k,
                assign=args.assign,
            ).count()
            t_storeless = time.perf_counter() - t0

            delta_drops = {
                v: d for v, (s, d) in verdicts.items() if s == "semantic_dup"
            }
            ok = set(rerun) <= set(delta_drops) and (
                set(delta_drops) - set(rerun) <= inverted
            ) and all(
                delta_drops[v] == k for v, k in rerun.items() if v not in inverted
            )
            results.append(
                {
                    "cell": label,
                    "n_old": n_old,
                    "n_delta": n_delta,
                    "store_build_s": round(t_store, 3),
                    "delta_s": round(t_delta, 3),
                    "frozen_rerun_s": round(t_rerun, 3),
                    "storeless_full_s": round(t_storeless, 3),
                    "speedup_vs_frozen_rerun": round(t_rerun / t_delta, 2),
                    "speedup_vs_storeless": round(t_storeless / t_delta, 2),
                    "verdicts_match_contract": ok,
                    "n_inversions": len(inverted),
                    "n_dropped": len(delta_drops),
                }
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(results, indent=2))
    if not all(r["verdicts_match_contract"] for r in results):
        sys.exit(1)


if __name__ == "__main__":
    main()
