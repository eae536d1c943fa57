"""Incremental SEMANTIC deduplication against a persisted cell store
— the embedding-tier sibling of ``operators/dedup_store`` (exact +
MinHash tiers, r11) and ``ivf_pq_index_append`` (ANN tier, r10),
completing the growing-corpus lifecycle across all three dedup
families: a daily delta can now be deduped exactly, near-exactly, AND
semantically without rescanning the corpus.

- ``semantic_store_build(embs, path)`` — one full SemDeDup run
  (frozen md5-ordered seeds → cell assignment → within-cell
  domination drops, ``operators/similarity.semantic_dedup_drops``
  semantics), persisting the KEPT vectors cell-partitioned with their
  centroid cosines, plus the seed matrix and parameters. Store size
  is O(kept vectors) — the survivors ARE the semantic index.

- ``semantic_dedup_delta(spark, path, new_embs)`` — assign ONLY the
  delta through the frozen seeds, compare exact cosines against
  stored cell-mates (store scanned once, delta broadcast) and against
  preceding delta cell-mates, and return a verdict per delta vector:
  ``kept`` / ``semantic_dup`` with ``dup_of`` = the first dominator.
  Kept vectors append into the store's cell partitions.

Equality contract (pinned in tests/test_semantic_store.py): the base
operator drops a vector iff some cell-mate with pair-cosine ≥
threshold PRECEDES it under (cent_cos ASC, id ASC). The store's
survivors are immutable keeps, so the delta lane treats every stored
cell-mate as preceding every delta vector; delta-vs-delta pairs use
the ordinary (cent_cos, id) rule. A full re-run over store ∪ delta
therefore decides IDENTICALLY unless an INVERSION exists — a delta
vector that both dominates (cos ≥ threshold) and precedes
(cent_cos, id) a stored survivor, in which case the re-run would drop
the STORED vector instead. Inversions are detected and returned, not
silently absorbed — the same design as ``dedup_store``'s bridges and
the ANN append's recall-drift table: rebuild when the inverted mass
matters, on a measurement rather than a guess.

Scale shape: seed assignment is a map-side pass through the lane the
store build and the delta lane name (``similarity._assigner``:
``"fold"``, the bit-reproducible oracle lane, for small k; ``"blas"``
above — at k=232 the fold lane spends ~24 s compiling its
seed-literal plan; the rerun lane always runs fold);
the store-vs-delta stage scans each touched cell partition once
against the broadcast delta (candidates bounded by Σ|touched cell| —
never all-pairs, never corpus×delta); the delta-vs-delta stage is
the base operator's one-shuffle pair join on a delta-sized frame.
The append touches only the delta's cells.

Operating rule (measured, SCALE.md r11): the STORE is the win — vs a
storeless full SemDeDup (fresh seeds over the grown corpus) the
store-backed paths are ~28-39x cheaper at the 10%-ingest shape,
because seeds and survivors persist. Between the two store-backed
paths, the FROZEN-SEED RERUN over survivors ∪ delta (assign + base
drop stage — also enabled by this store) measured cheaper than this
delta lane at every fixture scale (≤60k vectors: both are
assignment/fixed-cost bound; the delta lane's advantage lives in the
intra-cell pair term, n·Δ/k vs n²/k, which dominates only around
10^5-10^6 survivors). Use the rerun until the pair stage owns the
wall or per-delta provenance (dup_of / inversions) is the product.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.similarity import (
    _assigner,
    _dot,
    _drops_from_assigned,
    _norm,
    _semdedup_seeds,
    assign_cells_fold,
)


def _write_meta(spark, path, k, threshold, dim):
    spark.createDataFrame(
        [(int(k), float(threshold), int(dim))],
        "k int, threshold double, dim int",
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def semantic_store_build(
    embs: DataFrame,
    path: str,
    k: int = 16,
    threshold: float = 0.3,
    assign: str = "fold",
) -> dict:
    """Full SemDeDup + store persistence. Returns
    ``{"n_vectors", "n_kept"}``."""
    spark = embs.sparkSession
    seeds = _semdedup_seeds(embs, k)
    assigned = _assigner(assign)(embs, seeds)
    drops = _drops_from_assigned(
        assigned, threshold, "vec_id", dim=len(seeds[0][1]) if seeds else None
    )
    kept = assigned.join(
        drops.select(F.col("vec_id").alias("_vid")), "_vid", "left_anti"
    ).select(
        F.col("_vid").alias("vec_id"),
        F.col("_emb").alias("embedding"),
        F.col("_cent").alias("cent_cos"),
        "cell",
    )
    kept.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "cells")
    )
    spark.createDataFrame(
        [(int(s), [float(x) for x in v]) for s, v in seeds],
        "cell long, svec array<double>",
    ).write.mode("overwrite").parquet(os.path.join(path, "seeds"))
    n_vectors = embs.count()
    n_kept = spark.read.parquet(os.path.join(path, "cells")).count()
    dim = len(seeds[0][1]) if seeds else 0
    _write_meta(spark, path, len(seeds), threshold, dim)
    return {"n_vectors": int(n_vectors), "n_kept": int(n_kept)}


def semantic_store_load(spark, path: str) -> dict:
    meta = spark.read.parquet(os.path.join(path, "meta")).first().asDict()
    seeds_rows = spark.read.parquet(os.path.join(path, "seeds")).collect()
    return {
        "cells": spark.read.parquet(os.path.join(path, "cells")),
        "seeds": sorted(
            (int(r["cell"]), [float(x) for x in r["svec"]]) for r in seeds_rows
        ),
        "meta": meta,
    }


def semantic_dedup_delta(
    spark,
    path: str,
    new_embs: DataFrame,
    append: bool = True,
    assign: str = "fold",
) -> dict:
    """Semantic-dedup ONLY the delta against the persisted store.
    Returns ``{"verdicts": DataFrame(vec_id, status, dup_of, cell,
    cent_cos), "inversions": DataFrame(store_vec_id, delta_vec_id,
    cell), "n_appended": int}`` — see the module docstring for the
    equality/inversion contract."""
    store = semantic_store_load(spark, path)
    threshold = float(store["meta"]["threshold"])
    dim = int(store["meta"]["dim"])

    n_delta = new_embs.count()
    if n_delta == 0:
        return {
            "verdicts": spark.createDataFrame(
                [],
                "vec_id long, status string, dup_of long, cell long, "
                "cent_cos double",
            ),
            "inversions": spark.createDataFrame(
                [], "store_vec_id long, delta_vec_id long, cell long"
            ),
            "n_appended": 0,
        }
    sizes = new_embs.agg(
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
    ).first()
    if sizes["lo"] != dim or sizes["hi"] != dim:
        raise ValueError(
            f"semantic_dedup_delta: delta dims [{sizes['lo']}, {sizes['hi']}] "
            f"!= store dim {dim} — a wrong-dim vector would mis-assign "
            "silently via zip_with null-padding (re-embed or rebuild)"
        )

    # eager cut: everything below must not re-read store paths after
    # the append writes into them (the dedup_store lesson)
    d_assigned = _assigner(assign)(new_embs, store["seeds"]).localCheckpoint(
        eager=True
    )

    # --- store-vs-delta: store scanned once, delta broadcast ---------
    # Unrolled codegen dot + per-ROW hoisted norms when the store dim
    # allows it (r16, guide §1.2): the fold form re-folded both norms
    # per PAIR through interpreted higher-order functions; the hoisted
    # norm is the same expression over the same row and the unrolled
    # dot keeps the fold's exact accumulation order, so every rounded
    # pair cosine is unchanged (see similarity._UNROLL_MAX_DIM).
    from commodity_price_forecasting_spark.operators.similarity import (
        _UNROLL_MAX_DIM,
        _dot_cols_sql,
        _norm_sql,
    )

    store_side = store["cells"].select(
        F.col("vec_id").alias("_svid"),
        F.col("embedding").alias("_semb"),
        F.col("cent_cos").alias("_scent"),
        "cell",
    )
    delta_side = d_assigned
    if dim <= _UNROLL_MAX_DIM:
        store_side = store_side.withColumn(
            "_snrm", F.expr(_norm_sql("_semb", dim))
        )
        delta_side = delta_side.withColumn(
            "_dnrm", F.expr(_norm_sql("_emb", dim))
        )
        pair_cos = F.round(
            F.expr(_dot_cols_sql("_semb", "_emb", dim))
            / (F.col("_snrm") * F.col("_dnrm")),
            6,
        )
    else:
        pair_cos = F.round(
            _dot(F.col("_semb"), F.col("_emb"))
            / (_norm(F.col("_semb")) * _norm(F.col("_emb"))),
            6,
        )
    hits = (
        store_side
        .join(F.broadcast(delta_side), "cell")
        .filter(pair_cos >= threshold)
        .select("_svid", "_scent", "cell", "_vid", "_cent")
        .localCheckpoint(eager=True)
    )
    dom_store = hits.groupBy("_vid").agg(
        F.min("_svid").alias("_store_keeper")
    )
    # inversions: a full re-run would order this delta vector BEFORE
    # the stored survivor it dominates — the store-immutability
    # divergence, surfaced as the rebuild trigger
    delta_precedes = (F.col("_cent") < F.col("_scent")) | (
        (F.col("_cent") == F.col("_scent")) & (F.col("_vid") < F.col("_svid"))
    )
    inversions = hits.filter(delta_precedes).select(
        F.col("_svid").alias("store_vec_id"),
        F.col("_vid").alias("delta_vec_id"),
        "cell",
    )

    # --- delta-vs-delta: the base pair/drop stage on the delta only --
    dd = _drops_from_assigned(d_assigned, threshold, "vec_id", dim=dim).select(
        F.col("vec_id").alias("_vid"), F.col("first_keeper").alias("_dd_keeper")
    )

    verdicts = (
        d_assigned.join(dom_store, "_vid", "left")
        .join(dd, "_vid", "left")
        .select(
            F.col("_vid").alias("vec_id"),
            F.when(
                F.col("_store_keeper").isNotNull() | F.col("_dd_keeper").isNotNull(),
                F.lit("semantic_dup"),
            )
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.least("_store_keeper", "_dd_keeper").alias("dup_of"),
            "cell",
            F.col("_cent").alias("cent_cos"),
        )
        .localCheckpoint(eager=True)
    )

    n_appended = 0
    if append:
        # single-writer contract (r13 VERDICT ask #2): the cell append
        # must not race a semantic_store_compact/_rebuild swap from
        # another process
        from commodity_price_forecasting_spark.operators.store_maintenance import (
            store_write_lock,
        )

        kept = d_assigned.join(
            verdicts.filter(F.col("status") == "kept").select(
                F.col("vec_id").alias("_vid")
            ),
            "_vid",
        ).select(
            F.col("_vid").alias("vec_id"),
            F.col("_emb").alias("embedding"),
            F.col("_cent").alias("cent_cos"),
            "cell",
        )
        with store_write_lock(path, "semantic_delta:append"):
            kept.write.mode("append").partitionBy("cell").parquet(
                os.path.join(path, "cells")
            )
            n_appended = kept.count()
        # persist the inversion tally for store_maintenance's health
        # report (r11 VERDICT ask #2) — the rebuild trigger as a
        # readable ledger, not a per-run return value the caller must
        # keep. Clean-path cost: ONE small count job over the
        # checkpointed hits frame; checkpoint+write only on a hit
        if inversions.count() > 0:
            inversions = inversions.localCheckpoint(eager=True)
            with store_write_lock(path, "semantic_delta:inversions"):
                inversions.write.mode("append").parquet(
                    os.path.join(path, "inversions")
                )

    return {
        "verdicts": verdicts,
        "inversions": inversions,
        "n_appended": n_appended,
    }


def semantic_rerun_ingest(
    spark,
    path: str,
    new_embs: DataFrame,
    append: bool = True,
) -> dict:
    """The OPERATING-RULE ingest lane (SCALE.md r11): a frozen-seed
    full re-run over store survivors ∪ delta, returning per-delta
    verdicts under the base operator's GLOBAL (cent_cos ASC, id ASC)
    domination order. Cheaper than ``semantic_dedup_delta`` below the
    pair-bound regime (~1e5-1e6 survivors) — and the store is still
    load-bearing: the survivors' cells/centroids are READ from it
    (never re-assigned) and the frozen seeds only assign the delta.

    Verdict semantics vs the delta lane: identical except on
    inversion pairs — here a stored survivor that FOLLOWS a delta
    vector in the global order does NOT dominate it (full-re-run
    semantics); store immutability still applies either way (a
    dominated stored survivor stays — the caveat both lanes share).

    Returns ``{"verdicts": DataFrame(vec_id, status, dup_of, cell,
    cent_cos), "n_appended": int}``."""
    store = semantic_store_load(spark, path)
    threshold = float(store["meta"]["threshold"])
    dim = int(store["meta"]["dim"])

    n_delta = new_embs.count()
    if n_delta == 0:
        return {
            "verdicts": spark.createDataFrame(
                [],
                "vec_id long, status string, dup_of long, cell long, "
                "cent_cos double",
            ),
            "n_appended": 0,
        }
    sizes = new_embs.agg(
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
    ).first()
    if sizes["lo"] != dim or sizes["hi"] != dim:
        raise ValueError(
            f"semantic_rerun_ingest: delta dims [{sizes['lo']}, "
            f"{sizes['hi']}] != store dim {dim}"
        )

    d_assigned = assign_cells_fold(new_embs, store["seeds"]).localCheckpoint(
        eager=True
    )
    survivors = store["cells"].select(
        F.col("vec_id").alias("_vid"),
        F.col("embedding").alias("_emb"),
        "cell",
        F.col("cent_cos").alias("_cent"),
    )
    # eager cut: the pair stage reads this union twice AND the append
    # below writes under the very path `survivors` scans
    ref = survivors.unionByName(d_assigned).localCheckpoint(eager=True)
    delta_ids = d_assigned.select(F.col("_vid").alias("vec_id"))
    drops = (
        _drops_from_assigned(ref, threshold, "vec_id", dim=dim)
        .join(delta_ids, "vec_id")
        .select(F.col("vec_id").alias("_vid"), "first_keeper")
    )
    verdicts = (
        d_assigned.join(drops, "_vid", "left")
        .select(
            F.col("_vid").alias("vec_id"),
            F.when(F.col("first_keeper").isNotNull(), F.lit("semantic_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.col("first_keeper").alias("dup_of"),
            "cell",
            F.col("_cent").alias("cent_cos"),
        )
        .localCheckpoint(eager=True)
    )
    n_appended = 0
    if append:
        # single-writer contract (r13 VERDICT ask #2): the cell append
        # must not race a semantic_store_compact/_rebuild swap from
        # another process
        from commodity_price_forecasting_spark.operators.store_maintenance import (
            store_write_lock,
        )

        kept = d_assigned.join(
            verdicts.filter(F.col("status") == "kept").select(
                F.col("vec_id").alias("_vid")
            ),
            "_vid",
        ).select(
            F.col("_vid").alias("vec_id"),
            F.col("_emb").alias("embedding"),
            F.col("_cent").alias("cent_cos"),
            "cell",
        )
        with store_write_lock(path, "semantic_delta:append"):
            kept.write.mode("append").partitionBy("cell").parquet(
                os.path.join(path, "cells")
            )
            n_appended = kept.count()
    return {"verdicts": verdicts, "n_appended": n_appended}
