"""Streaming semantic ingest (streaming/semantic_stream, r12): the
third dedup tier on the stream — stream verdicts must equal batch
``semantic_dedup_delta`` against a snapshot store, kept vectors
append, and redelivery is self-healing (a replayed vector is its own
stored cell-mate at cosine 1.0, so it re-verdicts as a dup and
appends nothing)."""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.semantic_store import (
    semantic_dedup_delta,
    semantic_store_build,
    semantic_store_load,
)
from commodity_price_forecasting_spark.sources.readers import load_table
from commodity_price_forecasting_spark.streaming.semantic_stream import (
    run_semantic_ingest_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def _stage_delta_fixture(spark, tmp_dir, emb_df, name="embeddings.parquet"):
    """One embeddings parquet FILE (the fixture layout the stream's
    pathGlobFilter expects; ``name`` varies for multi-drain feeds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = emb_df.collect()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r["vec_id"] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in r["embedding"]] for r in rows],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        ),
        os.path.join(tmp_dir, name),
    )


def test_semantic_stream_matches_batch_and_appends_kept(
    spark, tmp_path_factory
):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    store = str(tmp_path_factory.mktemp("sem_stream") / "store")
    semantic_store_build(emb.filter(F.col("vec_id") < 400), store, k=16)
    ref_store = store + "_ref"
    shutil.copytree(store, ref_store)

    delta = emb.filter(F.col("vec_id") >= 400)
    delta_dir = str(tmp_path_factory.mktemp("sem_fixture"))
    _stage_delta_fixture(spark, delta_dir, delta)

    run_semantic_ingest_stream(
        spark, delta_dir, store, str(tmp_path_factory.mktemp("sem_ck1"))
    )

    ledger_root = os.path.join(store, "ingest_verdicts")
    got = {
        (r["vec_id"], r["status"], r["dup_of"], r["cell"])
        for r in spark.read.parquet(ledger_root).collect()
    }
    want_res = semantic_dedup_delta(spark, ref_store, delta, assign="blas")
    want = {
        (r["vec_id"], r["status"], r["dup_of"], r["cell"])
        for r in want_res["verdicts"].collect()
    }
    assert got == want and len(got) == delta.count()

    # kept vectors landed in the cells; store now equals the batch ref
    got_cells = sorted(
        (r["vec_id"], r["cell"])
        for r in semantic_store_load(spark, store)["cells"].collect()
    )
    want_cells = sorted(
        (r["vec_id"], r["cell"])
        for r in semantic_store_load(spark, ref_store)["cells"].collect()
    )
    assert got_cells == want_cells

    # replay with a FRESH checkpoint (new tokens, so the commit-marker
    # skip does not apply): self-domination must append nothing
    n_before = semantic_store_load(spark, store)["cells"].count()
    run_semantic_ingest_stream(
        spark, delta_dir, store, str(tmp_path_factory.mktemp("sem_ck2"))
    )
    assert semantic_store_load(spark, store)["cells"].count() == n_before


def test_semantic_stream_committed_batch_skips(spark, tmp_path_factory):
    """Same checkpoint identity ⇒ same commit token ⇒ the marker short-
    circuits before any Spark work (the curation gate's device)."""
    rng = np.random.default_rng(3)
    base = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=16)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path_factory.mktemp("sem_skip") / "store")
    semantic_store_build(base, store, k=4)
    delta = spark.createDataFrame(
        [(100 + int(i), [float(x) for x in rng.normal(size=16)]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    delta_dir = str(tmp_path_factory.mktemp("sem_skip_fix"))
    _stage_delta_fixture(spark, delta_dir, delta)
    ck = str(tmp_path_factory.mktemp("sem_skip_ck"))
    run_semantic_ingest_stream(spark, delta_dir, store, ck)
    commits = os.listdir(os.path.join(store, "commits"))
    assert len(commits) >= 1
    n1 = semantic_store_load(spark, store)["cells"].count()
    # second run, SAME checkpoint: availableNow finds no new files, so
    # no batch fires; and even a manually replayed committed token is
    # skipped by the marker — assert via direct _ingest_batch call
    from commodity_price_forecasting_spark.streaming.semantic_stream import (
        _ingest_batch,
    )

    _ingest_batch(delta, store, commits[0])
    assert semantic_store_load(spark, store)["cells"].count() == n1


def test_ingest_batch_crash_replay_preserves_ledger_and_store(
    spark, tmp_path_factory
):
    """The r12 self-review finding: a crash AFTER the kept-append but
    BEFORE the commit marker must not let the replay overwrite the
    ledger with cosine-1.0 self-dup verdicts or double-append cells —
    ledger-first ordering + the anti-join append make the replay
    converge to the identical ledger and store."""
    from commodity_price_forecasting_spark.streaming.semantic_stream import (
        _ingest_batch,
    )

    rng = np.random.default_rng(9)
    base = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=16)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path_factory.mktemp("sem_crash") / "store")
    semantic_store_build(base, store, k=4)
    delta = spark.createDataFrame(
        [(100 + int(i), [float(x) for x in rng.normal(size=16)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )

    _ingest_batch(delta, store, "t0")
    ledger_dir = os.path.join(store, "ingest_verdicts", "ingest_batch=t0")
    l0 = sorted(
        (r["vec_id"], r["status"], r["dup_of"])
        for r in spark.read.parquet(ledger_dir).collect()
    )
    c0 = sorted(
        r["vec_id"] for r in semantic_store_load(spark, store)["cells"].collect()
    )
    assert any(s == "kept" for _, s, _ in l0)  # the append actually ran

    # simulate the crash window: marker lost, everything else landed
    os.remove(os.path.join(store, "commits", "t0"))
    _ingest_batch(delta, store, "t0")
    l1 = sorted(
        (r["vec_id"], r["status"], r["dup_of"])
        for r in spark.read.parquet(ledger_dir).collect()
    )
    c1 = sorted(
        r["vec_id"] for r in semantic_store_load(spark, store)["cells"].collect()
    )
    assert l1 == l0  # NOT rewritten as self-dups
    assert c1 == c0  # no double-append
    assert os.path.exists(os.path.join(store, "commits", "t0"))


def test_semantic_stream_auto_maintain_compacts_after_drain(
    spark, tmp_path_factory
):
    """r12 VERDICT "what's missing" #4, semantic side: after the
    drain the hook runs semantic_store_health and compacts when
    recommended — cell content (and therefore every future delta
    verdict input) unchanged, file count not higher than before."""
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        _file_stats,
    )

    rng = np.random.default_rng(31)
    base = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=16)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path_factory.mktemp("sem_am") / "store")
    semantic_store_build(base, store, k=4)
    feed = str(tmp_path_factory.mktemp("sem_am_feed"))
    ck = str(tmp_path_factory.mktemp("sem_am_ck"))
    rep = None
    for i in range(3):
        delta = spark.createDataFrame(
            [
                (1000 * (i + 1) + int(j), [float(x) for x in rng.normal(size=16)])
                for j in range(8)
            ],
            "vec_id long, embedding array<float>",
        )
        _stage_delta_fixture(spark, feed, delta, name=f"emb-{i}.parquet")
        before = _file_stats(os.path.join(store, "cells"))["n_files"]
        rep = run_semantic_ingest_stream(
            spark, feed, store, ck, feed_glob="*.parquet", auto_maintain=True
        )
        assert rep is not None and "semantic_health" in rep
        if "semantic_compact" in rep:
            assert (
                _file_stats(os.path.join(store, "cells"))["n_files"] <= before
            )
    # content sanity: every kept vector is in the cells exactly once
    cells = semantic_store_load(spark, store)["cells"]
    assert cells.count() == cells.select("vec_id").distinct().count()


def test_ingest_batch_partial_ledger_recomputes(spark, tmp_path_factory):
    """r13 (r12 VERDICT "what's wrong" #2 / ADVICE low): a crash DURING
    the ledger write can leave the directory with a readable SUBSET of
    part-files and no _SUCCESS. The replay must NOT adopt that fragment
    as the source of truth (vectors missing from it would get no verdict
    and no append, silently, forever) — it must fall through to fresh
    compute, whose overwrite replaces the fragment, converging to the
    same ledger and store a clean run produces."""
    from commodity_price_forecasting_spark.streaming.semantic_stream import (
        _ingest_batch,
    )

    rng = np.random.default_rng(21)
    base = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=16)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path_factory.mktemp("sem_partial") / "store")
    semantic_store_build(base, store, k=4)
    ref_store = store + "_ref"
    shutil.copytree(store, ref_store)
    delta = spark.createDataFrame(
        [(100 + int(i), [float(x) for x in rng.normal(size=16)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )

    # forge the crashed-ledger-write state: a directory holding a
    # PARTIAL verdict set (one row of what would be six) and no
    # _SUCCESS — exactly what a kill mid-job-commit leaves behind
    ledger_dir = os.path.join(store, "ingest_verdicts", "ingest_batch=t0")
    partial = delta.limit(1).select(
        "vec_id",
        F.lit("kept").alias("status"),
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(0).cast("long").alias("cell"),
        F.lit(1.0).alias("cos"),
    )
    partial.write.parquet(ledger_dir)
    os.remove(os.path.join(ledger_dir, "_SUCCESS"))
    assert not os.path.exists(os.path.join(ledger_dir, "_SUCCESS"))

    _ingest_batch(delta, store, "t0")

    # the fragment was replaced by the full fresh-compute verdict set,
    # equal to the batch operator's against an untouched ref store
    got = sorted(
        (r["vec_id"], r["status"], r["dup_of"])
        for r in spark.read.parquet(ledger_dir).collect()
    )
    want_res = semantic_dedup_delta(
        spark, ref_store, delta, assign="blas", append=False
    )
    want = sorted(
        (r["vec_id"], r["status"], r["dup_of"])
        for r in want_res["verdicts"].collect()
    )
    assert got == want and len(got) == 6
    assert os.path.exists(os.path.join(ledger_dir, "_SUCCESS"))
    assert os.path.exists(os.path.join(store, "commits", "t0"))
