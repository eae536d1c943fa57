"""Store compaction + health (operators/store_maintenance, r11
VERDICT ask #2): compaction must be a NO-OP for content and for every
future delta verdict while collapsing the per-append small files; the
health report must mechanize the documented rebuild triggers
(bridges, inversions, cell skew) from the persisted ledgers."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.dedup_store import (
    dedup_delta,
    dedup_store_build,
    dedup_store_load,
)
from commodity_price_forecasting_spark.operators.semantic_store import (
    semantic_dedup_delta,
    semantic_store_build,
    semantic_store_load,
)
from commodity_price_forecasting_spark.operators.store_maintenance import (
    curation_store_compact,
    dedup_store_compact,
    dedup_store_health,
    semantic_store_compact,
    semantic_store_health,
)
from commodity_price_forecasting_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def _emb_df(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def _verdict_set(res):
    return {
        (r["doc_id"], r["status"], r["dup_of"])
        for r in res["verdicts"].collect()
    }


def _rows_multiset(df):
    return sorted(tuple(r) for r in df.collect())


def test_dedup_compaction_noop_for_content_and_verdicts(spark, tmp_path):
    """Build + two delta appends (small-file accumulation), then
    compact: every artifact's content is unchanged as a multiset, a
    fresh delta's verdicts are identical before/after, and the file
    count strictly drops."""
    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "store")
    dedup_store_build(docs.filter(F.col("doc_id") < 300), path)
    dedup_delta(
        spark, path, docs.filter(F.col("doc_id").between(300, 349))
    )
    dedup_delta(
        spark, path, docs.filter(F.col("doc_id").between(350, 399))
    )

    probe = docs.filter(F.col("doc_id") >= 400)
    before_v = _verdict_set(dedup_delta(spark, path, probe, append=False))
    before_store = {
        name: _rows_multiset(
            spark.read.parquet(os.path.join(path, name))
        )
        for name in ("fingerprints", "signatures", "bands")
    }
    h0 = dedup_store_health(spark, path)
    assert h0["artifacts"]["fingerprints"]["n_files"] >= 3  # build + 2 appends
    # per-append small files: health must tell the operator to compact
    assert "fingerprints" in h0["compact_recommended"]

    rep = dedup_store_compact(spark, path)
    assert not rep["fingerprints"]["skipped"]
    assert rep["fingerprints"]["files_after"] < rep["fingerprints"]["files_before"]

    for name, want in before_store.items():
        got = _rows_multiset(spark.read.parquet(os.path.join(path, name)))
        assert got == want, f"{name} content changed under compaction"
    after_v = _verdict_set(dedup_delta(spark, path, probe, append=False))
    assert after_v == before_v and len(after_v) > 0

    # idempotent: a second compaction is a recognized no-op
    rep2 = dedup_store_compact(spark, path)
    assert all(v["skipped"] for v in rep2.values())


def _write_docs(spark, rows, path):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


def test_bridge_tally_persisted_and_health_rule_fires(spark, tmp_path):
    """A bridging delta (the test_dedup_store construct) appended with
    append=True must land its bridge pair in the store's ledger, and
    the health report must flip rebuild_recommended once the bridged
    canonical fraction crosses the documented rule."""
    a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 4
    b = "kilo lima mike november oscar papa quebec romeo sierra tango " * 4
    filler = "unrelated filler content zebra yankee xray whiskey victor " * 4
    old = _write_docs(
        spark, [(0, a), (1, b), (2, filler)], str(tmp_path / "old.parquet")
    )
    path = str(tmp_path / "store")
    dedup_store_build(old, path, rows_per_band=1, threshold=0.3)
    delta = _write_docs(spark, [(10, a + " " + b)], str(tmp_path / "d.parquet"))
    dedup_delta(spark, path, delta)  # append=True persists the bridge

    h = dedup_store_health(spark, path)
    assert h["n_bridges"] == 1
    assert h["n_bridged_canonicals"] == 2
    # 2 of 3 canonicals bridged ≫ the 1% rule → rebuild recommended
    assert h["rebuild_recommended"] is True


def test_semantic_compaction_noop_for_content_and_verdicts(spark, tmp_path):
    rng = np.random.default_rng(7)
    old = _emb_df(spark, [(i, rng.normal(size=16)) for i in range(40)])
    path = str(tmp_path / "store")
    semantic_store_build(old, path, k=4, threshold=0.3)
    semantic_dedup_delta(
        spark, path, _emb_df(spark, [(100 + i, rng.normal(size=16)) for i in range(10)])
    )
    semantic_dedup_delta(
        spark, path, _emb_df(spark, [(200 + i, rng.normal(size=16)) for i in range(10)])
    )

    probe = _emb_df(spark, [(300 + i, rng.normal(size=16)) for i in range(8)])
    res0 = semantic_dedup_delta(spark, path, probe, append=False)
    before_v = {
        (r["vec_id"], r["status"], r["dup_of"], r["cell"])
        for r in res0["verdicts"].collect()
    }
    before_cells = _rows_multiset(
        spark.read.parquet(os.path.join(path, "cells")).select(
            "vec_id", "cent_cos", "cell"
        )
    )
    h0 = semantic_store_health(spark, path)
    assert h0["n_kept"] == len(before_cells)

    rep = semantic_store_compact(spark, path)
    assert not rep["cells"]["skipped"]
    assert rep["cells"]["files_after"] < rep["cells"]["files_before"]
    # one file per cell partition after compaction
    stats = semantic_store_health(spark, path)["artifacts"]["cells"]
    assert all(c == 1 for c in stats["files_per_partition"].values())

    got_cells = _rows_multiset(
        spark.read.parquet(os.path.join(path, "cells")).select(
            "vec_id", "cent_cos", "cell"
        )
    )
    assert got_cells == before_cells
    res1 = semantic_dedup_delta(spark, path, probe, append=False)
    after_v = {
        (r["vec_id"], r["status"], r["dup_of"], r["cell"])
        for r in res1["verdicts"].collect()
    }
    assert after_v == before_v and len(after_v) == 8


def test_inversion_tally_persisted_and_health_rule_fires(spark, tmp_path):
    """Seed-choice-independent inversion construct: store = two
    orthogonal unit vectors (both kept under any seed), delta = their
    normalized mean — it hits both at cos≈0.707, precedes the seed
    itself (cent 0.707 < 1.0), so exactly one inversion exists no
    matter which vector became the seed. append=True must persist it
    and health must recommend rebuild (1 inverted of 2 kept > 1%)."""
    e = np.eye(16)
    old = _emb_df(spark, [(0, e[0]), (1, e[1])])
    path = str(tmp_path / "store")
    stats = semantic_store_build(old, path, k=1, threshold=0.3)
    assert stats["n_kept"] == 2

    d = (e[0] + e[1]) / np.sqrt(2.0)
    res = semantic_dedup_delta(spark, path, _emb_df(spark, [(10, d)]))
    assert res["inversions"].count() == 1

    h = semantic_store_health(spark, path)
    assert h["n_inversions"] == 1
    assert h["n_inverted_survivors"] == 1
    assert h["rebuild_recommended"] is True


def test_curation_store_compact_consolidates_committed_batches(
    spark, tmp_path_factory
):
    """Two stream ingests (base + delta fixture) leave ≥2
    ingest_batch partitions; compaction consolidates them into one
    committed partition with corpus content unchanged, markers
    retained, and a further re-ingest still appends nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from commodity_price_forecasting_spark.streaming.curation_stream import (
        run_curation_stream,
    )

    store = str(tmp_path_factory.mktemp("cc_store"))
    corpus = str(tmp_path_factory.mktemp("cc_corpus"))
    run_curation_stream(
        spark, SF_DIR, store, corpus, str(tmp_path_factory.mktemp("cc_ck1"))
    )
    fresh_text = (
        "the quick brown fox jumps over a lazy dog and the crow watches in "
        "awe of every single moving shadow near the old mill by the river "
        "bank while morning light settles softly over distant quiet hills"
    )
    delta_dir = str(tmp_path_factory.mktemp("cc_fixture"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([10_000_001], pa.int64()),
                "text": [fresh_text],
                "lang": ["en"],
                "source": ["delta"],
                "n_chars": pa.array([len(fresh_text)], pa.int64()),
            }
        ),
        os.path.join(delta_dir, "documents.parquet"),
    )
    run_curation_stream(
        spark, delta_dir, store, corpus, str(tmp_path_factory.mktemp("cc_ck2"))
    )

    corpus_path = os.path.join(corpus, "corpus")
    fp_path = os.path.join(store, "fingerprints")
    before = _rows_multiset(
        spark.read.parquet(corpus_path).select(
            "doc_id", "fp", "text", "quality", "n_tokens", "split"
        )
    )
    assert len(os.listdir(fp_path)) >= 2  # one partition per batch

    # two live partitions, one big + one tiny: tiered compaction
    # would correctly skip (no tier holds fanout partitions) —
    # full=True forces the whole-store consolidation this test pins
    rep = curation_store_compact(spark, store, corpus, full=True)
    assert not rep["fingerprints"]["skipped"]
    assert rep["fingerprints"]["mode"] == "full"
    assert rep["fingerprints"]["files_after"] < rep["fingerprints"]["files_before"]
    fp_parts = [p for p in os.listdir(fp_path) if p.startswith("ingest_batch=")]
    assert fp_parts == ["ingest_batch=compacted-0"]

    after = _rows_multiset(
        spark.read.parquet(corpus_path).select(
            "doc_id", "fp", "text", "quality", "n_tokens", "split"
        )
    )
    assert after == before and len(after) > 0

    # the store still dedups: re-ingesting the base corpus appends 0
    run_curation_stream(
        spark, SF_DIR, store, corpus,
        str(tmp_path_factory.mktemp("cc_ck3")),
    )
    assert spark.read.parquet(corpus_path).count() == len(before)


def test_dedup_store_rebuild_clears_bridges_and_equals_fresh_build(
    spark, tmp_path
):
    """detect → recommend → EXECUTE: after the bridging delta flips
    rebuild_recommended, dedup_store_rebuild over the grown corpus
    must produce a store identical to a from-scratch build (params
    inherited from meta), clear the bridge ledger, and un-flip the
    recommendation."""
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        dedup_store_rebuild,
    )

    a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 4
    b = "kilo lima mike november oscar papa quebec romeo sierra tango " * 4
    filler = "unrelated filler content zebra yankee xray whiskey victor " * 4
    old = _write_docs(
        spark, [(0, a), (1, b), (2, filler)], str(tmp_path / "old.parquet")
    )
    path = str(tmp_path / "store")
    dedup_store_build(old, path, rows_per_band=1, threshold=0.3)
    delta = _write_docs(spark, [(10, a + " " + b)], str(tmp_path / "d.parquet"))
    dedup_delta(spark, path, delta)
    assert dedup_store_health(spark, path)["rebuild_recommended"] is True

    grown = old.unionByName(delta)
    stats = dedup_store_rebuild(spark, path, grown)
    ref_path = str(tmp_path / "ref")
    ref_stats = dedup_store_build(grown, ref_path, rows_per_band=1, threshold=0.3)
    assert stats == ref_stats  # params inherited from the old meta

    got = _rows_multiset(
        spark.read.parquet(os.path.join(path, "fingerprints"))
    )
    want = _rows_multiset(
        spark.read.parquet(os.path.join(ref_path, "fingerprints"))
    )
    assert got == want
    h = dedup_store_health(spark, path)
    assert h["n_bridges"] == 0
    assert h["rebuild_recommended"] is False
    # the merged cluster now has ONE canonical: re-ingesting doc b's
    # content dedups against it
    probe = _write_docs(spark, [(20, b)], str(tmp_path / "p.parquet"))
    [v] = dedup_delta(spark, path, probe, append=False)["verdicts"].collect()
    assert v["status"] == "exact_dup" and v["dup_of"] == 0


def test_semantic_store_rebuild_clears_inversions(spark, tmp_path):
    """After the seed-independent inversion construct, the rebuild
    (fresh seeds over the grown corpus) clears the ledger and
    un-flips the recommendation; stats equal a from-scratch build."""
    from commodity_price_forecasting_spark.operators.semantic_store import (
        semantic_store_load,
    )
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        semantic_store_rebuild,
    )

    e = np.eye(16)
    old = _emb_df(spark, [(0, e[0]), (1, e[1])])
    path = str(tmp_path / "store")
    semantic_store_build(old, path, k=1, threshold=0.3)
    d = (e[0] + e[1]) / np.sqrt(2.0)
    semantic_dedup_delta(spark, path, _emb_df(spark, [(10, d)]))
    assert semantic_store_health(spark, path)["rebuild_recommended"] is True

    grown = _emb_df(spark, [(0, e[0]), (1, e[1]), (10, d)])
    stats = semantic_store_rebuild(spark, path, grown)
    ref_path = str(tmp_path / "ref")
    ref_stats = semantic_store_build(grown, ref_path, k=1, threshold=0.3)
    assert stats == ref_stats
    h = semantic_store_health(spark, path)
    assert h["n_inversions"] == 0
    assert h["rebuild_recommended"] is False
    # rebuilt store decides like the fresh one on a new delta
    probe = _emb_df(spark, [(30, (e[0] + e[1]) / np.sqrt(2.0))])
    got = {
        (r["vec_id"], r["status"])
        for r in semantic_dedup_delta(spark, path, probe, append=False)[
            "verdicts"
        ].collect()
    }
    want = {
        (r["vec_id"], r["status"])
        for r in semantic_dedup_delta(spark, ref_path, probe, append=False)[
            "verdicts"
        ].collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# r13: curation-store compaction crash windows (r12 VERDICT "what's
# wrong" #1), the maintenance lock + grace window (r12 ADVICE #2), and
# the curation-store health report. The compaction sequence is now
# consolidate-all → commit marker (with supersedes manifest) → GC, so
# every window must converge with corpus row-set equality and
# fingerprint↔corpus consistency.
# ---------------------------------------------------------------------------

import shutil as _sh

from commodity_price_forecasting_spark.operators.store_maintenance import (
    StoreLockError,
    curation_store_health,
    maintenance_lock,
    read_curated_corpus,
)
from commodity_price_forecasting_spark.streaming.curation_stream import (
    _append_batch,
)


def _curated_batch(spark, i, n=3):
    rows = [
        (i * 10 + j, f"fp{i}-{j}", f"body text {i} {j} " * 3, 0.9, 9,
         "split_train" if j else "split_val")
        for j in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, fp string, text string, quality double, "
        "n_tokens long, split string",
    )


def _mk_curation_store(spark, base, n_batches=3):
    store, corpus = os.path.join(base, "store"), os.path.join(base, "corpus")
    for i in range(n_batches):
        _append_batch(_curated_batch(spark, i), store, corpus,
                      commit_token=f"b{i}")
    return store, corpus


def _corpus_rows(spark, store, corpus):
    return sorted(
        (r["doc_id"], r["fp"], r["split"])
        for r in read_curated_corpus(spark, store, corpus).collect()
    )


def _fp_rows(spark, store):
    return sorted(
        (r["doc_id"], r["fp"])
        for r in spark.read.parquet(
            os.path.join(store, "fingerprints")
        ).select("doc_id", "fp").collect()
    )


def test_compact_crash_before_marker_rerun_loses_nothing(
    spark, tmp_path_factory
):
    """Window 1: crash AFTER the consolidated partitions renamed into
    place but BEFORE the commit marker. On-disk: uncommitted
    ingest_batch=compacted-0 in every root, all sources intact. The
    rerun must discard the uncommitted attempt, rebuild from the
    intact sources, and converge to the clean-run corpus + store."""
    base = str(tmp_path_factory.mktemp("ccw1"))
    store, corpus = _mk_curation_store(spark, base)
    want_c = _corpus_rows(spark, store, corpus)
    want_f = _fp_rows(spark, store)

    # forge the window: compact a deep copy, steal its compacted
    # partitions into the REAL (uncompacted, marker-less) store
    cp_store, cp_corpus = store + "_cp", corpus + "_cp"
    _sh.copytree(store, cp_store)
    _sh.copytree(corpus, cp_corpus)
    curation_store_compact(spark, cp_store, cp_corpus, grace_seconds=0, fanout=2)
    for real, cp, leaf in (
        (store, cp_store, "fingerprints"),
        (corpus, cp_corpus, "corpus"),
    ):
        _sh.copytree(
            os.path.join(cp, leaf, "ingest_batch=compacted-0"),
            os.path.join(real, leaf, "ingest_batch=compacted-0"),
        )

    rep = curation_store_compact(
        spark, store, corpus, grace_seconds=0, fanout=2
    )
    assert not rep["corpus"]["skipped"]
    assert _corpus_rows(spark, store, corpus) == want_c
    assert _fp_rows(spark, store) == want_f
    assert sorted(os.listdir(os.path.join(store, "fingerprints"))) == [
        "ingest_batch=compacted-0"
    ]
    # fingerprint↔corpus consistency: same fp set on both sides
    assert {f for _, f in want_f} == {f for _, f, _ in want_c}


def test_compact_sources_superseded_then_gc_is_pure(
    spark, tmp_path_factory
):
    """Windows 2+3: crash AFTER the marker, with all (or some) source
    partitions still present. The sources are superseded by the
    committed compacted token: readers must see exactly one copy of
    every row, health must count the superseded leftovers, and the
    next compaction's opening GC must remove them without touching
    content."""
    base = str(tmp_path_factory.mktemp("ccw2"))
    store, corpus = _mk_curation_store(spark, base)
    want_c = _corpus_rows(spark, store, corpus)
    # save the source partitions aside, compact, then restore them —
    # the exact on-disk state of a crash mid-GC (all present) and the
    # partial-GC variant (one present)
    saved = {}
    for root_key, root in (
        ("fingerprints", os.path.join(store, "fingerprints")),
        ("corpus", os.path.join(corpus, "corpus")),
    ):
        for p in os.listdir(root):
            if p.startswith("ingest_batch=b"):
                side = os.path.join(base, f"saved_{root_key}_{p}")
                _sh.copytree(os.path.join(root, p), side)
                saved[(root_key, p)] = side
    curation_store_compact(spark, store, corpus, grace_seconds=0, fanout=2)
    for (root_key, p), side in saved.items():
        root = (
            os.path.join(store, "fingerprints")
            if root_key == "fingerprints"
            else os.path.join(corpus, "corpus")
        )
        _sh.copytree(side, os.path.join(root, p))

    # duplicates on disk, but the live reader sees each row once
    assert _corpus_rows(spark, store, corpus) == want_c
    h = curation_store_health(spark, store, corpus)
    assert h["roots"]["corpus"]["n_superseded_present"] == 3
    assert h["roots"]["fingerprints"]["n_superseded_present"] == 3

    # rerun: opening GC clears them; consolidation itself is a no-op
    rep = curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert rep["corpus"]["skipped"] and rep["fingerprints"]["skipped"]
    assert _corpus_rows(spark, store, corpus) == want_c
    h2 = curation_store_health(spark, store, corpus)
    assert h2["roots"]["corpus"]["n_superseded_present"] == 0
    assert h2["roots"]["fingerprints"]["n_superseded_present"] == 0


def test_compact_lock_and_grace_window(spark, tmp_path_factory):
    """The maintenance lock and the uncommitted-partial grace window
    (r12 ADVICE #2): a live holder blocks both compaction and ingest;
    a dead holder's lock is stolen; a FRESH marker-less partition
    makes compaction refuse (default grace) instead of deleting a
    possibly-in-flight batch."""
    base = str(tmp_path_factory.mktemp("cclock"))
    store, corpus = _mk_curation_store(spark, base, n_batches=2)

    # a HELD flock blocks compaction AND a direct ingest append (a
    # second flock attempt in the same process on a new fd blocks too
    # — flock is per open-file-description)
    with maintenance_lock(store, "other-writer"):
        with pytest.raises(StoreLockError, match="held by a live writer"):
            curation_store_compact(spark, store, corpus, grace_seconds=0)
        with pytest.raises(StoreLockError, match="held by a live writer"):
            _append_batch(_curated_batch(spark, 7), store, corpus,
                          commit_token="b7")

    # a crashed holder never wedges the store: flock auto-releases on
    # process death (SIGKILL — no cleanup code ran)
    import signal
    import subprocess
    import time

    lock = os.path.join(store, ".maintenance_lock")
    holder = subprocess.Popen(
        [
            "python3", "-c",
            "import fcntl, os, sys, time\n"
            f"fd = os.open({lock!r}, os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "print('locked', flush=True)\n"
            "time.sleep(60)\n",
        ],
        stdout=subprocess.PIPE,
    )
    assert holder.stdout.readline().strip() == b"locked"
    with pytest.raises(StoreLockError):
        with maintenance_lock(store, "test"):
            pass
    holder.send_signal(signal.SIGKILL)
    holder.wait()
    deadline = time.time() + 10
    while True:  # kernel releases the flock with the process
        try:
            with maintenance_lock(store, "test"):
                break
        except StoreLockError:
            assert time.time() < deadline, "flock not released after kill"
            time.sleep(0.2)

    # grace window: a fresh marker-less partition refuses deletion...
    partial = os.path.join(store, "fingerprints", "ingest_batch=zz-partial")
    os.makedirs(partial)
    with pytest.raises(StoreLockError, match="marker-less partition"):
        curation_store_compact(spark, store, corpus)
    assert os.path.isdir(partial)
    # ...and grace_seconds=0 (operator says: definitely quiesced)
    # deletes it as the crashed-attempt phantom it is
    curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert not os.path.isdir(partial)


def test_curation_store_health_recommends_then_clears(
    spark, tmp_path_factory
):
    """Five batch partitions → compact_recommended for both roots;
    after compaction the recommendation clears and the live reader's
    content is unchanged."""
    base = str(tmp_path_factory.mktemp("cchealth"))
    store, corpus = _mk_curation_store(spark, base, n_batches=5)
    want = _corpus_rows(spark, store, corpus)
    h = curation_store_health(spark, store, corpus)
    assert h["compact_recommended"] == ["corpus", "fingerprints"]
    assert h["roots"]["corpus"]["n_live_partitions"] == 5
    curation_store_compact(spark, store, corpus, grace_seconds=0)
    h2 = curation_store_health(spark, store, corpus)
    assert h2["compact_recommended"] == []
    assert h2["roots"]["corpus"]["n_live_partitions"] == 1
    assert _corpus_rows(spark, store, corpus) == want




# --------- r14: K-way size-tiered compaction (STCS) ----------------

def _big_batch(spark, i, n_docs=4, n_tokens=1200):
    """Incompressible-ish docs so partition bytes track data, not
    parquet footer overhead — the tier boundaries under test are
    byte-size boundaries."""
    rows = [
        (i * 100 + j, f"fpB{i}-{j}",
         " ".join(f"tok{i}x{j}x{k}" for k in range(n_tokens)),
         0.9, n_tokens, "split_train")
        for j in range(n_docs)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, fp string, text string, quality double, "
        "n_tokens long, split string",
    )


def test_size_tier_plan_buckets_and_thresholds():
    """The shared STCS planner: similar sizes bucket together, a >2×
    jump opens a new tier, only buckets with ≥ fanout members are
    returned (smallest first), zero-byte partitions never merge."""
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        _size_tier_plan,
    )

    # four similar + four ~8× bigger: two tiers, both eligible
    sizes = {f"t{i}": 100 + i for i in range(4)}
    sizes.update({f"m{i}": 800 + i for i in range(4)})
    plan = _size_tier_plan(sizes, fanout=4)
    assert [sorted(b) for b in plan] == [
        ["t0", "t1", "t2", "t3"], ["m0", "m1", "m2", "m3"]
    ]
    # under fanout: no merge
    assert _size_tier_plan({f"t{i}": 100 for i in range(3)}, fanout=4) == []
    # zero-byte partitions are invisible to the planner
    sizes = {f"t{i}": 100 for i in range(4)}
    sizes["empty"] = 0
    assert [sorted(b) for b in _size_tier_plan(sizes, fanout=4)] == [
        ["t0", "t1", "t2", "t3"]
    ]
    # one big base + few small deltas: the base is never rewritten
    sizes = {"base": 1_000_000, "d0": 900, "d1": 1000, "d2": 1100}
    assert _size_tier_plan(sizes, fanout=4) == []
    sizes["d3"] = 1050
    assert [sorted(b) for b in _size_tier_plan(sizes, fanout=4)] == [
        ["d0", "d1", "d2", "d3"]
    ]


def test_compact_is_size_tiered(spark, tmp_path_factory):
    """r14 (r13 VERDICT ask #1): the K-way tiered compactor must (a)
    merge a tier only when ≥ fanout similar-size partitions exist,
    (b) leave the big base byte-for-byte untouched while small deltas
    accumulate under fanout, (c) merge exactly the delta tier when it
    fills — never the base — and (d) keep content identical
    throughout."""
    base = str(tmp_path_factory.mktemp("cctier"))
    store, corpus = os.path.join(base, "store"), os.path.join(base, "corpus")
    for i in range(4):
        _append_batch(_big_batch(spark, i), store, corpus,
                      commit_token=f"b{i}")
    rep0 = curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert rep0["corpus"]["n_merges"] == 1 and not rep0["corpus"]["skipped"]
    want = _corpus_rows(spark, store, corpus)

    corpus_root = os.path.join(corpus, "corpus")
    base_part = [
        p for p in os.listdir(corpus_root) if p.startswith("ingest_batch=")
    ]
    assert len(base_part) == 1  # one merged base
    base_part = os.path.join(corpus_root, base_part[0])

    # (b) two tiny deltas: under fanout — compaction must be a no-op
    for i in (7, 8):
        _append_batch(_curated_batch(spark, i, n=1), store, corpus,
                      commit_token=f"d{i}")
    want = _corpus_rows(spark, store, corpus)
    h = curation_store_health(spark, store, corpus)
    assert h["compact_recommended"] == []  # planner says nothing to do
    rep1 = curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert rep1["corpus"]["skipped"] and rep1["corpus"]["n_merges"] == 0
    assert _corpus_rows(spark, store, corpus) == want

    # (c) two more tinies fill the tier: merge deltas, base untouched
    for i in (9, 11):
        _append_batch(_curated_batch(spark, i, n=1), store, corpus,
                      commit_token=f"d{i}")
    want = _corpus_rows(spark, store, corpus)
    base_files = sorted(
        (f, os.path.getmtime(os.path.join(dp, f)))
        for dp, _d, fs in os.walk(base_part) for f in fs
    )
    h = curation_store_health(spark, store, corpus)
    assert sorted(h["compact_recommended"]) == ["corpus", "fingerprints"]
    rep2 = curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert rep2["corpus"]["n_merges"] == 1
    assert os.path.isdir(base_part)  # base survived
    assert base_files == sorted(
        (f, os.path.getmtime(os.path.join(dp, f)))
        for dp, _d, fs in os.walk(base_part) for f in fs
    )  # byte-for-byte untouched
    big_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _d, fs in os.walk(base_part) for f in fs
    )
    assert rep2["corpus"]["bytes_rewritten"] < big_bytes
    assert _corpus_rows(spark, store, corpus) == want
    live = [p for p in os.listdir(corpus_root) if p.startswith("ingest_batch=")]
    assert len(live) == 2  # base + merged delta tier


def test_compact_cascading_promotion(spark, tmp_path_factory):
    """A merged tier's output lands in the NEXT tier and can trigger a
    second merge in the same call (the pass loop): 4 tiny + 4 medium
    partitions settle in ≥2 merges with content intact."""
    base = str(tmp_path_factory.mktemp("cccasc"))
    store, corpus = os.path.join(base, "store"), os.path.join(base, "corpus")
    for i in range(4):  # tiny: 1 doc × 300 tokens
        _append_batch(_big_batch(spark, i, n_docs=1, n_tokens=300),
                      store, corpus, commit_token=f"t{i}")
    for i in range(4, 8):  # medium: 1 doc × 1500 tokens (~5× tiny)
        _append_batch(_big_batch(spark, i, n_docs=1, n_tokens=1500),
                      store, corpus, commit_token=f"m{i}")
    want = _corpus_rows(spark, store, corpus)
    rep = curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert rep["corpus"]["n_merges"] >= 2  # tier merge + promotion merge
    corpus_root = os.path.join(corpus, "corpus")
    live = [p for p in os.listdir(corpus_root) if p.startswith("ingest_batch=")]
    assert len(live) <= 2
    assert _corpus_rows(spark, store, corpus) == want
    # and the call settled: health reaches the no-op fixed point
    h = curation_store_health(spark, store, corpus)
    assert h["compact_recommended"] == []


def test_marker_rollup_bounds_commit_files_and_preserves_skip(
    spark, tmp_path_factory
):
    """r14 (r13 VERDICT ask #4): after compaction, the superseded
    batches' marker FILES are folded into the single _rolled.json —
    commits/ holds O(live) files — while every rolled token stays
    committed: a very late redelivery of a rolled batch still skips,
    and the compacted-token numbering never reuses a rolled index."""
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        _read_committed,
    )

    base = str(tmp_path_factory.mktemp("ccroll"))
    store, corpus = os.path.join(base, "store"), os.path.join(base, "corpus")
    for i in range(4):
        _append_batch(_big_batch(spark, i, n_docs=1, n_tokens=300),
                      store, corpus, commit_token=f"b{i}")
    rep = curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert rep["commits"]["markers_rolled"] >= 4
    commits = os.path.join(store, "commits")
    files = [t for t in os.listdir(commits) if not t.startswith(("_", "."))]
    assert files == ["compacted-0"]  # b0..b3 rolled away
    committed = _read_committed(commits)
    assert {"b0", "b1", "b2", "b3", "compacted-0"} <= committed

    # late redelivery of a rolled batch: exact skip, store unchanged
    want = _corpus_rows(spark, store, corpus)
    _append_batch(_big_batch(spark, 0, n_docs=1, n_tokens=300),
                  store, corpus, commit_token="b0")
    assert _corpus_rows(spark, store, corpus) == want

    # numbering: roll compacted-0 away via a full rewrite, then ensure
    # the next token is compacted-2, never a reused rolled index
    for i in range(10, 14):
        _append_batch(_big_batch(spark, i, n_docs=1, n_tokens=300),
                      store, corpus, commit_token=f"c{i}")
    curation_store_compact(spark, store, corpus, grace_seconds=0, full=True)
    live = [
        p for p in os.listdir(os.path.join(corpus, "corpus"))
        if p.startswith("ingest_batch=")
    ]
    assert live == ["ingest_batch=compacted-1"]
    for i in range(20, 24):
        _append_batch(_big_batch(spark, i, n_docs=1, n_tokens=300),
                      store, corpus, commit_token=f"e{i}")
    curation_store_compact(spark, store, corpus, grace_seconds=0, full=True)
    live = sorted(
        p for p in os.listdir(os.path.join(corpus, "corpus"))
        if p.startswith("ingest_batch=")
    )
    assert live == ["ingest_batch=compacted-2"]


# --------- r14: health→compact→health no-spin fixed point ----------

def test_fixed_point_curation_store(spark, tmp_path_factory):
    """r13 VERDICT ask #6: for every constructed store shape, one
    compaction after a firing recommendation must clear it — the
    auto-maintenance hook can never spin on a no-op."""
    shapes = {
        "five_batches": 5,
        "single_batch": 1,
    }
    for name, n in shapes.items():
        b = str(tmp_path_factory.mktemp(f"fp_{name}"))
        store, corpus = _mk_curation_store(spark, b, n_batches=n)
        h = curation_store_health(spark, store, corpus)
        if h["compact_recommended"]:
            curation_store_compact(spark, store, corpus, grace_seconds=0)
            h = curation_store_health(spark, store, corpus)
        assert h["compact_recommended"] == [], name

    # zero-byte committed partition (all rows gated out): recommended
    # as pure GC, then clear
    b = str(tmp_path_factory.mktemp("fp_empty"))
    store, corpus = _mk_curation_store(spark, b, n_batches=1)
    for root in (
        os.path.join(store, "fingerprints"),
        os.path.join(corpus, "corpus"),
    ):
        os.makedirs(os.path.join(root, "ingest_batch=ez"))
    os.makedirs(os.path.join(store, "commits"), exist_ok=True)
    with open(os.path.join(store, "commits", "ez"), "w") as fh:
        fh.write("committed\n")
    h = curation_store_health(spark, store, corpus)
    assert sorted(h["compact_recommended"]) == ["corpus", "fingerprints"]
    curation_store_compact(spark, store, corpus, grace_seconds=0)
    h2 = curation_store_health(spark, store, corpus)
    assert h2["compact_recommended"] == []
    # single remaining minor output: still a fixed point
    curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert curation_store_health(spark, store, corpus)[
        "compact_recommended"
    ] == []


def test_fixed_point_dedup_store(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "store")
    dedup_store_build(docs.filter(F.col("doc_id") < 200), path)
    for lo, hi in ((200, 249), (250, 299), (300, 349)):
        dedup_delta(spark, path, docs.filter(F.col("doc_id").between(lo, hi)))
    h = dedup_store_health(spark, path)
    if h["compact_recommended"]:
        dedup_store_compact(spark, path)
        h = dedup_store_health(spark, path)
    assert h["compact_recommended"] == []


def test_fixed_point_semantic_store(spark, tmp_path):
    rng = np.random.default_rng(3)
    path = str(tmp_path / "store")
    semantic_store_build(
        _emb_df(spark, [(i, rng.normal(size=16)) for i in range(30)]),
        path, k=4, threshold=0.3,
    )
    for s in (100, 200, 300):
        semantic_dedup_delta(
            spark, path,
            _emb_df(spark, [(s + i, rng.normal(size=16)) for i in range(8)]),
        )
    h = semantic_store_health(spark, path)
    if h["compact_recommended"]:
        semantic_store_compact(spark, path)
        h = semantic_store_health(spark, path)
    assert h["compact_recommended"] == []


# --------- r14: single-writer lock for the sibling stores -----------

def test_store_write_lock_covers_dedup_store_writers(spark, tmp_path):
    """r13 VERDICT ask #2 / ADVICE #5: with a live holder on the dedup
    store's lock, the compactor, the delta append, the ledger-driven
    append, and the rebuild's swap all raise StoreLockError instead of
    racing — and succeed once the holder releases."""
    from commodity_price_forecasting_spark.operators.dedup_store import (
        dedup_store_append,
    )
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        StoreLockError,
        dedup_store_rebuild,
        store_write_lock,
    )

    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "dstore")
    dedup_store_build(docs.filter(F.col("doc_id") < 100), path)
    delta = docs.filter(F.col("doc_id").between(100, 119))
    with store_write_lock(path, "other-writer"):
        with pytest.raises(StoreLockError, match="held by a live writer"):
            dedup_store_compact(spark, path)
        with pytest.raises(StoreLockError, match="held by a live writer"):
            dedup_delta(spark, path, delta)  # append=True path
        verd = dedup_delta(spark, path, delta, append=False)["verdicts"]
        with pytest.raises(StoreLockError, match="held by a live writer"):
            dedup_store_append(spark, path, delta, verd)
        with pytest.raises(StoreLockError, match="held by a live writer"):
            dedup_store_rebuild(
                spark, path, docs.filter(F.col("doc_id") < 120)
            )
    # released: the append path works again
    res = dedup_delta(spark, path, delta)
    assert res["verdicts"].count() == 20


def test_store_write_lock_covers_semantic_store_writers(spark, tmp_path):
    """Same contract for the semantic store: compact, delta append,
    the streaming ingest batch, and the rebuild swap all refuse while
    a live writer holds the lock."""
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        StoreLockError,
        semantic_store_rebuild,
        store_write_lock,
    )
    from commodity_price_forecasting_spark.streaming.semantic_stream import (
        _ingest_batch,
    )

    rng = np.random.default_rng(5)
    path = str(tmp_path / "sstore")
    embs = _emb_df(spark, [(i, rng.normal(size=16)) for i in range(20)])
    semantic_store_build(embs, path, k=2, threshold=0.3)
    delta = _emb_df(spark, [(100 + i, rng.normal(size=16)) for i in range(5)])
    with store_write_lock(path, "other-writer"):
        with pytest.raises(StoreLockError, match="held by a live writer"):
            semantic_store_compact(spark, path)
        with pytest.raises(StoreLockError, match="held by a live writer"):
            semantic_dedup_delta(spark, path, delta)  # append=True
        with pytest.raises(StoreLockError, match="held by a live writer"):
            _ingest_batch(delta, path, "t-lock")
        with pytest.raises(StoreLockError, match="held by a live writer"):
            semantic_store_rebuild(spark, path, embs)
    res = semantic_dedup_delta(spark, path, delta)
    assert res["verdicts"].count() == 5


def test_store_write_lock_survives_rebuild_root_swap(spark, tmp_path):
    """The lock file is a SIBLING of the store root: after a rebuild
    swap-renames the root, a second writer still contends on the SAME
    lock file (an in-root lock would have moved with the rename and
    silently voided mutual exclusion)."""
    import os as _os

    from commodity_price_forecasting_spark.operators.store_maintenance import (
        StoreLockError,
        semantic_store_rebuild,
        store_write_lock,
    )

    rng = np.random.default_rng(6)
    path = str(tmp_path / "sstore")
    embs = _emb_df(spark, [(i, rng.normal(size=16)) for i in range(20)])
    semantic_store_build(embs, path, k=2, threshold=0.3)
    lock_file = _os.path.normpath(_os.path.abspath(path)) + ".maintenance_lock"
    semantic_store_rebuild(spark, path, embs)
    assert _os.path.exists(lock_file)  # sibling lock survived the swap
    with store_write_lock(path, "w1"):
        with pytest.raises(StoreLockError):
            with store_write_lock(path, "w2"):
                pass


def test_marker_rollup_crash_between_manifest_and_delete(
    spark, tmp_path_factory
):
    """Rollup crash window: _rolled.json extended but the marker files
    not yet deleted (or only some). The token is then committed TWICE
    (file ∪ manifest — harmless set union), and the next compaction's
    rollup removes the leftover file without un-committing anything."""
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        _read_committed,
    )

    base = str(tmp_path_factory.mktemp("ccrollcrash"))
    store, corpus = os.path.join(base, "store"), os.path.join(base, "corpus")
    for i in range(4):
        _append_batch(_big_batch(spark, i, n_docs=1, n_tokens=300),
                      store, corpus, commit_token=f"b{i}")
    curation_store_compact(spark, store, corpus, grace_seconds=0)
    commits = os.path.join(store, "commits")
    # forge the window: re-create a rolled token's marker file
    with open(os.path.join(commits, "b1"), "w") as fh:
        fh.write("committed\n")
    want = _corpus_rows(spark, store, corpus)
    committed = _read_committed(commits)
    assert "b1" in committed  # union, not conflict
    rep = curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert rep["commits"]["markers_rolled"] >= 1  # leftover re-rolled
    assert not os.path.exists(os.path.join(commits, "b1"))
    assert "b1" in _read_committed(commits)  # still committed forever
    assert _corpus_rows(spark, store, corpus) == want


def test_health_recommends_rollup_only_compaction(spark, tmp_path_factory):
    """A long run of EMPTY drains writes one commit marker per batch
    and no merge ever fires — without a rollup trigger commits/ grows
    one file per drain forever. Health recommends a rollup-only
    compaction once ROLLUP_RECOMMEND_AT retired markers accumulate,
    and the compact (no merge work) clears it — fixed point intact."""
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        ROLLUP_RECOMMEND_AT,
        _read_committed,
    )

    base = str(tmp_path_factory.mktemp("ccrollrec"))
    store, corpus = _mk_curation_store(spark, base, n_batches=1)
    empty = spark.createDataFrame(
        [], "doc_id long, fp string, text string, quality double, "
        "n_tokens long, split string",
    )
    for i in range(ROLLUP_RECOMMEND_AT):
        _append_batch(empty, store, corpus, commit_token=f"e{i}")
    h = curation_store_health(spark, store, corpus)
    assert "commits" in h["compact_recommended"]
    rep = curation_store_compact(spark, store, corpus, grace_seconds=0)
    assert rep["commits"]["markers_rolled"] >= ROLLUP_RECOMMEND_AT
    h2 = curation_store_health(spark, store, corpus)
    assert h2["compact_recommended"] == []
    committed = _read_committed(os.path.join(store, "commits"))
    assert {f"e{i}" for i in range(ROLLUP_RECOMMEND_AT)} <= committed


# ------ r14 margin: semantic-store marker rollup + ledger GC --------
# The semantic stream had the SAME unbounded per-batch metadata the
# curation store's r14 rollup fixed: one commits/<token> file per
# micro-batch forever, plus one ingest_verdicts/ingest_batch=<token>
# ledger partition per batch whose only machine reader is the crash-
# replay path (reached only while the marker is absent).


def _mk_semantic_stream_store(spark, base, n_batches=3):
    from commodity_price_forecasting_spark.streaming.semantic_stream import (
        _ingest_batch,
    )

    rng = np.random.default_rng(41)
    store = os.path.join(base, "store")
    semantic_store_build(
        _emb_df(spark, [(i, rng.normal(size=16)) for i in range(30)]),
        store, k=4, threshold=0.3,
    )
    for b in range(n_batches):
        _ingest_batch(
            _emb_df(
                spark,
                [(100 * (b + 1) + i, rng.normal(size=16)) for i in range(6)],
            ),
            store, f"t{b}",
        )
    return store


def test_semantic_marker_rollup_preserves_redelivery_skip(
    spark, tmp_path_factory
):
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        _read_committed,
    )
    from commodity_price_forecasting_spark.streaming.semantic_stream import (
        _ingest_batch,
    )

    store = _mk_semantic_stream_store(
        spark, str(tmp_path_factory.mktemp("sem_roll"))
    )
    commits = os.path.join(store, "commits")
    assert sorted(os.listdir(commits)) == ["t0", "t1", "t2"]

    rep = semantic_store_compact(spark, store)
    assert rep["commits"]["markers_rolled"] == 3
    assert rep["commits"]["n_marker_files"] == 0
    # rolled tokens stay committed forever
    assert _read_committed(commits) == {"t0", "t1", "t2"}

    cells = os.path.join(store, "cells")
    before = _rows_multiset(
        spark.read.parquet(cells).select("vec_id", "cell")
    )
    # very late redelivery of a rolled batch must SKIP, not re-verdict
    rng = np.random.default_rng(41)
    _ingest_batch(
        _emb_df(spark, [(100 + i, rng.normal(size=16)) for i in range(6)]),
        store, "t0",
    )
    assert _rows_multiset(
        spark.read.parquet(cells).select("vec_id", "cell")
    ) == before
    # and a genuinely NEW batch still lands after the rollup
    _ingest_batch(
        _emb_df(spark, [(900 + i, rng.normal(size=16)) for i in range(4)]),
        store, "t9",
    )
    assert "t9" in _read_committed(commits)
    # crash window of a LATER rollup: manifest already carries a token
    # whose marker file reappears (redelivery re-wrote it after a
    # crash mid-delete) — rerun removes the file, set union keeps the
    # token committed exactly once
    with open(os.path.join(commits, "t0"), "w") as fh:
        fh.write("committed\n")
    rep2 = semantic_store_compact(spark, store)
    assert rep2["commits"]["n_marker_files"] == 0
    assert _read_committed(commits) == {"t0", "t1", "t2", "t9"}


def test_semantic_health_recommends_marker_rollup_then_clears(
    spark, tmp_path_factory
):
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        ROLLUP_RECOMMEND_AT,
    )

    store = _mk_semantic_stream_store(
        spark, str(tmp_path_factory.mktemp("sem_fix")), n_batches=1
    )
    commits = os.path.join(store, "commits")
    # forge a long run of tiny drains: plain markers pile up past the
    # threshold without the cell artifacts needing any merge
    for i in range(ROLLUP_RECOMMEND_AT):
        with open(os.path.join(commits, f"f{i}"), "w") as fh:
            fh.write("committed\n")
    h = semantic_store_health(spark, store)
    assert "commits" in h["compact_recommended"]
    semantic_store_compact(spark, store)
    h2 = semantic_store_health(spark, store)
    assert h2["compact_recommended"] == []  # no-spin fixed point


def test_semantic_ledger_gc_only_committed(spark, tmp_path_factory):
    store = _mk_semantic_stream_store(
        spark, str(tmp_path_factory.mktemp("sem_gc"))
    )
    ledgers = os.path.join(store, "ingest_verdicts")
    # forge an UNCOMMITTED batch's ledger (crashed before its marker):
    # redelivery still needs it as the source of truth
    crashed = os.path.join(ledgers, "ingest_batch=tx")
    _sh.copytree(os.path.join(ledgers, "ingest_batch=t0"), crashed)

    rep = semantic_store_compact(spark, store)  # default: audit kept
    assert "ledgers_gc" not in rep["commits"]
    assert len(os.listdir(ledgers)) == 4

    rep = semantic_store_compact(spark, store, gc_ledgers=True)
    assert rep["commits"]["ledgers_gc"] == 3
    assert os.listdir(ledgers) == ["ingest_batch=tx"]


def test_curation_ledger_gc_only_committed(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cur_gc"))
    store, corpus = _mk_curation_store(spark, base, n_batches=2)
    # forge the near-dup tier's per-batch audit ledgers: two committed
    # batches' plus one crashed (uncommitted) batch's
    ledgers = os.path.join(corpus, "near_dup_verdicts")
    for t in ("b0", "b1", "bx"):
        part = os.path.join(ledgers, f"ingest_batch={t}")
        os.makedirs(part)
        with open(os.path.join(part, "_SUCCESS"), "w"):
            pass

    curation_store_compact(spark, store, corpus)  # default: audit kept
    assert len(os.listdir(ledgers)) == 3

    rep = curation_store_compact(spark, store, corpus, gc_ledgers=True)
    assert rep["commits"]["ledgers_gc"] == 2
    assert os.listdir(ledgers) == ["ingest_batch=bx"]
