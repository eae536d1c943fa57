"""Edge-case robustness (empty inputs, all-null groups, degenerate
corpora) plus hypothesis property tests for the pure-python kernels
(fast — no Spark round-trip per example).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from commodity_price_forecasting_spark.ml.stattests import _adf_stat, _kpss_stat
from commodity_price_forecasting_spark.operators.cleaning import (
    ffill_bfill_long,
    ffill_bfill_wide,
)
from commodity_price_forecasting_spark.operators.joins import salted_join
from commodity_price_forecasting_spark.operators.multimodal import (
    N_FEATURE_BINS,
    _fake_decode_bytes,
)

# --- hypothesis: pure-python kernels ------------------------------------


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=200, deadline=None)
def test_fake_decode_properties(payload):
    d = _fake_decode_bytes(payload)
    assert d["n_bytes"] == len(payload)
    assert 0 <= d["checksum"] < 2147483647
    assert len(d["features"]) == N_FEATURE_BINS
    assert all(f >= 0 for f in d["features"])
    if payload:
        assert abs(sum(d["features"]) - 1.0) < 1e-9
    # determinism
    assert _fake_decode_bytes(payload) == d


@given(
    st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=0, max_size=80
    )
)
@settings(max_examples=100, deadline=None)
def test_stat_kernels_never_crash(values):
    y = np.array(values, dtype=float)
    a = _adf_stat(y, max_lag=2)
    k = _kpss_stat(y)
    # short/degenerate series => NaN, never an exception
    assert isinstance(a, float) and isinstance(k, float)


# --- Spark edge cases ---------------------------------------------------


def test_ffill_all_null_group_stays_null(spark):
    pdf = pd.DataFrame(
        {
            "g": [1, 1, 1, 2, 2],
            "t": [0, 1, 2, 0, 1],
            "v": [None, 5.0, None, None, None],
        }
    )
    out = (
        ffill_bfill_long(
            spark.createDataFrame(pdf), "v", ("t",), ("g",), out_col="filled"
        )
        .toPandas()
        .sort_values(["g", "t"])
    )
    g1 = out[out["g"] == 1]["filled"].tolist()
    g2 = out[out["g"] == 2]["filled"].tolist()
    assert g1 == [5.0, 5.0, 5.0]      # bfill head, ffill tail
    assert all(pd.isna(v) for v in g2)  # nothing to impute from


def test_ffill_is_idempotent(spark):
    pdf = pd.DataFrame({"g": [1] * 5, "t": range(5), "v": [None, 1.0, None, 3.0, None]})
    once = ffill_bfill_long(spark.createDataFrame(pdf), "v", ("t",), ("g",))
    twice = ffill_bfill_long(once, "v", ("t",), ("g",))
    a = once.toPandas().sort_values("t")["v"].tolist()
    b = twice.toPandas().sort_values("t")["v"].tolist()
    assert a == b == [1.0, 1.0, 1.0, 3.0, 3.0]


_SERIES = st.lists(
    st.lists(
        st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)), min_size=1, max_size=7
    ),
    min_size=1,
    max_size=4,
)


@given(_SERIES)
@example([[None, 1.0, None, None, 2.0, None], [None, None, None], [3.0]])
@settings(max_examples=12, deadline=None)
def test_ffill_bfill_matches_pandas(spark, series):
    """Both layouts equal pandas ffill→bfill on leading, inner and
    trailing null runs and all-null series: long per group
    (``groupby().ffill()`` then ``groupby().bfill()``), wide over one
    time order (series padded with trailing nulls to one length)."""
    long = pd.DataFrame(
        [(g, t, v) for g, vals in enumerate(series) for t, v in enumerate(vals)],
        columns=["g", "t", "v"],
    ).astype({"v": "float64"})
    want = long.assign(v=long.groupby("g")["v"].ffill()).groupby("g")["v"].bfill()
    got = (
        ffill_bfill_long(spark.createDataFrame(long), "v", ("t",), ("g",), out_col="f")
        .toPandas()
        .sort_values(["g", "t"])
    )
    np.testing.assert_array_equal(got["f"].to_numpy(float), want.to_numpy(float))

    n = max(len(vals) for vals in series)
    wide = pd.DataFrame(
        {f"c{g}": vals + [None] * (n - len(vals)) for g, vals in enumerate(series)}
    ).astype("float64")
    wide.insert(0, "t", range(n))
    cols = [f"c{g}" for g in range(len(series))]
    got = ffill_bfill_wide(spark.createDataFrame(wide), "t", cols).toPandas().sort_values("t")
    np.testing.assert_array_equal(
        got[cols].to_numpy(float), wide[cols].ffill().bfill().to_numpy(float)
    )


def test_impute_backfill_frame_is_linear(spark):
    """The back fill reads one whole-partition frame. A
    ``currentRow..unboundedFollowing`` frame is re-evaluated for
    every row, quadratic per instrument."""
    from tests.conftest import SF_SMOKE

    from commodity_price_forecasting_spark.plans.e1_pipeline import (
        daily_bars,
        imputed,
        with_gaps,
    )

    wide = spark.createDataFrame([(0, 1.0, None)], "t int, a double, b double")
    for df in (
        imputed(with_gaps(daily_bars(spark, SF_SMOKE))),
        ffill_bfill_wide(wide, "t", ["a", "b"]),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "unboundedpreceding$(), unboundedfollowing$()" in plan
        assert "currentrow$(), unboundedfollowing$()" not in plan


def test_ffill_long_refuses_empty_partition_cols(spark):
    df = spark.createDataFrame([(0, 1.0)], "t int, v double")
    with pytest.raises(ValueError, match="partition_cols"):
        ffill_bfill_long(df, "v", ("t",), ())


def test_salted_join_empty_and_left_semantics(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "a": [10, 20, 30]}))
    empty_right = spark.createDataFrame([], "k INT, b INT")
    assert salted_join(left, empty_right, ["k"]).count() == 0
    lj = salted_join(left, empty_right, ["k"], how="left")
    assert lj.count() == 3  # left rows survive with null b
    assert lj.filter("b IS NULL").count() == 3

    right = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2], "b": [7, 8, 9]}))
    got = sorted(
        tuple(r) for r in salted_join(left, right, ["k"]).select("k", "a", "b").collect()
    )
    want = sorted(tuple(r) for r in left.join(right, "k").select("k", "a", "b").collect())
    assert got == want  # duplicate keys multiply exactly like a plain join


def test_tfidf_min_doc_freq_can_empty_the_output(spark):
    from commodity_price_forecasting_spark.operators.textops import tf_idf

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["alpha beta", "gamma delta"]})
    )
    # no token appears in >= 2 docs
    assert tf_idf(docs, min_doc_freq=2).count() == 0
    # and with min_doc_freq=1 every token survives
    out = tf_idf(docs, min_doc_freq=1)
    assert out.count() == 4
    assert out.filter("tf_idf <= 0").count() == 0


def test_session_window_single_event_per_user(spark):
    from commodity_price_forecasting_spark.streaming.events_stream import session_stats

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-05 12:00:00"]),
            "user_id": [1, 2],
            "value": [1.5, 2.5],
        }
    )
    out = session_stats(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == 2
    assert set(out["n_events"]) == {1}


def test_hll_sketch_within_error_bound(spark):
    from commodity_price_forecasting_spark.plans.queries_datapipe import (
        sketch_hll_distinct,
    )

    rows = sketch_hll_distinct(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["exact_users"] > 0
        assert r["hll_within_5pct"] is True


def test_asof_join_semantics(spark):
    """Ties are inclusive (right row at the same time is taken),
    earlier rows win over older ones, no earlier row => null."""
    from commodity_price_forecasting_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 2, "c"), (2, 7, "d")],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 5, 50.0), (1, 8, 80.0), (2, 9, 90.0)], ["k", "t", "v"]
    )
    out = {
        r["tag"]: r["asof_v"]
        for r in asof_join(left, right, "k", "t", "v", out_col="asof_v").collect()
    }
    assert out["a"] == 50.0   # tie at t=5 is inclusive
    assert out["b"] == 80.0   # most recent of {5, 8}
    assert out["c"] is None   # nothing at or before t=2
    assert out["d"] is None   # key 2 has no right row before t=7


def test_asof_join_forward_and_tolerance(spark):
    """merge_asof parity on a SPARSE fixture (the registered asof
    queries run on dense daily bars where tolerance never trims):
    forward takes the NEXT right row with ties inclusive; a backward
    match staler than tolerance_days nulls out; an in-tolerance match
    survives; direction validation raises."""
    import datetime as dt

    import pytest

    from commodity_price_forecasting_spark.operators.timeseries import asof_join

    d = dt.date
    left = spark.createDataFrame(
        [
            (1, d(2024, 1, 10), "a"),   # right at 1/10 (tie) and 1/3
            (1, d(2024, 1, 8), "b"),    # nearest earlier right 1/3 → 5d stale
            (1, d(2024, 1, 4), "c"),    # nearest earlier right 1/3 → 1d
            (2, d(2024, 1, 5), "e"),    # no right rows at all for key 2
        ],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        [(1, d(2024, 1, 3), 3.0), (1, d(2024, 1, 10), 10.0)], ["k", "t", "v"]
    )
    back_tol = {
        r["tag"]: r["v3"]
        for r in asof_join(
            left, right, "k", "t", "v", out_col="v3", tolerance_days=3
        ).collect()
    }
    assert back_tol["a"] == 10.0  # tie inclusive, 0d stale
    assert back_tol["b"] is None  # 5d > 3d tolerance
    assert back_tol["c"] == 3.0   # 1d ≤ 3d
    assert back_tol["e"] is None
    fwd = {
        r["tag"]: r["nv"]
        for r in asof_join(
            left, right, "k", "t", "v", out_col="nv", direction="forward"
        ).collect()
    }
    assert fwd["a"] == 10.0   # tie at 1/10 is inclusive forward too
    assert fwd["b"] == 10.0   # next right after 1/8
    assert fwd["c"] == 10.0   # next right after 1/4
    assert fwd["e"] is None
    fwd_tol = {
        r["tag"]: r["nv"]
        for r in asof_join(
            left, right, "k", "t", "v",
            out_col="nv", direction="forward", tolerance_days=2,
        ).collect()
    }
    assert fwd_tol["a"] == 10.0  # 0d ahead
    assert fwd_tol["b"] == 10.0  # 2d ahead ≤ 2
    assert fwd_tol["c"] is None  # 6d ahead > 2
    with pytest.raises(ValueError):
        asof_join(left, right, "k", "t", "v", direction="nearest")


def test_asof_join_null_right_value_carries_matching_row(spark):
    """merge_asof parity when the right VALUE column has NULLs: the
    nearest right ROW wins and its value (NULL included) is returned
    — the carried (time, value) must come from the SAME row. Two
    independent last(ignorenulls) passes would pair the older row's
    value with the newer row's time and let a stale value pass the
    tolerance test (ADVICE r5)."""
    import datetime as dt

    from commodity_price_forecasting_spark.operators.timeseries import asof_join

    d = dt.date
    left = spark.createDataFrame(
        [(1, d(2024, 1, 6), "near_null"), (1, d(2024, 1, 9), "stale")],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        [(1, d(2024, 1, 1), 100.0), (1, d(2024, 1, 5), None)],
        "k long, t date, v double",
    )
    out = {
        r["tag"]: r["v3"]
        for r in asof_join(
            left, right, "k", "t", "v", out_col="v3", tolerance_days=2
        ).collect()
    }
    # nearest row (1/5) is 1 day back and in tolerance, but its value
    # is NULL → NULL, never the stale 100.0 from 1/1 (5 days back)
    assert out["near_null"] is None
    # nearest row (1/5) is 4 days back > tolerance → NULL either way
    assert out["stale"] is None
    # without tolerance the nearest row's NULL value still wins
    no_tol = {
        r["tag"]: r["v0"]
        for r in asof_join(left, right, "k", "t", "v", out_col="v0").collect()
    }
    assert no_tol["near_null"] is None and no_tol["stale"] is None


def test_upsert_latest_tie_prefers_update(spark):
    from commodity_price_forecasting_spark.operators.cleaning import upsert_latest

    base = spark.createDataFrame(
        [(1, 10, 100.0), (2, 10, 200.0)], ["k", "v", "x"]
    )
    updates = spark.createDataFrame(
        [(1, 10, 111.0), (3, 5, 300.0)], ["k", "v", "x"]
    )
    out = {r["k"]: r["x"] for r in upsert_latest(base, updates, ["k"], "v").collect()}
    assert out == {1: 111.0, 2: 200.0, 3: 300.0}  # tie at v=10 -> update wins


def test_ewma_matches_pandas(spark):
    import pandas as pd

    from commodity_price_forecasting_spark.operators.timeseries import ewma_by_group

    rng = np.random.default_rng(21)
    pdf = pd.DataFrame(
        {
            "k": [1] * 50 + [2] * 50,
            "d": pd.to_datetime(list(pd.date_range("2024-01-01", periods=50)) * 2),
            "v": rng.normal(size=100).cumsum(),
        }
    )
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(pdf).select("k", F.to_date("d").alias("d"), "v")
    out = (
        ewma_by_group(sdf, "k", "d", "v", alpha=0.3)
        .toPandas()
        .sort_values(["k", "d"])
        .reset_index(drop=True)
    )
    for key in (1, 2):
        want = (
            pdf[pdf["k"] == key].sort_values("d")["v"].ewm(alpha=0.3, adjust=True)
        )
        got = out[out["k"] == key]
        assert np.allclose(got["ewma"].to_numpy(), want.mean().to_numpy(), atol=1e-9)
        vol_w = want.std().to_numpy()
        vol_g = got["ew_vol"].to_numpy()
        mask = ~np.isnan(vol_w)
        assert np.allclose(vol_g[mask], vol_w[mask], atol=1e-9)
        assert np.isnan(vol_g[~mask]).all()


def test_connected_components_known_graph(spark):
    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components,
    )

    # components: {1,2,3,4} (chain), {7,8}, isolated-with-self? none
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], ["doc_a", "doc_b"]
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_connected_components_degenerate_inputs(spark):
    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "doc_a LONG, doc_b LONG")
    assert connected_components(empty, "doc_a", "doc_b").count() == 0
    # self-loop plus a normal edge: self-loop must not distort labels
    edges = spark.createDataFrame([(5, 5), (5, 6)], ["doc_a", "doc_b"])
    out = {
        r["node"]: r["component"]
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    assert out == {5: 5, 6: 5}


def test_connected_components_long_chain(spark):
    """Diameter >> 2: a 200-node path must come out as ONE component
    labelled by its minimum node — plain 1-hop label propagation would
    need ~200 rounds to get there."""
    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
    )
    out = connected_components(edges, "doc_a", "doc_b").collect()
    assert len(out) == 201
    assert {r["component"] for r in out} == {0}


def _union_find_components(edges):
    """Pure-Python reference: ``{node: min node id of its component}``
    for every node that appears in an edge (self-loops included)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


def test_connected_components_random_graph_vs_union_find(spark):
    import random

    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(180)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find_components(edges)

    out = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, ["doc_a", "doc_b"]), "doc_a", "doc_b"
        ).collect()
    }
    assert out == want


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components,
    )

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        edges = spark.createDataFrame([(1, 2), (2, 3), (9, 10)], ["doc_a", "doc_b"])
        out = {
            r["node"]: r["component"]
            for r in connected_components(edges, "doc_a", "doc_b").collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 9: 9, 10: 9}
    finally:
        spark.sparkContext.setCheckpointDir(None)


def test_doc_chunking_every_chunk_covers_tokens(spark):
    """Chunk-plan invariants on the real fixture: every chunk covers
    >=1 token (no phantom final chunk past the document end), windows
    tile the doc (last end_tok == n_tokens), and the chunk count is
    the standard sliding-window count 1 + ceil(max(n-256,0)/192)."""
    import math

    from commodity_price_forecasting_spark.plans.queries_datapipe import (
        doc_chunking,
    )

    out = doc_chunking(spark, "/root/testdata/sf0.001").toPandas()
    assert (out["chunk_tokens"] >= 1).all()
    assert (out["start_tok"] < out["end_tok"]).all()
    # reconstruct n_tokens per doc from the clamped last window
    for doc_id, grp in out.groupby("doc_id"):
        n_tokens = int(grp["end_tok"].max())
        want = 1 + math.ceil(max(n_tokens - 256, 0) / 192)
        assert len(grp) == want, f"doc {doc_id}: {len(grp)} chunks, want {want}"


def test_connected_components_star_matches_halving(spark):
    """The large-star/small-star loop must produce EXACTLY the
    (node, component) labelling of a pure-Python union-find on random
    graphs, chains, self-loops, and empty input."""
    import random

    from commodity_price_forecasting_spark.operators.dedup import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "doc_a LONG, doc_b LONG")
    assert connected_components_star(empty, "doc_a", "doc_b").count() == 0

    loops = spark.createDataFrame([(5, 5), (5, 6)], ["doc_a", "doc_b"])
    out = {
        r["node"]: r["component"]
        for r in connected_components_star(loops, "doc_a", "doc_b").collect()
    }
    assert out == {5: 5, 6: 5}

    chain = spark.createDataFrame([(i, i + 1) for i in range(120)], ["doc_a", "doc_b"])
    stats: dict = {}
    out_rows = connected_components_star(chain, "doc_a", "doc_b", stats=stats).collect()
    assert len(out_rows) == 121
    assert {r["component"] for r in out_rows} == {0}
    assert stats["iterations"] <= 12  # O(log n) rounds on a 120-chain

    rng = random.Random(13)
    edges = [(rng.randrange(250), rng.randrange(250)) for _ in range(160)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    want = _union_find_components(edges)
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(df, "doc_a", "doc_b").collect()
    }
    assert got == want


def test_containment_flags_quote_inclusion_pair(spark):
    """A short doc fully quoted inside a long one must flag
    containment_dup (containment ≈ 1, Jaccard < 0.5), while two
    near-identical docs flag near_dup — the asymmetric case the
    Jaccard-only gate misses, on a fixture built to exhibit both."""
    from commodity_price_forecasting_spark.operators.dedup import (
        char_shingles,
        containment_scores,
    )

    short = "the quick brown fox jumps over the lazy dog"
    long_doc = (
        "completely unrelated preamble text goes here first and then "
        + short
        + " and afterwards a long unrelated tail keeps going on and on"
    )
    docs = spark.createDataFrame(
        [
            (1, short),
            (2, long_doc),
            (3, short + "!"),  # near-identical to doc 1
        ],
        ["doc_id", "text"],
    )
    sh = char_shingles(docs, k=5)
    cand = spark.createDataFrame(
        [(1, 2), (1, 3)], ["doc_a", "doc_b"]
    )
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_scores(sh, cand).collect()
    }
    quote = out[(1, 2)]
    assert quote["containment_a"] == 1.0  # every shingle of 1 is in 2
    assert quote["jaccard"] < 0.5
    assert quote["dup_kind"] == "containment_dup"
    near = out[(1, 3)]
    assert near["jaccard"] >= 0.5
    assert near["dup_kind"] == "near_dup"


def _numpy_pagerank_deltas(edges, iters=6):
    """Reference power iteration; returns (per-iteration L1 deltas,
    final rank dict)."""
    from collections import defaultdict

    import numpy as np

    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    adj = defaultdict(list)
    for a, b in edges:
        adj[idx[a]].append(idx[b])
        adj[idx[b]].append(idx[a])
    n = len(nodes)
    deg = np.array([len(adj[i]) for i in range(n)], float)
    r = np.full(n, 1.0 / n)
    deltas = []
    for _ in range(iters):
        nxt = np.full(n, 0.15 / n)
        for i in range(n):
            nxt[np.array(adj[i], int)] += 0.85 * r[i] / deg[i]
        deltas.append(float(np.abs(nxt - r).sum()))
        r = nxt
    return deltas, {v: r[idx[v]] for v in nodes}


def test_pagerank_convergence_on_candidate_graph(spark):
    """Why graph_pagerank's 3 iterations suffice ON ITS GRAPH: every
    LSH bucket is a clique, so components are near-regular and the
    uniform init is (numerically) already the stationary vector — the
    measured L1 delta after ONE round is ≤ 1e-12 (observed ~1e-17 at
    sf0.001 and sf0.01). Also pins the Spark loop's iterate-3 ranks
    to the numpy reference at 6 dp."""
    from collections import defaultdict

    from commodity_price_forecasting_spark.operators.similarity import (
        lsh_buckets,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    b = lsh_buckets(
        load_table(spark, "/root/testdata/sf0.001", "embeddings"), n_planes=8
    )
    buck = defaultdict(list)
    for r in b.select("vec_id", "bucket").collect():
        buck[r["bucket"]].append(r["vec_id"])
    edges = set()
    for vs in buck.values():
        vs = sorted(vs)
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                edges.add((vs[i], vs[j]))
    deltas, ref = _numpy_pagerank_deltas(edges, iters=4)
    assert deltas[0] <= 1e-12, deltas  # converged at init: clique graph
    assert deltas[3] <= 1e-12, deltas
    from commodity_price_forecasting_spark.plans.registry import load_all

    got = {
        r["vec_id"]: r["pagerank"]
        for r in load_all()["graph_pagerank"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(got) == set(ref)
    for v, pr in got.items():
        assert abs(pr - round(ref[v], 6)) <= 1e-6, v


def test_pagerank_contraction_on_irregular_graph(spark):
    """On a graph where uniform init is NOT stationary (a star plus a
    path), the per-iteration L1 delta must contract by ≥ the damping
    factor (δ_{t+1} ≤ 0.85·δ_t + ulp) — the bound that makes any
    fixed iteration count a computable residual: after t rounds the
    distance to the fixed point is ≤ 0.85^t/(1−0.85)·δ₁. The Spark
    loop (operators/dedup.pagerank_ranks) must track the numpy
    reference at every probed depth."""
    from commodity_price_forecasting_spark.operators.dedup import (
        pagerank_ranks,
    )

    # star 0–{1..5} plus path 6–7–8 (degrees 5,1,1,1,1,1,1,2,1)
    edges = [(0, i) for i in range(1, 6)] + [(6, 7), (7, 8)]
    deltas, ref = _numpy_pagerank_deltas(edges, iters=6)
    assert deltas[0] > 1e-3  # genuinely not converged at init
    for t in range(len(deltas) - 1):
        assert deltas[t + 1] <= 0.85 * deltas[t] + 1e-12, deltas
    dir_edges = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
        "src long, dst long",
    )
    for iters in (1, 3, 6):
        _, ref_t = _numpy_pagerank_deltas(edges, iters=iters)
        got = {
            r["v"]: r["rank"]
            for r in pagerank_ranks(dir_edges, iters=iters).collect()
        }
        for v, pr in got.items():
            assert abs(pr - ref_t[v]) <= 1e-12, (iters, v)


def _numpy_pagerank_directed(edges, iters):
    """Reference STANDARD PageRank on a raw directed edge list: node
    set = src ∪ dst, dangling (out-degree-0) mass redistributed
    uniformly each round. Returns the final rank dict."""
    from collections import defaultdict

    import numpy as np

    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    out = defaultdict(list)
    for a, b in edges:
        out[idx[a]].append(idx[b])
    n = len(nodes)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dm = sum(r[i] for i in range(n) if not out[i])
        nxt = np.full(n, 0.15 / n) + 0.85 * dm / n
        for i in range(n):
            if out[i]:
                nxt[np.array(out[i], int)] += 0.85 * r[i] / len(out[i])
        r = nxt
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_directed_sinks_and_dangling_mass(spark):
    """r6 ADVICE (medium): on a genuinely DIRECTED edge list the node
    set must include sink nodes (appearing only as dst) and the rank
    mass parked on dangling nodes must be redistributed — otherwise
    ranks leak and don't sum to 1. Graph: a chain 0→1→2 into a sink,
    a hub 3→{2,4}, and an isolated-source edge 5→0; nodes 2 and 4 are
    pure sinks that the old src-only node set silently dropped."""
    from commodity_price_forecasting_spark.operators.dedup import (
        pagerank_ranks,
    )

    edges = [(0, 1), (1, 2), (3, 2), (3, 4), (5, 0)]
    dir_edges = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 3, 5):
        ref = _numpy_pagerank_directed(edges, iters)
        got = {
            r["v"]: r["rank"]
            for r in pagerank_ranks(dir_edges, iters=iters).collect()
        }
        assert set(got) == set(ref), "sink nodes must be ranked"
        for v, pr in got.items():
            assert abs(pr - ref[v]) <= 1e-12, (iters, v)
        assert abs(sum(got.values()) - 1.0) <= 1e-12, iters


def test_lsh_star_pairs_bound_and_edge_subset(spark):
    """r8: star candidates are (a) bounded by n·bands, (b) always
    anchored at the bucket min (doc_a < doc_b), and (c) the verified
    star EDGES are a subset of the all-pairs edges — the documented
    recall trade, in the subset direction only."""
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.dedup import (
        band_signatures,
        char_shingles,
        estimated_jaccard,
        lsh_candidate_pairs,
        lsh_star_pairs,
        minhash_wide,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n_docs = docs.count()
    sh = char_shingles(docs, k=5, distinct=False)
    wide = minhash_wide(sh, num_hashes=12).cache()
    bands = band_signatures(wide, num_hashes=12, rows_per_band=3)
    star = lsh_star_pairs(bands).cache()
    allp = lsh_candidate_pairs(bands)

    n_star = star.count()
    assert 0 < n_star <= n_docs * 4  # 12 hashes / 3 rows = 4 bands
    assert star.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0

    def edge_set(cand):
        return {
            (r["doc_a"], r["doc_b"])
            for r in estimated_jaccard(wide, cand, num_hashes=12)
            .filter(F.col("est_jaccard") >= 0.5)
            .collect()
        }

    star_edges, all_edges = edge_set(star), edge_set(allp)
    assert star_edges and star_edges <= all_edges
    wide.unpersist()
    star.unpersist()


def test_pii_redact_ordering_and_placeholder_inertness(spark):
    """r8: redaction order is load-bearing — an SSN-shaped id must
    become <ID>, not <PHONE> (it matches both patterns), and
    placeholders must not be re-matched by later patterns."""
    from commodity_price_forecasting_spark.operators.textops import pii_redact

    df = spark.createDataFrame(
        [
            (1, "reach me at a.b+c@mail.example.co or 123-45-6789"),
            (2, "server 192.168.001.9 then call +44 (0) 7700-900123"),
            (3, "no pii here at all"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert rows[1]["redacted"] == "reach me at <EMAIL> or <ID>"
    assert rows[1]["n_email"] == 1 and rows[1]["n_id"] == 1
    # the SSN also counts as a phone-shaped run in the RAW text —
    # audit counts measure pattern exposure, not disjoint classes
    assert rows[1]["n_phone"] == 1 and rows[1]["n_ip"] == 0
    assert rows[2]["redacted"] == "server <IP> then call <PHONE>"
    assert rows[2]["n_ip"] == 1 and rows[2]["n_phone"] == 1
    assert rows[3]["redacted"] == "no pii here at all"
    assert rows[4]["redacted"] is None


def test_pii_checksum_gate_luhn_and_iban(spark):
    """r9: checksum-gated classes — a Luhn-valid card (contiguous or
    separator-grouped) becomes <CC> and a mod-97-valid IBAN becomes
    <IBAN>; checksum-FAILING lookalikes survive the gate and fall
    through to the coarse phone class. Known vectors: 4111111111111111
    (valid test PAN), DE89370400440532013000 (valid IBAN from the ISO
    13616 example family)."""
    from commodity_price_forecasting_spark.operators.textops import pii_redact

    df = spark.createDataFrame(
        [
            (1, "pay 4111111111111111 now"),
            (2, "pay 4111 1111 1111 1111 or 4012-8888-8888-1881 now"),
            (3, "pay 4111111111111112 now"),
            (4, "acct DE89370400440532013000 end"),
            (5, "acct DE21370400440532013000 end"),
            (6, "GB82WEST12345698765432 and GB82WEST12345698765431"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert rows[1]["redacted"] == "pay <CC> now"
    assert rows[1]["n_cc"] == 1 and rows[1]["n_cc_valid"] == 1
    assert rows[2]["redacted"] == "pay <CC> or <CC> now"
    assert rows[2]["n_cc"] == 2 and rows[2]["n_cc_valid"] == 2
    # invalid check digit: not a card; the digit run still redacts as
    # the coarse phone class (exposure, not silence)
    assert rows[3]["redacted"] == "pay <PHONE> now"
    assert rows[3]["n_cc"] == 1 and rows[3]["n_cc_valid"] == 0
    assert rows[4]["redacted"] == "acct <IBAN> end"
    assert rows[4]["n_iban"] == 1 and rows[4]["n_iban_valid"] == 1
    assert rows[5]["redacted"] == "acct DE<PHONE> end"
    assert rows[5]["n_iban"] == 1 and rows[5]["n_iban_valid"] == 0
    # letters inside the BBAN exercise the A-Z=10..35 mapping; the
    # invalid sibling keeps its letter prefix, loses its digit tail
    assert rows[6]["redacted"] == "<IBAN> and GB82WEST<PHONE>"
    assert rows[6]["n_iban"] == 2 and rows[6]["n_iban_valid"] == 1


def test_near_dup_candidates_dispatch_and_equality(spark):
    """The two LSH candidate lanes on one band table: the all-pairs
    lane finds candidates on a corpus of near-copies, and the star
    lane's pairs are a subset of them (star keeps only the edges to
    each bucket's representative)."""
    from commodity_price_forecasting_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, ("alpha beta gamma delta " * 4) + ("x" if i % 3 else "")) for i in range(24)],
        "doc_id long, text string",
    )
    sh = D.char_shingles(docs, distinct=False)
    bands = D.band_signatures(D.minhash_wide(sh))

    allp = sorted(tuple(r) for r in D.lsh_candidate_pairs(bands).collect())
    star = sorted(tuple(r) for r in D.lsh_star_pairs(bands).collect())
    assert allp
    assert set(star) <= set(allp)


def test_profiling_rejects_bad_arguments_before_any_job(spark):
    """Degenerate profiling arguments raise a ValueError naming the
    argument when the frame is built — not a DIVIDE_BY_ZERO at
    collect(), a silently empty histogram, a bucket of -3, a bare
    ZeroDivisionError, an empty aggregate, a null profile of every
    column, or two output columns both named p12."""
    import pytest as _pytest

    from commodity_price_forecasting_spark.operators.profiling import (
        describe_long,
        histogram_fixed,
        null_profile,
        quantile_summary,
    )

    df = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    for lo, hi in ((1.0, 1.0), (5.0, 1.0)):
        with _pytest.raises(ValueError, match="lo must be < hi"):
            histogram_fixed(df, "x", lo, hi)
    for nbins in (0, -2):
        with _pytest.raises(ValueError, match="nbins"):
            histogram_fixed(df, "x", 0.0, 10.0, nbins)
    for fn in (describe_long, quantile_summary, null_profile):
        with _pytest.raises(ValueError, match="cols"):
            fn(df, [])
    with _pytest.raises(ValueError, match="duplicate column names"):
        quantile_summary(df, ["x"], probs=(0.125, 0.12))
    for probs in ((-0.1,), (0.5, 1.5), ()):
        with _pytest.raises(ValueError, match="probs"):
            quantile_summary(df, ["x"], probs=probs)

    # valid arguments are unchanged: 3 equal-width buckets, quartiles
    hist = {r["bucket"]: r["n"] for r in histogram_fixed(df, "x", 0.0, 9.0, 3).collect()}
    assert hist == {0: 3, 1: 3, 2: 4}
    assert quantile_summary(df, ["x"]).columns == ["col_name", "p25", "p50", "p75"]


def test_substring_remove_collapses_duplicated_mass(spark):
    """r9 VERDICT ask #5: ExactSubstr removal must (a) preserve every
    doc (one output row per input), (b) keep the FIRST occurrence of
    each duplicated span and remove the rest, and (c) collapse the
    duplicated-k-gram mass when the coverage statistic is recomputed
    on the cleaned output (residue only from splice-created grams)."""
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.dedup import (
        substring_remove,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    SF_SMOKE = "/root/testdata/sf0.001"

    k = 8
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")

    def dup_occurrences(frame):
        arr = F.split(F.trim(F.col("text")), " +")
        base = (
            frame.select("doc_id", arr.alias("l"))
            .filter(F.size("l") >= k)
        )
        gram = F.concat_ws(
            " ", *[F.element_at(F.col("l"), F.col("pos") + i) for i in range(k)]
        )
        occ = base.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("l") - (k - 1))).alias("pos"),
            "l",
        ).select(F.md5(gram.cast("binary")).alias("gh"))
        per = occ.groupBy("gh").agg(F.count(F.lit(1)).alias("c"))
        row = per.agg(
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, F.col("c") - 1)), F.lit(0)
            ).alias("removable")
        ).first()
        return int(row["removable"])

    before = dup_occurrences(docs)
    assert before > 0, "fixture must contain duplicated spans"
    cleaned = substring_remove(docs, k=k).cache()
    assert cleaned.count() == docs.count()
    # removal is conservative of the first occurrence: total tokens
    # removed equals the before-duplicate mass only when spans don't
    # overlap; at minimum SOMETHING was removed and nothing went
    # negative
    stats = cleaned.agg(
        F.sum("n_removed").alias("rm"), F.min("n_removed").alias("mn")
    ).first()
    assert stats["rm"] > 0 and stats["mn"] >= 0
    after = dup_occurrences(
        cleaned.select("doc_id", F.col("clean_text").alias("text"))
    )
    # ~0: splice-created grams may leave crumbs, but the duplicated
    # mass must collapse by >=90%
    assert after <= max(1, before // 10), (before, after)
    cleaned.unpersist()


def test_substring_remove_keeps_first_occurrence_exactly(spark):
    """Two docs sharing a long span: the smaller doc_id keeps it
    verbatim, the larger loses exactly that span; a third unrelated
    doc is untouched; a doc shorter than k passes through."""
    from commodity_price_forecasting_spark.operators.dedup import (
        substring_remove,
    )

    span = " ".join(f"w{i}" for i in range(10))  # 10 tokens >= k=8
    rows = [
        (1, "alpha beta " + span + " gamma"),
        (2, "delta " + span + " epsilon zeta"),
        (3, "totally unrelated text with many distinct tokens here"),
        (4, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in substring_remove(docs, k=8).collect()
    }
    assert out[1]["clean_text"] == rows[0][1]
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "delta epsilon zeta"
    assert out[2]["n_removed"] == 10
    assert out[3]["clean_text"] == rows[2][1]
    assert out[4]["clean_text"] == "short doc"
    assert out[4]["n_tokens"] == 2


def test_bpe_pretokenizer_matches_python_re_and_bounds(spark):
    """The BPE-ish pretoken count (one JVM regexp pass) must equal a
    plain-python re reference on the fixture texts and always be >=
    the whitespace word count (pretokenization only splits finer)."""
    import re

    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.textops import (
        BPE_PRETOKEN_RE,
        bpe_ish_token_count,
    )
    from commodity_price_forecasting_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    got = {
        r["doc_id"]: (r["bpe"], r["ws"])
        for r in docs.select(
            "doc_id",
            bpe_ish_token_count(F.col("text")).alias("bpe"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit("[^ \\t\\n]+"), 0)
            ).alias("ws"),
        ).collect()
    }
    pat = re.compile(BPE_PRETOKEN_RE)
    for r in docs.select("doc_id", "text").collect():
        want = len(pat.findall(r["text"]))
        bpe, ws = got[r["doc_id"]]
        assert bpe == want, r["doc_id"]
        assert bpe >= ws
    assert len(got) == 50


# --- hypothesis: STCS planner + marker-rollup predicates (r14) ----------
# Pure-python store-maintenance kernels whose invariants the compactor's
# correctness and TERMINATION rest on — pinned over adversarial size
# distributions, not just the hand-picked cases in
# tests/test_store_maintenance.py.


@given(
    st.dictionaries(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Nd"), max_codepoint=0x7F
            ),
            min_size=1,
            max_size=8,
        ),
        st.integers(min_value=0, max_value=10**15),
        max_size=40,
    ),
    st.integers(min_value=2, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_size_tier_plan_invariants(sizes, fanout):
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        _size_tier_plan,
    )

    plan = _size_tier_plan(sizes, fanout=fanout)
    flat = [p for b in plan for p in b]
    # buckets are disjoint subsets of the NONZERO partitions
    assert len(flat) == len(set(flat))
    assert all(sizes[p] > 0 for p in flat)
    # every returned bucket is mergeable (the compactor's while-loop
    # terminates because executing groups[0] replaces >= fanout live
    # partitions with ONE, strictly decreasing the live count)
    assert all(len(b) >= fanout for b in plan)
    # buckets come smallest-first and are internally size-coherent:
    # every member is <= 2x the running mean of the members before it
    # (the planner's own admission rule, re-checked from the outside)
    for b in plan:
        ordered = sorted(b, key=lambda p: (sizes[p], p))
        assert ordered == b
        mean = float(sizes[b[0]])
        for p in b[1:]:
            assert sizes[p] <= 2.0 * mean
            mean = (mean * b.index(p) + sizes[p]) / (b.index(p) + 1)
    if len(plan) > 1:
        assert all(
            sizes[plan[i][0]] <= sizes[plan[i + 1][0]]
            for i in range(len(plan) - 1)
        )
    # determinism (the health report and the compactor must agree)
    assert _size_tier_plan(dict(sizes), fanout=fanout) == plan


@given(
    st.dictionaries(
        st.text(alphabet="abcdef0123456789", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=10**9),
        min_size=0,
        max_size=12,
    )
)
@settings(max_examples=100, deadline=None)
def test_size_tier_plan_merge_strictly_decreases_live_count(sizes):
    """Simulate the compactor's pass loop driver-side: execute
    groups[0] as one merged partition of the summed size, repeat.
    Must terminate with no tier holding >= fanout similar partitions
    — the while-True loop's termination property."""
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        _size_tier_plan,
    )

    live = dict(sizes)
    gen = 0
    for _ in range(len(sizes) + 2):  # bound: each pass removes >= 3
        plan = _size_tier_plan(live, fanout=4)
        if not plan:
            break
        n_before = len(live)
        merged = plan[0]
        total = sum(live.pop(p) for p in merged)
        live[f"c{gen}"] = total
        gen += 1
        assert len(live) < n_before
    else:
        raise AssertionError("compaction pass loop failed to terminate")
    assert _size_tier_plan(live, fanout=4) == []
