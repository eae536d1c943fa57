"""Similarity search over embedding columns (beyond-reference
extension, BASELINE.json north star): brute-force cosine top-k as the
exact baseline, sign-random-projection (hyperplane LSH) bucketing as
the scale path.

Scale design: brute force is O(n) per query with the query vector
broadcast — right for one-off queries; the LSH variant buckets the
corpus ONCE (shuffle on an 8-bit signature) so repeated queries probe
~n/256 of the data, and near-dup joins meet only within buckets.

Determinism: hyperplane coefficients are ±1 derived from md5 parity
of (plane, dim) — identical in any engine, no RNG state. Dot products
use built-in higher-order functions (``zip_with`` + ``aggregate``),
JVM-side, no Python in the row path.

Every operator reads the embeddings table's ``vec_id``/``embedding``
columns.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (whole-stage codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


#: Largest known array dimension the unrolled (codegen) dot/norm
#: helpers below will expand before falling back to the interpreted
#: fold. Spark's higher-order functions (``aggregate``/``zip_with``/
#: ``transform``) are CodegenFallback — evaluated per element through
#: boxed ``eval`` calls — so a dot product keyed on a KNOWN dim is
#: instead emitted as the explicit left-deep chain
#: ``((0.0 + a[0]·b[0]) + a[1]·b[1]) + …`` (one ``F.expr`` parse, no
#: per-term py4j traffic), which whole-stage codegen compiles into
#: straight-line arithmetic. Same products, same left-to-right
#: accumulation order, correctly-rounded IEEE ops on both paths ⇒
#: bit-identical to the fold (pinned in tests/test_retrieval.py).
#: The bound exists because ONE generated Java method carries the
#: whole chain (it references columnar-scan locals, which blocks
#: Spark's expression splitting): janino hard-fails methods over
#: 64 KB of bytecode — measured at k·d = 1024 terms in one projection
#: (r16) — and a ~40-byte-bytecode term puts d = 256 (≈3 such dots
#: per expression) comfortably under it. This is also why the k-seed
#: ASSIGNMENT keeps the fold: k·d terms in one expression crosses the
#: janino limit at k = 16·d = 64 already (measured: compile failure +
#: interpreted fallback ran 5× SLOWER than the fold). HotSpot refuses
#: to JIT methods over 8 KB bytecode (-XX:-DontCompileHugeMethods is
#: set in session.py for exactly this), so the unrolled forms stay
#: JIT-compiled.
_UNROLL_MAX_DIM = 256


def _sql_name(col: str) -> str:
    return "`" + col.replace("`", "``") + "`"


def _sql_double(x: float) -> str:
    """Exact SQL double literal: shortest-roundtrip repr parses back
    to the same IEEE-754 double (both Python's repr and the JVM parse
    are correctly rounded)."""
    r = repr(float(x))
    if "e" in r or "E" in r or "inf" in r or "nan" in r:
        return f"CAST('{r}' AS DOUBLE)"
    return r + "D"


def _dot_cols_sql(a: str, b: str, dim: int) -> str:
    """``_dot`` unrolled over two array COLUMNS at a known dim."""
    an, bn = _sql_name(a), _sql_name(b)
    terms = "".join(
        f" + (CAST(get({an}, {i}) AS DOUBLE) * CAST(get({bn}, {i}) AS DOUBLE))"
        for i in range(dim)
    )
    return "(0.0D" + terms + ")"


def _dot_lit_sql(a: str, vals: list[float]) -> str:
    """``_dot`` unrolled over an array COLUMN × a LITERAL vector."""
    an = _sql_name(a)
    terms = "".join(
        f" + (CAST(get({an}, {i}) AS DOUBLE) * {_sql_double(v)})"
        for i, v in enumerate(vals)
    )
    return "(0.0D" + terms + ")"


def _norm_sql(a: str, dim: int) -> str:
    """``_norm`` unrolled over an array COLUMN at a known dim."""
    an = _sql_name(a)
    terms = "".join(
        f" + (CAST(get({an}, {i}) AS DOUBLE) * CAST(get({an}, {i}) AS DOUBLE))"
        for i in range(dim)
    )
    return "SQRT((0.0D" + terms + "))"


def _cosine_to_query(vec_col: str, q: list[float]) -> Column:
    """UNROUNDED cosine of an array COLUMN to a LITERAL query vector.
    Known-dim path: codegen'd unrolled dot over the column × the query
    literals, column norm unrolled, query norm a PYTHON-computed
    literal — bit-identical to the fold form (same products, same
    left-to-right accumulation; Python's ``math.sqrt`` and the JVM's
    are both correctly-rounded IEEE-754 — the r15 seed-norm argument,
    oracle-hash-verified then and re-verified r16). Falls back to the
    interpreted fold above ``_UNROLL_MAX_DIM``."""
    import math

    dim = len(q)
    if dim > _UNROLL_MAX_DIM:
        qcol = F.array(*[F.lit(float(x)) for x in q])
        return _dot(F.col(vec_col), qcol) / (
            _norm(F.col(vec_col)) * _norm(qcol)
        )
    qn = math.sqrt(sum(float(x) * float(x) for x in q))
    return F.expr(_dot_lit_sql(vec_col, [float(x) for x in q])) / (
        F.expr(_norm_sql(vec_col, dim)) * F.lit(qn)
    )


def _residual_cols(a: str, b: str, dim: int | None) -> Column:
    """``zip_with(a, b, x.cast('double') − y)`` — the residual
    v − seed(cell) — unrolled into a codegen-able array constructor
    when ``dim`` is known (identical element values and positions; the
    fold's null-padding beyond the shorter side can only differ on
    mixed-dim corpora, which every caller validates against); the
    interpreted zip_with otherwise."""
    if dim is None or dim > _UNROLL_MAX_DIM:
        return F.zip_with(
            F.col(a), F.col(b), lambda x, y: x.cast("double") - y
        )
    an, bn = _sql_name(a), _sql_name(b)
    elems = ", ".join(
        f"(CAST(get({an}, {i}) AS DOUBLE) - get({bn}, {i}))"
        for i in range(dim)
    )
    return F.expr(f"array({elems})")


def _residuals(
    df: DataFrame,
    seeds: list[tuple[int, list[float]]],
    key: str,
    cell: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """``(key, cell, _res)``: every row's residual v − seed(cell), the
    seed list broadcast as a ``(_sid, _svec)`` frame and joined on
    ``cell``."""
    seed_df = df.sparkSession.createDataFrame(
        [(int(s), [float(x) for x in v]) for s, v in seeds],
        "_sid long, _svec array<double>",
    )
    return df.join(F.broadcast(seed_df), F.col(cell) == F.col("_sid")).select(
        key, cell, _residual_cols(vec_col, "_svec", dim).alias("_res")
    )


# --- seed routing: one definition per rule --------------------------------
#
# Every IVF / IVF-PQ / SemDeDup lane routes vectors to md5-ordered
# seeds by the same total order: the cosine to each seed, HALF_UP-
# rounded to 6 dp, highest first, ties to the smallest seed id. The
# helpers below are the only places that order is written down —
# driver-side (``_probe_seeds``), as a column expression
# (``_seed_cosines``) and in numpy (``_nearest_seeds``).


def _seed_frame(vectors: DataFrame, k: int) -> DataFrame:
    """The k-row seed frame: vectors with the smallest ``md5(id)``
    (total order (md5(id), id)) — THE single source of the seed
    derivation rule, shared by the collecting helper below and the
    distributed ``seed_routing_frame`` so the routings can never
    silently diverge. NOTE the GlobalLimit materializes through one
    partition; small-k callers don't care, extreme-k callers
    repartition afterwards (see ``seed_routing_frame``)."""
    return (
        vectors.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
    )


def _semdedup_seeds(
    vectors: DataFrame, k: int | None
) -> list[tuple[int, list[float]]]:
    """The k seeds as a driver-side list: the IVF coarse centers of
    ``ivf_seed_assign`` and the SemDeDup cluster centers (0-iteration
    kmeans init — engine-reproducible). ``k=None`` auto-scales to
    ⌈√n⌉ (one extra count job)."""
    if k is None:
        import math

        k = max(16, math.isqrt(max(vectors.count(), 1)))
    seeds_rows = _seed_frame(vectors, k).collect()
    return [(int(r[0]), [float(x) for x in r[1]]) for r in seeds_rows]


def _round6(x):
    """HALF_UP 6-dp rounding — sign·floor(|x|·1e6 + 0.5)/1e6 — on a
    numpy array or a driver-side scalar, matching Spark's ``F.round``
    (BigDecimal HALF_UP) and the DuckDB oracle's ``ROUND`` (half away
    from zero) away from the last-ulp midpoint band. Python's builtin
    ``round`` is banker's (half-to-even) and would pick a DIFFERENT
    probe cell on an exact 6-dp cosine tie (r8 ADVICE)."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _check_n_probe(n_probe: int) -> None:
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1: {n_probe}")


def _probe_seeds(
    seeds: list[tuple[int, list[float]]], q: list[float], n_probe: int
) -> list[tuple[int, list[float]]]:
    """Driver-side query routing: the ``n_probe`` seeds nearest ``q``
    under the seed-routing order (a zero-norm side scores 0.0) — the
    KB routing table sorted on the driver, one tiny Python loop per
    query."""
    import math

    _check_n_probe(n_probe)
    if not seeds:
        raise ValueError("_probe_seeds: empty seed list")
    qn = math.sqrt(sum(x * x for x in q))

    def rank(seed: tuple[int, list[float]]) -> tuple:
        sid, v = seed
        vn = math.sqrt(sum(x * x for x in v))
        c = sum(x * y for x, y in zip(v, q)) / (vn * qn) if vn and qn else 0.0
        return (-_round6(c), sid)

    return sorted(seeds, key=rank)[:n_probe]


#: largest k·d (seed floats) the fold lane will embed as a plan
#: literal — the array-of-arrays literal and the k-element transform
#: land in the SQL plan text, and plan build/analysis time grows with
#: them (the r5 py4j plan-build stall was this shape at per-element
#: lit granularity; the single array literal moved the cliff, it did
#: not remove it). 2^20 doubles ≈ 8 MiB of plan — at d=64 that is
#: k=16,384 = a ⌈√n⌉-sized seed set for n ≈ 2.7·10^8 vectors, far
#: past the fold lane's measured practical range (Θ(n^1.5) scalar
#: folds). Fail with the fix named rather than stall mid-plan-build.
#: (r7 VERDICT ask #7)
MAX_FOLD_SEED_LITERALS = 1 << 20


def _seed_cosines(seeds: list[tuple[int, list[float]]], who: str) -> Column:
    """The fold cell-scoring column: ``array<struct<c, negid>>``, one
    struct per seed in list order — ``c`` the 6-dp-rounded cosine of
    ``embedding`` to the seed, ``negid`` the negated seed id — so
    ``array_max`` is the argmax with ties to the smallest seed id and
    a descending ``sort_array`` ranks seeds in routing order. Reads the
    row norm from a hoisted ``_nv`` column (``_norm(embedding)``) the
    caller adds.

    ONE array-of-arrays literal + a higher-order ``transform`` whose
    zip_with fold reproduces the SQL oracle's Σxy arithmetic
    term-by-term in source order — per-element F.lit trees would cost
    k·dim py4j calls of driver-side plan build. Norm hoisting (r15,
    guide §1.2 per-task work): higher-order folds are CodegenFallback
    (interpreted per element), so ‖v‖ is folded once per row into
    ``_nv`` instead of once per seed, and ‖s‖ is a PYTHON-computed
    literal instead of a per-row fold — bit-identical to the folds
    they replace (same left-to-right x·x accumulation over the same
    doubles; Python's ``math.sqrt`` and the JVM's are both
    correctly-rounded IEEE-754), so every 6-dp cosine is unchanged.

    Refuses an empty seed list and more than ``MAX_FOLD_SEED_LITERALS``
    embedded seed floats, naming ``who``."""
    import math

    if not seeds:
        raise ValueError(f"{who}: empty seed list")
    n_lit = len(seeds) * len(seeds[0][1])
    if n_lit > MAX_FOLD_SEED_LITERALS:
        raise ValueError(
            f"{who}: k·d={n_lit} seed floats exceed the plan-literal "
            f"bound ({MAX_FOLD_SEED_LITERALS}); use the blas lane "
            "(assign_cells_blas: closure-shipped seeds, no plan literal)"
        )
    seed_mat = F.array(*[F.lit([float(x) for x in v]) for _sid, v in seeds])
    neg_ids = F.array(*[F.lit(-sid) for sid, _v in seeds])
    seed_norms = F.array(
        *[
            F.lit(math.sqrt(sum(float(x) * float(x) for x in v)))
            for _sid, v in seeds
        ]
    )
    return F.transform(
        seed_mat,
        lambda sv, i: F.struct(
            F.round(
                _dot(F.col("embedding"), sv)
                / (F.col("_nv") * F.element_at(seed_norms, i + 1)),
                6,
            ).alias("c"),
            F.element_at(neg_ids, i + 1).alias("negid"),
        ),
    )


def _nearest_seeds(M, Sn, sids):
    """numpy twin of ``array_max(_seed_cosines(...))``: for each row of
    ``M``, the seed id and 6-dp cosine of its nearest seed. ``Sn`` is
    the unit-normalized seed matrix with rows sorted by seed id
    (``sids``), so ``np.argmax``'s first max is the smallest-id tie
    rule. Rows are normalized BEFORE the matmul — the one fp order
    every numpy lane shares, so cross-lane equality is bit-exact
    rather than last-ulp-banded (r7 review finding: normalize-after
    diverged within ~1e-15 of 6-dp midpoints). Returns
    ``(cells, cents)``."""
    import numpy as np

    C = _round6((M / np.linalg.norm(M, axis=1, keepdims=True)) @ Sn.T)
    idx = np.argmax(C, axis=1)
    return sids[idx], C[np.arange(len(idx)), idx]


def cosine_topk(emb: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors of one corpus vector.

    The 1-row query side is broadcast; the corpus is scanned once; the
    top-k is a ``TakeOrderedAndProject`` (heap per partition + driver
    merge), never a global sort."""
    q = emb.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("_qv")
    )
    scored = (
        emb.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("embedding"), F.col("_qv"))
                / (_norm(F.col("embedding")) * _norm(F.col("_qv"))),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def hyperplane_sign(vec_col: str, plane: int, dim: int) -> Column:
    """Deterministic ±1-coefficient hyperplane projection sign for one
    plane: sign(Σ_d s(plane,d)·v_d) where s = +1 if the first md5
    nibble of "plane:d" is even else −1."""
    d = F.col("_d")
    coeff = F.when(
        F.expr(
            f"instr('0123456789abcdef', substring(md5(cast(concat('{plane}', ':', _d) as binary)), 1, 1)) % 2"
        )
        == 1,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    return coeff * F.element_at(F.col(vec_col), d).cast("double")


def lsh_buckets(emb: DataFrame, n_planes: int = 8) -> DataFrame:
    """``(vec_id, bucket)``: sign-random-projection bucket id in
    [0, 2^n_planes). Explode dims once, compute every plane's
    projection in the same aggregate (n_planes fused sums), then fold
    sign bits into an integer.
    """
    dim = emb.select(F.size("embedding").alias("_sz")).first()["_sz"]
    par = emb.sparkSession.sparkContext.defaultParallelism
    base = (
        emb.select("vec_id", F.col("embedding").alias("_v"))
        .repartition(par, "vec_id")
        .select(
            "vec_id",
            "_v",
            F.explode(F.sequence(F.lit(1), F.lit(dim))).alias("_d"),
        )
    )
    projections = [
        F.sum(hyperplane_sign("_v", p, dim)).alias(f"_proj{p}") for p in range(n_planes)
    ]
    per_vec = base.groupBy("vec_id").agg(*projections)
    bucket = sum(
        (F.col(f"_proj{p}") > 0).cast("bigint") * (2**p) for p in range(n_planes)
    )
    return per_vec.select("vec_id", bucket.cast("bigint").alias("bucket"))


def bucket_histogram(buckets: DataFrame) -> DataFrame:
    """Occupancy histogram of the LSH buckets — the index statistic
    that predicts ANN probe cost."""
    return buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))


def near_dup_pairs_cosine(
    emb: DataFrame,
    buckets: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, restricted to vectors
    sharing an LSH bucket (candidates ≪ n²), then exactly verified."""
    e = emb.select("vec_id", F.col("embedding").alias("_v"))
    withb = e.join(buckets, "vec_id")
    left = withb.select(
        F.col("bucket"), F.col("vec_id").alias("vec_a"), F.col("_v").alias("_va")
    )
    right = withb.select(
        F.col("bucket").alias("_b2"), F.col("vec_id").alias("vec_b"), F.col("_v").alias("_vb")
    )
    pairs = left.join(
        right, (F.col("bucket") == F.col("_b2")) & (F.col("vec_a") < F.col("vec_b")), "inner"
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb")))
    return (
        pairs.select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_assign(vectors: DataFrame, k: int = 16):
    """IVF (inverted-file) coarse quantization: KMeans the corpus into
    ``k`` cells; ANN search then probes only the closest cell(s)
    instead of the full corpus — the classic alternative to LSH as
    the 100 TB scale path. Returns ``(assigned_df, centers)`` where
    ``assigned_df`` adds a ``cell`` column and ``centers`` is the
    k×dim python list (broadcast-sized: k·dim floats).

    MLlib KMeans does the clustering distributed; the per-row cell
    assignment afterwards is a pure column expression over the
    broadcast centers (no Python in the scan path)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = vectors.withColumn("_v", array_to_vector(F.col("embedding")))
    km = KMeans(k=k, seed=42, featuresCol="_v", predictionCol="cell")
    model = km.fit(with_vec)
    assigned = model.transform(with_vec).drop("_v")
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centers


def ivf_seed_assign(
    vectors: DataFrame, k: int = 16
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Deterministic IVF coarse quantization: the ``k`` cell centers
    are the corpus vectors with the smallest ``md5(vec_id)`` (an
    engine-reproducible pseudo-random sample — a 0-iteration kmeans
    init; IVF does not require kmeans, only a fixed coarse quantizer).
    Every vector goes to the center with the highest 6dp-rounded
    cosine, ties to the smallest center id — fully reproducible in
    ANSI SQL, unlike the MLlib-KMeans variant (``ivf_assign``) whose
    centers depend on the clustering run.

    **Cost contract (r6 VERDICT ask #7).** The assignment is the
    plan-literal fold (``assign_to_seeds``): Θ(n·k·d) per-row
    column-expression folds — linear in n ONLY at fixed k (the
    registered query pins k=16; ANN cell counts are a recall/latency
    knob, not a function of corpus size, so fixed small k IS the IVF
    contract). A caller that scales k with n (e.g. the FAISS ``k≈√n``
    sizing rule) would inherit the Θ(n^1.5) the SemDeDup lane shed in
    r6; that caller wants ``assign_cells_blas`` (one sgemm per Arrow
    batch, same cosine rounding and tie rule), which returns the
    SemDeDup ``(_vid, _emb, cell, _cent)`` shape.

    Returns ``(assigned_df, seeds)``: every input column plus
    ``cell``, and the k×dim python seed list (broadcast-sized). No
    Python in the scan path; at 100 TB the assignment is one map-side
    pass (no shuffle)."""
    seeds = _semdedup_seeds(vectors, k)
    return assign_to_seeds(vectors, seeds), seeds


def assign_to_seeds(
    vectors: DataFrame, seeds: list[tuple[int, list[float]]]
) -> DataFrame:
    """Assign every vector to its nearest seed out of a GIVEN seed
    list (highest 6dp-rounded cosine, ties to the smallest seed id) —
    the assignment of ``ivf_seed_assign`` factored out so incremental
    index maintenance (``ivf_pq_index_append``) can route NEW vectors
    through the EXISTING coarse quantizer instead of re-deriving
    seeds from the grown corpus. Adds ``cell`` to every input column:
    the argmax of ``_seed_cosines``, one map-side pass, no shuffle."""
    return (
        vectors.withColumn("_nv", _norm(F.col("embedding")))
        .withColumn(
            "cell",
            -F.array_max(_seed_cosines(seeds, "assign_to_seeds"))["negid"],
        )
        .drop("_nv")
    )


def ivf_seed_topk(
    assigned: DataFrame,
    seeds: list[tuple[int, list[float]]],
    query: list[float],
    k: int = 10,
    n_probe: int = 2,
    exclude_id: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbours of ``query`` probing only the
    ``n_probe`` cells whose seed is nearest the query
    (``_probe_seeds``) — scans ~n_probe/k of the corpus. ``seeds`` may
    also be the trained centers of ``ivf_assign``, passed as
    ``list(enumerate(centers))``. ``exclude_id`` drops the self-match
    before the top-k (the shared-index probe convention; the
    registered query instead excludes the query from the corpus before
    assignment)."""
    probe = [sid for sid, _ in _probe_seeds(seeds, query, n_probe)]
    sim = _cosine_to_query("embedding", [float(x) for x in query])
    out = assigned.filter(F.col("cell").isin(probe))
    if exclude_id is not None:
        out = out.filter(F.col("vec_id") != exclude_id)
    return (
        out.select("vec_id", "cell", F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# --- product quantization (Jégou et al. 2011, public) --------------------


def pq_subvectors(
    vectors: DataFrame,
    m_sub: int,
    d_sub: int,
    id_col: str = "vec_id",
    out_id: str = "vec_id",
) -> DataFrame:
    """``(out_id, m, sv)``: the vector split into ``m_sub`` contiguous
    subvectors of ``d_sub`` dims (the PQ decomposition). One
    posexplode of an in-row transform — subvector assembly happens
    inside the scan partition, no shuffle."""
    # m_sub is a small plan-time constant: an explicit array of slices
    # is codegen-able where transform-over-sequence is an interpreted
    # higher-order function (CodegenFallback) — same m_sub slices in
    # the same positions (r16, guide §1.2 per-task work)
    subs = F.array(
        *[F.slice(F.col("embedding"), m * d_sub + 1, d_sub) for m in range(m_sub)]
    )
    return vectors.select(
        F.col(id_col).alias(out_id), F.posexplode(subs).alias("m", "sv")
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² via zip_with + aggregate (interpreted: higher-order
    functions are CodegenFallback — the unknown-dim fallback of
    ``_sq_l2_cols``)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_l2_cols(a: str, b: str, dim: int | None) -> Column:
    """``_sq_l2`` over two array COLUMN NAMES, unrolled into a
    codegen-able left-deep chain when ``dim`` is known (same terms,
    same accumulation order ⇒ bit-identical — see ``_UNROLL_MAX_DIM``);
    the interpreted fold otherwise."""
    if dim is None or dim > _UNROLL_MAX_DIM:
        return _sq_l2(F.col(a), F.col(b))
    an, bn = _sql_name(a), _sql_name(b)
    terms = "".join(
        f" + ((CAST(get({an}, {i}) AS DOUBLE) - CAST(get({bn}, {i}) AS DOUBLE))"
        f" * (CAST(get({an}, {i}) AS DOUBLE) - CAST(get({bn}, {i}) AS DOUBLE)))"
        for i in range(dim)
    )
    return F.expr("(0.0D" + terms + ")")


def pq_codebook_kmeans(
    vectors: DataFrame,
    n_centroids: int = 16,
    m_sub: int = 8,
) -> DataFrame:
    """TRAINED per-subspace PQ codebook — the FAISS-standard upgrade
    over the deterministic min-id codebook, added after the r9
    cross-lane recall table measured the untrained 16-entry codebook's
    ADC recall collapsing with corpus size (0.21 at 500 vectors →
    0.065 at 20k, SCALE.md r9): quantization error from a fixed
    0-iteration init swamps the true L2 gaps as density grows, which
    is exactly why production PQ trains its codebooks (Jégou et al.
    2011 §II train k-means per subspace).

    One MLlib KMeans per subspace over the corpus subvectors —
    m_sub small distributed fits (k·d_sub floats of model state
    each). Returns ``(c, m, cv)``, broadcast-sized, drop-in for the
    ``codebook=`` parameter of ``pq_distances``/``pq_adc_topk``/
    ``ivf_pq_index``. Trade, stated plainly: trained centroids are
    MLlib-run-specific (seeded → reproducible within Spark, but not
    re-derivable in ANSI SQL), so trained lanes have no DuckDB
    oracle — the registered queries keep the deterministic codebook;
    recall-critical deployments pass this one."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = vectors.sparkSession
    dim = vectors.select(F.size("embedding").alias("_sz")).first()["_sz"]
    d_sub = dim // m_sub
    sv = pq_subvectors(vectors, m_sub, d_sub).withColumn(
        "_v", array_to_vector("sv")
    )
    sv = sv.cache()
    rows: list[tuple[int, int, list[float]]] = []
    try:
        for m in range(m_sub):
            model = KMeans(
                k=n_centroids, seed=42, featuresCol="_v", predictionCol="_c"
            ).fit(sv.filter(F.col("m") == m))
            rows += [
                (ci, m, [float(x) for x in v])
                for ci, v in enumerate(model.clusterCenters())
            ]
    finally:
        sv.unpersist()
    return spark.createDataFrame(rows, "c int, m int, cv array<double>")


def pq_distances(
    vectors: DataFrame,
    n_centroids: int = 16,
    m_sub: int = 8,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """``(vec_id, m, c, d2)``: squared L2 distance from every vector's
    m-th subvector to every codebook entry's m-th subvector.

    Default codebook is deterministic: the ``n_centroids`` corpus
    vectors with the smallest ids (a 0-iteration kmeans init, like
    ``ivf_seed_assign`` — PQ requires a fixed quantizer, not a
    trained one, for the index to be reproducible across engines).
    Pass ``codebook=`` (a ``(c, m, cv)`` frame, e.g.
    ``pq_codebook_kmeans``) to quantize against trained centroids
    instead — better recall, no SQL oracle. Either way the codebook
    is ``n_centroids × m_sub`` tiny rows and BROADCASTS into the
    corpus scan; at 100 TB the distance table is one map-side pass."""
    dim = vectors.select(F.size("embedding").alias("_sz")).first()["_sz"]
    d_sub = dim // m_sub
    if codebook is None:
        seeds = (
            vectors.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(n_centroids)
        )
        codebook = pq_subvectors(seeds, m_sub, d_sub, out_id="c").select(
            "c", "m", F.col("sv").alias("cv")
        )
    sv = pq_subvectors(vectors, m_sub, d_sub)
    return sv.join(F.broadcast(codebook), "m").select(
        "vec_id", "m", "c", _sq_l2_cols("sv", "cv", d_sub).alias("d2")
    )


def pq_encode(dists: DataFrame) -> DataFrame:
    """``(vec_id, m, code)``: per subspace, the nearest codebook entry
    (min squared-L2, ties to the smallest centroid id via lexicographic
    struct min). The groupBy is keyed on (vec_id, m) — hash-partitioned,
    map-side combinable."""
    best = F.min(F.struct(F.col("d2"), F.col("c"))).alias("best")
    return (
        dists.groupBy("vec_id", "m")
        .agg(best)
        .select("vec_id", "m", F.col("best.c").alias("code"))
    )


def pq_adc_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 16,
    m_sub: int = 8,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query keeps full precision,
    the corpus is represented by PQ codes, and each candidate's
    distance is the sum over subspaces of the query→centroid lookup
    table entry for the candidate's code.

    Scale shape: the LUT is ``m_sub × n_centroids`` rows (broadcast);
    the corpus side carries only ``m_sub`` SMALL INT codes per vector
    (the 100 TB memory win PQ exists for: 64 float32 dims → 8 bytes);
    the per-vector sum is a groupBy on vec_id, map-side combinable.
    No full-precision corpus vector is touched after encoding."""
    dists = pq_distances(vectors, n_centroids, m_sub, codebook=codebook)
    codes = pq_encode(dists)
    lut = dists.filter(F.col("vec_id") == query_id).select(
        F.col("m").alias("_lm"), F.col("c").alias("_lc"), F.col("d2").alias("qd")
    )
    return (
        codes.join(
            F.broadcast(lut),
            (F.col("m") == F.col("_lm")) & (F.col("code") == F.col("_lc")),
        )
        .filter(F.col("vec_id") != query_id)
        .groupBy("vec_id")
        .agg(F.sum("qd").alias("_s"))
        .orderBy(F.asc("_s"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round(F.col("_s"), 6).alias("adc_dist"))
    )


def l2_normalize(df: DataFrame) -> DataFrame:
    """L2-normalize the ``embedding`` column in place (``array<double>`` out;
    zero vectors pass through unscaled). One fused column expression —
    map-side, codegen, no Python. The cosine-consistency device for
    ADC (r12 VERDICT ask #4): on unit vectors ‖a−b‖² = 2·(1−cosθ), so
    L2 ranking — the metric PQ codes estimate — EQUALS cosine ranking,
    the metric refine, the oracle, and every retrieval caller actually
    use. Unnormalized, the two orders diverge on norm spread, which
    the r12 refine measurement identified as a big slice of the
    0.85→0.99 low-rank ceiling gap."""
    vec = F.col("embedding")
    nrm = _norm(vec)
    return df.withColumn(
        "embedding",
        F.when(
            nrm > 0, F.transform(vec, lambda x: x.cast("double") / nrm)
        ).otherwise(F.transform(vec, lambda x: x.cast("double"))),
    )


def ivf_pq_index(
    vectors: DataFrame,
    exclude_id: int | None = None,
    k_coarse: int | str = 16,
    n_centroids: int = 16,
    m_sub: int = 8,
    codebook: str = "seed",
    coarse: str = "seed",
    normalize: bool = False,
) -> dict:
    """Materialize the IVF-PQ index (the BUILD half of
    ``ivf_pq_adc_topk``, split out per r8 VERDICT ask #2 so the
    one-off build cost and the per-query probe cost can be measured
    — and persisted — separately, the way a 100 TB deployment runs
    them). Returns a dict:

    - ``codes``: ``(vec_id, m, code)`` — m_sub small-int PQ codes per
      vector over RESIDUALS v − seed(cell) (the FAISS shape).
    - ``cells``: ``(vec_id, cell)`` — the coarse IVF assignment.
    - ``cb``: ``(c, m, cv)`` — the residual codebook's subvectors
      (n_centroids × m_sub tiny rows, broadcastable).
    - ``seeds``: the k_coarse python-list coarse centers (driver-side
      routing table, KB-sized).
    - ``res``: the cached residual frame backing all of the above
      (callers that persist codes/cells/cb to parquet can unpersist
      it; ``ivf_pq_adc_topk`` keeps it for the single-plan form).

    ``codes``+``cells`` written bucketed by cell turn every probe
    into a partition-pruned scan. ``exclude_id`` removes one row
    before seed/codebook selection (the registered query's
    leave-the-query-out convention).

    ``coarse``: ``"seed"`` (md5-min corpus vectors — deterministic,
    SQL-oracle-able, the registered shape) or ``"kmeans"`` (MLlib
    KMeans — the TRAINED coarse quantizer). The clustered-fixture
    recall measurement (SCALE.md r9 v3) is why the knob exists: on
    clustered data, md5-seed cells inherit the corpus's GLOBAL
    spread, so residuals stay large and even 256-entry trained
    codebooks can't resolve within-cluster neighbor gaps
    (recall ≤0.15); a trained coarse quantizer shrinks residuals to
    noise scale and PQ recall recovers — training the COARSE level
    matters more than training the codebooks.

    ``normalize=True`` (r12 VERDICT ask #4) L2-normalizes the corpus
    before EVERYTHING — coarse assignment (a cosine no-op: routing is
    scale-invariant), residuals, codebook, codes — making ADC rank by
    cosine exactly (see ``l2_normalize``). The flag is part of the
    index IDENTITY: persisted by ``ivf_pq_index_write``, applied to
    deltas by ``ivf_pq_index_append`` and to queries by both probes.
    The raw-L2 registered lane is ``sim_ivfpq_adc_topk``; the cosine
    lane is ``sim_ivfpq_cosine_topk``. The measured cosine deployment
    shape is ``normalize=True`` + refine (reaches the IVF-exact
    ceiling, 0.99@4 low-rank; SCALE.md r13)."""
    spark = vectors.sparkSession
    if normalize:
        vectors = l2_normalize(vectors)
    corpus = (
        vectors.filter(F.col("vec_id") != exclude_id)
        if exclude_id is not None
        else vectors
    )
    # Raise scan parallelism to the session's before the Θ(n·k·d)
    # assignment and the PQ encode (r15, guide §2.5): a small parquet
    # corpus arrives as ONE partition and — because the seed join is a
    # broadcast and the encode is map-side — EVERYTHING downstream of
    # it runs single-task (measured: two single-task jobs of 1.17 s and
    # 0.79 s owned sim_ivfpq_adc_topk's wall at sf0.1). Conditional so
    # a corpus that already has ≥ cores partitions (any at-scale scan)
    # is never re-shuffled just for parallelism. SKIPPED on the
    # kmeans-trained paths (r15 ADVICE #3): MLlib k-means|| init
    # sampling is partition-dependent, so re-shuffling the corpus
    # would break the documented seeded-reproducibility of trained
    # index content across sessions/parallelism settings.
    par = spark.sparkContext.defaultParallelism
    if (
        coarse != "kmeans"
        and codebook != "kmeans"
        and corpus.rdd.getNumPartitions() < par
    ):
        corpus = corpus.repartition(par, F.col("vec_id"))
    if k_coarse == "auto":
        # measured sizing rule (r14 VERDICT item 1 / r15 ask #5,
        # SCALE.md): on clustered corpora a FIXED k_coarse leaves
        # cells inheriting the corpus's global spread — measured
        # recall 0.67 at k=16 vs 0.95 at k≈√n on the clustered
        # fixture. k=⌈√n⌉ balances the Θ(n·k·d) assignment against
        # per-cell residual spread (the same optimum the SemDeDup
        # auto-k uses). One count job. OPT-IN, not the default: the
        # registered probe lanes' oracles pin the k=16 index content,
        # so the default must keep building byte-identical layouts.
        import math

        k_coarse = max(16, math.isqrt(max(corpus.count(), 1)))
    elif not isinstance(k_coarse, int):
        raise ValueError(f"k_coarse must be an int or 'auto': {k_coarse!r}")
    if coarse == "kmeans":
        assigned, centers = ivf_assign(corpus, k=k_coarse)
        seeds = [(i, c) for i, c in enumerate(centers)]
    elif coarse == "seed":
        assigned, seeds = ivf_seed_assign(corpus, k=k_coarse)
    else:
        raise ValueError(f"coarse must be seed|kmeans: {coarse}")
    dim = len(seeds[0][1])
    d_sub = dim // m_sub
    # cache: the residual frame feeds FOUR consumers (the PQ distance
    # build, the codebook limit, the cell map, and the dim probe
    # inside pq_distances) — uncached, the n·k·d fold assignment
    # upstream re-executes per consumer (measured 1.6× the query wall
    # at sf0.1). cache() per the r8 rule (SCALE.md): CacheManager
    # dedupes by plan across calls and serves column-pruned reads.
    res = _residuals(assigned, seeds, "vec_id", "cell", "embedding", dim).cache()
    res_named = res.select("vec_id", F.col("_res").alias("embedding"))
    if codebook == "kmeans":
        # trained residual codebook (pq_codebook_kmeans): the recall
        # path — see the r9 recall table for why the deterministic
        # codebook is a reproducibility device, not a retrieval one
        cb = pq_codebook_kmeans(res_named, n_centroids, m_sub)
    elif codebook == "seed":
        cb = pq_subvectors(
            res_named.orderBy("vec_id").limit(n_centroids),
            m_sub,
            d_sub,
            out_id="c",
        ).select("c", "m", F.col("sv").alias("cv"))
    else:
        raise ValueError(f"codebook must be seed|kmeans: {codebook}")
    codes = pq_encode(pq_distances(res_named, n_centroids, m_sub, codebook=cb))
    cells = res.select("vec_id", "cell")
    return {
        "codes": codes,
        "cells": cells,
        "cb": cb,
        "seeds": seeds,
        "res": res,
        "m_sub": m_sub,
        "dim": dim,
        "normalized": bool(normalize),
    }


def ivf_pq_index_write(index: dict, path: str) -> None:
    """Persist an ``ivf_pq_index`` in the CELL-PARTITIONED layout the
    100 TB deployment wants (SCALE.md r9 asserted "probes become
    partition-pruned reads when the index is written bucketed by
    cell" — this is that layout, and the probe below makes the claim
    plan-verifiable instead of asserted):

    - ``<path>/coded``: codes ⋈ cells, ``partitionBy("cell")`` — one
      parquet directory per coarse cell, so a probe of ``n_probe``
      cells is a static partition-pruned scan reading n_probe/k_coarse
      of the index (``PartitionFilters: [cell IN (...)]`` in the scan
      node; asserted in tests/test_similarity_pq.py).
    - ``<path>/cb``: the residual codebook (n_centroids × m_sub rows).
    - ``<path>/seeds``: the k_coarse coarse centers — the KB routing
      table the driver sorts per query.

    ``m_sub``/``dim`` are re-derived on load from cb/seeds (no sidecar
    format to version).

    Crash safety (r13 ADVICE #1): the whole layout is built in a
    sibling ``<path>__building`` directory and renamed into place —
    never written artifact-by-artifact into an EXISTING layout, where
    a crash mid-rewrite would leave new coded/cb next to the OLD
    seeds/idxmeta: a complete-LOOKING mixed layout (the old
    seeds/_SUCCESS still satisfies the completeness sentinel) that
    ``ivf_pq_index_load`` would accept and probe with the wrong
    identity. With the tmp+rename, a crash anywhere leaves either the
    intact old layout or no layout; the rename-pair window when
    replacing an existing index is the same documented boundary as the
    store swaps. Inside the tmp build, seeds are still written LAST so
    the fresh-path sentinel (seeds/_SUCCESS ⇒ every identity artifact
    present) keeps holding for callers that only check existence."""
    spark = index["codes"].sparkSession
    final = os.path.normpath(path)
    tmp = final + "__building"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # leftover of a crashed prior write
    coded = index["codes"].join(index["cells"], "vec_id")
    coded.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(tmp, "coded")
    )
    index["cb"].write.mode("overwrite").parquet(os.path.join(tmp, "cb"))
    if index.get("normalized"):
        # the flag is part of the index IDENTITY: codes over normalized
        # residuals are meaningless for raw queries, so the flag
        # persists in the layout (one boolean row; absence = False, the
        # pre-r13 layout)
        spark.createDataFrame(
            [(True,)], "normalized boolean"
        ).write.mode("overwrite").parquet(os.path.join(tmp, "idxmeta"))
    # seeds LAST: seeds/_SUCCESS ⇒ whole-layout completeness
    spark.createDataFrame(
        [(int(s), [float(x) for x in v]) for s, v in index["seeds"]],
        "cell long, svec array<double>",
    ).write.mode("overwrite").parquet(os.path.join(tmp, "seeds"))
    if os.path.isdir(final):
        old = final + "__old"
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old)
    else:
        os.makedirs(os.path.dirname(final) or ".", exist_ok=True)
        os.rename(tmp, final)
        # a crash between the rename pair above can leave final absent
        # with final__old holding the only intact index; the next
        # successful write lands here — clean up the stale complete
        # layout so it cannot leak on disk forever (r14 ADVICE #2)
        old = final + "__old"
        if os.path.isdir(old):
            shutil.rmtree(old)


def ivf_pq_index_load(spark, path: str) -> dict:
    """Reload a persisted ``ivf_pq_index_write`` layout. Returns an
    index dict whose ``coded`` frame (codes ⋈ cells, cell-partitioned
    on disk) routes ``ivf_pq_probe`` down the partition-pruned path;
    ``m_sub`` comes from the codebook's subspace count and ``dim``
    from the seed vectors — both KB-sized reads."""
    if os.path.isdir(os.path.join(path, "rotation")):
        # layouts written while an OPQ rotation option existed kept R
        # here; their codes live in a rotated space no probe applies
        raise ValueError(
            f"ivf_pq_index_load: {path}/rotation exists — the index was "
            "built with a residual rotation this version does not apply; "
            "rebuild the index"
        )
    coded = spark.read.parquet(os.path.join(path, "coded"))
    cb = spark.read.parquet(os.path.join(path, "cb"))
    seed_rows = spark.read.parquet(os.path.join(path, "seeds")).collect()
    seeds = sorted((int(r["cell"]), list(r["svec"])) for r in seed_rows)
    m_sub = cb.agg(F.max("m").alias("_m")).first()["_m"] + 1
    normalized = False
    if os.path.isdir(os.path.join(path, "idxmeta")):
        if not os.path.exists(os.path.join(path, "idxmeta", "_SUCCESS")):
            raise ValueError(
                f"ivf_pq_index_load: {path}/idxmeta exists without "
                "_SUCCESS — the index write crashed; rebuild the index"
            )
        normalized = bool(
            spark.read.parquet(os.path.join(path, "idxmeta"))
            .first()["normalized"]
        )
    return {
        "coded": coded,
        "codes": coded,  # session handle + non-pruned callers
        "cells": None,
        "cb": cb,
        "seeds": seeds,
        "m_sub": int(m_sub),
        "dim": len(seeds[0][1]),
        "normalized": normalized,
    }


def ivf_pq_index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
) -> int:
    """Incremental index maintenance (r9 VERDICT ask #2): encode ONLY
    the new vectors with the index's EXISTING coarse seeds and
    residual codebook, and append them to the cell-partitioned
    ``<path>/coded`` layout. A 100 TB corpus grows daily; a full
    rebuild re-reads every vector ever ingested, while this append
    touches exactly the delta — assignment is one map-side pass over
    the broadcast seed literals, encoding is one broadcast-codebook
    join + (id, m) groupBy over the NEW rows only, and the write is
    ``mode("append")`` into the existing hive partitions (new parquet
    files land inside the matching ``cell=`` directories; probes keep
    their static partition pruning unchanged).

    Codes are IDENTICAL to what a from-scratch encode under the same
    seeds/codebook would produce (equality pinned in
    tests/test_similarity_pq.py), so probe results over an appended
    index equal probe results over a monolithically-encoded union.
    What an append does NOT do is retrain: the coarse seeds and
    codebook stay frozen on the pre-growth distribution, so recall
    drifts as the corpus distribution moves — measured per geometry
    in SCALE.md r10 (tools/index_append_drift.py); rebuild when the
    drift row says so, not on a guess.

    Caller contract: ``new_vectors`` ids must be disjoint from the
    ids already in the index (dedup upstream — this operator does not
    scan the existing corpus, that being the point). Returns the
    number of appended rows."""
    index = ivf_pq_index_load(spark, path)
    m_sub, dim = index["m_sub"], index["dim"]
    delta = new_vectors.select("vec_id", "embedding")
    if index.get("normalized"):
        # normalized index: deltas enter the same unit-sphere space the
        # codes live in (frozen-quantizer contract)
        delta = l2_normalize(delta)
    sz = delta.agg(
        F.min(F.size("embedding")).alias("_lo"),
        F.max(F.size("embedding")).alias("_hi"),
        F.count(F.lit(1)).alias("_n"),
    ).first()
    if sz["_n"] == 0:
        return 0
    if sz["_lo"] != dim or sz["_hi"] != dim:
        raise ValueError(
            f"ivf_pq_index_append: delta vectors have dims in "
            f"[{sz['_lo']}, {sz['_hi']}] but the index was built at dim "
            f"{dim} — appending would mis-encode silently (subvector "
            "slices shift)"
        )
    assigned = assign_to_seeds(delta, index["seeds"])
    res = _residuals(assigned, index["seeds"], "vec_id", "cell", "embedding", dim)
    res_named = res.select("vec_id", F.col("_res").alias("embedding"))
    codes = pq_encode(pq_distances(res_named, m_sub=m_sub, codebook=index["cb"]))
    coded = codes.join(res.select("vec_id", "cell"), "vec_id")
    coded.write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, "coded")
    )
    return int(sz["_n"])


def ivf_pq_probe(
    index: dict,
    q: list[float],
    k: int = 10,
    n_probe: int = 2,
    exclude_id: int | None = None,
) -> DataFrame:
    """The PROBE half of ``ivf_pq_adc_topk``: route the query to its
    ``n_probe`` nearest coarse seeds (driver-side over the KB routing
    table, HALF_UP 6-dp cosines, ties to the smallest seed id), build
    the per-cell LUT from the query's OWN residual in each probed
    cell (n_probe·m_sub·n_centroids rows — broadcast), and score only
    vectors in probed cells by the LUT sum. This is the recurring
    per-query cost at scale; the index (``ivf_pq_index``) is the
    amortized one-off. ``index`` may carry parquet-reloaded
    codes/cells/cb frames — nothing here touches ``res``. When the
    index carries a ``coded`` frame (the cell-partitioned layout of
    ``ivf_pq_index_write``/``_load``), the probed cells become a
    LITERAL ``isin`` filter on the partition column — a static
    partition-pruned scan reading ~n_probe/k_coarse of the index
    (``PartitionFilters`` in the scan node; asserted in
    tests/test_similarity_pq.py, measured in SCALE.md r9)."""
    import math

    spark = index["codes"].sparkSession
    m_sub, dim = index["m_sub"], index["dim"]
    d_sub = dim // m_sub
    if index.get("normalized"):
        # normalized index: the query enters the unit sphere too (a
        # cosine-routing no-op; the residual is what changes). Driver-
        # side — one tiny vector.
        qn = math.sqrt(sum(float(x) * float(x) for x in q))
        if qn > 0:
            q = [float(x) / qn for x in q]
    probe = _probe_seeds(index["seeds"], q, n_probe)
    qres_rows = [
        (int(c), [qi - vi for qi, vi in zip(q, v)]) for c, v in probe
    ]
    qres_df = spark.createDataFrame(
        qres_rows, "qcell long, embedding array<double>"
    )
    qsub = pq_subvectors(qres_df, m_sub, d_sub, id_col="qcell", out_id="qcell")
    lut = qsub.join(F.broadcast(index["cb"]), "m").select(
        F.col("qcell"),
        F.col("m").alias("_lm"),
        F.col("c").alias("_lc"),
        _sq_l2_cols("sv", "cv", d_sub).alias("qd"),
    )
    if index.get("coded") is not None:
        # cell-partitioned persisted layout: literal isin on the
        # partition column → static partition pruning at the source
        scored = index["coded"].filter(
            F.col("cell").isin([int(c) for c, _ in probe])
        )
    else:
        scored = index["codes"].join(index["cells"], "vec_id")
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    return (
        scored.join(
            F.broadcast(lut),
            (F.col("cell") == F.col("qcell"))
            & (F.col("m") == F.col("_lm"))
            & (F.col("code") == F.col("_lc")),
        )
        .groupBy("vec_id", "cell")
        .agg(F.sum("qd").alias("_s"))
        .orderBy(F.asc("_s"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "cell", F.round(F.col("_s"), 6).alias("adc_dist"))
    )


def ivf_pq_probe_batch(
    index: dict,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """Probe the IVF-PQ index for a WHOLE FRAME of queries in one
    plan — the query-THROUGHPUT shape. ``ivf_pq_probe`` routes one
    query on the driver (fine for interactive latency); a retrieval
    or hard-negative-mining job has 10^6 queries, and looping a
    driver-side probe would be the collect-and-iterate anti-pattern.
    Here everything distributes:

    - cell routing: the k_coarse seed matrix is a LITERAL array
      (KB-sized, ships inside the plan); each query row scores every
      seed with the assigners' fold column (``_seed_cosines``) and
      keeps the top ``n_probe`` via sort_array on (round6-cosine
      DESC, seed_id ASC) structs — the same total order as the
      driver-side ``_probe_seeds`` (equality pinned in
      tests/test_similarity_pq.py).
    - per-(query, cell) residual LUT: n_q·n_probe·m_sub·n_centroids
      rows, built by a broadcast join against the codebook.
    - scoring: one hash join of the LUT against the codes on
      (cell, m, code), groupBy (query, candidate) LUT-sum, then
      row_number ≤ k per query — no per-query jobs, no driver loop.

    ``queries``: a frame with ``query_id`` + ``embedding``. The
    index is the SHARED full-corpus one (a deployment does not
    rebuild the index per query); ``exclude_self=True`` drops the
    candidate equal to the query id (self-match), matching the
    recall protocol. Output: ``(query_id, vec_id, cell, adc_dist)``,
    ≤ k rows per query."""
    from pyspark.sql import Window

    _check_n_probe(n_probe)
    m_sub, dim = index["m_sub"], index["dim"]
    d_sub = dim // m_sub
    seeds = index["seeds"]
    if index.get("normalized"):
        # one fused map-side expression over the QUERY frame (routing
        # is scale-invariant; the residuals below are what change)
        queries = l2_normalize(queries)
    scored_seeds = _seed_cosines(seeds, "ivf_pq_probe_batch")
    top_cells = F.slice(F.sort_array(scored_seeds, asc=False), 1, n_probe)
    probed = queries.withColumn("_nv", _norm(F.col("embedding"))).select(
        F.col("query_id").alias("_qid"),
        F.col("embedding").alias("_qv"),
        F.explode(
            F.transform(top_cells, lambda s: -s["negid"])
        ).alias("qcell"),
    )
    qres = _residuals(probed, seeds, "_qid", "qcell", "_qv", dim)
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.slice(F.col("_res"), m * d_sub + 1, d_sub),
    )
    qsub = qres.select(
        "_qid", "qcell", F.posexplode(subs).alias("m", "_qsv")
    )
    lut = qsub.join(F.broadcast(index["cb"]), "m").select(
        "_qid",
        "qcell",
        F.col("m").alias("_lm"),
        F.col("c").alias("_lc"),
        _sq_l2_cols("_qsv", "cv", d_sub).alias("qd"),
    )
    if index.get("coded") is not None:
        # cell-partitioned persisted layout (r9 ADVICE): without a
        # filter the batch path scans the WHOLE index and loses the
        # pruning the layout exists for. The union of probed cells is
        # bounded by k_coarse (a KB-scale distinct over the QUERY
        # frame, not the corpus), so collect it and push a literal
        # isin on the partition column — the same static
        # partition-pruned scan the single-query probe gets.
        probed_cells = [
            int(r["qcell"]) for r in probed.select("qcell").distinct().collect()
        ]
        scored = index["coded"].filter(F.col("cell").isin(probed_cells))
    else:
        scored = index["codes"].join(index["cells"], "vec_id")
    joined = scored.join(
        lut,
        (F.col("cell") == F.col("qcell"))
        & (F.col("m") == F.col("_lm"))
        & (F.col("code") == F.col("_lc")),
    )
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("_qid"))
    agg = joined.groupBy("_qid", "vec_id", "cell").agg(
        F.sum("qd").alias("_s")
    )
    w = Window.partitionBy("_qid").orderBy(F.asc("_s"), F.asc("vec_id"))
    return (
        agg.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            "vec_id",
            "cell",
            F.round(F.col("_s"), 6).alias("adc_dist"),
        )
    )


def ivf_pq_adc_topk(
    vectors: DataFrame,
    query_id: int = 0,
    k: int = 10,
    k_coarse: int | str = 16,
    n_probe: int = 2,
    n_centroids: int = 16,
    m_sub: int = 8,
    normalize: bool = False,
) -> DataFrame:
    """IVF-PQ with asymmetric distance (Jégou et al. 2011 §III —
    public): the PRODUCTION composition of the repo's two ANN halves.
    IVF coarse-quantizes the corpus (the deterministic md5-min seed
    rule of ``ivf_seed_assign``), PQ encodes each vector's RESIDUAL
    v − seed(cell) — residuals are tighter-clustered than raw
    vectors, which is why every large FAISS deployment quantizes
    them instead — and a query probes only ``n_probe`` cells,
    scoring candidates by the LUT sum over the query's OWN residual
    in that cell: dist(q, v) ≈ ‖(q − seed_c) − r_v‖².

    Scale shape: assignment is one map-side pass over broadcast
    seeds; the residual is a ``zip_with`` column expression (no
    Python); the corpus side of the index carries m_sub small-int
    codes per vector (the PQ memory win) partitionable by cell
    (probes become partition-pruned scans when written bucketed);
    the per-cell LUT is n_probe·m_sub·n_centroids rows — broadcast.
    Everything is deterministic (md5-min coarse seeds, smallest-id
    residual codebook, 6-dp rounded cosines for routing, lexicographic
    tie-breaks), so the whole index has an exact ANSI-SQL oracle.

    Cost split (r9): this single-plan form times index BUILD + probe
    together — the registered query's reproducible shape. At scale
    the build is one-off and the probe is the per-query latency;
    ``ivf_pq_index`` / ``ivf_pq_probe`` are the same two halves split
    for separate materialization and measurement (composition
    equality pinned in tests/test_similarity_pq.py; measured split in
    SCALE.md r9).

    Returns top-``k`` ``(vec_id, cell, adc_dist)`` over the probed
    cells, excluding the query row itself (the query is also
    excluded from the corpus before seed/codebook selection, matching
    ``sim_ivf_topk``'s convention)."""
    q_row = (
        vectors.filter(F.col("vec_id") == query_id).select("embedding").first()
    )
    if q_row is None:
        raise ValueError(
            f"ivf_pq_adc_topk: query vec_id={query_id} not found in the corpus"
        )
    q = [float(x) for x in q_row[0]]
    index = ivf_pq_index(
        vectors,
        exclude_id=query_id,
        k_coarse=k_coarse,
        n_centroids=n_centroids,
        m_sub=m_sub,
        normalize=normalize,
    )
    return ivf_pq_probe(index, q, k=k, n_probe=n_probe)


def ivf_pq_refine_topk(
    index: dict,
    full_vectors: DataFrame,
    q: list[float],
    k: int = 10,
    refine: int = 100,
    n_probe: int = 2,
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC probe → exact re-rank (the FAISS ``refine`` stage, Jégou
    et al. 2011 §V): take the top-``refine`` ADC candidates from
    ``ivf_pq_probe``, fetch their FULL-PRECISION vectors, re-score
    with exact cosine, and return the top-``k``. The r9/r10 recall
    tables motivate this: IVF-PQ recall@10 sits at 0.14–0.70
    depending on geometry because 8-byte codes blur the ranking NEAR
    the decision boundary — but the true top-k are almost always
    somewhere in the ADC top-C for C ≈ 10k, so one exact pass over C
    rows lifts recall toward the IVF-exact ceiling at ~C/n of brute
    cost.

    Scale shape: the probe half stays the partition-pruned 8-byte
    scan; the refine half touches exactly C full-precision rows of
    ``full_vectors`` — joined with the C-row candidate set BROADCAST,
    so the corpus frame is scanned once with the join filter pushed
    to it.

    Returns ``(vec_id, cosine)`` — the exact metric, unlike the ADC
    distance the unrefined probe returns."""
    adc = ivf_pq_probe(
        index, q, k=refine, n_probe=n_probe, exclude_id=exclude_id
    )
    sim = _cosine_to_query("embedding", [float(x) for x in q])
    return (
        full_vectors.join(F.broadcast(adc.select("vec_id")), "vec_id")
        .select("vec_id", F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# --- semantic dedup (SemDeDup, Abbas et al. 2023, public) ----------------


def assign_cells_fold(
    vectors: DataFrame, seeds: list[tuple[int, list[float]]]
) -> DataFrame:
    """Seed-cosine cell assignment as a pure-column expression: the
    argmax of ``_seed_cosines`` — the BIT-REPRODUCIBLE lane the
    pinned-k oracle query needs. Cost: n rows × k folds of d terms =
    Θ(n·k·d) inside codegen; at k=⌈√n⌉ that stage is Θ(n^1.5) — use
    ``assign_cells_blas`` at scale. Refuses an empty seed list and
    more than ``MAX_FOLD_SEED_LITERALS`` embedded seed floats (the
    literal lives in the plan; plan build is driver-side and grows
    with it). Returns ``(_vid, _emb, cell, _cent)``."""
    best = F.array_max(_seed_cosines(seeds, "assign_cells_fold"))
    return vectors.withColumn("_nv", _norm(F.col("embedding"))).select(
        F.col("vec_id").alias("_vid"),
        F.col("embedding").alias("_emb"),
        (-best["negid"]).alias("cell"),
        best["c"].alias("_cent"),
    )


def assign_cells_blas(
    vectors: DataFrame, seeds: list[tuple[int, list[float]]]
) -> DataFrame:
    """Seed-cosine cell assignment as ONE BLAS matmul per Arrow batch
    (``mapInPandas``, the ``emb_covariance_mapred`` pattern) — the
    production lane for the Θ(n·k·d) stage: a (batch×d)·(d×k) sgemm
    runs it at memory bandwidth instead of k scalar folds per row,
    and the cost per ROW is k·d flops in vectorized form — the stage
    SemDeDup deployments hand to BLAS/GPU (Abbas et al. 2023 do
    exactly this).

    Same semantics as ``assign_cells_fold``: cosines to every seed,
    HALF_UP-rounded to 6 dp (sign·floor(|c|·1e6 + 0.5) — matching
    Spark's BigDecimal HALF_UP for the away-from-midpoint mass),
    argmax with ties to the smallest seed id (seeds sorted by id →
    np.argmax's first-max). float32→float64 element conversion is
    exact, so the ONLY divergence from the fold is summation order —
    last-ulp, which can flip a 6-dp rounding only within ~1e-15 of a
    midpoint; the tolerance-banded equality test in
    tests/test_retrieval.py pins that band. Returns
    ``(_vid, _emb, cell, _cent)``."""
    import numpy as np

    if not seeds:
        # np.linalg.norm(axis=1) on a 0-row seed matrix raises
        # AxisError deep inside the lane (r7 ADVICE) — fail at the
        # contract boundary instead; the dedup entry points turn an
        # empty CORPUS into an empty drop frame before reaching here
        raise ValueError("assign_cells_blas: empty seed list")
    seeds_sorted = sorted(seeds)
    sids = np.array([s for s, _ in seeds_sorted], dtype=np.int64)
    S = np.array([v for _, v in seeds_sorted], dtype=np.float64)
    Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
    elem = vectors.schema["embedding"].dataType.simpleString()
    schema = f"_vid long, _emb {elem}, cell long, _cent double"

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            cells, cents = _nearest_seeds(M, Sn, sids)
            yield pd.DataFrame(
                {
                    "_vid": pdf["vec_id"].values,
                    "_emb": pdf["embedding"].values,
                    "cell": cells,
                    "_cent": cents,
                }
            )

    return vectors.select("vec_id", "embedding").mapInPandas(run, schema=schema)


def _assigner(assign: str):
    """The one ``assign=`` lane dispatch of every SemDeDup caller:
    ``"fold"`` = ``assign_cells_fold`` (bit-reproducible plan-literal
    lane, the oracle lane, right for small k); ``"blas"`` =
    ``assign_cells_blas`` (closure-shipped seeds, one sgemm per Arrow
    batch — the production lane: at k=232 the fold lane spent 24 s of
    a 30 s delta run building/compiling the 15k-literal plan, measured
    r11). Any other value is refused."""
    if assign == "fold":
        return assign_cells_fold
    if assign == "blas":
        return assign_cells_blas
    raise ValueError(f"assign must be fold|blas: {assign}")


#: largest coarse-id set ``seed_routing_frame`` encodes as an isin
#: plan literal before switching to a broadcast join (r7 ADVICE:
#: k1 = ⌈√k⌉ reaches ~18k ids at the 10^10-vector scale the cogroup
#: path exists for — a plan-size/analysis-time cliff)
_MAX_ISIN_COARSE_IDS = 4096


def _empty_drops(vectors: DataFrame) -> DataFrame:
    """The n=0 result of every SemDeDup entry point: an empty frame
    with the drop-list schema ``(id, cell, cent_cos, n_dominators,
    first_keeper)``. An empty corpus yields an empty seed list, which
    the assignment lanes correctly refuse (numpy AxisError otherwise
    — r7 ADVICE); the DEDUP-level answer is simply "nothing to drop",
    decided here before any lane is entered."""
    idt = vectors.schema["vec_id"].dataType
    schema = T.StructType(
        [
            T.StructField("vec_id", idt),
            T.StructField("cell", T.LongType()),
            T.StructField("cent_cos", T.DoubleType()),
            T.StructField("n_dominators", T.LongType()),
            T.StructField("first_keeper", idt),
        ]
    )
    return vectors.sparkSession.createDataFrame([], schema)


def semantic_dedup_hier_drops(
    vectors: DataFrame,
    cell_size: int = 32,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup with k ∝ n — the constant-cell-size lane: k =
    max(16, ⌈n/cell_size⌉) seeds keep the EXPECTED cell size
    constant, so the intra-cell pair stage is Θ(n·cell_size) = Θ(n).
    Assignment is two-level (the IVF shape, k1 = ⌈√k⌉ coarse
    centers): Θ(n·√k·d) = Θ(n^1.5·d/√C) sgemm flops — the flat-√n
    lane's exponent with a √C-smaller constant. A deeper tree (L
    levels: Θ(n·L·k^{1/L}·d)) is the path below n^1.5.

    Only the k1 coarse centers are collected (√(n/C) rows —
    broadcast-sized at any n); the k seeds are routed to them as a
    distributed ``assign_cells_blas`` pass (``seed_routing_frame``)
    and level 2 runs under ``cogroup().applyInPandas`` on the coarse
    id (``assign_cells_hier_cogroup``): no driver-held seed tree,
    rows shuffled = n + k.

    Trade: a boundary vector can land in the best child of the wrong
    coarse cell, so the drop set is NOT the flat lanes' (those and
    the pinned-k oracle remain the exactness anchors; tests pin this
    lane against a whole-corpus numpy twin of the same two-level
    rule). Drop semantics within a cell are shared code
    (``_drops_from_assigned``)."""
    import math

    n = vectors.count()
    if n == 0:
        return _empty_drops(vectors)
    k = max(16, math.ceil(n / cell_size))
    k1 = max(1, math.isqrt(k - 1) + 1) if k > 1 else 1
    coarse = sorted(_semdedup_seeds(vectors, k1))
    sr = seed_routing_frame(vectors, k, coarse)
    return _drops_from_assigned(
        assign_cells_hier_cogroup(vectors, coarse, sr),
        threshold,
        "vec_id",
        dim=len(coarse[0][1]),
    )


def assign_cells_hier_cogroup(
    vectors: DataFrame,
    coarse: list[tuple[int, list[float]]],
    seed_routing: DataFrame,
) -> DataFrame:
    """DISTRIBUTED two-level assignment: level 1 routes every
    vector to one of the k1 COARSE centers (``assign_cells_blas``
    over the k1-row python list — k1 = ⌈√k⌉ IS broadcast-sized by
    construction, ~√(n/C) rows), and level 2 runs as a
    ``cogroup().applyInPandas`` on the coarse id: each group sees its
    cell's vectors (left) and that cell's ~k/k1 child seeds (right,
    the ``seed_routing`` frame) and computes the same
    round6-cosine argmax in numpy. No driver-held seed tree, no
    full-seed broadcast, no per-row duplication of the children —
    rows shuffled = n vectors + k seeds, peak task memory = one
    cell's children ((k/k1)·d doubles) + one Arrow batch.

    ``seed_routing`` schema: ``(coarse, _sid, _svec)`` — every seed
    with its owning coarse center (coarse centers own themselves,
    see ``seed_routing_frame``). Same per-level determinism contract
    as ``assign_cells_blas`` (6-dp HALF_UP cosines, argmax ties to
    the smallest seed id); the final cell is the best child OF THE
    WINNING COARSE CENTER and ``_cent`` is the cosine to that cell's
    seed. Returns ``(_vid, _emb, cell, _cent)``."""
    import numpy as np

    lvl1 = assign_cells_blas(vectors, coarse).select(
        "_vid", "_emb", F.col("cell").alias("coarse")
    )
    elem = vectors.schema["embedding"].dataType.simpleString()
    schema = f"_vid long, _emb {elem}, cell long, _cent double"

    def fn(_key, left, right):
        import pandas as pd

        if not len(left) or not len(right):
            # a coarse cell with no vectors, or (impossible by the
            # owns-itself invariant) no children: emit nothing —
            # dtypes pinned so Arrow casts the empty batch cleanly
            return pd.DataFrame(
                {
                    "_vid": pd.Series(dtype="int64"),
                    "_emb": pd.Series(dtype=object),
                    "cell": pd.Series(dtype="int64"),
                    "_cent": pd.Series(dtype="float64"),
                }
            )
        r = right.sort_values("_sid")
        sids = r["_sid"].to_numpy(dtype=np.int64)
        S = np.stack([np.asarray(v, dtype=np.float64) for v in r["_svec"]])
        Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in left["_emb"]])
        cells, cents = _nearest_seeds(M, Sn, sids)
        return pd.DataFrame(
            {
                "_vid": left["_vid"].to_numpy(),
                "_emb": left["_emb"].to_numpy(),
                "cell": cells,
                "_cent": cents,
            }
        )

    return (
        lvl1.groupby("coarse")
        .cogroup(seed_routing.groupby("coarse"))
        .applyInPandas(fn, schema=schema)
    )


def seed_routing_frame(
    vectors: DataFrame,
    k: int,
    coarse: list[tuple[int, list[float]]],
) -> DataFrame:
    """The DISTRIBUTED seed-routing frame ``(coarse, _sid, _svec)``:
    re-derive the k md5-ordered seeds as a DataFrame (``_seed_frame``
    — the same derivation rule as every other lane, never
    collected), route each to its best coarse center with the same
    BLAS assignment the data path uses, and apply the
    coarse-owns-itself override as a column expression (without it, a
    coarse seed whose 6-dp cosine to ANOTHER coarse center rounds to
    1.0 — near-duplicate seeds, exactly what a dedup corpus holds —
    would attach there by the smallest-id tie rule and leave its own
    cell childless). The k1
    coarse ids ride along as an ``isin`` literal while k1 is small;
    past ``_MAX_ISIN_COARSE_IDS`` the override switches to a
    broadcast LEFT JOIN against a tiny coarse-id frame — an isin
    literal grows the PLAN with √k entries (~18k literals at the
    10^10-vector scale this cogroup path exists for), a plan-size /
    analysis-time cliff at exactly the extreme end of the lane's
    stated range (r7 ADVICE). Both forms compute the same column.

    Plan shape (r7 review finding): the seed frame's GlobalLimit
    lands on ONE partition, so the routing pass is explicitly
    repartitioned by seed id first — without it, all k×k1 routing
    matmuls run as a single task, re-creating a single-node
    bottleneck at exactly the scale this path exists for. The
    GlobalLimit stage itself still funnels the k seed ROWS through
    one partition (shuffle only, no compute); past the point where
    even that hurts, exact distributed top-k by (md5, id) is the
    range-partition + per-partition-count prefix-sum pattern the
    repo already uses in ``pack_token_shards``."""
    spark = vectors.sparkSession
    seeds_df = _seed_frame(vectors, k).repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )
    routed = assign_cells_blas(seeds_df, coarse)
    coarse_ids = [s for s, _ in coarse]
    if len(coarse_ids) <= _MAX_ISIN_COARSE_IDS:
        is_coarse = F.col("_vid").isin(coarse_ids)
    else:
        cdf = spark.createDataFrame(
            [(int(s),) for s in coarse_ids], "_coarse_id long"
        )
        routed = routed.join(
            F.broadcast(cdf), routed["_vid"] == cdf["_coarse_id"], "left"
        )
        is_coarse = F.col("_coarse_id").isNotNull()
    return routed.select(
        F.when(is_coarse, F.col("_vid"))
        .otherwise(F.col("cell"))
        .alias("coarse"),
        F.col("_vid").alias("_sid"),
        F.col("_emb").alias("_svec"),
    )


def semantic_dedup_drops(
    vectors: DataFrame,
    k: int | None = 16,
    threshold: float = 0.3,
    assign: str = "fold",
) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): cluster the corpus, compare pairs
    only WITHIN a cluster, and drop every vector that is
    cosine-≥threshold to a kept partner — keeping, per the paper's
    policy, the candidate LEAST similar to its cluster centroid (the
    most "marginal" exemplar carries the most information). Returns
    the DROP list: ``(vec_id, cell, cent_cos, n_dominators,
    first_keeper)`` where a dominator is any same-cell partner with
    pair-cosine ≥ threshold that precedes the row under
    ``(cent_cos ASC, id ASC)``.

    Determinism: the k cluster centers are the seed vectors with the
    smallest ``md5(id)`` (the ``ivf_seed_assign`` 0-iteration kmeans
    init — engine-reproducible), every cosine is rounded to 6 dp
    before any comparison, and the keep/drop order is a total order,
    so the drop set has an exact ANSI-SQL oracle.

    Scale shape: seed selection is a k-row TakeOrdered; assignment is
    a map-side pure-column expression over literal seed vectors (no
    shuffle); the pair stage shuffles once on ``cell`` and meets only
    within cells (Σ|cell|²/2 ≈ n²/2k pairs); the final dominator
    aggregate is map-side combinable on the dropped id.

    ``k=None`` auto-scales the cell count to ⌈√n⌉ (one extra count
    job) — REQUIRED at scale: with k fixed, cells grow linearly with
    the corpus and the intra-cell pair stage grows QUADRATICALLY
    (measured: 13.5× time for 5× vectors at k=16 — see SCALE.md).
    Honest accounting (corrected r7; earlier rounds claimed the pair
    stage was Θ(n) at k=⌈√n⌉, which is wrong): with uniform cells the
    pair count is Σ|c|²/2 ≈ n²/2k, so k=⌈√n⌉ gives a Θ(n^1.5) pair
    stage — and since assignment costs Θ(n·k·d), k≈√n is exactly the
    choice that MINIMIZES assignment+pairs, at Θ(n^1.5) total. That
    is the flat-clustering optimum, not linear; measured 10× ratios
    (SCALE.md r7) run below n^1.5 only because constants and fixed
    overhead still dominate at these SFs. Sub-n^1.5 needs
    hierarchical assignment (two-level IVF: Θ(n·√k)) with k ∝ n for
    constant cell size — the shape Abbas et al. 2023 get from GPU
    k-means — which this operator deliberately trades away for exact
    SQL-reproducible determinism.
    The registered ``sim_semantic_dedup`` query pins k=16 so its
    ANSI-SQL oracle is SF-independent; production callers use
    auto-k.

    ``assign="fold"`` runs the assignment as codegen'd zip_with folds
    (bit-reproducible vs the SQL oracle, but Θ(n·k·d) scalar work —
    Θ(n^1.5) at k=⌈√n⌉); ``assign="blas"`` runs it as one numpy
    matmul per Arrow batch (``assign_cells_blas``) — the scale lane,
    identical away from 6-dp rounding ties (last-ulp summation-order
    band, pinned by a tolerance test)."""
    assigner = _assigner(assign)
    seeds = _semdedup_seeds(vectors, k)
    if not seeds:
        return _empty_drops(vectors)
    return _drops_from_assigned(
        assigner(vectors, seeds), threshold, "vec_id", dim=len(seeds[0][1])
    )


#: measured flat-BLAS ↔ hier-cogroup crossover (SCALE.md r7, solo
#: best-of-3, fresh session per SF, d=64):
#:
#:   n = 2,000  (sf0.1): flat-BLAS 2.089 s  vs  hier-cogroup 2.245 s
#:   n = 20,000 (sf1.0): flat-BLAS 43.94 s  vs  hier-cogroup 6.839 s
#:
#: flat is Θ(n^1.5) total (pairs 31.6× at 10× = n^1.5 exactly), hier
#: is linear-pairs with Θ(n·√k·d) sgemm routing (3.0× wall at 10×);
#: fitting those walls puts the crossing at n ≈ 2.3–4k, and the gap
#: above it widens as √n — measured one more decade in r8:
#:
#:   n = 60,000 (sf3, 30×): flat-BLAS 223.97 s  vs  hier 12.18 s (18.4×)
#:
#: 4,000 keeps the exactness-anchor flat lane for everything
#: at-or-below the largest SF where it measured faster, and routes
#: everything bigger to the lane that won by 18.4× 1.5 decades up.
#: (r7 VERDICT ask #5; r8 sf3 sweep, SCALE.md)
SEMDEDUP_CROSSOVER_N = 4000


def semantic_dedup(vectors: DataFrame) -> DataFrame:
    """The single SemDeDup front door at pair threshold 0.3: one count
    job picks the measured-fastest lane (see ``SEMDEDUP_CROSSOVER_N``):

    ==========  =====================  ================================
    corpus      lane                   why
    ==========  =====================  ================================
    n ≤ 4,000   flat BLAS (k=√n)       measured faster in this range
                                       AND exact vs the fold/SQL anchors
    n > 4,000   hier (k=n/32)          6.4× faster one decade up, gap
                                       widening as √n; linear pairs
    ==========  =====================  ================================

    The hier lane's drop set differs from the flat lanes' (~10% at
    sf1, SCALE.md). Callers who need the bit-reproducible SQL-oracle
    drop set at any size call ``semantic_dedup_drops`` directly and
    accept Θ(n^1.5)."""
    import math

    n = vectors.count()
    if n > SEMDEDUP_CROSSOVER_N:
        return semantic_dedup_hier_drops(vectors)
    # reuse the count: k=⌈√n⌉ per the flat lanes' auto rule, skipping
    # _semdedup_seeds' second count job
    return semantic_dedup_drops(
        vectors, k=max(16, math.isqrt(max(n, 1))), assign="blas"
    )


#: smallest per-task row cap for the hot-cell split below — cells at
#: or under this size never pay the salted-join replication.
_PAIR_SALT_MIN_CELL = 64


def _drops_from_assigned(
    assigned_lazy: DataFrame, threshold: float, id_col: str,
    dim: int | None = None,
) -> DataFrame:
    """The SemDeDup pair/drop stage, shared by every assignment lane
    (fold / BLAS / hierarchical): within each final cell, a vector is
    dropped iff some partner with pair-cosine ≥ threshold precedes it
    under (cent_cos ASC, id ASC). Input schema
    ``(_vid, _emb, cell, _cent)``; one shuffle on ``cell``.

    ``dim``: the embedding dimension when the caller knows it (every
    assignment lane derives it from its seed list) — switches the
    pair cosine to the codegen'd unrolled dot (bit-identical, see
    ``_UNROLL_MAX_DIM``); ``None`` keeps the interpreted fold.

    Per-row norms are computed ONCE into the persisted assignment
    (r16, guide §1.2): the pair stage used to re-fold ‖a‖ and ‖b‖ per
    PAIR — Θ(Σ|cell|²·d) interpreted work for values that are
    row-constant; ``round(dot/(‖a‖·‖b‖), 6)`` is unchanged because the
    hoisted norm is the same expression over the same row."""
    # persist: the self-join consumes the assignment on BOTH sides —
    # without it the n·k seed-cosine pass runs twice (measured 2× the
    # stage cost at 10k vectors, SCALE.md).
    # Repartition by cell FIRST (r15, guide §2.5): the intra-cell pair
    # scoring below is the stage's dominant compute (Σ|cell|² pair
    # cosines), but its input BYTES are tiny, so AQE's byte-sized
    # coalescing funnels it into ONE task (measured: a single 1.7 s
    # single-task job owned semantic_dedup_blas's 2.2 s wall at
    # sf0.1). An explicit cell-keyed repartition is AQE-proof (user
    # repartitions are never coalesced) and is the partitioning the
    # pair join needs anyway. Partition count never DROPS below the
    # input's (r15 ADVICE: an at-scale assignment with more partitions
    # than cores must not be forcibly shuffled down to core count).
    spark = assigned_lazy.sparkSession
    par = spark.sparkContext.defaultParallelism
    n_parts = max(par, assigned_lazy.rdd.getNumPartitions())
    if dim is not None and dim <= _UNROLL_MAX_DIM:
        nrm = F.expr(_norm_sql("_emb", dim))
        pair_dot = F.expr(_dot_cols_sql("_ea", "_eb", dim))
    else:
        nrm = _norm(F.col("_emb"))
        pair_dot = _dot(F.col("_ea"), F.col("_eb"))
    assigned = (
        assigned_lazy.withColumn("_nrm", nrm)
        .repartition(n_parts, F.col("cell"))
        .persist()
    )
    threshold = float(threshold)
    # Hot-cell skew probe (r15 VERDICT "what's wrong" #1, guide §2.5):
    # ``repartition(n, cell)`` cannot split ONE cell, so a pathological
    # cell of size m costs Θ(m²) pair cosines on a single task at any
    # cluster size. One tiny driver-side aggregate over the persisted
    # assignment (k rows — it doubles as the cache fill) finds cells
    # above ``cap ≈ max(64, n/parallelism)`` rows; each hot cell is
    # split into B = ⌈m/cap⌉ salt buckets — the b side keyed by
    # pmod(xxhash64(id), B) (deterministic, guide §2.5's rand() rule),
    # the a side exploded over 0..B−1 — which preserves the EXACT pair
    # set (each (a,b) pair matches at exactly one salt) while bounding
    # a task's pairs to ~m·cap. Balanced assignments (every cell ≤
    # cap) take the unsalted join, byte-identical to the r15 plan.
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_c")).collect()
    total = sum(int(r["_c"]) for r in sizes)
    cap = max(_PAIR_SALT_MIN_CELL, -(-total // max(par, 1)))
    hot = {
        int(r["cell"]): -(-int(r["_c"]) // cap)
        for r in sizes
        if int(r["_c"]) > cap
    }
    a = assigned.select(
        F.col("_vid").alias("_ida"),
        F.col("_emb").alias("_ea"),
        "cell",
        F.col("_cent").alias("_ca"),
        F.col("_nrm").alias("_na"),
    )
    b = assigned.select(
        F.col("_vid").alias("_idb"),
        F.col("_emb").alias("_eb"),
        F.col("cell").alias("_cellb"),
        F.col("_cent").alias("_cb"),
        F.col("_nrm").alias("_nb"),
    )
    join_cond = F.col("cell") == F.col("_cellb")
    if hot:
        bmap = F.create_map(
            *[x for c, nb in hot.items() for x in (F.lit(c), F.lit(nb))]
        )
        buckets_a = F.coalesce(
            F.element_at(bmap, F.col("cell")), F.lit(1)
        ).cast("long")
        buckets_b = F.coalesce(
            F.element_at(bmap, F.col("_cellb")), F.lit(1)
        ).cast("long")
        a = a.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0).cast("long"), buckets_a - 1)),
        )
        b = b.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("_idb")), buckets_b)
        )
        join_cond = join_cond & (a["_salt"] == b["_salt"])
    keeper_precedes = (F.col("_ca") < F.col("_cb")) | (
        (F.col("_ca") == F.col("_cb")) & (F.col("_ida") < F.col("_idb"))
    )
    pair_cos = F.round(
        pair_dot / (F.col("_na") * F.col("_nb")),
        6,
    )
    dominated = a.join(b, join_cond & keeper_precedes).filter(
        pair_cos >= threshold
    )
    result = (
        dominated.groupBy("_idb", "_cellb", "_cb")
        .agg(
            F.count(F.lit(1)).alias("n_dominators"),
            F.min("_ida").alias("first_keeper"),
        )
        .select(
            F.col("_idb").alias(id_col),
            F.col("_cellb").alias("cell"),
            F.col("_cb").alias("cent_cos"),
            "n_dominators",
            "first_keeper",
        )
    )
    # materialize the (small) drop list eagerly so the big n-row
    # assignment cache can be released NOW rather than living for the
    # session's lifetime; localCheckpoint blocks are ContextCleaner-
    # collected once the caller drops the returned frame, unlike
    # CacheManager entries which persist until an explicit unpersist
    out = result.localCheckpoint(eager=True)
    assigned.unpersist()
    return out


# --- distributed covariance / PCA (two physical strategies) --------------


def covariance_upper(vectors: DataFrame) -> DataFrame:
    """Upper-triangular sample covariance of a d-dim embedding column
    as ``(i, j, cov)`` rows, i ≤ j — the input PCA consumes (eigen of
    a d×d matrix is a driver-side numpy call on d²·8 bytes, NOT a
    distributed problem; the distributed problem is the Gram sums,
    solved here in one shuffle).

    Strategy A (this function, pure JVM): posexplode each vector to
    ``(id, i, x)``, self-equi-join on id (i ≤ j), aggregate the
    sufficient statistics Σx, Σy, Σxy per (i, j) — cov =
    (Σxy − ΣxΣy/n)/(n−1), so no second centering pass. The join
    shuffles n·d rows and the n·d² pair rows exist only inside the
    aggregate's map side. For the mapInPandas partial-outer-product
    strategy (n·d² never materialized), see ``covariance_mapred`` —
    same output, same oracle."""
    ex = vectors.select(
        F.col("vec_id").alias("_vid"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    pairs = ex.alias("l").join(
        ex.select(
            F.col("_vid").alias("_vidr"),
            F.col("i").alias("j"),
            F.col("x").alias("y"),
        ),
        (F.col("_vid") == F.col("_vidr")) & (F.col("i") <= F.col("j")),
    )
    agg = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
    )
    cov = (F.col("_sxy") - F.col("_sx") * F.col("_sy") / F.col("_n")) / (
        F.col("_n") - 1
    )
    # +0.0 collapses IEEE -0.0 (DuckDB ROUND of a tiny negative)
    return agg.select("i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov"))


def covariance_mapred(vectors: DataFrame) -> DataFrame:
    """Same contract as ``covariance_upper``, different physical plan:
    each partition computes its LOCAL d×d outer-product sums with one
    numpy ``M.T @ M`` (Arrow-batched mapInPandas), emits d(d+1)/2
    sufficient-statistic rows, and a tiny groupBy merges partials —
    the classic tree-aggregate Gram computation. The shuffle carries
    ``partitions × d²/2`` rows regardless of n: at 100 TB this is the
    strategy that wins (Strategy A shuffles n·d exploded rows);
    at fixture scale both run and the tests assert equal output."""
    d_schema = "i int, j int, n long, sx double, sy double, sxy double"

    def partials(batches):
        import numpy as np
        import pandas as pd

        S = None
        s = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if S is None:
                d = M.shape[1]
                S = np.zeros((d, d))
                s = np.zeros(d)
            S += M.T @ M
            s += M.sum(axis=0)
            n += M.shape[0]
        if n:
            iu = np.triu_indices(S.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "n": n,
                    "sx": s[iu[0]],
                    "sy": s[iu[1]],
                    "sxy": S[iu],
                }
            )

    parts = vectors.select("embedding").mapInPandas(partials, schema=d_schema)
    agg = parts.groupBy("i", "j").agg(
        F.sum("n").alias("_n"),
        F.sum("sx").alias("_sx"),
        F.sum("sy").alias("_sy"),
        F.sum("sxy").alias("_sxy"),
    )
    cov = (F.col("_sxy") - F.col("_sx") * F.col("_sy") / F.col("_n")) / (
        F.col("_n") - 1
    )
    # +0.0 collapses IEEE -0.0 (DuckDB ROUND of a tiny negative)
    return agg.select("i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov"))
