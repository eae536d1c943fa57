"""Deduplication operators for large-scale training-data pipelines
(beyond-reference extension, BASELINE.json north star).

Four tiers, each scale-designed:

- **exact**: hash-groupBy on a content fingerprint — one shuffle on
  md5(text), no text comparison.
- **MinHash + LSH**: shingle → k minhashes → band → bucket-join.
  Candidate generation never compares all O(n²) pairs: docs meet only
  inside an LSH band bucket (shuffle keyed on band signature).
- **exact n-gram Jaccard**: verified similarity, computed ONLY for
  LSH candidate pairs (the scale path: candidates ≪ n²).
- **SimHash**: 32-bit sign-random-projection fingerprint per doc;
  near-dups differ in few bits.

Determinism: all hashing is md5-hex (identical across engines and
runs); minhash_i(s) = min over shingles of md5("{i}:{s}") — the
lexicographic min of a uniform hex hash is a valid uniform min-hash
and needs no engine-specific integer hash. Document operators read
the documents table's ``doc_id``/``text`` columns.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def content_fingerprint(text: Column) -> Column:
    """md5 content hash for exact dedup (identical in DuckDB)."""
    return F.md5(text.cast("binary"))


def exact_dedup_summary(docs: DataFrame) -> DataFrame:
    """Corpus-level exact-dup census: total docs, distinct contents,
    duplicate count. Single aggregate over the md5 fingerprint."""
    fp = content_fingerprint(F.col("text"))
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
    )
    return agg.select(
        "n_docs", "n_unique", (F.col("n_docs") - F.col("n_unique")).alias("n_duplicates")
    )


def char_shingles(
    docs: DataFrame,
    k: int = 5,
    distinct: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """Character k-gram shingles per document: ``(doc_id, shingle)``.
    explode(sequence) + substring — all JVM-side.

    ``distinct=True`` gives set semantics (required for exact
    Jaccard); pass ``distinct=False`` for consumers that are
    duplicate-invariant — MIN-based minhashing — to skip the
    full-shingle-table dedup shuffle entirely.

    ``partitions`` overrides the explode fan-out width for callers
    that KNOW the input is small (r16, guide §2.5 inverted: a
    known-tiny delta must not pay a 32-task scheduling wave per
    downstream pass — ``dedup_delta`` sizes this from its measured
    delta count); default stays the session's parallelism."""
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length("_text") - (k - 1), F.lit(1)))
    ).alias("pos")
    # Repartition BEFORE the explode: a small parquet input arrives as
    # one partition, which would serialize the |text|-fold row blowup
    # onto one core regardless of cluster size.
    par = partitions or docs.sparkSession.sparkContext.defaultParallelism
    sh = (
        docs.select("doc_id", F.col("text").alias("_text"))
        .repartition(par, "doc_id")
        .select("doc_id", "_text", pos)
        .select("doc_id", F.expr(f"substring(_text, pos, {k})").alias("shingle"))
    )
    return sh.distinct() if distinct else sh


def minhash_wide(shingles: DataFrame, num_hashes: int = 12) -> DataFrame:
    """MinHash signature as ONE wide row per doc:
    ``(doc_id, mh0..mh{k-1})`` with mh_i = MIN(md5(i || ':' || shingle)).

    All k mins are fused aggregates over a single pass of the shingle
    table — no k-way explode, and the shuffle carries only per-doc
    partial aggregates (map-side combine), k·32 bytes per doc. At
    100 TB this is the difference between shuffling k·|corpus
    shingles| rows and shuffling |docs| rows."""
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")).cast("binary"))
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def band_signatures(
    wide: DataFrame, num_hashes: int = 12, rows_per_band: int = 3
) -> DataFrame:
    """LSH banding from the wide signature: ``(doc_id, band, sig)``,
    sig = md5 of the band's '|'-joined minhashes. The long unpivot
    (stack) happens AFTER hashing, so it is b rows per doc, not k."""
    n_bands = num_hashes // rows_per_band
    band_cols = []
    for b in range(n_bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *parts).cast("binary")).alias(f"band{b}"))
    sigs = wide.select("doc_id", *band_cols)
    stack_expr = ", ".join(f"{b}, band{b}" for b in range(n_bands))
    return sigs.selectExpr(
        "doc_id", f"stack({n_bands}, {stack_expr}) as (band, sig)"
    ).select("doc_id", F.col("band").cast("int").alias("band"), "sig")


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Candidate pairs = distinct doc pairs sharing any band bucket.
    Self-join keyed on (band, sig) — each bucket is tiny, so the join
    output is ~Σ bucket² ≪ n²; skewed buckets are split by AQE."""
    left = bands.select(F.col("band"), F.col("sig"), F.col("doc_id").alias("doc_a"))
    right = bands.select(F.col("band").alias("_b"), F.col("sig").alias("_s"), F.col("doc_id").alias("doc_b"))
    return (
        left.join(
            right,
            (F.col("band") == F.col("_b"))
            & (F.col("sig") == F.col("_s"))
            & (F.col("doc_a") < F.col("doc_b")),
            "inner",
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_star_pairs(bands: DataFrame) -> DataFrame:
    """STAR candidate pairs: per (band, sig) bucket every doc pairs
    with the bucket's REPRESENTATIVE (min doc_id) only — the
    production mitigation for the all-pairs rule's quadratic bucket
    cost that the r8 30× sweep measured (SCALE.md: candidate pairs
    grew 49.5× for 30× docs under ``lsh_candidate_pairs`` because
    Σ|bucket|² grows with occupancy; star candidates are bounded by
    n·bands regardless of bucket sizes — large-scale minhash dedup
    deployments cluster by bucket this way, e.g. Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Semantics trade, stated plainly: star edges are a SUBSET of the
    all-pairs edges, so downstream connected components can SPLIT a
    cluster the all-pairs rule would join (two docs that both fail
    verification against the representative but would pass against
    each other). Each doc still meets ``n_bands`` representatives,
    and transitive closure over bands recovers most merges — the
    recall/cost dial every bucketed dedup turns. Exact parity with
    the all-pairs rule on the fixtures is NOT expected or claimed;
    the query has its own SQL oracle of the same star rule.

    Plan shape: one groupBy (band, sig) min — map-side combinable —
    and one equi-join of bands against the tiny rep frame; output
    ≤ n·bands rows. The min-rep groupBy and the join shuffle on the
    same (band, sig) key, so the exchange is reused."""
    rep = bands.groupBy("band", "sig").agg(F.min("doc_id").alias("doc_a"))
    return (
        bands.join(rep, ["band", "sig"])
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def estimated_jaccard(
    wide: DataFrame, candidates: DataFrame, num_hashes: int = 12
) -> DataFrame:
    """Minhash-estimated Jaccard for candidate pairs: fraction of the
    k signature slots that agree.

    Two joins against the (small, broadcastable) wide signature table
    and a single row-local sum of k equality bits — no per-hash
    explode, no aggregation shuffle at all."""
    a = wide.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(num_hashes)]
    )
    b = wide.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(num_hashes)]
    )
    matches = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(num_hashes)
    )
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def _pair_shingle_arrays(
    shingles: DataFrame, candidates: DataFrame
) -> DataFrame:
    """(doc_a, doc_b, n_inter, sz_a, sz_b) for candidate pairs via
    per-doc shingle ARRAYS and ``array_intersect`` — NOT via joining
    candidate pairs against the exploded shingle table. The exploded
    form shuffles |candidates| · avg_shingles rows (measured 121 s /
    GC storms at sf0.5: 1M candidates × ~300 shingles ≈ 3·10⁸
    intermediate rows); the array form joins |candidates| rows to two
    array-valued doc rows and intersects inside codegen — per-pair
    cost stays, the shuffle amplification goes."""
    arrs = shingles.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("arr")
    )
    aa = arrs.select(
        F.col("doc_id").alias("doc_a"), F.col("arr").alias("_arr_a")
    )
    bb = arrs.select(
        F.col("doc_id").alias("doc_b"), F.col("arr").alias("_arr_b")
    )
    return (
        candidates.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_arr_a", "_arr_b")).alias("n_inter"),
            F.size("_arr_a").alias("sz_a"),
            F.size("_arr_b").alias("sz_b"),
        )
        .filter(F.col("n_inter") > 0)
    )


def exact_jaccard(shingles: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard, computed only for candidate pairs:
    J = i / (a + b − i) with the intersection taken per pair on
    per-doc shingle arrays (see ``_pair_shingle_arrays`` for why not
    an exploded join)."""
    return _pair_shingle_arrays(shingles, candidates).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )


def containment_scores(shingles: DataFrame, candidates: DataFrame) -> DataFrame:
    """Broder containment |A∩B|/|A| and |A∩B|/|B| per candidate pair,
    alongside Jaccard — the ASYMMETRIC near-dup signal: a short
    document quoted whole inside a long one has high containment but
    low Jaccard, so a Jaccard-only gate misses it. Same array-
    intersect shape as ``exact_jaccard``; only the final ratios
    differ."""
    pairs = _pair_shingle_arrays(shingles, candidates)
    cont_a = F.round(F.col("n_inter") / F.col("sz_a"), 6)
    cont_b = F.round(F.col("n_inter") / F.col("sz_b"), 6)
    jac = F.round(
        F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        cont_a.alias("containment_a"),
        cont_b.alias("containment_b"),
        F.greatest(cont_a, cont_b).alias("max_containment"),
        jac.alias("jaccard"),
        F.when(jac >= 0.5, F.lit("near_dup"))
        .when(F.greatest(cont_a, cont_b) >= 0.8, F.lit("containment_dup"))
        .otherwise(F.lit("candidate"))
        .alias("dup_kind"),
    )


def simhash32(tokens: DataFrame) -> DataFrame:
    """32-bit SimHash per document from distinct tokens.

    For bit j (0..31): nibble = hex digit j//4 of md5(token); bit =
    (nibble >> (3 − j%4)) & 1; the doc's bit j is the sign of
    Σ_tokens (2·bit − 1). All-integer arithmetic → engine-portable.
    """
    t = tokens.select("doc_id", F.md5(F.col("token").cast("binary")).alias("h"))
    j = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j")
    exploded = t.select("doc_id", "h", j)
    nib = F.expr("instr('0123456789abcdef', substring(h, CAST(j / 4 AS INT) + 1, 1)) - 1")
    bit = F.floor(nib / F.pow(F.lit(2), 3 - F.col("j") % 4)).cast("bigint") % 2
    contrib = (bit * 2 - 1).alias("contrib")
    per_bit = exploded.select("doc_id", "j", contrib).groupBy("doc_id", "j").agg(
        F.sum("contrib").alias("s")
    )
    final_bit = F.when(F.col("s") > 0, F.lit(1)).otherwise(F.lit(0))
    return per_bit.select("doc_id", "j", final_bit.alias("b")).groupBy("doc_id").agg(
        F.sum(F.col("b") * F.pow(F.lit(2), F.col("j")).cast("bigint")).cast("bigint").alias("simhash")
    )


#: edge-count cutover: at or below it, components are finished with
#: exact union-find on the driver (≈30 MB collected at the default)
#: instead of paying ~5 driver-coordinated join rounds — the same
#: adaptive small-side reasoning as a broadcast join. Above it, the
#: distributed large-star/small-star loop runs.
SMALL_GRAPH_EDGES = 1_000_000


def _cut(df: DataFrame) -> DataFrame:
    """Eager lineage cut for an iterative loop: a RELIABLE
    ``checkpoint()`` whenever the session has a checkpoint dir
    configured (survives executor loss on a real cluster), else
    ``localCheckpoint`` (executor-local — the single-JVM fallback)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list:
    ``(node, component)`` with every component labelled by its
    smallest node id.

    The dedup-pipeline closer: LSH candidate pairs above a similarity
    threshold form edges; components are the duplicate CLUSTERS from
    which one canonical document survives.

    One rule, read from the measured size of the symmetric
    deduplicated edge list: at or below ``SMALL_GRAPH_EDGES`` edges
    the list is collected once (one Arrow ``toPandas`` job) and
    finished with exact union-find on the driver; above it
    ``connected_components_star`` runs distributed (up to 25 rounds).
    Both compute the same exact labelling. Pass a dict as ``stats`` to
    receive ``{"iterations": k}`` (plus ``"fast_path": True`` on the
    driver path).
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    # Route-decision materialization is a PERSIST, not a checkpoint
    # (r15 guide §1 measurement: checkpoint+count+toLocalIterator cost
    # ~2.5 s of dedup_delta's 7 s): the star loop re-derives its own
    # oriented edge list from ``edges`` and cuts lineage itself, and
    # the driver path needs the rows exactly once.
    sym = sym.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = sym.count()
    if n_edges > SMALL_GRAPH_EDGES:
        # measured winner at >1M edges (SCALE.md r4)
        sym.unpersist()
        return connected_components_star(edges, src, dst, stats=stats)
    # Small-graph path: the symmetric edge list is a tiny projection
    # of the corpus (candidate pairs, not documents). When it fits on
    # the driver, union-find with path compression beats any number
    # of distributed rounds — their per-round cost is driver-
    # coordinated job scheduling, which no partitioning can amortize
    # on a small frontier.
    if stats is not None:
        stats["iterations"] = 0
        stats["fast_path"] = True
    node_type = sym.schema[0].dataType
    pdf = sym.toPandas()
    sym.unpersist()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    # .tolist() converts numpy scalars to plain Python values so
    # the labels round-trip through createDataFrame unchanged
    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the final relabel pass is trivial
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out_rows = [(n, find(n)) for n in parent]
    out_schema = T.StructType(
        [
            T.StructField("node", node_type, False),
            T.StructField("component", node_type, False),
        ]
    )
    return edges.sparkSession.createDataFrame(out_rows, out_schema)


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii 2014,
    "Connected Components in MapReduce and Beyond" — public). Same
    contract as ``connected_components``: ``(node, component)`` with
    the component labelled by its minimum node id.

    Per round: large-star hooks every node's LARGER neighbors onto its
    local minimum (one agg + one join on the symmetric closure), then
    small-star re-points every node's SMALLER-or-equal neighbors at
    the minimum (one agg + one join on the child>parent orientation).
    Both phases are hash-partitioned on the join key — no global sort,
    no driver state. Converges in O(log n) rounds to height-1 stars;
    the edge set itself shrinks each round as edges collapse onto
    star centers. Lineage is cut every round (``_cut``), so the plan
    stays O(1) deep. At most 25 rounds run.
    """
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col(src) != F.col(dst))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    e = _cut(e)
    prev_cnt = e.count()
    n_iter = 0
    for _ in range(25):
        n_iter += 1
        # large-star over the symmetric closure: (v, m(u)) for v > u
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = sym.groupBy("u").agg(F.min("v").alias("mv"))
        lmin = lmin.select("u", F.least("u", "mv").alias("m"))
        large = (
            sym.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )
        # small-star on the child>parent orientation: re-point the
        # smaller neighbors (and u itself) at the local minimum
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        new_e = _cut(
            large.join(smin, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .distinct()
        )
        cnt = new_e.count()
        converged = cnt == prev_cnt and new_e.subtract(e).isEmpty()
        e, prev_cnt = new_e, cnt
        if converged:
            break
    if stats is not None:
        stats["iterations"] = n_iter
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("component"))
    )
    # isolated/self-loop-only nodes keep themselves as component
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def pagerank_ranks(
    dir_edges: DataFrame,
    iters: int = 3,
    has_dangling: bool | None = None,
) -> DataFrame:
    """Standard PageRank power iteration (damping 0.85, uniform init)
    over a DIRECTED edge list ``(src, dst)``: the node set is
    ``src ∪ dst`` (sink nodes that only ever appear as ``dst`` are
    ranked too), and the mass held by DANGLING nodes (out-degree 0)
    is redistributed uniformly each round — so ranks sum to 1 on any
    directed input, not just symmetrized ones. ``iters`` lazy rounds
    of one contributions join + one groupBy-sum keyed on the node id
    (successive iterations reuse the same hash partitioning), plus a
    1-row dangling-mass aggregate broadcast into the update.
    Returns ``(v, rank, n)``.

    Iteration-count guidance (why the registered query's 3 rounds
    suffice, tests/test_edge_cases.py measures this): the update is a
    0.85-contraction in L1, so the residual after t rounds is ≤
    0.85^t · δ₁; and on the LSH CANDIDATE graph specifically the
    components are near-cliques (every bucket is a clique), where the
    uniform init is already stationary — measured δ after round 1 is
    ~1e-17 at sf0.001 AND sf0.01.

    Plan shape (r7 self-review): graphs with NO dangling nodes — any
    symmetrized edge list, like the registered query's — skip the
    dangling aggregate entirely, keeping the fully LAZY single-chain
    plan. Graphs WITH sinks need the per-round dangling sum, which
    consumes ``ranks`` twice; to stop the 2^iters lazy-plan blowup
    that path cuts lineage per round with ``localCheckpoint``
    (eager, like the connected-components loop — measured 2.3× wall
    on the registered query when the dangling sum was left lazy on
    it).

    ``has_dangling``: pass ``False`` when the edge list is known
    sink-free (every symmetrized list is) — the call then builds a
    PURE LAZY plan with no job at construction time; pass ``True``
    to force the dangling path. The default ``None`` probes with one
    ``isEmpty`` on the checkpointed node base — correct for arbitrary
    input but EAGER: the probe materializes the upstream edge
    pipeline at call time (r7 review finding — the registered
    symmetrized query passes False for this reason)."""
    deg = dir_edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = (
        dir_edges.select(F.col("src").alias("v"))
        .union(dir_edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    # localCheckpoint (lazy), not cache (r7 VERDICT ask #6 + ADVICE):
    # the node base feeds every iteration's left join AND the rank
    # init — a lazy local checkpoint materializes it once, truncates
    # the src∪dst-distinct lineage out of all downstream plans
    # (measured best-of-3 at sf0.1: 3.03 s vs 3.78 s with cache), and
    # its blocks are ContextCleaner-collected when the returned frame
    # is dropped, where a CacheManager entry leaked per call for the
    # session lifetime. Trade (same as the CC loop's checkpoints):
    # truncated lineage is not recomputable after executor loss — on
    # a multi-node cluster prefer a reliable checkpoint dir.
    base = (
        nodes.join(deg, nodes.v == deg.src, "left")
        .select("v", F.col("d").isNull().alias("dangling"))
        .crossJoin(F.broadcast(nn))
        .localCheckpoint(eager=False)
    )
    if has_dangling is None:
        has_dangling = not base.where("dangling").isEmpty()
    ranks = base.select(
        "v", "dangling", (F.lit(1.0) / F.col("n")).alias("rank"), "n"
    )
    contrib_edges = dir_edges.join(deg, "src")
    for _ in range(iters):
        if has_dangling:
            ranks = ranks.localCheckpoint(eager=True)
            dangling_term = F.col("dm") / F.col("n")
        else:
            dangling_term = F.lit(0.0)
        contrib = ranks.join(
            contrib_edges, ranks.v == contrib_edges.src
        ).select(
            F.col("dst").alias("v"), (F.col("rank") / F.col("d")).alias("w")
        )
        summed = contrib.groupBy("v").agg(F.sum("w").alias("s"))
        nxt = base.join(summed, "v", "left")
        if has_dangling:
            dm = ranks.where("dangling").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            nxt = nxt.crossJoin(F.broadcast(dm))
        ranks = nxt.select(
            "v",
            "dangling",
            (
                F.lit(0.15) / F.col("n")
                + F.lit(0.85)
                * (F.coalesce(F.col("s"), F.lit(0.0)) + dangling_term)
            ).alias("rank"),
            "n",
        )
    return ranks.select("v", "rank", "n")


# --- exact-substring span removal (Lee et al. 2022 ExactSubstr) ----------


def substring_remove(
    docs: DataFrame,
    k: int = 50,
) -> DataFrame:
    """Exact-substring span REMOVAL — the transform of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better" §4.2,
    ExactSubstr — public): any token span of length >= ``k`` that
    occurs more than once in the corpus is removed everywhere EXCEPT
    its first occurrence (corpus order = lexicographic (doc_id,
    position)). ``dedup_ngram_coverage`` measures the duplicated
    mass; this operator is what actually cleans it out of training
    text.

    Semantics: every duplicated k-gram occurrence other than the
    corpus-first one marks its k token positions as covered; the
    cleaned text is the uncovered tokens re-joined in order. A region
    duplicated for L >= k consecutive tokens is covered by its L-k+1
    overlapping duplicated k-grams, so whole duplicated regions
    disappear in one pass — no suffix array needed for the removal
    semantics itself (the suffix array in the paper is an
    IMPLEMENTATION device for single-node scale; the k-gram
    formulation shuffles on the gram hash instead, which is the
    distributable shape).

    Scale shape: grams assemble inside the scan partition (array
    slicing over the token split — no window, no shuffle); duplicate
    occurrences fall out of ONE row_number window over the 16-byte
    gram hash (one shuffle — the r10 stage profile measured the
    first-cut groupBy+self-join form sort-merging two corpus-sized
    frames, ~4x the whole query's warm wall at 30x, and the window
    form replaced it); coverage explodes k rows per DUPLICATE
    occurrence only (duplicates << occurrences in a healthy corpus);
    the rebuild is one groupBy on doc_id. No all-pairs stage anywhere
    — cost is linear in corpus tokens plus k x the duplicated mass.

    Returns ``(doc_id, n_tokens, n_removed, clean_text)`` for EVERY
    input doc (docs shorter than ``k`` tokens pass through
    unchanged; a fully-duplicated doc comes back with
    ``clean_text = ''``)."""
    arr = F.split(F.trim(F.col("text")), " +")
    base = (
        docs.select("doc_id", arr.alias("l"))
        .filter(F.size("l") >= 1)
        .filter(F.element_at("l", 1) != "")
    )
    toks = base.select(
        "doc_id", F.posexplode("l").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    grams = base.filter(F.size("l") >= k).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("l") - (k - 1))).alias("pos"),
        "l",
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("l"), F.col("pos") + i) for i in range(k)]
    )
    occ = grams.select(
        "doc_id", "pos", F.md5(gram.cast("binary")).alias("gh")
    )
    # duplicate occurrences = everything after the corpus-first one,
    # i.e. row_number > 1 under (doc_id, pos) within each gram hash —
    # ONE shuffle on gh, no aggregate, no join. The first cut built a
    # first-occurrence/count table and joined the corpus-sized
    # occurrence frame back onto it: same answer, but that self-join
    # re-derives the gram table for BOTH sides and sort-merges two
    # 7M-row frames at 30x — the r10 stage profile pinned it as the
    # wall's owner. rn > 1 implies cnt > 1, so the count predicate is
    # subsumed.
    w_gh = Window.partitionBy("gh").orderBy("doc_id", "pos")
    dup = (
        occ.withColumn("_rn", F.row_number().over(w_gh))
        .filter(F.col("_rn") > 1)
        .select("doc_id", "pos")
    )
    covered = dup.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias(
            "pos"
        ),
    ).distinct()
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("token")))
                ),
                lambda s: s["token"],
            ),
            " ",
        ).alias("clean_text"),
    )
    n_tok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n_tok"))
    return (
        docs.select("doc_id")
        .join(n_tok, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n_tok"), F.lit(0)).cast("long").alias("n_tokens"),
            (
                F.coalesce(F.col("_n_tok"), F.lit(0))
                - F.coalesce(F.col("_n_kept"), F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
