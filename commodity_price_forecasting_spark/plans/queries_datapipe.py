"""Training-data-pipeline queries (beyond-reference extension,
BASELINE.json north star): deduplication, text analysis, similarity
search over the ``documents`` / ``embeddings`` fixtures.

Oracle portability rule: every pseudo-random quantity is derived from
md5 hex digests (identical in Spark and DuckDB); every score that
crosses an ordering or threshold is either integer arithmetic or
rounded to 6 dp on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.dedup import (
    band_signatures,
    connected_components,
    char_shingles,
    containment_scores,
    estimated_jaccard,
    exact_dedup_summary,
    exact_jaccard,
    lsh_candidate_pairs,
    lsh_star_pairs,
    minhash_wide,
    simhash32,
)
from commodity_price_forecasting_spark.operators.similarity import (
    bucket_histogram,
    cosine_topk,
    lsh_buckets,
    near_dup_pairs_cosine,
)
from commodity_price_forecasting_spark.operators.textops import (
    fingerprint,
    langid_predict,
    quality_score,
    token_stats,
    tokens,
)
from commodity_price_forecasting_spark.plans.registry import register
from commodity_price_forecasting_spark.sources.readers import load_table


_EXACT_ORACLE = """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_duplicates
FROM documents
"""


@register("dedup_exact", oracle=_EXACT_ORACLE, tags=("datapipe", "dedup"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup census via md5 content fingerprint — one
    countDistinct over the hash, never over the full text bytes."""
    return exact_dedup_summary(load_table(spark, sf_dir, "documents"))


# Shared CTE: char-5-gram shingles + 12 minhashes + 4 bands of 3.
_SHINGLE_CTE = """
WITH pos AS (
  SELECT doc_id, text,
         UNNEST(range(1, GREATEST(length(text) - 4, 1) + 1)) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 5) AS shingle FROM pos
), mh AS (
  SELECT doc_id, h.i,
         MIN(md5(CAST(h.i AS VARCHAR) || ':' || shingle)) AS mh
  FROM sh, generate_series(0, 11) h(i)
  GROUP BY doc_id, h.i
), bands AS (
  SELECT doc_id, CAST(FLOOR(i / 3) AS INTEGER) AS band,
         md5(string_agg(mh, '|' ORDER BY i)) AS sig
  FROM mh GROUP BY doc_id, CAST(FLOOR(i / 3) AS INTEGER)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
"""


_MINHASH_ORACLE = (
    _SHINGLE_CTE
    + """
SELECT c.doc_a, c.doc_b,
       SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 12.0 AS est_jaccard
FROM cand c
JOIN mh a ON a.doc_id = c.doc_a
JOIN mh b ON b.doc_id = c.doc_b AND a.i = b.i
GROUP BY c.doc_a, c.doc_b
"""
)


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("datapipe", "dedup", "bench"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: char-5-gram shingles → 12
    md5-minhashes → 4 bands × 3 rows → bucket self-join → estimated
    Jaccard per candidate pair. No O(n²) stage anywhere: pairs exist
    only where a band bucket collides."""
    docs = load_table(spark, sf_dir, "documents")
    # distinct=False: MIN-minhash is duplicate-invariant, so the
    # shingle-table dedup shuffle is pure waste on this path.
    sh = char_shingles(docs, k=5, distinct=False)
    # The signature table is tiny (k hashes x 32B per doc) but costs a
    # full shingle pass to build - cache it: it feeds banding AND both
    # sides of the estimate join (3 consumers). cache(), NOT
    # localCheckpoint (r8, measured): CacheManager dedupes by
    # canonicalized plan, so repeated calls share ONE entry (no
    # per-call leak), and InMemoryTableScan supports column-pruned
    # reads; swapping to a lazy localCheckpoint measured 1.8-2x
    # slower with 3.3x the shuffle read at sf3 (opaque full-row
    # blocks, no pruning, no cross-call reuse).
    wide = minhash_wide(sh, num_hashes=12).cache()
    cand = lsh_candidate_pairs(band_signatures(wide, num_hashes=12, rows_per_band=3))
    return estimated_jaccard(wide, cand, num_hashes=12)


_NGRAM_JACCARD_ORACLE = (
    _SHINGLE_CTE
    + """
, sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       ROUND(n_inter * 1.0 / (za.sz + zb.sz - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
"""
)


@register("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE, tags=("datapipe", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard — verification stage run ONLY on the
    LSH candidate pairs (the scale path: |candidates| ≪ n²)."""
    docs = load_table(spark, sf_dir, "documents")
    # NO cache on the shingle table: materializing ~300 shingle
    # strings per doc costs more than recomputing the explode for
    # the second consumer (measured 28.8s cached vs 11.1s uncached
    # at sf0.5 — storage-memory pressure beats the saved scan)
    sh = char_shingles(docs, k=5)
    wide = minhash_wide(sh, num_hashes=12)
    cand = lsh_candidate_pairs(band_signatures(wide, num_hashes=12, rows_per_band=3))
    return exact_jaccard(sh, cand)


_CONTAINMENT_ORACLE = (
    _SHINGLE_CTE
    + """
, sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       ROUND(n_inter * 1.0 / za.sz, 6) AS containment_a,
       ROUND(n_inter * 1.0 / zb.sz, 6) AS containment_b,
       GREATEST(ROUND(n_inter * 1.0 / za.sz, 6),
                ROUND(n_inter * 1.0 / zb.sz, 6)) AS max_containment,
       ROUND(n_inter * 1.0 / (za.sz + zb.sz - n_inter), 6) AS jaccard,
       CASE WHEN ROUND(n_inter * 1.0 / (za.sz + zb.sz - n_inter), 6) >= 0.5
              THEN 'near_dup'
            WHEN GREATEST(ROUND(n_inter * 1.0 / za.sz, 6),
                          ROUND(n_inter * 1.0 / zb.sz, 6)) >= 0.8
              THEN 'containment_dup'
            ELSE 'candidate' END AS dup_kind
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
"""
)


@register("dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("datapipe", "dedup"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment scores on the LSH candidate pairs — the
    ASYMMETRIC near-dup lane: |A∩B|/|A| and |A∩B|/|B| flag a short
    document wholly quoted inside a long one (high containment, low
    Jaccard), the inclusion case a Jaccard-only dedup gate misses.
    ``dup_kind`` buckets each pair: Jaccard ≥ 0.5 → near_dup, else
    max containment ≥ 0.8 → containment_dup, else candidate.
    Candidate-restricted equi-joins only — same Σ bucket² bound as
    the other LSH-backed lanes (`operators/dedup.containment_scores`)."""
    docs = load_table(spark, sf_dir, "documents")
    # NO cache on the shingle table: materializing ~300 shingle
    # strings per doc costs more than recomputing the explode for
    # the second consumer (measured 28.8s cached vs 11.1s uncached
    # at sf0.5 — storage-memory pressure beats the saved scan)
    sh = char_shingles(docs, k=5)
    wide = minhash_wide(sh, num_hashes=12)
    cand = lsh_candidate_pairs(
        band_signatures(wide, num_hashes=12, rows_per_band=3)
    )
    return containment_scores(sh, cand)


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, md5(tok) AS h FROM (
    SELECT d.doc_id, UNNEST(string_split(trim(d.text), ' ')) AS tok FROM documents d
  ) WHERE tok <> ''
), bits AS (
  SELECT doc_id, j.j,
         SUM(2 * (CAST(FLOOR(
               (strpos('0123456789abcdef', substr(h, CAST(FLOOR(j.j / 4) AS INTEGER) + 1, 1)) - 1)
               / POWER(2, 3 - j.j % 4)) AS BIGINT) % 2) - 1) AS s
  FROM toks, generate_series(0, 31) j(j)
  GROUP BY doc_id, j.j
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("datapipe", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints — near-dup docs land within small
    Hamming distance. All-integer md5-nibble arithmetic (portable)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(docs).select("doc_id", "token").distinct()
    return simhash32(toks)


_TOKEN_STATS_ORACLE = """
WITH t AS (
  SELECT d.doc_id, UNNEST(string_split(trim(d.text), ' ')) AS token FROM documents d
)
SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct,
       ROUND(COUNT(DISTINCT token) * 1.0 / COUNT(*), 6) AS ttr,
       ROUND(AVG(LENGTH(token)), 6) AS avg_token_len
FROM t WHERE token <> ''
GROUP BY doc_id
"""


@register("text_token_stats", oracle=_TOKEN_STATS_ORACLE, tags=("datapipe", "text"))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counting (count / distinct / type-token ratio /
    mean length) — one explode + groupBy, all JVM-side."""
    return token_stats(load_table(spark, sf_dir, "documents"))


_QUALITY_ORACLE = """
WITH t AS (
  SELECT d.doc_id, UNNEST(string_split(trim(d.text), ' ')) AS token FROM documents d
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct,
         SUM(CASE WHEN token IN ('the','a','of','and','in') THEN 1 ELSE 0 END) AS n_stop
  FROM t WHERE token <> ''
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(0.4 * LEAST(n_tokens / 50.0, 1.0)
           + 0.3 * (n_distinct * 1.0 / n_tokens)
           + 0.3 * (1 - ABS(n_stop * 1.0 / n_tokens - 0.10) / 0.9), 6) AS quality
FROM per_doc
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE, tags=("datapipe", "text"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality filter score (length/diversity/stopword
    blend) — the pre-training-corpus filter shape as pure
    expressions."""
    return quality_score(load_table(spark, sf_dir, "documents"))


_LANGID_ORACLE = """
WITH t AS (
  SELECT d.doc_id, UNNEST(string_split(trim(d.text), ' ')) AS token FROM documents d
), tok AS (
  SELECT doc_id, token FROM t WHERE token <> ''
), labeled AS (
  SELECT tok.doc_id, tok.token, d.lang FROM tok JOIN documents d ON d.doc_id = tok.doc_id
), tl AS (
  SELECT token, lang, COUNT(*) AS cnt FROM labeled GROUP BY token, lang
), token_lang AS (
  SELECT token, lang AS token_lang FROM (
    SELECT token, lang, ROW_NUMBER() OVER (PARTITION BY token ORDER BY cnt DESC, lang) AS rn
    FROM tl) x WHERE rn = 1
), votes AS (
  SELECT tok.doc_id, token_lang, COUNT(*) AS votes
  FROM tok JOIN token_lang USING (token)
  GROUP BY tok.doc_id, token_lang
), pred AS (
  SELECT doc_id, token_lang AS predicted_lang FROM (
    SELECT doc_id, token_lang, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY votes DESC, token_lang) AS rn
    FROM votes) x WHERE rn = 1
)
SELECT d.doc_id, d.lang, p.predicted_lang,
       CAST(d.lang = p.predicted_lang AS INTEGER) AS correct
FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id
"""


@register("text_langid", oracle=_LANGID_ORACLE, tags=("datapipe", "text"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-vote language ID: build a token→language profile
    from the corpus (broadcast), have each doc's tokens vote.
    All-integer ranking with lexicographic tie-breaks — portable."""
    return langid_predict(load_table(spark, sf_dir, "documents"))


_FINGERPRINT_ORACLE = """
WITH tl AS (
  SELECT doc_id, string_split(trim(text), ' ') AS l FROM documents
  WHERE len(string_split(trim(text), ' ')) >= 4
), idx AS (
  SELECT doc_id, l, UNNEST(range(1, len(l) - 3 + 1)) AS i FROM tl
), grams AS (
  SELECT doc_id,
         l[CAST(i AS INTEGER)] || ' ' || l[CAST(i AS INTEGER)+1] || ' ' ||
         l[CAST(i AS INTEGER)+2] || ' ' || l[CAST(i AS INTEGER)+3] AS gram
  FROM idx
)
SELECT doc_id, MIN(md5(gram)) AS fingerprint, COUNT(*) AS n_grams
FROM grams GROUP BY doc_id
"""


@register("text_fingerprint", oracle=_FINGERPRINT_ORACLE, tags=("datapipe", "text"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling word-4-gram min-hash fingerprint per document (1-hash
    winnowing analogue) — equal fingerprints flag likely near-dups."""
    return fingerprint(load_table(spark, sf_dir, "documents"), n=4)


_SIM_TOPK_ORACLE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         UNNEST(CAST(e.embedding AS DOUBLE[])) AS a,
         UNNEST(q.qv) AS b
  FROM embeddings e, q WHERE e.vec_id <> 0
), sums AS (
  SELECT vec_id, SUM(a * b) AS dot, SUM(a * a) AS na, SUM(b * b) AS nb
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cosine
FROM sums ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register("sim_topk_bruteforce", oracle=_SIM_TOPK_ORACLE, tags=("datapipe", "similarity", "bench"))
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id 0 — broadcast query
    vector, one corpus scan, heap-based top-k (no global sort).
    zip_with/aggregate keep the dot product in codegen."""
    return cosine_topk(load_table(spark, sf_dir, "embeddings"), query_id=0, k=10)


_LSH_BUCKET_CTE = """
WITH dims AS (
  SELECT vec_id, embedding, UNNEST(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), base AS (
  SELECT vec_id, CAST(i AS INTEGER) AS d,
         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS v
  FROM dims
), proj AS (
  SELECT vec_id, p.p,
         SUM(CASE WHEN strpos('0123456789abcdef',
                              substr(md5(CAST(p.p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) % 2 = 1
                  THEN v ELSE -v END) AS s
  FROM base, generate_series(0, 7) p(p)
  GROUP BY vec_id, p.p
), buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
)
"""


_SIM_LSH_ORACLE = (
    _LSH_BUCKET_CTE
    + """
SELECT bucket, COUNT(*) AS n_vecs FROM buckets GROUP BY bucket
"""
)


@register("sim_lsh_buckets", oracle=_SIM_LSH_ORACLE, tags=("datapipe", "similarity"))
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH bucketing (8 md5-derived ±1
    hyperplanes → 256 buckets) + occupancy histogram — the ANN index
    build; repeated queries probe one bucket instead of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return bucket_histogram(lsh_buckets(emb, n_planes=8))


_NEAR_DUP_ORACLE = (
    _LSH_BUCKET_CTE
    + """
, pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), exploded AS (
  SELECT p.vec_a, p.vec_b,
         UNNEST(CAST(ea.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(eb.embedding AS DOUBLE[])) AS y
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b
), sums AS (
  SELECT vec_a, vec_b, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
  FROM exploded GROUP BY vec_a, vec_b
)
SELECT vec_a, vec_b, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cosine
FROM sums WHERE ROUND(dot / (SQRT(na) * SQRT(nb)), 6) >= 0.3
"""
)


@register("sim_near_dup_cosine", oracle=_NEAR_DUP_ORACLE, tags=("datapipe", "similarity", "dedup"))
def sim_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: candidates restricted to
    same-LSH-bucket vectors (≪ n² pairs), exact cosine verification
    above threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = lsh_buckets(emb, n_planes=8)
    return near_dup_pairs_cosine(emb, b, threshold=0.3)


_IVF_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
), seeds AS (
  SELECT vec_id AS sid, embedding AS semb
  FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), q AS (
  SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0
), assign_x AS (
  SELECT c.vec_id, s.sid,
         UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS y
  FROM corpus c CROSS JOIN seeds s
), assign_cs AS (
  SELECT vec_id, sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM assign_x GROUP BY vec_id, sid
), assign_rk AS (
  SELECT vec_id, sid AS cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid) AS rk
  FROM assign_cs
), cells AS (
  SELECT vec_id, cell FROM assign_rk WHERE rk = 1
), probe_x AS (
  SELECT s.sid,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS x,
         UNNEST(CAST(q.qemb AS DOUBLE[])) AS y
  FROM seeds s CROSS JOIN q
), probe_cs AS (
  SELECT sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM probe_x GROUP BY sid
), probe AS (
  SELECT sid FROM probe_cs
  ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid
  LIMIT 2
), scan_x AS (
  SELECT c.vec_id, cl.cell,
         UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(q.qemb AS DOUBLE[])) AS y
  FROM corpus c
  JOIN cells cl ON cl.vec_id = c.vec_id
  JOIN probe p ON p.sid = cl.cell
  CROSS JOIN q
), scan_cs AS (
  SELECT vec_id, cell, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM scan_x GROUP BY vec_id, cell
)
SELECT vec_id, cell, ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) AS cosine
FROM scan_cs ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register("sim_ivf_topk", oracle=_IVF_ORACLE, tags=("datapipe", "similarity"))
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN with a deterministic coarse quantizer: 16 cells
    seeded by the corpus vectors with smallest md5(vec_id) (a
    0-iteration kmeans init — engine-reproducible, so the whole
    assign→probe→in-cell-exact-search path has an ANSI-SQL oracle),
    probe the 2 cells nearest the query, exact cosine inside the
    probed cells only. The MLlib-KMeans quantizer
    (operators/similarity.ivf_assign) is the trained-centroid
    alternative; probed through the same ``ivf_seed_topk``, its recall
    vs exact brute force is asserted in tests/test_similarity_ivf.py."""
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_seed_assign,
        ivf_seed_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    assigned, seeds = ivf_seed_assign(emb.filter(F.col("vec_id") != 0), k=16)
    return ivf_seed_topk(assigned, seeds, qvec, k=10, n_probe=2)


_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         UNNEST(string_split_regex(
           lower(regexp_replace(text, '[^a-zA-Z0-9_ \\t\\n]', ' ', 'g')),
           '\\s+')) AS token
  FROM documents
), toks2 AS (
  SELECT doc_id, token FROM toks WHERE token <> ''
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks2 GROUP BY 1, 2
), dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS df
  FROM tf GROUP BY token HAVING count(DISTINCT doc_id) >= 2
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT t.doc_id, t.token, t.tf, d.df,
       ROUND(ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1, 6) AS idf,
       ROUND(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1), 6) AS tf_idf
FROM tf t JOIN dfreq d USING (token) CROSS JOIN n
"""


@register("text_tfidf", oracle=_TFIDF_ORACLE, tags=("datapipe", "text", "bench"))
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-level TF-IDF (smoothed sklearn idf) over the
    corpus — the keyword-extraction / relevance-weighting surface;
    MLlib's HashingTF+IDF is the hashed alternative at vocabulary
    scales where exact tokens no longer fit."""
    from commodity_price_forecasting_spark.operators.textops import tf_idf

    return tf_idf(load_table(spark, sf_dir, "documents"), min_doc_freq=2)


_HLL_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct
FROM events GROUP BY event_type
"""


@register("sketch_hll_distinct", oracle=_HLL_ORACLE, tags=("datapipe", "sketch"))
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event_type (Spark 3.5+
    datasketches ``hll_sketch_agg``) next to the exact count — the
    sketch path for cardinality at 100 TB, where exact countDistinct
    shuffles every key and HLL shuffles ~KB-sized sketches that also
    MERGE across partitions/days (re-aggregatable). The estimate's
    raw value is engine-specific, so the oracle-checked surface is
    the exact count plus the sketch's ≤5% error bound as a column
    (deterministic: datasketches HLL is order-independent under
    merge); the same bound is asserted in tests/test_edge_cases.py."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    est = F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
    exact = F.countDistinct("user_id")
    return (
        ev.groupBy("event_type")
        .agg(est.alias("_approx"), exact.alias("exact_users"))
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("hll_within_5pct"),
        )
    )


_QSKETCH_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
       ROUND(quantile_cont(value, 0.9), 6) AS exact_p90,
       TRUE AS p50_within_rank_band,
       TRUE AS p90_within_rank_band
FROM events GROUP BY event_type
"""


@register("sketch_quantile_approx", oracle=_QSKETCH_ORACLE, tags=("datapipe", "sketch"))
def sketch_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch next to the exact answer — the
    companion of ``sketch_hll_distinct`` for the second classic
    sketch family: ``approx_percentile`` (Greenwald–Khanna, rank
    error ≤ n/accuracy) per event_type vs the exact per-group
    percentile. At 100 TB the sketch is the only option for
    corpus-wide quantiles: KB-sized state per group, map-side
    combinable, re-mergeable across days/partitions — exact
    percentile shuffles every value to its group.

    The sketch estimate itself is engine-specific, so the
    oracle-checked surface is the exact quantiles plus BOOLEAN
    rank-band flags: the approx value must lie between the exact
    quantiles at p ± 0.01 (the GK guarantee with two orders of
    magnitude of slack at accuracy 10000) — the same
    assert-the-bound pattern the HLL query uses."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("value", 0.49).alias("_p49"),
        F.percentile("value", 0.5).alias("_p50"),
        F.percentile("value", 0.51).alias("_p51"),
        F.percentile("value", 0.89).alias("_p89"),
        F.percentile("value", 0.9).alias("_p90"),
        F.percentile("value", 0.91).alias("_p91"),
        F.approx_percentile("value", 0.5, 10000).alias("_a50"),
        F.approx_percentile("value", 0.9, 10000).alias("_a90"),
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("_p50", 6).alias("exact_p50"),
        F.round("_p90", 6).alias("exact_p90"),
        (
            (F.col("_a50") >= F.col("_p49")) & (F.col("_a50") <= F.col("_p51"))
        ).alias("p50_within_rank_band"),
        (
            (F.col("_a90") >= F.col("_p89")) & (F.col("_a90") <= F.col("_p91"))
        ).alias("p90_within_rank_band"),
    )


# Shared CC tail (edges -> sym -> recursive walk -> labels); the cand
# CTE upstream decides the pairing rule (all-pairs vs star).
_CC_TAIL = """
, edges AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN mh a ON a.doc_id = c.doc_a
  JOIN mh b ON b.doc_id = c.doc_b AND a.i = b.i
  GROUP BY c.doc_a, c.doc_b
  HAVING SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 12.0 >= 0.5
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
), walk(node, label) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node
), labels AS (
  SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
)
SELECT doc_id, component,
       count(*) OVER (PARTITION BY component) AS component_size
FROM labels
"""

_COMPONENTS_ORACLE = (
    _SHINGLE_CTE.replace("WITH pos AS", "WITH RECURSIVE pos AS", 1)
    + _CC_TAIL
)


@register("dedup_components", oracle=_COMPONENTS_ORACLE, tags=("datapipe", "dedup", "bench"))
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: LSH candidate pairs with estimated
    Jaccard >= 0.5 form edges; connected components (iterative
    min-label propagation, operators/dedup.connected_components)
    give the clusters a canonical representative (the min doc_id) —
    the final stage of a near-dedup pipeline. Oracle: DuckDB
    recursive CTE reachability."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sh = char_shingles(docs, k=5, distinct=False)
    wide = minhash_wide(sh, num_hashes=12).cache()
    cand = lsh_candidate_pairs(band_signatures(wide, num_hashes=12, rows_per_band=3))
    edges = estimated_jaccard(wide, cand, num_hashes=12).filter(
        F.col("est_jaccard") >= 0.5
    )
    comp = connected_components(edges, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(W.partitionBy("component")).alias("component_size"),
    )


# _SHINGLE_CTE with the all-pairs cand CTE swapped for the star rule:
# per (band, sig) bucket, each doc pairs with the bucket MIN only.
_STAR_COMPONENTS_ORACLE = (
    _SHINGLE_CTE[: _SHINGLE_CTE.index(", cand AS")].replace(
        "WITH pos AS", "WITH RECURSIVE pos AS", 1
    )
    + """
, rep AS (
  SELECT band, sig, MIN(doc_id) AS rep FROM bands GROUP BY band, sig
), cand AS (
  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN rep r ON b.band = r.band AND b.sig = r.sig
  WHERE b.doc_id <> r.rep
)
"""
    + _CC_TAIL
)


@register(
    "dedup_components_star",
    oracle=_STAR_COMPONENTS_ORACLE,
    # "bench": this is the production dedup-components lane at scale
    # (linear candidates; 3.4x faster at 30x — SCALE.md r8), so the
    # headline tracks it round-over-round alongside the all-pairs
    # exactness-maximal variant
    tags=("datapipe", "dedup", "bench", "production"),
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation with STAR candidate generation
    (r8): per LSH bucket each doc is verified against the bucket's
    min-id REPRESENTATIVE only (``operators/dedup.lsh_star_pairs``),
    so candidates are bounded by n·bands where the all-pairs rule
    (``dedup_components``) meets Σ|bucket|² — the quantity the r8 30×
    sweep measured growing 49.5× for 30× docs (SCALE.md). Edges that
    pass the same est-Jaccard ≥ 0.5 cut feed the same O(log d)
    connected components. The star rule can split clusters the
    all-pairs rule joins (documented recall trade in the operator);
    this query's oracle replicates the star rule itself, so the value
    gate is exact."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sh = char_shingles(docs, k=5, distinct=False)
    wide = minhash_wide(sh, num_hashes=12).cache()
    cand = lsh_star_pairs(band_signatures(wide, num_hashes=12, rows_per_band=3))
    edges = estimated_jaccard(wide, cand, num_hashes=12).filter(
        F.col("est_jaccard") >= 0.5
    )
    comp = connected_components(edges, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(W.partitionBy("component")).alias("component_size"),
    )


_STRATIFIED_ORACLE = """
WITH rates(lang, pct) AS (VALUES ('en', 50), ('de', 20), ('fr', 10))
SELECT d.lang, count(*) AS n_sampled,
       CAST(sum(octet_length(encode(d.text))) AS BIGINT) AS sampled_bytes
FROM documents d
JOIN rates r ON d.lang = r.lang
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      < r.pct
GROUP BY d.lang
"""


@register("curation_stratified_sample", oracle=_STRATIFIED_ORACLE, tags=("datapipe", "sampling"))
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus curation:
    keep-rate per language decided by a uniform md5-of-id hash bucket
    (reproducible across engines/runs — no RNG), the standard
    down-sample/re-balance step of a pre-training pipeline.
    Spark's sampleBy is the RNG-based alternative when cross-engine
    determinism is not required."""
    rates = {"en": 50, "de": 20, "fr": 10}
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in rates.items()],
        F.lit(0),
    )
    return (
        docs.filter(F.col("lang").isin(*rates))
        .filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.octet_length(F.encode(F.col("text"), "UTF-8"))).alias(
                "sampled_bytes"
            ),
        )
    )


# --- canonical pick: best-quality doc per duplicate cluster -------------

_CANONICAL_ORACLE = (
    _COMPONENTS_ORACLE.replace(
        """SELECT doc_id, component,
       count(*) OVER (PARTITION BY component) AS component_size
FROM labels
""",
        """, quality AS (
  SELECT t.doc_id, ROUND(0.4 * LEAST(n_tokens / 50.0, 1.0)
       + 0.3 * (n_distinct * 1.0 / n_tokens)
       + 0.3 * (1 - ABS(n_stop * 1.0 / n_tokens - 0.10) / 0.9), 6) AS quality
  FROM (
    SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct,
           SUM(CASE WHEN token IN ('the','a','of','and','in') THEN 1 ELSE 0 END)
             AS n_stop
    FROM (SELECT d.doc_id, UNNEST(string_split(trim(d.text), ' ')) AS token
          FROM documents d) tk
    WHERE token <> ''
    GROUP BY doc_id
  ) t
), ranked AS (
  SELECT l.component, l.doc_id, q.quality,
         COUNT(*) OVER (PARTITION BY l.component) AS n_members,
         ROW_NUMBER() OVER (
           PARTITION BY l.component
           ORDER BY q.quality DESC, l.doc_id ASC) AS rk
  FROM labels l JOIN quality q ON l.doc_id = q.doc_id
)
SELECT component, doc_id AS canonical_doc_id, n_members,
       quality AS canonical_quality
FROM ranked WHERE rk = 1
""",
    )
)


@register("dedup_canonical_pick", oracle=_CANONICAL_ORACLE, tags=("datapipe", "dedup"))
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final decision: for each near-duplicate
    cluster (LSH edges → connected components), KEEP the
    highest-quality member (tie → lowest doc_id) — quality-aware
    canonicalization rather than arbitrary min-id survival, the form
    a pre-training curation pipeline actually wants. The ranking
    orders by the 6dp-ROUNDED quality (bit-identical across engines,
    proven by text_quality_score's hash match) so the argmax is
    engine-deterministic. Scale: components O(log diameter)
    (operators/dedup.connected_components), quality one token pass,
    final pick a per-component window over |clustered docs| rows."""
    from pyspark.sql import Window as W

    from commodity_price_forecasting_spark.operators.textops import quality_score

    docs = load_table(spark, sf_dir, "documents")
    sh = char_shingles(docs, k=5, distinct=False)
    wide = minhash_wide(sh, num_hashes=12).cache()
    cand = lsh_candidate_pairs(band_signatures(wide, num_hashes=12, rows_per_band=3))
    edges = estimated_jaccard(wide, cand, num_hashes=12).filter(
        F.col("est_jaccard") >= 0.5
    )
    comp = connected_components(edges, "doc_a", "doc_b")
    q = quality_score(docs).select("doc_id", "quality")
    joined = comp.join(q, comp.node == q.doc_id, "inner")
    w = W.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        joined.select(
            "component",
            "doc_id",
            "quality",
            F.count(F.lit(1)).over(W.partitionBy("component")).alias("n_members"),
            F.row_number().over(w).alias("_rk"),
        )
        .filter(F.col("_rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_doc_id"),
            "n_members",
            F.col("quality").alias("canonical_quality"),
        )
    )


# --- per-label embedding centroids (long layout) ------------------------

_CENTROID_ORACLE = """
SELECT label, pos, ROUND(AVG(val), 6) AS centroid_val, COUNT(*) AS n_vectors
FROM (
  SELECT label,
         UNNEST(embedding) AS val,
         UNNEST(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
) t
GROUP BY label, pos
"""


@register("sim_label_centroids", oracle=_CENTROID_ORACLE, tags=("datapipe", "similarity"))
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid in LONG layout (label, dim-pos,
    mean component) — the training step of IVF/nearest-centroid
    classification and the usual cluster-quality probe. posexplode →
    groupBy(label, pos): the shuffle carries partial (sum, count)
    aggregates per (label, pos), i.e. |labels|·dim rows, NOT
    |vectors|·dim — map-side combine does the heavy lifting."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(F.avg("val"), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


# --- per-language quality-filter survival -------------------------------

_SURVIVAL_ORACLE = """
WITH t AS (
  SELECT d.doc_id, d.lang, UNNEST(string_split(trim(d.text), ' ')) AS token
  FROM documents d
), per_doc AS (
  SELECT t.doc_id, MIN(t.lang) AS lang,
         COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct,
         SUM(CASE WHEN token IN ('the','a','of','and','in') THEN 1 ELSE 0 END)
           AS n_stop
  FROM t WHERE token <> ''
  GROUP BY t.doc_id
), scored AS (
  SELECT lang,
         0.4 * LEAST(n_tokens / 50.0, 1.0)
         + 0.3 * (n_distinct * 1.0 / n_tokens)
         + 0.3 * (1 - ABS(n_stop * 1.0 / n_tokens - 0.10) / 0.9) AS q
  FROM per_doc
)
SELECT lang, COUNT(*) AS n_docs,
       SUM(CASE WHEN q >= 0.7 THEN 1 ELSE 0 END) AS n_kept,
       ROUND(SUM(CASE WHEN q >= 0.7 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS survival_rate
FROM scored
GROUP BY lang
"""


@register("curation_quality_survival", oracle=_SURVIVAL_ORACLE, tags=("datapipe", "sampling"))
def curation_quality_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold curation audit: per language, how many docs
    survive the q >= 0.7 filter — the go/no-go dashboard number
    before a corpus-wide drop. The quality expression is the same
    integer-ratio arithmetic as text_quality_score (engine-exact);
    the threshold compares the UNROUNDED score identically on both
    sides."""
    from commodity_price_forecasting_spark.operators.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(docs)
    # aggregate the (big) token table FIRST, then join lang onto the
    # |docs|-row result — never join the exploded side
    per_doc = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.sum(
            F.col("token").isin("the", "a", "of", "and", "in").cast("int")
        ).alias("n_stop"),
    ).join(docs.select("doc_id", "lang"), "doc_id")
    q = (
        0.4 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
        + 0.3 * (F.col("n_distinct") / F.col("n_tokens"))
        + 0.3 * (1 - F.abs(F.col("n_stop") / F.col("n_tokens") - 0.10) / 0.9)
    )
    return (
        per_doc.select("lang", q.alias("q"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("q") >= 0.7).cast("bigint")).alias("n_kept"),
            F.round(
                F.sum((F.col("q") >= 0.7).cast("bigint")) / F.count(F.lit(1)), 6
            ).alias("survival_rate"),
        )
    )


# --- PSI drift detection between time halves ----------------------------

_PSI_ORACLE = """
WITH half AS (
  SELECT event_type, value,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS h
  FROM events
), bucketed AS (
  SELECT event_type, h,
         LEAST(CAST(FLOOR(value / 50.0) AS INTEGER), 9) AS bucket,
         COUNT(*) AS n
  FROM half GROUP BY 1, 2, 3
), grid AS (
  SELECT DISTINCT b.event_type, g.bucket, h.h
  FROM (SELECT DISTINCT event_type FROM bucketed) b,
       (SELECT UNNEST(range(0, 10)) AS bucket) g,
       (SELECT 0 AS h UNION ALL SELECT 1) h
), filled AS (
  SELECT g.event_type, g.bucket, g.h, COALESCE(b.n, 0) AS n
  FROM grid g LEFT JOIN bucketed b
    ON g.event_type = b.event_type AND g.bucket = b.bucket AND g.h = b.h
), tot AS (
  SELECT event_type, h, SUM(n) AS tot_n FROM filled GROUP BY 1, 2
), probs AS (
  SELECT f.event_type, f.bucket,
         MAX(CASE WHEN f.h = 0 THEN (f.n + 0.5) / (t.tot_n + 5.0) END) AS p,
         MAX(CASE WHEN f.h = 1 THEN (f.n + 0.5) / (t.tot_n + 5.0) END) AS q
  FROM filled f JOIN tot t ON f.event_type = t.event_type AND f.h = t.h
  GROUP BY 1, 2
)
SELECT event_type, ROUND(SUM((p - q) * LN(p / q)), 6) AS psi
FROM probs GROUP BY event_type
"""


@register("drift_psi_value", oracle=_PSI_ORACLE, tags=("datapipe", "profiling"))
def drift_psi_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution per
    event_type between the first and second half of the month — the
    standard drift monitor a training pipeline runs before refitting
    on new data (PSI > 0.2 ⇒ investigate). Fixed-width buckets with
    Laplace 0.5 smoothing so empty buckets are defined; ALL counts
    are exact integers, so p/q are identical across engines and the
    6dp-rounded PSI hash-matches. One shuffle: the (type, half,
    bucket) count aggregate; everything after runs on ≤ |types|·20
    rows."""
    ev = load_table(spark, sf_dir, "events")
    half = ev.select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 0)
        .otherwise(1)
        .alias("h"),
    )
    bucketed = half.groupBy(
        "event_type",
        "h",
        F.least(F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    grid = (
        bucketed.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bucket"))
        .select("event_type", "bucket", F.explode(F.array(F.lit(0), F.lit(1))).alias("h"))
    )
    filled = grid.join(bucketed, ["event_type", "bucket", "h"], "left").select(
        "event_type", "bucket", "h", F.coalesce("n", F.lit(0)).alias("n")
    )
    tot = filled.groupBy(F.col("event_type").alias("_t"), F.col("h").alias("_h")).agg(
        F.sum("n").alias("tot_n")
    )
    probs = (
        filled.join(
            tot, (F.col("event_type") == F.col("_t")) & (F.col("h") == F.col("_h"))
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.max(
                F.when(F.col("h") == 0, (F.col("n") + 0.5) / (F.col("tot_n") + 5.0))
            ).alias("p"),
            F.max(
                F.when(F.col("h") == 1, (F.col("n") + 0.5) / (F.col("tot_n") + 5.0))
            ).alias("q"),
        )
    )
    return probs.groupBy("event_type").agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi")
    )


# --- vocabulary heavy hitters -------------------------------------------

_VOCAB_ORACLE = """
WITH t AS (
  SELECT d.doc_id, UNNEST(string_split(trim(d.text), ' ')) AS token FROM documents d
), counts AS (
  SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
  FROM t WHERE token <> '' GROUP BY token
), ranked AS (
  SELECT token, tf, df,
         ROW_NUMBER() OVER (ORDER BY tf DESC, token ASC) AS rk
  FROM counts
)
SELECT CAST(rk AS BIGINT) AS rank, token, tf, df
FROM ranked WHERE rk <= 50
"""


@register("text_vocab_topk", oracle=_VOCAB_ORACLE, tags=("datapipe", "text", "topk"))
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: top-50 tokens by corpus frequency
    (deterministic tie-break on the token string) with document
    frequency — the cut a tokenizer/vocab builder makes. The token
    count aggregate is the only big shuffle; ranking runs on the
    aggregated |vocab| rows, and Spark's TakeOrdered avoids a full
    sort materialization."""
    from pyspark.sql import Window as W

    t = tokens(load_table(spark, sf_dir, "documents"))
    counts = t.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    w = W.orderBy(F.desc("tf"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select("rank", "token", "tf", "df")
    )


# --- bigram language-model perplexity per document ----------------------

_BIGRAM_PPL_ORACLE = """
WITH raw AS (
  SELECT d.doc_id,
         UNNEST(string_split(trim(d.text), ' ')) AS token,
         UNNEST(range(1, len(string_split(trim(d.text), ' ')) + 1)) AS raw_pos
  FROM documents d
), t AS (
  -- renumber AFTER dropping empty tokens so adjacency matches a
  -- whitespace-collapsing tokenizer
  SELECT doc_id, token,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw_pos) - 1 AS pos
  FROM raw WHERE token <> ''
), big AS (
  SELECT a.doc_id, a.token AS w1, b.token AS w2
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), uni AS (
  SELECT token AS w1, COUNT(*) AS c1 FROM t GROUP BY token
), bi AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
), v AS (
  SELECT COUNT(DISTINCT token) AS vsize FROM t
)
SELECT big.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(EXP(AVG(-LN((bi.c12 + 1.0) / (uni.c1 + v.vsize)))), 6) AS perplexity
FROM big
JOIN bi ON big.w1 = bi.w1 AND big.w2 = bi.w2
JOIN uni ON big.w1 = uni.w1
CROSS JOIN v
GROUP BY big.doc_id
"""


@register("text_bigram_perplexity", oracle=_BIGRAM_PPL_ORACLE, tags=("datapipe", "text"))
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-1-smoothed bigram LM, scored back over every
    document as perplexity — the classic model-based quality signal
    (low perplexity ≈ fluent/in-domain) next to the heuristic
    quality_score. All counts exact integers; the LN/EXP happen once
    per bigram/doc at the output edge, rounded 6dp. Shuffles: token
    window per doc, two count aggregates, then broadcast-sized joins
    of the bigram table against the counts keyed on the bigram."""
    from pyspark.sql import Window as W

    t = tokens(load_table(spark, sf_dir, "documents"))  # (doc_id, pos, token)
    wo = W.partitionBy("doc_id").orderBy("pos")
    big = t.select(
        "doc_id",
        F.col("token").alias("w1"),
        F.lead("token").over(wo).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    uni = t.groupBy(F.col("token").alias("u_w1")).agg(F.count(F.lit(1)).alias("c1"))
    bi = big.groupBy(F.col("w1").alias("b_w1"), F.col("w2").alias("b_w2")).agg(
        F.count(F.lit(1)).alias("c12")
    )
    vsize = t.agg(F.countDistinct("token").alias("vsize"))
    scored = (
        big.join(bi, (big.w1 == F.col("b_w1")) & (big.w2 == F.col("b_w2")))
        .join(uni, big.w1 == F.col("u_w1"))
        .join(F.broadcast(vsize))
        .select(
            "doc_id",
            (-F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("vsize")))).alias(
                "nll"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.exp(F.avg("nll")), 6).alias("perplexity"),
    )


# --- the curation pipeline end-to-end: staged survivor counts -----------

_E2E_ORACLE = (
    _CANONICAL_ORACLE.replace(
        """SELECT component, doc_id AS canonical_doc_id, n_members,
       quality AS canonical_quality
FROM ranked WHERE rk = 1
""",
        """, s1 AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), canon AS (
  SELECT component, doc_id AS cid FROM ranked WHERE rk = 1
), dropped AS (
  SELECT l.doc_id FROM labels l
  JOIN canon c ON l.component = c.component AND l.doc_id <> c.cid
), s2 AS (
  SELECT s1.doc_id FROM s1
  WHERE s1.doc_id NOT IN (SELECT doc_id FROM dropped)
), s3 AS (
  SELECT s2.doc_id FROM s2 JOIN quality q ON s2.doc_id = q.doc_id
  WHERE q.quality >= 0.7
), rates(lang, pct) AS (VALUES ('en', 50), ('de', 20), ('fr', 10)
), s4 AS (
  SELECT s3.doc_id FROM s3
  JOIN documents d ON s3.doc_id = d.doc_id
  JOIN rates r ON d.lang = r.lang
  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 100 < r.pct
)
SELECT CAST(0 AS INT) AS stage_no, 'raw' AS stage, COUNT(*) AS n_docs FROM documents
UNION ALL SELECT 1, 'exact_dedup', COUNT(*) FROM s1
UNION ALL SELECT 2, 'near_dedup_canonical', COUNT(*) FROM s2
UNION ALL SELECT 3, 'quality_filter', COUNT(*) FROM s3
UNION ALL SELECT 4, 'lang_stratified_sample', COUNT(*) FROM s4
""",
    )
)


@register("curation_pipeline_e2e", oracle=_E2E_ORACLE, tags=("datapipe", "pipeline"))
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pre-training curation pipeline chained in one plan,
    reporting survivors after each stage: exact dedup (min doc_id per
    md5), near-dup canonicalization (LSH → components → quality
    argmax; ties inside an exact-dup group resolve to its exact
    survivor, so the stages compose), quality filter (rounded
    q >= 0.7), and the deterministic per-language hash downsample.
    Every stage carries only doc_id sets once its predicate is
    computed — the text/shingle heavy lifting happens exactly once."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs).select(F.col("doc_id").alias("q_doc"), "quality")

    s1 = (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sh = char_shingles(docs, k=5, distinct=False)
    wide = minhash_wide(sh, num_hashes=12).cache()
    cand = lsh_candidate_pairs(band_signatures(wide, num_hashes=12, rows_per_band=3))
    edges = estimated_jaccard(wide, cand, num_hashes=12).filter(
        F.col("est_jaccard") >= 0.5
    )
    comp = connected_components(edges, "doc_a", "doc_b")
    ranked = comp.join(q, comp.node == F.col("q_doc")).select(
        "component",
        F.col("node").alias("doc_id"),
        F.row_number()
        .over(W.partitionBy("component").orderBy(F.desc("quality"), F.asc("node")))
        .alias("rk"),
    )
    dropped = ranked.filter(F.col("rk") > 1).select("doc_id")
    s2 = s1.join(dropped, "doc_id", "left_anti")
    s3 = (
        s2.join(q, s2.doc_id == F.col("q_doc"))
        .filter(F.col("quality") >= 0.7)
        .select("doc_id")
    )
    pct = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "de", 20)
        .when(F.col("lang") == "fr", 10)
        .otherwise(0)
    )
    s4 = (
        s3.join(docs.select(F.col("doc_id").alias("d_doc"), "lang"), s3.doc_id == F.col("d_doc"))
        .filter(pct < rate)
        .select("doc_id")
    )

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    return (
        stage(0, "raw", docs)
        .unionAll(stage(1, "exact_dedup", s1))
        .unionAll(stage(2, "near_dedup_canonical", s2))
        .unionAll(stage(3, "quality_filter", s3))
        .unionAll(stage(4, "lang_stratified_sample", s4))
    )


# --- Deterministic train/val/test split ---------------------------------

_SPLIT_ORACLE = """
WITH b AS (
  SELECT CASE WHEN pct < 80 THEN 'train'
              WHEN pct < 90 THEN 'val'
              ELSE 'test' END AS split,
         n_chars, lang
  FROM (
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS pct,
           n_chars, lang
    FROM documents
  )
)
SELECT split, COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
FROM b GROUP BY 1
"""


@register("curation_train_test_split", oracle=_SPLIT_ORACLE, tags=("datapipe", "curation"))
def curation_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split on a content-stable
    hash of the document id (md5 hex → integer percent bucket — the
    same engine-portable trick as the stratified sampler). No RNG, no
    shuffle of the corpus: the split is a map-side projection, so at
    100 TB each shard routes itself without coordination, and
    re-running the pipeline reproduces the exact membership (the
    property training pipelines need for eval hygiene). Output audits
    the split sizes and per-split composition."""
    docs = load_table(spark, sf_dir, "documents")
    pct = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    split = (
        F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
        )
    )


# --- Embedding column profiling / normalization -------------------------

_EMB_DIM_ORACLE = """
SELECT p AS dim, COUNT(*) AS n,
       ROUND(AVG(v), 6) AS mean_v,
       ROUND(STDDEV_SAMP(v), 6) AS sd_v
FROM (
  SELECT UNNEST(embedding) AS v, UNNEST(range(len(embedding))) AS p
  FROM embeddings
)
GROUP BY 1
"""


@register("emb_dim_stats", oracle=_EMB_DIM_ORACLE, tags=("datapipe", "similarity", "profiling"))
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/σ across the embedding corpus — the
    whitening / feature-drift profile an ANN index build starts
    from. posexplode flattens (vec → dim rows) with map-side partial
    aggregation into |dims| groups, so the shuffle is |dims| rows per
    task regardless of corpus size. DuckDB's parallel-UNNEST zip ≡
    Spark posexplode (position renumbering convention from the
    TF-IDF family)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "v")
    )
    return emb.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_v"),
        F.round(F.stddev_samp(F.col("v").cast("double")), 6).alias("sd_v"),
    )


_EMB_NORM_ORACLE = """
SELECT vec_id, ROUND(nrm, 6) AS l2_norm,
       ROUND(embedding[1] / nrm, 6) AS first_component_normed
FROM (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
  FROM embeddings
)
WHERE nrm > 0
"""


@register("emb_l2_normalize", oracle=_EMB_NORM_ORACLE, tags=("datapipe", "similarity"))
def emb_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column with higher-order
    array functions — entirely JVM-side (F.aggregate left-fold for
    Σx², no UDF), the prerequisite transform before cosine similarity
    degrades to a dot product. Both engines fold the square-sum
    left-to-right over identical doubles, so norms are bit-identical;
    output audits the norm and one normalized component per vector."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x,
        )
    ).alias("nrm")
    return (
        emb.select("vec_id", "embedding", nrm)
        .filter(F.col("nrm") > 0)
        .select(
            "vec_id",
            F.round("nrm", 6).alias("l2_norm"),
            F.round(F.element_at("embedding", 1) / F.col("nrm"), 6).alias(
                "first_component_normed"
            ),
        )
    )


_CHUNK_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
  FROM documents
), chunks AS (
  SELECT doc_id, n_tokens,
         UNNEST(range(0, CAST(CEIL(GREATEST(n_tokens - 256, 0) / 192.0) AS BIGINT) + 1))
           AS chunk_id
  FROM tok
)
SELECT doc_id,
       chunk_id,
       chunk_id * 192 AS start_tok,
       LEAST(chunk_id * 192 + 256, n_tokens) AS end_tok,
       LEAST(chunk_id * 192 + 256, n_tokens) - chunk_id * 192 AS chunk_tokens
FROM chunks
"""


@register("doc_chunking", oracle=_CHUNK_ORACLE, tags=("datapipe", "text", "bench"))
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/pre-training chunk planning: split every document's token
    stream into 256-token windows with a 64-token overlap (stride
    192) — the chunk TABLE (doc_id, chunk_id, token range) that a
    downstream embed-and-index stage consumes.

    The chunk plan is pure arithmetic on the per-doc token count —
    ``explode(sequence(...))`` fans a document into its chunk rows
    JVM-side, output rows ≈ corpus_tokens/stride: linear, no shuffle
    at all (narrow projection of the scan). The oracle mirrors it
    with DuckDB ``UNNEST(range(...))``. Chunk-text extraction is the
    same projection + a substring — omitted here so the oracle checks
    the boundary arithmetic (the part with off-by-one risk) exactly.
    Every chunk covers ≥1 token; the final short chunk is kept (its
    end clamps to n_tokens)."""
    chunk, stride = 256, 192
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
        ).alias("n_tokens"),
    )
    n_chunks = F.ceil(
        F.greatest(F.col("n_tokens") - chunk, F.lit(0)) / stride
    ).cast("long")
    chunks = tok.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), n_chunks)).alias("chunk_id"),
    )
    end_tok = F.least(F.col("chunk_id") * stride + chunk, F.col("n_tokens"))
    return chunks.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * stride).alias("start_tok"),
        end_tok.alias("end_tok"),
        (end_tok - F.col("chunk_id") * stride).alias("chunk_tokens"),
    )


_LANG_TEMP_ORACLE = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs,
         SUM(length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens
  FROM documents GROUP BY lang
), probs AS (
  SELECT lang, n_docs, n_tokens,
         n_tokens * 1.0 / SUM(n_tokens) OVER () AS p,
         POWER(n_tokens * 1.0 / SUM(n_tokens) OVER (), 0.7) AS p_alpha
  FROM counts
)
SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(p, 6) AS p_raw,
       ROUND(p_alpha / SUM(p_alpha) OVER (), 6) AS p_sample,
       ROUND((p_alpha / SUM(p_alpha) OVER ()) / p, 6) AS boost
FROM probs
"""


@register("lang_temperature_weights", oracle=_LANG_TEMP_ORACLE, tags=("datapipe", "sampling"))
def lang_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language re-balancing (the mC4/XLM-R
    exponential-smoothing recipe, alpha = 0.7): sampling probability
    q_l ∝ p_l^alpha, where p_l is the language's token share — the
    standard up-weighting of low-resource languages when mixing a
    multilingual pre-training corpus. Emits per-language raw share,
    smoothed sampling share, and the boost factor a sampler applies.

    One |langs|-group aggregate (map-side partial) + a scalar
    normalization over the tiny language table — the heavy input
    (token counts) never leaves the scan stage. Window-over-all on
    |langs| rows is deliberate: the frame is dimension-sized."""
    alpha = 0.7
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
        ).alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(w_all)
    probs = counts.select(
        "lang",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        p.alias("p"),
        F.pow(p, F.lit(alpha)).alias("p_alpha"),
    )
    q = F.col("p_alpha") / F.sum("p_alpha").over(w_all)
    return probs.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round("p", 6).alias("p_raw"),
        F.round(q, 6).alias("p_sample"),
        F.round(q / F.col("p"), 6).alias("boost"),
    )


# --- product-quantization ANN (r4) ---------------------------------------

_PQ_ORACLE = """
WITH sub AS (
  SELECT vec_id, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> CAST(embedding[CAST(mm.m * 8 + i + 1 AS INTEGER)] AS DOUBLE))
           AS sv
  FROM embeddings, generate_series(0, 7) mm(m)
), seeds AS (
  SELECT vec_id AS c, embedding FROM embeddings ORDER BY vec_id LIMIT 16
), csub AS (
  SELECT c, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> CAST(embedding[CAST(mm.m * 8 + i + 1 AS INTEGER)] AS DOUBLE))
           AS cv
  FROM seeds, generate_series(0, 7) mm(m)
), dists AS (
  SELECT s.vec_id, s.m, cb.c,
         list_sum(list_transform(range(8),
           i -> (sv[CAST(i + 1 AS INTEGER)] - cv[CAST(i + 1 AS INTEGER)])
              * (sv[CAST(i + 1 AS INTEGER)] - cv[CAST(i + 1 AS INTEGER)])))
           AS d2
  FROM sub s JOIN csub cb ON s.m = cb.m
), codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rk
    FROM dists) WHERE rk = 1
), lut AS (
  SELECT m, c, d2 AS qd FROM dists WHERE vec_id = 0
)
SELECT co.vec_id, ROUND(SUM(l.qd), 6) AS adc_dist
FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.c
WHERE co.vec_id <> 0
GROUP BY co.vec_id
ORDER BY SUM(l.qd), co.vec_id LIMIT 10
"""


@register("sim_pq_adc_topk", oracle=_PQ_ORACLE, tags=("datapipe", "similarity", "bench"))
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011 — public): the
    64-dim corpus decomposes into 8 subspaces of 8 dims, each
    subvector snaps to its nearest of 16 deterministic codebook
    entries (the 16 smallest vec_ids — a fixed 0-iteration quantizer,
    reproducible in ANSI SQL), and query vec_id 0's top-10 neighbours
    come from the asymmetric-distance sum over a broadcast
    query→centroid lookup table. Completes the ANN taxonomy next to
    brute force (sim_topk_bruteforce), sign-LSH (sim_lsh_buckets) and
    IVF (sim_ivf_topk). At 100 TB the corpus side carries 8 small-int
    codes per vector instead of 64 floats — the memory-bandwidth win
    PQ exists for."""
    from commodity_price_forecasting_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, query_id=0, k=10, n_centroids=16, m_sub=8)


# IVF-PQ (residual quantization): IVF coarse assignment (md5-min
# seeds, round6-cosine argmax) -> residual v - seed(cell) ->
# PQ codes on residuals -> per-probed-cell query-residual LUT sum.
_IVFPQ_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
), seeds AS (
  SELECT vec_id AS sid, embedding AS semb
  FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), q AS (
  SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0
), assign_x AS (
  SELECT c.vec_id, s.sid,
         UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS y
  FROM corpus c CROSS JOIN seeds s
), assign_cs AS (
  SELECT vec_id, sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM assign_x GROUP BY vec_id, sid
), assign_rk AS (
  SELECT vec_id, sid AS cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid) AS rk
  FROM assign_cs
), cells AS (
  SELECT vec_id, cell FROM assign_rk WHERE rk = 1
), res AS (
  SELECT c.vec_id, cl.cell,
         list_transform(range(64), i ->
           CAST(c.embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
           - CAST(s.semb[CAST(i + 1 AS INTEGER)] AS DOUBLE)) AS r
  FROM corpus c
  JOIN cells cl ON cl.vec_id = c.vec_id
  JOIN seeds s ON s.sid = cl.cell
), sub AS (
  SELECT vec_id, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> r[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS sv
  FROM res, generate_series(0, 7) mm(m)
), cbv AS (
  SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 16
), csub AS (
  SELECT vec_id AS c, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> r[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS cv
  FROM cbv, generate_series(0, 7) mm(m)
), dists AS (
  SELECT s.vec_id, s.m, cb.c,
         list_sum(list_transform(range(8),
           i -> (sv[CAST(i + 1 AS INTEGER)] - cv[CAST(i + 1 AS INTEGER)])
              * (sv[CAST(i + 1 AS INTEGER)] - cv[CAST(i + 1 AS INTEGER)])))
           AS d2
  FROM sub s JOIN csub cb ON s.m = cb.m
), codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rk
    FROM dists) WHERE rk = 1
), probe_x AS (
  SELECT s.sid,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS x,
         UNNEST(CAST(q.qemb AS DOUBLE[])) AS y
  FROM seeds s CROSS JOIN q
), probe_cs AS (
  SELECT sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM probe_x GROUP BY sid
), probe AS (
  SELECT sid FROM probe_cs
  ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid
  LIMIT 2
), qres AS (
  SELECT p.sid AS qcell,
         list_transform(range(64), i ->
           CAST(q.qemb[CAST(i + 1 AS INTEGER)] AS DOUBLE)
           - CAST(s.semb[CAST(i + 1 AS INTEGER)] AS DOUBLE)) AS qr
  FROM probe p JOIN seeds s ON s.sid = p.sid CROSS JOIN q
), qsub AS (
  SELECT qcell, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> qr[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS sv
  FROM qres, generate_series(0, 7) mm(m)
), lut AS (
  SELECT qs.qcell, qs.m, cb.c,
         list_sum(list_transform(range(8),
           i -> (qs.sv[CAST(i + 1 AS INTEGER)] - cb.cv[CAST(i + 1 AS INTEGER)])
              * (qs.sv[CAST(i + 1 AS INTEGER)] - cb.cv[CAST(i + 1 AS INTEGER)])))
           AS qd
  FROM qsub qs JOIN csub cb ON qs.m = cb.m
)
SELECT co.vec_id, cl.cell, ROUND(SUM(l.qd), 6) AS adc_dist
FROM codes co
JOIN cells cl ON cl.vec_id = co.vec_id
JOIN lut l ON l.qcell = cl.cell AND l.m = co.m AND l.c = co.code
GROUP BY co.vec_id, cl.cell
ORDER BY SUM(l.qd), co.vec_id
LIMIT 10
"""


# Batch IVF-PQ probe: SHARED full-corpus index (no leave-one-out — a
# deployment doesn't rebuild the index per query), four query vectors
# routed/probed/scored in ONE plan, self-matches excluded, top-10 per
# query. The oracle re-derives the whole index once and threads qid
# through probe -> residual -> LUT -> scoring.
_IVFPQ_BATCH_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
), seeds AS (
  SELECT vec_id AS sid, embedding AS semb
  FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), q AS (
  SELECT vec_id AS qid, embedding AS qemb FROM embeddings
  WHERE vec_id IN (0, 7, 111, 333)
), assign_x AS (
  SELECT c.vec_id, s.sid,
         UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS y
  FROM corpus c CROSS JOIN seeds s
), assign_cs AS (
  SELECT vec_id, sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM assign_x GROUP BY vec_id, sid
), assign_rk AS (
  SELECT vec_id, sid AS cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid) AS rk
  FROM assign_cs
), cells AS (
  SELECT vec_id, cell FROM assign_rk WHERE rk = 1
), res AS (
  SELECT c.vec_id, cl.cell,
         list_transform(range(64), i ->
           CAST(c.embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
           - CAST(s.semb[CAST(i + 1 AS INTEGER)] AS DOUBLE)) AS r
  FROM corpus c
  JOIN cells cl ON cl.vec_id = c.vec_id
  JOIN seeds s ON s.sid = cl.cell
), sub AS (
  SELECT vec_id, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> r[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS sv
  FROM res, generate_series(0, 7) mm(m)
), cbv AS (
  SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 16
), csub AS (
  SELECT vec_id AS c, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> r[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS cv
  FROM cbv, generate_series(0, 7) mm(m)
), dists AS (
  SELECT s.vec_id, s.m, cb.c,
         list_sum(list_transform(range(8),
           i -> (sv[CAST(i + 1 AS INTEGER)] - cv[CAST(i + 1 AS INTEGER)])
              * (sv[CAST(i + 1 AS INTEGER)] - cv[CAST(i + 1 AS INTEGER)])))
           AS d2
  FROM sub s JOIN csub cb ON s.m = cb.m
), codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rk
    FROM dists) WHERE rk = 1
), probe_x AS (
  SELECT q.qid, s.sid,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS x,
         UNNEST(CAST(q.qemb AS DOUBLE[])) AS y
  FROM seeds s CROSS JOIN q
), probe_cs AS (
  SELECT qid, sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM probe_x GROUP BY qid, sid
), probe AS (
  SELECT qid, sid FROM (
    SELECT qid, sid,
           ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid) AS rk
    FROM probe_cs) WHERE rk <= 2
), qres AS (
  SELECT p.qid, p.sid AS qcell,
         list_transform(range(64), i ->
           CAST(q.qemb[CAST(i + 1 AS INTEGER)] AS DOUBLE)
           - CAST(s.semb[CAST(i + 1 AS INTEGER)] AS DOUBLE)) AS qr
  FROM probe p
  JOIN seeds s ON s.sid = p.sid
  JOIN q ON q.qid = p.qid
), qsub AS (
  SELECT qid, qcell, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> qr[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS sv
  FROM qres, generate_series(0, 7) mm(m)
), lut AS (
  SELECT qs.qid, qs.qcell, qs.m, cb.c,
         list_sum(list_transform(range(8),
           i -> (qs.sv[CAST(i + 1 AS INTEGER)] - cb.cv[CAST(i + 1 AS INTEGER)])
              * (qs.sv[CAST(i + 1 AS INTEGER)] - cb.cv[CAST(i + 1 AS INTEGER)])))
           AS qd
  FROM qsub qs JOIN csub cb ON qs.m = cb.m
), scored AS (
  SELECT l.qid AS query_id, co.vec_id, cl.cell, SUM(l.qd) AS s
  FROM codes co
  JOIN cells cl ON cl.vec_id = co.vec_id
  JOIN lut l ON l.qcell = cl.cell AND l.m = co.m AND l.c = co.code
  WHERE co.vec_id <> l.qid
  GROUP BY l.qid, co.vec_id, cl.cell
)
SELECT query_id, vec_id, cell, ROUND(s, 6) AS adc_dist
FROM (
  SELECT query_id, vec_id, cell, s,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY s, vec_id) AS rk
  FROM scored) WHERE rk <= 10
"""


@register(
    "sim_ivfpq_batch_probe",
    oracle=_IVFPQ_BATCH_ORACLE,
    tags=("datapipe", "similarity", "production"),
)
def sim_ivfpq_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF-PQ probe (r9): four query vectors routed, probed and
    ADC-scored against the SHARED full-corpus index in ONE distributed
    plan — the query-throughput shape (``ivf_pq_probe_batch``), vs the
    driver-routed single-query latency shape (`sim_ivfpq_adc_topk`).
    Cell routing happens per-row in a fused sort_array over the
    literal seed matrix; the per-(query, cell) LUT joins broadcast
    against the codebook; scoring is one hash join on (cell, m, code)
    + row_number ≤ 10 per query. Batch == per-query equality is
    pinned in tests/test_similarity_pq.py; the whole two-level index
    plus all four probes re-derive in one DuckDB statement."""
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_probe_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_pq_index(emb)
    queries = emb.filter(F.col("vec_id").isin([0, 7, 111, 333])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_pq_probe_batch(
        idx, queries, k=10, n_probe=2, exclude_self=True
    )


@register(
    "sim_ivfpq_adc_topk",
    oracle=_IVFPQ_ORACLE,
    # "bench": the production ANN index shape (IVF routing + residual
    # PQ codes) — headline-tracked alongside its PQ-only sibling
    tags=("datapipe", "similarity", "bench", "production"),
)
def sim_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance ANN (r8) — the production FAISS
    index shape, composing the repo's IVF and PQ halves the way
    Jégou et al. 2011 §III prescribe: PQ codes are trained on and
    encode the RESIDUAL v − seed(cell) (residuals cluster tighter
    than raw vectors), the query probes 2 of 16 coarse cells, and
    each candidate is scored by the LUT sum over the query's OWN
    residual in the candidate's cell. Fully deterministic (md5-min
    coarse seeds, smallest-id residual codebook, 6-dp routing
    cosines, lexicographic ties), so the entire two-level index has
    an exact ANSI-SQL oracle — assignment, residuals, codebook,
    codes, probe and LUT all re-derived in SQL. See
    ``operators/similarity.ivf_pq_adc_topk`` for the 100 TB plan
    shape (map-side assignment, zip_with residuals, 8 codes/vector,
    broadcast LUT)."""
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_adc_topk(
        emb, query_id=0, k=10, k_coarse=16, n_probe=2, n_centroids=16, m_sub=8
    )


# Cosine-consistent IVF-PQ (r13): the SAME two-level index over
# L2-NORMALIZED vectors — on unit vectors ‖a−b‖² = 2(1−cosθ), so the
# ADC ordering IS the cosine ordering (the metric refine, retrieval
# callers, and this oracle's ground semantics actually use). The
# oracle is the raw lane's with the corpus and query CTEs normalized;
# everything downstream (seeds, assignment, residuals, codebook,
# codes, probe, LUT) is byte-identical SQL, kept in sync by
# construction.
_IVFPQ_COSINE_ORACLE = _IVFPQ_ORACLE.replace(
    """WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
), seeds AS (""",
    """WITH corpus0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id <> 0
), corpus AS (
  SELECT vec_id,
         list_transform(e,
           x -> x / sqrt(list_sum(list_transform(e, y -> y * y))))
           AS embedding
  FROM corpus0
), seeds AS (""",
).replace(
    """), q AS (
  SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0
), assign_x AS (""",
    """), q0 AS (
  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0
), q AS (
  SELECT list_transform(e,
           x -> x / sqrt(list_sum(list_transform(e, y -> y * y))))
           AS qemb
  FROM q0
), assign_x AS (""",
)
assert _IVFPQ_COSINE_ORACLE != _IVFPQ_ORACLE  # both replaces took


@register(
    "sim_ivfpq_cosine_topk",
    oracle=_IVFPQ_COSINE_ORACLE,
    tags=("datapipe", "similarity"),
)
def sim_ivfpq_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-consistent IVF-PQ ADC (r13, r12 VERDICT ask #4):
    ``ivf_pq_adc_topk(normalize=True)`` — the corpus is L2-normalized
    before coarse assignment (a routing no-op), residuals, codebook
    and codes, so the 8-byte ADC scores RANK BY COSINE exactly (unit
    vectors: ‖a−b‖² = 2(1−cosθ)). This is the lane a cosine-metric
    retrieval deployment runs; the raw ``sim_ivfpq_adc_topk`` twin
    pins the L2 semantics. Same determinism story (md5-min seeds,
    smallest-id codebook, 6-dp routing, lexicographic ties) ⇒ the
    whole normalized index has an exact ANSI-SQL oracle. Recall per
    geometry measured in SCALE.md r13; equality pins in
    tests/test_similarity_pq.py."""
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_adc_topk(
        emb, query_id=0, k=10, k_coarse=16, n_probe=2, n_centroids=16,
        m_sub=8, normalize=True,
    )


# --- feature-hashing text embedding (r4) ---------------------------------

_HASH_EMB_DIM = 16

_HASH_EMB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token FROM documents
), t2 AS (
  SELECT doc_id, token FROM tok WHERE token <> ''
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % {_HASH_EMB_DIM}
           AS bucket,
         CASE WHEN strpos('0123456789abcdef', substr(md5(token), 9, 1)) % 2 = 1
              THEN 1 ELSE -1 END AS s
  FROM t2
), w AS (
  SELECT doc_id, bucket, SUM(s) AS w FROM h GROUP BY 1, 2
), n AS (
  SELECT doc_id, SUM(w * w) AS ssq FROM w GROUP BY 1
)
SELECT w.doc_id, CAST(w.bucket AS BIGINT) AS bucket,
       CAST(w.w AS BIGINT) AS w,
       ROUND(w.w / SQRT(n.ssq), 6) AS weight
FROM w JOIN n ON w.doc_id = n.doc_id
WHERE n.ssq > 0
"""


@register("text_hash_embedding", oracle=_HASH_EMB_ORACLE, tags=("datapipe", "text", "similarity", "bench"))
def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embedding (Weinberger et al. 2009,
    "Feature Hashing for Large Scale Multitask Learning" — public):
    each token hashes to one of {_HASH_EMB_DIM} buckets (md5 head) with
    an md5-nibble ±1 sign, per-doc bucket sums are L2-normalized —
    the cheap, vocabulary-free text→vector bridge a curation pipeline
    uses before cosine near-dup or clustering when no model embeddings
    exist. All exact integer arithmetic until the one normalization
    divide at the output edge (signed counts and their squares are
    integers, so both engines agree bit-for-bit pre-round). Spark
    shape: tokens explode inside the scan partition, ONE groupBy on
    (doc_id, bucket), and the per-doc norm is a window over the same
    doc_id key — co-partitioned, no extra shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("bigint")
        % _HASH_EMB_DIM
    )
    sign = F.when(
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(F.col("token")), 9, 1))
        % 2
        == 1,
        F.lit(1),
    ).otherwise(F.lit(-1))
    w = (
        tok.select("doc_id", bucket.alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("w"))
    )
    ssq = F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("doc_id"))
    return (
        w.withColumn("_ssq", ssq)
        .filter(F.col("_ssq") > 0)
        .select(
            "doc_id",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("w").cast("long").alias("w"),
            F.round(F.col("w") / F.sqrt(F.col("_ssq")), 6).alias("weight"),
        )
    )


# --- triangle counting over the near-dup candidate graph (r4) -----------

_TRIANGLE_ORACLE = (
    _LSH_BUCKET_CTE
    + """
, edges AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT va AS v FROM edges UNION ALL SELECT vb AS v FROM edges
  ) GROUP BY v
), oriented AS (
  SELECT CASE WHEN da.d * 1000000000 + va < db.d * 1000000000 + vb
              THEN va ELSE vb END AS src,
         CASE WHEN da.d * 1000000000 + va < db.d * 1000000000 + vb
              THEN vb ELSE va END AS dst,
         CASE WHEN da.d * 1000000000 + va < db.d * 1000000000 + vb
              THEN db.d * 1000000000 + vb ELSE da.d * 1000000000 + va END AS rd
  FROM edges JOIN deg da ON da.v = va JOIN deg db ON db.v = vb
), wedges AS (
  SELECT e1.dst AS v, e2.dst AS w
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src AND e1.rd < e2.rd
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM wedges wd JOIN oriented e3 ON e3.src = wd.v AND e3.dst = wd.w
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM tri
"""
)


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE, tags=("datapipe", "graph"))
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the embedding near-dup candidate graph
    (same-LSH-bucket pairs) using the degree-orientation algorithm
    (Suri & Vassilvitskii 2011, "Counting triangles and the curse of
    the last reducer" — public): every edge points from its
    lower-(degree, id) endpoint to the higher one, so each node's
    out-degree is O(√m) and the wedge self-join's worst key fans out
    by √m instead of the max degree — the skew fix that makes
    triangle counting survive power-law graphs at 100 TB. Two
    hash joins (wedge build + closing-edge probe), all integer
    arithmetic, exact SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = lsh_buckets(emb, n_planes=8)
    x, y = b.alias("x"), b.alias("y")
    edges = (
        x.join(y, (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.vec_id") < F.col("y.vec_id")))
        .select(F.col("x.vec_id").alias("va"), F.col("y.vec_id").alias("vb"))
        .distinct()
    )
    deg = (
        edges.select(F.col("va").alias("v"))
        .unionAll(edges.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    BIG = 1_000_000_000
    er = (
        edges.join(deg.withColumnRenamed("v", "va").withColumnRenamed("d", "da"), "va")
        .join(deg.withColumnRenamed("v", "vb").withColumnRenamed("d", "db"), "vb")
        .select(
            "va",
            "vb",
            (F.col("da") * BIG + F.col("va")).alias("ra"),
            (F.col("db") * BIG + F.col("vb")).alias("rb"),
        )
    )
    lower = F.col("ra") < F.col("rb")
    oriented = er.select(
        F.when(lower, F.col("va")).otherwise(F.col("vb")).alias("src"),
        F.when(lower, F.col("vb")).otherwise(F.col("va")).alias("dst"),
        F.when(lower, F.col("rb")).otherwise(F.col("ra")).alias("rd"),
    ).cache()
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.rd") < F.col("e2.rd")),
    ).select(F.col("e1.dst").alias("wv"), F.col("e2.dst").alias("ww"))
    tri = wedges.join(
        oriented,
        (F.col("src") == F.col("wv")) & (F.col("dst") == F.col("ww")),
    )
    # four 1-row aggregates stitch via broadcast nested-loop joins —
    # each side is exactly one row (allowlisted in the plan sweep)
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(wedges.agg(F.count(F.lit(1)).alias("n_wedges")))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


# --- per-node clustering coefficient (r5) -------------------------------

_CLUSTCOEFF_ORACLE = (
    _LSH_BUCKET_CTE
    + """
, edges AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT va AS v FROM edges UNION ALL SELECT vb AS v FROM edges
  ) GROUP BY v
), oriented AS (
  SELECT CASE WHEN da.d * 1000000000 + va < db.d * 1000000000 + vb
              THEN va ELSE vb END AS src,
         CASE WHEN da.d * 1000000000 + va < db.d * 1000000000 + vb
              THEN vb ELSE va END AS dst,
         CASE WHEN da.d * 1000000000 + va < db.d * 1000000000 + vb
              THEN db.d * 1000000000 + vb ELSE da.d * 1000000000 + va END AS rd
  FROM edges JOIN deg da ON da.v = va JOIN deg db ON db.v = vb
), wedges AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src AND e1.rd < e2.rd
), tri AS (
  SELECT wd.a, wd.b, wd.c
  FROM wedges wd JOIN oriented e3 ON e3.src = wd.b AND e3.dst = wd.c
), pernode AS (
  SELECT v, COUNT(*) AS t FROM (
    SELECT a AS v FROM tri UNION ALL
    SELECT b AS v FROM tri UNION ALL
    SELECT c AS v FROM tri
  ) GROUP BY v
)
SELECT d.v AS vec_id, CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(p.t, 0) AS BIGINT) AS n_triangles,
       ROUND(2.0 * COALESCE(p.t, 0) / (d.d * (d.d - 1)), 6) AS clustering
FROM deg d LEFT JOIN pernode p ON p.v = d.v
WHERE d.d >= 2
"""
)


@register("graph_clustering_coeff", oracle=_CLUSTCOEFF_ORACLE, tags=("datapipe", "graph"))
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the near-dup
    candidate graph: cc(v) = 2·T(v)/(d(v)·(d(v)−1)) for nodes with
    degree ≥ 2 — the community-density fingerprint that separates a
    tight duplicate cluster (cc → 1) from a hub that merely bridges
    many buckets (cc → 0), the next question after counting
    triangles. Same degree-orientation enumeration as
    ``graph_triangle_count`` (Suri–Vassilvitskii √m wedge bound), but
    each found triangle credits ALL THREE corners via a 3-way explode
    before the per-node aggregate — all integer arithmetic until the
    one edge division."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = lsh_buckets(emb, n_planes=8)
    x, y = b.alias("x"), b.alias("y")
    edges = (
        x.join(y, (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.vec_id") < F.col("y.vec_id")))
        .select(F.col("x.vec_id").alias("va"), F.col("y.vec_id").alias("vb"))
        .distinct()
    )
    deg = (
        edges.select(F.col("va").alias("v"))
        .unionAll(edges.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    BIG = 1_000_000_000
    er = (
        edges.join(deg.withColumnRenamed("v", "va").withColumnRenamed("d", "da"), "va")
        .join(deg.withColumnRenamed("v", "vb").withColumnRenamed("d", "db"), "vb")
        .select(
            "va",
            "vb",
            (F.col("da") * BIG + F.col("va")).alias("ra"),
            (F.col("db") * BIG + F.col("vb")).alias("rb"),
        )
    )
    lower = F.col("ra") < F.col("rb")
    oriented = er.select(
        F.when(lower, F.col("va")).otherwise(F.col("vb")).alias("src"),
        F.when(lower, F.col("vb")).otherwise(F.col("va")).alias("dst"),
        F.when(lower, F.col("rb")).otherwise(F.col("ra")).alias("rd"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.rd") < F.col("e2.rd")),
    ).select(
        F.col("e1.src").alias("ta"),
        F.col("e1.dst").alias("tb"),
        F.col("e2.dst").alias("tc"),
    )
    tri = wedges.join(
        oriented,
        (F.col("src") == F.col("tb")) & (F.col("dst") == F.col("tc")),
    ).select("ta", "tb", "tc")
    pernode = (
        tri.select(F.col("ta").alias("v"))
        .unionAll(tri.select(F.col("tb").alias("v")))
        .unionAll(tri.select(F.col("tc").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(pernode, "v", "left")
        .select(
            F.col("v").alias("vec_id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering"),
        )
    )


# --- PageRank over the near-dup candidate graph (r4) --------------------

_PAGERANK_ITERS = 3

_PAGERANK_ORACLE = (
    _LSH_BUCKET_CTE
    + f"""
, edges AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), dir AS (
  SELECT va AS src, vb AS dst FROM edges
  UNION ALL SELECT vb AS src, va AS dst FROM edges
), deg AS (
  SELECT src, COUNT(*) AS d FROM dir GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS v FROM dir
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), pr AS (
  WITH RECURSIVE walk(iter, v, rank) AS (
    SELECT 0, v, 1.0 / (SELECT n FROM nn) FROM nodes
    UNION ALL
    SELECT w.iter + 1, nodes.v,
           0.15 / (SELECT n FROM nn)
           + 0.85 * COALESCE(SUM(w.rank / deg.d), 0)
    FROM nodes
    LEFT JOIN dir ON dir.dst = nodes.v
    LEFT JOIN walk w ON w.v = dir.src
    LEFT JOIN deg ON deg.src = dir.src
    WHERE w.iter < {_PAGERANK_ITERS}
    GROUP BY w.iter, nodes.v
  )
  SELECT v, rank FROM walk WHERE iter = {_PAGERANK_ITERS}
)
SELECT pr.v AS vec_id,
       CAST(deg.d AS BIGINT) AS out_degree,
       ROUND(pr.rank, 6) AS pagerank
FROM pr JOIN deg ON deg.src = pr.v
"""
)


@register("graph_pagerank", oracle=_PAGERANK_ORACLE, tags=("datapipe", "graph"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({_PAGERANK_ITERS} power iterations, damping 0.85)
    over the undirected embedding near-dup candidate graph — the
    canonical iterative-graph workload (Page et al. 1999 — public)
    next to connected components and triangle counting. Spark side:
    a driver loop over LAZY DataFrame transformations
    (``operators/dedup.pagerank_ranks``: each iteration = one
    contributions join + one groupBy-sum, both keyed on the node id,
    so successive iterations reuse the same hash partitioning); at
    convergence-loop scale each iteration would checkpoint like the
    CC loop does. 3 iterations are DEFENSIBLE here, not arbitrary:
    the update is a 0.85-contraction in L1 (residual ≤ 0.85³·δ₁
    ≈ 0.61·δ₁ worst case) and on this clique-dominated LSH candidate
    graph the measured δ after round 1 is ~1e-17 — converged at init
    (tests/test_edge_cases.py::test_pagerank_convergence_* measures
    both facts). Oracle: the identical power iteration as a DuckDB
    recursive CTE. All-node output (no top-k) keeps the hash
    comparison free of float-ordering ties."""
    from commodity_price_forecasting_spark.operators.dedup import pagerank_ranks

    emb = load_table(spark, sf_dir, "embeddings")
    b = lsh_buckets(emb, n_planes=8)
    x, y = b.alias("x"), b.alias("y")
    edges = (
        x.join(y, (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.vec_id") < F.col("y.vec_id")))
        .select(F.col("x.vec_id").alias("va"), F.col("y.vec_id").alias("vb"))
        .distinct()
    )
    dir_edges = edges.select(
        F.col("va").alias("src"), F.col("vb").alias("dst")
    ).unionAll(edges.select(F.col("vb").alias("src"), F.col("va").alias("dst")))
    deg = dir_edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # has_dangling=False: the unionAll above symmetrizes the edge
    # list, so every node has out-degree ≥ 1 by construction — the
    # lane stays pure-lazy (no probe job at plan-build time)
    ranks = pagerank_ranks(
        dir_edges, iters=_PAGERANK_ITERS, has_dangling=False
    )
    return ranks.join(deg, ranks.v == deg.src).select(
        F.col("v").alias("vec_id"),
        F.col("d").cast("long").alias("out_degree"),
        F.round("rank", 6).alias("pagerank"),
    )


_HLL_ROLLUP_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(DISTINCT user_id) AS exact_daily
  FROM events GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(exact_daily) AS BIGINT) AS sum_daily_exact,
       CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
         AS exact_total,
       TRUE AS merged_within_5pct,
       TRUE AS merged_le_sum_daily
FROM daily
"""


@register("sketch_hll_rollup", oracle=_HLL_ROLLUP_ORACLE, tags=("datapipe", "sketch"))
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch RE-AGGREGATION — the property the sketch family
    exists for at 100 TB: build one user sketch PER DAY, then merge
    the daily sketches with ``hll_union_agg`` into the month total
    WITHOUT touching raw data again (exact countDistinct cannot be
    rolled up from daily exacts — distinct is not additive). The
    oracle-checked surface: day count, the (over-counting) sum of
    daily exacts, the exact total, and two invariant flags — the
    merged estimate lands within 5% of the exact total AND does not
    exceed the additive upper bound.

    This is the daily-partition pattern: at scale the daily sketches
    are KB-sized artifacts persisted with each partition; month/year
    rollups never rescan events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("exact_daily").alias("sum_daily_exact"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_merged"),
    )
    total = ev.agg(F.countDistinct("user_id").alias("exact_total"))
    return merged.crossJoin(F.broadcast(total)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("sum_daily_exact").cast("long").alias("sum_daily_exact"),
        F.col("exact_total").cast("long").alias("exact_total"),
        (
            F.abs(F.col("_merged") - F.col("exact_total"))
            <= 0.05 * F.col("exact_total")
        ).alias("merged_within_5pct"),
        (F.col("_merged") <= F.col("sum_daily_exact") * 1.05).alias(
            "merged_le_sum_daily"
        ),
    )


_FREQ_ORACLE = """
WITH b AS (
  SELECT CAST(FLOOR(value / 25) AS BIGINT) AS bin FROM events
), c AS (
  SELECT bin, COUNT(*) AS n_events FROM b GROUP BY bin
), t AS (
  SELECT SUM(n_events) AS n FROM c
)
SELECT c.bin, CAST(c.n_events AS BIGINT) AS n_events,
       ROUND(CAST(c.n_events AS DOUBLE) / t.n, 6) AS share,
       TRUE AS in_sketch_candidates
FROM c CROSS JOIN t
WHERE c.n_events >= 0.05 * t.n
"""


@register("sketch_freq_items", oracle=_FREQ_ORACLE, tags=("datapipe", "sketch"))
def sketch_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: ``df.stat.freqItems`` (the Karp–Shenker–
    Papadimitriou one-pass candidate algorithm behind Misra–Gries
    style sketches) at support 0.05, exact-verified — the third
    classic sketch beside HLL cardinality and GK quantiles. KSP
    guarantees the candidate set is a SUPERSET of every item above
    the support threshold in one pass with O(1/support) state; the
    exact pass then confirms counts on candidates only. The oracle
    checks the exact frequent set plus the superset guarantee as a
    boolean (every exact heavy hitter was in the sketch candidates).

    At 100 TB: the sketch pass is one map-side scan with 20-entry
    state; the exact confirmation aggregates ONLY rows matching the
    ≤20 candidates (a broadcast isin filter), not every key."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") / 25).cast("long").alias("bin")
    )
    cands = set(ev.stat.freqItems(["bin"], 0.05).collect()[0][0])
    # empty-candidate guard: isin() raises with zero args, and an empty
    # sketch means no bin can clear the support threshold anyway
    cand_filter = (
        F.col("bin").isin(*[int(x) for x in cands]) if cands else F.lit(False)
    )
    c = (
        ev.filter(cand_filter)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    t = ev.agg(F.count(F.lit(1)).alias("n"))
    return (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("n_events") >= 0.05 * F.col("n"))
        .select(
            "bin",
            F.col("n_events").cast("long").alias("n_events"),
            F.round(F.col("n_events").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
            F.lit(True).alias("in_sketch_candidates"),
        )
    )


_PATK_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qemb, label AS qlab
  FROM embeddings WHERE vec_id < 10
), px AS (
  SELECT q.qid, q.qlab, c.vec_id, c.label,
         UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(q.qemb AS DOUBLE[])) AS y
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.qid
), cs AS (
  SELECT qid, qlab, vec_id, label,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cos
  FROM px GROUP BY qid, qlab, vec_id, label
), rk AS (
  SELECT qid, qlab, label,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rn
  FROM cs
)
SELECT qid AS query_id, CAST(qlab AS INT) AS query_label,
       ROUND(AVG(CASE WHEN label = qlab THEN 1.0 ELSE 0.0 END), 6)
         AS p_at_10
FROM rk WHERE rn <= 10
GROUP BY qid, qlab
"""


@register("sim_precision_at_k", oracle=_PATK_ORACLE, tags=("datapipe", "similarity", "ml"))
def sim_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation for the similarity surface:
    precision@10 of exact cosine search against the ground-truth
    ``label`` column, for the first 10 corpus vectors as queries —
    the metric that tells you whether an ANN index (IVF/LSH/PQ) is
    allowed to trade recall for speed, measured on the exact
    baseline first. Near-random fixture embeddings put p@10 barely
    above the 1/|labels| prior; the EVALUATION math is what's
    hash-checked.

    The 10-query set broadcasts against one corpus scan (10·n scored
    pairs, map-side); per-query ranking partitions by query id."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("label").alias("qlab"),
    )
    from commodity_price_forecasting_spark.operators.similarity import (
        _dot,
        _norm,
    )

    pairs = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("qid")
    )
    cos = F.round(
        _dot(F.col("embedding"), F.col("qemb"))
        / (_norm(F.col("embedding")) * _norm(F.col("qemb"))),
        6,
    )
    scored = pairs.select(
        "qid", "qlab", "vec_id", "label", cos.alias("cos")
    )
    rk = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
        ),
    ).filter(F.col("rn") <= 10)
    return rk.groupBy("qid", "qlab").agg(
        F.round(
            F.avg(F.when(F.col("label") == F.col("qlab"), 1.0).otherwise(0.0)),
            6,
        ).alias("p_at_10")
    ).select(
        F.col("qid").alias("query_id"),
        F.col("qlab").cast("int").alias("query_label"),
        "p_at_10",
    )


def _sim_ranked(spark: SparkSession, sf_dir: str):
    """Shared exact-cosine ranking frame for the retrieval-metric
    family (p@k / MRR / NDCG): 10 query vectors broadcast against one
    corpus scan, per-query row_number on (cos DESC, vec_id)."""
    from commodity_price_forecasting_spark.operators.similarity import (
        _dot,
        _norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("label").alias("qlab"),
    )
    pairs = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("qid")
    )
    cos = F.round(
        _dot(F.col("embedding"), F.col("qemb"))
        / (_norm(F.col("embedding")) * _norm(F.col("qemb"))),
        6,
    )
    scored = pairs.select("qid", "qlab", "vec_id", "label", cos.alias("cos"))
    rk = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
        ),
    )
    return scored, rk


_SIM_RANK_CTE = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qemb, label AS qlab
  FROM embeddings WHERE vec_id < 10
), px AS (
  SELECT q.qid, q.qlab, c.vec_id, c.label,
         UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(q.qemb AS DOUBLE[])) AS y
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.qid
), cs AS (
  SELECT qid, qlab, vec_id, label,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cos
  FROM px GROUP BY qid, qlab, vec_id, label
), rk AS (
  SELECT qid, qlab, label,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rn
  FROM cs
)"""

_MRR_ORACLE = (
    _SIM_RANK_CTE
    + """
SELECT qid AS query_id, CAST(qlab AS INT) AS query_label,
       ROUND(COALESCE(
         1.0 / MIN(CASE WHEN label = qlab THEN rn END), 0), 6) AS rr_at_10
FROM rk WHERE rn <= 10
GROUP BY qid, qlab
"""
)


@register("sim_mrr_at_k", oracle=_MRR_ORACLE, tags=("datapipe", "similarity", "ml"))
def sim_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank@10 per query (the MRR components before the
    mean — kept per-query so the oracle hash checks every rank, not
    one average): 1/rank of the FIRST same-label hit in the exact
    cosine top-10, 0 when the window has no hit. Same broadcast-
    ranking plan as ``sim_precision_at_k`` — the 10-query literal set
    broadcasts, ranking partitions by query id, nothing global."""
    _scored, rk = _sim_ranked(spark, sf_dir)
    first_hit = F.min(
        F.when(F.col("label") == F.col("qlab"), F.col("rn"))
    )
    return (
        rk.filter(F.col("rn") <= 10)
        .groupBy("qid", "qlab")
        .agg(
            F.round(F.coalesce(1.0 / first_hit, F.lit(0.0)), 6).alias(
                "rr_at_10"
            )
        )
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlab").cast("int").alias("query_label"),
            "rr_at_10",
        )
    )


_NDCG_ORACLE = (
    _SIM_RANK_CTE
    + """, base AS (
  SELECT DISTINCT qid, qlab FROM cs
), rel AS (
  SELECT qid, COUNT(*) AS n_rel FROM cs WHERE label = qlab GROUP BY qid
), dcg AS (
  SELECT qid, SUM(1.0 / log2(CAST(rn AS DOUBLE) + 1)) AS dcg
  FROM rk WHERE rn <= 10 AND label = qlab GROUP BY qid
), idcg AS (
  SELECT r.qid, SUM(1.0 / log2(CAST(g.i AS DOUBLE) + 1)) AS idcg
  FROM rel r CROSS JOIN UNNEST(range(1, 11)) AS g(i)
  WHERE g.i <= LEAST(r.n_rel, 10) GROUP BY r.qid
)
SELECT b.qid AS query_id, CAST(b.qlab AS INT) AS query_label,
       ROUND(COALESCE(d.dcg / i.idcg, 0), 6) AS ndcg_at_10
FROM base b
LEFT JOIN dcg d ON d.qid = b.qid
LEFT JOIN idcg i ON i.qid = b.qid
"""
)


@register("sim_ndcg_at_k", oracle=_NDCG_ORACLE, tags=("datapipe", "similarity", "ml"))
def sim_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query with binary gain (label match): DCG =
    Σ 1/log2(rank+1) over hits in the top-10, IDCG normalizes by the
    ideal ordering given the query's TOTAL relevant count (capped at
    10) — so a query whose label has only 3 corpus members can still
    score 1.0, the standard Järvelin–Kekäläinen definition. Plan
    adds two vocabulary-free aggregates (per-query relevant count
    from the already-scored frame; a 10-row ideal-gain explode) to
    the shared broadcast-ranking shape — no extra corpus scan."""
    scored, rk = _sim_ranked(spark, sf_dir)
    base = scored.select("qid", "qlab").distinct()
    rel = (
        scored.filter(F.col("label") == F.col("qlab"))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    dcg = (
        rk.filter((F.col("rn") <= 10) & (F.col("label") == F.col("qlab")))
        .groupBy("qid")
        .agg(
            F.sum(1.0 / F.log2(F.col("rn").cast("double") + 1)).alias("dcg")
        )
    )
    idcg = (
        rel.select(
            "qid",
            "n_rel",
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("i"),
        )
        .filter(F.col("i") <= F.least(F.col("n_rel"), F.lit(10)))
        .groupBy("qid")
        .agg(
            F.sum(1.0 / F.log2(F.col("i").cast("double") + 1)).alias("idcg")
        )
    )
    return (
        base.join(dcg, "qid", "left")
        .join(idcg, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlab").cast("int").alias("query_label"),
            F.round(
                F.coalesce(F.col("dcg") / F.col("idcg"), F.lit(0.0)), 6
            ).alias("ndcg_at_10"),
        )
    )


_HARDNEG_ORACLE = (
    _SIM_RANK_CTE
    + """, rkf AS (
  SELECT qid, qlab, vec_id, label, cos,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rn
  FROM cs
), pos AS (
  SELECT qid, qlab, MIN(rn) AS pos_rank
  FROM rkf WHERE label = qlab GROUP BY qid, qlab
), posrow AS (
  SELECT f.qid, f.vec_id AS pos_id, f.cos AS pos_cos
  FROM rkf f JOIN pos p ON p.qid = f.qid AND f.rn = p.pos_rank
), hn AS (
  SELECT f.qid, MIN(f.rn) AS hn_rank
  FROM rkf f JOIN pos p ON p.qid = f.qid
  WHERE f.label <> f.qlab AND f.rn < p.pos_rank
  GROUP BY f.qid
), hnrow AS (
  SELECT h.qid, f.vec_id AS hn_id, f.cos AS hn_cos
  FROM hn h JOIN rkf f ON f.qid = h.qid AND f.rn = h.hn_rank
)
SELECT p.qid AS query_id, CAST(p.qlab AS INT) AS query_label,
       CAST(p.pos_rank AS BIGINT) AS pos_rank,
       pr.pos_id, pr.pos_cos,
       CAST(p.pos_rank - 1 AS BIGINT) AS n_hard_negs,
       hr.hn_id, hr.hn_cos
FROM pos p
JOIN posrow pr ON pr.qid = p.qid
LEFT JOIN hnrow hr ON hr.qid = p.qid
"""
)


@register(
    "sim_hard_negatives",
    oracle=_HARDNEG_ORACLE,
    tags=("datapipe", "similarity", "ml"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the SimCSE /
    DPR data-prep step): per query, the top-ranked SAME-label item is
    the positive; every DIFFERENT-label item ranked ABOVE it is a
    hard negative (scores higher than the positive — exactly the
    examples a contrastive loss needs). Emits the positive (id, cos,
    rank), the hardest negative (best-ranked one, NULL when the
    positive is rank 1), and the hard-negative count = pos_rank − 1.

    Plan shape: the shared broadcast-ranking frame plus conditional
    aggregates — ``min_by`` picks the positive/negative rows without a
    second ranking pass; nothing beyond the per-query shuffle."""
    _scored, rk = _sim_ranked(spark, sf_dir)
    is_pos = F.col("label") == F.col("qlab")
    # queries with no same-label corpus item drop out entirely (same
    # as the oracle's pos CTE) — a contrastive pair needs a positive
    pos = rk.filter(is_pos).groupBy("qid", "qlab").agg(
        F.min("rn").alias("pos_rank"),
        F.min_by("vec_id", "rn").alias("pos_id"),
        F.min_by("cos", "rn").alias("pos_cos"),
    )
    neg = rk.filter(~is_pos).groupBy("qid").agg(
        F.min("rn").alias("hn_rank"),
        F.min_by("vec_id", "rn").alias("_hn_id"),
        F.min_by("cos", "rn").alias("_hn_cos"),
    )
    return (
        pos.join(neg, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlab").cast("int").alias("query_label"),
            F.col("pos_rank").cast("long").alias("pos_rank"),
            "pos_id",
            "pos_cos",
            (F.col("pos_rank") - 1).cast("long").alias("n_hard_negs"),
            F.when(F.col("hn_rank") < F.col("pos_rank"), F.col("_hn_id"))
            .alias("hn_id"),
            F.when(F.col("hn_rank") < F.col("pos_rank"), F.col("_hn_cos"))
            .alias("hn_cos"),
        )
    )


_GEO_ORACLE = """
WITH pts AS (
  SELECT user_id AS pid,
         (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000) / 100.0 AS x,
         (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))
               AS BIGINT) % 1000) / 100.0 AS y
  FROM (SELECT DISTINCT user_id FROM events) u
), cells AS (
  SELECT pid, x, y,
         CAST(FLOOR(x) AS BIGINT) AS cx, CAST(FLOOR(y) AS BIGINT) AS cy
  FROM pts
), cand AS (
  SELECT a.pid AS pid_a, b.pid AS pid_b, a.x AS ax, a.y AS ay,
         b.x AS bx, b.y AS by
  FROM cells a
  JOIN cells b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND a.pid < b.pid
)
SELECT pid_a, pid_b,
       ROUND(SQRT((ax-bx)*(ax-bx) + (ay-by)*(ay-by)), 6) AS dist
FROM cand
WHERE SQRT((ax-bx)*(ax-bx) + (ay-by)*(ay-by)) <= 1.0
"""


@register("geo_grid_neighbors", oracle=_GEO_ORACLE, tags=("datapipe", "join", "spatial"))
def geo_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial radius join — the scale pattern for
    ANY proximity join (geo points, embeddings in 2D projections,
    sensor positions): bucket points into unit cells, candidates meet
    only in the 3×3 neighbor-cell window of each point (a bounded
    non-equi band join on integer cell ids, never all-pairs), exact
    distance confirms. Radius 1.0 = cell size, so the 3×3 window
    provably covers every qualifying pair. Coordinates are
    md5-derived from user_id (deterministic both engines); distance
    is Euclidean — deliberately trig-free, because Java Math.sin and
    libm disagree at the last ulp and a haversine would make the
    oracle flaky at rounding boundaries (same reason the feed in
    ``sources/ticksource.py`` avoids libm).

    At 100 TB the cell join hash-partitions on (cx, cy); skewed cells
    (urban cores) take the salting lane; the band condition keeps the
    blowup at 9·avg_cell_occupancy per point."""
    pts = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            F.col("user_id").alias("pid"),
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 1000
                / 100.0
            ).alias("x"),
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 9, 8),
                    16,
                    10,
                ).cast("long")
                % 1000
                / 100.0
            ).alias("y"),
        )
    )
    cells = pts.withColumn("cx", F.floor("x")).withColumn("cy", F.floor("y"))
    # each point probes its 9 neighbor cells explicitly, so the join is
    # a pure HASH EQUI-join on (cell_x, cell_y) — a raw band condition
    # would plan as a nested-loop; the explode trades 9x left rows for
    # hash-partitionable keys (the winning trade at any scale)
    probes = cells.select(
        "pid",
        "x",
        "y",
        F.explode(
            F.array(*[F.lit(d) for d in (-1, 0, 1)])
        ).alias("dx"),
        "cx",
        "cy",
    ).select(
        "pid",
        "x",
        "y",
        (F.col("cx") + F.col("dx")).alias("pcx"),
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        "cy",
    ).select(
        "pid", "x", "y", "pcx", (F.col("cy") + F.col("dy")).alias("pcy")
    )
    b = cells.select(
        F.col("pid").alias("pid_b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    cand = probes.join(
        b,
        (F.col("bcx") == F.col("pcx"))
        & (F.col("bcy") == F.col("pcy"))
        & (F.col("pid") < F.col("pid_b")),
    )
    dist = F.sqrt(
        (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
        + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
    )
    return cand.filter(dist <= 1.0).select(
        F.col("pid").alias("pid_a"),
        "pid_b",
        F.round(dist, 6).alias("dist"),
    )


_ZIPF_ORACLE = """
WITH toks AS (
  SELECT UNNEST(string_split_regex(
           lower(regexp_replace(text, '[^a-zA-Z0-9_ \\t\\n]', ' ', 'g')),
           '\\s+')) AS token
  FROM documents
), c AS (
  SELECT token, COUNT(*) AS freq FROM toks WHERE token <> ''
  GROUP BY token
), rk AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
  FROM c
), top AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS lx, ln(CAST(freq AS DOUBLE)) AS ly
  FROM rk WHERE rank <= 200
), mu AS (
  SELECT lx, ly, AVG(lx) OVER () AS mx, AVG(ly) OVER () AS my FROM top
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
       ROUND(SUM((lx - mx) * (ly - my)) / SUM((lx - mx) * (lx - mx)), 6)
         AS zipf_slope,
       ROUND(POWER(SUM((lx - mx) * (ly - my)), 2)
             / (SUM((lx - mx) * (lx - mx)) * SUM((ly - my) * (ly - my))),
             6) AS r2
FROM mu
"""


@register("text_zipf_slope", oracle=_ZIPF_ORACLE, tags=("datapipe", "text", "stats"))
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS slope of
    ln(freq) on ln(rank) over the top-200 tokens (natural text ≈ −1;
    a synthetic or templated corpus shows up immediately as a flat or
    kinked slope — a one-number corpus-authenticity fingerprint next
    to the char-entropy gate). Centered sums, the
    cancellation-immune form the Spearman fix established.

    The rank window is a top-200 TakeOrdered over the token-count
    aggregate — vocabulary-sized input, corpus scanned once."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(
                    F.lower(F.regexp_replace(F.col("text"), r"[^\w \t\n]", " ")),
                    r"\s+",
                )
            ).alias("token")
        )
        .filter(F.col("token") != "")
    )
    c = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    rk = c.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("token"))),
    ).filter(F.col("rank") <= 200)
    top = rk.select(
        F.log(F.col("rank").cast("double")).alias("lx"),
        F.log(F.col("freq").cast("double")).alias("ly"),
    )
    wall = Window.partitionBy()
    mu = top.withColumn("mx", F.avg("lx").over(wall)).withColumn(
        "my", F.avg("ly").over(wall)
    )
    sxy = F.sum((F.col("lx") - F.col("mx")) * (F.col("ly") - F.col("my")))
    sxx = F.sum((F.col("lx") - F.col("mx")) * (F.col("lx") - F.col("mx")))
    syy = F.sum((F.col("ly") - F.col("my")) * (F.col("ly") - F.col("my")))
    return mu.agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.round(sxy / sxx, 6).alias("zipf_slope"),
        F.round(F.pow(sxy, 2) / (sxx * syy), 6).alias("r2"),
    )


_TTR_ORACLE = """
WITH toks AS (
  SELECT source,
         UNNEST(string_split_regex(
           lower(regexp_replace(text, '[^a-zA-Z0-9_ \\t\\n]', ' ', 'g')),
           '\\s+')) AS token
  FROM documents
), t2 AS (
  SELECT source, token FROM toks WHERE token <> ''
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types,
       ROUND(CAST(COUNT(DISTINCT token) AS DOUBLE) / COUNT(*), 6) AS ttr,
       ROUND(CAST(COUNT(DISTINCT token) AS DOUBLE)
             / SQRT(CAST(COUNT(*) AS DOUBLE)), 6) AS root_ttr
FROM t2 GROUP BY source
"""


@register("text_ttr_by_source", oracle=_TTR_ORACLE, tags=("datapipe", "text", "quality"))
def text_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per source: type-token ratio and Guiraud's
    root TTR (types/√tokens, the length-robust variant) — the
    vocabulary-diversity screen that separates boilerplate mills from
    organic text in a curation dashboard. One tokenize + one
    two-measure aggregate per source (countDistinct shuffles
    (source, token) pairs — bounded by vocabulary, not corpus)."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.split(
                    F.lower(F.regexp_replace(F.col("text"), r"[^\w \t\n]", " ")),
                    r"\s+",
                )
            ).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_types"),
        F.round(
            F.countDistinct("token").cast("double") / F.count(F.lit(1)), 6
        ).alias("ttr"),
        F.round(
            F.countDistinct("token").cast("double")
            / F.sqrt(F.count(F.lit(1)).cast("double")),
            6,
        ).alias("root_ttr"),
    )


# --- late-interaction (maxsim) fuzzy retrieval --------------------------

_LI_DIM = 16
_LI_TERMS = ("merge", "window", "scanner")  # 'scanner' is OOV — maxsim
# still ranks docs containing 'scan'/'scans' via shared char-trigrams


def _li_token_vec(token: str) -> tuple[list[float], float]:
    """Driver-side mirror of the char-trigram hashed embedding the
    query/oracle compute with md5 — used ONLY to embed the literal
    query terms (hashlib == md5() in both engines)."""
    import hashlib
    import math

    # same start-position cap (< 64) as the Spark path and the oracle
    grams = (
        [token[i : i + 3] for i in range(min(len(token) - 2, 64))]
        if len(token) >= 3
        else [token]
    )
    w = [0] * _LI_DIM
    for g in grams:
        h = hashlib.md5(g.encode()).hexdigest()
        b = int(h[:8], 16) % _LI_DIM
        # engines use 1-based strpos/instr over '0123456789abcdef', so
        # the sign parity is (hex value + 1) % 2 — NOT the raw value
        s = 1 if (int(h[8], 16) + 1) % 2 == 1 else -1
        w[b] += s
    nrm = math.sqrt(sum(x * x for x in w))
    return w, nrm


def _li_query_values() -> str:
    """VALUES rows (term, bucket, qw, qnorm) for the oracle."""
    rows = []
    for t in _LI_TERMS:
        w, nrm = _li_token_vec(t)
        for b, x in enumerate(w):
            if x:
                rows.append(f"('{t}', {b}, {x}, {nrm!r})")
    return ", ".join(rows)


_LATE_INTERACTION_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         UNNEST(string_split_regex(
           lower(regexp_replace(text, '[^a-zA-Z0-9_ \\t\\n]', ' ', 'g')),
           '\\s+')) AS token
  FROM documents
), t2 AS (
  SELECT doc_id, token FROM toks WHERE token <> ''
), vocab AS (
  SELECT DISTINCT token FROM t2
), grams AS (
  SELECT token,
         CASE WHEN length(token) >= 3
              THEN substr(token, CAST(g.i AS INTEGER) + 1, 3)
              ELSE token END AS gram
  FROM vocab
  CROSS JOIN UNNEST(range(64)) AS g(i)
  WHERE g.i < GREATEST(length(token) - 2, 1)
), tw AS (
  SELECT token,
         CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % {_LI_DIM}
           AS bucket,
         SUM(CASE WHEN strpos('0123456789abcdef', substr(md5(gram), 9, 1))
                       % 2 = 1
                  THEN 1 ELSE -1 END) AS tw
  FROM grams GROUP BY token, bucket
), tn AS (
  SELECT token, SQRT(SUM(tw * tw)) AS tnorm FROM tw GROUP BY token
), q(term, bucket, qw, qnorm) AS (
  VALUES {{values}}
), dots AS (
  SELECT w.token, q.term,
         SUM(w.tw * q.qw) / (ANY_VALUE(n.tnorm) * ANY_VALUE(q.qnorm))
           AS cos
  FROM tw w
  JOIN q ON q.bucket = w.bucket
  JOIN tn n ON n.token = w.token AND n.tnorm > 0
  GROUP BY w.token, q.term
), doc_term AS (
  SELECT d.doc_id, s.term, MAX(s.cos) AS maxsim
  FROM t2 d JOIN dots s ON s.token = d.token
  GROUP BY d.doc_id, s.term
), scored AS (
  SELECT doc_id, ROUND(SUM(maxsim), 6) AS li_score,
         CAST(COUNT(*) AS INT) AS n_terms_hit
  FROM doc_term GROUP BY doc_id
)
SELECT doc_id, li_score, n_terms_hit
FROM scored ORDER BY li_score DESC, doc_id LIMIT 10
"""


@register(
    "sim_late_interaction",
    oracle=_LATE_INTERACTION_ORACLE.replace("{values}", _li_query_values()),
    tags=("datapipe", "text", "similarity", "retrieval"),
)
def sim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (maxsim) retrieval — the ColBERT scoring
    shape on subword vectors: every vocabulary token gets a
    char-trigram feature-hashed embedding (fastText-style subword
    robustness, md5-deterministic), each query term takes the MAX
    cosine over a document's tokens, and the document score is the
    sum over query terms. The third query term is deliberately
    out-of-vocabulary ('scanner'): exact/BM25 retrieval scores it
    zero, maxsim still ranks documents containing 'scan' via shared
    trigrams — the behavior late interaction exists for.

    Scale shape: token vectors are built over the DISTINCT vocabulary
    (not token instances); the query side is a ≤|terms|·dim-row
    literal joined on bucket (sparse dot — no dense arrays anywhere);
    per-doc maxsim reuses the (doc, token) presence pairs with a
    vocabulary-sized broadcast of scored tokens."""
    docs = load_table(spark, sf_dir, "documents")
    t2 = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(
                    F.lower(F.regexp_replace(F.col("text"), r"[^\w \t\n]", " ")),
                    r"\s+",
                )
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    vocab = t2.select("token").distinct()
    # trigram start positions capped at 63 on BOTH engines (the oracle
    # unnests range(64)): tokens longer than 66 chars hash only their
    # first 64 trigrams — identical truncation by construction
    grams = vocab.select(
        "token",
        F.explode(
            F.sequence(
                F.lit(0),
                F.least(
                    F.greatest(F.length("token") - 3, F.lit(0)), F.lit(63)
                ),
            )
        ).alias("i"),
    ).select(
        "token",
        F.when(
            F.length("token") >= 3,
            F.substring(F.col("token"), F.col("i") + 1, 3),
        )
        .otherwise(F.col("token"))
        .alias("gram"),
    ).filter(
        (F.length("token") < 3) & (F.col("i") == 0)
        | (F.length("token") >= 3)
    )
    sign = F.when(
        F.expr("instr('0123456789abcdef', substring(md5(gram), 9, 1)) % 2")
        == 1,
        1,
    ).otherwise(-1)
    tw = grams.groupBy(
        "token",
        (F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long") % _LI_DIM).alias(
            "bucket"
        ),
    ).agg(F.sum(sign).alias("tw"))
    tn = tw.groupBy("token").agg(
        F.sqrt(F.sum(F.col("tw") * F.col("tw"))).alias("tnorm")
    ).filter(F.col("tnorm") > 0)
    qrows = []
    for term in _LI_TERMS:
        w, nrm = _li_token_vec(term)
        for bkt, x in enumerate(w):
            if x:
                qrows.append((term, bkt, float(x), nrm))
    q = docs.sparkSession.createDataFrame(
        qrows, "term string, bucket long, qw double, qnorm double"
    )
    dots = (
        tw.join(F.broadcast(q), "bucket")
        .join(tn, "token")
        .groupBy("token", "term")
        .agg(
            (
                F.sum(F.col("tw") * F.col("qw"))
                / (F.first("tnorm") * F.first("qnorm"))
            ).alias("cos")
        )
    )
    doc_term = (
        t2.join(dots, "token")
        .groupBy("doc_id", "term")
        .agg(F.max("cos").alias("maxsim"))
    )
    return (
        doc_term.groupBy("doc_id")
        .agg(
            F.round(F.sum("maxsim"), 6).alias("li_score"),
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        )
        .orderBy(F.desc("li_score"), F.asc("doc_id"))
        .limit(10)
    )


_DEGREE_POWERLAW_ORACLE = (
    _LSH_BUCKET_CTE
    + """
, edges AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), deg AS (
  SELECT v, CAST(COUNT(*) AS DOUBLE) AS d FROM (
    SELECT va AS v FROM edges UNION ALL SELECT vb AS v FROM edges
  ) GROUP BY v
), t AS (
  SELECT d, MIN(d) OVER () AS dmin FROM deg
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MAX(dmin) AS BIGINT) AS d_min,
       CAST(MAX(d) AS BIGINT) AS d_max,
       ROUND(AVG(d), 6) AS mean_degree,
       ROUND(1 + COUNT(*) / SUM(ln(d / (dmin - 0.5))), 6) AS hill_alpha
FROM t
"""
)


@register("graph_degree_powerlaw", oracle=_DEGREE_POWERLAW_ORACLE, tags=("datapipe", "graph", "stats"))
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill/Clauset MLE power-law exponent of the candidate-graph
    degree distribution: α = 1 + n/Σln(dᵢ/(d_min−½)) (Clauset,
    Shalizi & Newman 2009, continuous correction) over the
    same-LSH-bucket near-dup graph — the one-number skew diagnostic
    that predicts reducer hot-spots BEFORE a join runs: α ≤ 2 means
    unbounded-mean degrees (salting mandatory), α > 3 means
    hash-partitioning is safe. Complements the Zipf fit (the same
    law, token side) and the Gini (the non-parametric cousin).

    Degrees come from the edge list's union explode; everything after
    runs on the |nodes|-row frame (window-over-dimension for d_min)."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = lsh_buckets(emb, n_planes=8)
    e2 = b.select(
        F.col("vec_id").alias("vb"), F.col("bucket").alias("_bk")
    )
    edges = (
        b.join(
            e2,
            (F.col("bucket") == F.col("_bk"))
            & (F.col("vec_id") < F.col("vb")),
        )
        .select(F.col("vec_id").alias("va"), "vb")
        .distinct()
    )
    deg = (
        edges.select(F.col("va").alias("v"))
        .unionAll(edges.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    t = deg.withColumn("dmin", F.min("d").over(Window.partitionBy()))
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("dmin").cast("long").alias("d_min"),
        F.max("d").cast("long").alias("d_max"),
        F.round(F.avg("d"), 6).alias("mean_degree"),
        F.round(
            1
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("d") / (F.col("dmin") - 0.5))),
            6,
        ).alias("hill_alpha"),
    )


# --- cross-source vocabulary overlap (r5) --------------------------------

_SRCSIM_ORACLE = """
WITH toks AS (
  SELECT DISTINCT source,
         UNNEST(string_split_regex(
           lower(regexp_replace(text, '[^a-zA-Z0-9_ \\t\\n]', ' ', 'g')),
           '\\s+')) AS token
  FROM documents
), t2 AS (
  SELECT source, token FROM toks WHERE token <> ''
), sz AS (
  SELECT source, COUNT(*) AS v FROM t2 GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM t2 a JOIN t2 b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, CAST(i.n_shared AS BIGINT) AS n_shared,
       CAST(za.v AS BIGINT) AS vocab_a, CAST(zb.v AS BIGINT) AS vocab_b,
       ROUND(CAST(i.n_shared AS DOUBLE)
             / (za.v + zb.v - i.n_shared), 6) AS jaccard,
       ROUND(CAST(i.n_shared AS DOUBLE)
             / LEAST(za.v, zb.v), 6) AS overlap_coef
FROM inter i
JOIN sz za ON za.source = i.src_a
JOIN sz zb ON zb.source = i.src_b
"""


@register("text_source_overlap", oracle=_SRCSIM_ORACLE, tags=("datapipe", "text", "quality"))
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources — Jaccard and the
    Szymkiewicz–Simpson overlap coefficient on distinct-token sets —
    the corpus-mixing diagnostic that shows which sources are
    near-mirrors (high overlap) vs genuinely complementary BEFORE
    committing mixture weights. The token-level join meets only on
    shared tokens (vocabulary-bounded, never |sources|²·|vocab|);
    per-source sizes broadcast. All integers until the edge ratios."""
    docs = load_table(spark, sf_dir, "documents")
    t2 = (
        docs.select(
            "source",
            F.explode(
                F.split(
                    F.lower(
                        F.regexp_replace(F.col("text"), r"[^\w \t\n]", " ")
                    ),
                    r"\s+",
                )
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    sz = t2.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = t2.select(F.col("source").alias("src_a"), "token")
    b = t2.select(F.col("source").alias("src_b"), F.col("token").alias("_tb"))
    inter = (
        a.join(
            b,
            (F.col("token") == F.col("_tb"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    za = sz.select(F.col("source").alias("src_a"), F.col("v").alias("va"))
    zb = sz.select(F.col("source").alias("src_b"), F.col("v").alias("vb"))
    return (
        inter.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("va").cast("long").alias("vocab_a"),
            F.col("vb").cast("long").alias("vocab_b"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_shared").cast("double")
                / F.least(F.col("va"), F.col("vb")),
                6,
            ).alias("overlap_coef"),
        )
    )


# --- the FULL curation pipeline (r8 VERDICT ask #8) ----------------------
#
# PII redact -> quality gate -> exact dedup -> star-LSH components +
# canonical pick -> semantic_dedup front door -> deterministic split,
# with per-stage survivor counts: the single query a training-data
# user actually runs. The SQL-expressible prefix (stages 0-4) is its
# own registered query with a spliced-CTE oracle; the full query adds
# the semantic stage (rows-only by declared design — the drop set is
# pinned against a direct semantic_dedup call in
# tests/test_plans.py) and the 80/10/10 split tail.

_PIPELINE_FULL_PREFIX_ORACLE = """
WITH RECURSIVE red AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<ID>', 'g'),
        '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
      '\\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS text
  FROM documents
), quality AS (
  SELECT doc_id, ROUND(0.4 * LEAST(n_tokens / 50.0, 1.0)
       + 0.3 * (n_distinct * 1.0 / n_tokens)
       + 0.3 * (1 - ABS(n_stop * 1.0 / n_tokens - 0.10) / 0.9), 6) AS quality
  FROM (
    SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct,
           SUM(CASE WHEN token IN ('the','a','of','and','in') THEN 1 ELSE 0 END)
             AS n_stop
    FROM (SELECT r.doc_id, UNNEST(string_split(trim(r.text), ' ')) AS token
          FROM red r) tk
    WHERE token <> ''
    GROUP BY doc_id
  ) t
), s2 AS (
  SELECT r.doc_id, r.text FROM red r
  JOIN quality q ON r.doc_id = q.doc_id
  WHERE q.quality >= 0.7
), s3 AS (
  SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)
), s3d AS (
  SELECT s2.doc_id, s2.text FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
), pos AS (
  SELECT doc_id, text,
         UNNEST(range(1, GREATEST(length(text) - 4, 1) + 1)) AS i
  FROM s3d
), sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 5) AS shingle FROM pos
), mh AS (
  SELECT doc_id, h.i,
         MIN(md5(CAST(h.i AS VARCHAR) || ':' || shingle)) AS mh
  FROM sh, generate_series(0, 11) h(i)
  GROUP BY doc_id, h.i
), bands AS (
  SELECT doc_id, CAST(FLOOR(i / 3) AS INTEGER) AS band,
         md5(string_agg(mh, '|' ORDER BY i)) AS sig
  FROM mh GROUP BY doc_id, CAST(FLOOR(i / 3) AS INTEGER)
), rep AS (
  SELECT band, sig, MIN(doc_id) AS rep FROM bands GROUP BY band, sig
), cand AS (
  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN rep r ON b.band = r.band AND b.sig = r.sig
  WHERE b.doc_id <> r.rep
), edges AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN mh a ON a.doc_id = c.doc_a
  JOIN mh b ON b.doc_id = c.doc_b AND a.i = b.i
  GROUP BY c.doc_a, c.doc_b
  HAVING SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 12.0 >= 0.5
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
), walk(node, label) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node
), labels AS (
  SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
), ranked AS (
  SELECT l.component, l.doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY l.component
           ORDER BY q.quality DESC, l.doc_id ASC) AS rk
  FROM labels l JOIN quality q ON l.doc_id = q.doc_id
), s4 AS (
  SELECT s3.doc_id FROM s3
  WHERE s3.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 1)
)
SELECT CAST(0 AS INT) AS stage_no, 'raw' AS stage, COUNT(*) AS n_docs FROM documents
UNION ALL SELECT 1, 'pii_redact', COUNT(*) FROM red
UNION ALL SELECT 2, 'quality_gate', COUNT(*) FROM s2
UNION ALL SELECT 3, 'exact_dedup', COUNT(*) FROM s3
UNION ALL SELECT 4, 'star_canonical', COUNT(*) FROM s4
"""


def _curation_full_stages(spark: SparkSession, sf_dir: str) -> dict:
    """Shared stage frames for the full curation pipeline; each value
    is a (doc_id[, text]) frame of that stage's SURVIVORS. Heavy
    lifting is staged once: PII redaction is a zero-shuffle
    projection whose output feeds BOTH the quality gate and the exact
    fingerprints; shingles/minhashes are computed only for exact-dedup
    survivors; components run on star candidates (n·bands bound)."""
    from pyspark.sql import Window as W

    from commodity_price_forecasting_spark.operators.textops import (
        pii_redact,
        quality_score_rowwise,
    )

    docs = load_table(spark, sf_dir, "documents")
    # cache the multi-consumer stage frames (the r8 rule: CacheManager
    # dedupes by canonicalized plan and serves column-pruned reads).
    # Every stage-count branch of the output union consumes its whole
    # PREFIX — uncached, the PII regex chain alone re-runs in six
    # branches (measured 12.3 s → 6.0 s for the bench row at sf0.1).
    #
    # Quality rides IN the cached redaction frame as the zero-shuffle
    # rowwise projection (r15, guide §2.4): quality_score_rowwise is
    # bit-identical to the explode+groupBy form (equality pinned in
    # tests/test_streaming_curation.py), so the old
    # tokenize-explode-aggregate pass and the s2 gate JOIN collapse
    # into a map-only column + a filter over this one cache — and the
    # canonical-pick stage below reads ``quality`` from the same cache
    # instead of re-running the aggregation (it used to run twice).
    # Zero-token docs: rowwise yields NULL quality (no row at all from
    # the groupBy form); NULL fails the >= 0.7 gate and such docs
    # cannot reach the components join (they are gated out at s2), so
    # every downstream stage set is unchanged.
    # Spread the regex+quality projection before computing it (r15,
    # guide §2.5): a small parquet corpus arrives as ONE partition and
    # the whole redaction chain ran single-task (measured 0.7-0.8 s of
    # the lane at sf0.1); conditional so an at-scale multi-partition
    # scan is never re-shuffled just for parallelism.
    par = spark.sparkContext.defaultParallelism
    docs_wide = (
        docs.repartition(par, "doc_id")
        if docs.rdd.getNumPartitions() < par
        else docs
    )
    red = (
        quality_score_rowwise(
            pii_redact(docs_wide), text_col="redacted", keep=("redacted",)
        )
        .select("doc_id", F.col("redacted").alias("text"), "quality")
        .cache()
    )
    q = red.select(F.col("doc_id").alias("q_doc"), "quality")
    s2 = red.filter(F.col("quality") >= 0.7).select("doc_id", "text").cache()
    s3_ids = (
        s2.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .cache()
    )
    s3d = s2.join(s3_ids, "doc_id")
    sh = char_shingles(s3d, k=5, distinct=False)
    wide = minhash_wide(sh, num_hashes=12).cache()
    cand = lsh_star_pairs(band_signatures(wide, num_hashes=12, rows_per_band=3))
    edges = estimated_jaccard(wide, cand, num_hashes=12).filter(
        F.col("est_jaccard") >= 0.5
    )
    # Fill the multi-consumer caches SEQUENTIALLY before the edges DAG
    # consumes them (r16, guide §5 caching + §7.1). These caches are
    # unpersisted at the end of every run (_finish_stage_counts), so
    # every run refills them COLD — and the edges plan scans ``wide``
    # 4× (both star-candidate passes + both jaccard sides) with AQE
    # materializing those branch stages CONCURRENTLY: against a cold
    # cache each branch recomputes the whole redact→gate→dedup→
    # shingle→minhash chain instead of waiting for one fill (measured
    # in the r16 event-log profile: 8 concurrent ~2.9 s 33-task jobs,
    # ~24 duplicated CPU-seconds per run). Three tiny count jobs in
    # dependency order (each cache's own lineage is a single chain
    # over the previous one, so no fill races itself) make every later
    # scan a warm hit; each fill still happens exactly once per run.
    for _warm in (red, s3_ids, wide):
        _warm.count()
    comp = connected_components(edges, "doc_a", "doc_b")
    ranked = comp.join(q, comp.node == F.col("q_doc")).select(
        "component",
        F.col("node").alias("doc_id"),
        F.row_number()
        .over(W.partitionBy("component").orderBy(F.desc("quality"), F.asc("node")))
        .alias("rk"),
    )
    dropped = ranked.filter(F.col("rk") > 1).select("doc_id")
    s4 = s3_ids.join(dropped, "doc_id", "left_anti").cache()
    return {
        "docs": docs,
        "red": red,
        "s2": s2,
        "s3": s3_ids,
        "s4": s4,
        "wide": wide,
    }


def _finish_stage_counts(spark: SparkSession, s: dict, out: DataFrame) -> DataFrame:
    """Materialize the stage-count union while the multi-consumer
    stage caches are live, then UNPERSIST them (r9 ADVICE: the four
    cached stage frames used to outlive the query, pinning executor
    storage for the life of the session; r10 ADVICE added the minhash
    ``wide`` frame, which leaked the same way). The returned frame is
    the collected rows re-wrapped with the identical schema — same
    values, same schema, zero storage left behind."""
    rows = out.collect()
    for key in ("red", "s2", "s3", "s4", "wide"):
        if key in s:
            s[key].unpersist()
    return spark.createDataFrame(rows, out.schema)


def _stage_row(no: int, name: str, df: DataFrame) -> DataFrame:
    return df.agg(
        F.lit(no).cast("int").alias("stage_no"),
        F.lit(name).alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "curation_pipeline_prefix",
    oracle=_PIPELINE_FULL_PREFIX_ORACLE,
    tags=("datapipe", "pipeline"),
)
def curation_pipeline_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible prefix of the FULL curation pipeline
    (stages 0-4), fully oracled: PII redaction feeds the quality gate
    and the exact fingerprints (redaction happens BEFORE hashing, so
    two docs differing only in their PII dedup together), exact dedup
    survivors feed star-LSH candidate generation
    (``operators/dedup.lsh_star_pairs`` — the production n·bands
    lane), and the quality-argmax canonical pick closes near-dedup.
    Oracle note: the spliced-CTE oracle replicates the four REGEX PII
    classes; the checksum-gated classes are elided there because the
    fixture corpus is letters+spaces (no candidates exist — their
    byte-exactness is pinned separately by ``quality_pii_checksum``).
    """
    s = _curation_full_stages(spark, sf_dir)
    out = (
        _stage_row(0, "raw", s["docs"])
        .unionAll(_stage_row(1, "pii_redact", s["red"]))
        .unionAll(_stage_row(2, "quality_gate", s["s2"]))
        .unionAll(_stage_row(3, "exact_dedup", s["s3"]))
        .unionAll(_stage_row(4, "star_canonical", s["s4"]))
    )
    return _finish_stage_counts(spark, s, out)


@register(
    "curation_pipeline_full",
    # rows-only by declared design: stage 5 is the semantic_dedup
    # front door, whose hier lane (chosen above the measured n=4000
    # crossover) has no SQL twin; stages 0-4 are value-oracled via
    # curation_pipeline_prefix and the drop set is equality-pinned in
    # tests/test_plans.py
    oracle=None,
    tags=("datapipe", "pipeline", "bench", "production"),
)
def curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data curation story in one plan (r8 VERDICT
    ask #8): PII redact -> quality gate (>= 0.7 on redacted text) ->
    exact dedup -> star-LSH components + quality-argmax canonical ->
    ``semantic_dedup`` front door over the survivors' embeddings
    (auto lane: flat-BLAS <= 4000 vectors, hier cogroup above) ->
    deterministic 80/10/10 hash split. One row per stage with the
    survivor count — the acceptance dashboard of a curation run.

    Scale shape: every stage hands the next a doc_id set; text is
    touched once for redaction (zero-shuffle projection), once for
    shingles (exact-dedup survivors only); star candidates are
    bounded n·bands; the semantic stage ships only survivor
    embeddings into the front door. Stages 0-4 are value-oracled as
    ``curation_pipeline_prefix``; this query is rows-only because the
    semantic drop set is engine-side (pinned by pytest against a
    direct ``semantic_dedup`` call)."""
    from commodity_price_forecasting_spark.operators.similarity import (
        semantic_dedup,
    )

    s = _curation_full_stages(spark, sf_dir)
    embs = (
        load_table(spark, sf_dir, "embeddings")
        .join(s["s4"], F.col("vec_id") == F.col("doc_id"))
        .select("vec_id", "embedding")
    )
    drops = semantic_dedup(embs).select(F.col("vec_id").alias("doc_id"))
    s5 = s["s4"].join(drops, "doc_id", "left_anti")
    pct = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    split = s5.select(
        "doc_id",
        F.when(pct < 80, "split_train")
        .when(pct < 90, "split_val")
        .otherwise("split_test")
        .alias("split"),
    )
    split_rows = (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.when(F.col("split") == "split_train", 6)
            .when(F.col("split") == "split_val", 7)
            .otherwise(8)
            .cast("int")
            .alias("stage_no"),
            F.col("split").alias("stage"),
            "n_docs",
        )
    )
    out = (
        _stage_row(0, "raw", s["docs"])
        .unionAll(_stage_row(1, "pii_redact", s["red"]))
        .unionAll(_stage_row(2, "quality_gate", s["s2"]))
        .unionAll(_stage_row(3, "exact_dedup", s["s3"]))
        .unionAll(_stage_row(4, "star_canonical", s["s4"]))
        .unionAll(_stage_row(5, "semantic_dedup", s5))
        .unionAll(split_rows)
    )
    return _finish_stage_counts(spark, s, out)


_MIN_CLEAN_TOKENS = 5


def _curation_clean_flow(spark: SparkSession, sf_dir: str):
    """Shared derivation of the ExactSubstr curation lane: stages 0-4
    (``_curation_full_stages``) → span removal + length floor (s5) →
    semantic dedup (s6) → 80/10/10 hash split. Returns
    ``(stages_dict, cleaned, s5, s6, split)`` — consumed by the
    stage-count query (``curation_pipeline_clean``) and the corpus
    materialization lane (``curation_corpus_write``), which must agree
    by construction, not by parallel reimplementation."""
    from commodity_price_forecasting_spark.operators.dedup import (
        substring_remove,
    )
    from commodity_price_forecasting_spark.operators.similarity import (
        semantic_dedup,
    )

    s = _curation_full_stages(spark, sf_dir)
    survivors = s["red"].join(s["s4"], "doc_id")
    cleaned = substring_remove(survivors, k=8)
    s5 = (
        cleaned.filter(
            (F.col("n_tokens") - F.col("n_removed")) >= _MIN_CLEAN_TOKENS
        )
        .select("doc_id")
        .cache()
    )
    embs = (
        load_table(spark, sf_dir, "embeddings")
        .join(s5, F.col("vec_id") == F.col("doc_id"))
        .select("vec_id", "embedding")
    )
    drops = semantic_dedup(embs).select(F.col("vec_id").alias("doc_id"))
    s6 = s5.join(drops, "doc_id", "left_anti")
    pct = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    split = s6.select(
        "doc_id",
        F.when(pct < 80, "split_train")
        .when(pct < 90, "split_val")
        .otherwise("split_test")
        .alias("split"),
    )
    return s, cleaned, s5, s6, split


@register(
    "curation_pipeline_clean",
    # rows-only by declared design, same grounds as
    # curation_pipeline_full (the semantic stage's hier lane has no
    # SQL twin); stages 0-4 are value-oracled via
    # curation_pipeline_prefix, the substring stage is value-oracled
    # standalone as dedup_substring_remove, and the stage counts are
    # equality-pinned against direct operator calls in
    # tests/test_plans.py
    oracle=None,
    tags=("datapipe", "pipeline"),
)
def curation_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``curation_pipeline_full`` with the ExactSubstr stage wired in
    (r9 VERDICT ask #5's "optional curation stage"): after the
    star-canonical pick, duplicated >=8-token spans are REMOVED from
    the survivors' (already PII-redacted) text — keep-first corpus
    order — and docs left with fewer than {_MIN_CLEAN_TOKENS} tokens
    are dropped (the standard post-ExactSubstr length floor: a doc
    that was mostly duplicated mass carries no training signal).
    Semantic dedup and the 80/10/10 hash split then run on the
    cleaned survivor set. One row per stage with the survivor count.

    Scale note: the span removal runs on star-canonical SURVIVORS
    only (duplicate clusters already collapsed), so its gram table is
    built over the deduped corpus — the order Lee et al. 2022 run it
    (ExactSubstr over the NearDup-deduplicated corpus), and the
    cheaper one (fewer docs => fewer gram occurrences)."""
    s, cleaned, s5, s6, split = _curation_clean_flow(spark, sf_dir)
    split_rows = (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.when(F.col("split") == "split_train", 7)
            .when(F.col("split") == "split_val", 8)
            .otherwise(9)
            .cast("int")
            .alias("stage_no"),
            F.col("split").alias("stage"),
            "n_docs",
        )
    )
    out = (
        _stage_row(0, "raw", s["docs"])
        .unionAll(_stage_row(1, "pii_redact", s["red"]))
        .unionAll(_stage_row(2, "quality_gate", s["s2"]))
        .unionAll(_stage_row(3, "exact_dedup", s["s3"]))
        .unionAll(_stage_row(4, "star_canonical", s["s4"]))
        .unionAll(_stage_row(5, "substring_clean", s5))
        .unionAll(_stage_row(6, "semantic_dedup", s6))
        .unionAll(split_rows)
    )
    res = _finish_stage_counts(spark, s, out)
    s5.unpersist()
    return res


# --- probe-only IVF-PQ over a persisted shared index (r10) ---------------

# Same index derivation as _IVFPQ_BATCH_ORACLE (SHARED full corpus, no
# leave-one-out), single query vec_id=0, self excluded at SCORING.
_IVFPQ_PROBE_ONLY_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
), seeds AS (
  SELECT vec_id AS sid, embedding AS semb
  FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), q AS (
  SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0
), assign_x AS (
  SELECT c.vec_id, s.sid,
         UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS y
  FROM corpus c CROSS JOIN seeds s
), assign_cs AS (
  SELECT vec_id, sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM assign_x GROUP BY vec_id, sid
), assign_rk AS (
  SELECT vec_id, sid AS cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid) AS rk
  FROM assign_cs
), cells AS (
  SELECT vec_id, cell FROM assign_rk WHERE rk = 1
), res AS (
  SELECT c.vec_id, cl.cell,
         list_transform(range(64), i ->
           CAST(c.embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
           - CAST(s.semb[CAST(i + 1 AS INTEGER)] AS DOUBLE)) AS r
  FROM corpus c
  JOIN cells cl ON cl.vec_id = c.vec_id
  JOIN seeds s ON s.sid = cl.cell
), sub AS (
  SELECT vec_id, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> r[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS sv
  FROM res, generate_series(0, 7) mm(m)
), cbv AS (
  SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 16
), csub AS (
  SELECT vec_id AS c, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> r[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS cv
  FROM cbv, generate_series(0, 7) mm(m)
), dists AS (
  SELECT s.vec_id, s.m, cb.c,
         list_sum(list_transform(range(8),
           i -> (sv[CAST(i + 1 AS INTEGER)] - cv[CAST(i + 1 AS INTEGER)])
              * (sv[CAST(i + 1 AS INTEGER)] - cv[CAST(i + 1 AS INTEGER)])))
           AS d2
  FROM sub s JOIN csub cb ON s.m = cb.m
), codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rk
    FROM dists) WHERE rk = 1
), probe_x AS (
  SELECT s.sid,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS x,
         UNNEST(CAST(q.qemb AS DOUBLE[])) AS y
  FROM seeds s CROSS JOIN q
), probe_cs AS (
  SELECT sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM probe_x GROUP BY sid
), probe AS (
  SELECT sid FROM probe_cs
  ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid
  LIMIT 2
), qres AS (
  SELECT p.sid AS qcell,
         list_transform(range(64), i ->
           CAST(q.qemb[CAST(i + 1 AS INTEGER)] AS DOUBLE)
           - CAST(s.semb[CAST(i + 1 AS INTEGER)] AS DOUBLE)) AS qr
  FROM probe p JOIN seeds s ON s.sid = p.sid CROSS JOIN q
), qsub AS (
  SELECT qcell, CAST(mm.m AS INTEGER) AS m,
         list_transform(range(8),
           i -> qr[CAST(mm.m * 8 + i + 1 AS INTEGER)]) AS sv
  FROM qres, generate_series(0, 7) mm(m)
), lut AS (
  SELECT qs.qcell, qs.m, cb.c,
         list_sum(list_transform(range(8),
           i -> (qs.sv[CAST(i + 1 AS INTEGER)] - cb.cv[CAST(i + 1 AS INTEGER)])
              * (qs.sv[CAST(i + 1 AS INTEGER)] - cb.cv[CAST(i + 1 AS INTEGER)])))
           AS qd
  FROM qsub qs JOIN csub cb ON qs.m = cb.m
)
SELECT co.vec_id, cl.cell, ROUND(SUM(l.qd), 6) AS adc_dist
FROM codes co
JOIN cells cl ON cl.vec_id = co.vec_id
JOIN lut l ON l.qcell = cl.cell AND l.m = co.m AND l.c = co.code
WHERE co.vec_id <> 0
GROUP BY co.vec_id, cl.cell
ORDER BY SUM(l.qd), co.vec_id
LIMIT 10
"""

#: per-process memo of shared persisted IVF-PQ fixture indexes, keyed
#: by (sf_dir, fixture content fingerprint) — the index derivation is
#: fully deterministic, so a directory left by an earlier process is
#: byte-equivalent to a rebuild and safe to reuse, but ONLY if the
#: fixture parquet it was derived from is unchanged (r10 ADVICE: a
#: regenerated fixture at the same path must invalidate the cache,
#: else the registered query probes the wrong corpus).
_IVFPQ_SHARED_IDX: dict = {}


def _fixture_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of one fixture table: md5 over the sorted
    (name, size, mtime_ns) triples of its parquet files. Cheap (stat
    only, no reads) and changes whenever the fixture is regenerated —
    the cache-invalidation key for anything derived from the table."""
    import hashlib
    import os

    root = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    entries = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for f in sorted(files):
                st = os.stat(os.path.join(dirpath, f))
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                entries.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.isfile(root):
        st = os.stat(root)
        entries.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("\n".join(entries).encode()).hexdigest()[:16]


def _shared_ivfpq_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the persisted shared-corpus IVF-PQ index for
    ``sf_dir`` (cell-partitioned ``ivf_pq_index_write`` layout under
    the system tempdir). The build is the one-off cost a deployment
    amortizes; ``sim_ivfpq_probe_only`` measures the RECURRING
    per-query cost over this index. The on-disk cache directory is
    keyed by the fixture's CONTENT fingerprint, not just its path, so
    a regenerated fixture gets a fresh index instead of silently
    probing a stale corpus."""
    import hashlib
    import os
    import tempfile

    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_index_write,
    )

    fp = _fixture_fingerprint(sf_dir, "embeddings")
    key = (os.path.abspath(sf_dir), fp)
    cached = _IVFPQ_SHARED_IDX.get(key)
    if cached:
        return cached
    base = os.path.join(
        tempfile.gettempdir(),
        "cpf_ivfpq_shared",
        hashlib.md5(f"{key[0]}|{fp}".encode()).hexdigest()[:12],
    )
    # seeds/ is written LAST by ivf_pq_index_write — its _SUCCESS marks
    # a complete layout
    if not os.path.exists(os.path.join(base, "seeds", "_SUCCESS")):
        idx = ivf_pq_index(load_table(spark, sf_dir, "embeddings"))
        ivf_pq_index_write(idx, base)
        idx["res"].unpersist()
    _IVFPQ_SHARED_IDX[key] = base
    return base


@register(
    "sim_ivfpq_probe_only",
    oracle=_IVFPQ_PROBE_ONLY_ORACLE,
    # "bench": the RECURRING per-query ANN cost over a persisted index
    # (r9 VERDICT ask #3) — round-over-round deltas should move with
    # this, not with the one-off build that sim_ivfpq_adc_topk times
    tags=("datapipe", "similarity", "bench", "production"),
)
def sim_ivfpq_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only IVF-PQ ANN over a PERSISTED shared-corpus index —
    the deployment's steady-state query path, registered so the bench
    tracks the recurring cost separately from the amortized build
    (``sim_ivfpq_adc_topk`` keeps timing build+probe as the
    reproducible single-plan shape). The index is built once per
    fixture dir (memoized on disk, deterministic md5-min seeds +
    smallest-id residual codebook, so any rebuild is byte-identical)
    and every probe is a static partition-pruned scan of ~n_probe/16
    of the 8-byte-per-row code table (``PartitionFilters`` asserted
    in tests/test_plans.py). The oracle re-derives the whole index +
    probe in one DuckDB statement — identical result with or without
    the persistence, because persistence doesn't change the math."""
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_index_load,
        ivf_pq_probe,
    )

    path = _shared_ivfpq_index_path(spark, sf_dir)
    idx = ivf_pq_index_load(spark, path)
    q_row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    q = [float(x) for x in q_row["embedding"]]
    return ivf_pq_probe(idx, q, k=10, n_probe=2, exclude_id=0)


# --- incremental delta-dedup against a persisted store (r11) --------------

#: per-process memo of shared persisted dedup stores, keyed by
#: (sf_dir, documents fixture fingerprint) — same invalidation rule as
#: the shared IVF-PQ index above.
_DEDUP_STORE_SHARED: dict = {}


def _shared_dedup_store_path(spark: SparkSession, sf_dir: str, cut: int) -> str:
    """Build-once path of the persisted dedup store over the fixture's
    first ``cut`` doc_ids (deterministic md5 hashing throughout, so a
    rebuild is byte-equivalent). The build is the amortized one-off;
    ``dedup_delta_verdicts`` measures the recurring per-delta cost."""
    import hashlib
    import os
    import tempfile

    from commodity_price_forecasting_spark.operators.dedup_store import (
        dedup_store_build,
    )

    fp = _fixture_fingerprint(sf_dir, "documents")
    key = (os.path.abspath(sf_dir), fp, cut)
    cached = _DEDUP_STORE_SHARED.get(key)
    if cached:
        return cached
    base = os.path.join(
        tempfile.gettempdir(),
        "cpf_dedup_store",
        hashlib.md5(f"{key[0]}|{fp}|{cut}".encode()).hexdigest()[:12],
    )
    # meta/ is written LAST by dedup_store_build — its _SUCCESS marks
    # a complete layout
    if not os.path.exists(os.path.join(base, "meta", "_SUCCESS")):
        old = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < cut
        )
        dedup_store_build(old, base)
    _DEDUP_STORE_SHARED[key] = base
    return base


# Full-graph oracle: exact fp holders + MinHash/LSH components over the
# WHOLE corpus (old ∪ delta), verdicts emitted for the delta slice only.
# The incremental operator must agree with this from-scratch decision —
# including chased dup_of through bridged clusters (the store keeps
# every unique doc's signature precisely so transitivity through
# dropped docs survives).
_DEDUP_DELTA_ORACLE = """
WITH RECURSIVE pos AS (
  SELECT doc_id, text,
         UNNEST(range(1, GREATEST(length(text) - 4, 1) + 1)) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 5) AS shingle FROM pos
), mh AS (
  SELECT doc_id, h.i,
         MIN(md5(CAST(h.i AS VARCHAR) || ':' || shingle)) AS mh
  FROM sh, generate_series(0, 11) h(i)
  GROUP BY doc_id, h.i
), bands AS (
  SELECT doc_id, CAST(FLOOR(i / 3) AS INTEGER) AS band,
         md5(string_agg(mh, '|' ORDER BY i)) AS sig
  FROM mh GROUP BY doc_id, CAST(FLOOR(i / 3) AS INTEGER)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), edges AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN mh a ON a.doc_id = c.doc_a
  JOIN mh b ON b.doc_id = c.doc_b AND a.i = b.i
  GROUP BY c.doc_a, c.doc_b
  HAVING SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 12.0 >= 0.5
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM edges
  UNION SELECT doc_b, doc_a FROM edges
), walk(node, label) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node
), labels AS (
  SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
), fps AS (
  SELECT doc_id, md5(text) AS f FROM documents
), holders AS (
  SELECT f, MIN(doc_id) AS holder FROM fps GROUP BY f
)
SELECT d.doc_id,
       CASE WHEN h.holder < d.doc_id THEN 'exact_dup'
            WHEN l.component IS NOT NULL AND l.component < d.doc_id
              THEN 'near_dup'
            ELSE 'kept' END AS status,
       CASE WHEN h.holder < d.doc_id
              OR (l.component IS NOT NULL AND l.component < d.doc_id)
            THEN l.component END AS dup_of
FROM documents d
JOIN fps ON fps.doc_id = d.doc_id
JOIN holders h ON h.f = fps.f
LEFT JOIN labels l ON l.doc_id = d.doc_id
WHERE d.doc_id >= (SELECT (MAX(doc_id) * 4) // 5 FROM documents)
"""


@register(
    "dedup_delta_verdicts",
    oracle=_DEDUP_DELTA_ORACLE,
    # "bench": the RECURRING per-delta dedup cost over a persisted
    # signature store (r10 VERDICT #2) — the dedup sibling of
    # sim_ivfpq_probe_only; the store build is the memoized one-off
    tags=("datapipe", "dedup", "bench", "production"),
)
def dedup_delta_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of the corpus' last 20% against a persisted
    signature store built from the first 80% — the daily-ingest path
    at 100 TB (``operators/dedup_store.py``): fingerprints, shingles
    and band signatures are computed for the DELTA ONLY; the store's
    fingerprint/band/signature frames are each scanned once (broadcast
    delta, zero store shuffles); components run on the delta-incident
    edge graph with store nodes contracted to their canonical. One
    verdict row per delta doc: kept / exact_dup / near_dup with the
    chased final canonical. The oracle recomputes the decision from
    scratch over the FULL corpus — the equality this operator
    guarantees (bridged clusters included, via dup_of chasing)."""
    from commodity_price_forecasting_spark.operators.dedup_store import (
        dedup_delta,
    )

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    cut = (max_id * 4) // 5
    path = _shared_dedup_store_path(spark, sf_dir, cut)
    delta = docs.filter(F.col("doc_id") >= cut)
    res = dedup_delta(spark, path, delta, append=False)
    return res["verdicts"]


# --- PQ refine re-rank over the persisted shared index (r11) --------------

# The probe-only oracle with its final SELECT demoted to an `adc` CTE
# (top-C candidates instead of top-k) + one exact-cosine re-rank over
# the candidates' full-precision vectors.
_IVFPQ_REFINE_ORACLE = (
    _IVFPQ_PROBE_ONLY_ORACLE.replace(
        "SELECT co.vec_id, cl.cell, ROUND(SUM(l.qd), 6) AS adc_dist\nFROM codes co",
        ", adc AS (\nSELECT co.vec_id, SUM(l.qd) AS qd\nFROM codes co",
        1,
    )
    .replace(
        "ORDER BY SUM(l.qd), co.vec_id\nLIMIT 10",
        """ORDER BY SUM(l.qd), co.vec_id
LIMIT 100
), rer AS (
  SELECT a.vec_id,
         UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(q.qemb AS DOUBLE[])) AS y
  FROM adc a JOIN corpus c ON c.vec_id = a.vec_id CROSS JOIN q
)
SELECT vec_id,
       ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cosine
FROM rer
GROUP BY vec_id
ORDER BY SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))) DESC, vec_id
LIMIT 10""",
        1,
    )
)


# The cosine-consistent refine lane (r13): the refine oracle with the
# corpus and query CTEs L2-normalized — the ADC candidate stage ranks
# by cosine (unit vectors), and the exact re-rank is scale-invariant,
# so only the two base CTEs change; everything downstream is the same
# SQL by construction.
_IVFPQ_NORM_REFINE_ORACLE = _IVFPQ_REFINE_ORACLE.replace(
    """WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
), seeds AS (""",
    """WITH corpus0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), corpus AS (
  SELECT vec_id,
         list_transform(e,
           x -> x / sqrt(list_sum(list_transform(e, y -> y * y))))
           AS embedding
  FROM corpus0
), seeds AS (""",
).replace(
    """), q AS (
  SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0
), assign_x AS (""",
    """), q0 AS (
  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0
), q AS (
  SELECT list_transform(e,
           x -> x / sqrt(list_sum(list_transform(e, y -> y * y))))
           AS qemb
  FROM q0
), assign_x AS (""",
)
assert _IVFPQ_NORM_REFINE_ORACLE != _IVFPQ_REFINE_ORACLE  # replaces took


def _shared_ivfpq_norm_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the persisted NORMALIZED shared-corpus
    IVF-PQ index (``normalize=True`` — the measured
    cosine deployment shape, SCALE.md r13). Same memo/fingerprint
    discipline as ``_shared_ivfpq_index_path``; seeds/ is written last
    by ``ivf_pq_index_write`` so its _SUCCESS marks a complete layout
    INCLUDING the idxmeta normalized flag."""
    import hashlib
    import os
    import tempfile

    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_index_write,
    )

    fp = _fixture_fingerprint(sf_dir, "embeddings")
    key = (os.path.abspath(sf_dir), fp, "norm")
    cached = _IVFPQ_SHARED_IDX.get(key)
    if cached:
        return cached
    base = os.path.join(
        tempfile.gettempdir(),
        "cpf_ivfpq_norm_shared",
        hashlib.md5(f"{key[0]}|{fp}".encode()).hexdigest()[:12],
    )
    if not os.path.exists(os.path.join(base, "seeds", "_SUCCESS")):
        idx = ivf_pq_index(
            load_table(spark, sf_dir, "embeddings"), normalize=True
        )
        ivf_pq_index_write(idx, base)
        idx["res"].unpersist()
    _IVFPQ_SHARED_IDX[key] = base
    return base


@register(
    "sim_ivfpq_norm_refine_topk",
    oracle=_IVFPQ_NORM_REFINE_ORACLE,
    tags=("datapipe", "similarity"),
)
def sim_ivfpq_norm_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured-best COSINE retrieval lane (r13, SCALE.md r13
    table): ADC probe over the persisted NORMALIZED index (unit
    vectors ⇒ the 8-byte candidate stage already ranks by cosine) +
    exact re-rank of the top-100 — reaches the IVF-exact ceiling on
    the low-rank geometry (recall@10 0.99 at n_probe=4 vs 0.85 for
    refine on the raw+OPQ index, the r12 number whose gap this lane
    closes). The refine fetch scores RAW full-precision vectors;
    cosine is scale-invariant, so result == the normalized oracle's
    by construction."""
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_index_load,
        ivf_pq_refine_topk,
    )

    path = _shared_ivfpq_norm_index_path(spark, sf_dir)
    idx = ivf_pq_index_load(spark, path)
    emb = load_table(spark, sf_dir, "embeddings")
    q_row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    q = [float(x) for x in q_row["embedding"]]
    return ivf_pq_refine_topk(
        idx, emb, q, k=10, refine=100, n_probe=2, exclude_id=0
    )


@register(
    "sim_ivfpq_refine_topk",
    oracle=_IVFPQ_REFINE_ORACLE,
    # "bench": the refined recurring cost — probe (8-byte pruned scan)
    # + exact re-rank of C=100 candidates (r10 VERDICT #3)
    tags=("datapipe", "similarity", "bench", "production"),
)
def sim_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe + exact re-rank (``ivf_pq_refine_topk``,
    operators/similarity.py): the ADC top-100 from the PERSISTED
    shared index are re-scored with exact cosines against their
    full-precision vectors — the FAISS refine stage that lifts PQ
    recall toward the IVF-exact ceiling at ~C/n of brute cost. Same
    memoized index as ``sim_ivfpq_probe_only``; the only added cost
    is the 100-row broadcast join + exact cosine, so the lane prices
    exactly what refinement costs on top of the probe. Oracle:
    the probe-only derivation with its top-k demoted to a top-C CTE
    and one exact-cosine re-rank appended."""
    from commodity_price_forecasting_spark.operators.similarity import (
        ivf_pq_index_load,
        ivf_pq_refine_topk,
    )

    path = _shared_ivfpq_index_path(spark, sf_dir)
    idx = ivf_pq_index_load(spark, path)
    emb = load_table(spark, sf_dir, "embeddings")
    q_row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    q = [float(x) for x in q_row["embedding"]]
    return ivf_pq_refine_topk(
        idx, emb, q, k=10, refine=100, n_probe=2, exclude_id=0
    )


# --- incremental SEMANTIC dedup against the persisted cell store (r11) -----

_SEM_STORE_SHARED: dict = {}


def _shared_semantic_store_path(spark: SparkSession, sf_dir: str, cut: int) -> str:
    """Build-once path of the persisted semantic store over the
    fixture's first ``cut`` vec_ids (frozen md5-ordered seeds,
    deterministic throughout). The build is the amortized one-off;
    ``semantic_dedup_delta`` prices the recurring per-delta cost."""
    import hashlib
    import os
    import tempfile

    from commodity_price_forecasting_spark.operators.semantic_store import (
        semantic_store_build,
    )

    fp = _fixture_fingerprint(sf_dir, "embeddings")
    key = (os.path.abspath(sf_dir), fp, cut)
    cached = _SEM_STORE_SHARED.get(key)
    if cached:
        return cached
    base = os.path.join(
        tempfile.gettempdir(),
        "cpf_semantic_store",
        hashlib.md5(f"{key[0]}|{fp}|{cut}".encode()).hexdigest()[:12],
    )
    # meta/ is written LAST by semantic_store_build — its _SUCCESS
    # marks a complete layout
    if not os.path.exists(os.path.join(base, "meta", "_SUCCESS")):
        old = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < cut
        )
        semantic_store_build(old, base, k=16, threshold=0.3)
    _SEM_STORE_SHARED[key] = base
    return base


# Whole lifecycle re-derived in ONE statement: frozen seeds from the
# first 80% (md5 order), assignment of all vectors under those seeds,
# store drops over the old slice (domination under (cent_cos, id)),
# kept survivors, then the delta verdicts — dominated by ANY kept
# store cell-mate (the store precedes every delta vector) or by a
# PRECEDING delta cell-mate; dup_of = min dominator id.
_SEM_DELTA_ORACLE = """
WITH cut AS (
  SELECT (MAX(vec_id) * 4) // 5 AS c FROM embeddings
), old AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < (SELECT c FROM cut)
), seeds AS (
  SELECT vec_id AS sid, embedding AS semb
  FROM old ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), ax AS (
  SELECT e.vec_id, s.sid,
         UNNEST(CAST(e.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS y
  FROM embeddings e CROSS JOIN seeds s
), acs AS (
  SELECT vec_id, sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM ax GROUP BY vec_id, sid
), ark AS (
  SELECT vec_id, sid AS cell,
         ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) AS cent_cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid) AS rk
  FROM acs
), cells AS (
  SELECT vec_id, cell, cent_cos FROM ark WHERE rk = 1
), ocells AS (
  SELECT * FROM cells WHERE vec_id < (SELECT c FROM cut)
), dcells AS (
  SELECT * FROM cells WHERE vec_id >= (SELECT c FROM cut)
), opx AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         UNNEST(CAST(ea.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(eb.embedding AS DOUBLE[])) AS y
  FROM ocells a
  JOIN ocells b ON a.cell = b.cell
   AND (a.cent_cos < b.cent_cos
        OR (a.cent_cos = b.cent_cos AND a.vec_id < b.vec_id))
  JOIN old ea ON ea.vec_id = a.vec_id
  JOIN old eb ON eb.vec_id = b.vec_id
), opcs AS (
  SELECT ia, ib,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cos
  FROM opx GROUP BY ia, ib
), odrop AS (
  SELECT DISTINCT ib AS vec_id FROM opcs WHERE cos >= 0.3
), kept AS (
  SELECT o.* FROM ocells o WHERE o.vec_id NOT IN (SELECT vec_id FROM odrop)
), sdx AS (
  SELECT k.vec_id AS svid, d.vec_id AS dvid,
         UNNEST(CAST(ek.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(ed.embedding AS DOUBLE[])) AS y
  FROM kept k
  JOIN dcells d ON k.cell = d.cell
  JOIN old ek ON ek.vec_id = k.vec_id
  JOIN embeddings ed ON ed.vec_id = d.vec_id
), sdc AS (
  SELECT svid, dvid,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cos
  FROM sdx GROUP BY svid, dvid
), sdom AS (
  SELECT dvid, MIN(svid) AS skeeper FROM sdc WHERE cos >= 0.3 GROUP BY dvid
), ddx AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         UNNEST(CAST(ea.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(eb.embedding AS DOUBLE[])) AS y
  FROM dcells a
  JOIN dcells b ON a.cell = b.cell
   AND (a.cent_cos < b.cent_cos
        OR (a.cent_cos = b.cent_cos AND a.vec_id < b.vec_id))
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
), ddc AS (
  SELECT ia, ib,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cos
  FROM ddx GROUP BY ia, ib
), ddom AS (
  SELECT ib AS dvid, MIN(ia) AS dkeeper FROM ddc WHERE cos >= 0.3 GROUP BY ib
)
SELECT d.vec_id,
       CASE WHEN s.skeeper IS NOT NULL OR dd.dkeeper IS NOT NULL
            THEN 'semantic_dup' ELSE 'kept' END AS status,
       CASE WHEN s.skeeper IS NULL THEN dd.dkeeper
            WHEN dd.dkeeper IS NULL THEN s.skeeper
            ELSE LEAST(s.skeeper, dd.dkeeper) END AS dup_of,
       d.cell, d.cent_cos
FROM dcells d
LEFT JOIN sdom s ON s.dvid = d.vec_id
LEFT JOIN ddom dd ON dd.dvid = d.vec_id
"""


@register(
    "semantic_dedup_delta",
    oracle=_SEM_DELTA_ORACLE,
    # "bench": the recurring per-delta semantic-dedup cost over the
    # memoized persisted store — the third tier of the incremental
    # dedup lifecycle (exact/MinHash r11, ANN append r10)
    tags=("datapipe", "similarity", "dedup", "bench", "production"),
)
def semantic_dedup_delta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup of the embedding corpus' last 20%
    against a persisted cell store built from the first 80%
    (``operators/semantic_store.py``): the delta is assigned through
    the FROZEN md5-ordered seeds, compared by exact cosine against
    stored survivors in its cell (store scanned once, delta
    broadcast — candidates bounded by touched-cell size, never
    corpus×delta) and against preceding delta cell-mates. One verdict
    row per delta vector: kept / semantic_dup with dup_of = the min
    dominator. Inversions (a delta vector that would dominate a
    stored survivor on a full re-run) are detected by the operator
    and returned separately as the rebuild trigger; this query pins
    the verdict values against a one-statement DuckDB re-derivation
    of the whole lifecycle."""
    from commodity_price_forecasting_spark.operators.semantic_store import (
        semantic_dedup_delta,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    cut = (max_id * 4) // 5
    path = _shared_semantic_store_path(spark, sf_dir, cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    res = semantic_dedup_delta(spark, path, delta, append=False)
    return res["verdicts"]


# Same CTE spine as _SEM_DELTA_ORACLE up to `kept`, then GLOBAL-order
# domination of delta rows by (kept survivors ∪ delta) under
# (cent_cos ASC, id ASC) — the frozen-seed full-re-run semantics of
# the operating-rule ingest lane.
_SEM_RERUN_ORACLE = """
WITH cut AS (
  SELECT (MAX(vec_id) * 4) // 5 AS c FROM embeddings
), old AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < (SELECT c FROM cut)
), seeds AS (
  SELECT vec_id AS sid, embedding AS semb
  FROM old ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), ax AS (
  SELECT e.vec_id, s.sid,
         UNNEST(CAST(e.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(s.semb AS DOUBLE[])) AS y
  FROM embeddings e CROSS JOIN seeds s
), acs AS (
  SELECT vec_id, sid, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
  FROM ax GROUP BY vec_id, sid
), ark AS (
  SELECT vec_id, sid AS cell,
         ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) AS cent_cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) DESC, sid) AS rk
  FROM acs
), cells AS (
  SELECT vec_id, cell, cent_cos FROM ark WHERE rk = 1
), ocells AS (
  SELECT * FROM cells WHERE vec_id < (SELECT c FROM cut)
), dcells AS (
  SELECT * FROM cells WHERE vec_id >= (SELECT c FROM cut)
), opx AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         UNNEST(CAST(ea.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(eb.embedding AS DOUBLE[])) AS y
  FROM ocells a
  JOIN ocells b ON a.cell = b.cell
   AND (a.cent_cos < b.cent_cos
        OR (a.cent_cos = b.cent_cos AND a.vec_id < b.vec_id))
  JOIN old ea ON ea.vec_id = a.vec_id
  JOIN old eb ON eb.vec_id = b.vec_id
), opcs AS (
  SELECT ia, ib,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cos
  FROM opx GROUP BY ia, ib
), odrop AS (
  SELECT DISTINCT ib AS vec_id FROM opcs WHERE cos >= 0.3
), kept AS (
  SELECT o.* FROM ocells o WHERE o.vec_id NOT IN (SELECT vec_id FROM odrop)
), refc AS (
  SELECT * FROM kept UNION ALL SELECT * FROM dcells
), rpx AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         UNNEST(CAST(ea.embedding AS DOUBLE[])) AS x,
         UNNEST(CAST(eb.embedding AS DOUBLE[])) AS y
  FROM refc a
  JOIN dcells b ON a.cell = b.cell
   AND (a.cent_cos < b.cent_cos
        OR (a.cent_cos = b.cent_cos AND a.vec_id < b.vec_id))
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
), rpcs AS (
  SELECT ia, ib,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cos
  FROM rpx GROUP BY ia, ib
), rdom AS (
  SELECT ib AS dvid, MIN(ia) AS keeper FROM rpcs WHERE cos >= 0.3 GROUP BY ib
)
SELECT d.vec_id,
       CASE WHEN r.keeper IS NOT NULL THEN 'semantic_dup' ELSE 'kept' END
         AS status,
       r.keeper AS dup_of,
       d.cell, d.cent_cos
FROM dcells d
LEFT JOIN rdom r ON r.dvid = d.vec_id
"""


@register(
    "semantic_rerun_ingest",
    oracle=_SEM_RERUN_ORACLE,
    tags=("datapipe", "similarity", "dedup", "production"),
)
def semantic_rerun_ingest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operating-rule semantic-ingest lane (SCALE.md r11): a
    FROZEN-SEED re-run over store survivors ∪ delta — survivors'
    cells/centroids are read from the persisted store (never
    re-assigned), the frozen seeds assign only the delta, and delta
    verdicts follow the base operator's global (cent_cos, id)
    domination order. This is the measured-cheaper store-backed lane
    below the pair-bound regime; `semantic_dedup_delta` is its
    sibling for pair-bound corpora and per-delta provenance. Oracle:
    the delta oracle's spine with global-order domination over
    kept ∪ delta."""
    from commodity_price_forecasting_spark.operators.semantic_store import (
        semantic_rerun_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    cut = (max_id * 4) // 5
    path = _shared_semantic_store_path(spark, sf_dir, cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    res = semantic_rerun_ingest(spark, path, delta, append=False)
    return res["verdicts"]


# --- curated-corpus materialization (r11) ----------------------------------


def curation_corpus_write(
    spark: SparkSession, sf_dir: str, out_path: str
) -> dict:
    """Materialize the cleaned corpus — the actual DELIVERABLE of a
    curation run (r10 VERDICT #4: every pipeline query returned stage
    counts; nothing wrote the corpus). Writes:

    - ``<out>/corpus/`` — one row per surviving doc
      ``(doc_id, clean_text, n_tokens)``, hive-partitioned by
      ``split`` (train/val/test), written under
      ``partitionOverwriteMode=dynamic`` so a RERUN surgically
      replaces exactly the partitions it produces — the
      idempotent-backfill contract (second run replaces, never
      duplicates; pinned in tests/test_plans.py).
    - ``<out>/manifest/`` — the per-stage survivor counts, equal BY
      CONSTRUCTION to ``curation_pipeline_clean``'s oracled rows
      (both consume ``_curation_clean_flow``), so the written corpus
      is auditable against the registered query.

    Returns ``{"n_written", "manifest": [...]}``."""
    import os

    s, cleaned, s5, s6, split = _curation_clean_flow(spark, sf_dir)
    corpus = (
        split.join(cleaned.select("doc_id", "clean_text", "n_tokens"), "doc_id")
        .join(s6, "doc_id")  # semantic survivors only
        .select("doc_id", "clean_text", "n_tokens", "split")
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic")
        corpus.write.partitionBy("split").mode("overwrite").parquet(
            os.path.join(out_path, "corpus")
        )
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)

    split_rows = (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.when(F.col("split") == "split_train", 7)
            .when(F.col("split") == "split_val", 8)
            .otherwise(9)
            .cast("int")
            .alias("stage_no"),
            F.col("split").alias("stage"),
            "n_docs",
        )
    )
    manifest = (
        _stage_row(0, "raw", s["docs"])
        .unionAll(_stage_row(1, "pii_redact", s["red"]))
        .unionAll(_stage_row(2, "quality_gate", s["s2"]))
        .unionAll(_stage_row(3, "exact_dedup", s["s3"]))
        .unionAll(_stage_row(4, "star_canonical", s["s4"]))
        .unionAll(_stage_row(5, "substring_clean", s5))
        .unionAll(_stage_row(6, "semantic_dedup", s6))
        .unionAll(split_rows)
    )
    manifest_df = _finish_stage_counts(spark, s, manifest)
    s5.unpersist()
    manifest_df.write.mode("overwrite").parquet(
        os.path.join(out_path, "manifest")
    )
    n_written = spark.read.parquet(os.path.join(out_path, "corpus")).count()
    return {
        "n_written": int(n_written),
        "manifest": [tuple(r) for r in manifest_df.collect()],
    }


@register(
    "curation_corpus_write",
    # rows-only by declared design: the written corpus' stage counts
    # are the same rows curation_pipeline_clean oracles; this query's
    # value is the SIDE EFFECT (the partitioned corpus + manifest) and
    # its output re-reads the manifest it wrote
    oracle=None,
    tags=("datapipe", "pipeline"),
)
def curation_corpus_write_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registered wrapper of ``curation_corpus_write``: materializes
    the cleaned corpus + manifest under a fixture-fingerprinted temp
    dir (rerun-idempotent: dynamic partition overwrite replaces, never
    duplicates) and returns the manifest read back FROM DISK — so a
    green row certifies the write path end-to-end, not a plan that
    never hit storage."""
    import hashlib
    import os
    import tempfile

    fp = _fixture_fingerprint(sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(),
        "cpf_curated_corpus",
        hashlib.md5(f"{os.path.abspath(sf_dir)}|{fp}".encode()).hexdigest()[:12],
    )
    curation_corpus_write(spark, sf_dir, out)
    return spark.read.parquet(os.path.join(out, "manifest"))
