"""Text-analysis operators for training-data pipelines
(beyond-reference extension, BASELINE.json north star): token
statistics, quality scoring, n-gram language identification, and
document fingerprinting.

All tokenization is whitespace splitting (the fixture corpus is
space-separated); every step is built-in-function-only (explode /
split / groupBy) so the hot path stays JVM-side — no Python UDFs.
Every operator reads the documents table's ``doc_id``/``text``
(and ``lang``) columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: tiny demo stopword list used by the quality score.
STOPWORDS = ("the", "a", "of", "and", "in")


def tokens(docs: DataFrame) -> DataFrame:
    """``(doc_id, pos, token)`` — whitespace tokenization with
    position (pos is 0-based)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", F.col("text").alias("_text"))
        .repartition(par, "doc_id")  # parallelize the explode (see dedup.char_shingles)
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("_text")), " +")).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
    )


#: GPT-2-style pretokenizer, restricted to the Java∩RE2 regex subset
#: (the pii_redact precedent — RE2 lacks the lookahead the original
#: pattern uses): a token is an optionally-space-prefixed letter run,
#: digit run, or punctuation run. This is the PRE-tokenization every
#: BPE vocabulary merges within — BPE only splits FURTHER inside a
#: pretoken, so this count LOWER-bounds the real BPE token count
#: (a long rare word is 1 pretoken but several BPE tokens) and tracks
#: it far better than whitespace splitting
#: (which fuses punctuation into words and misses digit boundaries).
BPE_PRETOKEN_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n]+"


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token count as one JVM regexp pass (no explode, no
    Python) — the training-data budgeting counter: corpus token
    budgets are quoted in BPE tokens, not whitespace words."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 0))


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token statistics: count, distinct count, type-token
    ratio, mean token length — one groupBy over the exploded tokens."""
    t = tokens(docs)
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.round(F.countDistinct("token") / F.count(F.lit(1)), 6).alias("ttr"),
        F.round(F.avg(F.length("token")), 6).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document-quality score in [0,1]: blend of length
    adequacy, lexical diversity and stopword balance — the standard
    pre-training corpus filter shape (length/punct/stopword ratios).
    Pure column arithmetic; deterministic."""
    t = tokens(docs)
    stop = F.col("token").isin(*STOPWORDS).cast("int")
    per_doc = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.sum(stop).alias("n_stop"),
    )
    length_score = F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
    diversity = F.col("n_distinct") / F.col("n_tokens")
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    stop_score = 1 - F.abs(stop_ratio - F.lit(0.10)) / F.lit(0.9)
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(
            0.4 * length_score + 0.3 * diversity + 0.3 * stop_score, 6
        ).alias("quality"),
    )


def quality_score_rowwise(
    docs: DataFrame,
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """``quality_score`` as a ZERO-SHUFFLE projection: the same
    length/diversity/stopword blend computed per row with array
    functions (split → filter → array_distinct/size) instead of
    explode + groupBy. Bit-identical output to ``quality_score``
    (same expression tree over the same counts — equality pinned in
    tests/test_streaming_curation.py), with two structural wins:

    - at 100 TB the quality gate becomes a map-only pass — no token
      explode (which multiplies the shuffle by avg tokens/doc) and no
      aggregation;
    - it is STREAMING-SAFE: stateless, so it can precede stateful
      stages (dropDuplicatesWithinWatermark) in a structured-streaming
      pipeline, where a groupBy-based score would be an illegal
      chained aggregation.

    One divergence, shared deliberately: a doc with ZERO tokens gets
    a NULL quality here (division by zero) vs NO ROW from the groupBy
    form — both fail a ``quality >= t`` gate, so the gated pipelines
    agree."""
    # Hoist the tokenization into ONE aliased column in a lower
    # projection (r16, guide §1.2 per-task work): array higher-order
    # functions are CodegenFallback (no codegen, no common-
    # subexpression elimination), so the old single-projection form
    # re-evaluated trim+split+filter SIX times per row — once per
    # reference in the blended score. CollapseProject keeps the two
    # projections separate because the alias is non-cheap and
    # multiply-referenced; the score expression over the hoisted
    # column is unchanged, so every quality value is bit-identical.
    toks_once = F.filter(
        F.split(F.trim(F.col(text_col)), " +"), lambda x: x != ""
    )
    staged = docs.select(
        "doc_id",
        toks_once.alias("_toks"),
        *[F.col(c) for c in keep],
    )
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    length_score = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    # try_divide: a zero-token doc yields NULL quality under ANSI mode
    # (the groupBy form simply emits no row for it — see docstring)
    diversity = F.try_divide(n_distinct, n_tokens)
    stop_ratio = F.try_divide(n_stop, n_tokens)
    stop_score = 1 - F.abs(stop_ratio - F.lit(0.10)) / F.lit(0.9)
    return staged.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),  # schema parity with the groupBy form
        F.round(
            0.4 * length_score + 0.3 * diversity + 0.3 * stop_score, 6
        ).alias("quality"),
        *[F.col(c) for c in keep],
    )


def langid_predict(docs: DataFrame) -> DataFrame:
    """N-gram-free vocabulary-vote language ID (deterministic integer
    arithmetic end to end, so the argmaxes are engine-portable):

    1. token→lang map: each token is assigned the language where it
       occurs most often (ties → lexicographically smallest lang);
    2. each doc's tokens vote; the doc's prediction is the language
       with most votes (ties → smallest lang).

    Output ``(doc_id, lang, predicted_lang, correct)``. Self-trained
    on the corpus — the operator shape (profile build + broadcast
    join + vote) is what matters for scale, not held-out accuracy.
    """
    t = tokens(docs).select("doc_id", "token")
    labeled = t.join(docs.select("doc_id", "lang"), "doc_id")
    tl_counts = labeled.groupBy("token", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("token").orderBy(F.desc("cnt"), F.asc("lang"))
    token_lang = (
        tl_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("token", F.col("lang").alias("token_lang"))
    )
    votes = (
        t.join(F.broadcast(token_lang), "token")
        .groupBy("doc_id", "token_lang")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("doc_id").orderBy(F.desc("votes"), F.asc("token_lang"))
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token_lang").alias("predicted_lang"))
    )
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "predicted_lang",
            (F.col("lang") == F.col("predicted_lang")).cast("int").alias("correct"),
        )
    )


def word_ngrams(
    docs: DataFrame,
    n: int = 4,
    keep_cols: tuple = (),
) -> DataFrame:
    """``(doc_id, *keep_cols, gram)`` — word n-grams by array indexing
    over the split token array (no window, no shuffle: the explode
    happens inside the scan partition). ``keep_cols`` are passed
    through unchanged (e.g. ``("source",)`` for corpus-vs-benchmark
    splits) so callers never need a join back to re-attach them."""
    arr = F.split(F.trim(F.col("text")), " +")
    par = docs.sparkSession.sparkContext.defaultParallelism
    keep = list(keep_cols)
    base = (
        docs.select("doc_id", *keep, arr.alias("l"))
        .filter(F.size("l") >= n)
        .repartition(par, "doc_id")
    )
    i = F.explode(F.sequence(F.lit(1), F.size("l") - (n - 1))).alias("i")
    gram = F.concat_ws(" ", *[F.element_at(F.col("l"), F.col("i") + k) for k in range(n)])
    return base.select("doc_id", *keep, "l", i).select(
        "doc_id", *keep, gram.alias("gram")
    )


def fingerprint(docs: DataFrame, n: int = 4) -> DataFrame:
    """Document fingerprint: minimum md5 over word n-grams (min-hash
    of the rolling n-gram set — a 1-hash winnowing analogue), plus the
    gram count. Equal fingerprints ⇒ likely near-duplicates."""
    g = word_ngrams(docs, n)
    return g.groupBy("doc_id").agg(
        F.min(F.md5(F.col("gram").cast("binary"))).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_grams"),
    )


def tf_idf(
    docs: DataFrame,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Exact TF-IDF in pure DataFrame ops — ``(doc_id, token, tf,
    df, idf, tf_idf)``. Unlike MLlib's HashingTF (hash-bucketed,
    collision-lossy), this keeps real tokens so the output is
    SQL-oracle-checkable and directly usable for keyword extraction.

    Plan shape: tokenize → explode (one shuffle on (doc, token) for
    TF) → token-level DF aggregate joined back (broadcast when the
    vocabulary is small, shuffle otherwise — Catalyst/AQE decide).
    idf = ln((N+1)/(df+1)) + 1 (smoothed, sklearn convention)."""
    # Tokenizer class [^\w \t\n]: Java \w is ASCII [a-zA-Z0-9_] in
    # default mode (java.util.regex.Pattern spec), so this is exactly
    # the DuckDB oracles' [^a-zA-Z0-9_ \t\n] — but the \w fast path
    # benched 2.2x faster end-to-end on BM25 than the expanded class.
    # The same pattern is used at every Spark tokenize site.
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.regexp_replace(F.col("text"), r"[^\w \t\n]", " ")), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    n_docs = docs.count()
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_doc_freq)
    )
    idf = F.log((F.lit(float(n_docs)) + 1) / (F.col("df") + 1)) + 1
    return (
        tf.join(df_tbl, "token")
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(idf, 6).alias("idf"),
            F.round(F.col("tf") * idf, 6).alias("tf_idf"),
        )
    )


#: PII patterns, ordered so earlier redactions cannot create or
#: destroy later matches: emails carry dots+digits (phone class has
#: no dots), SSN-shaped ids would otherwise match the phone class,
#: IPv4 dots break phone runs. Every pattern is shared-subset regex
#: (character classes + bounded repetition, no lookaround or
#: backreferences) so Java (Spark) and RE2 (DuckDB) agree exactly.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("id", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("ip", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
)

#: checksum-gated PII classes (r8 VERDICT ask #6). A 16-digit run is
#: only a credit card if it passes the Luhn mod-10 check, and an
#: IBAN-shaped token is only an account if its mod-97 remainder is 1
#: (ISO 13616 / ECBS, public) — gating on the checksum redacts real
#: account numbers while leaving order ids / random digit runs for
#: the (coarser) phone class. Same Java∩RE2 shared-subset regex
#: discipline as PII_PATTERNS. These redact BETWEEN email and the
#: digit-class patterns: earlier placeholders carry no digits, and a
#: checksum-valid candidate must be consumed before the phone class
#: can eat its digit run.
CC_PATTERN = r"\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}\b"
IBAN_PATTERN = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"


def luhn_valid(x: Column) -> Column:
    """Luhn mod-10 validity of a credit-card candidate (separators
    stripped) as a PURE column expression: fold over digit positions
    from the right, doubling every second digit and casting out
    nines — whole-stage codegen, reproducible term-by-term in ANSI
    SQL (the DuckDB oracle runs the identical fold)."""
    digs = F.regexp_replace(x, F.lit("[ -]"), F.lit(""))
    n = F.length(digs)
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 0,
            F.when(
                digs.substr(n - i + 1, F.lit(1)).cast("int") * 2 > 9,
                digs.substr(n - i + 1, F.lit(1)).cast("int") * 2 - 9,
            ).otherwise(digs.substr(n - i + 1, F.lit(1)).cast("int") * 2),
        ).otherwise(digs.substr(n - i + 1, F.lit(1)).cast("int")),
    )
    return total % 10 == 0


def iban_valid(x: Column) -> Column:
    """ISO 13616 mod-97 validity of an IBAN candidate as a pure
    column expression: rotate the first four chars to the end, map
    A–Z to 10–35, and fold the resulting digit stream mod 97 (the
    streaming form of the big-integer remainder — acc stays < 9 700,
    no overflow). Valid iff the remainder is 1."""
    r = F.concat(x.substr(F.lit(5), F.length(x)), x.substr(F.lit(1), F.lit(4)))
    codes = F.transform(
        F.sequence(F.lit(1), F.length(r)),
        lambda i: F.ascii(r.substr(i, F.lit(1))).cast("long"),
    )
    m = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, a: F.when(
            a <= 57, (acc * 10 + (a - 48)) % 97
        ).otherwise((acc * 100 + (a - 55)) % 97),
    )
    return m == 1


def pii_redact(
    docs: DataFrame,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """PII scrubbing — the compliance stage every training-data
    pipeline runs before anything else sees the text: emails,
    SSN-shaped ids, IPv4 addresses and phone-shaped digit runs are
    replaced with typed placeholders, and the per-doc match counts
    (taken BEFORE redaction) ride along for audit lanes. One chained
    ``regexp_replace`` projection — whole-stage codegen, no shuffle,
    no Python; at 100 TB this is a map-only pass.

    Pattern order is load-bearing (see ``PII_PATTERNS``): an
    SSN-shaped id also matches the phone class, so ids redact first;
    placeholders contain no digits, so later patterns cannot match
    inside earlier redactions.

    r9: two CHECKSUM-GATED classes join the chain between email and
    the digit classes — credit cards (Luhn mod-10) and IBANs (mod-97)
    redact only when the checksum passes, so real account numbers go,
    random digit runs stay (and fall through to the coarse phone
    class). Gated redaction = ``regexp_extract_all`` → ``filter`` by
    the checksum fold → ``aggregate`` literal ``replace`` of each
    distinct valid candidate — still one zero-shuffle codegen
    projection, no Python. Caveat (documented, shared by the oracle):
    the gated replace is LITERAL, so a valid candidate string that
    also occurs as a substring of a longer digit run is replaced
    there too — the regex boundary applies to candidate EXTRACTION,
    not re-location. All counts are raw-text exposure counts,
    independent per class (a valid card also counts as n_cc and
    n_phone exposure).

    Returns ``(doc_id, redacted, n_email, n_id, n_ip, n_phone, n_cc,
    n_cc_valid, n_iban, n_iban_valid)``; ``keep`` names extra input
    columns to pass through unchanged (still one projection — the
    streaming curation lane threads its event-time column this way)."""
    raw = F.col("text")
    counts = [
        F.regexp_count(raw, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _repl in PII_PATTERNS
    ]
    cc_cands = F.regexp_extract_all(raw, F.lit(CC_PATTERN), F.lit(0))
    ib_cands = F.regexp_extract_all(raw, F.lit(IBAN_PATTERN), F.lit(0))
    cc_ok = F.filter(cc_cands, luhn_valid)
    ib_ok = F.filter(ib_cands, iban_valid)
    counts += [
        F.size(cc_cands).alias("n_cc"),
        F.size(cc_ok).alias("n_cc_valid"),
        F.size(ib_cands).alias("n_iban"),
        F.size(ib_ok).alias("n_iban_valid"),
    ]
    email_name, email_pat, email_repl = PII_PATTERNS[0]
    assert email_name == "email"
    red = F.regexp_replace(raw, email_pat, email_repl)
    red = F.aggregate(
        F.array_distinct(cc_ok),
        red,
        lambda acc, s: F.replace(acc, s, F.lit("<CC>")),
    )
    red = F.aggregate(
        F.array_distinct(ib_ok),
        red,
        lambda acc, s: F.replace(acc, s, F.lit("<IBAN>")),
    )
    for _name, pat, repl in PII_PATTERNS[1:]:
        red = F.regexp_replace(red, pat, repl)
    return docs.select(
        "doc_id", red.alias("redacted"), *counts, *[F.col(c) for c in keep]
    )
