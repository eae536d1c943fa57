"""Streaming corpus curation (r10 VERDICT ask #7): the batch
curation pipeline's compliance + quality + exact-dedup prefix as a
structured-streaming ingest that appends into the persisted curated
store — a growing corpus curates its DELTA as it arrives instead of
re-running batch curation over everything ever ingested.

Composition of proven pieces, per the ask:

- ``pii_redact`` (operators/textops — zero-shuffle codegen
  projection, stream-safe as-is);
- ``quality_score_rowwise`` (the r11 zero-shuffle twin of
  ``quality_score``, built BECAUSE a groupBy score cannot precede a
  stateful dedup in one streaming pipeline);
- ``dropDuplicatesWithinWatermark`` on the content fingerprint —
  bounded-state exact dedup, the same device ``st_dedup_events``
  uses on events;
- ``foreachBatch`` append into a persisted fingerprint store +
  curated corpus — the micro-batch face of
  ``operators/dedup_store.dedup_delta``'s store-scan/delta-broadcast
  shape (each batch IS a delta);
- optionally (``near_dup_store=``, r11 VERDICT ask #3) the REAL
  near-dup tier per micro-batch: MinHash verdicts for the exact-tier
  survivors against the persisted band store (``dedup_delta`` with
  ``append=False``), near-dups dropped from the corpus, verdicts in a
  per-batch audit ledger written BEFORE the store append
  (ledger-first, r12 ADVICE #1), and the append itself landed by the
  row-idempotent ``dedup_store_append`` so crash replays converge
  instead of tripping the id-monotonicity check. The semantic tier
  streams separately (``streaming/semantic_stream`` — it rides an
  embedding feed, not the document feed).

Determinism contract (mirrors dedup_store's id monotonicity): the
synthetic arrival time is monotone in ``doc_id`` and each micro-batch
is deduped to its min-id holder per fingerprint before the store
anti-join, so with in-order replay the surviving representative per
content equals the batch pipeline's min-id pick. Content-level
equality (the fingerprint SET and per-fingerprint text/quality) holds
REGARDLESS of arrival order — which is why the curated split is
CONTENT-ADDRESSED (hash of the fingerprint, not the doc_id): the same
document lands in the same split across reruns, re-ingests under new
ids, and any dedup tie-break. Stream == batch is pinned in
tests/test_streaming_curation.py.

Delivery semantics: ``foreachBatch`` is at-least-once, and the batch
append is made IDEMPOTENT rather than merely ordered (r11 ADVICE #3
— the old store-first ordering could permanently lose a batch's
corpus rows: on redelivery the fps were already stored, so the
anti-join dropped the docs forever). Each batch writes to
batch-addressed hive partitions (``ingest_batch=<run>-<id>``) in
OVERWRITE mode, the store anti-join excludes this batch's own
(possibly crashed, partial) partition, and a commit marker keyed by
(checkpoint identity, batch id) — Spark's own replay-determinism
unit — lands only after BOTH writes. A crash anywhere before the
marker ⇒ redelivery overwrites both partitions with identical
content; after ⇒ the batch is skipped. True exactly-once across
CONCURRENT writers still needs a transactional table format
(Delta/Iceberg); this covers the single-writer crash/replay channel,
which is the one foreachBatch actually has.

Scale shape: the stateless stages are map-only; watermark-dedup state
is bounded by (watermark × ingest rate); the per-batch store
anti-join scans the store once and broadcasts the batch (delta ≪
store, the dedup_store caller contract).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.operators.textops import (
    pii_redact,
    quality_score_rowwise,
)

#: 2024-01-01T00:00:00 UTC — base of the synthetic per-doc arrival time.
DOC_TS_BASE = 1704067200

#: the batch pipeline's quality gate (plans/queries_datapipe
#: _curation_full_stages), shared so stream == batch by construction.
QUALITY_FLOOR = 0.7


def with_arrival_ts(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic event time, monotone in doc_id (one
    doc per second from DOC_TS_BASE) — the documents fixture has no
    timestamp; a real ingest would carry its own. Monotonicity is
    what makes first-arrival == min-id (module contract above)."""
    return docs.withColumn(
        "ts", F.timestamp_seconds(F.lit(DOC_TS_BASE) + F.col("doc_id"))
    )


def read_documents_stream(
    spark: SparkSession, sf_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """File-source stream over the documents parquet (the local
    stand-in for a document ingest queue), schema from a batch footer
    read, arrival ts synthesized as in the batch twin. ``glob``
    widens the feed beyond the fixture file name — a sustained
    multi-drain probe drops ``docs-<n>.parquet`` files into a feed
    directory and passes ``"*.parquet"``."""
    schema = (
        spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )
    return with_arrival_ts(raw)


def curate_docs(df: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Batch/stream-agnostic curation prefix: PII redaction → row-wise
    quality gate (>= QUALITY_FLOOR) → content fingerprint → exact
    dedup → content-addressed 80/10/10 split.

    On a stream the dedup is ``dropDuplicatesWithinWatermark`` on the
    fingerprint (bounded state; keeps the first arrival = min-id under
    in-order replay); on batch input it is the min-id holder per
    fingerprint (the batch pipeline's s3 shape). Everything before
    the dedup is a stateless projection.

    Output: ``(doc_id, fp, text, quality, n_tokens, split, ts)`` —
    text is the REDACTED text; split is derived from md5(fp) so it is
    stable under the dedup representative choice."""
    red = pii_redact(df, keep=("ts",)).select(
        "doc_id", F.col("redacted").alias("text"), "ts"
    )
    # quality_score_rowwise is a projection of a projection — the
    # whole prefix is one stateless codegen stage (a groupBy score
    # could not precede the stateful dedup on a stream)
    gated = (
        quality_score_rowwise(red, keep=("text", "ts"))
        .filter(F.col("quality") >= QUALITY_FLOOR)
        .withColumn("fp", F.md5(F.col("text").cast("binary")))
    )
    if df.isStreaming:
        deduped = gated.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["fp"]
        )
    else:
        holders = gated.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        deduped = gated.join(holders, ["fp", "doc_id"])
    pct = F.conv(F.substring(F.md5(F.col("fp")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    return deduped.select(
        "doc_id",
        "fp",
        "text",
        "quality",
        "n_tokens",
        F.when(pct < 80, "split_train")
        .when(pct < 90, "split_val")
        .otherwise("split_test")
        .alias("split"),
        "ts",
    )


def _append_batch(
    batch_df: DataFrame,
    store_dir: str,
    corpus_dir: str,
    commit_token: str | None = None,
    near_dup_store: str | None = None,
) -> None:
    """One micro-batch → curated store, IDEMPOTENT under at-least-once
    redelivery (r11 ADVICE #3). Within-batch min-id dedup per
    fingerprint (deterministic provenance), store-scan anti-join
    against every fingerprint ever kept EXCEPT this batch's own
    partition (a crashed earlier attempt must not shadow its own
    replay), then both writes land in batch-addressed hive partitions
    (``ingest_batch=<commit_token>``) in overwrite mode, and a commit
    marker seals the batch. ``commit_token`` must be unique per
    (stream run, batch id) and STABLE across redelivery of the same
    batch — ``run_curation_stream`` derives it from the checkpoint
    path + foreachBatch batch id, Spark's replay-determinism unit.
    ``commit_token=None`` keeps the legacy plain-append shape (used by
    the latency probe, where the sink is throwaway)."""
    spark = batch_df.sparkSession
    from pyspark.sql import Window as W

    from commodity_price_forecasting_spark.operators.store_maintenance import (
        maintenance_lock,
    )

    fp_path = os.path.join(store_dir, "fingerprints")
    corpus_path = os.path.join(corpus_dir, "corpus")
    if commit_token is not None:
        from commodity_price_forecasting_spark.operators.store_maintenance import (
            _read_committed,
        )

        # already fully committed — exact redelivery skip. The check
        # goes through _read_committed (marker file OR the rolled-up
        # manifest): a compaction may have folded this batch's marker
        # into _rolled.json (r14), and a VERY late redelivery must
        # still skip, not re-append rows the store already holds.
        if commit_token in _read_committed(os.path.join(store_dir, "commits")):
            return

    # single-writer contract, enforced (r12 ADVICE #2): a compaction
    # running concurrently would delete this batch's uncommitted
    # partition mid-write. Failing loudly here is safe — foreachBatch
    # redelivers the batch, and the whole append is idempotent.
    with maintenance_lock(store_dir, f"ingest:{commit_token or 'probe'}"):
        _append_batch_locked(
            batch_df, spark, W, fp_path, corpus_path, store_dir, corpus_dir,
            commit_token, near_dup_store,
        )


def _append_batch_locked(
    batch_df, spark, W, fp_path, corpus_path, store_dir, corpus_dir,
    commit_token, near_dup_store,
) -> None:
    if commit_token is not None:
        marker = os.path.join(store_dir, "commits", commit_token)
    w = W.partitionBy("fp").orderBy("doc_id")
    batch = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)  # cut lineage before store reads/appends
    )
    if os.path.isdir(fp_path):
        store_fps = spark.read.parquet(fp_path)
        if "ingest_batch" in store_fps.columns:
            if commit_token is not None:
                # partition-pruned: drop leftovers from a crashed
                # attempt of THIS batch so its replay sees the
                # pre-batch store
                store_fps = store_fps.filter(
                    F.col("ingest_batch") != commit_token
                )
            # exclude compaction sources not yet GC'd (their fps are
            # duplicated under the committed compacted partition; for
            # this semi-join duplicates are harmless, but the exclusion
            # is a pruned-partition no-op and keeps the read canonical)
            from commodity_price_forecasting_spark.operators.store_maintenance import (
                curation_superseded,
            )

            sup = curation_superseded(store_dir).get("fingerprints", set())
            if sup:
                store_fps = store_fps.filter(
                    ~F.col("ingest_batch").isin(sorted(sup))
                )
        store_fps = store_fps.select("fp")
        # dedup_store's store-scan/delta-broadcast shape: the store is
        # scanned once against the broadcast batch (never shuffled,
        # never broadcast — it is the big side), and only the tiny hit
        # set is broadcast into the anti-join
        hits = store_fps.join(F.broadcast(batch.select("fp")), "fp")
        fresh = batch.join(F.broadcast(hits), "fp", "left_anti")
    else:
        fresh = batch
    fresh = fresh.localCheckpoint(eager=True)

    if near_dup_store is not None:
        # NEAR-DUP TIER (r11 VERDICT ask #3): the exact-tier survivors
        # of this micro-batch get MinHash verdicts against the
        # persisted band store (operators/dedup_store.dedup_delta —
        # shingle/band the BATCH only, store scanned once, batch
        # broadcast). Docs verdicted kept enter the corpus; near/exact
        # dups of dedup-store content are dropped; ALL verdicts land in
        # a per-batch audit ledger. Since r13 (r12 ADVICE #1) this tier
        # uses the semantic tier's LEDGER-FIRST device instead of
        # dedup_delta's in-line append: verdicts are computed
        # append=False, persisted to the batch-addressed ledger, and
        # only then landed in the band store via the row-idempotent
        # dedup_store_append — so a crash anywhere (mid-append
        # included) replays to the same store, same ledger, same
        # corpus, instead of wedging on the id-monotonicity check.
        # Replays reuse a COMMITTED ledger (_SUCCESS-gated) as the
        # source of truth and never recompute. Bridges append into the
        # store's rebuild ledger on the fresh-compute path only —
        # at-most-once per batch, the semantic tier's documented
        # advisory boundary. Batches must arrive id-monotone (the
        # synthetic clock's contract), enforced at verdict compute.
        from commodity_price_forecasting_spark.operators.dedup_store import (
            dedup_delta,
            dedup_store_append,
        )

        ledger = os.path.join(corpus_dir, "near_dup_verdicts")
        if commit_token is None:
            # legacy probe path (throwaway sink, no replay channel):
            # keep dedup_delta's one-pass inline append — the measured
            # per-batch operating cost (SCALE.md r12)
            res = dedup_delta(
                spark, near_dup_store, fresh.select("doc_id", "text")
            )
            verd = res["verdicts"].localCheckpoint(eager=True)
            verd.write.mode("append").parquet(ledger)
        else:
            ledger_part = os.path.join(ledger, f"ingest_batch={commit_token}")
            sig_wide = None
            if os.path.exists(os.path.join(ledger_part, "_SUCCESS")):
                # committed ledger = the crashed attempt's truth; never
                # recompute (the store may already hold this batch's
                # appends, which would re-verdict as self-dups)
                verd = spark.read.parquet(ledger_part).localCheckpoint(
                    eager=True
                )
            else:
                # keep_frames hands the checkpointed MinHash frame to
                # the store append below — the survivors are shingled
                # ONCE per batch, not twice (r13 ADVICE #2); the
                # ledger-replay branch above has no frame and lets the
                # append recompute deterministically from text
                res = dedup_delta(
                    spark, near_dup_store, fresh.select("doc_id", "text"),
                    append=False, keep_frames=True,
                )
                verd = res["verdicts"].localCheckpoint(eager=True)
                verd.write.mode("overwrite").parquet(ledger_part)
                if res["bridges"].count() > 0:
                    # under the store lock like every other dedup-store
                    # writer: a cross-process compact/rebuild swap-renames
                    # bridges/ — an unlocked append lands rows in the
                    # doomed __old dir or collides with the swap's second
                    # rename (r14 ADVICE #1)
                    from commodity_price_forecasting_spark.operators.store_maintenance import (
                        store_write_lock,
                    )

                    # blocking wait (r15 ADVICE #2): this append runs
                    # AFTER the batch's verdicts ledger committed, so a
                    # lock-contention failure here would drop these
                    # bridge rows permanently (redelivery replays the
                    # committed ledger and skips bridges); waiting out
                    # a transient compact beats losing the tally
                    with store_write_lock(
                        near_dup_store, "curation:bridges", block_secs=30.0
                    ):
                        res["bridges"].localCheckpoint(eager=True).write.mode(
                            "append"
                        ).parquet(os.path.join(near_dup_store, "bridges"))
                # .get: the empty-delta early return carries no frame
                sig_wide = res.get("sig_wide")
            dedup_store_append(
                spark, near_dup_store, fresh.select("doc_id", "text"), verd,
                sig_wide=sig_wide,
            )
        # corpus gets only near-kept docs; the curation fp store below
        # still records EVERY exact-tier survivor (near-dropped
        # included) so a re-ingested copy of a near-dropped doc is
        # caught at the cheap exact tier, not re-shingled every time
        corpus_rows = fresh.join(
            verd.filter(F.col("status") == "kept").select("doc_id"), "doc_id"
        ).localCheckpoint(eager=True)
    else:
        corpus_rows = fresh

    if commit_token is None:  # legacy append (probe sinks)
        fresh.select("fp", "doc_id").write.mode("append").parquet(fp_path)
        corpus_rows.select(
            "doc_id", "fp", "text", "quality", "n_tokens", "split"
        ).write.mode("append").partitionBy("split").parquet(corpus_path)
        return
    if not fresh.isEmpty():  # empty batch: nothing to write, still commit
        # batch-sized coalesce/repartition (r14): without it each
        # micro-batch lands shuffle_partitions×splits tiny files
        # (measured: ~90 files per 200-doc batch, ~2.5 KB each), the
        # partition's DISK size is parquet-footer overhead instead of
        # data, and the size-tiered compactor's buckets stop meaning
        # anything. One file per batch for the fingerprint pair-list,
        # one per split for the corpus — micro-batches are minutes of
        # data, so these files are bounded by ingest rate; the tiered
        # compactor owns growing them toward TARGET_FILE_BYTES.
        fresh.select("fp", "doc_id").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(fp_path, f"ingest_batch={commit_token}"))
        corpus_rows.select(
            "doc_id", "fp", "text", "quality", "n_tokens", "split"
        ).repartition("split").write.mode("overwrite").partitionBy(
            "split"
        ).parquet(os.path.join(corpus_path, f"ingest_batch={commit_token}"))
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("committed\n")


def watermark_covering(
    spark: SparkSession, sf_dir: str, glob: str = "documents.parquet"
) -> str:
    """Watermark wide enough that NO fingerprint's dedup state expires
    over this corpus (r11 ADVICE #4): the synthetic clock ticks one
    doc per second from doc_id, so the span in seconds is
    max(doc_id) − min(doc_id); an hour of margin absorbs ties. With a
    narrower watermark ``dropDuplicatesWithinWatermark`` legally
    re-emits a later duplicate after state expiry and stream == batch
    equality stops holding — the bound is CORPUS SPAN < WATERMARK, now
    derived instead of assumed (the old fixed '1 day' default silently
    broke beyond ~86,400 docs)."""
    mm = (
        spark.read.option("pathGlobFilter", glob)
        .parquet(sf_dir)
        .agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .first()
    )
    span = int((mm["hi"] or 0) - (mm["lo"] or 0))
    return f"{span + 3600} seconds"


def run_curation_stream(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    near_dup_store: str | None = None,
    auto_maintain: bool = False,
    feed_glob: str = "documents.parquet",
) -> dict | None:
    """Drain the documents stream through the curation pipeline into
    the persisted store with availableNow (deterministic for tests; a
    live deployment drops the trigger). The dedup watermark is derived
    from the corpus span (``watermark_covering`` — the stream==batch
    equality bound), and the dedup state store runs at the session's
    ``spark.sql.shuffle.partitions``. Each micro-batch appends through
    the idempotent commit-token path: token = md5(checkpoint path) +
    batch id, unique per run and stable across redelivery.
    ``near_dup_store`` (a
    ``dedup_store_build`` layout, built by the caller from the base
    corpus) switches on the per-batch MinHash tier — see
    ``_append_batch``'s near-dup block for semantics and the stated
    crash boundary.

    ``auto_maintain=True`` (r12 VERDICT "what's missing" #4) closes
    the maintenance loop: immediately after the availableNow drain —
    the exact quiesced window ``curation_store_compact``'s contract
    requires, and the lock is provably free because this writer just
    released it — run the store health reports and compact whatever
    they recommend (the curation store, and the near-dup band store
    when the tier is on). Rebuild recommendations are REPORTED, never
    auto-executed: a rebuild needs the full document corpus, which the
    stream does not hold. Returns the maintenance report (``None``
    when ``auto_maintain`` is off); sustained economics measured by
    tools/auto_maintain_probe.py → SCALE.md r13."""
    import hashlib

    run_key = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    stream = curate_docs(
        read_documents_stream(spark, sf_dir, glob=feed_glob),
        watermark=watermark_covering(spark, sf_dir, glob=feed_glob),
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, bid: _append_batch(
                bdf,
                store_dir,
                corpus_dir,
                commit_token=f"{run_key}-{bid}",
                near_dup_store=near_dup_store,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not auto_maintain:
        return None
    from commodity_price_forecasting_spark.operators.store_maintenance import (
        StoreLockError,
        curation_store_compact,
        curation_store_health,
        dedup_store_compact,
        dedup_store_health,
    )

    report: dict = {}
    health = curation_store_health(spark, store_dir, corpus_dir)
    report["curation_health"] = health
    if health["compact_recommended"]:
        try:
            report["curation_compact"] = curation_store_compact(
                spark, store_dir, corpus_dir
            )
        except StoreLockError as exc:
            # grace-window / lock refusal must not fail the ingest —
            # the drain itself succeeded; maintenance retries next drain
            report["curation_compact_error"] = str(exc)
    if near_dup_store is not None:
        nd_health = dedup_store_health(spark, near_dup_store)
        report["near_dup_health"] = nd_health
        if nd_health["compact_recommended"]:
            try:
                report["near_dup_compact"] = dedup_store_compact(
                    spark, near_dup_store
                )
            except StoreLockError as exc:
                report["near_dup_compact_error"] = str(exc)
    return report
