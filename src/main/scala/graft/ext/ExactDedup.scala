package graft.ext

import graft.core.{Bucketing, IngestLedger}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact deduplication over a text (or any) column: hash-groupBy on the
  * normalized content, keep the smallest id as canonical.
  *
  * Scale shape: one hash-partition shuffle on the (fingerprint) key —
  * identical to a groupBy count. For 100 TB, group on the 128-bit
  * fingerprint rather than the full text so shuffle rows carry 16 bytes
  * + id instead of document bodies; collision probability of md5 at any
  * realistic corpus size is negligible (and a second exact pass within
  * groups can confirm if required).
  *
  * The INCREMENTAL form (the [[IncrementalDedup]] pattern applied to
  * exact fingerprints — in production the FIRST dedup stage, run before
  * the near-dup passes) keeps a persisted FINGERPRINT STORE: one
  * `(fp, canonical_id)` row per distinct content ever ingested, written
  * as a catalog table bucketed+sorted by `fp`
  * ([[writeFingerprintStore]]). Each new shard fingerprints itself and
  * LEFT-joins the store on `fp` ([[dedupExactAgainstStore]]): the store
  * side reads its buckets in place — zero shuffle, zero recompute, no
  * text on the wire (16-byte fp + id rows only) — and the shard side
  * exchanges once on `fp`. First-wins over the union: a shard doc whose
  * fingerprint is already stored drops with `dup_of` = the store's
  * canonical id; survivors' fingerprints append in the same bucket
  * layout ([[appendFingerprints]]), so the next shard dedups against
  * everything ingested so far at cost proportional to the SHARD, never
  * the corpus.
  */
object ExactDedup {

  /** Per-distinct-content row: canonical (min) id, duplicate count, and
    * the content fingerprint. */
  def dedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"))
      .select(col("canonical_id"), col("dup_count"), col("fp"))

  /** SOURCE-PRIORITY exact dedup — the multi-source corpus form (the
    * Dolma/Pile assembly step): when the same content arrives from
    * several sources, keep the copy from the MOST PREFERRED source
    * (smallest `priorityCol` value; id breaks ties), not the smallest
    * id — a curated copy beats the web crawl's even when the crawl was
    * ingested first. NULL priorities sort LAST (least preferred — the
    * SQL nulls-last convention): a doc whose source never got a rank,
    * e.g. from a left join against a source-ranking table, must not
    * beat a ranked copy (a bare `min(struct)` would put nulls FIRST and
    * silently invert the preference). Returns one verdict row per
    * input document: (id, kept, canonical_id) with `canonical_id` =
    * the winning copy's id (own id for kept docs); fingerprint-less
    * (null-text) docs always keep, the engine-wide convention.
    *
    * Shape at 100 TB: first-wins is a `min(struct(priority, id))`
    * AGGREGATION + fp-keyed join-back (the
    * [[PassageDedup.removeDuplicateSpans]] trade): partial aggregation
    * collapses a boilerplate fingerprint duplicated across millions of
    * docs to ONE row map-side, where a per-fp window rank would sort
    * every occurrence in a single task; the join-back is an equi-join
    * AQE can skew-split, and only (16-byte fp, id, priority) rows ever
    * shuffle. */
  def dedupWithPriority(docs: DataFrame, idCol: String, textCol: String,
                        priorityCol: String): DataFrame = {
    val fps = docs.select(col(idCol), col(priorityCol),
      TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
    // the leading isNull flag makes the struct ordering nulls-LAST for
    // any priority type: (false, p, id) < (true, null, id)
    val winners = fps.filter(col("fp").isNotNull)
      .groupBy("fp")
      .agg(min(struct(col(priorityCol).isNull.as("__pnull"),
        col(priorityCol), col(idCol))).as("__w"))
      .select(col("fp"), col("__w")(idCol).as("__win_id"))
    fps.join(winners, Seq("fp"), "left")
      .select(col(idCol),
        (col("__win_id").isNull || col("__win_id") === col(idCol))
          .as("kept"),
        coalesce(col("__win_id"), col(idCol)).as("canonical_id"))
  }

  /** `(id, fp)` rows — a null/absent text yields a null fingerprint,
    * which never equi-joins: fingerprint-less docs always keep. */
  private def fingerprints(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docs.select(col(idCol),
      TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))

  /** One `(fp, canonical_id)` row per distinct fingerprint (min id —
    * intra-shard twins collapse here, so the store stays one row per
    * content). */
  private def storeRows(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    fingerprints(docs, idCol, textCol)
      .filter(col("fp").isNotNull)
      .groupBy("fp").agg(min(col(idCol)).as("canonical_id"))

  /** Compute and persist the fingerprint store for `docs` as the
    * bucketed catalog table `table` (bucketed+sorted by `fp`). A fresh
    * store restarts its batch-id space, so any stale applied-batch
    * ledger is dropped ([[graft.core.IngestLedger.reset]]). */
  def writeFingerprintStore(docs: DataFrame, idCol: String, textCol: String,
                            table: String, buckets: Int): Unit = {
    Bucketing.writeBucketed(storeRows(docs, idCol, textCol),
      table, Seq("fp"), buckets)
    IngestLedger.reset(docs.sparkSession, table)
  }

  /** Append a shard's fingerprints into an existing store (same
    * layout). The ingest loop appends SURVIVORS only — their
    * fingerprints are absent from the store by definition of having
    * survived, so the one-row-per-fp invariant holds across appends
    * (intra-shard twins collapse to their min id here). Periodic
    * [[graft.core.Bucketing.compact]] restores one file per bucket. */
  def appendFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         table: String, buckets: Int): Unit =
    Bucketing.appendBucketed(storeRows(docs, idCol, textCol),
      table, Seq("fp"), buckets)

  /** Deduplicate a NEW shard against a persisted fingerprint `store`:
    * one row per shard doc — `(id, kept, dup_of)`, `dup_of` the store's
    * canonical id for the content (null when kept). The merge hint pins
    * the sort-merge strategy so a small test-scale shard cannot
    * silently broadcast and bypass the bucketed layout being proven
    * (PlanSpec pins the store side Exchange-free).
    *
    * The store side pre-collapses to one row per fp (min canonical id):
    * a no-op on a clean store, but the guard that keeps store rows
    * duplicated OUTSIDE the loop's contract (a crashed replay's
    * residual, a caller appending a shard twice by hand) from emitting
    * duplicate VERDICT rows — the same defensive grain the near-dup
    * stores collapse to. In-bucket (the store is bucketed by `fp`), so
    * it costs no Exchange. */
  def dedupExactAgainstStore(newDocs: DataFrame, idCol: String,
                             textCol: String, store: DataFrame): DataFrame =
    fingerprints(newDocs, idCol, textCol)
      .join(store.groupBy("fp").agg(min("canonical_id").as("dup_of"))
        .hint("merge"), Seq("fp"), "left")
      .select(col(idCol), col("dup_of").isNull.as("kept"), col("dup_of"))

  /** Periodic store maintenance: one file per bucket
    * ([[graft.core.Bucketing.compact]]), duplicate fps collapsed to the
    * min canonical id (the [[dedupExactAgainstStore]] read grain made
    * durable), and the ledger's markers pruned below the
    * contiguous-commit watermark. */
  def compactStore(spark: SparkSession, table: String, buckets: Int): Unit = {
    Bucketing.compact(spark, table, Seq("fp"), buckets,
      prepare = _.groupBy("fp").agg(min("canonical_id").as("canonical_id")))
    IngestLedger.prune(spark, table)
  }

  /** The CONTINUOUS-ingest form ([[IncrementalDedup.streamIngest]]'s
    * exact-fingerprint twin, and in production the loop that runs
    * AHEAD of it): each micro-batch is a shard — dedup it against the
    * fingerprint store, write the per-doc verdicts EXACTLY-ONCE
    * (partitioned by `batch_id` with dynamic partition overwrite),
    * append the SURVIVORS' fingerprints, so the next micro-batch
    * dedups against everything ingested so far. Replay is
    * exactly-once end to end via the two-phase ledger
    * ([[graft.core.IngestLedger]]): a committed batch id is skipped
    * outright, and one that crashed mid-append reconciles by
    * re-appending only the fps the crash left missing (reusing the
    * committed verdicts — a re-run of the dedup would see the shard's
    * own appended fps and flip intra-shard twins from kept to
    * dropped). In-loop compaction: `compactEvery = N` (fixed cadence;
    * checked configs use 1 for coverage) or `maxFilesPerBucket = M`
    * (the production decay trigger) — the shared
    * [[graft.core.Bucketing.streamLoop]]. */
  def streamIngest(newDocs: DataFrame, idCol: String, textCol: String,
                   table: String, buckets: Int,
                   outPath: String, checkpoint: String,
                   compactEvery: Int = 0, maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Bucketing.streamLoop(newDocs, checkpoint, buckets, compactEvery,
        maxFilesPerBucket)(
      ingestBatch(_, _, idCol, textCol, table, buckets, outPath))(
      (table, compactStore(_, table, buckets)))

  /** One micro-batch of [[streamIngest]] — also the non-streaming entry
    * point for a caller-driven loop. Verdicts are eagerly materialized
    * (`localCheckpoint`) BEFORE the store append, so the lazy plan over
    * the store table cannot observe the shard's own fingerprints. */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  idCol: String, textCol: String,
                  table: String, buckets: Int, outPath: String): Unit = {
    val spark = batch.sparkSession
    Bucketing.recoverSwap(spark, table)
    if (IngestLedger.applied(spark, table, batchId)) return
    if (IngestLedger.intended(spark, table, batchId)) {
      // a prior attempt committed this batch's verdicts and crashed
      // inside its append: reuse them and append only the missing fps
      // (idempotent — a completed prior append makes this zero rows)
      val kept = spark.read.parquet(outPath)
        .filter(col("batch_id") === batchId && col("kept"))
        .select(col(idCol))
      val missing = storeRows(batch.join(kept, Seq(idCol)), idCol, textCol)
        .join(spark.table(table), Seq("fp"), "left_anti")
      Bucketing.appendBucketed(missing, table, Seq("fp"), buckets)
    } else {
      val verdicts = dedupExactAgainstStore(batch, idCol, textCol,
          spark.table(table))
        .localCheckpoint(true)
      verdicts.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outPath)
      IngestLedger.intent(spark, table, batchId)
      val kept = verdicts.filter(col("kept")).select(col(idCol))
      appendFingerprints(batch.join(kept, Seq(idCol)), idCol, textCol,
        table, buckets)
    }
    IngestLedger.record(spark, table, batchId)
  }

  /** Release diff: compare a corpus against a previous release's
    * persisted fingerprint store — the dataset-versioning audit every
    * corpus release publishes ("N documents added, M removed, K
    * retained"). One row per distinct fingerprint across either side:
    * `added` (in the corpus, not the store), `removed` (in the store,
    * not the corpus), `retained` (both), with the corpus-side
    * occurrence count and min id and the store's canonical id.
    *
    * FINGERPRINT-LESS DOCS ARE EXCLUDED, deliberately: a null text has
    * no fingerprint, so it can neither match a store row nor collide
    * with another doc — and under the engine-wide "fingerprint-less
    * docs always keep" convention ([[dedupExactAgainstStore]]) such
    * docs never enter the store either, so a diff row for them would
    * compare nothing to nothing. An audit that must account for every
    * document including null texts should pair this diff with a plain
    * `count(text IS NULL)` on each side — one scalar per release, not
    * a per-fingerprint row.
    *
    * Shape at 100 TB: the corpus reduces to one (fp, min id, count)
    * row per content in a single map-side-combined groupBy, then meets
    * the store in ONE full-outer sort-merge join whose store side
    * reads its buckets in place (the [[dedupExactAgainstStore]]
    * layout contract) — the only corpus-sized exchange is the fp
    * groupBy; no text ever crosses the wire. */
  def diffAgainstStore(docs: DataFrame, idCol: String, textCol: String,
                       store: DataFrame): DataFrame = {
    val cur = fingerprints(docs, idCol, textCol)
      .filter(col("fp").isNotNull)
      .groupBy("fp")
      .agg(min(col(idCol)).as("cur_id"), count(lit(1)).as("n_docs"))
    cur.join(store.groupBy("fp").agg(min("canonical_id").as("prev_id"))
        .hint("merge"), Seq("fp"), "full_outer")
      .select(col("fp"),
        when(col("prev_id").isNull, "added")
          .when(col("cur_id").isNull, "removed")
          .otherwise("retained").as("status"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        col("prev_id"), col("cur_id"))
  }
}
