package graft.ext

import graft.core.{Bucketing, IngestLedger}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus deduplication — the production shape of the
  * near-dup suite: a continuously-ingested corpus keeps a PERSISTED
  * MinHash signature store, and each new shard (a day's crawl, a new
  * source dump) is deduplicated against everything already ingested by
  * joining the shard's freshly-computed signatures to the store —
  * WITHOUT recomputing a single old signature. First-wins over the
  * union: store documents were ingested earlier, so a new document
  * matching any store document is the duplicate and drops; the store
  * never changes retroactively.
  *
  * Storage layout: one row per (band, doc) — `(band, band_key, id,
  * __sig)` — written as a catalog table bucketed AND sorted by
  * `(band, band_key)` ([[graft.core.Bucketing.writeBucketed]]). The
  * denormalized signature (numHashes longs, ~128 B × nBands per doc)
  * rides along so the confirm step needs no second store access. The
  * dedup join on `(band, band_key)` then reads the store's buckets IN
  * PLACE: the only Exchange in the join is the new shard's — zero
  * shuffle, zero recompute on the store side, exactly the q33 bucketed-
  * merge story applied to dedup (PlanSpec pins the store-side subtree
  * Exchange-free). At 100 TB the store is appended shard-by-shard
  * (surviving rows' bands land in the same bucket layout), so the cost
  * of deduplicating a shard is proportional to the SHARD, never to the
  * corpus.
  *
  * Intra-shard duplicates are the batch operators' job ([[MinHash]] /
  * [[ExactDedup]] / [[DupClusters]] within the shard); this operator is
  * the cross-shard piece those operators cannot express without
  * re-signing the whole corpus.
  *
  * Same integer arithmetic as [[MinHash]] end to end, so the whole
  * incremental path is oracle-checkable bit-for-bit (x34).
  *
  * Hot band keys (boilerplate collapsing many docs onto one key) grow
  * the store's per-key candidate work across appends. The batch
  * operators cap them per run (`maxBandDocs` — see
  * `MinHash.candidatePairs`); the incremental analogue implemented here
  * is a per-`(band, band_key)` doc-count SIDE TABLE
  * ([[countsTable]], bucketed like the store) maintained on every
  * append and semi-filtering BOTH join sides of [[dedupAgainstStore]]
  * against keys at-or-under the cap. The side table is APPEND-ONLY:
  * each append lands the shard's per-key count DELTAS as new rows
  * (O(shard) write work — the counts are never recomputed from the
  * store and the side table is never rewritten on an append; either
  * would be O(corpus-keys) per shard and quadratic over the ingest
  * loop, breaking the cost-proportional-to-the-shard contract). Totals
  * are summed at dedup time by [[keyCountTotals]] — an IN-BUCKET
  * rollup, since the deltas are bucketed by the groupBy keys — so the
  * cap costs one narrow aggregate + filter + two bucket-aligned
  * semi-joins over the compact count relation (two key columns and a
  * long — no signatures, no text). [[compactStore]] periodically
  * collapses the accumulated deltas (and the store's per-bucket files)
  * back to one row per key / one file per bucket. As in the batch
  * family, a capped key means a bounded, observable recall loss on
  * exactly the docs upstream exact dedup ([[ExactDedup]]) already
  * collapses.
  */
object IncrementalDedup {

  /** Banded signature rows `(band, band_key, id, __sig)` for a corpus —
    * the persistable store layout (and the shape a new shard computes
    * for itself before joining). Docs with no signature (fewer than
    * `shingleN` words) have nothing to collide on and are absent. */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int, nBands: Int): DataFrame = {
    val rowsPerBand = numHashes / nBands
    // No explicit null filter: `bandKeys` propagates a null signature
    // to a null array (guarded in [[MinHash.bandKeys]]) and posexplode
    // of a null array emits no rows, so signatureless docs drop for
    // free. [[MinHash.signatures]]' `filter(isNotNull)` would instead
    // be pushed below the projection and re-evaluate the signature
    // expression a second time per doc inside the Filter (the
    // pushdown-unstaging trap — PlanSpec pins one minhash_sig per side
    // here).
    MinHash.shingleHashArrays(docs, idCol, textCol, shingleN)
      .select(col(idCol),
        graft.functions.MinHashSig(col("__hh"), numHashes).as("__sig"))
      .select(col(idCol), col("__sig"),
        posexplode(MinHash.bandKeys(col("__sig"), nBands, rowsPerBand))
          .as(Seq("band", "band_key")))
      .select(col("band"), col("band_key"), col(idCol), col("__sig"))
  }

  /** Name of the per-key doc-count side table maintained alongside a
    * signature store `table` — APPEND-ONLY delta rows
    * `(band, band_key, n_docs)`: one row per key per append, summed to
    * totals at read time by [[keyCountTotals]] (a key touched by k
    * appends has k rows until [[compactStore]] collapses them).
    * Bucketed by the same keys with the same bucket count as the store,
    * so both the read-time rollup and the hot-key semi-filters in
    * [[dedupAgainstStore]] run bucket-aligned, Exchange-free. */
  def countsTable(table: String): String = s"${table}_keycounts"

  /** Total per-key store doc counts from the delta side table: sum the
    * deltas per key. The deltas are bucketed by the groupBy keys, so
    * the rollup is in-bucket — no Exchange ahead of the cap's semi
    * filters, and the work is proportional to the count relation (two
    * key columns and a long), never the store. */
  def keyCountTotals(deltas: DataFrame): DataFrame =
    deltas.groupBy("band", "band_key").agg(sum("n_docs").as("n_docs"))

  /** Per-key doc counts of a banded-signature relation. One row per
    * (band, doc) in ⇒ the count per key is the key's doc count. */
  private def bandKeyCounts(banded: DataFrame): DataFrame =
    banded.groupBy("band", "band_key").agg(count(lit(1)).as("n_docs"))

  /** Compute and persist the signature store for `docs` as the bucketed
    * catalog table `table` (bucketed+sorted by `(band, band_key)`),
    * plus its per-key doc-count side table ([[countsTable]]). The
    * counts are derived by reading the just-written store back — the
    * table is bucketed by the groupBy keys, so the rollup runs
    * in-bucket with no Exchange. */
  def writeSignatureStore(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, numHashes: Int, nBands: Int,
                          table: String, buckets: Int): Unit = {
    Bucketing.writeBucketed(
      bandedSignatures(docs, idCol, textCol, shingleN, numHashes, nBands),
      table, Seq("band", "band_key"), buckets)
    val spark = docs.sparkSession
    Bucketing.writeBucketed(bandKeyCounts(spark.table(table)),
      countsTable(table), Seq("band", "band_key"), buckets)
    IngestLedger.reset(spark, table)
  }

  /** Append a shard's signatures into an existing store (same layout —
    * see [[graft.core.Bucketing.appendBucketed]]). The ingest loop is
    * write store → per new shard: [[dedupAgainstStore]] → append the
    * SURVIVORS' signatures → next shard dedups against everything
    * ingested so far (IncrementalDedupSpec drives three shards through
    * it). Dropped duplicates are not appended: their store
    * representative already carries the signature a future match
    * needs. */
  def appendSignatures(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int, nBands: Int,
                       table: String, buckets: Int): Unit = {
    val banded = bandedSignatures(docs, idCol, textCol, shingleN, numHashes,
        nBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try appendBanded(banded, table, buckets)
    finally banded.unpersist()
  }

  /** Append ALREADY-BANDED signature rows (the [[bandedSignatures]]
    * layout) and maintain the count side table. Callers must hand in a
    * materialization-safe frame (persisted, or derived from one): the
    * rows are consumed twice — store append + count-delta append.
    *
    * Count maintenance is APPEND-ONLY: the shard's per-key counts land
    * as new delta rows ([[countsTable]]'s layout), O(shard) work that
    * never reads, rewrites, or re-aggregates the existing count
    * relation — totals are summed in-bucket at dedup time
    * ([[keyCountTotals]]) and the accumulated deltas collapse at
    * [[compactStore]] time. (Stores written before the side table
    * existed get it backfilled here with a one-time in-bucket
    * rollup.) */
  private def appendBanded(banded: DataFrame, table: String,
                           buckets: Int): Unit = {
    val keys = Seq("band", "band_key")
    val spark = banded.sparkSession
    val ct = countsTable(table)
    if (spark.catalog.tableExists(ct))
      // the two appends are independent writes off the same persisted
      // frame, and the crash contract is order-free (Reconcile recounts
      // touched keys from whatever subset committed) — overlap them so
      // the second write's tasks back-fill the first one's tail
      // (guide §2.6; measured ~0.4 s/batch of the ingest loop's fixed
      // cost at sf0.1)
      Bucketing.inParallel(
        Bucketing.appendBucketed(banded, table, keys, buckets),
        Bucketing.appendBucketed(bandKeyCounts(banded), ct, keys, buckets))
    else {
      Bucketing.appendBucketed(banded, table, keys, buckets)
      Bucketing.writeBucketed(bandKeyCounts(spark.table(table)), ct, keys,
        buckets)
    }
  }

  /** Periodic store maintenance: rewrite the signature store back to
    * one file per bucket (restoring the dedup join's in-bucket Sort
    * elision — [[graft.core.Bucketing.compact]]) and rebuild the count
    * side table from a fresh in-bucket recount of the compacted store,
    * collapsing the accumulated per-append delta rows to one row per
    * key. This is the amortized moment where full-relation work is paid
    * once per MANY appends instead of once per append.
    *
    * The `prepare` distinct is defense-in-depth: the two-phase ledger
    * ([[graft.core.IngestLedger]] + [[graft.core.Reconcile]]) already
    * keeps the ingest loop exactly-once, but any drift introduced
    * OUTSIDE it (a caller appending the same shard twice by hand)
    * collapses here too — the banded layout is fully determined by the
    * doc, so full-row distinct is id-exact, and the recount restores
    * exact per-key counts. */
  def compactStore(spark: SparkSession, table: String, buckets: Int): Unit = {
    val keys = Seq("band", "band_key")
    Bucketing.compact(spark, table, keys, buckets,
      prepare = _.dropDuplicates())
    // the counts rewrite goes through the same staged swap as the store
    // (a bare overwrite would drop the table before the rewrite lands —
    // a crash there would strand the capped dedup path on a missing
    // side table); the swap's own crash window self-heals via
    // Bucketing.recoverSwap at the next maintenance/ingest entry
    Bucketing.replaceBucketed(bandKeyCounts(spark.table(table)),
      countsTable(table), keys, buckets)
    // compaction is also the amortized moment to collapse the ledger's
    // per-batch marker files below the contiguous-commit watermark
    IngestLedger.prune(spark, table)
  }

  /** The continuous-ingest form of the ingest loop: each micro-batch is
    * a shard — dedup it against the signature store, append the per-doc
    * verdicts to `outPath`, append the SURVIVORS' signatures to the
    * store, so the next micro-batch dedups against everything ingested
    * so far. The shared loop ([[graft.core.Bucketing.streamLoop]])
    * drains what is pending and stops; with `maxFilesPerTrigger = 1` on
    * the file source, one landed file is one shard (the reference's
    * operational shape — exactly once per file).
    *
    * The loop is IDEMPOTENT under `foreachBatch`'s at-least-once
    * replay: verdicts land partitioned by `batch_id` with dynamic
    * partition overwrite (a replayed batch REPLACES its own partition),
    * and a batch whose id is already in the store's applied-batch
    * ledger ([[graft.core.IngestLedger]]) is skipped outright, so a
    * fully-committed batch never re-appends signatures or count deltas.
    * A batch that crashed INSIDE its append (intent marker without a
    * commit marker) replays through the reconcile path
    * ([[graft.core.Reconcile.appendExact]]): the committed verdicts are
    * reused and store + counts converge to the exact post-append state
    * — there is no residual window (IngestRecoverySpec drives every
    * crash point).
    *
    * Upgrade note (pre-two-phase ledgers): before resuming a loop whose
    * previous run predates the ledger's INTENT markers and crashed
    * mid-append, run [[compactStore]] once — its full-row distinct and
    * recount collapse the old crash's duplicate rows, after which the
    * replay is safe ([[graft.core.IngestLedger]]'s upgrade note). */
  def streamIngest(newDocs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, numHashes: Int, nBands: Int,
                   table: String, buckets: Int, minJaccard: Double,
                   outPath: String, checkpoint: String,
                   maxBandDocs: Int = 0, compactEvery: Int = 0,
                   maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Bucketing.streamLoop(newDocs, checkpoint, buckets, compactEvery,
        maxFilesPerBucket)(
      ingestBatch(_, _, idCol, textCol, shingleN, numHashes, nBands, table,
        buckets, minJaccard, outPath, maxBandDocs))(
      (table, compactStore(_, table, buckets)))

  /** One micro-batch of [[streamIngest]] — also the non-streaming entry
    * point for callers driving the ingest loop themselves (one call per
    * shard with a caller-chosen batch id): dedup the batch against the
    * store, overwrite THIS
    * batch's verdict partition, append the survivors' signatures, and
    * record the batch in the store's applied-batch ledger
    * ([[graft.core.IngestLedger]] — a batch id already committed is
    * skipped outright, and one that crashed mid-append reconciles
    * exactly, so the at-least-once `foreachBatch` replay is effectively
    * exactly-once end to end). The verdicts are eagerly materialized
    * (`localCheckpoint`) BEFORE the store append — `dedupAgainstStore`
    * returns a lazy plan over the store table, and appending first
    * would let the plan observe the shard's own signatures. */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  idCol: String, textCol: String,
                  shingleN: Int, numHashes: Int, nBands: Int,
                  table: String, buckets: Int,
                  minJaccard: Double, outPath: String,
                  maxBandDocs: Int = 0): Unit = {
    val spark = batch.sparkSession
    // complete any staging swap a crashed compaction stranded, before
    // anything reads the store or its count side table
    Bucketing.recoverSwap(spark, table)
    Bucketing.recoverSwap(spark, countsTable(table))
    if (IngestLedger.applied(spark, table, batchId)) return
    // sign the shard ONCE: the persisted banded rows feed both the
    // dedup join and the survivors' append (re-signing the survivors
    // would double the ingest loop's only corpus-proportional compute)
    val banded = bandedSignatures(batch, idCol, textCol,
        shingleN, numHashes, nBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (IngestLedger.intended(spark, table, batchId)) {
        // a prior attempt committed this batch's verdicts and crashed
        // somewhere inside its append: reuse the committed verdicts
        // (re-running the dedup here would see the shard's own appended
        // rows — surviving near-dup SIBLINGS would each match the
        // other's store row and flip from kept to dropped) and converge
        // store + counts to the exact post-append state
        val kept = spark.read.parquet(outPath)
          .filter(col("batch_id") === batchId && col("kept"))
          .select(col(idCol))
        graft.core.Reconcile.appendExact(banded.join(kept, Seq(idCol)),
          idCol, table, countsTable(table), "n_docs",
          Seq("band", "band_key"), buckets)
      } else {
        val counts =
          if (maxBandDocs > 0) Some(spark.table(countsTable(table))) else None
        val verdicts = dedupBanded(batch.select(col(idCol)), banded, idCol,
            numHashes, spark.table(table), minJaccard, maxBandDocs, counts)
          .localCheckpoint(true)
        verdicts.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outPath)
        IngestLedger.intent(spark, table, batchId)
        val kept = verdicts.filter(col("kept")).select(col(idCol))
        appendBanded(banded.join(kept, Seq(idCol)), table, buckets)
      }
      IngestLedger.record(spark, table, batchId)
    } finally banded.unpersist()
  }

  /** Deduplicate a NEW shard against a persisted signature `store`
    * (a table written by [[writeSignatureStore]] with the SAME
    * `shingleN`/`numHashes`/`nBands`).
    *
    * Candidate pairs come from the `(band, band_key)` equi-join of the
    * shard's banded signatures against the store (the store side reads
    * bucketed, shuffle-free; the merge hint pins the sort-merge
    * strategy so a small test-scale shard cannot silently broadcast and
    * bypass the layout being proven — [[graft.core.Upsert.mergeBucketed]]'s
    * rationale). A pair is a duplicate when its signature agreement
    * `n_match/numHashes ≥ minJaccard` — the same estimate as
    * [[MinHash.nearDupPairs]], compared in exact integers.
    *
    * `maxBandDocs > 0` engages the hot-key cap: band keys carrying MORE
    * than that many STORE docs (per `keyCounts` — the [[countsTable]]
    * side table, required when the cap is on) are excluded from
    * candidate generation on BOTH join sides. A hot key (boilerplate)
    * otherwise contributes store-side candidate work quadratic in its
    * ever-growing count on every future shard — see [[MinHash.candidatePairs]]
    * for the batch-side rationale. Both semi-joins are bucket-aligned
    * (counts and store share the bucket layout), so the store side
    * stays Exchange-free with the cap engaged (PlanSpec pins this).
    * 0 (the default) disables the cap.
    *
    * @return one row per new-shard doc: `(id, kept, n_store_matches,
    *         dup_of)` — `kept` when no store doc matched, `dup_of` the
    *         smallest matching store id (null when kept). */
  def dedupAgainstStore(newDocs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, numHashes: Int, nBands: Int,
                        store: DataFrame, minJaccard: Double,
                        maxBandDocs: Int = 0,
                        keyCounts: Option[DataFrame] = None): DataFrame =
    dedupBanded(newDocs.select(col(idCol)),
      bandedSignatures(newDocs, idCol, textCol, shingleN, numHashes, nBands),
      idCol, numHashes, store, minJaccard, maxBandDocs, keyCounts)

  /** [[dedupAgainstStore]] over ALREADY-BANDED shard rows — the shared
    * core that lets [[ingestBatch]] sign a shard ONCE and feed the same
    * banded relation to both the dedup join and the survivors' append.
    * `newIds` is the shard's full id set (one column, `idCol`): docs
    * with no signature have no banded rows but still need a verdict
    * row (kept, 0 matches). */
  private def dedupBanded(newIds: DataFrame, shard0: DataFrame,
                          idCol: String, numHashes: Int,
                          store: DataFrame, minJaccard: Double,
                          maxBandDocs: Int,
                          keyCounts: Option[DataFrame]): DataFrame = {
    require(maxBandDocs == 0 || keyCounts.nonEmpty,
      "maxBandDocs > 0 requires keyCounts (the store's countsTable)")
    val minMatches = math.ceil(minJaccard * numHashes).toInt
    val keys = Seq("band", "band_key")
    val (shard, storeSide) =
      if (maxBandDocs > 0) {
        // totals from the append-only delta rows, summed in-bucket
        val ok = keyCountTotals(keyCounts.get)
          .filter(col("n_docs") <= maxBandDocs)
          .select("band", "band_key")
        (shard0.join(ok.hint("merge"), keys, "left_semi"),
          store.join(ok.hint("merge"), keys, "left_semi"))
      } else (shard0, store)
    // several bands can agree for one (new, store) pair: collapse to the
    // pair grain first (n_match is pair-constant, max() just picks it),
    // then roll up per new doc — two doc-keyed aggregates over the
    // candidate set, which is collision-sized, not corpus-sized
    val pairs = shard.as("n")
      .join(storeSide.as("s").hint("merge"), Seq("band", "band_key"))
      .filter(col(s"n.$idCol") =!= col(s"s.$idCol"))
      .select(col(s"n.$idCol").as("new_id"), col(s"s.$idCol").as("store_id"),
        MinHash.sigAgreement(col("n.__sig"), col("s.__sig")).as("n_match"))
      .groupBy("new_id", "store_id")
      .agg(max("n_match").as("n_match"))
      .filter(col("n_match") >= minMatches)
    val perDoc = pairs.groupBy(col("new_id").as(idCol))
      .agg(count(lit(1)).as("n_store_matches"), min("store_id").as("dup_of"))
    newIds
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("dup_of").isNull.as("kept"),
        coalesce(col("n_store_matches"), lit(0L)).as("n_store_matches"),
        col("dup_of"))
  }
}
