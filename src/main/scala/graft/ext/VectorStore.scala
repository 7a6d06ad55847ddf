package graft.ext

import graft.core.{Bucketing, IngestLedger}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental EMBEDDING dedup against a persisted IVF-bucketed vector
  * store — the vector-space twin of [[IncrementalDedup]]'s signature
  * store, and the production shape of x12's whole-corpus embedding
  * near-dup: a continuously-ingested corpus keeps its vectors assigned
  * to coarse IVF cells, written as a catalog table bucketed by `cell`,
  * and each new shard is deduplicated by probing only its `nProbe` best
  * cells — WITHOUT recomputing a single store assignment.
  *
  * The coarse quantizer is the [[CellScorer]] seam: the deterministic
  * LCG codebook ([[LcgCellScorer]] — zero training cost, available
  * before any data exists) or a TRAINED k-means codebook
  * ([[TrainedCellScorer]], [[KMeans.fit]]) persisted as a small table
  * NEXT TO the store ([[codebookTable]]) so that every later append,
  * probe, and replay assigns with the STORE's codebook rather than
  * re-deriving one — the invariant that keeps store assignments and
  * shard probes in the same cell space across the loop's lifetime.
  * Training buys recall at the same probe budget (RecallSpec pins
  * 0.744 vs 0.400 recall@5 batch-side, and store-path ≥ LCG store-path
  * on the checked corpus); [[recluster]] re-trains at compaction time.
  *
  * Scale shape: the probe join is a `cell`-keyed equi-join whose store
  * side reads its buckets in place (zero shuffle, the q33/x34 story —
  * PlanSpec pins the store subtree Exchange-free); the shard side
  * exchanges once on `cell`. Per-shard cost is
  * O(shard · nProbe · E[cell size]) — proportional to the SHARD, never
  * the corpus.
  *
  * Hot cells are the store twin of the signature store's hot band keys:
  * in an APPEND-ONLY store a pathological cell (boilerplate embeddings,
  * a zero-adjacent region the codebook under-resolves) grows every
  * future shard's probe-join candidate work unboundedly. The cap is the
  * x43 pattern applied to `cell`: a per-cell vector-count SIDE TABLE
  * ([[countsTable]], bucketed like the store) maintained as APPEND-ONLY
  * deltas on every append (O(shard) write work, never a rewrite),
  * summed in-bucket at dedup time ([[cellCountTotals]]) and
  * semi-filtering BOTH probe and store sides against cells at-or-under
  * `maxCellVecs`. A capped cell means a bounded, observable recall loss
  * on exactly the vectors upstream exact dedup already collapses — and
  * the permanent fix (a larger / trained codebook) is a re-cluster, not
  * a per-shard cost. [[compactStore]] periodically collapses the
  * accumulated deltas and per-bucket files.
  *
  * First-wins over the union: store vectors were ingested earlier, so a
  * new vector matching any store vector (exact cosine ≥ `minCosine`
  * within probed cells) drops; the store never changes retroactively.
  * Same arithmetic as [[Similarity]] end to end (bit-identical LCG
  * centroids / integer-exact k-means, sequential-fold cosine), so both
  * codebook paths are oracle-checkable bit-for-bit (x45, capped x47,
  * trained streaming x49).
  *
  * Recall: a duplicate is found iff the store twin sits in one of the
  * new vector's probed cells. An exact duplicate always is (identical
  * vector → identical argbest cell, probed first); near-dups follow the
  * IVF recall curve pinned in RecallSpec for the batch path.
  */
object VectorStore {

  /** `(id, embedding, cell)` rows under an explicit coarse quantizer —
    * the persistable store layout (and what a new shard computes for
    * itself before probing). */
  def assignedWith(vecs: DataFrame, idCol: String, embCol: String,
                   scorer: CellScorer): DataFrame =
    vecs.select(col(idCol), col(embCol),
      scorer.cell(col(embCol)).as("cell"))

  /** [[assignedWith]] under the LCG codebook (the historical
    * signature, kept for the zero-training path). */
  def assigned(vecs: DataFrame, idCol: String, embCol: String,
               nCentroids: Int, dim: Int, seedOffset: Long): DataFrame =
    assignedWith(vecs, idCol, embCol, LcgCellScorer(nCentroids, dim, seedOffset))

  /** Name of the per-cell vector-count side table maintained alongside
    * a vector store `table` — APPEND-ONLY delta rows `(cell, n_vecs)`:
    * one row per cell per append, summed to totals at read time by
    * [[cellCountTotals]]. Bucketed by `cell` with the store's bucket
    * count, so the rollup and the hot-cell semi-filters run
    * bucket-aligned, Exchange-free. */
  def countsTable(table: String): String = s"${table}_cellcounts"

  /** Name of the persisted codebook table of a TRAINED store: the
    * [[KMeans.fit]] `(cid, c)` rows, k·dim quantized longs. Persisted
    * next to the store so appends, probes, and crash replays all assign
    * with the codebook the store was built with (re-deriving one from
    * shard data would silently fork the cell space). */
  def codebookTable(table: String): String = s"${table}_codebook"

  /** Load a trained store's persisted codebook as its scorer — k rows
    * collected driver-side (algorithm state, the [[KMeans]] broadcast
    * convention). Fails loudly on an LCG store. */
  def trainedScorer(spark: SparkSession, table: String): TrainedCellScorer = {
    val cb = codebookTable(table)
    require(spark.catalog.tableExists(cb),
      s"trainedScorer: '$cb' does not exist — '$table' is not a trained " +
        "store (write it with writeVectorStoreTrained, or recluster it)")
    TrainedCellScorer.fromCodebook(spark.table(cb))
  }

  /** Total per-cell store vector counts from the delta side table —
    * an in-bucket rollup over the compact count relation (an int and a
    * long per row), never the store. */
  def cellCountTotals(deltas: DataFrame): DataFrame =
    deltas.groupBy("cell").agg(sum("n_vecs").as("n_vecs"))

  /** Per-cell vector counts of an assigned relation. */
  private def cellCounts(assignedVecs: DataFrame): DataFrame =
    assignedVecs.groupBy("cell").agg(count(lit(1)).as("n_vecs"))

  /** Compute and persist the vector store for `vecs` as the bucketed
    * catalog table `table` (bucketed+sorted by `cell`), plus its
    * per-cell count side table ([[countsTable]] — the initial full
    * rollup is the first delta, derived by reading the just-written
    * store back in-bucket), under the LCG codebook. */
  def writeVectorStore(vecs: DataFrame, idCol: String, embCol: String,
                       nCentroids: Int, dim: Int, seedOffset: Long,
                       table: String, buckets: Int): Unit =
    writeStoreWith(vecs, idCol, embCol,
      LcgCellScorer(nCentroids, dim, seedOffset), table, buckets)

  /** [[writeVectorStore]] under a TRAINED codebook ([[KMeans.fit]]'s
    * `(cid, c)` frame): the codebook is persisted FIRST
    * ([[codebookTable]]) and the store is assigned by reading it back,
    * so the persisted codebook is by construction the one every store
    * row was assigned with — the invariant the append/replay paths
    * rely on. */
  def writeVectorStoreTrained(vecs: DataFrame, idCol: String, embCol: String,
                              codebook: DataFrame, table: String,
                              buckets: Int): Unit = {
    val spark = vecs.sparkSession
    codebook.select(col("cid").cast("int").as("cid"), col("c"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(codebookTable(table))
    writeStoreWith(vecs, idCol, embCol, trainedScorer(spark, table),
      table, buckets)
  }

  private def writeStoreWith(vecs: DataFrame, idCol: String, embCol: String,
                             scorer: CellScorer, table: String,
                             buckets: Int): Unit = {
    Bucketing.writeBucketed(assignedWith(vecs, idCol, embCol, scorer),
      table, Seq("cell"), buckets)
    val spark = vecs.sparkSession
    Bucketing.writeBucketed(cellCounts(spark.table(table)),
      countsTable(table), Seq("cell"), buckets)
    IngestLedger.reset(spark, table)
  }

  /** Append a shard's assigned vectors into an existing store (same
    * layout; the ingest loop appends SURVIVORS only, mirroring
    * [[IncrementalDedup.appendSignatures]]) and land the shard's
    * per-cell count DELTAS in the side table — O(shard) work, no
    * rewrite of either relation. Stores written before the side table
    * existed get it backfilled with a one-time in-bucket rollup. The
    * shard is consumed twice (store append + delta append), so the
    * narrow assigned rows are persisted for the duration. */
  def appendVectorsWith(vecs: DataFrame, idCol: String, embCol: String,
                        scorer: CellScorer, table: String,
                        buckets: Int): Unit = {
    val rows = assignedWith(vecs, idCol, embCol, scorer)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val spark = vecs.sparkSession
      val ct = countsTable(table)
      if (spark.catalog.tableExists(ct))
        // independent writes off the same persisted frame, order-free
        // crash contract (Reconcile recounts touched cells) — overlap
        // them, the IncrementalDedup.appendBanded rationale (guide §2.6)
        Bucketing.inParallel(
          Bucketing.appendBucketed(rows, table, Seq("cell"), buckets),
          Bucketing.appendBucketed(cellCounts(rows), ct, Seq("cell"),
            buckets))
      else {
        Bucketing.appendBucketed(rows, table, Seq("cell"), buckets)
        Bucketing.writeBucketed(cellCounts(spark.table(table)), ct,
          Seq("cell"), buckets)
      }
    } finally rows.unpersist()
  }

  /** [[appendVectorsWith]] under the LCG codebook. */
  def appendVectors(vecs: DataFrame, idCol: String, embCol: String,
                    nCentroids: Int, dim: Int, seedOffset: Long,
                    table: String, buckets: Int): Unit =
    appendVectorsWith(vecs, idCol, embCol,
      LcgCellScorer(nCentroids, dim, seedOffset), table, buckets)

  /** Periodic store maintenance — the vector twin of
    * [[IncrementalDedup.compactStore]]: rewrite the store to one file
    * per bucket (restoring the probe join's in-bucket Sort elision),
    * collapse any externally-introduced duplicate rows (full-row
    * distinct — the assigned layout is fully determined by the vector;
    * the ingest loop itself is exactly-once via the two-phase ledger,
    * [[graft.core.IngestLedger]] + [[graft.core.Reconcile]]), rebuild
    * the count side table from a fresh in-bucket recount (a staged
    * swap, like the store itself — a crash mid-rewrite never leaves
    * either table missing), and prune the ledger's applied markers
    * below the contiguous-commit watermark
    * ([[graft.core.IngestLedger.prune]]). */
  def compactStore(spark: SparkSession, table: String, buckets: Int): Unit = {
    Bucketing.compact(spark, table, Seq("cell"), buckets,
      prepare = _.dropDuplicates())
    Bucketing.replaceBucketed(cellCounts(spark.table(table)),
      countsTable(table), Seq("cell"), buckets)
    IngestLedger.prune(spark, table)
  }

  /** Path of the recluster-in-progress marker — the [[graft.core.IngestLedger]]
    * dir convention applied to the one maintenance pass that is not
    * single-table-atomic: written (with the pass's parameters) BEFORE
    * the codebook overwrite, deleted only after the counts rewrite, so
    * the window where the persisted codebook and the store's
    * assignments describe DIFFERENT cell spaces is always detectable. */
  private def reclusterMarker(spark: SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      IngestLedger.ledgerDir(spark, table), "recluster.intent")

  /** Is a recluster of `table` in progress (or crashed mid-pass)? */
  def reclusterPending(spark: SparkSession, table: String): Boolean = {
    val m = reclusterMarker(spark, table)
    m.getFileSystem(spark.sessionState.newHadoopConf()).exists(m)
  }

  /** Complete a crashed recluster by RE-RUNNING it with the marker's
    * recorded parameters (the crashed pass's intent wins over whatever
    * the resuming caller would pass). Safe at every crash point: the
    * trainer's input — the store's (id, embedding) rows — is unchanged
    * by any prefix of the pass (only the `cell` column is rewritten),
    * and [[KMeans.fit]] is deterministic, so the re-run fits the SAME
    * codebook and converges codebook, assignments, and counts to the
    * intended post-recluster state. Returns true when a repair ran. */
  def recoverRecluster(spark: SparkSession, table: String): Boolean = {
    val m = reclusterMarker(spark, table)
    val fs = m.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(m)) return false
    val in = fs.open(m)
    val params = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
    finally in.close()
    params.split('\t') match {
      case Array(buckets, idCol, embCol, k, rounds) =>
        recluster(spark, table, buckets.toInt, idCol, embCol,
          k.toInt, rounds.toInt)
      case _ => throw new IllegalStateException(
        s"recluster marker for '$table' is unreadable: '$params' — " +
          "complete the pass by calling recluster explicitly")
    }
    true
  }

  /** Compaction-time RE-CLUSTERING: retrain the codebook on the store's
    * CURRENT vectors ([[KMeans.fit]] — deterministic, integer-exact),
    * persist it ([[codebookTable]]), and rewrite store assignments and
    * cell counts under the new cells (staged swaps — the data is never
    * exposed half-rewritten). This is the permanent fix for a codebook
    * the corpus has outgrown (hot cells, drifted data): a one-off
    * O(store) maintenance pass, never a per-shard cost. The applied-
    * batch ledger is PRESERVED — the store still holds exactly the
    * batches it held, just re-bucketed.
    *
    * After a recluster the store is a TRAINED store: continue the loop
    * through the `*Trained` entry points. The pass is not crash-atomic
    * across its tables, but the whole span is covered by an INTENT
    * MARKER carrying the pass's parameters: a crash anywhere between
    * the codebook overwrite and the counts rewrite leaves the marker in
    * place, and [[ingestBatchTrained]] (so every resumed trained loop)
    * calls [[recoverRecluster]] at entry —
    * the pass re-runs deterministically (same vectors → same codebook)
    * instead of silently probing a cell space the store rows were never
    * assigned with (IngestRecoverySpec drives the crash window through
    * a resumed trained loop). */
  def recluster(spark: SparkSession, table: String, buckets: Int,
                idCol: String, embCol: String, k: Int, rounds: Int): Unit = {
    // the intent marker serializes these tab-separated; reject the two
    // characters that would make a crashed pass's marker unreadable AT
    // WRITE TIME (the unreadable-marker recovery path fails loudly, but
    // preventing the state beats surviving it)
    require(!Seq(idCol, embCol).exists(c => c.contains('\t') || c.contains('\n')),
      s"recluster: column names must not contain tab/newline " +
        s"(idCol='$idCol', embCol='$embCol') — they are serialized into " +
        "the crash-recovery intent marker")
    Bucketing.recoverSwap(spark, table)
    Bucketing.recoverSwap(spark, countsTable(table))
    val marker = reclusterMarker(spark, table)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(marker.getParent)
    val out = fs.create(marker, true)
    try out.write(
      s"$buckets\t$idCol\t$embCol\t$k\t$rounds".getBytes("UTF-8"))
    finally out.close()
    val vecs = spark.table(table).select(col(idCol), col(embCol))
    KMeans.fit(vecs, idCol, embCol, k, rounds)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(codebookTable(table))
    val scorer = trainedScorer(spark, table)
    Bucketing.replaceBucketed(assignedWith(vecs, idCol, embCol, scorer),
      table, Seq("cell"), buckets)
    Bucketing.replaceBucketed(cellCounts(spark.table(table)),
      countsTable(table), Seq("cell"), buckets)
    fs.delete(marker, false)
  }

  /** The continuous-ingest form ([[IncrementalDedup.streamIngest]]'s
    * vector twin): each micro-batch is a shard — dedup it against the
    * vector store (optionally hot-cell-capped through the count side
    * table, which the loop's appends advance BETWEEN micro-batches),
    * write the per-vector verdicts EXACTLY-ONCE (partitioned by
    * `batch_id` with dynamic partition overwrite, so a replayed batch
    * replaces its own partition), append the SURVIVORS' assigned
    * vectors, so the next micro-batch dedups against everything
    * ingested so far.
    *
    * In-loop compaction cadence — two alternatives: `compactEvery = N`
    * compacts every N batches (a compaction is a FULL-STORE rewrite —
    * O(store) work per trigger, so a production loop wants N ≫ 1, sized
    * so the rewrite amortizes over many O(shard) appends; x49's checked
    * `compactEvery = 1` is a COVERAGE configuration — prove dedup
    * survives the compaction boundary on every batch — not a production
    * template). `maxFilesPerBucket = M` is the PRODUCTION trigger
    * ([[graft.core.Bucketing.compactIfNeeded]]): compact only when the
    * store's actual file decay passes M appended generations — pays the
    * rewrite exactly when the scan-side cost has accrued, independent of
    * shard sizing.
    *
    * Upgrade note (pre-two-phase ledgers): before resuming a loop whose
    * previous run predates the ledger's INTENT markers and crashed
    * mid-append, run [[compactStore]] once — its full-row distinct and
    * recount collapse the old crash's duplicate rows, after which the
    * replay is safe ([[graft.core.IngestLedger]]'s upgrade note). */
  def streamIngest(newVecs: DataFrame, idCol: String, embCol: String,
                   table: String, buckets: Int, minCosine: Double,
                   nCentroids: Int, nProbe: Int, dim: Int, seedOffset: Long,
                   outPath: String, checkpoint: String,
                   maxCellVecs: Long = 0L, compactEvery: Int = 0,
                   maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Bucketing.streamLoop(newVecs, checkpoint, buckets, compactEvery,
        maxFilesPerBucket)(
      ingestBatch(_, _, idCol, embCol, table, buckets, minCosine, nCentroids,
        nProbe, dim, seedOffset, outPath, maxCellVecs))(
      (table, compactStore(_, table, buckets)))

  /** [[streamIngest]] over a TRAINED store (written by
    * [[writeVectorStoreTrained]] or converted by [[recluster]]): each
    * micro-batch assigns and probes with the store's PERSISTED codebook
    * — re-read per batch, so the loop keeps following the store even
    * across an interleaved recluster (a recluster that CRASHED mid-pass
    * is completed at batch entry — [[recoverRecluster]]). Same
    * exactly-once, compaction-cadence, and upgrade contracts as
    * [[streamIngest]]. */
  def streamIngestTrained(newVecs: DataFrame, idCol: String, embCol: String,
                          table: String, buckets: Int, minCosine: Double,
                          nProbe: Int, outPath: String, checkpoint: String,
                          maxCellVecs: Long = 0L, compactEvery: Int = 0,
                          maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Bucketing.streamLoop(newVecs, checkpoint, buckets, compactEvery,
        maxFilesPerBucket)(
      ingestBatchTrained(_, _, idCol, embCol, table, buckets, minCosine,
        nProbe, outPath, maxCellVecs))(
      (table, compactStore(_, table, buckets)))

  /** One micro-batch of [[streamIngest]] — also the non-streaming entry
    * point for a caller-driven ingest loop (LCG codebook). */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  idCol: String, embCol: String,
                  table: String, buckets: Int, minCosine: Double,
                  nCentroids: Int, nProbe: Int, dim: Int, seedOffset: Long,
                  outPath: String, maxCellVecs: Long = 0L): Unit =
    ingestBatchWith(batch, batchId, idCol, embCol, table, buckets,
      minCosine, LcgCellScorer(nCentroids, dim, seedOffset), nProbe,
      outPath, maxCellVecs)

  /** One micro-batch against a TRAINED store: the scorer is the store's
    * persisted codebook ([[trainedScorer]] — a k-row read, so appends
    * can never drift from the store's cell space). */
  def ingestBatchTrained(batch: DataFrame, batchId: Long,
                         idCol: String, embCol: String,
                         table: String, buckets: Int, minCosine: Double,
                         nProbe: Int, outPath: String,
                         maxCellVecs: Long = 0L): Unit = {
    Bucketing.recoverSwap(batch.sparkSession, table)
    // a recluster that crashed between its codebook overwrite and its
    // assignment rewrite would otherwise have this batch probe a cell
    // space the store rows were never assigned with — silently missing
    // duplicates; complete the pass (deterministic re-run) first
    recoverRecluster(batch.sparkSession, table)
    ingestBatchWith(batch, batchId, idCol, embCol, table, buckets,
      minCosine, trainedScorer(batch.sparkSession, table), nProbe,
      outPath, maxCellVecs)
  }

  /** The shared micro-batch body. Verdicts are eagerly materialized
    * (`localCheckpoint`) BEFORE the store append, so the lazy plan over
    * the store table cannot observe the shard's own vectors; a batch id
    * already committed in the store's applied-batch ledger
    * ([[graft.core.IngestLedger]]) is skipped outright, and one that
    * crashed mid-append replays through the reconcile path
    * ([[graft.core.Reconcile.appendExact]], reusing the committed
    * verdicts), so the at-least-once `foreachBatch` replay is
    * effectively exactly-once end to end. Entry completes any staging
    * swap a crashed compaction stranded ([[graft.core.Bucketing.recoverSwap]]
    * on both the store and its count side table). */
  def ingestBatchWith(batch: DataFrame, batchId: Long,
                      idCol: String, embCol: String,
                      table: String, buckets: Int, minCosine: Double,
                      scorer: CellScorer, nProbe: Int,
                      outPath: String, maxCellVecs: Long = 0L): Unit = {
    val spark = batch.sparkSession
    Bucketing.recoverSwap(spark, table)
    Bucketing.recoverSwap(spark, countsTable(table))
    // a pending recluster means the store is (or is mid-conversion to)
    // a TRAINED store: a caller-supplied scorer would probe a cell
    // space the store rows were not assigned with and silently miss
    // duplicates. The trained entry point repairs this automatically
    // (ingestBatchTrained → recoverRecluster, which clears the marker
    // BEFORE reaching here); any other caller must not proceed.
    require(!reclusterPending(spark, table),
      s"a recluster of '$table' is pending (crashed mid-pass) — resume " +
        "through ingestBatchTrained/streamIngestTrained (which complete " +
        "it), or run recoverRecluster first")
    if (IngestLedger.applied(spark, table, batchId)) return
    if (IngestLedger.intended(spark, table, batchId)) {
      // a prior attempt committed this batch's verdicts and crashed
      // inside its append: reuse the committed verdicts (a re-run of
      // the dedup would see the shard's own appended vectors —
      // surviving near-dup SIBLINGS would each match the other's store
      // row and flip from kept to dropped) and converge store + counts
      // to the exact post-append state
      val kept = spark.read.parquet(outPath)
        .filter(col("batch_id") === batchId && col("kept"))
        .select(col(idCol))
      val rows = assignedWith(batch.join(kept, Seq(idCol)), idCol, embCol,
          scorer)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.core.Reconcile.appendExact(rows, idCol, table,
        countsTable(table), "n_vecs", Seq("cell"), buckets)
      finally rows.unpersist()
    } else {
      val counts =
        if (maxCellVecs > 0) Some(spark.table(countsTable(table))) else None
      val verdicts = dedupAgainstStoreWith(batch, idCol, embCol,
          spark.table(table), minCosine, scorer, nProbe,
          maxCellVecs, counts)
        .localCheckpoint(true)
      verdicts.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outPath)
      IngestLedger.intent(spark, table, batchId)
      val kept = verdicts.filter(col("kept")).select(col(idCol))
      appendVectorsWith(batch.join(kept, Seq(idCol)), idCol, embCol,
        scorer, table, buckets)
    }
    IngestLedger.record(spark, table, batchId)
  }

  /** Each query/shard row's `nProbe` best cells under `scorer` (ties to
    * the lowest cell), carrying the embedding for the exact re-score.
    * Probe generation is ONE codegen'd expression per row
    * ([[CellScorer.topCells]]) followed by a narrow explode: O(k·dim)
    * compute and O(nProbe) output rows per vector — no k-wide score
    * explode, no Window, no Exchange (PlanSpec pins the subtree free of
    * both). This is the path that runs per SHARD vector in
    * [[dedupAgainstStoreWith]], so its cost shape is the one that has
    * to survive IVF-realistic k (thousands of cells) at 100 TB.
    *
    * CARRYING THE EMBEDDING HERE IS A MEASURED DECISION, not an
    * accident: the alternative — an (id, cell)-only probe with one
    * post-candidate embedding rejoin — cuts this exchange nProbe× but
    * must then move an embedding per CANDIDATE PAIR through the rejoin,
    * and candidates outnumber probes by the average cell occupancy.
    * Measured head-to-head (sf0.1 embeddings replicated 64× → 128 K
    * vectors, k = 256, nProbe = 4, broadcast off, 45.3 M candidates):
    * embedding-carrying probe 18.3 MiB total shuffle write / ~3 s;
    * (id, cell) probe + rejoin 614.5 MiB / ~8 s — 34× the wire bytes,
    * ~2.6× the wall, identical verdicts. The rejoin could only win
    * where average probed-cell occupancy < 1, i.e. a store so sparse
    * the IVF is pointless. Rejected. */
  private def probeCells(df: DataFrame, idCol: String, embCol: String,
                         scorer: CellScorer, nProbe: Int,
                         outId: String): DataFrame =
    df.select(col(idCol).as(outId), col(embCol).as("__qe"),
      explode(scorer.topCells(col(embCol), nProbe)).as("cell"))

  /** Deduplicate a NEW shard of vectors against a persisted `store`
    * under the LCG codebook (the historical signature). */
  def dedupAgainstStore(newVecs: DataFrame, idCol: String, embCol: String,
                        store: DataFrame, minCosine: Double,
                        nCentroids: Int, nProbe: Int, dim: Int,
                        seedOffset: Long, maxCellVecs: Long = 0L,
                        cellCounts: Option[DataFrame] = None): DataFrame =
    dedupAgainstStoreWith(newVecs, idCol, embCol, store, minCosine,
      LcgCellScorer(nCentroids, dim, seedOffset), nProbe, maxCellVecs,
      cellCounts)

  /** Deduplicate a NEW shard of vectors against a persisted `store`
    * (a table whose rows were assigned with the SAME scorer — for a
    * trained store, [[trainedScorer]]). Each new vector probes its
    * `nProbe` best cells; store vectors in those cells are scored with
    * the exact sequential-fold cosine; ≥ `minCosine` is a duplicate.
    * The merge hint pins the sort-merge strategy so a small test-scale
    * shard cannot silently broadcast and bypass the bucketed layout
    * being proven.
    *
    * `maxCellVecs > 0` engages the hot-cell cap: cells carrying MORE
    * than that many STORE vectors (per `cellCounts` — the
    * [[countsTable]] side table, required when the cap is on) are
    * excluded from candidate generation on BOTH join sides. Both
    * semi-joins are bucket-aligned (counts and store share the bucket
    * layout), so the store side stays Exchange-free with the cap
    * engaged (PlanSpec pins this). 0 (the default) disables the cap.
    *
    * @return one row per new-shard vector: `(id, kept, n_store_matches,
    *         dup_of)` — `dup_of` the smallest matching store id (null
    *         when kept). */
  def dedupAgainstStoreWith(newVecs: DataFrame, idCol: String, embCol: String,
                            store: DataFrame, minCosine: Double,
                            scorer: CellScorer, nProbe: Int,
                            maxCellVecs: Long = 0L,
                            cellCounts: Option[DataFrame] = None): DataFrame = {
    require(maxCellVecs == 0 || cellCounts.nonEmpty,
      "maxCellVecs > 0 requires cellCounts (the store's countsTable)")
    val probes0 = probeCells(newVecs, idCol, embCol, scorer, nProbe, "new_id")
    val (probes, storeSide) =
      if (maxCellVecs > 0) {
        // totals from the append-only delta rows, summed in-bucket; the
        // probe-side filter prunes work only (an over-cap probe finds
        // no store rows anyway), the store-side filter is the semantics
        val ok = cellCountTotals(cellCounts.get)
          .filter(col("n_vecs") <= maxCellVecs)
          .select("cell")
        (probes0.join(ok.hint("merge"), Seq("cell"), "left_semi"),
          store.join(ok.hint("merge"), Seq("cell"), "left_semi"))
      } else (probes0, store)
    val scored = probes
      .join(storeSide.hint("merge"), Seq("cell"))
      .filter(col("new_id") =!= col(idCol))
      .select(col("new_id"), col(idCol).as("store_id"),
        Similarity.cosine(col("__qe"), col(embCol)).as("cos"))
      .filter(col("cos") >= minCosine)
    // collapse to the (new, store) pair grain before the per-doc
    // rollup: a no-op on a clean store (a store vector lives in exactly
    // one cell and each cell is probed at most once), but the guard
    // that keeps store rows duplicated by a replayed append
    // (IngestLedger's residual window) from inflating n_store_matches —
    // the same grain IncrementalDedup.dedupBanded collapses to
    val pairs = scored.groupBy("new_id", "store_id")
      .agg(max("cos").as("cos"))
    val perDoc = pairs.groupBy(col("new_id").as(idCol))
      .agg(count(lit(1)).as("n_store_matches"), min("store_id").as("dup_of"))
    newVecs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("dup_of").isNull.as("kept"),
        coalesce(col("n_store_matches"), lit(0L)).as("n_store_matches"),
        col("dup_of"))
  }

  /** Approximate-nearest-neighbor SERVING from the persisted store: the
    * [[Similarity.ivfTopKWith]] plan with the corpus-side assignment
    * READ from the store's `cell` column instead of recomputed — the
    * payoff of keeping assignments materialized. `queries` must be
    * small (broadcast); output `(query_id, rank, neighbor_id, sim)`,
    * rank 1..k, ties by neighbor id, self-matches excluded. */
  def topKAgainstStore(queries: DataFrame, idCol: String, embCol: String,
                       store: DataFrame, k: Int, scorer: CellScorer,
                       nProbe: Int): DataFrame = {
    val probes = probeCells(queries, idCol, embCol, scorer, nProbe, "query_id")
    val scored = store.join(broadcast(probes), Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        Similarity.cosine(col("__qe"), col(embCol)).as("sim"))
      .distinct() // replay-duplicated store rows collapse to one hit
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }
}
