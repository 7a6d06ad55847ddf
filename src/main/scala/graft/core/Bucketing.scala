package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Bucketed-table maintenance (SURVEY.md §4): the storage-side shuffle
  * eliminator for the engine's recurring join/dedup keys.
  *
  * Writing CORE bucketed by `symbol` (and the band/signature tables by
  * their band keys) means every downstream equi-join, latest-wins dedup
  * window, or groupBy on that key reads already-co-partitioned,
  * already-sorted buckets — Catalyst drops the `Exchange` entirely (the
  * narrow in-bucket `Sort` additionally disappears when each bucket is
  * one file, e.g. after a compaction pass). At 100 TB this converts the daily
  * CORE merge and the fact build from full-table shuffles into narrow
  * per-bucket work; BucketingSpec pins the no-Exchange plan.
  *
  * Bucketed writes go through the session catalog (`saveAsTable` —
  * bucket metadata lives in the catalog, not the parquet files), which
  * is how a warehouse deployment manages these tables anyway.
  */
object Bucketing {

  /** Repartition `df` onto the bucket layout it is about to be written
    * in: `repartition(buckets, keys)` uses the SAME hash family as the
    * bucket id (Murmur3 pmod), so with numPartitions = buckets each
    * task holds exactly one bucket's rows and the bucketed write emits
    * AT MOST one file per bucket (empty buckets write nothing) —
    * deterministic regardless of the input's task layout. Without it a
    * bucketed write emits one file per (task × bucket): a fresh
    * 32-task write of a 4-bucket store would be born with 128 files,
    * its scan would never qualify for the in-bucket Sort elision, and
    * [[needsCompaction]]'s generation arithmetic would be meaningless.
    * When the input already satisfies the layout (a pinned bucketed
    * scan — [[compact]]), the planner elides the exchange entirely.
    *
    * Cost model: one O(rows-being-written) exchange per write — on the
    * append path that is O(shard), never O(store). The bucket count is
    * therefore also the write path's parallelism unit (one task per
    * bucket): size `buckets` for the TARGET corpus the way any bucketed
    * warehouse table is sized (hundreds-to-thousands at 100 TB), not
    * for the first shard. */
  private def onBucketLayout(df: DataFrame, keys: Seq[String],
                             buckets: Int): DataFrame =
    df.repartition(buckets, keys.map(col): _*)

  /** Write `df` as a bucketed, per-bucket-sorted catalog table — ONE
    * file per (non-empty) bucket, so a fresh store starts with the
    * in-bucket Sort elision available and exactly one "generation" of
    * files (the [[needsCompaction]] unit). */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit =
    onBucketLayout(df, keys, buckets).write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Append to an existing bucketed table with the SAME layout (Spark
    * rejects a mismatched spec): new rows land as at most one
    * additional file per bucket per append generation, so downstream
    * joins stay Exchange-free and [[dataFileCount]] counts decay
    * exactly — the recurring-ingest write path (each shard appends,
    * nothing rewrites). Periodic compaction ([[compact]]) restores
    * one-file-per-bucket and with it the sort-elision fast path. */
  def appendBucketed(df: DataFrame, table: String, keys: Seq[String],
                     buckets: Int): Unit = {
    // `mode("append").saveAsTable` on a NONEXISTENT table silently
    // creates it — a typo'd store name would fork a second empty store
    // instead of failing, and every later append/dedup would run against
    // the wrong one. Appends are store MAINTENANCE: the store must have
    // been created by [[writeBucketed]] first.
    if (!df.sparkSession.catalog.tableExists(table))
      throw new IllegalArgumentException(
        s"appendBucketed: table '$table' does not exist — create it with " +
          "writeBucketed first (refusing to silently fork a new store)")
    onBucketLayout(df, keys, buckets).write.mode("append")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Run two INDEPENDENT side effects as concurrent driver-thread jobs
    * and return both results (guide §2.6 — actions are only sequential
    * because the driver calls them sequentially; the second job's tasks
    * back-fill the executor slots the first one's tail leaves idle).
    * Used for the store + count-delta double appends, whose crash
    * contract is order-free by construction: the reconcile path
    * ([[Reconcile.appendExact]]) converges store and counts from ANY
    * committed subset via a touched-key recount, so which append
    * commits first never mattered. Both thunks run on a pool of their
    * own (never the shared global one, so nested calls cannot starve it)
    * and are awaited; the first failure propagates after both have
    * settled, carrying the second as suppressed (a half-committed pair
    * is exactly the state the intent marker already brackets). */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val (fa, fb) = (Future(a), Future(b))
      (Try(Await.result(fa, Duration.Inf)), Try(Await.result(fb, Duration.Inf))) match {
        case (Failure(ea), Failure(eb)) => ea.addSuppressed(eb); throw ea
        case (ra, rb) => (ra.get, rb.get)
      }
    } finally pool.shutdown()
  }

  /** Staging-table name used by the swap-based rewrites. */
  private def stagingName(table: String): String = s"${table}__compact"

  /** Complete a crashed staging swap: if `table` is missing but its
    * staging twin exists, a prior [[replaceBucketed]] crashed between
    * its DROP and RENAME — the data is intact in the staging table, so
    * finish the rename. Returns true when a recovery happened. Called
    * at the entry of every path that could encounter the stranded state
    * ([[compact]], [[replaceBucketed]], the stores' `ingestBatch`), so
    * the window self-heals on the next touch instead of requiring
    * manual repair. A stale staging table NEXT TO a live `table` (crash
    * after the staging write, before the DROP) needs no action — the
    * next rewrite overwrites it. */
  def recoverSwap(spark: SparkSession, table: String): Boolean = {
    val staging = stagingName(table)
    if (!spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(staging)) {
      spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
      spark.catalog.refreshTable(table)
      true
    } else false
  }

  /** Replace `table`'s contents with `df` via a STAGING swap: write the
    * new rows to `table__compact` (fully materialized — `df` may read
    * from `table` itself), then DROP the original and RENAME the
    * staging table into place. The files being read are never
    * overwritten in place; a crash before the DROP leaves the original
    * untouched, and a crash between DROP and RENAME strands a state
    * that [[recoverSwap]] (run at entry here and in the maintenance /
    * ingest paths) completes on the next touch. If `table` does not
    * exist yet, this is just a create. */
  def replaceBucketed(df: DataFrame, table: String, keys: Seq[String],
                      buckets: Int): Unit = {
    val spark = df.sparkSession
    recoverSwap(spark, table)
    if (!spark.catalog.tableExists(table)) {
      writeBucketed(df, table, keys, buckets)
      return
    }
    val staging = stagingName(table)
    writeBucketed(df, staging, keys, buckets)
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    // the swap puts NEW files under the SAME table name/path: refresh
    // this session's relation + file-listing caches so later reads do
    // not chase dropped files. Standard Spark cross-session semantics
    // apply to everyone else — any OTHER session holding a cached
    // relation of `table` (e.g. the batch session while a streaming
    // clone compacts in its foreachBatch) must `REFRESH TABLE` before
    // its next read, exactly as for any externally-modified table.
    spark.catalog.refreshTable(table)
  }

  /** Number of parquet data files currently under `table`'s location.
    * Because every write path lands on the bucket layout
    * ([[onBucketLayout]] — at most one file per bucket per write), this
    * is EXACTLY Σ over generations of that generation's non-empty
    * buckets: ≤ buckets after a fresh write or a [[compact]], growing
    * by ≤ buckets per [[appendBucketed]] — the files-per-bucket decay
    * metric [[needsCompaction]] triggers on. One filesystem listing,
    * no Spark job; a maintenance-cadence cost, not a per-read one. */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(loc)) 0
    else fs.listStatus(loc).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Has `table` decayed past `maxFilesPerBucket` appended generations?
    * The FILES-PER-BUCKET compaction trigger — the alternative to a
    * fixed every-N-batches cadence: a fixed N over-compacts when shards
    * are small (each compaction is an O(table) rewrite) and
    * under-compacts when they are large; triggering on the actual file
    * decay pays the rewrite exactly when the scan-side cost (open-file
    * overhead, lost in-bucket Sort elision) has accrued. */
  private def needsCompaction(spark: SparkSession, table: String,
                              buckets: Int, maxFilesPerBucket: Int): Boolean = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    dataFileCount(spark, table) > buckets * maxFilesPerBucket
  }

  /** Run a store's `compact` only when `table` has decayed past
    * `maxFilesPerBucket` appended generations ([[needsCompaction]]) —
    * the production cadence every store family shares. Entry completes
    * a swap a crashed compaction stranded ([[recoverSwap]]), so the
    * decay is measured on the live table. Returns whether `compact`
    * ran. */
  def compactIfNeeded(spark: SparkSession, table: String, buckets: Int,
                      maxFilesPerBucket: Int)(compact: => Unit): Boolean = {
    recoverSwap(spark, table)
    val due = needsCompaction(spark, table, buckets, maxFilesPerBucket)
    if (due) compact
    due
  }

  /** Shared in-loop maintenance cadence for the store families' ingest
    * loops (one policy, one place): `compactEvery = N` compacts
    * unconditionally every N batches — each compaction is a FULL-STORE
    * rewrite, so a production loop wants N ≫ 1; the checked streaming
    * queries' N = 1 is a coverage choice (dedup must survive the
    * compaction boundary on every batch). Otherwise `maxFilesPerBucket =
    * M > 0` compacts only when the store's measured file decay passes
    * the bound ([[compactIfNeeded]] — the PRODUCTION cadence). Runs
    * AFTER the batch's ledger record, outside the exactly-once
    * contract: compaction is best-effort, idempotent under replay, and
    * a crash inside its staging swap self-heals at the next
    * maintenance/ingest entry ([[recoverSwap]]). The batch's ingest
    * runs first and heals everything else a family keeps next to its
    * store before the decay check — the count side tables' swaps
    * ([[graft.ext.IncrementalDedup.ingestBatch]],
    * [[graft.ext.VectorStore.ingestBatchWith]]) and a crashed
    * recluster ([[graft.ext.VectorStore.ingestBatchTrained]]). */
  def maintainInLoop(spark: SparkSession, table: String, buckets: Int,
                     batchId: Long, compactEvery: Int,
                     maxFilesPerBucket: Int)(compact: => Unit): Unit =
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) compact
    else if (maxFilesPerBucket > 0)
      compactIfNeeded(spark, table, buckets, maxFilesPerBucket)(compact)

  /** The continuous-ingest loop every store family runs: drain `source`
    * with `Trigger.AvailableNow` (process what is pending, stop) under
    * the checkpoint at `checkpoint`; each micro-batch runs
    * `ingest(batch, batchId)` — the family's ledgered, exactly-once
    * batch — then [[maintainInLoop]] on each `(table, compact)` of
    * `stores` in order, with the micro-batch's session (the session
    * that must see the compacted tables' refreshed file listings). */
  def streamLoop(source: DataFrame, checkpoint: String, buckets: Int,
                 compactEvery: Int, maxFilesPerBucket: Int)
                (ingest: (DataFrame, Long) => Unit)
                (stores: (String, SparkSession => Unit)*): StreamingQuery =
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingest(batch, batchId)
        val spark = batch.sparkSession
        stores.foreach { case (table, compact) =>
          maintainInLoop(spark, table, buckets, batchId, compactEvery,
            maxFilesPerBucket)(compact(spark))
        }
      }
      .start()

  /** Compact an accumulated (much-appended) bucketed table back to ONE
    * file per bucket, restoring the scan's per-bucket sortedness and
    * with it the sort-merge join's Sort elision (a bucketed scan only
    * reports its output as sorted when each bucket is a single file —
    * and only under `spark.sql.legacy.bucketedTableScan.outputOrdering`,
    * since deriving sortedness costs a planning-time file listing;
    * worth turning on exactly for freshly-compacted stores, where it is
    * guaranteed to succeed — BucketingSpec pins the elision). At 100 TB
    * with daily shard appends, thousands of per-bucket files is the
    * default state — this is the periodic maintenance pass that resets
    * it, and fewer/larger files pay off in scan and open-file cost even
    * with the ordering conf left at its default.
    *
    * Mechanics: the write path itself lands on the bucket layout
    * ([[onBucketLayout]] — one task per bucket, one file per bucket).
    * The rewrite lands through [[replaceBucketed]]'s staging swap
    * (entry additionally completes any swap a previous compaction left
    * stranded — [[recoverSwap]]).
    *
    * `prepare` runs on the accumulated rows before the rewrite —
    * [[graft.ext.IncrementalDedup.compactStore]] passes a full-row
    * distinct to collapse rows duplicated by an ingest replay that
    * crashed between its store append and its ledger record. */
  def compact(spark: SparkSession, table: String, keys: Seq[String],
              buckets: Int,
              prepare: DataFrame => DataFrame = identity): Unit = {
    recoverSwap(spark, table)
    if (!spark.catalog.tableExists(table))
      throw new IllegalArgumentException(
        s"compact: table '$table' does not exist")
    // pin the BUCKETED scan (autoBucketedScan=false disables the
    // planner's auto-downgrade to a plain file scan): the planner
    // elides the write path's repartition either way because the
    // bucketed layout already "satisfies" it, but after the
    // auto-downgrade the repartition would shuffle for real. With the
    // bucketed scan pinned, the scan is one partition per bucket, the
    // repartition elides as genuinely redundant, and the identity path
    // compacts with NO shuffle at all.
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try replaceBucketed(prepare(spark.table(table)), table, keys, buckets)
    finally spark.conf.set(conf, prev)
  }
}
