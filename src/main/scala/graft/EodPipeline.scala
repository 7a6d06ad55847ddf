package graft

import graft.core.{Dedup, Upsert}
import graft.dim.{DimDate, DimSecurity}
import graft.fact.FactDailyPrice
import graft.ingest.EodCsvSource
import graft.metrics.{Audit, PostMergeMetrics, PreMergeMetrics}
import graft.quality.Gates
import graft.schema.Schemas
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The end-to-end EOD cascade (SURVEY.md §3.1) — the whole reference DAG
  * (`dags/get_securities_data.py:170-171`:
  * `copy → check → premerge → merge_core → [dim_security, dim_date] →
  * fact → postmerge`) collapsed into one driver call per trading date.
  *
  * Layer tables are parquet directories under `warehouseDir`; the
  * date-scoped ones (RAW/CORE/REJECT/FACT) are hive-partitioned
  * `<table>/trade_date=YYYY-MM-DD/` (the date only in the directory name),
  * and a run rewrites only its own date's directory — the reference's
  * per-`TRADE_DATE` MERGE (SURVEY.md §2.5). Every write is one staged swap
  * (`publish`) that the next run's `recover` completes or discards after a
  * crash. Storage goes through the Hadoop `FileSystem` API (file:/, hdfs:/,
  * s3a:/ ...); the swap is a directory rename, atomic on HDFS and local
  * disk but a non-atomic per-file copy on object stores, where a
  * deployment should point a catalog entry at the new directory instead.
  */
final case class RunResult(tradeDate: java.sql.Date,
                           pre: PreMergeMetrics, post: PostMergeMetrics)

class EodPipeline(spark: SparkSession, warehouseDir: String) {
  import EodPipeline._

  private def path(t: String) = s"$warehouseDir/$t"
  private val fs: FileSystem =
    new Path(warehouseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readOrEmpty(t: String, schema: StructType): DataFrame =
    if (fs.exists(new Path(path(t)))) spark.read.schema(schema).parquet(path(t))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Run the full cascade for one trading date over a bronze CSV path.
    *
    * `forceReload = false` (default) gives COPY's load-history semantics
    * (SURVEY.md §2.1 S7): bronze files whose name is already present in
    * the RAW partition are skipped, so reruns are no-ops at the RAW layer
    * too. `forceReload = true` reproduces the reference's literal
    * `FORCE=TRUE` (`dags/sql/1. copy_to_raw.sql:39`): blind re-append —
    * RAW then duplicates on rerun exactly as the reference's would, and
    * downstream stays correct through the latest-wins dedup. */
  def run(bronzeCsvPath: String, runDate: java.sql.Date,
          ingestTs: Option[java.sql.Timestamp] = None,
          forceReload: Boolean = false): RunResult = {
    // t04.1 copy_to_raw (S5/S6). The skip count is measured at READ
    // grain (before date scoping — a skipped row has no parseable
    // trade_date to scope by): rows_parsed − rows_loaded, the COPY
    // load-history number (`1. copy_to_raw.sql:38` ON_ERROR=CONTINUE).
    val parsed = EodCsvSource.readParsed(spark, bronzeCsvPath, ingestTs)
    val skipped = parsed.filter(EodCsvSource.keyFieldsMissing).count()
    val batch = EodCsvSource.forDate(
      parsed.filter(!EodCsvSource.keyFieldsMissing), runDate)
    runBatch(batch, runDate, ingestTs, forceReload, skippedCnt = skipped)
  }

  /** [[run]] under the reference's task-retry policy
    * (`dags/get_securities_data.py:30-33`: retries 3×, 5 min apart —
    * [[graft.util.Retry]]): transient failures (a source outage, an
    * object-store blip) retry whole-stage like the reference's Airflow
    * tasks; deterministic failures exhaust the budget and rethrow.
    * Safe to re-enter mid-cascade: RAW appends are load-history-guarded
    * by `_src_file` and every merge is rerun-idempotent
    * (EodPipelineSpec pins both). */
  def runWithRetry(bronzeCsvPath: String, runDate: java.sql.Date,
                   ingestTs: Option[java.sql.Timestamp] = None,
                   forceReload: Boolean = false,
                   retries: Int = graft.util.Retry.DefaultRetries,
                   delayMs: Long = graft.util.Retry.DefaultDelayMs,
                   sleep: Long => Unit = Thread.sleep): RunResult =
    graft.util.Retry.retry(retries, delayMs, sleep)(() =>
      run(bronzeCsvPath, runDate, ingestTs, forceReload))

  /** The cascade from an already-read RAW-shaped batch (one run date).
    * This is the entry point the streaming variant reuses per micro-batch
    * (SURVEY.md §2.9) — stages t04.2..t04.7 are identical in batch and
    * streaming. */
  def runBatch(batch: DataFrame, runDate: java.sql.Date,
               ingestTs: Option[java.sql.Timestamp] = None,
               forceReload: Boolean = false,
               skippedCnt: Long = 0L): RunResult = {
    recover()
    def publishDate(df: DataFrame, table: String): Unit =
      publish(df.filter(col("trade_date") === lit(runDate)).drop("trade_date"),
        s"$table/trade_date=$runDate")
    // t04.2 check (A2)
    Gates.requireNonEmpty(batch, s"raw batch $runDate")

    // RAW is append-only per date: existing partition rows survive new
    // files for the same date (the reference's RAW never drops rows).
    val raw0 = readOrEmpty(RawTable, Schemas.raw)
      .filter(col("trade_date") === lit(runDate))
    val rawIncoming =
      if (forceReload) batch
      else batch.join(raw0.select("_src_file").distinct(), Seq("_src_file"), "left_anti")
    publishDate(raw0.unionByName(rawIncoming), RawTable)

    // t04.3 premerge metrics (Q1) — against CORE as it stands
    val core0 = readOrEmpty(CoreTable, Schemas.core)
    val pre = Audit.preMerge(batch, core0, skippedCnt)

    // t04.4 merge_core: reject quarantine (M1) + dedup (W1) + upsert (M2).
    // Symbols are normalized BEFORE the dedup window (the reference's
    // src_raw CTE, `4. merge_core.sql:58`) so case/whitespace variants of
    // one ticker collapse into one dedup group; same for the reject rows
    // (`4. merge_core.sql:28`). Null-volume rows land in neither branch
    // (reference three-valued `>= 0` / `< 0` — see Gates.referenceSplit).
    val normalized = batch.withColumn("symbol", upper(trim(col("symbol"))))
    val (valid, rejects) = Gates.referenceSplit(normalized)
    val reject0 = readOrEmpty(RejectTable, Schemas.reject)
      .filter(col("trade_date") === lit(runDate))
    val rejectNew = Upsert.insertOnly(
      reject0, Gates.annotateReject(rejects, "NEGATIVE_VOLUME"),
      Seq("symbol", "trade_date"))
    publishDate(rejectNew, RejectTable)

    val loadTs = ingestTs.map(t => lit(t)).getOrElse(current_timestamp())
    val deduped = Dedup.latestIngestWins(valid)
      .select(col("trade_date"), col("symbol"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .withColumn("load_ts", loadTs)
    val coreNew = Upsert.merge(
      core0.filter(col("trade_date") === lit(runDate)), deduped,
      Seq("symbol", "trade_date"))
    publishDate(coreNew, CoreTable)

    // t04.5 dims (M3/M4) — insert-only, not date-partitioned
    val dim0 = readOrEmpty(DimSecurityTable, Schemas.dimSecurity)
    val dimSec = DimSecurity.merge(dim0, deduped.select("symbol"))
    publish(dimSec, DimSecurityTable)

    val dimDate0 = readOrEmpty(DimDateTable, Schemas.dimDate)
    val dimDate = Upsert.insertOnly(dimDate0,
      DimDate.derive(deduped.select("trade_date"), "trade_date"), Seq("date_sk"))
    publish(dimDate, DimDateTable)

    // t04.6 fact (J3/M5)
    val core1 = readOrEmpty(CoreTable, Schemas.core)
      .filter(col("trade_date") === lit(runDate))
    val factNew = FactDailyPrice.build(core1,
      spark.read.parquet(path(DimSecurityTable)),
      spark.read.parquet(path(DimDateTable)))
    publishDate(factNew, FactTable)

    // t04.7 postmerge metrics (Q2)
    val post = Audit.postMerge(
      readOrEmpty(CoreTable, Schemas.core),
      readOrEmpty(FactTable, Schemas.fact), runDate)
    RunResult(runDate, pre, post)
  }

  private val staging = new Path(path("_staging"))

  /** The one write path: `df` becomes `<warehouse>/<rel>`. It is written
    * once to `_staging/<rel>`, and only after that job has committed is
    * the live `<rel>` deleted and the staged directory renamed into place,
    * so `df` may lazily read the very directory it replaces. */
  private def publish(df: DataFrame, rel: String): Unit = {
    df.write.mode("overwrite").parquet(new Path(staging, rel).toString)
    swap(rel)
    fs.delete(staging, true)
  }

  private def swap(rel: String): Unit = {
    val (from, to) = (new Path(staging, rel), new Path(path(rel)))
    fs.delete(to, true)
    fs.mkdirs(to.getParent)
    // rename reports failure by its return value, not by an exception
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")
  }

  /** Settle what a crashed [[publish]] left in `_staging` (units are `<dim>`
    * or `<table>/trade_date=<d>`): a committed unit (`_SUCCESS`) is swapped
    * into place, a partial one is deleted. */
  private def recover(): Unit = if (fs.exists(staging)) {
    for (t <- fs.listStatus(staging).map(_.getPath.getName);
         dates = fs.listStatus(new Path(staging, t)).toSeq.map(_.getPath.getName)
           .filter(_.startsWith("trade_date="));
         rel <- if (dates.isEmpty) Seq(t) else dates.map(d => s"$t/$d")
         if fs.exists(new Path(staging, s"$rel/_SUCCESS")))
      swap(rel)
    fs.delete(staging, true)
  }
}

object EodPipeline {
  val RawTable = "raw_eod_prices"
  val CoreTable = "core_eod_prices"
  val RejectTable = "core_eod_prices_reject"
  val DimSecurityTable = "dim_security"
  val DimDateTable = "dim_date"
  val FactTable = "fact_daily_price"
  val AllTables: Seq[String] =
    Seq(RawTable, CoreTable, RejectTable, DimSecurityTable, DimDateTable, FactTable)
}
