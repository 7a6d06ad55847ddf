package perfbench

import graft.{EodPipeline, RunResult}
import graft.core.{Dedup, Upsert}
import graft.dim.{DimDate, DimSecurity}
import graft.fact.FactDailyPrice
import graft.ingest.EodCsvSource
import graft.metrics.Audit
import graft.quality.Gates
import graft.schema.Schemas
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The table helpers `EodPipeline` keeps private, rebuilt from public
  * parts: read a table or an empty frame of its schema, and replace a
  * non-partitioned table by writing it aside and renaming it in. */
final class WarehouseDir(spark: SparkSession, dir: String) {
  val fs: FileSystem = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(t: String): String = s"$dir/$t"

  def readOrEmpty(t: String, schema: StructType): DataFrame =
    if (fs.exists(new Path(path(t)))) spark.read.schema(schema).parquet(path(t))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def replace(df: DataFrame, t: String): Unit = {
    val tmp = new Path(path(t) + "__tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(new Path(path(t)), true)
    if (!fs.rename(tmp, new Path(path(t)))) throw new java.io.IOException(s"rename $tmp failed")
  }
}

/** Replays one `EodPipeline.run` stage by stage against a copy of the
  * warehouse, calling the same public functions in the same order and
  * forcing each with the same action the cascade uses, each call in its
  * own span. The cascade's private date-partition write (scratch write,
  * then partition overwrite) is repeated from its public parts: the
  * scratch write, which computes a merge, is `core.merge`, the overwrite
  * is `core.write`. */
final class StageProbe(spark: SparkSession, wh: WarehouseDir, tracer: Tracer) {
  import EodPipeline._
  import wh.{path, readOrEmpty}

  private def writeDatePartition(df: DataFrame, table: String, d: java.sql.Date,
                                 merge: String, write: String): Unit = {
    val scratch = path(s"_tmp/$table")
    tracer.span(merge)(df.filter(col("trade_date") === lit(d)).write.mode("overwrite").parquet(scratch))
    tracer.span(write) {
      Upsert.overwriteDatePartition(spark, spark.read.parquet(scratch), path(table))
      wh.fs.delete(new Path(scratch), true)
    }
    ()
  }

  /** The probe's RunResult and the rows the CSV scan parsed. */
  def run(op: Op): (RunResult, Long) = {
    val ts = Some(op.ts)
    val d = op.date
    val (parsed, skipped) = tracer.span("ingest.read") {
      val p = EodCsvSource.readParsed(spark, op.path, ts)
      (p, p.filter(EodCsvSource.keyFieldsMissing).count())
    }._1
    val rowsParsed = parsed.count()
    val batch = EodCsvSource.forDate(parsed.filter(!EodCsvSource.keyFieldsMissing), d)
    tracer.span("quality.gate")(Gates.requireNonEmpty(batch, s"raw batch $d"))

    val raw0 = readOrEmpty(RawTable, Schemas.raw).filter(col("trade_date") === lit(d))
    val rawIncoming = batch.join(raw0.select("_src_file").distinct(), Seq("_src_file"), "left_anti")
    writeDatePartition(raw0.unionByName(rawIncoming), RawTable, d, "core.merge", "core.write")

    val core0 = readOrEmpty(CoreTable, Schemas.core)
    val pre = tracer.span("metrics.premerge")(Audit.preMerge(batch, core0, skipped))._1

    val normalized = batch.withColumn("symbol", upper(trim(col("symbol"))))
    val (valid, rejects) = Gates.referenceSplit(normalized)
    val reject0 = readOrEmpty(RejectTable, Schemas.reject).filter(col("trade_date") === lit(d))
    writeDatePartition(Upsert.insertOnly(reject0, Gates.annotateReject(rejects, "NEGATIVE_VOLUME"),
      Seq("symbol", "trade_date")), RejectTable, d, "core.merge", "core.write")

    val deduped = Dedup.latestIngestWins(valid)
      .select(col("trade_date"), col("symbol"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .withColumn("load_ts", lit(op.ts))
    writeDatePartition(Upsert.merge(core0.filter(col("trade_date") === lit(d)), deduped,
      Seq("symbol", "trade_date")), CoreTable, d, "core.merge", "core.write")

    tracer.span("dim.security") {
      val dim0 = readOrEmpty(DimSecurityTable, Schemas.dimSecurity)
      wh.replace(DimSecurity.merge(dim0, deduped.select("symbol")), DimSecurityTable)
    }
    tracer.span("dim.date") {
      val dimDate0 = readOrEmpty(DimDateTable, Schemas.dimDate)
      wh.replace(Upsert.insertOnly(dimDate0,
        DimDate.derive(deduped.select("trade_date"), "trade_date"), Seq("date_sk")), DimDateTable)
    }
    val core1 = readOrEmpty(CoreTable, Schemas.core).filter(col("trade_date") === lit(d))
    val factNew = FactDailyPrice.build(core1,
      spark.read.parquet(path(DimSecurityTable)), spark.read.parquet(path(DimDateTable)))
    writeDatePartition(factNew, FactTable, d, "fact.build", "fact.build")

    val post = tracer.span("metrics.postmerge")(Audit.postMerge(
      readOrEmpty(CoreTable, Schemas.core), readOrEmpty(FactTable, Schemas.fact), d))._1
    (RunResult(d, pre, post), rowsParsed)
  }
}
