package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

/** End-to-end cascade test (SURVEY.md §3.1 / VERDICT item 7): the FIXTURES
  * §A bronze CSVs through `EodPipeline.run`, twice, asserting layer counts
  * and rerun idempotency on non-timestamp columns. */
class EodPipelineSpec extends SparkSpec {
  private val ts1 = Timestamp.valueOf("2026-08-10 21:05:00")
  private val ts2 = Timestamp.valueOf("2026-08-11 21:05:00")
  private val d1 = Date.valueOf("2026-08-10")
  private val d2 = Date.valueOf("2026-08-11")

  private val staging = "_staging"
  private val dateTables = Seq(EodPipeline.RawTable, EodPipeline.RejectTable,
    EodPipeline.CoreTable, EodPipeline.FactTable)

  private def snapshot(wh: String, table: String, dropCols: Seq[String]): Seq[Seq[Any]] = {
    val df = spark.read.parquet(s"$wh/$table")
    val cols = df.columns.filterNot(dropCols.contains).sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
  }

  test("unparseable-key rows surface as the Q1 skipped count and never load") {
    val bronze = Fixtures.tempDir("bronze-skip")
    val wh = Fixtures.tempDir("wh-skip").toString
    val csv = bronze.resolve("eod.csv")
    java.nio.file.Files.writeString(csv,
      """trade_date,symbol,open,high,low,close,volume
        |2026-08-10,AAPL,1.00,2.00,0.50,1.50,100
        |not-a-date,MSFT,1.00,2.00,0.50,1.50,100
        |2026-08-10,,1.00,2.00,0.50,1.50,100
        |""".stripMargin)
    val r = new EodPipeline(spark, wh).run(csv.toString, d1, Some(ts1))
    assert(r.pre.skippedCnt == 2)  // bad date + empty symbol
    assert(r.pre.rawCnt == 1)      // only AAPL loads
    assert(spark.read.parquet(s"$wh/${EodPipeline.RawTable}").count() == 1)
  }

  test("two dates through the cascade: layer counts, rejects, dims, fact") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)

    val r1 = pipe.run(Fixtures.writeStandard(bronze, "2026-08-10"), d1, Some(ts1))
    // 8 good rows (1 null-volume still valid) + 10 bad = 18 raw
    assert(r1.pre.rawCnt == 18 && r1.pre.rejectCnt == 10)
    // the standard fixture has no unparseable-key rows: loader skip = 0
    assert(r1.pre.skippedCnt == 0)
    // distinct valid keys: AAPL(+dup), MSFT(+" msft "), GOOG, NVDA, IBM → 5
    // (TSLA has null volume → satisfies neither >= 0 nor < 0 → dropped,
    // exactly the reference's three-valued-logic behavior)
    assert(r1.pre.estInserts == 5 && r1.pre.estUpdates == 0)
    assert(r1.post.coreRows == 5 && r1.post.factRows == 5)

    val raw = spark.read.parquet(s"$wh/${EodPipeline.RawTable}")
    assert(raw.count() == 18)
    val rejects = spark.read.parquet(s"$wh/${EodPipeline.RejectTable}")
    assert(rejects.count() == 10)
    assert(rejects.select("reject_reason").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("NEGATIVE_VOLUME"))

    // latest-wins dedup: AAPL keeps one row; normalization: MSFT merged
    val core = spark.read.parquet(s"$wh/${EodPipeline.CoreTable}")
    assert(core.filter(col("symbol") === "AAPL").count() == 1)
    assert(core.filter(col("symbol") === "MSFT").count() == 1)

    // dim_security: dense gap-free ids 1..5, normalized symbols only
    val dim = spark.read.parquet(s"$wh/${EodPipeline.DimSecurityTable}")
    val ids = dim.orderBy("security_id").collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 5L))
    assert(!dim.collect().map(_.getString(1)).exists(s => s != s.trim || s != s.toUpperCase))

    // second date: dims grow insert-only, ids stay dense
    val r2 = pipe.run(Fixtures.writeStandard(bronze, "2026-08-11"), d2, Some(ts2))
    assert(r2.pre.estInserts == 5 && r2.pre.estUpdates == 0) // new date = new keys
    val dim2 = spark.read.parquet(s"$wh/${EodPipeline.DimSecurityTable}")
    assert(dim2.count() == 5) // same 5 symbols, no growth
    val dimDate = spark.read.parquet(s"$wh/${EodPipeline.DimDateTable}")
    assert(dimDate.count() == 2)
    assert(spark.read.parquet(s"$wh/${EodPipeline.FactTable}").count() == 10)
    // first date's partitions untouched by the second run
    assert(spark.read.parquet(s"$wh/${EodPipeline.CoreTable}")
      .filter(col("trade_date") === lit(d1)).count() == 5)

    // the on-disk layout external readers (DuckDB, Power BI) rely on: no
    // scratch left behind, hive `trade_date=` directories only, and the
    // date lives in the directory name, never inside the files
    assert(!Files.exists(Paths.get(wh, staging)) && !Files.exists(Paths.get(wh, "_tmp")))
    dateTables.foreach { t =>
      val parts = Paths.get(wh, t).toFile.listFiles().toSeq
      assert(parts.map(_.getName).sorted ==
        Seq("trade_date=2026-08-10", "trade_date=2026-08-11"), t)
      parts.foreach { p =>
        assert(p.isDirectory, p)
        assert(!spark.read.option("mergeSchema", "true").parquet(p.toString)
          .columns.contains("trade_date"), p)
      }
    }
  }

  test("rerun of the same date is idempotent on every layer (non-ts columns)") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)
    val csv = Fixtures.writeStandard(bronze, "2026-08-10")

    pipe.run(csv, d1, Some(ts1))
    val before = EodPipeline.AllTables.map(t =>
      t -> snapshot(wh, t, Seq("load_ts", "_ingest_ts"))).toMap

    val r2 = pipe.run(csv, d1, Some(ts2)) // same file, later ingest ts
    assert(r2.pre.estInserts == 0 && r2.pre.estUpdates == 5)
    EodPipeline.AllTables.foreach { t =>
      assert(snapshot(wh, t, Seq("load_ts", "_ingest_ts")) == before(t),
        s"table $t changed on rerun")
    }
  }

  test("a second bronze file for the same date appends to RAW and upserts CORE") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)

    pipe.run(Fixtures.writeStandard(bronze, "2026-08-10"), d1, Some(ts1))
    // late correction file: revised AAPL close + one new symbol
    val late = Fixtures.writeBronze(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,231.15,233.90,230.40,240.00,51234567",
      "2026-08-10,AMD,160.00,162.00,158.00,161.00,9999999"),
      "eod_prices_2026-08-10_corr.csv")
    val r2 = pipe.run(late, d1, Some(ts2))
    assert(r2.pre.estInserts == 1 && r2.pre.estUpdates == 1)

    // RAW keeps BOTH files' rows for the date (append-only lineage)
    val raw = spark.read.parquet(s"$wh/${EodPipeline.RawTable}")
    assert(raw.count() == 20)
    assert(raw.select("_src_file").distinct().count() == 2)

    // CORE: AAPL updated to the correction, AMD inserted
    val core = spark.read.parquet(s"$wh/${EodPipeline.CoreTable}")
    assert(core.count() == 6)
    assert(core.filter(col("symbol") === "AAPL").select("close")
      .collect().head.getDecimal(0).doubleValue() == 240.0)
    assert(spark.read.parquet(s"$wh/${EodPipeline.FactTable}").count() == 6)
  }

  test("forceReload=true reproduces the reference's FORCE=TRUE blind append") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)
    val csv = Fixtures.writeStandard(bronze, "2026-08-10")

    pipe.run(csv, d1, Some(ts1), forceReload = true)
    pipe.run(csv, d1, Some(ts2), forceReload = true)
    // RAW duplicates (reference semantics)...
    assert(spark.read.parquet(s"$wh/${EodPipeline.RawTable}").count() == 36)
    // ...while CORE stays deduped/idempotent downstream
    assert(spark.read.parquet(s"$wh/${EodPipeline.CoreTable}").count() == 5)
  }

  test("empty batch for the run date fails the load gate") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)
    val csv = Fixtures.writeStandard(bronze, "2026-08-10")
    intercept[graft.quality.GateFailed] {
      pipe.run(csv, Date.valueOf("2026-08-12"), Some(ts1)) // no rows for date
    }
  }

  // ---- crash drills -------------------------------------------------------
  // Each drill builds, directly on disk, the state a run leaves when it
  // dies inside one table write, reruns that date, and requires the
  // warehouse to equal a clean run's. A write is staged whole under
  // `_staging/<rel>` (committed once `_SUCCESS` exists), then the live
  // `<rel>` is deleted and the staged directory renamed into place.

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `to/<rel>` (or create it) with a copy of `from/<rel>`. */
  private def copyRel(from: String, to: String, rel: String): Unit = {
    fs.delete(new Path(s"$to/$rel"), true)
    FileUtil.copy(fs, new Path(s"$from/$rel"), fs, new Path(s"$to/$rel"), false,
      spark.sparkContext.hadoopConfiguration)
  }

  /** A committed staged copy of `clean/<rel>` in `wh`, as a crashed write
    * leaves it between its commit and its rename. */
  private def stageFrom(clean: String, wh: String, rel: String): Unit =
    spark.read.parquet(s"$clean/$rel").write.parquet(s"$wh/$staging/$rel")

  private def assertSameWarehouse(wh: String, clean: String): Unit = {
    EodPipeline.AllTables.foreach { t =>
      assert(snapshot(wh, t, Nil) == snapshot(clean, t, Nil), s"table $t differs from a clean run")
    }
    def idToSymbol(w: String) = spark.read.parquet(s"$w/${EodPipeline.FactTable}")
      .join(spark.read.parquet(s"$w/${EodPipeline.DimSecurityTable}"), "security_id")
      .select("trade_date", "security_id", "symbol").collect().map(_.toSeq).toSet
    assert(idToSymbol(wh) == idToSymbol(clean), "FACT ⋈ DIM_SECURITY re-keyed")
    assert(!Files.exists(Paths.get(wh, staging)), "staging left behind")
  }

  /** `crashed` as a run that `clean` completed leaves it when it dies in
    * its dim_security write: RAW/REJECT/CORE published, nothing after. */
  private def diedInDimWrite(clean: String, crashed: String): Unit =
    Seq(EodPipeline.RawTable, EodPipeline.RejectTable, EodPipeline.CoreTable)
      .foreach(copyRel(clean, crashed, _))

  /** A warehouse after a clean run of `first`, and its clean twin. */
  private def twins(first: String, date: Date, ts: Timestamp): (String, String) = {
    val clean = Fixtures.tempDir("wh-clean").resolve("wh").toString
    val crashed = Fixtures.tempDir("wh-crash").resolve("wh").toString
    new EodPipeline(spark, clean).run(first, date, Some(ts))
    copyRel(clean, crashed, "")
    (clean, crashed)
  }

  test("crash drill: a dim deleted before its rename is rolled forward, ids never restart") {
    val bronze = Fixtures.tempDir("bronze").toString
    val (clean, crashed) = twins(Fixtures.writeStandard(bronze, "2026-08-10"), d1, ts1)
    // the next date lists AMD, which sorts first: an id sequence
    // restarted over this date's symbols would hand it id 1
    val next = Fixtures.writeBronze(bronze, "2026-08-11", Fixtures.goodRows("2026-08-11") :+
      "2026-08-11,AMD,160.00,162.00,158.00,161.00,9999999")
    new EodPipeline(spark, clean).run(next, d2, Some(ts2))
    // date 2 died between deleting the old dim and renaming the staged
    // one: dim_date and FACT still stand at date 1
    diedInDimWrite(clean, crashed)
    stageFrom(clean, crashed, EodPipeline.DimSecurityTable)
    fs.delete(new Path(s"$crashed/${EodPipeline.DimSecurityTable}"), true)

    new EodPipeline(spark, crashed).run(next, d2, Some(ts2))
    assertSameWarehouse(crashed, clean)
  }

  test("crash drill: a RAW date deleted before its rename keeps both files' rows") {
    val bronze = Fixtures.tempDir("bronze").toString
    val (clean, crashed) = twins(Fixtures.writeStandard(bronze, "2026-08-10"), d1, ts1)
    val late = Fixtures.writeBronze(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,231.15,233.90,230.40,240.00,51234567",
      "2026-08-10,AMD,160.00,162.00,158.00,161.00,9999999"),
      "eod_prices_2026-08-10_corr.csv")
    new EodPipeline(spark, clean).run(late, d1, Some(ts2))
    // the correction run died inside its RAW write: both files' rows are
    // staged, the live date directory is already deleted
    val rawDate = s"${EodPipeline.RawTable}/trade_date=2026-08-10"
    stageFrom(clean, crashed, rawDate)
    fs.delete(new Path(s"$crashed/$rawDate"), true)

    new EodPipeline(spark, crashed).run(late, d1, Some(ts2))
    assertSameWarehouse(crashed, clean)
    assert(spark.read.parquet(s"$crashed/${EodPipeline.RawTable}").count() == 20)
  }

  test("crash drill: a partial staged write next to its live table is discarded, never swapped in") {
    val bronze = Fixtures.tempDir("bronze").toString
    val (clean, crashed) = twins(Fixtures.writeStandard(bronze, "2026-08-10"), d1, ts1)
    val next = Fixtures.writeStandard(bronze, "2026-08-11")
    new EodPipeline(spark, clean).run(next, d2, Some(ts2))
    // date 2 died mid-way through writing the staged dim: a partial
    // write (no `_SUCCESS`) with fewer rows than the live dim beside it
    diedInDimWrite(clean, crashed)
    val dim = EodPipeline.DimSecurityTable
    spark.read.parquet(s"$crashed/$dim").limit(2).write.parquet(s"$crashed/$staging/$dim")
    assert(fs.delete(new Path(s"$crashed/$staging/$dim/_SUCCESS"), false))

    new EodPipeline(spark, crashed).run(next, d2, Some(ts2))
    assertSameWarehouse(crashed, clean)
  }
}
