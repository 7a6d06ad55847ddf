package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{EodPipeline, RunResult}
import graft.core.Upsert
import graft.dim.{DimDate, DimSecurity}
import graft.fact.FactDailyPrice
import graft.ingest.EodCsvSource
import graft.quality.Gates
import graft.queries.Sql
import graft.sa.Analytics
import graft.schema.Schemas
import graft.streaming.EodStream
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.{Date, Timestamp}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload of the EOD cascade benchmark in one JVM.
  *
  * `Main <plan.json> <result.json>`: the plan names the generated inputs
  * and the time to measure; the result holds set-up timings, every
  * operation's wall time, Spark job count and output, and (traced runs)
  * the per-layer metrics. The calling script checks the outputs. */
object Main {
  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val plan = mapper.readTree(new java.io.File(args(0)))
    val bench = new Bench(plan)
    val result = try bench.run() finally bench.stop()
    mapper.writeValue(new java.io.File(args(1)), result)
  }
}

final case class Op(path: String, date: Date, ts: Timestamp, bytes: Long, rows: Long, correction: Boolean)

final class Bench(plan: JsonNode) {
  private val workload = plan.get("workload").asText
  private val work = plan.get("work").asText
  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean
  private val cores = plan.get("cores").asInt
  private val setupReps = plan.get("setup_reps").asInt
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var spark: SparkSession = _
  private var tracer: Tracer = _

  def run(): Map[String, Any] = {
    out("session_s") = timed { spark = session(cores) }._2
    workload match {
      case "daily_batch" => dailyBatch()
      case "stream_backfill" => streamBackfill()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (tracer != null) {
      val f = new java.io.File(plan.get("spans").asText)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, tracer.toJsonLines.asJava)
    }
    out("layers") = layers.toMap
    out.toMap
  }

  def stop(): Unit = if (spark != null) spark.stop()

  // ---------------------------------------------------------------- helpers

  private def session(n: Int): SparkSession = {
    val s = graft.util.Sessions.builder(s"local[$n]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.util.Sessions.quietKnownWarnings()
    s
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def fs: FileSystem = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def delete(p: String): Unit = { fs.delete(new Path(p), true); () }

  private def copy(from: String, to: String): Unit = {
    FileUtil.copy(fs, new Path(from), fs, new Path(to), false, spark.sparkContext.hadoopConfiguration)
    ()
  }

  /** Bytes on disk under a directory. */
  private def bytes(p: String): Long = {
    val it = fs.listFiles(new Path(p), true)
    var n = 0L
    while (it.hasNext) n += it.next().getLen
    n
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `body` as one operation: its own job group, so the Spark jobs it
    * launched can be counted afterwards. */
  private def operation[T](i: Int)(body: => T): (T, Double, String) = {
    val group = s"perfbench-op-$i"
    spark.sparkContext.setJobGroup(group, s"perfbench operation $i")
    try { val (r, s) = timed(body); (r, s, group) }
    finally spark.sparkContext.clearJobGroup()
  }

  private def jobsIn(group: String): Int = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  private def loop(budget: Double)(step: Int => Boolean): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while ((i == 0 || (System.nanoTime() - t0) / 1e9 < budget) && step(i)) i += 1
    i
  }

  private def result(r: RunResult): Map[String, Long] = Map(
    "raw" -> r.pre.rawCnt, "reject" -> r.pre.rejectCnt, "skipped" -> r.pre.skippedCnt,
    "est_inserts" -> r.pre.estInserts, "est_updates" -> r.pre.estUpdates,
    "core" -> r.post.coreRows, "fact" -> r.post.factRows)

  /** Seeds the history into `wh` through the program's own writers, in
    * equal parts of consecutive dates, each part as one cascade over its
    * dates would leave it; returns each part's seconds. */
  private def seedHistory(wh: String): Seq[Double] = {
    val ts = Timestamp.valueOf(plan.get("history_ts").asText)
    plan.get("history_globs").elements.asScala.map(g => timed(seedPart(wh, g.asText, ts))._2).toSeq
  }

  private def seedPart(dir: String, glob: String, ts: Timestamp): Unit = {
    val wh = new WarehouseDir(spark, dir)
    // one task per group of dates, so each history partition is one file,
    // as a daily run would have left it
    val parsed = EodCsvSource.read(spark, glob, Some(ts)).repartition(col("trade_date")).persist()
    Upsert.overwriteDatePartition(spark, parsed, wh.path(EodPipeline.RawTable))
    val (valid, rejects) = Gates.referenceSplit(parsed.withColumn("symbol", upper(trim(col("symbol")))))
    Upsert.overwriteDatePartition(spark, Gates.annotateReject(rejects, "NEGATIVE_VOLUME"),
      wh.path(EodPipeline.RejectTable))
    val core = valid.select(Schemas.core.fieldNames.init.map(col).toIndexedSeq: _*)
      .withColumn("load_ts", lit(ts))
    Upsert.overwriteDatePartition(spark, core, wh.path(EodPipeline.CoreTable))
    wh.replace(DimSecurity.merge(wh.readOrEmpty(EodPipeline.DimSecurityTable, Schemas.dimSecurity),
      core.select("symbol")), EodPipeline.DimSecurityTable)
    wh.replace(Upsert.insertOnly(wh.readOrEmpty(EodPipeline.DimDateTable, Schemas.dimDate),
      DimDate.derive(core.select("trade_date"), "trade_date"), Seq("date_sk")), EodPipeline.DimDateTable)
    Upsert.overwriteDatePartition(spark, FactDailyPrice.build(core,
      spark.read.parquet(wh.path(EodPipeline.DimSecurityTable)),
      spark.read.parquet(wh.path(EodPipeline.DimDateTable))), wh.path(EodPipeline.FactTable))
    parsed.unpersist()
    ()
  }

  // ------------------------------------------------------------ daily_batch

  private def dailyBatch(): Unit = {
    val ops = plan.get("ops").elements.asScala.map { o =>
      Op(o.get("path").asText, Date.valueOf(o.get("date").asText),
        Timestamp.valueOf(o.get("ingest_ts").asText), o.get("bytes").asLong, o.get("rows").asLong,
        o.get("correction").asBoolean)
    }.toIndexedSeq
    val wh = s"$work/wh"
    out("data_setup_s") = seedHistory(wh)
    out("data_setup_scale") = out("data_setup_s").asInstanceOf[Seq[Double]].size
    val pipe = new EodPipeline(spark, wh)
    val done = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runOp(i: Int, run: => RunResult): Unit = {
      val (r, s, group) = operation(i)(run)
      done += Map("index" -> i, "seconds" -> s, "jobs" -> jobsIn(group), "rows" -> ops(i).rows,
        "bytes" -> ops(i).bytes, "result" -> result(r), "traced" -> (tracer != null),
        "warmup" -> (i < WarmupDays))
    }
    // warm-up: the first new date and its correction file, on the
    // warehouse itself; the timed operations then start with daily files
    out("warmup_s") = timed((0 until WarmupDays).foreach(i =>
      runOp(i, pipe.run(ops(i).path, ops(i).date, Some(ops(i).ts)))))._2
    out("warehouse") = wh
    out("bytes_before") = bytes(wh)
    val untraced = loop(seconds) { k =>
      val i = WarmupDays + k
      i < ops.size && { runOp(i, pipe.run(ops(i).path, ops(i).date, Some(ops(i).ts))); true }
    }
    if (traced) tracedDays(ops, WarmupDays + untraced, wh, pipe, runOp)
    out("ops") = done.toSeq
    out("bytes_after") = bytes(wh)
    out("input_bytes") = done.filter(_("warmup") == false).map(_("bytes").asInstanceOf[Long]).sum
  }

  private def tracedDays(ops: IndexedSeq[Op], first: Int, wh: String, pipe: EodPipeline,
                         runOp: (Int, => RunResult) => Unit): Unit = {
    tracer = new Tracer(spark, runId)
    val replay = s"$work/replay_wh"
    copy(wh, replay)
    val probes = mutable.ArrayBuffer.empty[(Int, Long, Span, RunResult)]
    val runs = mutable.ArrayBuffer.empty[(Int, Span)]
    // until the time is up and at least one daily file (not a correction) was traced
    val t0 = System.nanoTime()
    var i = first
    while (i < ops.size && (i == first || (System.nanoTime() - t0) / 1e9 < seconds ||
        runs.forall(r => ops(r._1).correction))) {
      val probeWh = s"$work/probe_wh"
      delete(probeWh)
      copy(wh, probeWh)
      val probe = new StageProbe(spark, new WarehouseDir(spark, probeWh), tracer)
      val ((r, parsed), ps) = tracer.span(s"probe.$i")(probe.run(ops(i)))
      probes += ((i, parsed, ps, r))
      runOp(i, {
        val (r, s) = tracer.span("EodPipeline.run")(pipe.run(ops(i).path, ops(i).date, Some(ops(i).ts)))
        runs += ((i, s))
        r
      })
      i += 1
    }
    tracer.finish()
    out("probes") = probes.map { case (i, _, _, r) => Map("index" -> i, "result" -> result(r)) }.toSeq
    // the layer figures describe the daily files; corrections are checked, not summarised
    val daily = runs.filter(r => !ops(r._1).correction)
    val dailyProbes = probes.filter(p => !ops(p._1).correction)
    def st(s: Span) = tracer.listener.statsOf(s.id)
    def perRun(f: ((Int, Span)) => Double) = median(daily.map(f).toSeq)
    layers ++= Seq(
      "EodPipeline.jobs" -> perRun(x => st(x._2).jobs),
      "EodPipeline.tasks" -> perRun(x => st(x._2).tasks),
      "EodPipeline.executor_run_s" -> perRun(x => st(x._2).runMs / 1e3),
      "EodPipeline.executor_cpu_s" -> perRun(x => st(x._2).cpuNs / 1e9),
      "EodPipeline.input_bytes" -> perRun(x => st(x._2).inputBytes.toDouble),
      "EodPipeline.shuffle_write_bytes" -> perRun(x => st(x._2).shuffleWriteBytes.toDouble),
      "EodPipeline.output_bytes" -> perRun(x => st(x._2).outputBytes.toDouble),
      "EodPipeline.files_written" -> perRun(x => st(x._2).writeTasks),
      "EodPipeline.driver_gap_s" -> perRun(x => tracer.driverGapSeconds(x._2)),
      "EodPipeline.read_amplification" -> perRun(x => st(x._2).inputBytes.toDouble / ops(x._1).bytes))
    // each probe's stage spans are its direct children
    val stagesOf = dailyProbes.map { case (_, _, ps, _) => tracer.all.filter(_.parent == ps.id) }.toSeq
    def stage(prefix: String, f: Span => Double): Double =
      median(stagesOf.map(_.filter(_.name.startsWith(prefix)).map(f).sum))
    val secs = (s: Span) => s.seconds
    val jobs = (s: Span) => st(s).jobs.toDouble
    layers ++= Seq(
      "ingest.read_s" -> stage("ingest.read", secs), "ingest.jobs" -> stage("ingest.read", jobs),
      "ingest.rows_parsed" -> median(dailyProbes.map(_._2.toDouble).toSeq),
      "ingest.rows_skipped" -> median(dailyProbes.map(_._4.pre.skippedCnt.toDouble).toSeq),
      "quality.gate_s" -> stage("quality.gate", secs),
      "quality.reject_rows" -> median(dailyProbes.map(_._4.pre.rejectCnt.toDouble).toSeq),
      "metrics.premerge_s" -> stage("metrics.premerge", secs),
      "metrics.premerge_jobs" -> stage("metrics.premerge", jobs),
      "metrics.postmerge_s" -> stage("metrics.postmerge", secs),
      "metrics.postmerge_jobs" -> stage("metrics.postmerge", jobs),
      "core.merge_s" -> stage("core.merge", secs), "core.write_s" -> stage("core.write", secs),
      "core.jobs" -> stage("core.", jobs),
      "core.shuffle_write_bytes" -> stage("core.", s => st(s).shuffleWriteBytes.toDouble),
      "dim.security_s" -> stage("dim.security", secs), "dim.security_jobs" -> stage("dim.security", jobs),
      "dim.date_s" -> stage("dim.date", secs), "dim.date_jobs" -> stage("dim.date", jobs),
      "fact.build_s" -> stage("fact.build", secs), "fact.jobs" -> stage("fact.build", jobs))
    val stageSeconds = dailyProbes.zip(stagesOf).map { case (p, ss) => p._1 -> ss.map(_.seconds).sum }.toMap
    layers("EodPipeline.orchestration_s") = perRun { case (i, s) => s.seconds - stageSeconds(i) }
    tracedDashboard(wh, runs.map(r => ops(r._1).date).maxBy(_.getTime))
    // the same dates on one core, from the warehouse as it stood before them
    val fourCore = median(daily.map(_._2.seconds).toSeq)
    spark.stop()
    spark = session(1)
    val one = new EodPipeline(spark, replay)
    val oneCore = daily.map { case (i, _) => timed(one.run(ops(i).path, ops(i).date, Some(ops(i).ts)))._2 }
    layers("EodPipeline.speedup_1core") = median(oneCore.toSeq) / fourCore
    out("one_core_s") = oneCore.toSeq
    ()
  }

  private val WarmupDays = 2

  private def runId: String = s"$workload-${plan.get("seed").asText}"

  // -------------------------------------------------------- stream_backfill

  private def streamBackfill(): Unit = {
    val ts = Some(Timestamp.valueOf(plan.get("ingest_ts").asText))
    out("data_setup_scale") = 1
    out("data_setup_s") = (0 until setupReps).map(r =>
      timed(copy(plan.get("backlog_dir").asText, s"$work/bronze$r"))._2)
    val glob = s"$work/bronze0/eod/*/*/*/*.csv"
    // warm-up: drain the backlog's first date twice, each into a warehouse
    // and checkpoint of its own; one cold drain left the first timed drain
    // still compiling
    val first = s"$work/bronze0/eod/${plan.get("first_date_dir").asText}/*.csv"
    out("warmup_s") = timed((0 until 2).foreach { n =>
      EodStream.start(spark, first, s"$work/warm_wh$n", s"$work/warm_ckpt$n", ts).awaitTermination()
      delete(s"$work/warm_wh$n")
    })._2
    (1 until setupReps).foreach(r => delete(s"$work/bronze$r"))
    val waves = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Span]
    def wave(i: Int): Unit = {
      if (i > 0) Seq(s"$work/swh${i - 1}", s"$work/ckpt${i - 1}").foreach(delete)
      val wh = s"$work/swh$i"
      def drain() = {
        val q = EodStream.start(spark, glob, wh, s"$work/ckpt$i", ts)
        q.awaitTermination()
        q
      }
      val (q, s) =
        if (tracer == null) timed(drain())
        else { val (q, sp) = tracer.span("EodStream.wave")(drain()); spans += sp; (q, sp.seconds) }
      waves += Map("seconds" -> s, "jobs" -> jobsIn(q.runId.toString),
        "batches" -> q.recentProgress.map(_.batchId).distinct.length,
        "rows" -> plan.get("rows").asLong, "bytes" -> plan.get("bytes").asLong,
        "traced" -> (tracer != null))
      out("warehouse") = wh
    }
    val untraced = loop(seconds) { i => wave(i); true }
    if (traced) {
      tracer = new Tracer(spark, runId)
      loop(seconds) { k => wave(untraced + k); true }
      tracer.finish()
      def st(s: Span) = tracer.listener.statsOf(s.id)
      val dates = plan.get("dates").asDouble
      val tracedWaves = waves.filter(_("traced") == true).toSeq
      layers ++= Seq(
        "streaming.wave_s" -> median(spans.map(_.seconds).toSeq),
        "streaming.micro_batches" -> median(tracedWaves.map(_("batches").asInstanceOf[Int].toDouble)),
        "streaming.jobs_per_date" -> median(spans.map(st(_).jobs / dates).toSeq),
        "streaming.input_bytes" -> median(spans.map(st(_).inputBytes.toDouble).toSeq),
        "streaming.read_amplification" ->
          median(spans.map(st(_).inputBytes.toDouble / plan.get("bytes").asDouble).toSeq),
        "streaming.driver_gap_s" -> median(spans.map(tracer.driverGapSeconds).toSeq))
    }
    out("ops") = waves.toSeq
    out("bytes_before") = 0L
    out("bytes_after") = bytes(out("warehouse").toString)
    out("input_bytes") = plan.get("bytes").asLong
  }

  // -------------------------------------------------------- dashboard_serve

  /** One refresh of the dashboards' measures for the latest date, each
    * measure collected by its own action. */
  private def refresh(wh: String, latest: Date, traceIt: Boolean): Seq[(String, Array[Row], Span)] = {
    val from = Date.valueOf(latest.toLocalDate.minusDays(30))
    val fact = spark.read.parquet(s"$wh/${EodPipeline.FactTable}")
      .filter(col("trade_date").between(lit(from), lit(latest)))
      .select(col("security_id"), col("trade_date"),
        datediff(col("trade_date"), lit(Date.valueOf("1970-01-01"))).as("day_num"),
        col("close").cast("double").as("close_d"), col("volume").cast("double").as("volume_d"))
      .withColumn("traded_value", col("close_d") * col("volume_d"))
    val latestDay = fact.filter(col("trade_date") === lit(latest))
    def returns = Analytics.lagReturn(fact, "security_id", Seq(col("trade_date")), "close_d")
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "rolling" -> (() => Analytics.rollingDays(
          Analytics.rollingDays(fact, "security_id", "day_num", "traded_value", 29, "tv"),
          "security_id", "day_num", "volume_d", 29, "vol")
        .filter(col("trade_date") === lit(latest))
        .select("security_id", "sum_tv", "n_tv", "sum_vol")),
      "returns" -> (() => returns.filter(col("trade_date") === lit(latest))
        .select("security_id", "close_d", "prev_value", "ret")),
      "volatility" -> (() => Analytics.volatility(returns, "security_id", "ret")),
      "rank" -> (() => Analytics.topNPerGroup(latestDay, Seq("trade_date"),
          Seq(col("traded_value").desc, col("security_id").asc), 20)
        .select(col("security_id"), col("traded_value"), col("rnk").cast("long"))),
      "sector_share" -> (() => Analytics.shareOfTotal(
        latestDay.join(DimSecurity.enrich(spark.read.parquet(s"$wh/${EodPipeline.DimSecurityTable}"))
          .select("security_id", "sector"), Seq("security_id")),
        "sector", Analytics.cents2(col("traded_value")), 100.0)))
    frames.map { case (name, df) =>
      if (!traceIt) (name, df().collect(), null)
      else { val (rows, sp) = tracer.span(s"sa.$name")(df().collect()); (name, rows, sp) }
    }
  }

  /** DuckDB twins of [[refresh]], over the same parquet (`__FACT__` and
    * `__DIM__` stand for the table directories). */
  private def oracle(latest: Date): Map[String, String] = {
    val from = Date.valueOf(latest.toLocalDate.minusDays(30))
    val fact =
      s"""fact AS (SELECT security_id, CAST(trade_date AS DATE) AS trade_date,
         |  CAST(date_diff('day', DATE '1970-01-01', CAST(trade_date AS DATE)) AS INT) AS day_num,
         |  CAST(close AS DOUBLE) AS close_d, CAST(volume AS DOUBLE) AS volume_d,
         |  CAST(close AS DOUBLE) * CAST(volume AS DOUBLE) AS traded_value
         |  FROM read_parquet('__FACT__/*/*.parquet', hive_partitioning = true)
         |  WHERE CAST(trade_date AS DATE) BETWEEN DATE '$from' AND DATE '$latest')""".stripMargin
    val sum = (v: String) => s"(${Sql.dbl(s"SUM(${Sql.cents2(v)}) OVER w")} / 100.0)"
    val rets = "close_d / (lag(close_d) OVER (PARTITION BY security_id ORDER BY trade_date)) - 1"
    Map(
      "rolling" ->
        s"""WITH $fact, r AS (SELECT security_id, trade_date, ${sum("traded_value")} AS sum_tv,
           |    CAST(COUNT(*) OVER w AS BIGINT) AS n_tv, ${sum("volume_d")} AS sum_vol
           |  FROM fact WINDOW w AS (PARTITION BY security_id ORDER BY day_num
           |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
           |SELECT security_id, sum_tv, n_tv, sum_vol FROM r WHERE trade_date = DATE '$latest'""".stripMargin,
      "returns" ->
        s"""WITH $fact, r AS (SELECT security_id, trade_date, close_d,
           |    lag(close_d) OVER (PARTITION BY security_id ORDER BY trade_date) AS prev_value, $rets AS ret
           |  FROM fact)
           |SELECT security_id, close_d, prev_value, ret FROM r WHERE trade_date = DATE '$latest'""".stripMargin,
      "volatility" ->
        s"""WITH $fact, r AS (SELECT security_id, CAST(floor(($rets) * 1000000) AS DECIMAL(13,0)) AS m FROM fact),
           |g AS (SELECT security_id, CAST(count(*) AS BIGINT) AS n_rets, CAST(SUM(m) AS DECIMAL(18,0)) AS sx,
           |    CAST(SUM(CAST(CAST(m AS DECIMAL(19,0)) * m AS DECIMAL(33,0))) AS DECIMAL(33,0)) AS sx2
           |  FROM r WHERE m IS NOT NULL GROUP BY security_id),
           |v AS (SELECT security_id, n_rets,
           |    CAST(n_rets AS HUGEINT) * CAST(sx2 AS HUGEINT) - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS num
           |  FROM g WHERE n_rets >= 2)
           |SELECT security_id, n_rets, sqrt(${Sql.dbl("num")} / (n_rets * (n_rets - 1))) / 1000000.0 AS vol
           |FROM v""".stripMargin,
      "rank" ->
        s"""WITH $fact, r AS (SELECT security_id, traded_value,
           |    CAST(row_number() OVER (ORDER BY traded_value DESC, security_id) AS BIGINT) AS rnk
           |  FROM fact WHERE trade_date = DATE '$latest')
           |SELECT security_id, traded_value, rnk FROM r WHERE rnk <= 20""".stripMargin,
      "sector_share" ->
        s"""WITH $fact, rich AS (SELECT security_id,
           |    (['Technology','Financials','Health Care','Energy','Industrials','Consumer','Utilities','Materials'])[
           |      CAST(CAST('0x'||substr(md5(symbol || '|sector'),1,15) AS UBIGINT) AS BIGINT) % 8 + 1] AS sector
           |  FROM read_parquet('__DIM__/*.parquet')),
           |r AS (SELECT rich.sector, SUM(${Sql.cents2("traded_value")}) AS revs
           |  FROM fact JOIN rich USING (security_id) WHERE trade_date = DATE '$latest' GROUP BY rich.sector)
           |SELECT sector, (${Sql.dbl("revs")} / 100.0) AS rev,
           |  ((${Sql.dbl("revs")} / 100.0) / (${Sql.dbl("SUM(revs) OVER ()")} / 100.0)) AS share
           |FROM r""".stripMargin)
  }

  /** Dashboard refreshes for the last loaded date: one untraced warm-up,
    * then [[DashboardRefreshes]] refreshes with every measure in a span. */
  private def tracedDashboard(wh: String, latest: Date): Unit = {
    refresh(wh, latest, traceIt = false)
    val refreshes = (1 to DashboardRefreshes).map(_ => refresh(wh, latest, traceIt = true))
    tracer.finish()
    def st(s: Span) = tracer.listener.statsOf(s.id)
    def per(name: String) = median(refreshes.map(_.filter(_._1 == name).map(_._3.seconds).sum))
    def sum(f: SpanStats => Double) = median(refreshes.map(_.map(m => f(st(m._3))).sum))
    layers ++= Seq(
      "sa.rolling_s" -> per("rolling"), "sa.returns_s" -> per("returns"),
      "sa.volatility_s" -> per("volatility"), "sa.rank_s" -> per("rank"),
      "sa.sector_share_s" -> per("sector_share"), "sa.jobs" -> sum(_.jobs),
      "sa.input_bytes" -> sum(_.inputBytes.toDouble),
      "sa.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.toDouble))
    out("dashboard") = refreshes.last.map { case (name, rs, _) =>
      name -> rs.map(_.toSeq.map {
        case d: java.math.BigDecimal => d.toPlainString
        case d: Date => d.toString
        case v => v
      }).toSeq
    }.toMap
    out("oracle") = oracle(latest)
  }

  private val DashboardRefreshes = 3
}
