package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Train/eval decontamination: find training documents that share any
  * word n-gram with a held-out evaluation set — the standard pre-training
  * hygiene sweep (n-gram-overlap decontamination as published for GPT-3 /
  * The Pile / FineWeb).
  *
  * Shape at 100 TB: the split predicate partitions the corpus FIRST, so
  * each side is tokenized exactly once; gram fingerprints come from the
  * native codegen'd [[graft.functions.ShingleMd5]] (one fused
  * digest loop per document — no gram string is ever materialized, no
  * interpreted HOF lambda), reduce to DISTINCT 8-byte longs per side,
  * and meet in ONE left hash equi-join followed by ONE count-aggregate
  * on the train doc id (total and shared grams counted in the same
  * pass). No cartesian, no broadcast of the (large) eval gram set; the
  * only shuffles are on gram-hash and doc-id keys.
  */
object Decontaminate {

  // tokenization is PROJECTED before the shingle expression — inlining
  // it would re-run the regex per output element under a HOF, and even
  // under the native expression the projection keeps the plan readable
  private def grams(docs: DataFrame, textCol: String, n: Int,
                    extraCols: Column*): DataFrame =
    docs.select(extraCols :+ Ngrams.normTokens(col(textCol)).as("__toks"): _*)
      .select(extraCols :+
        explode(graft.functions.ShingleMd5(col("__toks"), n)).as("gram_fp"): _*)
      .distinct()

  /** Training docs contaminated by the eval split, with overlap counts.
    *
    * @param evalPred predicate over `docs` columns selecting the eval
    *                 split (e.g. `col("doc_id") % 10 === 0`); train =
    *                 the complement.
    * @return (id, n_grams, n_shared, contamination) — one row per
    *         contaminated train doc; `contamination` = n_shared/n_grams.
    */
  def contaminated(docs: DataFrame, idCol: String, textCol: String,
                   evalPred: Column, n: Int): DataFrame = {
    val trainGrams = grams(docs.filter(!evalPred), textCol, n, col(idCol))
    val evalGrams = grams(docs.filter(evalPred), textCol, n)
      .withColumn("__hit", lit(1))
    trainGrams
      .join(evalGrams, Seq("gram_fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select(col(idCol), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams")).as("contamination"))
  }

  // session caps on Spark's runtime bloom filter (the expression
  // rejects larger values): 4e6 items / 6.7e7 bits by default. These
  // cap ONE filter; benchmark suites larger than that are STRIPED by
  // fp range (below) rather than clamped.
  private val MaxBloomItems = 4000000L
  private val MaxBloomBits = 67108864L

  /** Upper bound on bloom stripes — bounds driver/plan memory, not
    * correctness: 64 stripes × 8 MiB ≈ 512 MiB of filter bytes, enough
    * for ~256 M distinct benchmark grams at the default per-stripe
    * caps. Past it the per-stripe sizing clamps (fpp degrades toward 1
    * and the prefilter stops paying for itself — results stay correct
    * via the exact confirm join), a loud warning fires at build time,
    * and the persisted meta records `clamped = true` so the
    * degradation is durable-visible, not silent. */
  val MaxBloomStripes = 64

  /** Exact bloom sizing for ONE stripe from its expected item count,
    * clamped to the expression caps — shared by the inline and
    * persisted-store paths so the two can never desynchronize. */
  private def bloomSizing(count: Long, fpp: Double): (Long, Long) = {
    val items = math.min(math.max(count, 1L), MaxBloomItems)
    val bits = math.min(MaxBloomBits, math.max(64L,
      math.ceil(-items * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
    (items, bits)
  }

  /** Stripe plan for `count` distinct grams at `maxItemsPerBloom` per
    * stripe: (nStripes, clamped). `maxItemsPerBloom` defaults to the
    * expression cap and exists as a knob for tests and for deployments
    * that raise the session's runtime-bloom-filter confs. */
  private def stripePlan(count: Long, maxItemsPerBloom: Long): (Int, Boolean) = {
    val wanted = math.max(1L, (count + maxItemsPerBloom - 1) / maxItemsPerBloom)
    val clamped = wanted > MaxBloomStripes
    if (clamped)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Decontaminate: $count distinct benchmark grams exceed " +
          s"$MaxBloomStripes stripes x $maxItemsPerBloom items — bloom fpp " +
          "will degrade toward 1 and the prefilter stops paying for itself " +
          "(results stay correct via the exact confirm join). Raise the " +
          "session runtime-bloom-filter caps or shrink the benchmark.")
    (math.min(wanted, MaxBloomStripes.toLong).toInt, clamped)
  }

  /** Map-side stripe id of a gram fp: `pmod(fp, nStripes)` — the same
    * arithmetic on the build and probe sides, so a probe always
    * consults the stripe its fp was trained into. */
  private def stripeOf(fp: Column, nStripes: Int): Column =
    pmod(fp, lit(nStripes.toLong))

  /** One serialized bloom per stripe: `(stripe, bloom)` rows from a
    * single map-side-combined grouped aggregation (nStripes ≤
    * [[MaxBloomStripes]] groups — each filter stays inside the
    * expression caps). Stripes with no grams emit no row; the probe
    * treats a missing stripe as a definite miss. */
  private def stripedBloomAgg(grams: DataFrame, nStripes: Int,
                              itemsPerStripe: Long, fpp: Double): DataFrame = {
    val (items, bits) = bloomSizing(itemsPerStripe, fpp)
    grams.groupBy(stripeOf(col("gram_fp"), nStripes).as("stripe"))
      .agg(graft.functions.Bloom.agg(col("gram_fp"), items, bits).as("bloom"))
  }

  /** Membership prefilter of a gram frame against a striped bloom set.
    * A missing stripe (no benchmark grams hashed there) is a definite
    * miss; a null fp never matches.
    *
    * PROBE-FORM DECISION (measured round 17, `graft.BloomBench`,
    * 20M-probe stream, 1M-item / ~1.2 MiB filters, local[32]): the
    * original multi-stripe form — a foldable-literal CASE chain
    * selecting the fp's stripe map-side (`BloomFilterMightContain`
    * requires a constant filter per branch) — embeds EVERY stripe's
    * filter bytes in the plan, and every task pays to deserialize all
    * of them: 2.11 s at 8 stripes (9 MiB of literals), 18.3 s at 32
    * (37 MiB), 46.6 s at 64 (73 MiB) — cost linear in total filter
    * bytes, not in probe rows. The ADOPTED multi-stripe form ships the
    * stripe map ONCE PER EXECUTOR as a broadcast variable and probes
    * via `mapPartitions` with a lazy per-stripe deserialize cache:
    * 0.51 / 0.67 / 0.89 s on the same sweeps — 4× / 27× / 52× — with
    * bit-identical survivors, and on a real cluster the broadcast also
    * replaces a per-STAGE task-binary shipment with a one-time
    * per-executor transfer. The cost: the probe stage leaves
    * whole-stage codegen (a boxed-row filter), which the measurements
    * price at well under the literal-deserialization it removes. A
    * SINGLE-stripe store (the common case — every config below one
    * filter's 4M-item cap) keeps the constant-literal probe: one
    * filter in the task binary, fully codegen'd — exactly Spark's own
    * injected-runtime-filter shape, and measured faster than paying
    * the mapPartitions boxing for one bloom. (A broadcast lookup JOIN
    * was considered and rejected without needing the bench: the native
    * expression cannot take a non-constant filter side, and a
    * hash-relation build side would copy the multi-MiB bloom bytes
    * per probed ROW.) PlanSpec pins both shapes. */
  /** @return the prefiltered frame plus, on the multi-stripe path, the
    *         broadcast carrying the stripe map — surfaced so owning
    *         callers ([[contaminatedAgainstStoreOwned]]) can DESTROY it
    *         deterministically once the result is consumed (up to
    *         [[MaxBloomStripes]] × ~8 MiB of filter bytes per call;
    *         left to the ContextCleaner it lingers until the plan is
    *         GC'd — the standard broadcast-join lifetime, fine for
    *         one-shot queries, accumulation for a store-serving loop). */
  private def probeStriped(grams: DataFrame, fpCol: String,
                           blooms: Map[Int, Array[Byte]], nStripes: Int)
      : (DataFrame, Option[org.apache.spark.broadcast.Broadcast[
          Map[Int, Array[Byte]]]]) =
    if (blooms.isEmpty) (grams.filter(lit(false)), None)
    else if (nStripes == 1)
      (grams.filter(
        graft.functions.Bloom.mightContain(lit(blooms(0)), col(fpCol))), None)
    else {
      val bc = grams.sparkSession.sparkContext.broadcast(blooms)
      val idx = grams.schema.fieldIndex(fpCol)
      val n = nStripes.toLong
      grams.mapPartitions { it =>
        val cache = new java.util.HashMap[
          Int, org.apache.spark.util.sketch.BloomFilter]()
        it.filter { row =>
          !row.isNullAt(idx) && {
            val fp = row.getLong(idx)
            val s = java.lang.Math.floorMod(fp, n).toInt
            val bytes = bc.value.getOrElse(s, null)
            bytes != null && {
              var f = cache.get(s)
              if (f == null) {
                f = org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(bytes))
                cache.put(s, f)
              }
              f.mightContainLong(fp)
            }
          }
        }
      }(org.apache.spark.sql.Encoders.row(grams.schema)) -> Some(bc)
    }

  /** [[contaminated]] with a BLOOM PREFILTER on the eval gram set —
    * identical results (the bloom is a prefilter; an exact semi-join
    * confirm removes its false positives), cheaper shape at corpus
    * scale: [[contaminated]] shuffles EVERY distinct train gram through
    * the gram-keyed join, while here the gram-keyed exchange carries
    * only the grams that (probably) hit the eval set — true overlaps
    * plus an `fpp` fraction of the rest — and the per-doc totals come
    * from a doc-keyed map-side-combined count that never touches the
    * join. This is the published decontamination deployment shape
    * (bloom over the benchmark n-grams, streamed over the corpus), and
    * it is Spark's own runtime-filter pattern made explicit
    * ([[graft.functions.Bloom]]); the one driver-side value is the
    * serialized filter set itself (same O(1)-scalar convention as the
    * surrogate-id max). Bloom sizing is exact (the eval gram count is
    * measured, not guessed); eval sets past one filter's expression cap
    * STRIPE by fp range ([[stripePlan]] — one filter per stripe, the
    * probe selects its stripe map-side), so sizing stays exact to
    * [[MaxBloomStripes]] × the per-filter cap and degrades loudly, not
    * silently, past that.
    *
    * CACHE LIFETIME CONTRACT (the MinHash convention, stated loudly):
    * the returned DataFrame keeps referencing the persisted train-gram
    * rows — a long-lived session must release them with
    * `spark.catalog.clearCache()` once the result is consumed. The
    * eval-gram cache is NOT part of the contract: it is unpersisted
    * inside this method as soon as the bloom bytes are collected (its
    * two driver actions are done by then; the confirm semi-join
    * re-derives the small eval side once at execution instead of
    * pinning a second relation for the caller to remember). The bloom
    * filter itself is plan-embedded driver state, capped at
    * [[MaxBloomBits]] bits. */
  def contaminatedBloom(docs: DataFrame, idCol: String, textCol: String,
                        evalPred: Column, n: Int,
                        fpp: Double = 0.01,
                        maxItemsPerBloom: Long = MaxBloomItems): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    require(maxItemsPerBloom > 0,
      s"maxItemsPerBloom must be > 0, got $maxItemsPerBloom")
    // train grams are consumed twice lazily (totals + candidates):
    // persist the narrow (id, long) rows — released by the caller per
    // the contract above
    val trainGrams = grams(docs.filter(!evalPred), textCol, n, col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eval grams are consumed by two EAGER actions (count + bloom agg)
    // back to back: persist only across them, then release before
    // returning — the lazy confirm join recomputes the eval side once
    val evalGrams = grams(docs.filter(evalPred), textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (blooms, nStripes) =
      try {
        val nEval = evalGrams.count()
        val (ns, _) = stripePlan(nEval, maxItemsPerBloom)
        val itemsPerStripe = (nEval + ns - 1) / ns
        val rows = stripedBloomAgg(evalGrams, ns, itemsPerStripe, fpp).collect()
        (rows.map(r => r.getAs[Number]("stripe").intValue() ->
          r.getAs[Array[Byte]]("bloom")).toMap, ns)
      } finally evalGrams.unpersist()
    // one-shot path: the (rare, multi-stripe) broadcast's lifetime rides
    // the returned plan — ContextCleaner reclaims it with the plan, the
    // broadcast-join convention; the loop-serving Owned store variant is
    // the one that destroys deterministically
    val (candidates, _) = probeStriped(trainGrams, "gram_fp", blooms, nStripes)
    val shared = candidates.join(evalGrams, Seq("gram_fp"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
    val totals = trainGrams.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    shared.join(totals, Seq(idCol))
      .select(col(idCol), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams")).as("contamination"))
  }

  /** REVERSE decontamination audit — the benchmark-side view
    * ([[contaminated]] reports per TRAIN doc; a release process also
    * needs to know which EVAL items are compromised and how badly): one
    * row per benchmark doc with ≥ 1 gram — its distinct gram count, how
    * many of those grams appear anywhere in the training corpus, the
    * leaked fraction, and the number of distinct training docs sharing
    * at least one gram (the blast radius — one leaked gram in a
    * thousand docs is boilerplate; a hundred leaked grams in one doc is
    * a verbatim copy).
    *
    * Shape at 100 TB: both sides reduce to distinct (id, 8-byte fp)
    * rows, meet in ONE gram-keyed left join, and roll up per eval id
    * with three count-distincts — benchmark-sized output. A
    * universally-common gram multiplies the join by its train-doc
    * count; the production guard is the same upstream hygiene the
    * forward direction relies on (boilerplate removal before
    * decontamination), and the join stays gram-keyed — never all-pairs.
    *
    * @return (id, n_grams, n_leaked, n_train_docs, leakage), leakage =
    *         n_leaked/n_grams. */
  def leakageReport(docs: DataFrame, idCol: String, textCol: String,
                    evalPred: Column, n: Int): DataFrame = {
    val evalGrams = grams(docs.filter(evalPred), textCol, n, col(idCol))
    val trainSide = grams(docs.filter(!evalPred), textCol, n, col(idCol))
      .select(col(idCol).as("__tid"), col("gram_fp"))
    evalGrams.join(trainSide, Seq("gram_fp"), "left")
      .groupBy(idCol)
      .agg(countDistinct(col("gram_fp")).as("n_grams"),
        countDistinct(when(col("__tid").isNotNull, col("gram_fp")))
          .as("n_leaked"),
        countDistinct(col("__tid")).as("n_train_docs"))
      .select(col(idCol), col("n_grams"), col("n_leaked"),
        col("n_train_docs"),
        (col("n_leaked").cast("double") / col("n_grams")).as("leakage"))
  }

  /** Name of the meta table kept next to a benchmark store `table`:
    * one row PER BLOOM STRIPE,
    * `(n, fpp, n_grams, n_stripes, clamped, stripe, bloom)` — the gram
    * size the store was built with (read back by
    * [[contaminatedAgainstStore]], so a shard can never be checked with
    * a mismatched n), the blooms' target false-positive rate, the
    * measured distinct-gram count, the stripe layout, whether the
    * sizing was clamped at [[MaxBloomStripes]] (the durable advisory —
    * a clamped store's prefilter selectivity is degraded for its whole
    * lifetime), and each stripe's serialized filter. Benchmarks up to
    * one stripe's capacity get exactly the old 1-row shape plus the
    * layout columns. */
  def benchmarkMeta(table: String): String = s"${table}_meta"

  /** Persist a held-out benchmark's decontamination state — the
    * PRODUCTION shape of [[contaminatedBloom]]: the benchmark (eval
    * set) changes rarely while training shards arrive continuously, so
    * its distinct gram fingerprints are written ONCE as a catalog table
    * bucketed by `gram_fp` (the exact-confirm side — every later
    * shard's semi-join reads these buckets in place, shuffle-free) and
    * the bloom filter over them is trained ONCE and stored in the
    * 1-row meta table ([[benchmarkMeta]]) next to it (the prefilter
    * side — a shard reads the serialized bits back instead of
    * re-aggregating the benchmark per run). Bloom sizing is exact
    * (measured gram count), striped past one filter's expression cap
    * ([[stripePlan]]); only past [[MaxBloomStripes]] stripes does it
    * clamp — loudly, with the `clamped` flag persisted in the meta. */
  /** Crash-consistency: the meta table is the COMMIT MARKER of a store
    * (re)build — it is DROPPED first and written LAST, so a crash
    * anywhere inside the rebuild leaves a store with NO meta table and
    * [[contaminatedAgainstStore]] fails loudly instead of silently
    * checking shards against a gram table / bloom pair from two
    * different benchmark versions (a stale bloom over fresh grams would
    * false-negative exactly the newly-added benchmark grams). The
    * repair is to re-run this method. */
  def writeBenchmarkStore(evalDocs: DataFrame, textCol: String, n: Int,
                          table: String, buckets: Int,
                          fpp: Double = 0.01,
                          maxItemsPerBloom: Long = MaxBloomItems): Unit = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    require(maxItemsPerBloom > 0,
      s"maxItemsPerBloom must be > 0, got $maxItemsPerBloom")
    val spark = evalDocs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `${benchmarkMeta(table)}`")
    graft.core.Bucketing.writeBucketed(grams(evalDocs, textCol, n),
      table, Seq("gram_fp"), buckets)
    // a fresh store restarts its batch-id space and carries no pending
    // append — drop the stale ledger + crash marker BEFORE the meta
    // commits, so the commit marker also covers the ledger state. The
    // old order (meta first, reset last) had a crash window that left a
    // fully-serving store with the previous ledger's applied batch ids:
    // a stream resumed with a fresh checkpoint (ids restarting at 0)
    // silently skipped its first batches via the applied() check
    // (review finding, round 17). Now that crash leaves a meta-less
    // store that refuses loudly until the rebuild is re-run.
    graft.core.IngestLedger.reset(spark, table)
    trainAndCommitMeta(spark, table, n, fpp, maxItemsPerBloom)
  }

  /** Retrain the stripe blooms over the CURRENT gram table and commit
    * the meta — the shared tail of [[writeBenchmarkStore]] and
    * [[appendToBenchmark]], so build and append sizing can never
    * desynchronize. The written grams feed two eager actions (count +
    * bloom agg): persisted across them, the contaminatedBloom
    * convention. */
  private def trainAndCommitMeta(spark: SparkSession, table: String, n: Int,
                                 fpp: Double, maxItemsPerBloom: Long): Unit = {
    val written = spark.table(table)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nEval = written.count()
      val (nStripes, clamped) = stripePlan(nEval, maxItemsPerBloom)
      val itemsPerStripe = (nEval + nStripes - 1) / nStripes
      // all stripe rows land in ONE write job, so the commit-marker
      // property is preserved: the meta table exists fully or not at
      // all. An empty benchmark still writes one (null-bloom) row —
      // meta presence, not row count, is the commit signal.
      val stripeRows =
        if (nEval == 0)
          spark.range(1).select(
            lit(null).cast("long").as("stripe"),
            lit(null).cast("binary").as("bloom"))
        else stripedBloomAgg(written, nStripes, itemsPerStripe, fpp)
      stripeRows
        .select(lit(n).as("n"), lit(fpp).as("fpp"), lit(nEval).as("n_grams"),
          lit(nStripes).as("n_stripes"), lit(clamped).as("clamped"),
          col("stripe").cast("int").as("stripe"), col("bloom"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(benchmarkMeta(table))
    } finally written.unpersist()
  }

  /** Crash marker of an in-flight benchmark APPEND, kept in the store's
    * ledger directory (the [[graft.ext.VectorStore]] recluster-marker
    * convention — a fixed-name file carrying the pass's parameters):
    * written before the meta is dropped, deleted after the retrained
    * meta commits, so a replay of a crashed append can recover the gram
    * size / fpp contract the dropped meta took with it. */
  private def appendPendingMarker(spark: SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      graft.core.IngestLedger.ledgerDir(spark, table), "bench-append-pending")

  /** Grow a persisted benchmark store with NEW eval docs — benchmarks
    * do change (new eval suites land), and a rebuild is O(benchmark)
    * while this append is O(new grams) for the gram table plus ONE
    * O(store) bloom retrain. That retrain is the deliberate cost call:
    * a bloom cannot be unioned incrementally without degrading its fpp
    * (adding items past the trained capacity drives false positives
    * toward 1 — the prefilter silently stops paying), so the append
    * re-aggregates the gram table into freshly-sized stripes. The gram
    * table itself never rescans the benchmark DOCS — only the stored
    * fps — so the retrain is a count + one map-side-combined
    * aggregation over (8-byte fp) rows, not a re-tokenization.
    *
    * Gram size and fpp come FROM the store's meta (an append can never
    * silently change the contract). Crash-safe and idempotent: the
    * pending marker ([[appendPendingMarker]]) lands first, the meta (the
    * store's commit marker) is dropped, missing grams append via an
    * anti-join (re-running appends nothing twice), and the retrained
    * meta commits last, after which the marker clears. A crash anywhere
    * leaves either a serving store (before the drop / after the commit)
    * or a refusing store with the marker in place — re-running THIS
    * append with the same docs completes it ([[ingestBenchmarkBatch]]
    * drives exactly that replay under the applied-batch ledger).
    *
    * CONSUME-BEFORE-APPEND: same contract as rebuilds
    * ([[contaminatedAgainstStore]]'s CONSUME-BEFORE-REBUILD note) — an
    * un-consumed lazy result from before the append would pair the old
    * bloom with the new grams and under-report exactly the appended
    * benchmark's overlaps. */
  def appendToBenchmark(evalDocs: DataFrame, textCol: String,
                        table: String, buckets: Int,
                        maxItemsPerBloom: Long = MaxBloomItems): Unit = {
    require(maxItemsPerBloom > 0,
      s"maxItemsPerBloom must be > 0, got $maxItemsPerBloom")
    val spark = evalDocs.sparkSession
    // heal a swap stranded by a crashed in-loop compaction BEFORE the
    // anti-join reads the gram table (the IncrementalDedup.ingestBatch
    // convention) — otherwise a fresh-checkpoint ingest after such a
    // crash fails on a missing table until a maintenance entry runs
    graft.core.Bucketing.recoverSwap(spark, table)
    val marker = appendPendingMarker(spark, table)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val metaExists = spark.catalog.tableExists(benchmarkMeta(table))
    val (n, fpp) =
      if (metaExists) {
        val meta = spark.table(benchmarkMeta(table))
        require(meta.columns.contains("n_stripes"),
          s"benchmark store '$table' was built under an older meta format " +
            "(no stripe layout columns) — re-run writeBenchmarkStore to " +
            "upgrade it before appending")
        val h = meta.head()
        (h.getAs[Int]("n"), h.getAs[Double]("fpp"))
      } else if (fs.exists(marker)) {
        // resuming a crashed append: the contract rode the marker. A
        // corrupt/empty marker (a crash inside the marker write while
        // the meta still existed cannot cause this — the meta survives
        // that window — so it signals external damage) must refuse
        // loudly, not die in parsing: the refusal names the repair.
        val in = fs.open(marker)
        val s = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
        val parts = s.trim.split(" ")
        try {
          require(parts.length == 2)
          (parts(0).toInt, parts(1).toDouble)
        } catch {
          case e: Exception => throw new IllegalStateException(
            s"benchmark store '$table' has no meta table and a corrupt " +
              s"append marker ('${s.trim}') — the (n, fpp) contract is " +
              "unrecoverable; re-run writeBenchmarkStore (this discards " +
              "appended suites) before appending", e)
        }
      } else {
        throw new IllegalArgumentException(
          s"benchmark store '$table' has no meta table and no pending " +
            "append marker — a (re)build crashed; re-run " +
            "writeBenchmarkStore before appending")
      }
    // Write the marker ONLY when the meta still holds the contract: on
    // the resume branch the marker IS the only durable copy, and the
    // truncating create would destroy it an instant before rewriting
    // the same bytes — a crash in that window left a 0-byte marker and
    // no meta, an unrepairable store (review finding, round 17). While
    // the meta exists a partial marker write is harmless: the next run
    // reads the contract from the meta and rewrites the marker.
    if (metaExists) {
      fs.mkdirs(marker.getParent)
      val out = fs.create(marker, true)
      try out.write(s"$n $fpp".getBytes("UTF-8")) finally out.close()
    }
    spark.sql(s"DROP TABLE IF EXISTS `${benchmarkMeta(table)}`")
    val missing = grams(evalDocs, textCol, n)
      .join(spark.table(table), Seq("gram_fp"), "left_anti")
    graft.core.Bucketing.appendBucketed(missing, table, Seq("gram_fp"),
      buckets)
    trainAndCommitMeta(spark, table, n, fpp, maxItemsPerBloom)
    fs.delete(marker, false)
  }

  /** [[appendToBenchmark]] under the applied-batch ledger — the
    * exactly-once streamed form (the [[graft.ext.ExactDedup]] loop
    * convention): a replayed committed batch skips outright; a batch
    * that crashed mid-append re-enters [[appendToBenchmark]], whose
    * pending-marker + anti-join + meta-last protocol makes the replay
    * converge. No intent marker is needed — unlike the count-delta
    * stores, every step here is idempotent on its own. */
  def ingestBenchmarkBatch(evalDocs: DataFrame, batchId: Long,
                           textCol: String, table: String, buckets: Int,
                           maxItemsPerBloom: Long = MaxBloomItems): Unit = {
    val spark = evalDocs.sparkSession
    if (graft.core.IngestLedger.applied(spark, table, batchId)) return
    appendToBenchmark(evalDocs, textCol, table, buckets, maxItemsPerBloom)
    graft.core.IngestLedger.record(spark, table, batchId)
  }

  /** Collapse the gram table's accumulated append generations back to
    * one file per bucket and prune the append ledger. The fold is a
    * plain `distinct` (the append's anti-join keeps the table
    * one-row-per-fp; distinct additionally collapses rows a crashed
    * append's partially-committed files may have duplicated — the
    * [[graft.ext.IncrementalDedup]] convention). The meta is untouched:
    * compaction changes file layout, never the gram set, so the trained
    * blooms stay valid. */
  def compactBenchmarkStore(spark: SparkSession, table: String,
                            buckets: Int): Unit = {
    graft.core.Bucketing.compact(spark, table, Seq("gram_fp"), buckets,
      prepare = _.distinct())
    graft.core.IngestLedger.prune(spark, table)
  }

  /** The CONTINUOUS form — eval suites arrive as a stream of doc
    * micro-batches (a new benchmark lands, the store grows, every later
    * training shard is checked against the union), with in-loop
    * maintenance on the shared cadence policy
    * ([[graft.core.Bucketing.streamLoop]]). `foreachBatch` is
    * at-least-once; [[ingestBenchmarkBatch]]'s
    * ledger + the append's own idempotence make it exactly-once. */
  def streamIngestBenchmark(shards: DataFrame, textCol: String,
                            table: String, buckets: Int, checkpoint: String,
                            compactEvery: Int = 0, maxFilesPerBucket: Int = 0,
                            maxItemsPerBloom: Long = MaxBloomItems)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.Bucketing.streamLoop(shards, checkpoint, buckets,
        compactEvery, maxFilesPerBucket)(
      ingestBenchmarkBatch(_, _, textCol, table, buckets, maxItemsPerBloom))(
      (table, compactBenchmarkStore(_, table, buckets)))

  /** Decontaminate a TRAINING shard against a persisted benchmark store
    * (written by [[writeBenchmarkStore]]) — identical results to
    * [[contaminatedBloom]] over the same split, without touching the
    * benchmark's documents: the gram size and bloom bits come from the
    * meta table (a 1-row driver read), candidates bloom-prefilter
    * map-side, and the exact confirm is a semi-join whose store side
    * reads its buckets in place (PlanSpec pins it Exchange-free).
    * Per-shard cost is O(shard grams) + the (shard ∩ benchmark)-sized
    * join — never a re-tokenization or re-aggregation of the benchmark.
    *
    * Same cache-lifetime contract as [[contaminatedBloom]]: the result
    * references the persisted train-gram rows; long-lived sessions
    * release them with `spark.catalog.clearCache()` after consuming.
    *
    * CONSUME-BEFORE-REBUILD CONTRACT: the meta row (gram size + bloom)
    * is read EAGERLY here, but the gram-table semi-join evaluates
    * lazily at the caller's first action. A [[writeBenchmarkStore]]
    * interleaved between this call and that action would pair the OLD
    * build's bloom with the NEW build's grams — grams present only in
    * the new build would be prefiltered away before the exact confirm
    * (silent under-reporting, the cross-build analogue of the crash
    * window the meta-as-commit-marker closes). Consume the returned
    * frame before any rebuild of `table`; a loop that must overlap the
    * two should `localCheckpoint` the result first. */
  def contaminatedAgainstStore(trainDocs: DataFrame, idCol: String,
                               textCol: String, table: String): DataFrame =
    contaminatedAgainstStoreOwned(trainDocs, idCol, textCol, table)._1

  /** Read a benchmark store's committed meta — gram size, stripe
    * count, and the per-stripe bloom bytes — with the loud refusals
    * every serve path shares: a missing meta names the RIGHT repair
    * (replay the crashed append vs re-run the build), and a pre-stripe
    * meta format refuses with the versioned upgrade message. */
  private def readBenchmarkMeta(spark: SparkSession, table: String)
      : (Int, Int, Map[Int, Array[Byte]]) = {
    if (!spark.catalog.tableExists(benchmarkMeta(table))) {
      // name the RIGHT repair: with a pending append marker the grams
      // are ahead of the dropped meta and replaying the append finishes
      // the job — re-running writeBenchmarkStore here would OVERWRITE
      // the gram table, silently discarding every appended suite, and
      // reset the append ledger so nothing ever refuses
      val marker = appendPendingMarker(spark, table)
      val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(marker))
        throw new IllegalArgumentException(
          s"benchmark store '$table' has no meta table but a pending " +
            "APPEND marker — an append crashed mid-flight; replay " +
            "appendToBenchmark/ingestBenchmarkBatch with the same docs " +
            "to complete it (do NOT re-run writeBenchmarkStore: it " +
            "would discard the appended suites)")
      else
        throw new IllegalArgumentException(
          s"benchmark store '$table' has no meta table — a (re)build " +
            "crashed before committing; re-run writeBenchmarkStore " +
            "before checking shards")
    }
    val meta = spark.table(benchmarkMeta(table))
    // meta-format contract: the striped layout added the
    // n_stripes/clamped/stripe columns; a store persisted under the
    // pre-stripe 1-row format fails HERE with the versioned message,
    // not downstream with a generic missing-field resolution error
    require(meta.columns.contains("n_stripes"),
      s"benchmark store '$table' was built under an older meta format " +
        "(no stripe layout columns) — re-run writeBenchmarkStore to " +
        "upgrade it before checking shards")
    val metaRows = meta.collect()
    (metaRows.head.getAs[Int]("n"), metaRows.head.getAs[Int]("n_stripes"),
      metaRows.iterator
        .filter(_.getAs[Array[Byte]]("bloom") != null)
        .map(r => r.getAs[Int]("stripe") -> r.getAs[Array[Byte]]("bloom"))
        .toMap)
  }

  /** [[contaminatedAgainstStore]] with the stage's resource OWNERSHIP
    * made explicit: the second element releases exactly what this call
    * allocated — the persisted train-gram frame the result references
    * AND (for a multi-stripe store) the broadcast stripe map — once the
    * caller has consumed the result. This replaces the session-wide
    * `clearCache()` hammer the plain overload's contract falls back to
    * (which would also evict every frame the CALLER holds across calls,
    * and would not release broadcasts at all — the
    * [[CurationLoop.ingestShard]] sharp edge this variant removes). */
  def contaminatedAgainstStoreOwned(trainDocs: DataFrame, idCol: String,
                                    textCol: String, table: String)
      : (DataFrame, () => Unit) = {
    val spark = trainDocs.sparkSession
    val (n, nStripes, blooms) = readBenchmarkMeta(spark, table)
    val trainGrams = grams(trainDocs, textCol, n, col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (candidates, bcOpt) =
      probeStriped(trainGrams, "gram_fp", blooms, nStripes)
    val shared = candidates
      .join(spark.table(table).hint("merge"), Seq("gram_fp"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
    val totals = trainGrams.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val result = shared.join(totals, Seq(idCol))
      .select(col(idCol), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams")).as("contamination"))
    val release = () => {
      trainGrams.unpersist()
      bcOpt.foreach(_.destroy())
      ()
    }
    (result, release)
  }

  /** FUZZY decontamination — flag training docs that are NEAR-duplicates
    * of a benchmark doc (MinHash/LSH over word shingles), the published
    * complement of the exact n-gram sweep: a lightly paraphrased or
    * partially rewritten eval item shares NO long n-gram with its source
    * yet still leaks the answer, so near-dup decontamination runs
    * alongside exact overlap in code/LLM data pipelines (the BigCode /
    * StarCoder recipe). The benchmark split lives in an
    * [[IncrementalDedup.writeSignatureStore]] signature store, so new
    * eval suites arrive through that store's own append / streamed
    * ingest and the probe inherits its whole scale story: banded
    * equi-joins against bucketed store files read in place (never
    * all-pairs, Exchange-free on the store side), the hot-bucket cap
    * available via `maxBandDocs` for boilerplate-heavy benchmarks.
    * Returns one verdict row per training doc: `contaminated`,
    * `n_bench_matches` (benchmark docs above the similarity floor), and
    * `min_bench_id` (the smallest matching benchmark id, for the
    * leakage audit; null when clean). Train ids must be disjoint from
    * benchmark ids — the underlying probe treats an equal id as a
    * self-match and skips it.
    *
    * CONSTANTS CONTRACT: `shingleN`/`numHashes`/`nBands` MUST equal the
    * values the signature store was written with — the store persists
    * banded rows, not its constants, so a mismatched probe's band keys
    * simply never line up and every paraphrase sails through flagged
    * CLEAN (silent under-reporting, no error). Production keeps the
    * three constants next to the store name as recipe configuration —
    * the same discipline every [[IncrementalDedup.dedupAgainstStore]]
    * caller already follows. */
  def fuzzyContaminatedAgainstStore(trainDocs: DataFrame, idCol: String,
                                    textCol: String, shingleN: Int,
                                    numHashes: Int, nBands: Int,
                                    table: String, minJaccard: Double,
                                    maxBandDocs: Int = 0): DataFrame = {
    val spark = trainDocs.sparkSession
    IncrementalDedup.dedupAgainstStore(trainDocs, idCol, textCol, shingleN,
        numHashes, nBands, spark.table(table), minJaccard, maxBandDocs,
        if (maxBandDocs > 0)
          Some(spark.table(IncrementalDedup.countsTable(table)))
        else None)
      .select(col(idCol), (!col("kept")).as("contaminated"),
        col("n_store_matches").as("n_bench_matches"),
        col("dup_of").as("min_bench_id"))
  }

  /** Contaminated-span REMOVAL — the surgical alternative to dropping a
    * contaminated document whole: every n-gram window that appears in
    * the benchmark store marks its tokens for removal and the document
    * is reassembled from what remains (the GPT-3 appendix-C deployment:
    * remove the overlapping window rather than the document, so a long
    * training doc that happens to quote one eval item keeps its other
    * 99% — whole-doc dropping at their scale discarded real data, and
    * whole-doc KEEPING leaks the item). One deliberate divergence,
    * documented: GPT-3 split the remainder into independent pieces;
    * this reassembles one document (the [[PassageDedup]] convention —
    * downstream chunking re-splits anyway, and reassembly keeps the
    * output row-aligned with the input for the release diff).
    *
    * The gram size comes from the store's committed meta
    * ([[readBenchmarkMeta]] — same loud refusals as every serve path),
    * candidates bloom-prefilter MAP-SIDE through the committed stripe
    * blooms before any shuffle (the [[contaminatedAgainstStore]]
    * deployment shape), and an exact semi-join against the bucketed
    * gram table (read in place, Exchange-free on the store side)
    * confirms false positives away — a bloom false positive must
    * never cut real text. Flagged window starts come back as one
    * bounded int array per affected doc; the token-level cut is the
    * [[PassageDedup.removeDuplicateSpans]] indexed-filter HOF. Text
    * never shuffles: the probe carries (id, pos, 8-byte fp) rows only.
    *
    * RESOURCE LIFETIME (the [[contaminatedAgainstStore]] contract): a
    * MULTI-stripe store's probe broadcasts the stripe map (up to
    * [[MaxBloomStripes]] × the per-filter bytes), and this plain
    * overload leaves that broadcast to plan GC — fine for one-shot
    * runs; a loop serving shard after shard against a big store should
    * use [[removeContaminatedSpansOwned]] and call the release per
    * batch, or it accumulates one stripe map per call. Single-stripe
    * stores (the common case) allocate nothing.
    *
    * @return (id, n_tokens, n_removed, text_kept) — one row per input
    *         document (clean docs verbatim, null-text docs as
    *         (0, 0, "")). */
  def removeContaminatedSpans(trainDocs: DataFrame, idCol: String,
                              textCol: String, table: String): DataFrame =
    removeContaminatedSpansOwned(trainDocs, idCol, textCol, table)._1

  /** CONTAMINATION SEVERITY report — the run-length grain the flat
    * overlap fraction ([[contaminatedAgainstStore]]) cannot express: a
    * doc sharing fifty SCATTERED 8-grams with a benchmark (boilerplate,
    * idiom) and a doc sharing one CONTIGUOUS 50-gram block (a verbatim
    * eval item) have similar overlap fractions but belong to different
    * policies — the published cuts key on run length (GPT-3's 13-gram
    * windows, ExactSubstr's 50-token spans). Per doc: total grams,
    * shared grams, the LONGEST CONSECUTIVE shared-gram run, and that
    * run's token length (`max_run + n − 1`). Clean and null-text docs
    * report zeros — the report covers every input doc (the
    * [[LmScore.score]] spine convention).
    *
    * The run detection is the islands idiom: among a doc's shared gram
    * POSITIONS in ascending order, `pos − row_number` is constant
    * exactly on each maximal consecutive run — one window + one
    * groupBy, both keyed by the doc (and the window's partition count
    * is bounded by the doc's shared grams, not the corpus). Gram size
    * comes from the store's committed meta (the serve-path contract:
    * severity at a different n than the store's grams would be
    * silently meaningless).
    *
    * Shape at 100 TB: the (id, pos, 8-byte fp) stream is the only
    * corpus-proportional exchange — document text never shuffles; the
    * store side is the exact fp-keyed semi join reading its buckets in
    * place (the x52 confirm leg, positions preserved on the probe
    * side). */
  def contaminationSeverity(trainDocs: DataFrame, idCol: String,
                            textCol: String, table: String): DataFrame = {
    val spark = trainDocs.sparkSession
    val (n, _, _) = readBenchmarkMeta(spark, table)
    val positioned = trainDocs
      .select(col(idCol), Ngrams.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode_outer(graft.functions.ShingleMd5(col("__toks"), n))
          .as(Seq("__pos", "gram_fp")))
    val totals = positioned
      .groupBy(idCol)
      .agg(count(col("gram_fp")).as("n_grams")) // the null spine row doesn't count
    val shared = positioned.filter(col("gram_fp").isNotNull)
      .join(spark.table(table).select(col("gram_fp")).hint("merge"),
        Seq("gram_fp"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val runs = shared
      .withColumn("__island", col("__pos") - row_number().over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(idCol)
      .agg(sum(col("__run")).as("n_shared"), max(col("__run")).as("max_run"))
    totals.join(runs, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        when(coalesce(col("max_run"), lit(0L)) === 0, lit(0L))
          .otherwise(col("max_run") + lit(n.toLong) - lit(1L))
          .as("max_run_tokens"))
  }

  /** [[removeContaminatedSpans]] with the broadcast stripe map's
    * release handle (the Owned convention); single-stripe stores
    * allocate nothing and the release is a no-op. */
  def removeContaminatedSpansOwned(trainDocs: DataFrame, idCol: String,
                                   textCol: String, table: String)
      : (DataFrame, () => Unit) = {
    val spark = trainDocs.sparkSession
    val (n, nStripes, blooms) = readBenchmarkMeta(spark, table)
    val toks = trainDocs
      .select(col(idCol), Ngrams.normTokens(col(textCol)).as("__toks"))
    // ShingleMd5 is position-aligned: element i fingerprints the window
    // starting at token i, so posexplode's index IS the window start
    val wins = toks
      .select(col(idCol),
        posexplode(graft.functions.ShingleMd5(col("__toks"), n))
          .as(Seq("__pos", "gram_fp")))
    val (candidates, bcOpt) = probeStriped(wins, "gram_fp", blooms, nStripes)
    val flagged = candidates
      .join(spark.table(table).hint("merge"), Seq("gram_fp"), "left_semi")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
    val result = PassageDedup.cutCoveredTokens(
      toks.join(flagged, Seq(idCol), "left"), idCol, n)
    (result, () => { bcOpt.foreach(_.destroy()); () })
  }
}
