package graft.ext

import graft.core.Bucketing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PRODUCTION curation topology composed end to end — one ingest
  * call per shard driving every persisted-store stage in the order a
  * real pre-training pipeline runs them (cheapest / highest-yield
  * first):
  *
  *   1. exact dedup against the fingerprint store   ([[ExactDedup]], x50)
  *   2. near-dup against the MinHash signature store ([[IncrementalDedup]], x34)
  *   3. embedding dedup against the IVF vector store ([[VectorStore]], x45)
  *   4. decontamination against the benchmark store  ([[Decontaminate]], x52)
  *   5. quality gate against the LM model store      ([[LmScore]], x54)
  *
  * This loop and the one-shot [[Curation.batchRecipe]] share ONE stage
  * inventory: the recipe runs these same five stages in this order over
  * a static corpus (prefixed by the batch-only rule-gate/boilerplate
  * cleanup, which needs corpus-wide frequencies no single shard has),
  * differing only in gate POLICY where batch can see the corpus
  * distribution (per-source quantile vs per-shard absolute LM
  * threshold — documented there).
  *
  * Stages 1–3 MUTATE their stores (each shard's stage-local survivors
  * append, so the next shard dedups against everything ingested so
  * far); stages 4–5 are read-only gates. Each mutating stage keeps its
  * own applied-batch ledger under its own table — the composition adds
  * NO new crash window: a replayed shard re-enters each stage's
  * `ingestBatch`, which skips if committed, reconciles if it crashed
  * mid-append, and re-runs if it never started; every stage's input is
  * derived from the PREVIOUS stage's committed verdict partition (never
  * recomputed against a mutated store), so the cascade is deterministic
  * under any crash/resume interleaving. The combined verdict and funnel
  * writes are dynamic-partition overwrites — idempotent, so they need
  * no ledger of their own.
  *
  * Store-admission semantics (deliberate, documented): a store admits
  * its OWN stage's survivors — a doc dropped later (vector twin,
  * contaminated, low quality) keeps its fingerprint/signature rows. A
  * future twin of such a doc therefore drops at the cheap dedup stage
  * instead of re-running the expensive gates; the final outcome is
  * identical (identical content gates identically), the work is not.
  * Same jurisdiction split as the stage operators themselves:
  * intra-shard twins pass the cross-shard stores and are the batch
  * operators' business ([[ExactDedup.dedupExactAgainstStore]]).
  *
  * Scale shape: the shard flows through as id-keyed joins of verdict
  * parquet (ids + 16-byte fps/longs on the wire — document text is
  * only scanned by each stage's own tokenize, embeddings only by the
  * vector stage); every store side reads its buckets in place (the
  * per-stage PlanSpec pins carry over verbatim — this file composes
  * the pinned operators, it does not re-plan them).
  */
object CurationLoop {

  /** The five store tables one curation corpus maintains (stages 1–3
    * mutate theirs; 4–5 serve read-only) plus the shared bucket count. */
  final case class Stores(fpTable: String, sigTable: String,
                          vecTable: String, benchTable: String,
                          modelTable: String, buckets: Int)

  /** Stage parameters: near-dup MinHash recipe, vector-store IVF
    * recipe, and the two gate thresholds. A doc whose contamination
    * (shared benchmark grams / own grams) exceeds `maxContamination`
    * drops at stage 4; a doc whose LM score falls below `minLmScore`
    * drops at stage 5 — unless it has no bigram transitions to judge
    * (`n_bigrams = 0`), in which case it PASSES: the quality gate drops
    * on evidence of junk, not on absence of evidence (the
    * fingerprint-less-doc convention of the dedup stages). */
  final case class Params(shingleN: Int, numHashes: Int, nBands: Int,
                          minJaccard: Double, minCosine: Double,
                          nCentroids: Int, nProbe: Int, dim: Int,
                          seedOffset: Long, maxContamination: Double,
                          minLmScore: Double)

  private def stageOut(outRoot: String, stage: String) = s"$outRoot/$stage"

  private def stageVerdicts(spark: SparkSession, outRoot: String,
                            stage: String, batchId: Long): DataFrame =
    spark.read.parquet(stageOut(outRoot, stage))
      .filter(col("batch_id") === batchId)

  /** Ingest ONE shard through the full cascade. Writes, under
    * `outRoot`: each stage's own verdicts (`exact/`, `neardup/`,
    * `vector/` — the stage operators' formats), the combined per-doc
    * verdicts (`verdicts/`, partitioned by `batch_id`:
    * `(id, kept, dropped_at, dup_of, contamination, lm_score)` — one
    * row per shard doc; `dropped_at` names the dropping stage, null
    * when kept; `contamination`/`lm_score` are null for docs that never
    * reached that gate), and the per-batch funnel counts (`funnel/`:
    * docs surviving after each stage — the numbers a curation run
    * publishes).
    *
    * `batch` must carry `idCol`, `textCol`, and `embCol` (join the
    * embedding relation before calling — at 100 TB that join is the
    * caller's bucketed id-keyed join, not this loop's business).
    *
    * Cache lifetime: the decontamination stage persists the shard's
    * gram rows (and broadcasts the stripe map for a multi-stripe
    * benchmark — the [[Decontaminate]] contract); once the combined
    * verdicts are materialized this call releases exactly those
    * stage-owned resources
    * ([[Decontaminate.contaminatedAgainstStoreOwned]]'s release handle)
    * so a long-running loop cannot accumulate one gram cache + one
    * broadcast per batch. Caller-persisted frames held across
    * ingestShard calls are NOT touched (CurationLoopRecoverySpec pins
    * it). */
  def ingestShard(batch: DataFrame, batchId: Long,
                  idCol: String, textCol: String, embCol: String,
                  stores: Stores, params: Params, outRoot: String): Unit = {
    val spark = batch.sparkSession

    // ---- stage 1: exact dedup (mutates fpTable, own ledger) ----
    ExactDedup.ingestBatch(batch.select(col(idCol), col(textCol)), batchId,
      idCol, textCol, stores.fpTable, stores.buckets,
      stageOut(outRoot, "exact"))
    val exactKept = stageVerdicts(spark, outRoot, "exact", batchId)
      .filter(col("kept")).select(col(idCol))
    val s1 = batch.join(exactKept, Seq(idCol))

    // ---- stage 2: near-dup (mutates sigTable, own ledger) ----
    IncrementalDedup.ingestBatch(s1.select(col(idCol), col(textCol)),
      batchId, idCol, textCol, params.shingleN, params.numHashes,
      params.nBands, stores.sigTable, stores.buckets, params.minJaccard,
      stageOut(outRoot, "neardup"))
    val ndKept = stageVerdicts(spark, outRoot, "neardup", batchId)
      .filter(col("kept")).select(col(idCol))
    val s2 = s1.join(ndKept, Seq(idCol))

    // ---- stage 3: vector dedup (mutates vecTable, own ledger) ----
    VectorStore.ingestBatch(s2.select(col(idCol), col(embCol)), batchId,
      idCol, embCol, stores.vecTable, stores.buckets, params.minCosine,
      params.nCentroids, params.nProbe, params.dim, params.seedOffset,
      stageOut(outRoot, "vector"))
    val vecKept = stageVerdicts(spark, outRoot, "vector", batchId)
      .filter(col("kept")).select(col(idCol))
    val s3 = s2.join(vecKept, Seq(idCol)).select(col(idCol), col(textCol))

    // ---- stage 4: decontamination gate (read-only) ----
    // contaminatedAgainstStore returns only docs with >= 1 shared gram;
    // absent docs carry contamination 0 and pass. The OWNED variant
    // hands back a release handle for the stage's own resources (gram
    // cache + any stripe-map broadcast) so this loop releases exactly
    // its own allocations below — never the caller's.
    val (contamRaw, contamRelease) = Decontaminate
      .contaminatedAgainstStoreOwned(s3, idCol, textCol, stores.benchTable)
    // try/finally: a failed checkpoint or verdict write must still
    // release the stage's gram cache + stripe broadcast, or the retried
    // loop accumulates one per failed batch (review finding, round 17)
    try {
    val contam = contamRaw
      .select(col(idCol), col("contamination").as("__cont"))
    val s4 = s3.join(contam, Seq(idCol), "left")
      .filter(coalesce(col("__cont"), lit(0.0)) <= params.maxContamination)
      .select(col(idCol), col(textCol))

    // ---- stage 5: LM quality gate (read-only) ----
    val lm = LmScore.scoreAgainstStore(s4, idCol, textCol, stores.modelTable)
      .select(col(idCol), col("n_bigrams").as("__lm_nb"),
        col("lm_score").as("__lm"))

    // ---- combined verdicts: one row per shard doc ----
    val e = stageVerdicts(spark, outRoot, "exact", batchId)
      .select(col(idCol), col("kept").as("__e_kept"),
        col("dup_of").as("__e_dup"))
    val n = stageVerdicts(spark, outRoot, "neardup", batchId)
      .select(col(idCol), col("kept").as("__n_kept"),
        col("dup_of").as("__n_dup"))
    val v = stageVerdicts(spark, outRoot, "vector", batchId)
      .select(col(idCol), col("kept").as("__v_kept"),
        col("dup_of").as("__v_dup"))
    val droppedAt =
      when(!col("__e_kept"), "exact")
        .when(col("__n_kept").isNotNull && !col("__n_kept"), "neardup")
        .when(col("__v_kept").isNotNull && !col("__v_kept"), "vector")
        .when(col("__reached4") &&
          coalesce(col("__cont"), lit(0.0)) > params.maxContamination,
          "decontam")
        .when(col("__reached5") && col("__lm_nb") > 0 &&
          col("__lm") < params.minLmScore, "lm")
        .otherwise(lit(null).cast("string"))
    val verdicts = batch.select(col(idCol))
      .join(e, Seq(idCol), "left")
      .join(n, Seq(idCol), "left")
      .join(v, Seq(idCol), "left")
      .join(contam, Seq(idCol), "left")
      .join(lm, Seq(idCol), "left")
      .withColumn("__reached4",
        col("__e_kept") && coalesce(col("__n_kept"), lit(false)) &&
          coalesce(col("__v_kept"), lit(false)))
      .withColumn("__reached5", col("__reached4") &&
        coalesce(col("__cont"), lit(0.0)) <= params.maxContamination)
      .withColumn("dropped_at", droppedAt)
      .select(col(idCol),
        col("dropped_at").isNull.as("kept"),
        col("dropped_at"),
        coalesce(col("__e_dup"), col("__n_dup"), col("__v_dup")).as("dup_of"),
        when(col("__reached4"), coalesce(col("__cont"), lit(0.0)))
          .as("contamination"),
        when(col("__reached5"), col("__lm")).as("lm_score"))
      // eagerly materialized so the funnel rollup below and any caller
      // re-read cannot observe a half-written partition
      .localCheckpoint(true)
    verdicts.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(stageOut(outRoot, "verdicts"))

    // ---- funnel counts: the per-batch numbers a curation run reports ----
    // the decontamination stage persisted the shard's train grams (the
    // Decontaminate cache contract); the verdicts above are eagerly
    // materialized, so this batch is done with its cached plan — release
    // EXACTLY the stage-owned resources (a long-running loop must not
    // accumulate one gram cache + one stripe-map broadcast per batch),
    // and ONLY those: a caller-persisted frame held across ingestShard
    // calls survives (CurationLoopRecoverySpec pins it; the old
    // session-wide clearCache evicted those too — and never released
    // broadcasts at all). The release rides the finally below so a
    // failure anywhere after the Owned allocation also runs it.
    verdicts
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("dropped_at").isNull ||
          !col("dropped_at").isin("exact"), 1)).as("n_after_exact"),
        count(when(col("dropped_at").isNull ||
          !col("dropped_at").isin("exact", "neardup"), 1))
          .as("n_after_neardup"),
        count(when(col("dropped_at").isNull ||
          !col("dropped_at").isin("exact", "neardup", "vector"), 1))
          .as("n_after_vector"),
        count(when(col("dropped_at").isNull ||
          !col("dropped_at").isin("exact", "neardup", "vector", "decontam"),
          1)).as("n_after_decontam"),
        count(when(col("kept"), 1)).as("n_kept"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(stageOut(outRoot, "funnel"))
    } finally contamRelease()
  }

  /** The funnel partitions served as the curation run's TIME SERIES —
    * per-stage drop-rate drift across batches is THE production
    * early-warning signal (a near-dup rate jumping between shards means
    * the crawl started re-fetching; an LM drop-rate drift means the
    * corpus mix shifted under the model): one row per (batch, stage)
    * with the counts entering/surviving the stage, the stage's drop
    * rate, and the rate's delta against the PREVIOUS batch (null on the
    * run's first batch — no baseline yet). A stage nothing entered has
    * a null rate (0/0 — abstain, the [[Curation.topFractionPerGroup]]
    * null-policy convention) and null deltas on both sides.
    *
    * Determinism: counts are exact int64; each rate is one
    * correctly-rounded int64→double division; each delta one double
    * subtraction — the oracle replays the identical sequence.
    *
    * Scale shape: the funnel table holds one ROW per ingested batch
    * (years of hourly shards ≈ 10⁴ rows), so the unpivot + the
    * per-stage lag window are dashboard-sized work over an already-
    * aggregated artifact — never a corpus touch. */
  def funnelHistory(spark: SparkSession, outRoot: String): DataFrame = {
    val f = spark.read.parquet(stageOut(outRoot, "funnel"))
    val stages = Seq(
      (1, "exact", "n_docs", "n_after_exact"),
      (2, "neardup", "n_after_exact", "n_after_neardup"),
      (3, "vector", "n_after_neardup", "n_after_vector"),
      (4, "decontam", "n_after_vector", "n_after_decontam"),
      (5, "lm", "n_after_decontam", "n_kept"))
    val long = f.select(col("batch_id").cast("long").as("batch_id"),
      explode(array(stages.map { case (no, name, inC, outC) =>
        struct(lit(no).as("stage_no"), lit(name).as("stage"),
          col(inC).as("n_in"), col(outC).as("n_out"))
      }: _*)).as("s"))
      .select(col("batch_id"), col("s.stage_no").as("stage_no"),
        col("s.stage").as("stage"), col("s.n_in").as("n_in"),
        col("s.n_out").as("n_out"))
      .withColumn("drop_rate",
        when(col("n_in") > 0,
          (col("n_in") - col("n_out")).cast("double") / col("n_in")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stage_no").orderBy("batch_id")
    long.withColumn("drop_rate_delta",
      col("drop_rate") - lag(col("drop_rate"), 1).over(w))
  }

  /** The CONTINUOUS form: shards stream through [[ingestShard]], with
    * in-loop maintenance on each MUTATED store (the shared
    * [[graft.core.Bucketing.maintainInLoop]] cadence policy applied
    * per store — the read-only benchmark/model stores need none). */
  def streamIngest(shards: DataFrame, idCol: String, textCol: String,
                   embCol: String, stores: Stores, params: Params,
                   outRoot: String, checkpoint: String,
                   compactEvery: Int = 0, maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Bucketing.streamLoop(shards, checkpoint, stores.buckets, compactEvery,
        maxFilesPerBucket)(
      ingestShard(_, _, idCol, textCol, embCol, stores, params, outRoot))(
      (stores.fpTable, ExactDedup.compactStore(_, stores.fpTable,
        stores.buckets)),
      (stores.sigTable, IncrementalDedup.compactStore(_, stores.sigTable,
        stores.buckets)),
      (stores.vecTable, VectorStore.compactStore(_, stores.vecTable,
        stores.buckets)))
}
