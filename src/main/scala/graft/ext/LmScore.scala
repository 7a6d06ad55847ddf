package graft.ext

import graft.core.{Bucketing, IngestLedger, Reconcile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Language-model quality scoring (the CCNet/KenLM filtering pattern,
  * reduced to an engine-portable core): fit bigram statistics on a
  * REFERENCE corpus (the domain you want more of), then score candidate
  * documents by their mean bigram transition probability
  * `avg over positions i of p(w_{i+1} | w_i) = c(w_i w_{i+1}) / c(w_i)`
  * — fluent in-domain text scores high, boilerplate/junk/out-of-domain
  * text (whose transitions the reference never saw) scores low. Unseen
  * transitions back off to probability 0, so the score is a direct
  * "fraction of familiar mass" signal in [0, 1].
  *
  * Engine-portable arithmetic (the volatility/cents discipline applied
  * to probabilities): each ratio is one IEEE double division of two
  * exact integer counts — identical in any engine — and is then
  * QUANTIZED to floor(ratio·2³⁰) (exact: scaling by a power of two,
  * ratio ≤ 1 since every `w₁w₂` occurrence is a `w₁` occurrence), so
  * the per-doc aggregation is an ORDER-FREE integer sum, never a
  * float reduction whose value depends on Spark's partial-aggregate
  * order. The final score divides two exact values once, in a pinned
  * operation order mirrored by the oracle. No logs, no transcendental
  * functions — nothing that could differ by an ulp across engines.
  * The 2³⁰ scale keeps probabilities to ~1e-9 (ample for a [0,1]
  * filtering signal) while bounding the per-doc sum at
  * n_bigrams·2³⁰ — overflow would need a single ~2³³-token document
  * (tens of GB of text), far past anything a document-grain pipeline
  * feeds this operator.
  *
  * Scale shape at 100 TB: grams are the codegen'd 60-bit
  * [[graft.functions.ShingleMd5]] fingerprints (no gram string ever
  * materializes; nothing wider than fp + count crosses the wire). The
  * fit is two map-side-combined count aggregations; scoring is two
  * fp-keyed equi-joins of the candidate corpus against the compact
  * count relations plus one doc-keyed rollup. A long-lived deployment
  * would persist the two count relations bucketed by fp (the
  * [[IncrementalDedup]] store pattern) so every scoring run reads them
  * in place; the operator takes them as DataFrames, so a bucketed
  * catalog table drops in unchanged.
  */
object LmScore {

  private val QScale = 1073741824.0 // 2^30

  private def toks(textCol: String) =
    Ngrams.normTokens(col(textCol)).as("__toks")

  /** Fit the model in ONE pass over the reference: tokenize once,
    * explode BOTH shingle streams tagged by gram order (the
    * [[Repetition.signals]] share-the-expensive-stage pattern — the
    * regex tokenization is the corpus-proportional cost; two separate
    * count queries would pay it twice), count in one map-side-combined
    * shuffle. Output `(n, fp, c)` with n = 1 (transition denominators:
    * `w₁` occurrences anywhere) and n = 2 (numerators).
    *
    * [[score]] consumes the model relation twice (one filter per gram
    * order), so hand it a MATERIALIZED model — a persisted/checkpointed
    * frame, or the production shape: the relation written as a catalog
    * table (bucketed by `fp`, the [[IncrementalDedup]] store pattern)
    * that every scoring run then reads in place. */
  def fit(docs: DataFrame, textCol: String): DataFrame =
    docs.select(toks(textCol))
      .select(explode(concat(
        transform(graft.functions.ShingleMd5(col("__toks"), 1),
          f => struct(lit(1).as("n"), f.as("fp"))),
        transform(graft.functions.ShingleMd5(col("__toks"), 2),
          f => struct(lit(2).as("n"), f.as("fp"))))).as("g"))
      .groupBy(col("g.n").as("n"), col("g.fp").as("fp"))
      .agg(count(lit(1)).as("c"))

  /** Score `docs` against a fitted model (the [[fit]] relation): one
    * row per doc — `(id, n_bigrams, p_sum_q, lm_score)` with `p_sum_q`
    * the exact integer sum of the quantized transition probabilities
    * and `lm_score = (p_sum_q / 2³⁰) / n_bigrams` ∈ [0, 1] (null for
    * docs with fewer than two tokens — no transitions to judge).
    *
    * `docs` is scanned ONCE: an OUTER position explode keeps a single
    * null-bigram row for transition-less docs, so the per-doc rollup
    * itself is the full id spine — no second pass over (a possibly
    * expensive upstream of) `docs` for a final verdict join. */
  /** Per-position (prefix-unigram fp, bigram fp) pairs for every doc:
    * the two shingle arrays are position-aligned, so the prefix of
    * bigram i is unigram i; a doc with no bigrams keeps one all-null
    * row (an OUTER explode), making the per-doc rollup the full id
    * spine. ONE tokenization of `docs` — shared by [[score]] and
    * [[dsirMargin]], whose only difference is how many count relations
    * the pairs then meet. */
  private def transitionPairs(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame =
    docs
      .select(col(idCol), toks(textCol))
      .select(col(idCol),
        graft.functions.ShingleMd5(col("__toks"), 1).as("__u"),
        graft.functions.ShingleMd5(col("__toks"), 2).as("__b"))
      // the (prefix, bigram) tuples are zipped INSIDE a transform lambda
      // whose index variable is bound and always in range (|u| = |b|+1),
      // then outer-exploded as one struct array. The posexplode_outer +
      // element_at(__u, __pos + 1) formulation this replaces was
      // semantically identical but fragile: __pos is NULL on the
      // spine row of a token-less doc, and under a deep enough optimized
      // lineage (the x66 recipe's duplicated s6 subtree) codegen fed
      // element_at the null slot's DEFAULT index instead of propagating
      // the null — an ANSI INVALID_ARRAY_INDEX crash on exactly the
      // empty-text rows the outer explode exists to keep.
      .select(col(idCol),
        explode_outer(transform(col("__b"), (bf, i) =>
          struct(bf.as("bi_fp"),
            element_at(col("__u"), i + 1).as("uni_fp")))).as("__pr"))
      .select(col(idCol), col("__pr.bi_fp").as("bi_fp"),
        col("__pr.uni_fp").as("uni_fp"))

  def score(docs: DataFrame, idCol: String, textCol: String,
            model: DataFrame): DataFrame = {
    val uniCounts = model.filter(col("n") === 1).select(col("fp"), col("c"))
    val biCounts = model.filter(col("n") === 2).select(col("fp"), col("c"))
    transitionPairs(docs, idCol, textCol)
      .join(biCounts.select(col("fp").as("bi_fp"), col("c").as("__c2")),
        Seq("bi_fp"), "left")
      .join(uniCounts.select(col("fp").as("uni_fp"), col("c").as("__c1")),
        Seq("uni_fp"), "left")
      // an unseen bigram (or prefix) carries no familiar mass: ratio 0
      .select(col(idCol), col("bi_fp"),
        floor(coalesce(col("__c2").cast("double") / col("__c1").cast("double"),
          lit(0.0)) * lit(QScale)).as("__q"))
      .groupBy(idCol)
      .agg(count(col("bi_fp")).as("n_bigrams"), // null spine rows don't count
        sum(when(col("bi_fp").isNotNull, col("__q"))).as("p_sum_q"))
      .select(col(idCol),
        col("n_bigrams"),
        col("p_sum_q"),
        (col("p_sum_q").cast("double") / lit(QScale) /
          col("n_bigrams").cast("double")).as("lm_score"))
  }

  /** [[fit]] extended to TRIGRAM order (the CCNet/KenLM-realistic
    * model depth): one pass, one tokenization, three position-aligned
    * shingle streams counted in one map-side-combined shuffle. Output
    * `(n, fp, c)` with n ∈ {1, 2, 3} — a strict superset of [[fit]]'s
    * relation, so the persisted-store pattern (bucketed by `fp`, the
    * x54 shape) drops in unchanged. */
  def fit3(docs: DataFrame, textCol: String): DataFrame =
    docs.select(toks(textCol))
      .select(explode(concat(
        transform(graft.functions.ShingleMd5(col("__toks"), 1),
          f => struct(lit(1).as("n"), f.as("fp"))),
        transform(graft.functions.ShingleMd5(col("__toks"), 2),
          f => struct(lit(2).as("n"), f.as("fp"))),
        transform(graft.functions.ShingleMd5(col("__toks"), 3),
          f => struct(lit(3).as("n"), f.as("fp"))))).as("g"))
      .groupBy(col("g.n").as("n"), col("g.fp").as("fp"))
      .agg(count(lit(1)).as("c"))

  /** Per-position trigram transition tuples: the three shingle arrays
    * are position-aligned, so trigram i's CONTEXT bigram (w₁w₂) is
    * bigram i, its BACKOFF bigram (w₂w₃) is bigram i+1, and the
    * backoff context unigram (w₂) is token i+1. OUTER explode keeps
    * the sub-3-token id spine, the [[transitionPairs]] convention. */
  private def trigramPairs(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docs
      .select(col(idCol), toks(textCol))
      .select(col(idCol),
        graft.functions.ShingleMd5(col("__toks"), 1).as("__u"),
        graft.functions.ShingleMd5(col("__toks"), 2).as("__b"),
        graft.functions.ShingleMd5(col("__toks"), 3).as("__t"))
      // tuples built inside a transform lambda with a bound, always-in-
      // range index (|b| = |t|+1, |u| = |t|+2), then outer-exploded —
      // the [[transitionPairs]] plan-robustness shape (a null __pos from
      // posexplode_outer must never reach a positional element_at)
      .select(col(idCol),
        explode_outer(transform(col("__t"), (tf, i) =>
          struct(tf.as("tri_fp"),
            element_at(col("__b"), i + 1).as("ctx_fp"),
            element_at(col("__b"), i + 2).as("bo_fp"),
            element_at(col("__u"), i + 2).as("bo_ctx_fp")))).as("__pr"))
      .select(col(idCol), col("__pr.tri_fp").as("tri_fp"),
        col("__pr.ctx_fp").as("ctx_fp"), col("__pr.bo_fp").as("bo_fp"),
        col("__pr.bo_ctx_fp").as("bo_ctx_fp"))

  /** Trigram scoring with STUPID BACKOFF (Brants et al.): a seen
    * trigram scores its exact conditional `c(w₁w₂w₃)/c(w₁w₂)`; an
    * unseen one backs off to the bigram conditional at HALF weight —
    * the published 0.4 backoff constant is replaced by 0.5 so the
    * penalty is one exact integer halving (`shiftright(q, 1)`) of the
    * already-quantized floor(p·2³⁰) value, keeping the per-doc sum in
    * the order-free integer discipline (the same published-constant →
    * exact-arithmetic substitution as [[dsirMargin]]'s margin-for-
    * log-ratio; both signals are monotone in the quantity they
    * replace). An unseen backoff bigram contributes 0, [[score]]'s
    * convention. One tokenization of `docs`; four fp-keyed joins
    * against the compact count relations; `(id, n_trigrams, p_sum_q,
    * lm3_score)` with a null score for sub-3-token docs. */
  def score3(docs: DataFrame, idCol: String, textCol: String,
             model: DataFrame): DataFrame = {
    val c1 = model.filter(col("n") === 1).select(col("fp"), col("c"))
    val c2 = model.filter(col("n") === 2).select(col("fp"), col("c"))
    val c3 = model.filter(col("n") === 3).select(col("fp"), col("c"))
    val direct = floor(col("__c3").cast("double") / col("__c12").cast("double")
      * lit(QScale))
    val backoff = shiftright(
      floor(coalesce(col("__c23").cast("double") / col("__c2").cast("double"),
        lit(0.0)) * lit(QScale)), 1)
    trigramPairs(docs, idCol, textCol)
      .join(c3.select(col("fp").as("tri_fp"), col("c").as("__c3")),
        Seq("tri_fp"), "left")
      .join(c2.select(col("fp").as("ctx_fp"), col("c").as("__c12")),
        Seq("ctx_fp"), "left")
      .join(c2.select(col("fp").as("bo_fp"), col("c").as("__c23")),
        Seq("bo_fp"), "left")
      .join(c1.select(col("fp").as("bo_ctx_fp"), col("c").as("__c2")),
        Seq("bo_ctx_fp"), "left")
      .select(col(idCol), col("tri_fp"),
        when(col("__c3").isNotNull, direct).otherwise(backoff).as("__q"))
      .groupBy(idCol)
      .agg(count(col("tri_fp")).as("n_trigrams"),
        sum(when(col("tri_fp").isNotNull, col("__q"))).as("p_sum_q"))
      .select(col(idCol),
        col("n_trigrams"),
        col("p_sum_q"),
        (col("p_sum_q").cast("double") / lit(QScale) /
          col("n_trigrams").cast("double")).as("lm3_score"))
  }

  // ---------------------------------------------------------------------
  // Persisted model store — the production shape the [[fit]] docstring
  // names: the count relations written ONCE as a catalog table bucketed
  // by `fp`, read in place by every scoring run. Completes the
  // every-pipeline-stage-has-a-persisted-store invariant (exact
  // fingerprints, near-dup signatures, vector cells, benchmark grams,
  // and now the quality model).
  // ---------------------------------------------------------------------

  /** Name of the 1-row meta table kept next to a model store `table`:
    * `(max_n, q_scale, n_unigram_fps, n_bigram_fps, unigram_tokens,
    * bigram_tokens)` — the gram/quantizer CONTRACT the store was built
    * under (read back by [[scoreAgainstStore]], so a scoring run can
    * never silently pair a model with a different quantizer scale or
    * gram recipe) plus the initial build's size counters (the
    * reference-corpus identity at build time; [[appendToModel]] grows
    * the store WITHOUT rewriting the meta — the contract columns are
    * immutable, and keeping the meta out of the append path is what
    * keeps appends O(shard) and single-table-atomic).
    *
    * Crash-consistency: the meta table is the COMMIT MARKER of a store
    * (re)build — dropped first, written last ([[writeModelStore]]), so
    * a crash mid-build leaves a store with no meta and
    * [[scoreAgainstStore]] refuses loudly; the repair is to re-run the
    * build. */
  def modelMeta(table: String): String = s"${table}_meta"

  /** Store grain: the [[fit]] (or, for a `maxN = 3` store, [[fit3]])
    * relation plus a `batch_id` column — append GENERATIONS stay
    * distinguishable, which is what makes the streamed loop's crash
    * repair exact (delete one batch's delta rows, re-append) and costs
    * nothing at score time (counts are summed by `(n, fp)` in-bucket
    * regardless, the delta-store read grain). */
  private def modelRows(refDocs: DataFrame, textCol: String,
                        batchId: Long, maxN: Int): DataFrame =
    (if (maxN == 3) fit3(refDocs, textCol) else fit(refDocs, textCol))
      .withColumn("batch_id", lit(batchId))

  /** Fit on `refDocs` and persist the model as the bucketed catalog
    * table `table` (bucketed+sorted by `fp`; all gram orders in one
    * relation — [[score]]'s per-order filters preserve the bucketing,
    * so each count join reads the buckets in place). `maxN = 2` (the
    * default) persists the bigram model; `maxN = 3` the trigram one —
    * the meta records which, and appends read it back so a delta can
    * never carry a different gram depth than the store it grows. A
    * fresh store restarts its batch-id space ([[IngestLedger.reset]]). */
  def writeModelStore(refDocs: DataFrame, textCol: String,
                      table: String, buckets: Int, maxN: Int = 2): Unit = {
    require(maxN == 2 || maxN == 3, s"maxN must be 2 or 3, got $maxN")
    val spark = refDocs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `${modelMeta(table)}`")
    // the build's rows carry the -1 sentinel (like compacted rows):
    // a streamed loop's ids start at 0, so no batch repair can ever
    // filter the base build away
    Bucketing.writeBucketed(modelRows(refDocs, textCol, batchId = -1L, maxN),
      table, Seq("fp"), buckets)
    IngestLedger.reset(spark, table)
    spark.table(table)
      .agg(
        sum(when(col("n") === 1, lit(1L))).as("n_unigram_fps"),
        sum(when(col("n") === 2, lit(1L))).as("n_bigram_fps"),
        sum(when(col("n") === 1, col("c"))).as("unigram_tokens"),
        sum(when(col("n") === 2, col("c"))).as("bigram_tokens"))
      .select(lit(maxN).as("max_n"), lit(QScale.toLong).as("q_scale"),
        coalesce(col("n_unigram_fps"), lit(0L)).as("n_unigram_fps"),
        coalesce(col("n_bigram_fps"), lit(0L)).as("n_bigram_fps"),
        coalesce(col("unigram_tokens"), lit(0L)).as("unigram_tokens"),
        coalesce(col("bigram_tokens"), lit(0L)).as("bigram_tokens"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(modelMeta(table))
  }

  /** Grow the model with a new slice of the reference corpus at
    * O(shard) cost: the slice's counts land as DELTA rows in the same
    * bucket layout — never a refit, never a rewrite of existing rows.
    * Score-time reads sum the generations by `(n, fp)` in-bucket
    * ([[modelFromStore]]), so append-then-score ≡ refit-on-the-union
    * exactly (integer count addition is associative; LmStoreSpec pins
    * it). The delta's gram depth comes FROM THE STORE'S META (so an
    * append can never silently mix depths — and appending to a store
    * whose build never committed fails loudly here, not at serve
    * time). Periodic [[compactModelStore]] collapses the generations.
    * Caller-driven appends own their atomicity (the
    * [[ExactDedup.appendFingerprints]] convention); the streamed loop
    * ([[streamIngestModel]]) adds the exactly-once ledger. */
  def appendToModel(refDocs: DataFrame, textCol: String,
                    table: String, buckets: Int,
                    batchId: Long = -1L): Unit = {
    val spark = refDocs.sparkSession
    val maxN = requireModelContract(spark, table).getAs[Int]("max_n")
    Bucketing.appendBucketed(modelRows(refDocs, textCol, batchId, maxN),
      table, Seq("fp"), buckets)
  }

  /** The model relation served FROM the store: `(n, fp, c)` with delta
    * generations summed — an in-bucket aggregation (the store is
    * bucketed by `fp`, a subset of the grouping key, so no Exchange)
    * with the merge hint pinning the count joins to sort-merge against
    * the bucketed layout (a small test-scale model must not silently
    * broadcast and bypass the layout being proven — PlanSpec pins the
    * store subtree Exchange-free). */
  def modelFromStore(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .groupBy("n", "fp").agg(sum(col("c")).as("c"))
      .hint("merge")

  /** [[score]] served from a persisted model store — identical results
    * to scoring against the in-memory [[fit]] relation of the same
    * reference corpus (the x52/x44 adjudication pattern: same answer,
    * cheaper plan), without refitting anything: the candidate shard is
    * tokenized once and its count joins read the store's buckets in
    * place. Refuses a store whose (re)build never committed (no meta —
    * see [[modelMeta]]) or whose quantizer scale differs from this
    * build of the engine (a silent scale mismatch would skew every
    * score; scores are only comparable under ONE contract). */
  def scoreAgainstStore(docs: DataFrame, idCol: String, textCol: String,
                        table: String): DataFrame = {
    val spark = docs.sparkSession
    requireModelContract(spark, table)
    score(docs, idCol, textCol, modelFromStore(spark, table))
  }

  /** [[score3]] served from a persisted `maxN = 3` model store — x68's
    * answer from the cheaper plan (the x54 adjudication pattern): the
    * four count joins read the store's buckets in place, nothing is
    * refit. Refuses an uncommitted build, a quantizer mismatch, or a
    * BIGRAM store (its trigram leg would be silently empty and every
    * seen trigram would take the backoff path — a depth mismatch must
    * fail loudly, not skew every score). */
  def score3AgainstStore(docs: DataFrame, idCol: String, textCol: String,
                         table: String): DataFrame = {
    val spark = docs.sparkSession
    val maxN = requireModelContract(spark, table).getAs[Int]("max_n")
    require(maxN == 3,
      s"model store '$table' was built at gram depth $maxN — trigram " +
        "scoring needs a maxN = 3 build (writeModelStore(..., maxN = 3))")
    score3(docs, idCol, textCol, modelFromStore(spark, table))
  }

  /** Enforce a model store's contract before serving from (or
    * appending to) it: the build committed (meta present — see
    * [[modelMeta]]) and the quantizer scale matches this engine's.
    * Returns the meta row so callers needing more contract columns
    * (gram depth) don't pay a second driver-side read. */
  private def requireModelContract(spark: SparkSession,
                                   table: String): org.apache.spark.sql.Row = {
    require(spark.catalog.tableExists(modelMeta(table)),
      s"model store '$table' has no meta table — a (re)build crashed " +
        "before committing; re-run writeModelStore before scoring")
    val meta = spark.table(modelMeta(table)).head()
    require(meta.getAs[Long]("q_scale") == QScale.toLong,
      s"model store '$table' was built with quantizer scale " +
        s"${meta.getAs[Long]("q_scale")}, this engine scores at " +
        s"${QScale.toLong} — rebuild the store or match the scale")
    meta
  }

  /** DSIR-style domain-targeted selection (Xie et al.'s data-selection
    * pattern: score every candidate by a TARGET-domain model against a
    * SOURCE/background model and keep the target-leaning mass). The
    * published form uses the log-likelihood ratio of two hashed n-gram
    * models; this engine's form replaces the log-ratio with the mean
    * transition-probability MARGIN — `avg over transitions of
    * (p_target − p_source)` — deliberately: both are monotone
    * target-affinity signals, but the margin stays inside the
    * quantized-integer discipline (each probability floor(p·2³⁰)
    * before the order-free sums; the selection verdict
    * `t_sum_q > s_sum_q` is an exact integer comparison), so verdicts
    * and scores hash bit-exact across engines — no logs, nothing
    * transcendental.
    *
    * One row per doc: `(id, n_bigrams, t_sum_q, s_sum_q, dsir_margin,
    * selected)` — `selected` null for docs with no transitions to
    * judge (no evidence either way; route them by policy, not here).
    *
    * Scale shape: ONE tokenization of the candidates
    * ([[transitionPairs]]), four fp-keyed count joins (target/source ×
    * unigram/bigram — each model side reads its buckets in place when
    * served from a store), one doc-keyed rollup. */
  def dsirMargin(docs: DataFrame, idCol: String, textCol: String,
                 targetModel: DataFrame, sourceModel: DataFrame): DataFrame = {
    def side(model: DataFrame, n: Int, key: String, out: String) =
      model.filter(col("n") === n)
        .select(col("fp").as(key), col("c").as(out))
    transitionPairs(docs, idCol, textCol)
      .join(side(targetModel, 2, "bi_fp", "__tc2"), Seq("bi_fp"), "left")
      .join(side(targetModel, 1, "uni_fp", "__tc1"), Seq("uni_fp"), "left")
      .join(side(sourceModel, 2, "bi_fp", "__sc2"), Seq("bi_fp"), "left")
      .join(side(sourceModel, 1, "uni_fp", "__sc1"), Seq("uni_fp"), "left")
      .select(col(idCol), col("bi_fp"),
        floor(coalesce(col("__tc2").cast("double") / col("__tc1").cast("double"),
          lit(0.0)) * lit(QScale)).as("__qt"),
        floor(coalesce(col("__sc2").cast("double") / col("__sc1").cast("double"),
          lit(0.0)) * lit(QScale)).as("__qs"))
      .groupBy(idCol)
      .agg(count(col("bi_fp")).as("n_bigrams"),
        sum(when(col("bi_fp").isNotNull, col("__qt"))).as("t_sum_q"),
        sum(when(col("bi_fp").isNotNull, col("__qs"))).as("s_sum_q"))
      .select(col(idCol), col("n_bigrams"), col("t_sum_q"), col("s_sum_q"),
        ((col("t_sum_q") - col("s_sum_q")).cast("double") / lit(QScale) /
          col("n_bigrams").cast("double")).as("dsir_margin"),
        when(col("n_bigrams") > 0, col("t_sum_q") > col("s_sum_q"))
          .as("selected"))
  }

  /** [[dsirMargin]] served from two PERSISTED model stores (the x54
    * pattern twice): both stores' meta contracts are enforced, both
    * count sides read their buckets in place. This is the production
    * topology — the target model (the domain you want more of) and the
    * source model (the background corpus) are long-lived stores
    * maintained by [[appendToModel]]/[[streamIngestModel]], and every
    * candidate shard scores against them without refitting anything. */
  def dsirAgainstStores(docs: DataFrame, idCol: String, textCol: String,
                        targetTable: String, sourceTable: String): DataFrame = {
    val spark = docs.sparkSession
    Seq(targetTable, sourceTable).foreach(requireModelContract(spark, _))
    dsirMargin(docs, idCol, textCol,
      modelFromStore(spark, targetTable), modelFromStore(spark, sourceTable))
  }

  /** Collapse accumulated delta generations to one `(n, fp)` row and
    * one file per bucket; compacted rows carry `batch_id = -1` (the
    * "folded" sentinel), a dangling batch's rows pass through still
    * tagged so its crash repair stays exact, and ledger markers prune
    * below the watermark — the shared count-delta fold
    * ([[graft.core.Reconcile.compactDeltas]]). */
  def compactModelStore(spark: SparkSession, table: String,
                        buckets: Int): Unit =
    Reconcile.compactDeltas(spark, table, Seq("fp"), buckets,
      group = Seq("n", "fp"), sums = Seq("c"))

  /** The CONTINUOUS form: each micro-batch is a new slice of the
    * reference corpus whose count deltas append exactly-once under the
    * two-phase ledger ([[graft.core.IngestLedger]]) — the
    * [[ExactDedup.streamIngest]] pattern minus the verdict sink (a
    * model ingest has no per-doc output; the store IS the product). */
  def streamIngestModel(refDocs: DataFrame, textCol: String,
                        table: String, buckets: Int, checkpoint: String,
                        compactEvery: Int = 0, maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Bucketing.streamLoop(refDocs, checkpoint, buckets, compactEvery,
        maxFilesPerBucket)(
      ingestModelBatch(_, _, textCol, table, buckets))(
      (table, compactModelStore(_, table, buckets)))

  /** One micro-batch of [[streamIngestModel]] — also the non-streaming
    * entry point for a caller-driven loop that wants the ledger.
    * Replay of a batch that crashed mid-append converges EXACTLY: the
    * batch's delta rows are tagged with its id, so the repair rewrites
    * the store without them and re-appends deterministically
    * ([[graft.core.Reconcile.appendDeltas]]). */
  def ingestModelBatch(batch: DataFrame, batchId: Long, textCol: String,
                       table: String, buckets: Int): Unit =
    Reconcile.appendDeltas(batch.sparkSession, table, Seq("fp"), buckets,
      batchId)(appendToModel(batch, textCol, table, buckets, batchId))

  /** PASSAGE-level quality cutting — the CCNet deployment grain: CCNet
    * scores and filters PARAGRAPHS, not pages, because a good page
    * routinely carries a few low-quality blocks (navigation, comment
    * spam, garbled OCR) and page-level filtering either keeps the junk
    * or discards the page. Every `chunkTokens`-token passage is scored
    * as its own document against the persisted model store (the x54
    * serve path — counts read in place, nothing refit), passages with
    * `lm_score < minScore` are dropped, and the document reassembles
    * from the survivors in original order. Null-scored passages (fewer
    * than 2 tokens — no transitions) ABSTAIN and keep, the engine-wide
    * null-gate convention.
    *
    * Shape at 100 TB: the passage split is a narrow projection, and it
    * is evaluated TWICE — the verdict join's two sides both derive from
    * it and Catalyst has no common-subplan reuse (the
    * [[PassageDedup.removeDuplicateSpans]] two-scan trade; persisting
    * the exploded passage frame would pin corpus-scale text in cache).
    * Scoring shuffles (passage-key, 8-byte gram fp) rows through the
    * store's fp-keyed count joins — passage TEXT never rides the gram
    * exchange; reassembly groups by doc id with the
    * [[PassageDedup.removeBoilerplate]] `array_sort(collect_list)`
    * idiom (the one passage-carrying shuffle, inherent to reassembly).
    * The passage strings ARE re-tokenized once inside the scorer (they
    * are already normalized, so the tokens are identical) — the price
    * of reusing the ONE scoring implementation rather than forking a
    * token-array-input variant of it.
    *
    * @return (id, n_passages, n_dropped, text_kept) — one row per input
    *         document, null-text docs as (0, 0, ""). */
  def removeLowQualityPassages(docs: DataFrame, idCol: String,
                               textCol: String, chunkTokens: Int,
                               table: String, minScore: Double): DataFrame = {
    require(chunkTokens >= 1,
      s"chunkTokens must be >= 1, got $chunkTokens")
    val passages = docs
      .select(col(idCol), Ngrams.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode_outer(Ngrams.passages(col("__toks"), chunkTokens))
          .as(Seq("idx", "passage")))
    // each passage scored as its own doc: the synthetic key is unique
    // because idx is unique within id
    val keyed = passages.filter(col("passage").isNotNull)
      .withColumn("__pk", concat_ws("#", col(idCol).cast("string"),
        col("idx").cast("string")))
    val scored = scoreAgainstStore(
      keyed.select(col("__pk"), col("passage")), "__pk", "passage", table)
    val verdicts = keyed
      .join(scored.select(col("__pk"), col("lm_score")), Seq("__pk"), "left")
      .select(col(idCol), col("idx"),
        (col("lm_score").isNotNull && col("lm_score") < minScore)
          .as("__drop"))
    passages.join(verdicts, Seq(idCol, "idx"), "left")
      .groupBy(idCol)
      .agg(count(col("passage")).as("n_passages"),
        coalesce(sum(when(col("__drop"), 1L).otherwise(0L)), lit(0L))
          .as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(
              !coalesce(col("__drop"), lit(false)) && col("passage").isNotNull,
              struct(col("idx"), col("passage"))))),
            s => s.getField("passage")),
          " ").as("text_kept"))
  }
}
