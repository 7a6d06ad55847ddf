package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation funnel as ONE declarative
  * plan: raw corpus → language filter → quality filter → exact dedup →
  * deterministic sample, reporting the surviving-document count at
  * every stage (the numbers a data-curation run actually publishes).
  * This is the composition the individual operators exist for — the
  * public pre-training recipes (C4, Gopher, FineWeb) are exactly such
  * funnels.
  *
  * Shape at 100 TB: the per-doc features (language scores, quality
  * features, dedup fingerprint) are STAGED as columns in one narrow
  * projection — each regex/score expression evaluates once per
  * document — and the gate decisions in a second projection reference
  * only those columns. Inlining the argmax over the raw score
  * expressions instead would copy every score subtree into each
  * when-branch, where codegen subexpression elimination cannot reach
  * (measured 1.6 s → 5 s at sf0.1; Catalyst's CollapseProject refuses
  * to merge the two projections for exactly that reason). The
  * raw/language/quality stage counts come from a single conditional
  * aggregate over that scan, and the dedup + sample counts from one
  * fingerprint groupBy — the funnel's only shuffle.
  */
object Curation {

  /** @return (stage_no, stage, n_docs) — one row per funnel stage. */
  def funnel(docs: DataFrame, idCol: String, textCol: String,
             qualityMin: Double, sampleRate: Double): DataFrame = {
    val t = col(textCol)
    // stage every feature once; gate decisions reference columns only
    val feats = docs.select(
      col(idCol) +:
        TextAnalysis.fingerprintMd5(t).as("fp") +:
        length(t).cast("long").as("__nc") +:
        size(TextAnalysis.wsTokens(t)).cast("long").as("__nt") +:
        TextAnalysis.digitRatio(t).as("__digit") +:
        TextAnalysis.nonAsciiRatio(t).as("__s_zh") +:
        Seq("de", "en", "es", "fr").map(l =>
          TextAnalysis.stopwordRatio(t,
            Map("de" -> TextAnalysis.stopDe, "en" -> TextAnalysis.stopEn,
              "es" -> TextAnalysis.stopEs, "fr" -> TextAnalysis.stopFr)(l))
            .as(s"__s_$l")): _*)
    val avgLen = when(col("__nt") === 0, 0.0)
      .otherwise((col("__nc") - col("__nt") + 1).cast("double") / col("__nt"))
    val score = lit(0.4) * col("__s_en") +
      lit(0.3) * (least(avgLen, lit(10.0)) / 10.0) +
      lit(0.3) * (lit(1.0) - col("__digit"))
    // persisted for the duration of this call (released before return —
    // the eager localCheckpoint below materializes the result first):
    // without materialization, predicate pushdown rewrites the
    // dedup branch's filter in terms of the RAW score trees — every
    // regex re-evaluated per row inside a Filter where subexpression
    // elimination cannot reach (measured 6.8 s for that branch alone at
    // sf0.1 vs ~0.5 s from the cached flags). The cached row is just
    // (id, 16-byte fp, two booleans) — far smaller than the corpus.
    val flags = feats.select(col(idCol), col("fp"),
      (TextAnalysis.argmaxLang(
        Seq("de", "en", "es", "fr", "zh").map(l => l -> col(s"__s_$l")))
        === "en").as("lang_ok"),
      (score >= qualityMin).as("qual_ok"))
      .persist()

    // coalesce: sum over an EMPTY corpus is NULL, but a funnel must
    // publish 0 at every stage (the oracle's count(*) does)
    val scanStages = flags.agg(
        count(lit(1)).as("raw"),
        coalesce(sum(when(col("lang_ok"), 1L).otherwise(0L)), lit(0L)).as("lang_en"),
        coalesce(sum(when(col("lang_ok") && col("qual_ok"), 1L).otherwise(0L)),
          lit(0L)).as("quality"))

    // dedup over the quality survivors; the sample bucket is a function
    // of the canonical (min) id, so both counts fall out of one groupBy
    val canon = flags.filter(col("lang_ok") && col("qual_ok"))
      .groupBy("fp").agg(min(col(idCol)).as(idCol))
    val dedupStages = canon.agg(
      count(lit(1)).as("dedup"),
      coalesce(sum(when(Sampling.hashBucket(col(idCol))
          < math.round(sampleRate * Sampling.Denom), 1L).otherwise(0L)),
        lit(0L)).as("sample"))

    // ONE row with all five counts, exploded into stage rows — a union
    // of five single-row aggregates instead would give every branch its
    // own full corpus scan (no exchange to reuse; measured 5 scans / ~5 s
    // at sf0.1 vs 2 scans here: one for the flag counts, one feeding the
    // dedup groupBy)
    val out = scanStages.crossJoin(dedupStages)
      .select(explode(array(
        struct(lit(1).as("stage_no"), lit("raw").as("stage"), col("raw").as("n_docs")),
        struct(lit(2).as("stage_no"), lit("lang_en").as("stage"), col("lang_en").as("n_docs")),
        struct(lit(3).as("stage_no"), lit("quality").as("stage"), col("quality").as("n_docs")),
        struct(lit(4).as("stage_no"), lit("dedup").as("stage"), col("dedup").as("n_docs")),
        struct(lit(5).as("stage_no"), lit("sample").as("stage"), col("sample").as("n_docs"))))
        .as("s"))
      .select(col("s.stage_no"), col("s.stage"), col("s.n_docs"))
      // eager: the whole funnel runs here and only the 5 result rows are
      // retained, which lets this operator release its own cache — the
      // flags table is internal (no caller ever sees it), so unlike the
      // MinHash/Packing signature tables there is no caller to own the
      // lifetime, and repeated funnel() calls must not accumulate
      // CacheManager entries for the session's lifetime
      .localCheckpoint(true)
    flags.unpersist()
    out
  }

  /** Per-group quality-quantile gate — the per-DOMAIN top-fraction
    * selection the published curation recipes apply instead of one
    * global threshold (a cutoff tuned on web text would gut a
    * high-value but stylistically different domain; ranking WITHIN the
    * domain keeps every domain's best half). Keeps the top `fraction`
    * of each group by `scoreCol`: `cume_dist` over the group ascending
    * in score — `(rows ≤ current)/n`, identical arithmetic and
    * whole-tie-group semantics in every engine — kept iff
    * `cume_dist > 1 − fraction`. cume_dist (not percent_rank) is the
    * deliberate choice: a singleton group ranks 1.0 and KEEPS its only
    * row (percent_rank would rank it 0.0 and a half-fraction gate
    * would gut every tiny domain), and a tie group is kept or dropped
    * WHOLE (no arbitrary winner among equals). Rows with a NULL score
    * (nothing to judge) bypass the ranking with null
    * `cume_dist`/`kept`: policy decides them, not this operator — and
    * cross-engine null-ORDERING semantics never enter the window.
    *
    * Scale shape: ONE scan of the (possibly expensive — e.g. a full LM
    * scoring plan) input: the null bypass is a window PARTITION key
    * (`scoreCol IS NULL`), not a second filter branch that would
    * re-evaluate the input's lineage, and the null partition's window
    * values are masked to null in the projection — so one hash
    * exchange on (group, is-null) + an in-partition sort, no global
    * sort, no driver quantile, no double scan (measured: the
    * two-branch union form re-ran x59's LM scoring twice, 3.45 s →
    * this shape). */
  def topFractionPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
                          fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      s"fraction must be in (0,1], got $fraction")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col(scoreCol).isNull)
      .orderBy(col(scoreCol))
    df.withColumn("__cd", cume_dist().over(w))
      .withColumn("cume_dist",
        when(col(scoreCol).isNotNull, col("__cd")))
      .withColumn("kept",
        when(col(scoreCol).isNotNull, col("__cd") > lit(1.0 - fraction)))
      .drop("__cd")
  }

  /** CCNet-style per-group score BUCKETS (Wenzek et al.'s
    * head/middle/tail split, generalized to `nBuckets`): within each
    * group, rank by `scoreCol` best-first and deal rows into
    * equal-sized buckets with `ntile` — bucket 1 is the "head" slice a
    * recipe trains on first, the last bucket the "tail" it drops or
    * down-weights. Published CCNet cuts its corpus into exactly these
    * per-language perplexity terciles; [[topFractionPerGroup]] is the
    * keep/drop special case, this is the graded form.
    *
    * Determinism: `ntile` deals by ROW ORDER, so ties would be
    * engine-arbitrary without a total order — the window orders by
    * (score DESC, `keyCol`), a unique key, making bucket assignment
    * identical in every engine (standard NTILE: the first
    * `n_rows mod nBuckets` buckets take the extra row). Rows with a
    * NULL score bypass the ranking with a null bucket — policy decides
    * them, not this operator (the [[topFractionPerGroup]] convention).
    *
    * Scale shape: one hash exchange on (group, is-null) + an
    * in-partition sort — no global sort, no driver quantiles; the same
    * single-scan shape as [[topFractionPerGroup]]. */
  def scoreBuckets(df: DataFrame, groupCol: String, scoreCol: String,
                   keyCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be > 0, got $nBuckets")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col(scoreCol).isNull)
      .orderBy(col(scoreCol).desc, col(keyCol))
    df.withColumn("__nt", ntile(nBuckets).over(w))
      .withColumn("bucket",
        when(col(scoreCol).isNotNull, col("__nt").cast("long")))
      .drop("__nt")
  }

  /** CCNet's language ROUTING front end completed with its confidence
    * gate (Wenzek et al. route documents by fastText langid and keep
    * only predictions above a confidence threshold; below it a doc
    * must ABSTAIN — an uncertain prediction routed into some
    * language's per-language perplexity ranking would contaminate that
    * language's score distribution AND mis-bucket the doc): langid via
    * the engine's x02 argmax ([[TextAnalysis.argmaxLang]] — one
    * implementation, so x02 and this routing can never disagree),
    * confidence = the winning score itself, `route` = the prediction
    * when `confidence ≥ minConfidence` AND `confidence > 0` else null
    * (a zero-evidence doc — no stopword or charset hit on ANY
    * language — scores 0.0 everywhere, and at `minConfidence = 0` it
    * would otherwise clear the gate and route to the argmax
    * TIE-BREAK language, the exact misrouting the gate exists to
    * prevent; zero evidence always abstains), then
    * [[scoreBuckets]] per ROUTE (not per metadata language — routing
    * is the point: the corpus may be unlabeled or mislabeled). A row's
    * bucket is null unless BOTH verdicts exist: a confident route and
    * a non-null score — abstain, never misroute (the shared null
    * policy, applied at two gates).
    *
    * This completes the CCNet triple: langid (x02) → per-language
    * perplexity terciles (x73 / [[scoreBuckets]]) → confidence gate
    * (x91).
    *
    * Scale shape: the language scores are staged as columns once (the
    * [[TextAnalysis.predictedLang]] staging discipline — the argmax
    * and gate reference the staged columns, so each regex runs once
    * per row), then [[scoreBuckets]]'s one hash exchange on
    * (route, is-null) + in-partition sort. The abstain mass lands in
    * one window partition by construction — the documented
    * [[topFractionPerGroup]] null-partition shape (its rank is masked
    * to null and never consumed). */
  def languageRoutedBuckets(docs: DataFrame, idCol: String, textCol: String,
                            scoreCol: String, minConfidence: Double,
                            nBuckets: Int): DataFrame = {
    require(minConfidence >= 0,
      s"minConfidence must be >= 0, got $minConfidence")
    val scores = TextAnalysis.langScores(col(textCol))
    val staged = docs.select(
      col("*") +: scores.map { case (l, c) => c.as(s"__s_$l") }: _*)
    val refs = scores.map { case (l, _) => l -> col(s"__s_$l") }
    val routed = staged
      .withColumn("confidence", greatest(refs.map(_._2): _*))
      .withColumn("route",
        when(col("confidence") >= minConfidence && col("confidence") > 0,
          TextAnalysis.argmaxLang(refs)))
      .drop(scores.map { case (l, _) => s"__s_$l" }: _*)
    scoreBuckets(routed, "route", scoreCol, idCol, nBuckets)
      .withColumn("bucket", when(col("route").isNotNull, col("bucket")))
  }

  /** QUALITY-SIGNAL AGREEMENT audit — per group, the Spearman rank
    * correlation between two per-document quality signals (the
    * production cross-check every pipeline with more than one quality
    * filter needs: published recipes run a generative LM score AND a
    * trained classifier, and a source where the two signals rank
    * documents in OPPOSITE orders — rho near −1 — is a source where at
    * least one filter is judging style, not quality, the signal to
    * audit before it silently gates a release). One row per group:
    * `(n_docs, sum_d2, rho)` over docs where BOTH signals exist (a doc
    * either signal abstained on carries no rank evidence — excluded,
    * the shared null policy).
    *
    * Determinism: ranks are `row_number` over the (score, `keyCol`)
    * TOTAL order — the deterministic variant of Spearman (published
    * Spearman average-ranks ties; a fractional average rank is
    * engine-hashable but the tie-break form keeps every intermediate
    * exact, the x79 quantized-grid argument, and the two variants
    * agree whenever scores are tie-free). The Σd² AGGREGATION is an
    * EXACT decimal(38,0) sum kept INTERNAL (the Analytics.volatility
    * discipline: worst case Σd² = n(n²−1)/3 overflows a naive int64
    * sum past ~3M docs per group — an ANSI ArithmeticException at
    * exactly the scale this audit targets; decimal carries n to
    * ~10¹² and the per-pair d² itself is int64-safe to n ≈ 3×10⁹);
    * the EMITTED `sum_d2` is that sum cast ONCE to bigint at the end
    * (the round-18 lesson: a decimal-typed OUTPUT column stringifies
    * differently across engines — Spark parquet Decimal '2312' vs
    * DuckDB fetchdf float64 '2312.0' — and fails the driver's string
    * compare; bigint is loss-free to n ≈ 10⁶ docs per group and the
    * ANSI cast fails LOUD, never silently wrong, past it — a deploy
    * auditing larger groups should drop sum_d2 from its report or
    * emit double, rho is the signal either way).
    * `rho = 1 − 6·sum_d2 / (n(n²−1))` is evaluated entirely in
    * doubles cast once from the emitted bigint (long→double is
    * correctly rounded IEEE in both engines — unlike decimal→double,
    * which round-trips through BigDecimal on the Spark side; the n³
    * product likewise — engine-identical and overflow-free). Groups
    * with n ≤ 1 abstain (null rho — no pair evidence).
    *
    * Scale shape: one hash exchange on the group key + two
    * in-partition sorts (the two rank windows share the partition),
    * then a map-side-combinable rollup to group cardinality — no
    * global sort, no driver collect. */
  def rankAgreement(df: DataFrame, groupCol: String, scoreACol: String,
                    scoreBCol: String, keyCol: String): DataFrame = {
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreACol), col(keyCol))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreBCol), col(keyCol))
    val nD = col("n_docs").cast("double")
    df.filter(col(scoreACol).isNotNull && col(scoreBCol).isNotNull)
      .withColumn("__ra", row_number().over(wa).cast("long"))
      .withColumn("__rb", row_number().over(wb).cast("long"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(((col("__ra") - col("__rb")) * (col("__ra") - col("__rb")))
          .cast("decimal(38,0)")).cast("long").as("sum_d2"))
      .select(col(groupCol), col("n_docs"), col("sum_d2"),
        when(col("n_docs") > 1,
          lit(1.0) - col("sum_d2").cast("double") * lit(6.0) /
            (nD * (nD * nD - lit(1.0)))).as("rho"))
  }

  /** BINARY GATE-AGREEMENT audit — per group, Cohen's kappa between
    * two boolean keep/drop gates (the categorical twin of
    * [[rankAgreement]]: pipelines stack a cheap rule gate in front of
    * a model gate, and what the recipe actually needs to know is
    * whether the two DECISIONS agree beyond chance — two gates can
    * rank-correlate and still disagree at their thresholds, and a
    * kappa near 0 means the expensive gate is re-litigating every
    * document the cheap one already adjudicated). One row per group:
    * the 2×2 confusion counts (`n_both`, `n_a_only`, `n_b_only`,
    * `n_neither`), observed agreement `po`, chance agreement `pe`, and
    * `kappa = (po − pe)/(1 − pe)`. Docs where EITHER gate abstained
    * (null) carry no decision evidence — excluded from the table and
    * counted in `n_unrated` (the shared null policy, x94's exclusion
    * rule at the categorical grain).
    *
    * Determinism: the confusion cells are exact int64 counts; po/pe/
    * kappa replay the identical IEEE double op sequence in the oracle
    * (int64→double casts are exact below 2⁵³ and correctly rounded
    * IEEE above — engine-identical either way; the pe numerator
    * multiplies marginals as doubles, deterministic at any scale).
    * Degenerate groups abstain rather than divide by zero: n_rated = 0
    * → po/pe/kappa null; pe = 1 (both gates constant — agreement
    * carries no information) → kappa null, the published convention.
    *
    * Scale shape: one narrow boolean projection + one map-side-
    * combined groupBy to group cardinality — no window, no join, no
    * driver state; the audit costs one pass regardless of corpus
    * size. */
  def gateAgreement(df: DataFrame, groupCol: String, gateACol: String,
                    gateBCol: String): DataFrame = {
    val a = col(gateACol)
    val b = col(gateBCol)
    val rated = a.isNotNull && b.isNotNull
    val cell = (pa: Column, pb: Column) =>
      sum(when(rated && pa && pb, 1L).otherwise(0L))
    val nD = col("n_rated").cast("double")
    df.groupBy(groupCol)
      .agg(sum(when(rated, 1L).otherwise(0L)).as("n_rated"),
        sum(when(rated, 0L).otherwise(1L)).as("n_unrated"),
        cell(a, b).as("n_both"),
        cell(a, !b).as("n_a_only"),
        cell(!a, b).as("n_b_only"),
        cell(!a, !b).as("n_neither"))
      .withColumn("po", when(col("n_rated") > 0,
        (col("n_both") + col("n_neither")).cast("double") / nD))
      .withColumn("pe", when(col("n_rated") > 0,
        ((col("n_both") + col("n_a_only")).cast("double") *
          (col("n_both") + col("n_b_only")).cast("double") +
          (col("n_b_only") + col("n_neither")).cast("double") *
            (col("n_a_only") + col("n_neither")).cast("double")) /
          (nD * nD)))
      .withColumn("kappa", when(col("pe") < 1.0,
        (col("po") - col("pe")) / (lit(1.0) - col("pe"))))
  }

  /** GATE-ATTRIBUTION audit — the filtering-ablation table a release
    * publishes next to its funnel: per gate, how many documents (and
    * tokens) it DROPS, and how many it drops UNIQUELY (no other gate
    * would have caught them). The unique-drop column is the decision
    * column: a gate with near-zero unique drops is pure cost — every
    * document it removes is already removed by the cheaper gates
    * (exactly the redundancy [[gateAgreement]]'s kappa hints at, here
    * quantified in dropped mass). Gate columns are keep/drop booleans;
    * a NULL verdict is an abstention — it neither drops nor blocks
    * another gate's uniqueness (the shared null policy).
    *
    * Determinism: exact int64 counts; the drop rate is one double
    * division. Scale shape: one narrow projection computing the
    * per-row dropping-gate count, then ONE explode to (row × G) gate
    * observations and a map-side-combined groupBy to gate cardinality
    * — no join, no second corpus pass, G is single digits.
    *
    * @return (gate, n_docs, n_eval, n_drop, n_unique_drop,
    *         tokens_drop, tokens_unique_drop, drop_rate), one row per
    *         gate in `gates` order-insensitively (callers order). */
  def gateAttribution(df: DataFrame, tokensCol: String,
                      gates: Seq[String]): DataFrame = {
    require(gates.nonEmpty, "gateAttribution needs at least one gate column")
    val dropCnt = gates.map(g =>
      when(col(g) === false, 1).otherwise(0): Column).reduce(_ + _)
    val obs = df
      .withColumn("__ndrop", dropCnt)
      .withColumn("__tok", coalesce(col(tokensCol).cast("long"), lit(0L)))
      .select(explode(array(gates.map(g => struct(
        lit(g).as("gate"),
        col(g).as("keep"),
        (col(g) === false && col("__ndrop") === 1).as("uniq"),
        col("__tok").as("tok"))): _*)).as("o"))
      .select(col("o.gate"), col("o.keep"), col("o.uniq"), col("o.tok"))
    obs.groupBy("gate")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep").isNotNull, 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("keep") === false, 1L).otherwise(0L)).as("n_drop"),
        sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique_drop"),
        sum(when(col("keep") === false, col("tok")).otherwise(0L))
          .as("tokens_drop"),
        sum(when(col("uniq"), col("tok")).otherwise(0L))
          .as("tokens_unique_drop"))
      .withColumn("drop_rate", when(col("n_eval") > 0,
        col("n_drop").cast("double") / col("n_eval").cast("double")))
  }

  /** CALIBRATION RELIABILITY TABLE — per score-quantile bucket over a
    * LABELED holdout, (n_docs, n_pos, pos_rate, mean_score): the audit
    * that tells a pipeline whether its trained quality signal is
    * actually ORDERED against ground truth before it gates a release
    * (x90's threshold is only meaningful if pos_rate climbs with the
    * bucket — a flat or inverted table says the classifier learned
    * style, not quality; the [[rankAgreement]] discipline applied to
    * the trained signal against labels instead of against a second
    * signal). Feed it a held-out split produced by
    * [[Sampling.clusterSafeSplit]] so near-duplicate leakage cannot
    * flatter the table. Rows with a null score abstain (no calibration
    * evidence — the shared null policy); buckets are dealt by GLOBAL
    * rank `bucket = (rank−1)·k / n + 1` over the (score, `idCol`)
    * TOTAL order (integer arithmetic — engine-exact, unlike ntile's
    * remainder policy which needs no replay here).
    *
    * Determinism: `mean_score` is the bucket mean of per-row scores
    * quantized to the 2²⁰ grid (`floor(score·2²⁰)` — one correctly
    * rounded multiply of engine-identical doubles, then exact int64
    * sums; the x79 quantized-grid argument), divided once in doubles.
    * `pos_rate` is one division of two exact counts.
    *
    * Scale shape: the global rank is the [[Vocab.coverageCurve]] /
    * [[Packing.packSequences]] DISTRIBUTED prefix sum — a RANGE
    * exchange on (score, id) + two narrow passes with one
    * count-per-partition driver array, never a single-partition
    * window; the per-bucket rollup is partial-aggregated inside each
    * partition, so the driver reduce sees O(#partitions · k) tiny
    * tuples and the result is k rows re-parallelized. The ranked
    * frame is persisted across the two passes (both must see identical
    * partition contents — the Packing determinism argument) and
    * released before returning. */
  def reliabilityTable(df: DataFrame, idCol: String, scoreCol: String,
                       labelCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    val QScale = 1048576L // 2^20 — the classifier's own quantizer grid
    val rows = df.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("double").as("__s"),
        col(idCol).as("__id"),
        // a scored row whose label is null — or casts to null — refuses
        // LOUD (the fitLabeled discipline): labels must be total over
        // the scored holdout; abstaining is done by nulling the SCORE,
        // never the label. The guard tests the CAST result, not the
        // raw column, so an uncastable label cannot slip through as a
        // null __y and NPE bare in the rank pass (review finding,
        // round 19 second pass)
        {
          val y = col(labelCol).cast("boolean")
          when(y.isNotNull, y)
            .otherwise(raise_error(lit(
              s"reliabilityTable: null label in '$labelCol' on a scored " +
                "row — labels must be total over the scored holdout " +
                "(abstain by nulling the score, not the label)"))
              .cast("boolean")).as("__y")
        },
        floor(col(scoreCol).cast("double") * lit(QScale.toDouble))
          .cast("long").as("__sq"))
      .repartitionByRange(col("__s"), col("__id"))
      .sortWithinPartitions(col("__s"), col("__id"))
    val cached = rows.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rdd = cached.rdd
      val counts = rdd.mapPartitions { it =>
        var n = 0L; it.foreach(_ => n += 1); Iterator.single(n)
      }.collect()
      val rankBefore = counts.scanLeft(0L)(_ + _)
      val n = counts.sum
      val k = nBuckets.toLong
      if (n == 0L) {
        val s2 = spark
        import s2.implicits._
        return Seq.empty[(Long, Long, Long, Double, Double)]
          .toDF("bucket", "n_docs", "n_pos", "pos_rate", "mean_score")
      }
      // pass 2: bucket from the global rank, partial-aggregated in place
      val partials = rdd.mapPartitionsWithIndex { (pid, it) =>
        var rank = rankBefore(pid)
        val acc = scala.collection.mutable.LongMap.empty[(Long, Long, Long)]
        it.foreach { r =>
          rank += 1
          val b = (rank - 1) * k / n + 1
          val (cn, cp, sq) = acc.getOrElse(b, (0L, 0L, 0L))
          acc(b) = (cn + 1, cp + (if (r.getBoolean(2)) 1L else 0L),
            sq + r.getLong(3))
        }
        acc.iterator
      }.collect()
      val byBucket = partials.groupBy(_._1).toSeq.map { case (b, ps) =>
        val nd = ps.map(_._2._1).sum
        val np = ps.map(_._2._2).sum
        val sq = ps.map(_._2._3).sum
        (b, nd, np, np.toDouble / nd.toDouble,
          sq.toDouble / QScale.toDouble / nd.toDouble)
      }.sortBy(_._1)
      val s2 = spark
      import s2.implicits._
      byBucket.toDF("bucket", "n_docs", "n_pos", "pos_rate", "mean_score")
    } finally cached.unpersist()
  }

  /** The recipe's stage-7 QUALITY seam — which published recipe's
    * quality filter gates the cleaned corpus before the mixture. The
    * published pipelines differ exactly here: CCNet/LLaMA gate on a
    * GENERATIVE LM score (perplexity-style — [[LmTopFraction]], the
    * default and x66's configuration); GPT-3/Dolma gate on a TRAINED
    * DISCRIMINATIVE classifier threshold ([[ClassifierGate]], x90's
    * configuration). The seam is the [[CellScorer]] precedent: a small
    * sealed strategy whose implementations are themselves checked
    * operators, so a recipe configuration documents which published
    * pipeline it reproduces without forking the stage inventory.
    * Contract: `keep` filters the cleaned-corpus frame to its
    * stage-7 survivors, preserving input columns; docs the stage has
    * no evidence on (null score) PASS — drop on evidence of junk, not
    * on absence of evidence (the shared null policy). */
  sealed trait QualityStage {
    /** Stage label in the funnel report ("lm" / "classifier"). */
    def name: String
    def keep(df: DataFrame, idCol: String, sourceCol: String,
             textCol: String): DataFrame
  }

  /** CCNet-style generative gate: LM scores served from the persisted
    * model store, each source keeping its top `keepFraction` —
    * stage 7 exactly as [[batchRecipe]] always ran it. */
  final case class LmTopFraction(modelTable: String, keepFraction: Double)
      extends QualityStage {
    val name = "lm"
    def keep(df: DataFrame, idCol: String, sourceCol: String,
             textCol: String): DataFrame = {
      val lm = LmScore.scoreAgainstStore(df, idCol, textCol, modelTable)
        .select(col(idCol), col("lm_score"))
      topFractionPerGroup(df.join(lm, Seq(idCol), "left"),
          sourceCol, "lm_score", keepFraction)
        .filter(col("kept").isNull || col("kept"))
        .drop("lm_score", "kept", "cume_dist")
    }
  }

  /** GPT-3-style discriminative gate: the trained
    * positive-vs-background classifier served from its persisted store
    * ([[QualityClassifier.gateAgainstStore]]), keeping docs scoring
    * `≥ minScore` — an ABSOLUTE threshold by design (the published
    * rule judges each doc against the trained boundary, not against
    * the batch's distribution, so the same doc passes or fails
    * identically in every batch). */
  final case class ClassifierGate(table: String, minScore: Double)
      extends QualityStage {
    val name = "classifier"
    def keep(df: DataFrame, idCol: String, sourceCol: String,
             textCol: String): DataFrame =
      QualityClassifier.gateAgainstStore(df, idCol, textCol, table, minScore)
        .drop("cls_score")
  }

  /** Full-depth batch-recipe parameters, one group per stage (stage
    * numbers are [[batchRecipe]]'s). The near-dup/vector/decontam/LM
    * knobs deliberately mirror [[CurationLoop.Params]] — the two
    * topologies share ONE stage inventory, so their knobs must name the
    * same things. */
  final case class RecipeParams(
    rules: RuleGate.Rules,                               // stage 1
    chunkTokens: Int, minDocFreq: Int,                   // stage 2
    shingleN: Int, numHashes: Int, nBands: Int,          // stage 4
    minJaccard: Double,
    nCentroids: Int, dim: Int, seedOffset: Long,         // stage 5
    minCosine: Double,
    maxContamination: Double,                            // stage 6
    keepFraction: Double,                                // stage 7
    weights: Map[String, Double], budgetTokens: Long)    // stage 8

  /** The ONE-SHOT batch recipe composed end to end at FULL production
    * depth — the static-corpus counterpart of
    * [[CurationLoop.ingestShard]]'s incremental loop. The two
    * topologies share ONE stage inventory: every stage of the loop
    * (exact dedup, near-dup, vector dedup, decontamination, LM quality)
    * appears here in the same order, preceded by the two batch-only
    * cleanup stages (rule gate, boilerplate removal) a static-corpus
    * release runs before its first fingerprint — the loop cannot run
    * them because corpus-frequency boilerplate is undefined on a single
    * shard. Stage order, cheapest / highest-yield first:
    *
    *   1. heuristic rule gate            ([[RuleGate]], x61)
    *   2. corpus boilerplate removal     ([[PassageDedup.removeBoilerplate]], x65)
    *   3. exact dedup ON THE CLEANED TEXT ([[ExactDedup.dedup]], x01 —
    *      after cleanup, because boilerplate-stripped twins only become
    *      identical once their shared noise is gone)
    *   4. MinHash near-dup               ([[MinHash.nearDupPairs]], x08 —
    *      greedy-by-id first-wins: a doc drops iff SOME smaller-id doc
    *      matches it, the [[SemDedup]] convention and the batch twin of
    *      the loop's signature-store stage)
    *   5. embedding dedup in the loop's OWN coarse cells
    *      ([[CellScorer]] top-1 cell buckets + exact cosine, greedy by
    *      id — the batch twin of the loop's vector-store stage, same
    *      quantizer; docs without an embedding row keep, the
    *      fingerprint-less convention)
    *   6. decontamination against the persisted benchmark store
    *      ([[Decontaminate.contaminatedAgainstStore]], x52 — read-only,
    *      exactly the loop's stage)
    *   7. LM quality, served from the persisted model store and gated
    *      per source ([[LmScore.scoreAgainstStore]] x54 +
    *      [[topFractionPerGroup]] x59): the loop gates each shard on an
    *      absolute score (a shard cannot see the corpus distribution);
    *      the batch form CAN, so it keeps each source's top
    *      `keepFraction` — same scoring stage, batch-appropriate gate
    *      policy. Docs with no transitions (null score) PASS: drop on
    *      evidence of junk, not on absence of evidence.
    *   8. token-budget mixture materialization ([[Mixing]], x60)
    *
    * Every stage from 3 on consumes the stage-2 CLEANED text (scores,
    * fingerprints and token budgets all see what training would see);
    * embeddings are the caller's precomputed artifact, joined by id.
    * The output is the materialized mixture itself — one row per
    * (document, copy), the corpus a trainer reads.
    *
    * Scale shape: each stage keeps its own pinned plan (this method
    * composes the checked operators; it re-plans nothing) — the gate
    * stages are narrow or fp/source/cell-keyed with banded/bucketed
    * candidate generation (never all-pairs), the two store stages read
    * their buckets in place, and the corpus-sized join chain is
    * id-keyed survivor filtering exactly as the streaming loop does it.
    * The cleaned corpus and the gate output each feed multiple
    * consumers and are checkpointed once (measured 3.2 s → the
    * sum-of-stages cost at sf0.1; at 100 TB the staged corpus is the
    * natural inter-stage artifact, exactly as the incremental loop
    * persists per-stage verdicts).
    *
    * Executor-loss trade-off: those checkpoints (the stage-2 cleaned
    * corpus above all) are `localCheckpoint(true)` — an O(corpus)
    * executor-local pin with truncated lineage. Losing an executor that
    * holds some of its blocks FAILS the job instead of recomputing
    * them from lineage; a deployment on preemptible executors wants a
    * reliable `checkpoint()` or a staged parquet write per stage. */
  def batchRecipe(docs: DataFrame, idCol: String, textCol: String,
                  langCol: String, sourceCol: String,
                  emb: DataFrame, embCol: String,
                  benchTable: String, modelTable: String,
                  p: RecipeParams,
                  quality: Option[QualityStage] = None): DataFrame =
    runRecipe(docs, idCol, textCol, langCol, sourceCol, emb, embCol,
      benchTable, modelTable, p, withCounts = false, quality)._1

  /** The recipe's published FUNNEL — the per-stage survivor counts a
    * static-corpus release reports next to its mixture (the batch twin
    * of the loop's `funnel/` artifact, x57): one row per doc-dropping
    * stage, `(stage_no, stage, n_docs)` = documents SURVIVING after the
    * stage. Runs the SAME stage implementation as [[batchRecipe]]
    * ([[runRecipe]] — one code path, so the report can never diverge
    * from the recipe). The boilerplate stage is deliberately absent: it
    * cleans content but never drops a document (its bite shows in x65's
    * per-doc passage counts, not here).
    *
    * MEASURED (round 17): the counts are arithmetic over each stage's
    * checkpointed ids-only DROP frame — the earlier per-stage
    * `sN.count()` chain re-derived the near-dup and vector joins up to
    * three times from the s3 checkpoint; the rewrite took the x75
    * verify run from ~34 s to ~28 s wall at sf0.01 (≈2× on the funnel
    * itself net of the ~23 s fixed JVM/sbt cost).
    *
    * Determinism: seven exact int64 counts — nothing else. Scale shape:
    * each count is an aggregate over an already-checkpointed (or
    * checkpoint-derived) stage frame; output is seven rows. */
  def batchRecipeFunnel(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, sourceCol: String,
                        emb: DataFrame, embCol: String,
                        benchTable: String, modelTable: String,
                        p: RecipeParams,
                        quality: Option[QualityStage] = None): DataFrame = {
    val counts = runRecipe(docs, idCol, textCol, langCol, sourceCol, emb,
      embCol, benchTable, modelTable, p, withCounts = true, quality)._2.get
    val s = docs.sparkSession
    import s.implicits._
    counts.toDF("stage_no", "stage", "n_docs")
  }

  private def runRecipe(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, sourceCol: String,
                        emb: DataFrame, embCol: String,
                        benchTable: String, modelTable: String,
                        p: RecipeParams, withCounts: Boolean,
                        quality: Option[QualityStage] = None)
      : (DataFrame, Option[Seq[(Int, String, Long)]]) = {
    // stage 1: rule gate. Eagerly materialized (round 22): the kept-id
    // frame is broadcast into the s1 join, and a broadcast BUILD plan
    // elides the ingest fan-out — the whole rule-regex pass would
    // otherwise evaluate single-task inside the broadcast job (measured
    // 2.5 s of one-core CPU at sf0.1, twice before the s2 rejoin fix).
    // The checkpoint runs it once, in the parallel layout, and pins
    // only the ids.
    val ruleKept = RuleGate.flags(docs, idCol, textCol, p.rules)
      .filter(col("keep")).select(col(idCol))
      .localCheckpoint(true)
    val s1 = docs.join(ruleKept, Seq(idCol))
      .select(col(idCol), col(langCol), col(sourceCol), col(textCol))
    // stage 2: boilerplate removal — cleaned text replaces the original.
    // The reassembly joins back to a narrow DOCS projection, not to s1:
    // `cleaned` carries exactly s1's id set (removeBoilerplate emits one
    // row per input doc, ids are unique), so the id-keyed inner join
    // yields identical rows either way — while the s1 form re-evaluated
    // the rule-gate regex pass a second time under this join (round 22,
    // guide §1.2: don't re-run work the join key already encodes).
    val cleaned = PassageDedup.removeBoilerplate(s1, idCol, textCol,
        p.chunkTokens, p.minDocFreq)
      .select(col(idCol), col("text_kept").as("__clean"))
    val s2 = docs.select(col(idCol), col(langCol), col(sourceCol))
      .join(cleaned, Seq(idCol))
      .select(col(idCol), col(langCol), col(sourceCol), col("__clean"))
      // O(corpus) executor-local pin: executor loss fails the job rather
      // than recomputing (the batchRecipe scaladoc trade-off)
      .localCheckpoint(true)
    // stage 3: exact dedup on the cleaned text, min-id canonical keeps
    val canon = ExactDedup.dedup(s2, idCol, "__clean")
      .select(col("canonical_id").as(idCol))
    // s3 feeds the near-dup signature pipeline AND the survivor chain —
    // checkpoint so the exact-dedup groupBy runs once
    val s3 = s2.join(canon, Seq(idCol)).localCheckpoint(true)
    // stage 4: MinHash near-dup, greedy-by-id first-wins over the
    // banded candidate pairs (doc_a < doc_b by construction). The OWNED
    // variant hands back the signature-cache release handle — this
    // recipe releases its own allocations after the gate output is
    // materialized, so repeated snapshot runs cannot accumulate caches
    // (the CurationLoop.ingestShard discipline).
    val (ndPairs, ndRelease) = MinHash.nearDupPairsOwned(s3, idCol,
      "__clean", p.shingleN, p.numHashes, p.nBands, p.minJaccard)
    // Everything from here to the gate's checkpoint runs under
    // try/finally: a failure in any later stage (the gated
    // localCheckpoint, a funnel count) must still run the release
    // closures, or each retried recipe leaks the signature/gram caches
    // and the stripe broadcast — exactly the per-call accumulation the
    // Owned variants exist to prevent (review finding, round 17). On
    // success the finally fires at the same point the explicit calls
    // used to: after the checkpoint materialized every upstream stage,
    // before the mixture (which reads only the checkpointed gate).
    val (gated, counts) = try {
    // funnel runs checkpoint each stage's (small, ids-only) DROP frame
    // so the counts below are arithmetic over one execution per stage —
    // without this, s5.count()/s6.count() re-derived the near-dup and
    // vector joins from the s3 checkpoint up to three times (review
    // finding, round 17). The mixture-only path keeps lazy frames: each
    // drop is consumed exactly once there, so a checkpoint would only
    // add materialization cost to the timed x66 surface.
    def cp(f: DataFrame): DataFrame = if (withCounts) f.localCheckpoint(true) else f
    val ndDropped = cp(ndPairs.select(col("doc_b").as(idCol)).distinct())
    val s4 = s3.join(ndDropped, Seq(idCol), "left_anti")
    // stage 5: embedding dedup in the loop's own coarse cells — top-1
    // cell buckets candidates (an equi-join on the cell id, never
    // all-pairs: Σ|cell|² work, the SemDedup shape with the loop's
    // quantizer), exact cosine confirms, greedy by id. Docs without an
    // embedding row never enter the inner join and keep.
    val scorer = LcgCellScorer(p.nCentroids, p.dim, p.seedOffset)
    val vecs = s4.select(col(idCol))
      .join(emb.select(col(idCol), col(embCol)), Seq(idCol))
      .withColumn("__cell", scorer.cell(col(embCol)))
    val a = vecs.select(col(idCol).as("__ida"), col(embCol).as("__ea"),
      col("__cell").as("__ca"))
    val b = vecs.select(col(idCol).as("__idb"), col(embCol).as("__eb"),
      col("__cell").as("__cb"))
    val vecDropped = cp(a
      .join(b, col("__ca") === col("__cb") && col("__ida") < col("__idb"))
      .filter(Similarity.cosine(col("__ea"), col("__eb")) >= p.minCosine)
      .select(col("__idb").as(idCol)).distinct())
    val s5 = s4.join(vecDropped, Seq(idCol), "left_anti")
    // stage 6: decontamination gate against the persisted benchmark
    // store (absent docs share no gram and pass); Owned variant — the
    // gram cache (and any stripe-map broadcast) is released below
    val (contamRaw, contamRelease) = Decontaminate
      .contaminatedAgainstStoreOwned(s5, idCol, "__clean", benchTable)
    try {
    val contam = cp(contamRaw
      .select(col(idCol), col("contamination").as("__cont")))
    val s6 = s5.join(contam, Seq(idCol), "left")
      .filter(coalesce(col("__cont"), lit(0.0)) <= p.maxContamination)
      .select(col(idCol), col(langCol), col(sourceCol), col("__clean"))
    // stage 7: the QUALITY seam — LM-top-fraction by default (x66's
    // CCNet configuration), classifier threshold under x90's GPT-3
    // configuration; null-score docs bypass and keep either way. The
    // gate output feeds both the mixture's token stats and its
    // materialize join — two consumers, one more checkpoint.
    val qualityStage = quality.getOrElse(
      LmTopFraction(modelTable, p.keepFraction))
    val gated = qualityStage.keep(s6, idCol, sourceCol, "__clean")
      .select(col(idCol), col(langCol), col(sourceCol), col("__clean"))
      .localCheckpoint(true)
    // the funnel counts are arithmetic over the checkpointed drop
    // frames: every dropped id is drawn from the surviving set of the
    // previous stage (ndPairs/vecs/contam are all computed ON s3/s4/s5
    // respectively, one row per doc), so survivors(n) =
    // survivors(n-1) − drops(n) exactly — no stage subtree re-executes
    val counts =
      if (!withCounts) None
      else {
        val n3 = s3.count()
        val n4 = n3 - ndDropped.count()
        val n5 = n4 - vecDropped.count()
        val n6 = n5 - contam.filter(col("__cont") > p.maxContamination).count()
        Some(Seq(
          (1, "raw", docs.count()),
          (2, "rule_gate", s1.count()),
          (3, "exact", n3),
          (4, "neardup", n4),
          (5, "vector", n5),
          (6, "decontam", n6),
          (7, qualityStage.name, gated.count())))
      }
    (gated, counts)
    // the finally blocks release the recipe's own allocations
    // (signature cache, gram cache, stripe-map broadcast) on success
    // AND failure: a session running one recipe per corpus snapshot
    // must not accumulate them (CurationSpec pins that this call
    // leaves no recipe-owned cache entries behind)
    } finally contamRelease()
    } finally ndRelease()
    // stage 8: materialize the mixture over the cleaned token counts
    val mixture = Mixing.materializeMixture(gated, langCol, idCol,
        "__clean", p.weights, p.budgetTokens)
      .select(col(idCol), col(langCol), col(sourceCol),
        col("copy_idx"), col("n_copies"))
    (mixture, counts)
  }
}
