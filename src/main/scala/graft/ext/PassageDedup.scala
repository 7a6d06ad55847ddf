package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level passage dedup: split every document into fixed-size
  * token chunks ("passages" — the no-newline analogue of the classic
  * line/paragraph dedup used on web crawls), keep only the globally
  * FIRST occurrence of each distinct passage, and reassemble the
  * surviving text per document. First = smallest (doc_id, passage_idx)
  * — a total, content-independent order, so the result is deterministic
  * under any physical execution.
  *
  * Shape at 100 TB: passages shuffle once on their 16-byte md5
  * fingerprint (never the text) for the first-wins rank, then once on
  * doc id for reassembly. The reassembly aggregates
  * `array_sort(collect_list(struct(idx, passage)))` — collect order is
  * nondeterministic but idx is unique per doc, so the sort restores a
  * total order before the join. Per-doc passage counts are bounded
  * (docs/chunkTokens), so no group is skew-prone.
  */
object PassageDedup {

  /** @return (id, n_passages, n_dropped, text_kept) — one row per doc,
    *         `text_kept` the space-joined surviving passages in
    *         original order (empty string when every passage was a
    *         duplicate of an earlier doc's). */
  def dedup(docs: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    // tokens projected first: a HOF lambda re-evaluates free
    // subexpressions per element (see Decontaminate.grams)
    val passages = docs
      .select(col(idCol), Ngrams.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(Ngrams.passages(col("__toks"), chunkTokens))
          .as(Seq("idx", "passage")))
      .withColumn("fp", md5(col("passage")))
    val firstWins = passages.withColumn("rn",
      row_number().over(Window.partitionBy("fp").orderBy(col(idCol), col("idx"))))
    firstWins.groupBy(idCol)
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("idx"), col("passage"))))),
            s => s.getField("passage")),
          " ").as("text_kept"))
  }

  /** IN-DOCUMENT repetition removal (the C4 "three-sentence span seen
    * before in the SAME page" cleanup, at passage grain): within each
    * document, keep only the first occurrence of every distinct
    * passage and reassemble — repeated boilerplate inside one page
    * (navigation blocks, duplicated paragraphs) collapses without
    * consulting any other document.
    *
    * Shape at 100 TB: this is the rare corpus operator that needs NO
    * shuffle at all — the whole computation is one narrow per-row
    * projection (passage split, an indexed `filter` HOF keeping
    * first occurrences, re-join), so it composes into any scan at
    * marginal cost. Per-doc work is O(passages²) array compares,
    * bounded by document length, not corpus size. */
  def dedupWithinDoc(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val ps = col("__ps")
    // first occurrence: no equal passage strictly before position i
    val kept = filter(ps, (p, i) => !exists(slice(ps, lit(1), i), q => q === p))
    docs
      .select(col(idCol), Ngrams.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol), Ngrams.passages(col("__toks"), chunkTokens).as("__ps"))
      .select(col(idCol), ps, kept.as("__kept"))
      .select(col(idCol),
        size(ps).cast("long").as("n_passages"),
        (size(ps) - size(col("__kept"))).cast("long").as("n_repeated"),
        array_join(col("__kept"), " ").as("text_kept"))
  }

  /** Shared token-cut reassembly of the span-removal operators ([[
    * removeDuplicateSpans]] and `Decontaminate.removeContaminatedSpans`
    * — ONE copy of the cut contract, including the null-doc
    * conventions): given rows of (`idCol`, `__toks`, `__starts`), drop
    * every token covered by a `w`-token window starting at any position
    * in `__starts` (null `__starts` = nothing flagged, keep verbatim)
    * and return (id, n_tokens, n_removed, text_kept) with null-text
    * docs as (0, 0, ""). */
  private[ext] def cutCoveredTokens(joined: DataFrame, idCol: String,
                                    w: Int): DataFrame =
    joined
      .withColumn("__kept",
        when(col("__starts").isNull, col("__toks"))
          .otherwise(filter(col("__toks"), (_, j) =>
            !exists(col("__starts"), s => s <= j && j < s + w))))
      .select(col(idCol),
        coalesce(size(col("__toks")), lit(0)).cast("long").as("n_tokens"),
        coalesce(size(col("__toks")) - size(col("__kept")), lit(0))
          .cast("long").as("n_removed"),
        coalesce(array_join(col("__kept"), " "), lit("")).as("text_kept"))

  /** CROSS-document duplicate SPAN removal — the ExactSubstr method of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022), re-expressed for Spark: any token run of at least
    * `windowTokens` tokens that already occurred earlier in the corpus
    * is CUT OUT of the document (the first occurrence, in (doc id,
    * position) order, survives verbatim). Unlike [[dedup]]'s fixed
    * passage grid this catches duplicated runs at ANY alignment: every
    * sliding `windowTokens`-token window is fingerprinted, a window
    * that appeared earlier marks its tokens for removal, and a
    * duplicated run of length L ≥ W is covered completely because each
    * of its tokens lies inside at least one full window of the run.
    * Runs shorter than W are deliberately kept — that's the method's
    * published precision knob (W = 50 BPE tokens in the paper).
    *
    * Shape at 100 TB: the window table is one (id, pos, 16-byte fp) row
    * per token — the same volume class as the corpus-side gram explode
    * of LM scoring — and the text itself never shuffles. First-wins is
    * a `min(struct(id, pos))` AGGREGATION + fp-keyed join-back rather
    * than a per-fp `row_number` window: partial aggregation collapses
    * hot fingerprints map-side (a boilerplate window repeated in
    * millions of documents becomes ONE row after local combine, where a
    * window-function rank would sort every occurrence in a single
    * task), and the join-back is an equi-join AQE can skew-split. The
    * cost is that the window subtree is evaluated twice (two scans /
    * tokenizations); the paper's alternative — a global suffix array —
    * is a single-node construction with no distributed form, so two
    * narrow scans is the Spark-native trade. Dup starts come back as
    * one bounded int array per affected document, and the final
    * token-level cut is a narrow indexed-`filter` HOF (O(len·|starts|)
    * per doc, bounded by document length like [[dedupWithinDoc]]).
    *
    * @return (id, n_tokens, n_removed, text_kept) — one row per input
    *         document, null-text docs kept as (0, 0, ""). */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    val w = windowTokens
    val toks = docs
      .select(col(idCol), Ngrams.normTokens(col(textCol)).as("__toks"))
    // one (pos, fp) struct per sliding window, built inside a single
    // transform (bound in-range indices — the posexplode/element_at
    // misalignment hazard does not apply to struct-building lambdas)
    val wins = toks
      .select(col(idCol), explode(
        when(size(col("__toks")) < w,
          array().cast("array<struct<pos:int,fp:string>>"))
          .otherwise(transform(sequence(lit(0), size(col("__toks")) - w),
            i => struct(i.cast("int").as("pos"),
              md5(array_join(slice(col("__toks"), i + 1, lit(w)), " "))
                .as("fp"))))).as("__w"))
      .select(col(idCol), col("__w.pos").as("__pos"), col("__w.fp").as("__fp"))
    val first = wins.groupBy("__fp")
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
    val dupStarts = wins
      .join(first, Seq("__fp"))
      .filter(struct(col(idCol), col("__pos")) =!= col("__first"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
    cutCoveredTokens(toks.join(dupStarts, Seq(idCol), "left"), idCol, w)
  }

  /** CORPUS boilerplate removal (the CCNet cleanup): drop EVERY
    * occurrence of any passage that appears in at least `minDocFreq`
    * distinct documents — ubiquitous headers/footers/navigation are
    * noise wherever they occur, so unlike [[dedup]] no first
    * occurrence survives; passages under the threshold keep all their
    * occurrences.
    *
    * Shape at 100 TB: the document-frequency count leg prunes to
    * (fp, doc id) — 16-byte fps + ids only, map-side combined; the
    * boilerplate verdict comes back through a fp-keyed left join and
    * reassembly groups on doc id with the [[dedup]]
    * `array_sort(collect_list(struct))` idiom (those two carry the
    * passage text exactly as [[dedup]]'s rank/reassembly pair does —
    * inherent to reassembling documents).
    *
    * Executor-loss trade-off: the passage table is pinned with
    * `localCheckpoint(true)` — an O(corpus) executor-local pin (cached
    * blocks, truncated lineage). Losing an executor that holds some of
    * those blocks FAILS the job instead of recomputing them from
    * lineage; a deployment on preemptible executors wants a reliable
    * `checkpoint()` (or a staged parquet write) here instead. */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int, minDocFreq: Int): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    // OUTER explode: a null text has a null passage array, and the doc
    // must keep its output row (0 passages, empty reassembly) — an
    // inner explode would erase it from the corpus entirely
    val passages = docs
      .select(col(idCol), Ngrams.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode_outer(Ngrams.passages(col("__toks"), chunkTokens))
          .as(Seq("idx", "passage")))
      .withColumn("fp", md5(col("passage")))
      // materialized ONCE (round 22, the x111/overlapPairs discipline —
      // guide §1.2): the passage table feeds TWO consumers (the
      // document-frequency rollup and the reassembly join) and neither
      // exchange dedups the tokenize+posexplode+md5 subtree across
      // them — measured 4.5 s → 2.5 s on x66's s2 stage at sf0.1. The
      // pinned rows are the chunked corpus itself — disk-backed,
      // per-run, the §5 "recompute costs more than the memory pressure"
      // case (the recompute is a full second tokenization pass).
      .localCheckpoint(true)
    val boiler = passages.filter(col("fp").isNotNull)
      .groupBy("fp").agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("fp"), lit(1L).as("__b"))
    passages.join(boiler, Seq("fp"), "left")
      .groupBy(idCol)
      .agg(count(col("passage")).as("n_passages"),
        coalesce(sum(col("__b")), lit(0L)).as("n_boiler"),
        array_join(
          transform(
            array_sort(collect_list(when(
              col("__b").isNull && col("passage").isNotNull,
              struct(col("idx"), col("passage"))))),
            s => s.getField("passage")),
          " ").as("text_kept"))
  }
}
