package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crash-recovery append for the incremental-store ingest loops — the
  * RECONCILE half of [[IngestLedger]]'s two-phase protocol.
  *
  * When a batch's intent marker exists but its commit marker does not,
  * a prior attempt crashed somewhere inside its append: before it,
  * between the store append and the count-delta append, or after both.
  * [[appendExact]] converges the store AND its count side table to the
  * exact post-append state from any of those points, using only work
  * proportional to the shard:
  *
  *  1. Store: anti-join the shard's rows against the store on
  *     `keys :+ idCol` — the store side first semi-filtered to the
  *     shard's touched keys — and append only what is missing (a
  *     completed prior append makes this a zero-row append).
  *  2. Counts: for just the shard's TOUCHED keys, recount the
  *     post-append store in-bucket and compare against the summed
  *     existing deltas; append the per-key DIFFERENCE as a corrective
  *     delta row (zero rows when the prior attempt landed its deltas,
  *     the full shard counts when it landed none, and a negative
  *     correction if any earlier drift over-counted a touched key —
  *     [[graft.ext.IncrementalDedup.keyCountTotals]] sums deltas, so
  *     negative rows compose).
  *
  * Both steps are idempotent, so a crash DURING recovery just runs the
  * reconcile again. This path never recomputes verdicts — the caller
  * reuses the attempt's already-committed verdict partition (the
  * verdicts precede the intent marker), because a re-run of the dedup
  * would see the shard's own appended rows: two surviving near-dup
  * siblings would each match the other's store row and flip from kept
  * to dropped.
  *
  * The COUNT-DELTA stores (LM model, quality classifier, data card) have
  * no verdicts and no per-row identity to anti-join on: their rows are
  * summed counters tagged with the `batch_id` that appended them (−1 for
  * the base build and for folded rows). Their replay repair is
  * [[appendDeltas]] — drop the batch's tagged rows, re-append — and
  * their compaction is [[compactDeltas]], which keeps a dangling
  * batch's rows tagged so that repair can still find them.
  */
object Reconcile {

  /** Converge `table` (bucketed on `keys`) and its `counts` side table
    * (append-only `(keys..., countCol)` delta rows) to the exact state
    * of appending `rows` once, regardless of how much of a prior
    * append attempt committed. `rows` must be materialization-safe
    * (persisted, or derived from a persisted frame) — it is consumed
    * by both the anti-join and the touched-key projection. */
  def appendExact(rows: DataFrame, idCol: String, table: String,
                  counts: String, countCol: String,
                  keys: Seq[String], buckets: Int): Unit = {
    val spark = rows.sparkSession
    val joinCols = keys :+ idCol
    val touched = rows.select(keys.map(col): _*).distinct()
    // restrict the store side to the shard's TOUCHED keys before the
    // id-grain anti-join: any row a prior attempt appended carries one
    // of the shard's own keys, so the comparison set is O(shard ×
    // per-key occupancy), never the corpus (the semi itself is a
    // narrow key-column pass over the store — a recovery-path cost,
    // paid once per crashed batch, not per append)
    val missing = rows.join(
      spark.table(table).select(joinCols.map(col): _*)
        .join(touched, keys, "left_semi"),
      joinCols, "left_anti")
    Bucketing.appendBucketed(missing, table, keys, buckets)
    if (!spark.catalog.tableExists(counts)) {
      // legacy store without a side table: the one-time full in-bucket
      // backfill (same as the normal append path)
      Bucketing.writeBucketed(
        spark.table(table).groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as(countCol)),
        counts, keys, buckets)
    } else {
      // every touched key has this shard's rows in the store after the
      // append above, so a left join from the recount covers them all
      val trueCnt = spark.table(table)
        .join(touched, keys, "left_semi")
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__true"))
      val have = spark.table(counts)
        .join(touched, keys, "left_semi")
        .groupBy(keys.map(col): _*).agg(sum(col(countCol)).as("__have"))
      val corrective = trueCnt.join(have, keys, "left")
        .select(keys.map(col) :+
          (col("__true") - coalesce(col("__have"), lit(0L))).as(countCol): _*)
        .filter(col(countCol) =!= 0L)
      Bucketing.appendBucketed(corrective, counts, keys, buckets)
    }
  }

  /** One exactly-once micro-batch of a count-delta store `table`
    * (bucketed on `keys`), whose `append` lands the batch's delta rows
    * tagged `batch_id = batchId`. Two-phase ([[IngestLedger]]): a
    * committed batch skips; a batch that crashed mid-append (intent
    * without commit) first rewrites the store without its tagged rows
    * — a partial append's stragglers included — and re-appends
    * deterministically (same slice, same counts; an O(store) rewrite
    * paid only on the rare crash-repair path, never per batch).
    * Negative ids are refused: they are the base-build/folded
    * sentinel, and a repair keyed on one would delete folded rows. */
  def appendDeltas(spark: SparkSession, table: String, keys: Seq[String],
                   buckets: Int, batchId: Long)(append: => Unit): Unit = {
    require(batchId >= 0,
      s"ingest into '$table': batchId must be >= 0 (got $batchId) — " +
        "negative ids are the base-build/compacted sentinel and a repair " +
        "keyed on one would delete the folded rows")
    Bucketing.recoverSwap(spark, table)
    if (IngestLedger.applied(spark, table, batchId)) return
    if (IngestLedger.intended(spark, table, batchId))
      Bucketing.replaceBucketed(
        spark.table(table).filter(col("batch_id") =!= batchId),
        table, keys, buckets)
    else IngestLedger.intent(spark, table, batchId)
    append
    IngestLedger.record(spark, table, batchId)
  }

  /** Compact a count-delta store: one row per `group` with each `sums`
    * column summed, tagged with the −1 "folded" sentinel, one file per
    * bucket ([[Bucketing.compact]]); then prune the ledger. Rows of a
    * DANGLING batch — intent marker written, commit record never
    * reached, a crash mid-append whose replay has not run yet — pass
    * through UNFOLDED, still carrying their batch id: [[appendDeltas]]
    * removes a partial append by `batch_id`, and folding those rows
    * into the sentinel would strand them where the repair cannot see
    * them, double-counting the batch after its re-append. (The in-loop
    * path compacts strictly after the commit record, so it never has a
    * dangling own batch — this guards the public entry points against
    * compaction interleaved before a replay.) */
  def compactDeltas(spark: SparkSession, table: String, keys: Seq[String],
                    buckets: Int, group: Seq[String],
                    sums: Seq[String]): Unit = {
    val dangling = IngestLedger.danglingIntents(spark, table)
    val isDangling = col("batch_id").isin(dangling: _*)
    val cols = (group ++ sums :+ "batch_id").map(col)
    val totals = sums.map(c => sum(col(c)).as(c))
    Bucketing.compact(spark, table, keys, buckets,
      prepare = df => {
        val fold = (if (dangling.isEmpty) df else df.filter(!isDangling))
          .groupBy(group.map(col): _*).agg(totals.head, totals.tail: _*)
          .withColumn("batch_id", lit(-1L))
          .select(cols: _*)
        if (dangling.isEmpty) fold
        else fold.unionByName(df.filter(isDangling).select(cols: _*))
      })
    IngestLedger.prune(spark, table)
  }
}
