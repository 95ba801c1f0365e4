package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.Scope

/** Mergeable heavy-hitters sketch (Misra-Gries "frequent" summaries) —
  * the third standard sketch of a 100 TB pipeline, next to
  * approx_count_distinct (HLL) and approx_percentile (KLL): "which
  * items exceed φ·n frequency" over a vocabulary too large to
  * hash-aggregate exactly in memory.
  *
  * Shape: each input partition folds its rows through a k-counter
  * Misra-Gries summary (O(k) memory, one pass), then the
  * ≤ (k+1)·partitions summary rows — NOT the raw rows — are
  * hash-aggregated globally. Summing per-item lower bounds across
  * partitions preserves the MG guarantee: each decrement step discards
  * k+1 distinct occurrences, so a partition undercounts any item by at
  * most n_p/(k+1), and the merged estimate sits in
  * [true − n/(k+1), true]. The shuffle is O(k · partitions) rows
  * regardless of input size — the point of the sketch; an exact
  * groupBy shuffles O(distinct items).
  *
  * Exactness contract (unit-tested, layout-independent): any item with
  * true count > n/(k+1) is GUARANTEED to surface, with its estimate in
  * [true − floor, true], under ANY partitioning of the input. Items
  * below the floor may or may not appear — callers threshold by the
  * reported floor. Estimates are deterministic given a partitioning;
  * the GUARANTEE (not the estimates) is partition-invariant, which is
  * why this is a unit-only capability rather than an oracle-graded
  * query (the graded exact twin is q_llm_wordcount). */
object HeavyHitters {

  /** @param items single string-column input (one row per occurrence).
    * @param k      counters per partition summary; error floor is
    *               n/(k+1), reported per row as `floor`.
    * @return (item, est_count, floor) sorted by est_count desc. The
    *         total row count n is recovered from one sentinel row per
    *         partition (null item), so the input is scanned ONCE.
    *
    * Fully LAZY since r10 (n reaches the floor column as a one-row
    * scalar crossJoin, the tfidf n_docs pattern — no driver action at
    * build time), so the sketch can sit inside a graded query plan.
    * The persist() on the tiny summary table (≤ (k+1)·partitions + 1
    * rows) has two consumers (n recovery + the merge agg); it is an
    * eager [[graft.Scope]] cache, released with the enclosing scope. */
  def sketch(items: Dataset[Row], k: Int): DataFrame =
    merged(items, k).orderBy(col("est_count").desc, col("item").asc)

  /** [[sketch]] without the presentation sort — the candidate-set form
    * a prescreen composition joins against (q_text_hhwords; sorting
    * candidates that feed a semi join would be wasted plan). */
  def candidates(items: Dataset[Row], k: Int): DataFrame = merged(items, k)

  private def merged(items: Dataset[Row], k: Int): DataFrame = {
    require(k > 0)
    val spark = items.sparkSession
    import spark.implicits._
    val summaries = Scope.eager(items.mapPartitions { it =>
      val counters = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var n = 0L
      it.foreach { r =>
        val x = r.getString(0)
        n += 1
        counters.get(x) match {
          case Some(c) => counters.update(x, c + 1)
          case None if counters.size < k => counters.update(x, 1L)
          case None => // decrement-all: discards k+1 distinct occurrences
            counters.mapValuesInPlace((_, c) => c - 1)
            counters.filterInPlace((_, c) => c > 0)
        }
      }
      // one sentinel row per non-empty partition carries n_p, so the
      // global n is Σ sentinels — no second pass over the input
      val sentinel = if (n > 0L) Iterator.single((Option.empty[String], 0L, n))
                     else Iterator.empty
      counters.iterator.map { case (item, c) => (Some(item), c, 0L) } ++ sentinel
    }.toDF("item", "cnt", "part_n"))
    val nTotal = summaries.filter(col("item").isNull)
      .agg(coalesce(sum(col("part_n")), lit(0L)).as("n_total"))
    summaries.filter(col("item").isNotNull)
      .groupBy(col("item")).agg(sum(col("cnt")).as("est_count"))
      .crossJoin(nTotal) // 1-row scalar — broadcast by construction
      // floor(double) ≡ integer n/(k+1) for n < 2^52 — far above any
      // realistic occurrence count
      .withColumn("floor",
        floor(col("n_total") / lit(k + 1)).cast("long"))
      .drop("n_total")
  }
}
