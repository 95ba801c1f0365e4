package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe EXACT percentiles over arbitrary (group, value) columns —
  * the engine behind the graded `q_agg_pctile` / `q_agg_pctile_disc` and
  * [[graft.Graft.percentiles]] / [[graft.Graft.percentilesDisc]].
  *
  * Spark's native `percentile()` buffers every distinct value of a group
  * inside a heap-only ObjectHashAggregate buffer (no spill): with few
  * groups that is an executor OOM at corpus scale. This plan is bounded
  * at any scale:
  *
  *  1. pre-aggregate `(group, value) → count` — one map-side-combining
  *     hash agg, shuffle ∝ DISTINCT values per group, never rows;
  *  2. cumulative-count window over the distinct values — WindowExec
  *     sorts spill to disk, unlike the aggregation buffer;
  *  3. locate each requested rank by flagging the one distinct value
  *     whose cumulative range covers it, and reduce with `max(when…)` —
  *     a plain hash aggregate down to one row per group.
  *
  * Measured limitation (graft.ScaleRehearsal, BASELINE.md r9): the
  * cumulative window's parallelism equals the GROUP count — one task
  * per group sorts that group's distinct values (spilling as needed).
  * With few groups and tens of millions of distinct values that
  * serialization dominates (8.3 s vs the native buffer's 0.8 s at 60M
  * rows / 3 groups — native stays faster exactly until a group's
  * distinct buffer exceeds a task heap, then fails instead of
  * spilling). Graded plans' group counts make the window trivially
  * parallel. A range-partitioned distributed-selection variant
  * (parallelism groups × partitions) was measured slower than [[cont]]
  * at every size this harness reaches (2.5 vs 1.1–1.3 s at 6M rows,
  * 14.6 vs 8.3–8.8 s at 60M — BASELINE.md r9) and was removed; [[cont]]
  * is the one continuous engine.
  *
  * All working columns are `__pct_`-prefixed so a caller's own columns
  * (including ones literally named `n`, `cnt`, `v`, …) are never
  * clobbered; the only reserved OUTPUT names are the requested
  * percentile names and `n`, enforced by `require` with a clear message.
  *
  * Determinism (§7.4): the continuous form interpolates in double with a
  * fixed expression shape, so an engine twin running the same CTE
  * produces the identical IEEE sequence; the discrete form carries ZERO
  * float arithmetic (integer rank math, the answer is a stored value).
  */
object Percentiles {

  // Internal working-column names. Prefixed so they can never collide
  // with (and silently REPLACE via withColumn) a caller's group column —
  // a pre-r9 bug: a group column named "n" was overwritten by the window
  // total and the final groupBy merged unrelated groups.
  private val V = "__pct_v"
  private val CNT = "__pct_cnt"
  private val N = "__pct_n"
  private val CUM_END = "__pct_cum_end"
  private val CUM_START = "__pct_cum_start"

  private def checkNames(groupCols: Seq[String], outNames: Seq[String]): Unit = {
    val reserved = outNames :+ "n"
    val clash = groupCols.intersect(reserved)
    require(clash.isEmpty,
      s"group columns ${clash.mkString(", ")} collide with output columns " +
        s"(requested percentile names plus the group-count column `n`); " +
        "rename the group column or the percentile output")
    require(outNames.distinct.size == outNames.size,
      s"duplicate percentile output names: $outNames")
    // `n` is the result's group-count/total-weight column, and __pct_*
    // are the working columns — a percentile OUTPUT by either name would
    // emit a duplicate/ambiguous column instead of an error
    require(!outNames.contains("n"),
      "percentile output name `n` collides with the group-count column " +
        "`n` the result always carries; pick another name")
    val pref = outNames.filter(_.startsWith("__pct_"))
    require(pref.isEmpty,
      s"percentile output names $pref collide with the engine's internal " +
        "__pct_* working columns; pick other names")
  }

  private def marked(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     weightCol: Option[String] = None): DataFrame = {
    val gc = groupCols.map(col)
    val wRun = Window.partitionBy(groupCols.map(col): _*).orderBy(col(V))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    // unweighted = weight 1 per row (sum(1) ≡ count, same plan shape);
    // weights must be integral (non-integral values TRUNCATE toward
    // zero via the long cast) — ranks stay exact integer arithmetic.
    // NULL weights count as 0, and zero-total values are dropped below.
    val w = weightCol.map(c => coalesce(col(c).cast("long"), lit(0L)))
      .getOrElse(lit(1L))
    // NULL values are EXCLUDED, matching SQL percentile_cont/_disc —
    // counted in, they would shift every rank AND sort to opposite ends
    // on Spark (nulls first) vs DuckDB (nulls last).
    df.filter(col(valueCol).isNotNull)
      .groupBy((gc :+ col(valueCol).as(V)): _*)
      .agg(sum(w).as(CNT))
      .filter(col(CNT) > 0)
      .withColumn(CUM_END, sum(CNT).over(wRun))
      .withColumn(N, sum(CNT).over(wAll))
      .withColumn(CUM_START, col(CUM_END) - col(CNT))
  }

  /** Continuous (interpolated, SQL `percentile_cont`) percentiles: rank
    * r = p·(n−1) over the 0-based sorted multiset, linear interpolation
    * between the two neighbouring stored values, computed in double.
    * NULL values are excluded (SQL semantics); a group with only NULLs
    * disappears from the result.
    *
    * @param ps (fraction in [0,1], output column name) per percentile.
    * @param weightCol optional INTEGRAL per-row weight: the result is
    *                  the weighted interpolated percentile — rank
    *                  r = p·(W−1) over the 0-based sorted multiset in
    *                  which each row appears `weight` times (W = total
    *                  group weight), exactly equivalent to replicating
    *                  each row `weight` times and running the unweighted
    *                  form (PropertySuite pins the law). Non-integral
    *                  weights TRUNCATE toward zero; NULL weights count
    *                  as 0; values whose total weight is 0 are dropped.
    * @return one row per group: groupCols…, one double column per
    *         requested percentile, `n` (group count or total weight). */
  def cont(df: DataFrame, groupCols: Seq[String], valueCol: String,
           ps: Seq[(Double, String)],
           weightCol: Option[String] = None): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (p, _) => p >= 0 && p <= 1 },
      s"percentile fractions must be in [0,1]: ${ps.map(_._1)}")
    checkNames(groupCols, ps.map(_._2))
    val gc = groupCols.map(col)
    val withRanks = ps.zipWithIndex.foldLeft(
      marked(df, groupCols, valueCol, weightCol)) {
      case (acc, ((p, _), i)) =>
        acc.withColumn(s"__pct_r$i", lit(p) * (col(N) - 1).cast("double"))
    }
    // the single distinct value whose cumulative range covers rank k
    def hit(r: Column, edge: Column => Column): Column = {
      val k = edge(r).cast("long")
      max(when(col(CUM_START) <= k && k < col(CUM_END),
        col(V).cast("double")))
    }
    val aggs = ps.zipWithIndex.flatMap { case (_, i) =>
      Seq(hit(col(s"__pct_r$i"), floor).as(s"__pct_lo$i"),
        hit(col(s"__pct_r$i"), ceil).as(s"__pct_hi$i"),
        max(col(s"__pct_r$i")).as(s"__pct_r$i"))
    } :+ max(col(N)).as("n")
    val outs = ps.zipWithIndex.map { case ((_, name), i) =>
      (col(s"__pct_lo$i") +
        (col(s"__pct_r$i") - floor(col(s"__pct_r$i"))) *
          (col(s"__pct_hi$i") - col(s"__pct_lo$i")))
        .as(name)
    }
    withRanks.groupBy(gc: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((gc ++ outs) :+ col("n"): _*)
  }

  /** Discrete (type-1 order statistic, SQL `percentile_disc`)
    * percentiles: the smallest STORED value whose cumulative count
    * reaches ⌈p·n⌉. The fraction is an exact rational `num/den` so the
    * rank is pure integer arithmetic (⌈a/b⌉ = (a+b−1) div b) — no float
    * boundary at any n, which a double `ceil(p*n)` cannot guarantee
    * when p·n lands on an integer.
    *
    * @param ps (numerator, denominator, output column name) per
    *           percentile, e.g. (1, 2, "median").
    * @param weightCol optional INTEGRAL per-row weight: the result
    *                  becomes the weighted percentile — the smallest
    *                  value whose cumulative WEIGHT reaches ⌈p·W⌉ (W =
    *                  total group weight), exactly equivalent to
    *                  replicating each row `weight` times. Ranks stay
    *                  pure integer arithmetic. Non-integral weights
    *                  TRUNCATE toward zero; NULL weights count as 0;
    *                  values whose total weight is 0 are dropped.
    *                  NULL values are excluded, as in [[cont]].
    * @return one row per group: groupCols…, one column per requested
    *         percentile in the VALUE column's own type, `n` (count or
    *         total weight). */
  def disc(df: DataFrame, groupCols: Seq[String], valueCol: String,
           ps: Seq[(Int, Int, String)],
           weightCol: Option[String] = None): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (a, b, _) => b > 0 && a >= 0 && a <= b },
      s"percentile rationals must be 0 <= num/den <= 1: ${ps.map(t => (t._1, t._2))}")
    checkNames(groupCols, ps.map(_._3))
    val gc = groupCols.map(col)
    val withRanks = ps.zipWithIndex.foldLeft(
      marked(df, groupCols, valueCol, weightCol)) {
      case (acc, ((num, den, _), i)) =>
        // clamp to rank 1: ⌈0·n⌉ = 0 matches no cumulative range, but
        // percentile_disc(0) is defined as the group minimum
        acc.withColumn(s"__pct_k$i",
          expr(s"greatest(1L, ($num * $N + ${den - 1}) div $den)"))
    }
    // the distinct value covering 1-based rank k: cum_start < k ≤ cum_end
    val aggs = ps.zipWithIndex.map { case ((_, _, name), i) =>
      max(when(col(CUM_START) < col(s"__pct_k$i") &&
        col(s"__pct_k$i") <= col(CUM_END), col(V))).as(name)
    } :+ max(col(N)).as("n")
    withRanks.groupBy(gc: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((gc ++ ps.map(t => col(t._3))) :+ col("n"): _*)
  }

  /** Winsorized mean per group — the robust mean (outliers CLIPPED to
    * the lo/hi discrete-percentile cut values rather than dropped; the
    * engine behind the graded `q_agg_winsor` and
    * [[graft.Graft.winsorizedMean]]). Cut points come from [[disc]]
    * (exact rational ranks, values the data already holds — zero float
    * in the cut derivation), the clip runs in the value's own exact
    * type (`least`/`greatest` of two same-typed columns), and the mean
    * is one sum → one double cast → ONE IEEE division (unrounded here;
    * graded callers round per §7.4.7). NULL values are excluded
    * explicitly on BOTH the cut and the clip side — never via
    * least/greatest NULL propagation, which engines define differently.
    *
    * Scale shape: the [[disc]] pre-agg (shuffle ∝ distinct values) →
    * a |groups|-row join-back (AQE broadcasts it) → one map-side-
    * combined final agg. The clip itself is map-only; no second
    * value-domain shuffle.
    *
    * @param lo/hi cut percentiles as exact rationals, e.g. (1,20) and
    *              (19,20) for the classic 5%/95% winsorization.
    * @return groupCols…, winsor_lo, winsor_hi (value's own type),
    *         winsor_mean (double), n. NULL group keys join null-safely
    *         (a NULL group gets its own cuts, matching [[disc]]'s
    *         grouping of NULL keys together). */
  def winsorizedMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     lo: (Int, Int) = (1, 20),
                     hi: (Int, Int) = (19, 20)): DataFrame = {
    checkNames(groupCols, Seq("winsor_lo", "winsor_hi", "winsor_mean"))
    val gc = groupCols.map(col)
    val cuts = disc(df, groupCols, valueCol,
        Seq((lo._1, lo._2, "winsor_lo"), (hi._1, hi._2, "winsor_hi")))
      .select(groupCols.map(c => col(c).as(s"__pct_g_$c")) :+
        col("winsor_lo") :+ col("winsor_hi"): _*)
    val joinCond = groupCols.map(c => col(c) <=> col(s"__pct_g_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    df.filter(col(valueCol).isNotNull)
      .join(cuts, joinCond)
      .select(gc :+ col("winsor_lo") :+ col("winsor_hi") :+
        least(greatest(col(valueCol), col("winsor_lo")),
          col("winsor_hi")).as("__pct_cl"): _*)
      .groupBy(gc: _*)
      .agg(max(col("winsor_lo")).as("winsor_lo"),
        max(col("winsor_hi")).as("winsor_hi"),
        sum(col("__pct_cl")).as("__pct_clsum"),
        count(lit(1)).as("n"))
      .select(gc :+ col("winsor_lo") :+ col("winsor_hi") :+
        (col("__pct_clsum").cast("double") / col("n")).as("winsor_mean") :+
        col("n"): _*)
  }

  /** Trimmed mean per group — [[winsorizedMean]]'s sibling: rows
    * OUTSIDE the lo/hi discrete-percentile cut values are DROPPED
    * (winsor clips them to the cuts). Same engine shape: the [[disc]]
    * cut pass, a |groups|-row join-back, then a map-only filter + one
    * combined agg; the mean is one sum → one double cast → ONE IEEE
    * division (unrounded; graded callers round per §7.4.7). The cut
    * values themselves survive the trim (`between` is inclusive), so a
    * constant group trims nothing. NULL values are excluded explicitly.
    * @return groupCols…, trim_lo, trim_hi (value's own type),
    *         trimmed_mean (double), n_kept (surviving rows), n (all
    *         non-NULL rows — n − n_kept is the trimmed-away count). */
  def trimmedMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  lo: (Int, Int) = (1, 20),
                  hi: (Int, Int) = (19, 20)): DataFrame = {
    checkNames(groupCols, Seq("trim_lo", "trim_hi", "trimmed_mean", "n_kept"))
    val gc = groupCols.map(col)
    val cuts = disc(df, groupCols, valueCol,
        Seq((lo._1, lo._2, "trim_lo"), (hi._1, hi._2, "trim_hi")))
      .select(groupCols.map(c => col(c).as(s"__pct_g_$c")) :+
        col("trim_lo") :+ col("trim_hi"): _*)
    val joinCond = groupCols.map(c => col(c) <=> col(s"__pct_g_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    df.filter(col(valueCol).isNotNull)
      .join(cuts, joinCond)
      .groupBy(gc: _*)
      .agg(max(col("trim_lo")).as("trim_lo"),
        max(col("trim_hi")).as("trim_hi"),
        sum(when(col(valueCol).between(col("trim_lo"), col("trim_hi")),
          col(valueCol))).as("__pct_ksum"),
        count(when(col(valueCol).between(col("trim_lo"), col("trim_hi")),
          lit(1))).as("n_kept"),
        count(lit(1)).as("n"))
      .select(gc :+ col("trim_lo") :+ col("trim_hi") :+
        (col("__pct_ksum").cast("double") / col("n_kept")).as("trimmed_mean") :+
        col("n_kept") :+ col("n"): _*)
  }
}
