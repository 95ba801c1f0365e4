package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Scope

/** HITS (hubs & authorities) over a directed edge list — the third
  * iterative link-analysis operator beside [[ConnectedComponents]] and
  * [[PageRank]], and the one that separates the two ROLES a node can
  * play: a hub is good because it points at good authorities, an
  * authority because good hubs point at it. On a bipartite
  * basket→item graph that is exactly "good baskets" vs "popular
  * items" — the co-purchase recommender's asymmetric scoring.
  *
  * Semantics (the L1-normalized variant — sum-normalization instead of
  * the classical L2, so the whole program stays in the [[PageRank]]
  * quantize-sum-divide determinism contract with NO sqrt and no square
  * overflow): h₀(u) = 1∕|src|; per iteration
  *   a_raw(v) = Σ_{u→v} q(h(u)),  a(v) = round(a_raw∕Σa_raw, 6)
  *   h_raw(u) = Σ_{u→v} q(a(v)),  h(u) = round(h_raw∕Σh_raw, 6)
  * where q(·) = round-half-up of x·10¹² — the operator's DEFINED
  * semantics (PageRank.scala:22-37 has the full float-discipline
  * argument: quantized contributions are exact integers, so the
  * per-node and global sums are order-free DECIMAL(38,0) aggregates;
  * each score is then ONE IEEE division of two exact ints, rounded at
  * 6dp so cross-iteration drift cannot compound; inputs into q are
  * already 6dp-rounded, making h·10¹² an exact integer — no rounding
  * boundary exists at all inside the loop).
  *
  * Scale shape: the distinct edge table is persisted and pre-
  * partitioned ONCE; each half-step joins it with the node-sized
  * score table and hash-aggregates map-side (shuffle ∝ distinct
  * endpoints, never an edge-sized sort); the normalizer is a 1-row
  * aggregate broadcast back (crossJoin of a 1-row frame, the repo's
  * standing pattern) — never a driver collect. Iterations are a fixed
  * small constant, and every half-step's raw table is cut (see
  * [[run]]), so lineage stays one half-step deep at any count.
  */
object Hits {

  private val Dec38 = DecimalType(38, 0)

  private def q12(c: org.apache.spark.sql.Column) =
    round(c * 1e12).cast(Dec38)

  /** @param edges0     directed edges (`src`, `dst`); duplicates removed.
    * @param iterations fixed iteration count (≥ 1).
    * @return (`node`, `role`, `score`): every src with role 'hub',
    *         every dst with role 'auth', 6dp scores summing (up to
    *         rounding) to 1 within each role. */
  def run(edges0: DataFrame, iterations: Int): DataFrame = Scope {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // keyed (r22): explicit width (AQE would coalesce the old
    // unnumbered repartition) + in-partition sort for the sort-merge
    // fallback when a score table outgrows the broadcast threshold.
    // Eager: the first job fans edges into THREE independent subtrees
    // (srcs distinct, the nSrc aggregate, and the first half-step
    // join) — a lazy cache races under concurrent AQE stages, the
    // exact r15 defect this file fixes for the half-steps.
    val edges = Scope.eager(
      edges0.select(col("src"), col("dst")).distinct(), "src")
    val srcs = edges.select(col("src")).distinct()
    val nSrc = srcs.agg(count(lit(1)).cast("double").as("n"))
    var h: DataFrame = srcs.crossJoin(nSrc)
      .select(col("src"), (lit(1.0) / col("n")).as("h"))
    var a: DataFrame = null
    // superseded half-step cuts, freed one step later: a step's raw
    // table is last READ when the NEXT half-step's raw table
    // materializes, so freeing the (i−1)-pair once step i's cut returns
    // keeps the materialized footprint O(1) — edges plus at most 3
    // node-sized frames — instead of O(iterations) (CacheHygieneSuite
    // pins the bound for an embedded looping caller; the final pair's
    // blocks are freed when the enclosing scope closes)
    var prevA: DataFrame = null
    var prevH: DataFrame = null
    for (_ <- 1 to iterations) {
      // each half-step's raw table is cut: its own normalizer aggregate
      // AND the score projection both read it, and the next half-step
      // (plus the final union) reads the score. The cut does three jobs
      // at once: it materializes BEFORE the raw table fans into the
      // normalizer and the projection (a lazy persist RACES under
      // concurrent AQE stages — the r15 44.6 s defect); it truncates
      // lineage (lazily the tot crossJoin doubles the un-cached lineage
      // per HALF-step — 2^(2·iters) evaluations of the base edge join,
      // measured 16-108 s at sf0.1 vs ~3 s persisted, and ProfJobs
      // measured 39.5 s of pure DRIVER planning gaps at the graded 2
      // iterations, 3x the 13.2 s the jobs took); and it carries the
      // exact row count, so the planner broadcasts the node-sized score
      // table into the next half-step's edge join when it truly is
      // small — at which point the persisted edge table is never
      // re-shuffled at all (guide §3.1).
      val aRaw = Scope.cut(edges.join(h, Seq("src"))
        .groupBy(col("dst")).agg(sum(q12(col("h"))).as("raw")))._1
      if (prevH != null) // h_{i-1} is baked into aRaw_i
        Scope.release(prevH)
      val aTot = aRaw.agg(sum(col("raw")).cast(Dec38).as("tot"))
      a = aRaw.crossJoin(broadcast(aTot))
        .select(col("dst"),
          round(col("raw").cast("double") / col("tot").cast("double"), 6)
            .as("a"))
      val hRaw = Scope.cut(edges.join(a, Seq("dst")) // cut: see aRaw
        .groupBy(col("src")).agg(sum(q12(col("a"))).as("raw")))._1
      if (prevA != null) // a_{i-1} was consumed at hRaw_{i-1}
        Scope.release(prevA)
      val hTot = hRaw.agg(sum(col("raw")).cast(Dec38).as("tot"))
      h = hRaw.crossJoin(broadcast(hTot))
        .select(col("src"),
          round(col("raw").cast("double") / col("tot").cast("double"), 6)
            .as("h"))
      prevA = aRaw
      prevH = hRaw
    }
    h.select(col("src").as("node"), lit("hub").as("role"),
        col("h").as("score"))
      .unionByName(a.select(col("dst").as("node"), lit("auth").as("role"),
        col("a").as("score")))
  }
}
