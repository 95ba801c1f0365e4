package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Scope

/** Fixed-round k-core peel over a symmetrized edge list — the
  * density-core extractor of the graph family ([[PageRank]] ranks
  * authority, [[ConnectedComponents]] groups, this TRIMS): repeatedly
  * drop nodes with degree < k, keeping only the subgraph where every
  * survivor has ≥ k surviving neighbors. A training-data pipeline runs
  * it on link/co-occurrence graphs to separate the densely-connected
  * core (spam rings, template farms, genuinely-central hubs) from the
  * long periphery that one-pass degree filters cannot distinguish — the
  * cascade is the point: dropping a degree-1 node may push its neighbor
  * below k, which a single degree cut misses.
  *
  * Semantics: `rounds` peel iterations (the DEFINED contract, mirroring
  * [[PageRank]]'s fixed iteration count — the oracle unrolls the same
  * rounds; a fixpoint variant would not be oracle-expressible). Each
  * round recomputes degrees over the SURVIVING edge set and keeps edges
  * whose BOTH endpoints have degree ≥ k. All arithmetic is integer
  * count/compare — bit-free of float concerns, deterministic on any
  * partitioning. Early exit when a round removes nothing is
  * result-identical to running the remaining rounds (peeling is
  * monotone: a stable edge set reproduces itself), so it is taken.
  *
  * Scale shape: each round is ONE map-side-combining degree hash agg
  * (shuffle ∝ surviving nodes) plus two semi-joins of the edge list
  * against the ≥k node set (AQE broadcasts the node side when the
  * survivor set collapses — the common case after round 1). Edge-set
  * size is monotone non-increasing, so per-round cost shrinks. Lineage
  * is truncated per round with eager `localCheckpoint` (the
  * [[ConnectedComponents]] discipline — each round references the
  * previous edge set THREE times: degree agg + two semi-joins; without
  * truncation the logical plan grows 3^rounds).
  */
object KCore {

  /** @param edges  symmetrized directed edge list (`src`, `dst`) — both
    *               orientations of every undirected edge present (the
    *               [[graft.queries.GraphOps]] edge builders' contract),
    *               no duplicates.
    * @param k      minimum surviving degree (≥ 1).
    * @param rounds fixed peel rounds (≥ 0).
    * @return (`node`, `deg`): surviving nodes with their degree in the
    *         peeled subgraph. */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = Scope {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var (e, prevCount) = Scope.cut(edges.select(col("src"), col("dst")))
    var stable = false
    var it = 0
    while (!stable && it < rounds) {
      it += 1
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("kn"))
      val (next, nextCount) = Scope.cut(e
        .join(keep, e("src") === keep("kn"), "left_semi")
        .join(keep, e("dst") === keep("kn"), "left_semi"))
      Scope.release(e)
      e = next
      stable = nextCount == prevCount
      prevCount = nextCount
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** WEIGHTED (s-core) peel (r20) — [[peel]] with degree replaced by
    * STRENGTH: repeatedly drop nodes whose incident integer weight sum
    * is < s, keeping only the subgraph where every survivor holds ≥ s
    * surviving weight (the standard s-core of weighted-network
    * analysis — the runW/modularityWOn generalization discipline
    * applied to the peel family). The cases the count peel cannot
    * express: a low-degree node whose few edges are HEAVY survives the
    * s-core while the k-core drops it, and a hub of many feather
    * edges is peeled while the k-core keeps it — both directions
    * pinned in-unit, alongside the weight-1 ≡ [[peel]] law (every
    * strength a count).
    *
    * Same fixed-round contract (the oracle unrolls identical rounds),
    * result-identical early exit (peeling is monotone in strength
    * exactly as in degree: a stable edge set reproduces its strength
    * profile), all-integer arithmetic, and per-round scale shape: ONE
    * map-side-combining strength hash agg (shuffle ∝ surviving nodes)
    * + two semi-joins against the ≥s node set, edge mass monotone
    * non-increasing, per-round localCheckpoint lineage truncation.
    *
    * @param edges  symmetrized directed (`src`, `dst`, `w`) — both
    *               orientations with the same positive integer weight
    *               (the weighted edge-builder contract).
    * @param s      minimum surviving strength (≥ 1).
    * @param rounds fixed peel rounds (≥ 0).
    * @return (`node`, `strength`): survivors with their strength in
    *         the peeled subgraph. */
  def peelW(edges: DataFrame, s: Long, rounds: Int): DataFrame = Scope {
    require(s >= 1, s"s must be >= 1, got $s")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var (e, prevCount) = Scope.cut(
      edges.select(col("src"), col("dst"), col("w")))
    var stable = false
    var it = 0
    while (!stable && it < rounds) {
      it += 1
      val keep = e.groupBy(col("src")).agg(sum(col("w")).as("st"))
        .filter(col("st") >= s).select(col("src").as("kn"))
      val (next, nextCount) = Scope.cut(e
        .join(keep, e("src") === keep("kn"), "left_semi")
        .join(keep, e("dst") === keep("kn"), "left_semi"))
      Scope.release(e)
      e = next
      stable = nextCount == prevCount
      prevCount = nextCount
    }
    e.groupBy(col("src").as("node")).agg(sum(col("w")).as("strength"))
  }
}
