package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Scope}

/** Fixed-round synchronous label propagation over a symmetrized edge
  * list — the COMMUNITY detector of the graph family ([[PageRank]]
  * ranks, [[ConnectedComponents]] groups by reachability, [[KCore]]
  * trims to the dense core; this partitions by neighborhood majority):
  * every node starts as its own label, and each round adopts the label
  * most common among its neighbors (Raghavan et al. 2007). On dup/
  * co-occurrence graphs it separates the cliquish neighborhoods
  * connected-components over-merges — CC unions anything reachable,
  * LPA keeps chained-but-distinct districts apart.
  *
  * Semantics: `rounds` SYNCHRONOUS rounds (the defined contract — the
  * [[PageRank]]/[[KCore]] precedent; the oracle unrolls the identical
  * rounds; asynchronous/fixpoint variants are not oracle-expressible
  * and can oscillate). The majority vote ties break to the SMALLEST
  * label ((cnt desc, label asc) — a total order, so every round is
  * deterministic on any partitioning; all arithmetic is integer
  * count/compare). Self-label does not vote — only neighbors do (the
  * paper's form; isolated nodes cannot occur in a degree-≥1 edge set).
  *
  * Scale shape: each round is ONE node-keyed equi-join (labels onto the
  * dst side, shuffle ∝ edges) + two stacked map-side-combining hash
  * aggs ((src, label) counts ∝ edges, then the per-src argmax ∝ nodes —
  * the argmax is a struct-max AGGREGATE, never a window over the edge
  * list). The round reads the previous labels ONCE (the single join),
  * so rounds are fused and cut [[graft.Fixpoint.Fuse]] at a time
  * ([[graft.Fixpoint]]); the stats-carrying cut lets the label side
  * broadcast when small.
  */
object LabelProp {

  /** @param edges  symmetrized directed edge list (`src`, `dst`), both
    *               orientations of every undirected edge present;
    *               integer node ids.
    * @return (node, label) — the label after `rounds` rounds. */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // keyed cache (r22): every round joins labels onto the dst side —
    // partition + sort once so per-round joins never re-shuffle edges
    // every round's join reads it (columnar — r21)
    val e = Scope.eager(
      edges.select(col("src"), col("dst")), "dst")
    Fixpoint.replace(e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), rounds) { l =>
      e.join(l.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        // (cnt desc, label asc) argmax as a struct max: larger cnt wins,
        // then larger -label = SMALLER label
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("label"))
    }
  }

  /** WEIGHTED label propagation (r19): [[run]] with the majority vote
    * a WEIGHT SUM instead of a neighbor count — a neighborhood's label
    * wins by total edge weight (Raghavan et al. 2007 §III's natural
    * weighted generalization; on the co-purchase graph repeat
    * co-purchases vote with their multiplicity, so a heavy bridge can
    * pull a node across where one unit edge cannot). Weight-1 edges
    * make every vote sum equal the count, so runW ≡ [[run]] — the law
    * KCoreSuite pins. Same synchronous-rounds contract, (wsum desc,
    * label asc) total tiebreak (all-integer: weights are exact integer
    * counts per the copurchaseEdgesW builder), identical per-round
    * join + two-stacked-agg scale shape (the weight rides the edge
    * row; zero extra shuffles).
    *
    * @param edges  symmetrized directed edge list (`src`, `dst`, `w`),
    *               integer weights; both orientations present with the
    *               SAME weight (the edge-builder contract).
    * @return (node, label) — the label after `rounds` rounds. */
  def runW(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // keyed cache (r22): see run
    // every round's join reads it (columnar — r21)
    val e = Scope.eager(
      edges.select(col("src"), col("dst"), col("w")), "dst")
    Fixpoint.replace(e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), rounds) { l =>
      e.join(l.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(sum(col("w")).as("wsum"))
        // (wsum desc, label asc) argmax as a struct max — run's
        // tiebreak with the count replaced by the exact weight sum
        .groupBy(col("src"))
        .agg(max(struct(col("wsum"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("label"))
    }
  }
}
