package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Scope

/** Connected components over an undirected edge list by hash-min label
  * propagation — the pair→cluster step of a dedup pipeline (near-dup
  * PAIRS from LSH/AllPairs candidate generation become KEEP/DROP
  * decisions only once grouped into components and a representative is
  * chosen; see `q_llm_cc`).
  *
  * Algorithm: every node starts labeled with its own id; each round a
  * node takes the min of its label and its neighbors' labels; stop when
  * a round changes nothing. All arithmetic is integer min, so the result
  * is exactly the component-wise min id — deterministic on any cluster
  * layout, which is what lets the graded query hash-match a DuckDB
  * recursive-CTE oracle.
  *
  * Scale shape: each hop is one equi-join of the edge list with the
  * label table plus a groupBy-min that partial-aggregates map-side (a
  * hub node's messages combine before the shuffle — skew-safe). The
  * symmetrized edge list is persisted PRE-PARTITIONED on src, so the
  * per-hop join re-shuffles only the (smaller) label table — the edge
  * side pays its one exchange at init, not once per round. Hops ∝
  * component DIAMETER, not size: dedup clusters are near-cliques
  * (diameter ≤ ~2), so 100 TB near-dup graphs converge in a handful of
  * hops. (A fused two-hop-per-round variant was measured and REJECTED:
  * the inner hop's subtree appears on both sides of the outer plan and
  * re-evaluates above the reused exchange, costing more than the saved
  * round — 3.4–3.6 s vs 2.6–2.9 s steady-state at sf0.1.) For
  * adversarial long-path graphs the textbook upgrade is alternating
  * large-star/small-star (O(log n) rounds); not needed for the dedup
  * workload this serves.
  *
  * Lineage: each round's label table is `localCheckpoint`ed (eager) —
  * persist() alone is NOT enough for an iterative dataflow, because the
  * LOGICAL plan still nests one round per iteration and Catalyst/AQE
  * plan handling grows exponentially with rounds (a 9-node path graph
  * OOMed the driver on plan STRINGS before this truncation; pinned by
  * the path-graph unit test). The previous round's blocks are released
  * eagerly; the final table's blocks are dropped by the ContextCleaner
  * once unreferenced.
  */
object ConnectedComponents {

  /** @param edges two long columns (first = src, second = dst), any names;
    *              treated as undirected, self-loops and duplicates are fine.
    * @param maxIter safety cap; convergence is REQUIRED (the result is
    *                exact only at the fixpoint), so non-convergence throws.
    * @return (node: long, rep: long) — one row per distinct endpoint,
    *         rep = min node id in its component. */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = Scope {
    val Seq(srcCol, dstCol) = edges.columns.take(2).toSeq
    // Persist the raw pair list BEFORE symmetrizing: the union's two
    // branches would otherwise each evaluate the caller's (potentially
    // expensive — LSH candidate + verify) edge pipeline once. The first
    // scan fills the cache, the swapped branch reads it.
    // Eager (r16): the union's two scan legs run in the SAME job and
    // can race to materialize this cache (Scope.eager doc).
    val fwd = Scope.eager(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    // Re-joined every round — persisted AFTER a hash repartition on the
    // join key, so the cached blocks carry hashpartitioning(src) and the
    // per-hop join only exchanges the label side. The keyed layout
    // (r22) adds the explicit width (AQE would coalesce the unnumbered
    // repartition below the rounds' join parallelism) and the
    // in-partition sort a sort-merge round reuses.
    val e = Scope.eager(
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))),
      "src") // every round's join reads it
    // Round 1 fused into initialization: from identity labels, a
    // neighbor's message is just its node id, so the first label table
    // is one groupBy-min over (neighbor ids ∪ self) — no join, and no
    // separate distinct-nodes pass (the node set is exactly src of the
    // symmetrized edge list).
    var labels = Scope.cut(
      e.select(col("dst").as("node"), col("src").as("rep"))
        .union(e.select(col("src").as("node"), col("src").as("rep")))
        .groupBy(col("node")).agg(min(col("rep")).as("rep")))._1
    // e is materialized by the (eager) init above; the raw list's cache
    // has served its one purpose
    Scope.release(fwd)
    // Convergence check: labels only ever DECREASE (new rep =
    // min(old, neighbor reps) ≤ old) over a fixed node set, so Σrep
    // strictly decreases exactly when some label changed — one exact
    // decimal aggregate over the just-checkpointed table per round,
    // instead of a join against the previous round's labels.
    def repSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      // SUM over zero rows is NULL — an empty edge list (no near-dup
      // pairs at all) must converge to an empty result, not NPE
      Option(df.agg(sum(col("rep").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = repSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      it += 1
      // neighbor messages ∪ own label, min per node (map-side combine);
      // eager localCheckpoint truncates lineage AND materializes once
      // for the two consumers (sum check now, join next round)
      val msgs = e.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("rep"))
      val next = Scope.cut(
        msgs.union(labels)
          .groupBy(col("node")).agg(min(col("rep")).as("rep")))._1
      val nextSum = repSum(next)
      Scope.release(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
    }
    Scope.release(e)
    require(converged,
      s"ConnectedComponents did not converge in $maxIter rounds (diameter > maxIter?)")
    labels
  }
}
