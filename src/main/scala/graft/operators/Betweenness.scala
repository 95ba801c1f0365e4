package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Scope

/** Pivot-sampled Brandes betweenness (Brandes 2001's dependency
  * accumulation, restricted to a bounded deterministic pivot set — the
  * sampling estimator of Brandes & Pich 2007): the last classic
  * centrality of the graph family ([[PageRank]] ranks by endorsement,
  * closeness/harmonic by proximity; betweenness ranks by BROKERAGE —
  * how much shortest-path traffic transits a node). Exact Brandes is
  * one SSSP per source (O(n·m) — a driver-side loop over the corpus at
  * scale by definition), so the distributed contract is the standard
  * pivot estimate: k deterministic pivots (the kbfs seed discipline),
  * all relaxed in ONE plan via a `seed` key column, and
  * BC(v) ≈ (n∕k)·Σ_pivots δ_s(v).
  *
  * Two bounded phases, both synchronous-round relaxations (the
  * [[Bfs]]/[[PageRank]] cost class — rounds, not data, set the driver
  * floor):
  *
  * FORWARD (≤ `rounds` rounds): per (seed, node) the exact hop
  * distance d and shortest-path COUNT σ. A node first settled at round
  * r has exact distance r (the BFS frontier property), and its σ is
  * the sum of the σ of its level-(r−1) in-neighbors — layer-exact, so
  * the fixed unroll is the defined contract (nodes beyond `rounds`
  * hops are absent — documented; the oracle unrolls identically, and
  * the early exit on an empty frontier is result-identical). σ is an
  * exact DECIMAL(38,0) integer.
  *
  * BACKWARD (one level per settled depth, deepest first): Brandes'
  * dependency δ(v) = Σ_{w: (v,w) ∈ E, d_w = d_v + 1} (σ_v∕σ_w)·(1 + δ_w),
  * carried as the exact FLOOR-micros integer
  * dq(v) = Σ (σ_v·(10⁶ + dq_w)) div σ_w — every contribution one
  * integer floor division (never a float; `div` ≡ `//` on the
  * non-negative operands; the per-(seed, node) grain makes each sum
  * order-free), mirrored term for term by the DuckDB oracle. Nodes
  * with zero dependency (no level-below out-neighbor) are absent —
  * they brokerage nothing. Magnitude bound: σ·(10⁶ + dq) stays inside
  * 38 digits for σ ≤ 10¹⁵ and dq ≤ 10¹⁶ (dq ≤ reach·10⁶, so this
  * holds to 10¹⁰-node reach on graphs whose path counts fit 10¹⁵ —
  * the co-purchase graphs' σ max out far below). The bound is
  * ENFORCED, not just documented (r20, ADVICE): [[dependencies]]
  * asserts it on the same 1-row aggregate that reads the max depth,
  * so an out-of-contract graph fails loudly instead of silently
  * undercounting through a NULLed overflow.
  *
  * Scale shape: per round/level ONE equi-join of the checkpointed edge
  * list against the (seed, node)-grain state + a map-side-combining
  * hash agg — shuffle ∝ pivots·edges, the multi-source Pregel cost;
  * state localCheckpoints per round (the LabelProp discipline, O(1)
  * cached footprint); the per-round driver action is the frontier
  * count (a scalar — the KMeans bounded-control-flow precedent). Cost
  * is 2·diameter driver actions — the double-sweep floor; on the
  * graded graphs reach ≤ 4 hops so ~8 actions total.
  */
object Betweenness {

  /** Forward sweep: (seed, node, d, sigma) for every node within
    * `rounds` hops of its seed. σ(seed) = 1 at d = 0.
    *
    * Execution (r21): the edge list persists COLUMNAR (the r17-r20
    * localCheckpoint stored uncompressed rows — 6.3x the columnar
    * cache size, re-scanned by every round's join), and the settled
    * table is the lazy UNION of per-round checkpointed frontier
    * pieces instead of a whole-table re-checkpoint per round (the old
    * form rewrote all O(pivots·nodes) settled rows every round — at
    * 16 pivots∕sf0.1 a measured 1.6 s job per round for rows that
    * cannot change). The frontier is the previous round's piece
    * directly (level-homogeneous by construction); each piece's d is
    * a literal, so downstream level filters constant-fold to branch
    * pruning over the union. One checkpoint job + one cached-scan
    * count (the early-exit probe) per round. */
  private[graft] def forward(edges: DataFrame, seeds: DataFrame,
                             rounds: Int): DataFrame = {
    // keyed cache (r22): every round joins on src — partition + sort
    // ONCE so the per-round sort-merge join re-shuffles only the state
    // side (ProfJobs r22: the unkeyed cache re-exchanged 11 MB of edges
    // per round at sf0.1)
    // every round's join reads it
    val e = Scope.eager(
      edges.select(col("src"), col("dst")), "src")
    forwardKeyed(e, seeds, rounds)._1
  }

  /** [[forward]] over an ALREADY keyed-cached-and-materialized edge
    * frame (r22): [[pivotBetweenness]] and the sweep/readout callers
    * share ONE keyed cache between the seed ranking, this sweep, and
    * [[dependenciesKeyed]] — the r22 interim shape built the same
    * keyed cache twice (once per sweep) on top of the caller's eager
    * cache. Returns the settled table and its per-round cuts, which the
    * caller releases once nothing lazy reads the table. */
  private[graft] def forwardKeyed(e: DataFrame, seeds: DataFrame,
                                  rounds: Int): (DataFrame, List[DataFrame]) = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val dec = "decimal(38,0)"
    var (settled, frontierCount) = Scope.cut(
      seeds.select(col("seed"), col("node"),
        lit(0).cast("long").as("d"), lit(1).cast(dec).as("sigma")))
    var frontier = settled
    var cuts = List(settled)
    var r = 0
    while (frontierCount > 0 && r < rounds) {
      r += 1
      val (nxt, c) = Scope.cut(e
        .join(frontier
          .select(col("seed"), col("node").as("src"), col("sigma")),
          Seq("src"))
        .groupBy(col("seed"), col("dst").as("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(settled.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(r).cast("long").as("d"),
          col("sigma").cast(dec).as("sigma")))
      frontierCount = c
      settled = settled.unionByName(nxt)
      frontier = nxt
      cuts ::= nxt
    }
    (settled, cuts)
  }

  /** Backward sweep over a [[forward]] table: per (seed, node) the
    * FLOOR-micros dependency dq; rows with zero dependency absent.
    *
    * Contract guard (r20, ADVICE): under Spark's default non-ANSI mode
    * the decimal(38,0) product σ·(10⁶ + dq) silently overflows to NULL
    * and `sum` then DROPS the term — a graph whose path counts exceed
    * the documented bound would undercount dependencies instead of
    * failing. So the sweep asserts the bound up front: max σ ≤ 10¹⁵
    * and settled reach ≤ 10¹⁰ (⟹ dq ≤ reach·10⁶ ≤ 10¹⁶ and the
    * product ≤ ~10³¹ ≪ 10³⁸). Both ride the SAME 1-row aggregate that
    * already reads the max depth — zero extra driver actions; an
    * out-of-contract graph now fails loudly (pinned in-unit). */
  private[graft] def dependencies(edges: DataFrame,
                                  settled: DataFrame): DataFrame = {
    // keyed cache (r22): every level joins node === src — see forward
    // every level's join reads it (columnar — r21)
    val e = Scope.eager(
      edges.select(col("src"), col("dst")), "src")
    dependenciesKeyed(e, settled)._1
  }

  /** [[dependencies]] over an ALREADY keyed-cached edge frame — see
    * [[forwardKeyed]]; returns the per-level cuts with the table. */
  private[graft] def dependenciesKeyed(e: DataFrame, settled: DataFrame)
      : (DataFrame, List[DataFrame]) = Scope {
    val spark = e.sparkSession
    val hdr = settled.agg(max(col("d")), max(col("sigma")),
      count(lit(1))).collect()(0)
    val maxD = if (hdr.isNullAt(0)) -1L else hdr.getLong(0)
    if (!hdr.isNullAt(1)) {
      val maxSigma = hdr.getDecimal(1)
      val reach = hdr.getLong(2)
      if (maxSigma.compareTo(new java.math.BigDecimal(10L).pow(15)) > 0
          || reach > 10000000000L)
        throw new IllegalStateException(
          s"betweenness contract violated: max sigma = $maxSigma " +
            s"(bound 1e15), settled rows = $reach (bound 1e10) — the " +
            "decimal(38,0) dependency product would overflow to NULL " +
            "and silently undercount; this graph is out of the " +
            "documented floor-micros contract")
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("seed", "long").add("node", "long")
        .add("dq", org.apache.spark.sql.types.DecimalType(38, 0)))
    var out = empty
    var cuts = List.empty[DataFrame]
    var below = empty // dq of level lev+1
    var lev = maxD - 1
    while (lev >= 0) {
      // w through the stats-carrying cut (r22, measured with ProfJobs):
      // built lazily, w's filter+left-join lineage gave the planner no
      // usable size estimate, so the (seed, dst) join below went
      // sort-merge — EXCHANGING AND SORTING the probe side, the
      // ∝ pivots·edges settled⋈e product (112 MB and 316 CPU-seconds at
      // the deepest sf0.1 level, the query's single dominant job) to
      // meet a ~5 MB build side. With exact rowCount attached the
      // planner broadcasts w when it truly is small and keeps SMJ when
      // it is not — the scale-correct decision both ways (the
      // Scope.cut contract). Cost: one extra bounded action
      // per level; the cut is freed as soon as the level's dq
      // materializes.
      val (wc, wn) = Scope.cut(
        settled.filter(col("d") === lev + 1)
          .join(below, Seq("seed", "node"), "left")
          .select(col("seed"), col("node").as("dst"),
            col("sigma").as("sw"),
            coalesce(col("dq"), lit(0).cast("decimal(38,0)")).as("dqw")))
      // exact-size broadcast gate (Graft.bcastIfSmall): at sf0.1 w sits
      // just past the planner's 10 MB default, so without the hint the
      // probe still exchanged+sorted; past the env bound the SMJ stays
      val w = graft.Graft.bcastIfSmall(wc, wn)
      val dl = Scope.cut(
        settled.filter(col("d") === lev)
          .select(col("seed"), col("node"), col("sigma"))
          .join(e, col("node") === col("src"))
          .join(w, Seq("seed", "dst"))
          .groupBy(col("seed"), col("node"))
          .agg(sum(expr(
            "(sigma * (1000000 + dqw)) div sw")).as("dq"))
          .select(col("seed"), col("node"),
            col("dq").cast("decimal(38,0)").as("dq")))._1
      Scope.release(wc)
      out = out.unionByName(dl)
      cuts ::= dl
      below = dl
      lev -= 1
    }
    (out, cuts)
  }

  /** The full estimator: top-`k` nodes by summed pivot dependency,
    * seeds excluded from their own accumulation (Brandes' v ≠ s).
    * Returns (node, bc_micro, bc_est) ordered (bc_micro desc, node
    * asc) — bc_micro the exact integer pivot-sum, bc_est the (n∕k)-
    * extrapolated double (ONE IEEE expression of exact integers:
    * bc_micro·n_nodes ∕ (k·10⁶), the documented estimator). */
  def pivotBetweenness(edges: DataFrame, seeds: DataFrame, rounds: Int,
                       k: Int): DataFrame = {
    // ONE keyed cache shared by the forward sweep, the dependency
    // sweep, and the node count (r22 — both sweeps previously built
    // their own copy of the same keyed edge cache)
    val e = Scope.eager(
      edges.select(col("src"), col("dst")), "src")
    pivotBetweennessKeyed(e, seeds, rounds, k)
  }

  /** [[pivotBetweenness]] over an ALREADY keyed-cached edge frame —
    * the graded registration shares its one keyed cache between the
    * top-degree seed ranking and this estimator. */
  private[graft] def pivotBetweennessKeyed(e: DataFrame, seeds: DataFrame,
                                           rounds: Int,
                                           k: Int): DataFrame = Scope {
    val (fw, fwCuts) = forwardKeyed(e, seeds, rounds)
    val nn = e.select(col("src").as("node")).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val npiv = seeds.select(col("seed")).distinct()
      .agg(count(lit(1)).as("n_pivots"))
    val dep = dependenciesKeyed(e, fw)._1
    // dependencies ran its whole level loop eagerly (each level a cut),
    // so the forward table's per-round pieces are dead the moment it
    // returns — free them; dep's own pieces stay (the returned frame
    // reads them lazily).
    fwCuts.foreach(Scope.release)
    dep
      .filter(col("node") =!= col("seed"))
      .groupBy(col("node"))
      .agg(sum(col("dq")).cast("decimal(38,0)").as("bc_q"))
      .crossJoin(broadcast(nn)).crossJoin(broadcast(npiv))
      .select(col("node"),
        expr("cast(bc_q as bigint)").as("bc_micro"),
        (col("bc_q").cast("double") * col("n_nodes").cast("double")
          / (col("n_pivots").cast("double") * lit(1000000.0)))
          .as("bc_est"))
      .orderBy(col("bc_micro").desc, col("node").asc)
      .limit(k)
  }
}
