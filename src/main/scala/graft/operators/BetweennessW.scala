package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Scope}

/** Pivot-sampled WEIGHTED betweenness (r20) — [[Betweenness]] with σ
  * counted over MINIMAL-COST paths instead of fewest-hop paths: the
  * brokerage question on the affinity-cost graph that
  * q_graph_wcloseness's distances opened ("which hub is NEAREST in
  * cost?" → "which hub BROKERS the cheap routes?"). Brandes 2001's
  * dependency accumulation is metric-agnostic — only the shortest-path
  * DAG changes — so the estimator composes the round's two existing
  * engines exactly as the r19 verdict prescribed: distances from
  * [[Bfs.costFrom]]'s bounded Bellman-Ford relaxation, the dependency
  * recursion from [[Betweenness]].
  *
  * Three bounded phases, all `rounds`-step synchronous iterations (the
  * [[Bfs]] cost class — rounds, not data, set the driver floor):
  *
  * DISTANCES: d(seed, node) = minimum cost over ≤`rounds`-edge paths
  * ([[Bfs.costFrom]]'s textbook bounded-hop contract; POSITIVE integer
  * costs are required — a zero-cost edge would put cycles in the DAG
  * below).
  *
  * DAG + σ: the shortest-path DAG keeps edge (v, w) iff
  * d_w = d_v + cost(v, w) (every DAG path from the seed is cost-minimal
  * by telescoping). σ is the `rounds`-step fixpoint
  * σ⁽ʳ⁾(w) = 1_{w=seed} + Σ_{DAG preds v} σ⁽ʳ⁻¹⁾(v) — after r steps it
  * counts exactly the ≤r-edge DAG paths from the seed, so the fixed
  * unroll IS the defined contract (the oracle mirrors it step for
  * step) and once `rounds` covers the DAG depth σ is the exact
  * minimal-cost path count. Unlike hop-BFS the DAG is NOT layered by
  * round (an equal-cost longer-hop route deepens it), which is why σ
  * iterates a fixpoint instead of settling frontier layers. σ is an
  * exact DECIMAL(38,0) integer.
  *
  * DEPENDENCIES: Brandes' δ(v) = Σ_{DAG succs w} (σ_v∕σ_w)·(1 + δ_w),
  * carried as [[Betweenness]]'s exact FLOOR-micros integer — every
  * contribution ONE integer floor division
  * dq⁽ʳ⁾(v) = Σ_w (σ_v·(10⁶ + dq⁽ʳ⁻¹⁾(w))) div σ_w — iterated as the
  * same `rounds`-step fixpoint (dq⁽⁰⁾ = 0 everywhere). A node whose
  * downstream DAG height is h carries its FINAL value from step h on
  * (induction over heights), so `rounds` ≥ the DAG depth reproduces
  * the level-by-level sweep of the hop engine exactly — the
  * uniform-cost ≡ hop-betweenness law pinned in-unit; below that the
  * truncated fixpoint is itself the defined, oracle-mirrored
  * semantics (the [[Bfs]] truncation discipline). A reached node with
  * σ = 0 (its min-cost route needs more DAG hops than `rounds`) is
  * absent from the σ table and its terms drop in BOTH engines — no
  * paths counted through it means no brokerage to apportion.
  *
  * Contract guard: the same σ ≤ 10¹⁵ ∕ reach ≤ 10¹⁰ bound as
  * [[Betweenness.dependencies]], asserted on one 1-row aggregate after
  * the σ fixpoint — an out-of-contract graph fails loudly instead of
  * silently undercounting through a NULLed decimal overflow.
  *
  * Scale shape: the DAG is ONE self-equi-join of the cost-distance
  * table against the checkpointed edge list (∝ pivots·edges, built
  * once); each σ∕dq step is ONE equi-join of the DAG against the
  * (seed, node)-grain state + a map-side-combining hash agg — shuffle
  * ∝ pivots·DAG-edges per step, the multi-source Pregel cost; each
  * step reads its state once, so σ and dq steps fuse like costFrom's
  * and the state is cut every [[graft.Fixpoint.Fuse]] steps
  * ([[graft.Fixpoint]], O(1) cached footprint); no data-dependent
  * control flow (the costFrom discipline). */
object BetweennessW {

  /** The σ fixpoint over the minimal-cost DAG: (seed, node, sigma) for
    * every node with ≥ 1 counted ≤`rounds`-edge DAG path. Also returns
    * the checkpointed DAG for the backward sweep. */
  private[graft] def forwardW(edges: DataFrame, seeds: DataFrame,
                              rounds: Int): (DataFrame, DataFrame) = Scope {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val dec = "decimal(38,0)"
    // plain columnar persist (r21 form, RESTORED after an r22 A/B: the
    // σ/dq state side rides a stats-carrying cut and BROADCASTS into
    // every step, so a keyed repartition+sort of the wide DAG tables
    // was pure added cost — the driver bench measured betweenness_w
    // 5.2 → 6.8 s with the keyed caches and recovered without them)
    val e = Scope.eager(edges.select(col("src"), col("dst"), col("cost")))
    val d = Bfs.costFrom(e, seeds, rounds)
    // the minimal-cost DAG: edge kept iff it LIES ON a minimal route
    // columnar (r21; see `e` for why not keyed)
    val dag = Scope.eager(d.select(col("seed"), col("node").as("src"),
        col("d").as("dv"))
      .join(e, Seq("src"))
      .join(d.select(col("seed"), col("node").as("dst"),
        col("d").as("dw")), Seq("seed", "dst"))
      .filter(col("dw") === col("dv") + col("cost"))
      .select(col("seed"), col("src"), col("dst")))
    val base = Scope.cut(
      seeds.select(col("seed"), col("node"),
        lit(1).cast(dec).as("sigma")))._1
    // each σ step reads the previous state ONCE (the base union side is
    // the tiny checkpointed seed frame, made outside the loop, so the
    // loop never frees it)
    val sigma = Fixpoint.replace(base, rounds) { s =>
      base.unionByName(
          dag.join(s.select(col("seed"), col("node").as("src"),
              col("sigma")), Seq("seed", "src"))
            .select(col("seed"), col("dst").as("node"), col("sigma")))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("sigma")).cast(dec).as("sigma"))
    }
    // d (costFrom's final cut) was last read when `dag` materialized;
    // base only while the σ steps union it (at rounds = 0, σ IS base)
    Scope.release(d)
    if (rounds > 0) Scope.release(base)
    (sigma, dag)
  }

  /** The dq fixpoint: per (seed, node) the FLOOR-micros dependency
    * after `rounds` steps; rows with zero dependency absent. */
  private[graft] def dependenciesW(dag: DataFrame, sigma: DataFrame,
                                   rounds: Int): DataFrame = {
    val spark = dag.sparkSession
    // one guarded 1-row action (the Betweenness.dependencies bound)
    val hdr = sigma.agg(max(col("sigma")), count(lit(1))).collect()(0)
    if (!hdr.isNullAt(0)) {
      val maxSigma = hdr.getDecimal(0)
      val reach = hdr.getLong(1)
      if (maxSigma.compareTo(new java.math.BigDecimal(10L).pow(15)) > 0
          || reach > 10000000000L)
        throw new IllegalStateException(
          s"weighted betweenness contract violated: max sigma = " +
            s"$maxSigma (bound 1e15), sigma rows = $reach (bound 1e10)" +
            " — the decimal(38,0) dependency product would overflow " +
            "to NULL and silently undercount")
    }
    // σ attached to both DAG endpoints ONCE; the fixpoint then only
    // re-joins the dq state (∝ pivots·DAG-edges per step)
    // columnar (r21; see forwardW's `e` for why not keyed)
    val dagS = Scope.eager(dag
      .join(sigma.select(col("seed"), col("node").as("src"),
        col("sigma").as("sv")), Seq("seed", "src"))
      .join(sigma.select(col("seed"), col("node").as("dst"),
        col("sigma").as("sw")), Seq("seed", "dst"))
      .select(col("seed"), col("src"), col("dst"), col("sv"), col("sw")))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("seed", "long").add("node", "long")
        .add("dq", org.apache.spark.sql.types.DecimalType(38, 0)))
    // each dq step reads the previous state ONCE (the left join)
    Fixpoint.replace(empty, rounds) { s =>
      dagS
        .join(s.select(col("seed"), col("node").as("dst"),
          col("dq").as("dqw")), Seq("seed", "dst"), "left")
        .groupBy(col("seed"), col("src").as("node"))
        .agg(sum(expr(
          "(sv * (1000000 + coalesce(dqw, 0))) div sw")).as("dq"))
        .select(col("seed"), col("node"),
          col("dq").cast("decimal(38,0)").as("dq"))
    }
  }

  /** The full estimator — [[Betweenness.pivotBetweenness]]'s readout
    * over the weighted sweeps: top-`k` nodes by summed pivot
    * dependency, seeds excluded (Brandes' v ≠ s); (node, wbc_micro,
    * wbc_est) ordered (wbc_micro desc, node asc), wbc_est the (n∕k)
    * extrapolation as ONE IEEE expression of exact integers. */
  def pivotBetweennessW(edges: DataFrame, seeds: DataFrame, rounds: Int,
                        k: Int): DataFrame = Scope {
    val (sigma, dag) = forwardW(edges, seeds, rounds)
    val nn = edges.select(col("src").as("node")).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val npiv = seeds.select(col("seed")).distinct()
      .agg(count(lit(1)).as("n_pivots"))
    val dq = dependenciesW(dag, sigma, rounds)
    // r22: dependenciesW materialized σ into dagS eagerly (persist +
    // count), so the σ cut is dead the moment it returns — the dq
    // readout below reads only dagS and the final dq cut.
    Scope.release(sigma)
    dq
      .filter(col("node") =!= col("seed"))
      .groupBy(col("node"))
      .agg(sum(col("dq")).cast("decimal(38,0)").as("bc_q"))
      .crossJoin(broadcast(nn)).crossJoin(broadcast(npiv))
      .select(col("node"),
        expr("cast(bc_q as bigint)").as("wbc_micro"),
        (col("bc_q").cast("double") * col("n_nodes").cast("double")
          / (col("n_pivots").cast("double") * lit(1000000.0)))
          .as("wbc_est"))
      .orderBy(col("wbc_micro").desc, col("node").asc)
      .limit(k)
  }
}
