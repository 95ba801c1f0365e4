package graft

import org.apache.spark.sql.DataFrame

/** The iterative engines' ONE round loop, in two forms:
  *
  *  - [[replace]] / [[replaceUntil]]: `state(r+1) = cut(step^k(state(r)))`
  *    — each cut supersedes the last; [[replace]] fuses k = [[Fuse]]
  *    rounds per cut (LabelProp, Bfs.costFrom, BetweennessW),
  *    [[replaceUntil]] cuts every round and can stop early (KCore,
  *    CoreNumber, CC);
  *  - [[accumulate]]: each round cuts a new PIECE from the previous
  *    piece and the lazy union so far, and the result is that union
  *    (Bfs's frontier sweep, both Brandes sweeps).
  *
  * Why every round is cut: persist() alone is NOT enough for an
  * iterative dataflow — the LOGICAL plan still nests one round per
  * iteration, and a state read more than once per round (KCore's degree
  * aggregate plus two semi-joins) multiplies it, so Catalyst/AQE plan
  * handling grows exponentially with rounds (a 9-node path graph OOMed
  * the Spark driver on plan STRINGS in ConnectedComponents before this
  * truncation; pinned by its path-graph unit test). [[Scope.cut]]
  * materializes the state, truncates its lineage and returns its exact
  * row count — the early-exit probe, with no second action.
  *
  * Release after supersede: a replaced state is freed only once its
  * successor's cut has materialized (the cut's count has read it; a cut
  * cannot recompute its rows, so freeing earlier fails the successor).
  * The loop runs in a nested [[Scope]], so "freed" means freed if the
  * loop made it: a round-0 state built by the `init` expression (which
  * is evaluated inside that scope) goes as soon as it is superseded,
  * while a frame made outside the loop — a caller's cut, or a frame
  * every step still reads such as BetweennessW's seed `base` — is never
  * touched, unless the `init` expression hands it over with
  * [[Scope.adopt]] (CoreNumber's level input). The last state (and an
  * accumulation's pieces) pass to the enclosing scope with the lazy
  * result that reads them.
  *
  * Fusing ([[replace]]): a step that reads its input state exactly ONCE
  * (one join, every intermediate a single-consumer exchange) can be
  * chained [[Fuse]] rounds into one plan before the cut, trading Spark
  * actions for plan depth with no duplicated work. A step that reads
  * the state twice or more must not fuse: the inner round's subtree
  * would appear on several sides of the outer plan and be re-evaluated
  * (the measured reason ConnectedComponents' fused two-hop round was
  * rejected), and a stop test needs every round's own cut anyway — so
  * such a step goes through [[replaceUntil]].
  */
object Fixpoint {

  /** Rounds chained per cut by [[replace]]: 3 keeps the fused plan
    * small while cutting the per-round action floor to a third. */
  val Fuse = 3

  /** Where a [[replaceUntil]] loop ended: the last state, its exact row
    * count, and whether the stop test ended it (false: it ran out of
    * rounds). */
  final case class Last(state: DataFrame, rows: Long, stopped: Boolean)

  /** The stop-test measure of a state that shrinks monotonically, so
    * that an equal row count means an identical state: its row count. */
  val Rows: (DataFrame, Long) => Long = (_, n) => n

  /** `rounds` replace rounds from the round-0 state `init`, chained
    * [[Fuse]] rounds per cut: ⌈rounds∕Fuse⌉ cuts. Only for a step that
    * reads its state once; any other step goes through [[replaceUntil]],
    * which cuts every round. */
  def replace(init: => DataFrame, rounds: Int)
             (step: DataFrame => DataFrame): DataFrame =
    cutLoop[Unit]((init, -1L), rounds, Fuse, None)(step).state

  /** At most `rounds` replace rounds, one cut each, from the round-0
    * cut `init` (a frame and its exact row count); stops once two
    * consecutive states have equal `measure` (read on each new cut, and
    * once on `init`). */
  def replaceUntil[M](init: => (DataFrame, Long), rounds: Int,
                      measure: (DataFrame, Long) => M)
                     (step: DataFrame => DataFrame): Last =
    cutLoop(init, rounds, 1, Some(measure))(step)

  /** At most `rounds` accumulation rounds from the round-0 piece `init`
    * (a cut and its row count): round r's `step(previous piece, union
    * so far, r)` returns the next piece, cut. With `untilEmpty` the loop
    * stops at a piece of zero rows (and never starts from an empty
    * `init`). Returns the lazy union of all pieces and the pieces,
    * newest first — the caller frees them once nothing reads the union.
    */
  def accumulate(init: => (DataFrame, Long), rounds: Int,
                 untilEmpty: Boolean)
                (step: (DataFrame, DataFrame, Int) => (DataFrame, Long))
      : (DataFrame, List[DataFrame]) = {
    final case class Acc(piece: DataFrame, rows: Long, union: DataFrame,
                         pieces: List[DataFrame])
    val out = loop[Acc]({ val (p, n) = init; Acc(p, n, p, List(p)) },
        rounds, 1, a => untilEmpty && a.rows == 0) { (a, r, _) =>
      val (p, n) = step(a.piece, a.union, r)
      Acc(p, n, a.union.unionByName(p), p :: a.pieces)
    }
    (out.union, out.pieces)
  }

  private def cutLoop[M](init: => (DataFrame, Long), rounds: Int, per: Int,
                         measure: Option[(DataFrame, Long) => M])
                        (step: DataFrame => DataFrame): Last = {
    val out = loop[(Last, Option[M])]({
        val (s, n) = init
        (Last(s, n, stopped = false), measure.map(_(s, n)))
      }, rounds, per, _._1.stopped) { case ((last, m), _, k) =>
      val (next, n) = Scope.cut(
        (1 to k).foldLeft(last.state)((s, _) => step(s)))
      val m2 = measure.map(_(next, n))
      Scope.release(last.state) // superseded: `next` has materialized
      (Last(next, n, stopped = m2.isDefined && m2 == m), m2)
    }
    out._1
  }

  /** The one round loop: from `init` (evaluated inside the loop's own
    * nested scope), run `round(state, first round, k)` covering rounds
    * `first until first + k`, k ≤ `per`, until `rounds` rounds ran or
    * `done` holds. */
  private def loop[S](init: => S, rounds: Int, per: Int, done: S => Boolean)
                     (round: (S, Int, Int) => S): S = Scope {
    var s = init
    var r = 0
    while (!done(s) && r < rounds) {
      val k = math.min(per, rounds - r)
      s = round(s, r + 1, k)
      r += k
    }
    s
  }
}
