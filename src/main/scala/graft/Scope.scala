package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The engine's ONE way to materialize an intermediate, and the one
  * owner of what it materialized. Four verbs:
  *
  *  - [[cache]]: a lazy SQL cache, optionally hash-partitioned and
  *    sorted on join keys;
  *  - [[eager]]: [[cache]] plus one count;
  *  - [[cut]]: a stats-carrying lineage cut (a local checkpoint);
  *  - [[release]]: free what the CURRENT scope made.
  *
  * Every verb records what it made in the innermost open scope of the
  * calling thread. A scope is opened two ways:
  *
  *  - [[apply]] — a nested scope for an engine or a helper that frees
  *    its own intermediates as it goes. [[release]] inside it touches
  *    only what that scope recorded, so a frame the engine RECEIVED
  *    (the caller's cut, or anything derived from it) can never be
  *    freed by the engine: ownership is enforced by the record, not by
  *    a convention. On exit, whatever the scope still holds (the
  *    engine's lazy result reads it) passes to the enclosing scope.
  *  - [[owning]] — the runner's scope ([[Graft.cacheScoped]]): on exit
  *    it frees everything it recorded, SQL caches and checkpoint blocks
  *    alike, blocking.
  *
  * Outside any scope the verbs record nothing: a one-off embedder's
  * caches behave as plain `persist()`s (released by `clearCache()`),
  * and its cut blocks by the ContextCleaner once unreferenced.
  * Scopes are per thread: a streaming `foreachBatch` body runs outside
  * the runner's scope.
  */
object Scope {

  /** One thing a verb made, with how to free it (blocking or not). */
  private final class Made(val df: DataFrame, val free: Boolean => Unit)

  private final class Frame(val owning: Boolean) {
    val made = mutable.ArrayBuffer.empty[Made]
  }

  private val open = new ThreadLocal[List[Frame]] {
    override def initialValue(): List[Frame] = Nil
  }

  private def record(df: DataFrame)(free: Boolean => Unit): DataFrame = {
    open.get.headOption.foreach(_.made += new Made(df, free))
    df
  }

  /** Lazy SQL cache of `df`. With `keys`, the cached layout is
    * hash-partitioned AND sorted on them — the join-side discipline of
    * the iterative engines, which join the frame EVERY round on the
    * key: the one exchange and the one sort are reused by each round's
    * sort-merge join instead of re-shuffling the big side per round
    * (ProfJobs measured an 11 MB edge re-exchange per round in the
    * Brandes sweeps). The width is EXPLICIT — the session's shuffle
    * width, the deployment's own scale knob — so AQE cannot coalesce
    * the layout below the join parallelism the rounds need (the
    * per-round state is byte-tiny but CPU-heavy; bytes-based coalescing
    * picks 1-2 partitions and serializes the work).
    *
    * A plan that is already cached is returned as is and not recorded:
    * it belongs to whoever cached it, and a second `persist()` only
    * logs "Asked to cache already cached data". */
  def cache(df: DataFrame, keys: String*): DataFrame = {
    val laid =
      if (keys.isEmpty) df
      else {
        val width =
          df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        val ks = keys.map(col)
        df.repartition(width, ks: _*).sortWithinPartitions(ks: _*)
      }
    if (laid.storageLevel != StorageLevel.NONE) laid
    else record(laid.persist())(blocking => laid.unpersist(blocking))
  }

  /** [[cache]] + one count, for a multi-consumer intermediate.
    *
    * `persist()` alone is lazy: when the downstream plan fans the cached
    * frame into ≥ 2 INDEPENDENT subtrees (a normalizer aggregate
    * broadcast beside the main projection, union branches, a
    * self-join's two sides under separate exchanges), AQE submits those
    * stages concurrently and each one that reaches the not-yet-populated
    * InMemoryRelation recomputes the whole subtree — the cache race
    * (q_graph_hits 6.8→44.6 s, q_llm_clustco 2.1→17.7 s, identical
    * code). One bounded action here fills the cache BEFORE the fan-out,
    * so every consumer is a cache read; the count's scan is work the
    * first consumer would have paid anyway, so the eager form is
    * cost-neutral when the race is lost and strictly cheaper when it is
    * won. Builders calling this run one Spark job at build time. */
  def eager(df: DataFrame, keys: String*): DataFrame = {
    val c = cache(df, keys: _*)
    c.count()
    c
  }

  /** Materialize `df` and cut its lineage: returns a frame over the
    * checkpointed rows, carrying EXACT row-count statistics (so the
    * planner broadcasts it when it truly is small), and the row count
    * (the fixpoint loops' early-exit probe — no second action). The
    * iterative engines cut their per-round state with this: without it
    * each round's logical plan embeds every prior round's. */
  def cut(df: DataFrame): (DataFrame, Long) = {
    val (c, n, rdd) = org.apache.spark.sql.graftbridge.PlanBridge.cut(df)
    record(c)(blocking => rdd.unpersist(blocking))
    (c, n)
  }

  /** Free `x` (non-blocking) if the innermost open scope made it, as
    * the very frame a verb returned; otherwise a no-op — a frame made
    * by a caller, an enclosing scope, or outside any scope is never
    * touched. Call only once nothing lazy still reads `x` (a cut cannot
    * recompute its rows). */
  def release(x: DataFrame): Unit = open.get match {
    case top :: _ =>
      val i = top.made.indexWhere(_.df eq x)
      if (i >= 0) top.made.remove(i).free(false)
    case Nil => ()
  }

  /** Run `body` in a nested scope: [[release]] inside it frees only
    * what it made; what it still holds on exit passes to the enclosing
    * scope (or is left to `clearCache()`/the ContextCleaner when there
    * is none). */
  def apply[A](body: => A): A = within(new Frame(owning = false))(body)

  /** Run `body` in a scope that frees EVERYTHING it made on exit —
    * newest first, so a cache is dropped before the one it reads, and
    * BLOCKING: an asynchronous release returns before the block
    * manager's removals run, so their work and GC churn would land in
    * whatever runs next (two untouched sub-second queries drifted
    * +0.7-1.2 s in the driver bench until release paid in its own
    * slot). `body` must materialize what it needs before returning: a
    * lazy frame escaping the scope recomputes its formerly cached
    * inputs, and fails on a freed cut. */
  def owning[A](body: => A): A = within(new Frame(owning = true))(body)

  /** Unpersist EVERY persisted RDD of the session, blocking, whoever
    * made it — cut blocks the catalog's `clearCache()` never reaches
    * included. Not a scope operation: a harness-side clean slate. */
  private[graft] def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))

  private def within[A](f: Frame)(body: => A): A = {
    val outer = open.get
    open.set(f :: outer)
    try body
    finally {
      open.set(outer)
      if (f.owning) f.made.reverseIterator.foreach(_.free(true))
      else outer.headOption.foreach(_.made ++= f.made)
    }
  }
}
