package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, min}

/** [[Fixpoint]]'s loop contract: a replace loop cuts once per
  * [[Fixpoint.Fuse]] rounds and a replaceUntil loop once per round; a
  * frame made outside the loop is never freed by it; a round-0 cut the
  * loop made is freed once superseded; and the ported engines'
  * footprint does not grow with their rounds. */
class FixpointSuite extends SparkSuite {

  private def persisted = spark.sparkContext.getPersistentRDDs.toMap

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so a labelled sentinel job run after
    * `body` marks the point where every job of `body` has been seen. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val sentinel = "fixpoint-suite-sentinel"
    val jobs = new AtomicInteger
    @volatile var seen = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (sentinel == e.properties.getProperty("spark.job.description"))
          seen = true
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, "the listener never saw the sentinel job")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  private def xs(n: Int): DataFrame = spark.range(n).toDF("x")

  /** A shuffle-free step, so each cut is a fixed number of jobs. */
  private def inc(s: DataFrame): DataFrame = s.select((col("x") + 1).as("x"))

  /** [[inc]] that also drops the values past 9, so from 0..9 every round
    * loses one row and a row-count stop test never holds. */
  private def shrink(s: DataFrame): DataFrame = inc(s).filter(col("x") < 10)

  /** An undirected path 0-1-…-(n−1), both orientations. */
  private def path(n: Int): DataFrame = {
    import spark.implicits._
    val und = (0L until n - 1L).map(i => (i, i + 1))
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  test("replace runs ceil(r / Fuse) cuts for r rounds; replaceUntil r cuts") {
    Graft.cacheScoped(spark) {
      val perCut = jobsOf(Scope.cut(shrink(xs(10))))
      assert(perCut >= 1)
      for (r <- 1 to 7) {
        var out: DataFrame = null
        val fused = jobsOf { out = Fixpoint.replace(xs(10), r)(shrink) }
        val cuts = (r + Fixpoint.Fuse - 1) / Fixpoint.Fuse
        assert(fused === cuts * perCut, s"replace, $r rounds")
        assert(out.agg(min(col("x"))).head.getLong(0) === r)
        val c = Scope.cut(xs(10))
        var last: Fixpoint.Last = null
        assert(jobsOf {
          last = Fixpoint.replaceUntil(c, r, Fixpoint.Rows)(shrink)
        } === r * perCut, s"replaceUntil, $r rounds")
        assert(!last.stopped && last.rows === 10 - r)
      }
    }
  }

  test("frames made outside the loop stay readable after a deep loop: a base every step reads, and a caller's cut") {
    val before = persisted.keySet
    Graft.cacheScoped(spark) {
      // the BetweennessW shape: round 0 IS base, and every step unions it
      val (base, nb) = Scope.cut(xs(5))
      def step(s: DataFrame) = base.unionByName(inc(s)).distinct()
      assert(Fixpoint.replace(base, 9)(step).count() === nb + 9)
      assert(base.count() === nb)
      val last = Fixpoint.replaceUntil((base, nb), 9, Fixpoint.Rows)(step)
      assert(!last.stopped && last.rows === nb + 9)
      assert(base.count() === nb)
      // a caller's cut handed in as round 0
      val (c, nc) = Scope.cut(xs(10))
      val out = Fixpoint.replace(c, 9)(inc)
      assert(Fixpoint.replaceUntil((c, nc), 9, Fixpoint.Rows)(shrink).rows
        === 1)
      assert(c.count() === nc)
      assert(out.agg(min(col("x"))).head.getLong(0) === 9)
    }
    assert((persisted.keySet -- before).isEmpty)
  }

  test("a round-0 cut made by the loop is freed once superseded") {
    Graft.cacheScoped(spark) {
      val before = persisted.keySet
      val out = Fixpoint.replace(Scope.cut(xs(4))._1, 5)(inc)
      assert(out.count() === 4)
      // only the last state's cut is left
      assert((persisted.keySet -- before).size === 1)
      val last = Fixpoint.replaceUntil(Scope.cut(xs(10)), 5, Fixpoint.Rows)(
        shrink)
      assert(!last.stopped && last.rows === 5)
      assert((persisted.keySet -- before).size === 2)
    }
  }

  test("a caller's cut handed over with Scope.adopt is freed once superseded; one from further out is not") {
    Graft.cacheScoped(spark) {
      val (far, nf) = Scope.cut(xs(10))
      Scope {
        val before = persisted.keySet
        val (c, nc) = Scope.cut(xs(10))
        Fixpoint.replaceUntil((Scope.adopt(c), nc), 3, Fixpoint.Rows)(shrink)
        // c went with round 1: only the last state's cut is left
        assert((persisted.keySet -- before).size === 1)
        // `far` was made two scopes out: adopt leaves it where it is
        Fixpoint.replaceUntil((Scope.adopt(far), nf), 3, Fixpoint.Rows)(
          shrink)
        assert(far.count() === nf)
        assert((persisted.keySet -- before).size === 2)
      }
    }
  }

  test("ported engines at r and 3r rounds leave the same number of persisted RDDs in a scope") {
    import spark.implicits._
    val before = persisted.keySet
    /** Persisted RDDs that `run` leaves inside a nested scope (its
      * result materialized by one collect). */
    def footprint(run: => DataFrame): Int = Graft.cacheScoped(spark) {
      Scope {
        val held = persisted.keySet
        run.collect()
        (persisted.keySet -- held).size
      }
    }
    val seeds = Seq((0L, 0L)).toDF("seed", "node")
    // a long path: k = 2 peels its two ends EVERY round (no early exit),
    // CC needs one round per hop, and the path is deep enough for 3r
    // rounds of costFrom and the σ/dq steps
    def costed(n: Int) = path(n).withColumn("cost", lit(1L))
    val engines = Seq[(String, Int => DataFrame)](
      "KCore.peel" -> (r => operators.KCore.peel(path(41), 2, r)),
      "ConnectedComponents.run" -> (r =>
        operators.ConnectedComponents.run(path(r + 1))),
      "LabelProp.run" -> (r => operators.LabelProp.run(path(41), r)),
      "Bfs.costFrom" -> (r => operators.Bfs.costFrom(costed(41), seeds, r)),
      "BetweennessW.pivotBetweennessW" -> (r =>
        operators.BetweennessW.pivotBetweennessW(costed(41), seeds, r, 5)))
    val r = 3
    val grown = engines.map { case (name, run) =>
      (name, footprint(run(r)), footprint(run(3 * r)))
    }.filter { case (_, small, deep) => small != deep }
    assert(grown.isEmpty, grown.map { case (name, small, deep) =>
      s"$name: $small persisted RDDs at $r rounds, $deep at ${3 * r}"
    }.mkString("; "))
    assert((persisted.keySet -- before).isEmpty)
  }
}
