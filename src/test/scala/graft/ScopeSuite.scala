package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.functions.col

/** [[Scope]] ownership and hygiene: an engine frees only what its own
  * scope made, and an owning scope returns the session to zero
  * persisted RDDs — SQL caches and checkpoint blocks alike — with no
  * `clearCache()` or `sweepRddBlocks` in between. */
class ScopeSuite extends SparkSuite {

  private def persisted = spark.sparkContext.getPersistentRDDs.toMap

  private def describe(rdds: Map[Int, org.apache.spark.rdd.RDD[_]]) =
    rdds.map { case (id, r) => s"#$id ${r.getClass.getSimpleName}" }
      .mkString(", ")

  /** A symmetrized two-triangle graph joined by a bridge (1-2-3, 4-5-6,
    * 3-4): both engines loop over it for several rounds. */
  private def graph = {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  test("a nested scope cannot release its enclosing scope's cut") {
    spark.catalog.clearCache()
    Graft.sweepRddBlocks(spark) // clean slate regardless of suite order
    Graft.cacheScoped(spark) {
      val (c, n) = Scope.cut(graph)
      Scope(Scope.release(c)) // not this scope's to free: a no-op
      assert(c.count() === n)
      Scope.release(c) // the scope that made it may
    }
    assert(persisted.isEmpty, describe(persisted))
  }

  test("engines' per-round releases never free the caller's cut; closing the caller's scope frees everything (the projmod shape)") {
    spark.catalog.clearCache()
    Graft.sweepRddBlocks(spark) // clean slate regardless of suite order
    Graft.cacheScoped(spark) {
      val (c, n) = Scope.cut(graph)
      // a frame DERIVED from the caller's cut: the engines' seed frames
      // embed it, so a plan-walking release would reach the cut
      val derived = c.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      // 7 rounds = 3 fused cuts, so LabelProp releases twice; KCore's
      // peel releases every round's predecessor
      val labels = graft.operators.LabelProp.run(derived, 7).collect()
      assert(labels.length === 6)
      val core = graft.operators.KCore.peel(derived, 2, 4).collect()
      assert(core.length === 6)
      assert(c.count() === n, "the caller's cut was freed by an engine")
      assert(derived.count() === n)
    }
    assert(persisted.isEmpty,
      s"the closed scope left ${persisted.size} persisted RDD(s): " +
        describe(persisted))
  }

  /** Count WARN events from `logger` whose message contains `needle`
    * while `body` runs (an appender on the logger's own config). */
  private def countWarnings(logger: String, needle: String)
                           (body: => Unit): Int = {
    spark // force LocalSession.build, which sets the WARN log level
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val hits = new AtomicInteger
    val app = new AbstractAppender("scope-suite-" + needle.hashCode, null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains(needle))
          hits.incrementAndGet()
    }
    app.start()
    val lc = cfg.getLoggerConfig(logger) match {
      case exact if exact.getName == logger => exact
      case parent =>
        val fresh = new LoggerConfig(logger, parent.getLevel, true)
        cfg.addLogger(logger, fresh)
        fresh
    }
    assert(lc.getLevel.isLessSpecificThan(Level.WARN),
      s"$logger is set to ${lc.getLevel}: its WARNs cannot be observed")
    lc.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      lc.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    hits.get
  }

  test("every graded query, run scoped, leaves zero persisted RDDs and never re-caches a cached plan") {
    val CacheLogger = "org.apache.spark.sql.execution.CacheManager"
    val Repeat = "Asked to cache already cached data"
    // the capture sees Spark's own warning: a deliberate double persist
    val probe = countWarnings(CacheLogger, Repeat) {
      val d = spark.range(3).toDF("x")
      d.persist(); d.persist()
      d.unpersist(blocking = true)
    }
    assert(probe >= 1, "the log capture did not see CacheManager's WARN")
    spark.catalog.clearCache()
    Graft.sweepRddBlocks(spark) // clean slate regardless of suite order
    val t0 = System.nanoTime()
    val names = SparkEntry.queries.keys.toSeq.sorted
    val repeats = countWarnings(CacheLogger, Repeat) {
      names.foreach { name =>
        Graft.runScoped(name, spark, sf)(_.count())
        val left = persisted
        assert(left.isEmpty,
          s"$name left ${left.size} persisted RDD(s): ${describe(left)}")
      }
    }
    assert(repeats === 0,
      s"$repeats '$Repeat' warning(s) over the scoped query run")
    info(f"${names.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
