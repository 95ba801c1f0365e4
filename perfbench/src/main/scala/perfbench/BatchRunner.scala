package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One execution's record. Times are epoch ms from [[Clock]]. */
final case class Exec(item: String, pass: Int, mode: String, start: Double, end: Double,
                      ok: Boolean, error: String, peakRdds: Int, peakBytes: Long,
                      residualRdds: Int, sweepMs: Double) {
  def toMap: Map[String, Any] = Map("item" -> item, "pass" -> pass, "mode" -> mode,
    "start" -> start, "end" -> end, "ok" -> ok, "error" -> error, "peak_rdds" -> peakRdds,
    "peak_bytes" -> peakBytes, "residual_rdds" -> residualRdds, "sweep_ms" -> sweepMs)
}

/** Closed-loop execution of batch items: one client, the next item starts
  * only after the previous one has returned.
  *
  * One execution is `Graft.cacheScoped(spark) { build; sink }`, so the
  * scoped cache release is part of it. The runner-side `clearCache` and
  * `Graft.sweepRddBlocks` run after the timed window, as in `graft.Bench`. */
final class BatchRunner(spark: SparkSession, dir: String, items: Seq[Item]) {
  private val sc = spark.sparkContext

  val execs = mutable.ArrayBuffer.empty[Exec]

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs one item through `sink`. With a tracer, the build, the sink and
    * the release are spans, and the cache footprint is read before and
    * after the release. */
  def execute(item: Item, pass: Int, mode: String, tracer: Option[Tracer],
              sink: DataFrame => Unit = noop): Exec = {
    def span[A](name: String)(body: => A): A = tracer match {
      case Some(t) => t.span(name, item.name)(body)
      case None => body
    }
    var bodyEnd = Double.NaN
    var peakRdds, residualRdds = 0
    var peakBytes = 0L
    var error = ""
    val start = Clock.nowMs
    val ok = try {
      span("item") {
        graft.Graft.cacheScoped(spark) {
          val df = span("queries.build")(item.build(spark, dir))
          span("exec")(sink(df))
          if (tracer.isDefined) {
            peakRdds = sc.getPersistentRDDs.size
            peakBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          }
          bodyEnd = Clock.nowMs
        }
        tracer.foreach(_.record("cache.release", item.name, bodyEnd, Clock.nowMs))
      }
      true
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] ${item.name} failed: $error")
        false
    }
    val end = Clock.nowMs
    if (tracer.isDefined) residualRdds = sc.getPersistentRDDs.size
    val sweep0 = Clock.nowMs
    span("cache.sweep") {
      spark.catalog.clearCache()
      graft.Graft.sweepRddBlocks(spark)
    }
    val e = Exec(item.name, pass, mode, start, end, ok, error, peakRdds, peakBytes,
      residualRdds, Clock.nowMs - sweep0)
    execs += e
    e
  }

  /** The item order of pass `pass`: a shuffle drawn from the workload seed. */
  def order(seed: Long, pass: Int): Seq[Item] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  /** `passes` passes over the items, each in the order [[order]] draws. */
  def timedPasses(seed: Long, passes: Int, mode: String, tracer: Option[Tracer] = None,
                  sink: DataFrame => Unit = noop): Unit =
    (0 until passes).foreach(p => order(seed, p).foreach(it => execute(it, p, mode, tracer, sink)))
}
