package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.BusBridge
import org.json4s._
import org.json4s.jackson.JsonMethods.compact
import scala.collection.mutable

/** The one trace harness: what a query (or any measured body) did, layer
  * by layer, kept as data. [[run]] times a body's build plus its action,
  * as [[Bench]] times a query, and records every Spark job and stage the
  * body ran; `runMain graft.Trace <query>...` prints one JSON line per
  * (query, pass).
  *
  * It replaced the profiler mains Prof (warm query timings), ProfJobs
  * (the per-job/per-stage breakdown with driver gaps) and PlanDump
  * (formatted plans), and ScaleRehearsal's private shuffle listener.
  * The "ProfJobs measured …" and "Prof warm …" figures cited in engine
  * comments and OPTIMIZATION_r22.md were taken with those tools; a
  * pass-1 record carries the same job/stage breakdown, a timed record
  * the warm wall.
  *
  * Record fields: `label`, `wall_ms` (build + action; the scope's
  * release is outside it), and `jobs` in start order, each with `id`,
  * `ms`, `gap_ms` (since the previous job ended; 0 for the first),
  * `desc` (`spark.job.description`, absent when unset) and `stages`
  * (every completed stage, by id: `id`, `name`, `ms`, `tasks`, `run_ms`,
  * `gc_ms`, `shuffle_read_bytes`, `shuffle_write_bytes`, `input_bytes`,
  * `fetch_wait_ms`, `spill_bytes`). A job's `ms` and `gap_ms` come from
  * listener-event times; with jobs run one after another, `wall_ms` −
  * Σ`ms` is driver-side time (the gaps, the lead before the first job
  * and the tail after the last).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<scale-factor dir> [SPARK_GRAFT_CPUS=32] \
  *          sbt "runMain graft.Trace q_graph_kcore q_llm_cc"
  * runs [[WarmPasses]] then [[TimedPasses]] interleaved passes over the
  * named queries; each line adds `pass`, `timed` (true on the last
  * [[TimedPasses]] passes) and, on pass 1, `plan` (the query's
  * `explainString(FormattedMode)`).
  */
object Trace {

  /** Untimed passes before the timed ones. A query's run time keeps
    * falling for several runs in a fresh JVM (q_graph_corenum at sf0.1,
    * local[4]: runs 5-8 up to 30% faster than run 2), so one or two
    * warm runs do not reach the steady state. Pass 1 is the cold job
    * breakdown. */
  val WarmPasses = 4
  val TimedPasses = 2

  final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
                         runMs: Long, gcMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, inputBytes: Long,
                         fetchWaitMs: Long, spillBytes: Long)
  final case class Job(id: Int, ms: Long, gapMs: Long, desc: Option[String],
                       stages: Seq[Stage])
  final case class Record(label: String, wallMs: Long, jobs: Seq[Job]) {
    /** One JSON line: this record's fields, snake_cased, then `extra`. */
    def line(extra: JField*): String = compact(
      Extraction.decompose(this)(DefaultFormats).snakizeKeys merge
        JObject(extra: _*))
  }

  /** Collects the jobs started while it is attached, and the stages
    * those jobs complete. */
  private final class Recorder extends SparkListener {
    private final class Open(val id: Int, val desc: Option[String],
                             val t0: Long) {
      var t1 = -1L
      val stages = mutable.ArrayBuffer.empty[Stage]
    }
    private val started = mutable.ArrayBuffer.empty[Open]
    private val stageJob = mutable.Map.empty[Int, Open]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new Open(e.jobId, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))),
        e.time)
      started += j
      e.stageIds.foreach(stageJob(_) = j)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.find(_.id == e.jobId).foreach(_.t1 = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val tm = si.taskMetrics
        val ms = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        stageJob.get(si.stageId).foreach(_.stages += Stage(si.stageId,
          si.name, ms, si.numTasks, tm.executorRunTime, tm.jvmGCTime,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten, tm.inputMetrics.bytesRead,
          tm.shuffleReadMetrics.fetchWaitTime, tm.memoryBytesSpilled))
      }

    def jobs: Seq[Job] = synchronized {
      var prevEnd = -1L
      started.toSeq.map { j =>
        val gap = if (prevEnd < 0) 0L else j.t0 - prevEnd
        prevEnd = j.t1
        Job(j.id, j.t1 - j.t0, gap, j.desc, j.stages.sortBy(_.id).toSeq)
      }
    }
  }

  /** Run `body` inside [[Graft.cacheScoped]] on the active session and
    * return its value with the record of every job it started. The
    * clock covers the whole body, so jobs run while a query is built
    * (an engine's `Scope.eager`/`Scope.cut`) fall inside `wall_ms`.
    * The listener bus is drained before the recorder attaches (no
    * earlier job leaks in) and after the body (every job and stage of
    * the body is in the record when this returns). */
  def run[A](label: String)(body: => A): (A, Record) = {
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val recorder = new Recorder
    BusBridge.drain(sc)
    sc.addSparkListener(recorder)
    try {
      val (out, ns) = Graft.cacheScoped(spark) {
        val t0 = System.nanoTime()
        val out = body
        (out, System.nanoTime() - t0)
      }
      BusBridge.drain(sc)
      (out, Record(label, ns / 1000000, recorder.jobs))
    } finally sc.removeSparkListener(recorder)
  }

  /** The interleaved passes of the main: each query counted once per
    * pass, one line to `emit` per (query, pass). Pass 1's `plan` is
    * taken in a scope of its own after that pass's run, outside every
    * record's clock. */
  def passes(spark: SparkSession, sfDir: String, names: Seq[String])
            (emit: String => Unit): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    for (pass <- 1 to WarmPasses + TimedPasses; name <- names) {
      val (_, rec) = run(name)(SparkEntry.queries(name)(spark, sfDir).count())
      val plan = if (pass > 1) Nil else List[JField]("plan" -> JString(
        Graft.runScoped(name, spark, sfDir)(
          _.queryExecution.explainString(FormattedMode))))
      emit(rec.line(List[JField]("pass" -> JInt(pass),
        "timed" -> JBool(pass > WarmPasses)) ++ plan: _*))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.Trace <query>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a scale-factor directory"))
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try passes(spark, sfDir, args.toSeq)(println)
    finally spark.stop()
  }
}
