package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as the listener events' `System.currentTimeMillis`. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records spans around the harness's own calls into each layer and
  * attaches Spark's public listener data to them.
  *
  * Each span sets a Spark job group named after its id, so the jobs it
  * causes (and their stages and tasks) carry the id. At span exit the
  * listener bus is drained, so every query execution reported since the
  * previous span exit belongs to this span. Everything is kept in memory
  * and written out once, by [[toJson]]. */
final class Tracer(spark: SparkSession, streamSessions: Seq[SparkSession] = Nil) {
  import Tracer.Span
  private val sc = spark.sparkContext

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  private final class Job(val id: Int, val group: String, val start: Long,
                          val stageIds: Seq[Int]) {
    var end: Long = -1L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageMetrics = mutable.LinkedHashMap.empty[Int, Map[String, Double]]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val pendingQe = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val qe = mutable.ArrayBuffer.empty[(Int, Map[String, Double])]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new Job(e.jobId, group, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stageMetrics(si.stageId) = Map(
        "tasks" -> si.numTasks.toDouble,
        "task_ms" -> m.executorRunTime.toDouble,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "scan_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "scan_rows" -> m.inputMetrics.recordsRead.toDouble)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, q: QueryExecution, durationNs: Long): Unit =
      record(q)
    override def onFailure(funcName: String, q: QueryExecution, error: Exception): Unit =
      record(q)
    private def record(q: QueryExecution): Unit = {
      val ph = q.tracker.phases
      def d(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      Tracer.this.synchronized {
        pendingQe += Map("analysis_ms" -> d("analysis"),
          "optimization_ms" -> d("optimization"), "planning_ms" -> d("planning"))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val dur = p.durationMs
        def d(k: String): Double = Option(dur.get(k)).map(_.doubleValue).getOrElse(0.0)
        val st = p.stateOperators.headOption
        Tracer.this.synchronized {
          progress += Map(
            "query" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows,
            "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
            "plan_ms" -> d("queryPlanning"),
            "commit_ms" -> (d("walCommit") + d("commitOffsets")),
            "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
            "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
            "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
            "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L))
        }
      }
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    (spark +: streamSessions).distinct.foreach(_.streams.addListener(streamListener))
  }

  def stop(): Unit = {
    PerfbenchBridge.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    (spark +: streamSessions).distinct.foreach(_.streams.removeListener(streamListener))
  }

  /** Runs `body` inside a span named `name` for `item`, nested under the
    * innermost open span. */
  def span[A](name: String, item: String)(body: => A): A = {
    val s = Span(spans.size, name, item, stack.headOption.map(_.id).getOrElse(-1), Clock.nowMs)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = Clock.nowMs
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      PerfbenchBridge.drain(sc)
      synchronized {
        pendingQe.foreach(q => qe += (s.id -> q))
        pendingQe.clear()
      }
    }
  }

  /** Adds a finished span that ran no jobs, under the innermost open span. */
  def record(name: String, item: String, start: Double, end: Double): Unit =
    spans += Span(spans.size, name, item, stack.headOption.map(_.id).getOrElse(-1), start, end)

  def toJson: String = synchronized {
    Json(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "item" -> s.item,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "group" -> j.group,
        "start" -> j.start, "end" -> j.end, "stages" -> j.stageIds)),
      "stages" -> stageMetrics.map { case (id, m) =>
        m ++ Map("id" -> id.toDouble,
          "task_durations" -> taskMs.getOrElse(id, mutable.ArrayBuffer.empty[Long]))
      },
      "qe" -> qe.map { case (sid, m) => m + ("span" -> sid) },
      "progress" -> progress))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, item: String, parent: Int,
                        start: Double, var end: Double = Double.NaN)
}
