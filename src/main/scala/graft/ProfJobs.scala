package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Scratch job-level profiler (not graded): run queries once, print every
  * Spark job's wall time, stage count, task count and shuffle bytes, plus
  * the driver-side gaps between jobs. The decomposition the optimization
  * guide §1 asks for when the UI is disabled: is a query's cost the
  * per-round job floor, the data, or driver planning time?
  */
object ProfJobs {
  private case class St(stageId: Int, name: String, ms: Long, tasks: Int,
                        shufRead: Long, shufWrite: Long, input: Long,
                        run: Long, gc: Long, fetchW: Long, spillM: Long)
  private case class Jb(id: Int, desc: String, t0: Long, var t1: Long = 0L,
                        stages: mutable.ArrayBuffer[St] = mutable.ArrayBuffer())

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val jobs = mutable.ArrayBuffer[Jb]()
    val byId = mutable.Map[Int, Jb]()
    val stageToJob = mutable.Map[Int, Jb]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val j = Jb(e.jobId, String.valueOf(e.properties.getProperty("spark.job.description")), e.time)
        jobs += j; byId(e.jobId) = j
        e.stageIds.foreach(sid => stageToJob(sid) = j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        byId.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val si = e.stageInfo
        val ms = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        val tm = si.taskMetrics
        stageToJob.get(si.stageId).foreach(_.stages += St(si.stageId,
          si.name.take(60), ms, si.numTasks,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.inputMetrics.bytesRead,
          tm.executorRunTime, tm.jvmGCTime,
          tm.shuffleReadMetrics.fetchWaitTime,
          tm.memoryBytesSpilled))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // warmup floor
    SparkEntry.queries("q_scan")(spark, sfDir).count()
    Thread.sleep(500); jobs.synchronized { jobs.clear(); byId.clear(); stageToJob.clear() }
    args.foreach { n =>
      val wall = Graft.runScoped(n, spark, sfDir) { df =>
        val t0 = System.nanoTime()
        df.count()
        (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(800) // let listener events drain
      jobs.synchronized {
        println(f"%n=== $n wall=$wall%.3f s jobs=${jobs.size} ===")
        var prevEnd = -1L
        var jobSum = 0L; var gapSum = 0L
        jobs.foreach { j =>
          val gap = if (prevEnd < 0) 0 else j.t0 - prevEnd
          prevEnd = j.t1
          jobSum += (j.t1 - j.t0); gapSum += gap
          println(f"  job ${j.id}%3d ${j.t1 - j.t0}%6d ms gap=$gap%5d ms stages=${j.stages.size}%2d tasks=${j.stages.map(_.tasks).sum}%4d shR=${j.stages.map(_.shufRead).sum / 1024}%7d K shW=${j.stages.map(_.shufWrite).sum / 1024}%7d K in=${j.stages.map(_.input).sum / 1024}%8d K  ${j.desc.take(50)}")
          j.stages.sortBy(_.stageId).foreach { s =>
            if (s.ms > 200)
              println(f"      stage ${s.stageId}%4d ${s.ms}%6d ms tasks=${s.tasks}%4d run=${s.run}%6d gc=${s.gc}%5d fetchW=${s.fetchW}%5d spillM=${s.spillM / 1024}%7d K ${s.name}")
          }
        }
        println(f"  [sum] jobs=${jobSum} ms gaps=${gapSum} ms wall=${(wall * 1000).toLong} ms (driver-side = wall - jobs - gaps-before-first)")
        jobs.clear(); byId.clear(); stageToJob.clear()
      }
    }
    spark.stop()
  }
}
