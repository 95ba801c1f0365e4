package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** [[Trace]]: the record is complete when `run` returns, its wall covers
  * the query build, every line it prints is JSON, and the main's pass
  * rule marks only the last passes timed. */
class TraceSuite extends SparkSuite {

  test("run drains the bus: every job and stage of the body is in the record on return") {
    val sc = spark.sparkContext
    // a slow listener ahead of the recorder on the shared queue holds the
    // body's events back, so a record read without an exact drain is short
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(200)
    }
    sc.addSparkListener(slow)
    try {
      val (out, rec) = Trace.run("drain") {
        sc.parallelize(1 to 10, 2).count() +
          sc.parallelize(1 to 10, 2).map(x => (x % 3, x)).reduceByKey(_ + _, 3).count()
      }
      assert(out == 13)
      assert(rec.jobs.size == 2)
      assert(rec.jobs.forall(_.ms >= 0), "a job end is missing")
      assert(rec.jobs.map(_.stages.size) == Seq(1, 2))
      assert(rec.jobs.map(_.stages.map(_.tasks).sum) == Seq(2, 5))
      assert(rec.jobs(1).stages.map(_.shuffleWriteBytes).sum > 0)
    } finally sc.removeSparkListener(slow)
  }

  private lazy val lines: Seq[String] = {
    // suites share one session and Tables' schema memo: read lineitem
    // first, so kcore's pass 1 has no schema-inference job whichever
    // suite ran before this one
    Tables.lineitem(spark, sf)
    val out = Seq.newBuilder[String]
    Trace.passes(spark, sf, Seq("q_graph_kcore", "q_scan"))(out += _)
    out.result()
  }
  private lazy val records: Seq[JValue] = lines.map(parse(_))

  private implicit val formats: Formats = DefaultFormats
  private def field[A: Manifest](r: JValue, k: String): A = (r \ k).extract[A]

  test("q_graph_kcore pass 1: the 8 jobs, all inside a wall that covers the build") {
    val r = records.find(r => field[String](r, "label") == "q_graph_kcore" &&
      field[Int](r, "pass") == 1).get
    val jobs = (r \ "jobs").children
    assert(jobs.size == 8)
    val stages = jobs.flatMap(j => (j \ "stages").children)
    assert(stages.size == 8)
    assert(stages.map(field[Int](_, "tasks")).sum == 8)
    val jobMs = jobs.map(field[Long](_, "ms")).sum
    assert(field[Long](r, "wall_ms") >= jobMs,
      s"wall ${field[Long](r, "wall_ms")} ms < summed job ms $jobMs")
  }

  test("every line is JSON; pass-1 lines carry the plan, and a quoted multi-line plan round-trips") {
    assert(lines.nonEmpty)
    records.foreach(r => assert(field[String](r, "label").nonEmpty))
    records.foreach { r =>
      if (field[Int](r, "pass") == 1)
        assert(field[String](r, "plan").contains("Physical Plan"))
      else assert(r \ "plan" == JNothing)
    }
    val plan = "== Physical Plan ==\n* Filter (\"a\" = 'b\\c')\n\t+- Scan\r\u0001"
    val back = parse(Trace.Record("x", 1L, Nil).line("plan" -> JString(plan)))
    assert(field[String](back, "plan") == plan)
  }

  test("each query runs WarmPasses + TimedPasses passes and only the last TimedPasses are timed") {
    assert(Trace.WarmPasses == 4 && Trace.TimedPasses == 2)
    Seq("q_graph_kcore", "q_scan").foreach { q =>
      val mine = records.filter(field[String](_, "label") == q)
      assert(mine.map(field[Int](_, "pass")) == (1 to 6))
      assert(mine.map(field[Boolean](_, "timed")) ==
        Seq(false, false, false, false, true, true))
    }
  }

  test("every record's build_ms lies between 0 and its wall_ms") {
    records.foreach { r =>
      val build = field[Long](r, "build_ms")
      assert(0 <= build && build <= field[Long](r, "wall_ms"),
        s"${field[String](r, "label")}: build $build ms, wall ${field[Long](r, "wall_ms")} ms")
    }
  }
}
