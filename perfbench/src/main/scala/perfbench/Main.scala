package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The benchmark harness. `run.py` starts it once per run:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --out DIR --cores C --t0 EPOCH_MS
  * }}}
  *
  * It writes every raw measurement to `<out>/raw.json`; `run.py` turns
  * them into metrics. `--t0` is the wall time at which the JVM was
  * started, so set-up time includes JVM start. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = opt("data")
    val out = opt("out")
    val raw = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "t0" -> opt("t0").toDouble)

    val b0 = Clock.nowMs
    val spark = graft.LocalSession.build(opt("cores"))
    val b1 = Clock.nowMs
    warmup(spark, s"$out/warmup")
    raw("session_build_ms") = b1 - b0
    raw("warmup_ms") = Clock.nowMs - b1
    try {
      if (workload == "causal-stream") stream(spark, dir, out, seed, seconds, traced, raw)
      else batch(spark, dir, out, seed, seconds, traced, raw)
    } finally {
      Files.writeString(Paths.get(s"$out/raw.json"), Json(raw))
      spark.stop()
    }
  }

  /** The neutral warm-up `graft.Bench` runs: JIT, codegen and the parquet
    * read and write paths, on a throwaway table. */
  private def warmup(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    spark.range(2000000L).selectExpr("sum(id * 2)", "count(distinct id % 100)").collect()
    spark.range(100L).selectExpr("id", "cast(id % 7 as string) AS s")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy("s").count().orderBy("s").collect()
  }

  private def batch(spark: org.apache.spark.sql.SparkSession, dir: String, out: String,
                    seed: Long, seconds: Double, traced: Boolean,
                    raw: mutable.Map[String, Any]): Unit = {
    val items = Items.forWorkload(raw("workload").toString, spark)
    raw("items") = items.map(i => Map("name" -> i.name, "row_keys" -> i.rowKeys))
    raw("oracle_sql") = items.flatMap(i => graft.SparkEntry.oracleSql.get(i.name).map(i.name -> _)).toMap
    val runner = new BatchRunner(spark, dir, items)
    // Untimed warm execution of every item, which is also the output check:
    // each result is written once to parquet for run.py to compare. Part
    // files are numbered in partition order, so reading them back in name
    // order restores the result's row order.
    items.foreach(it => runner.execute(it, -1, "check", None,
      df => df.write.mode("overwrite").parquet(s"$out/check/${it.name}")))
    // A second untimed pass: one execution leaves the JIT still compiling.
    items.foreach(it => runner.execute(it, -1, "warm", None))
    raw("t_first_timed") = Clock.nowMs
    val passes = math.max(1, math.round(seconds / Items.passSeconds(raw("workload").toString)).toInt)
    runner.timedPasses(seed, passes, "untraced")
    if (traced) {
      val tracer = new Tracer(spark)
      tracer.start()
      runner.timedPasses(seed, passes, "traced", Some(tracer))
      tracer.stop()
      // Untraced again after the traced passes, so the overhead estimate
      // brackets the JIT's continuing warm-up instead of counting it.
      runner.timedPasses(seed, passes, "untraced")
      runner.timedPasses(seed, 1, "count", sink = df => df.count())
      raw("spans") = RawJson(tracer.toJson)
    }
    raw("execs") = runner.execs.map(_.toMap)
    raw("cores") = spark.sparkContext.defaultParallelism
  }

  private def stream(spark: org.apache.spark.sql.SparkSession, dir: String, out: String,
                     seed: Long, seconds: Double, traced: Boolean,
                     raw: mutable.Map[String, Any]): Unit = {
    val runner = new StreamRunner(spark, dir, s"$out/tmp", seed)
    val ms = runner.maintainers
    try {
      // Warm stream phase per maintainer: closed-loop batches for
      // WarmSeconds and one second of the open loop. With four batches
      // instead, the timed batches still got 15-30% faster every few
      // seconds: the JIT was still compiling the micro-batch path.
      ms.foreach { m =>
        runner.closedLoop(m, StreamRunner.WarmSeconds, minBatches = 4)
        runner.openLoop(m, 1.0)
      }
      raw("t_first_timed") = Clock.nowMs
      def phases(mode: String, tracer: Option[Tracer]): Unit = ms.foreach { m =>
        def span[A](name: String)(body: => A): A =
          tracer.map(_.span(name, m.name)(body)).getOrElse(body)
        // A third of the time in the closed loop, two thirds in the open
        // loop, whose latency needs more micro-batches to settle.
        val closed = span("stream.closed")(runner.closedLoop(m, seconds / 6))
        val open = span("stream.open")(runner.openLoop(m, seconds / 3))
        raw(s"$mode.${m.name}") = Map(
          "closed" -> closed.map { case (a, b, n) => Seq(a, b, n.toDouble) }, "open" -> open)
      }
      phases("untraced", None)
      if (traced) {
        val tracer = new Tracer(spark, Seq(runner.rocks))
        tracer.start()
        phases("traced", Some(tracer))
        tracer.stop()
        raw("spans") = RawJson(tracer.toJson)
        phases("after", None)
      }
    } finally runner.stop()
    raw("check") = ms.map { m =>
      val (ok, violations) = m.check()
      m.name -> Map("ok" -> ok, "users" -> m.standings.size, "violations" -> violations,
        "events" -> m.source.delivered.size)
    }.toMap
    raw("cores") = spark.sparkContext.defaultParallelism
  }
}

/** An already-serialized JSON value, embedded as is. */
final case class RawJson(json: String)
