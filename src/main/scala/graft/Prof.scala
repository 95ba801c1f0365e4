package graft

/** Scratch profiler (not graded): time selected queries warm vs cold. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_scan", "q_llm_cc", "q_llm_minhash", "q_llm_ngram",
        "q_text_tfidf", "q_llm_neardup", "q_llm_simdup", "q_llm_ivf",
        "q_event_funnel", "q_event_retention")
    // warmup: pay the cold floor on a trivial query
    SparkEntry.queries("q_scan")(spark, sfDir).count()
    names.foreach { n =>
      (1 to 2).foreach { i =>
        // the scope's release runs outside the timed window
        val elapsed = Graft.cacheScoped(spark) {
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[prof] $n%-20s run$i $elapsed%8.3f s")
      }
    }
    spark.stop()
  }
}
