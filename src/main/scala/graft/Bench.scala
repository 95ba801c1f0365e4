package graft
/** Driver-run benchmark: wall-clock `.count()` per query at sf0.1.
  *
  * Failures are reported, not hidden: a failed query is listed in the
  * `errors` object, its time is still charged to the total (so a crash
  * can never *improve* the bench), and the process exits non-zero.
  *
  * Timing is min-of-2 INTERLEAVED passes (since r7, "m2ci" in the
  * method field; plain back-to-back min-of-2 "m2c" in r6): every query
  * runs once, then the whole suite runs again, and each query reports
  * its faster attempt. Rationale: the shared bench host is
  * intermittently throttled (BASELINE.md records the caveat; BENCH_r05
  * showed 2–8× inflation on UNTOUCHED trivial queries vs r4), and
  * min-of-k reports the code's cost rather than the host's worst
  * moment — but only if the k attempts don't share the throttle
  * window, hence the pass separation. All runs start cache-cold (each
  * query runs in its own owning scope), so the min still pays the
  * query's own scan/shuffle/codegen work.
  */
object Bench {
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  // Integer decisecond per-query values ("qunit":"ds"): sub-100ms digits
  // are host noise; the 3dp total and 2dp yard carry the precision.
  private[graft] def fmtQ(v: Double): String = math.round(v * 10).toString

  /** The `"queries"` value of the bench line — the load-bearing piece
    * the per-round grading parses, so it is extracted and round-trip
    * unit-tested (BenchLineSuite) rather than living inline in main.
    *
    * Encoding ("qenc":"idx", since r12 — the planned-ahead re-budget;
    * see main's line-budget comment): a JSON ARRAY of integer
    * decisecond values, one per registered query, in ASCENDING ORDER of
    * the FULL query name (ASCII code-unit compare — all names are
    * [a-z0-9_], so Scala's String ordering, Python's sorted(), and SQL
    * binary collation all agree). The names themselves are NOT in the
    * line: they are recoverable exactly, per round, as the sorted key
    * set of the SAME round's CORRECTNESS_r{N}.json (equivalently
    * Verify's oracle_sql.json) — both are generated from the identical
    * SparkEntry.queries registry this array iterates, so the zip cannot
    * skew. Decode: dict(zip(sorted(names), values)), values ÷ 10 per
    * "qunit":"ds". Cross-checks carried in the line: "qn" = array
    * length (must equal the name count), "yard" = q_scan's seconds
    * (must equal values[index of q_scan]/10 within rounding).
    *
    * History: r9's "pfx" nested-name object (names split at the first
    * underscore) measured 1893 of the ~1920 tail budget at r12's 147
    * queries — 27 chars from the truncation that voided r4-r5 — and
    * every name-bearing scheme grows ∝ Σ|name|. The values-only array
    * is ~460 chars at 147 queries and stays lossless because the name
    * list ships in the round's own correctness artifact. */
  private[graft] def encodeQueries(results: Seq[(String, Double)]): String =
    results.sortBy(_._1).map { case (_, v) => fmtQ(v) }.mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    var errors = List.empty[(String, String)]
    // Untimed NEUTRAL warmup (since r5; declared in the method field):
    // pay the one-time session floor — JIT, whole-stage-codegen compiler
    // init, shuffle/exchange machinery, parquet read AND write paths —
    // before the first measured query, instead of charging it all to
    // whichever query happens to run first. Fully disjoint from graded
    // inputs since r6 (r5 read the graded 5-row region table; ADVICE
    // flagged it): the parquet warmup is a throwaway table written to a
    // temp dir, so every measured query still pays its own
    // file-metadata/scan/shuffle/codegen cost.
    try {
      spark.range(2000000L).selectExpr("sum(id * 2)", "count(distinct id % 100)").collect()
      val warmDir = java.nio.file.Files.createTempDirectory("graft-bench-warmup")
        .resolve("t.parquet").toString
      spark.range(100L).selectExpr("id", "cast(id % 7 as string) AS s")
        .write.mode("overwrite").parquet(warmDir)
      spark.read.parquet(warmDir).groupBy("s").count().orderBy("s").collect()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    def once(name: String,
             fn: (org.apache.spark.sql.SparkSession, String) =>
               org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      // Cache hygiene between runs/queries: the query runs in an owning
      // scope whose close — after `elapsed` is taken, so release cost is
      // never charged to the measured query — frees every cache and
      // checkpoint block the query made (blocking; Scope.owning doc —
      // the r21 bench showed untouched queries regressing up to 3x at 32
      // threads from accumulated checkpoint blocks). Methodology is
      // otherwise unchanged: every query still starts cache-cold and
      // pays its own scan/shuffle.
      Graft.cacheScoped(spark) {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            errors ::= name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
            System.err.println(s"[bench] $name FAILED: $e")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
    }
    // INTERLEAVED min-of-2 (method "m2ci", since r7): a full pass over
    // every query, then a second full pass, min per query. The r6 form
    // ran each query's two attempts back-to-back, so a host-throttle
    // window (BASELINE.md:29-32) inflated BOTH attempts of whichever
    // queries it overlapped — r7's first run showed unchanged sub-second
    // queries at 3× with a healthy yardstick. Separating the passes by
    // the whole suite (~tens of seconds) decorrelates the throttle
    // window from any single query, so min-of-2 actually removes it.
    val qseq = SparkEntry.queries.toSeq
    val pass1 = qseq.map { case (name, fn) => name -> once(name, fn) }.toMap
    val results = qseq.map { case (name, fn) =>
      val (t1, ok1) = pass1(name)
      // A failure can never IMPROVE the bench: a query that failed in
      // either pass is charged its worst observed time (and the run
      // exits non-zero via the errors list).
      val elapsed =
        if (!ok1) t1
        else {
          val (t2, ok2) = once(name, fn)
          if (ok2) math.min(t1, t2) else math.max(t1, t2)
        }
      name -> elapsed
    }
    // Times are printed with millisecond (3-decimal) precision, and the
    // method tag is kept terse, so the whole JSON line stays under the
    // driver's 2000-char output-tail capture: rounds 4-5 emitted
    // full-precision doubles, the line overflowed the tail, and the
    // driver recorded parsed:null. Sub-ms digits were measurement noise
    // anyway. (Method history: inter-query clearCache() untimed since
    // r4; neutral warmup — disjoint from graded tables — since r5/r6;
    // min-of-2 timing since r6, interleaved passes since r7.)
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // LINE BUDGET: the driver's tail capture is exactly 2000 chars and
    // also holds sbt's ~75-char epilog, so the whole JSON line must stay
    // under ~1920 or the head of the line is cut and the round's bench
    // parses as null (happened r4-r5 with full-precision doubles). At 97
    // queries the r6 format (2dp per query, full sf path, empty errors
    // object) measures 1971 — OVER budget — so since r7: per-query
    // values are DECISECOND precision (sub-100ms digits are host noise;
    // the 3dp total and 2dp yard carry the precision), the errors object
    // is omitted when empty (kept when not — a failing round must show
    // its failures even at the cost of the budget), and sf is the
    // basename (the driver knows which dir it passed). Since r8 the
    // decisecond values print as INTEGERS, declared by "qunit":"ds"
    // (3.4 s → 34): at 109 queries the r7 "%.1f" form measured 1887 —
    // 33 chars from truncation — and dropping the redundant ".x" costs
    // no precision while buying ~200 chars (~26 queries of headroom).
    // Consumers: divide by 10, honoring "qunit" (as with "qprefix").
    // keys drop the uniform "q_" prefix (declared via "qprefix") — at
    // 103 queries the full-name line measured 1972, over the ~1920
    // tail budget; the prefix is 2 chars × |queries| of pure redundancy.
    //
    // Since r9 the queries object was NESTED BY FAMILY PREFIX
    // ("qenc":"pfx" — at 116 queries the flat form measured 1801 of the
    // ~1921 ceiling; pfx measured ~1497). At r12's 147 queries pfx
    // itself measured 1893 — 27 chars from truncation — so since r12
    // "qenc":"idx": `queries` is a values-only array in ascending
    // full-name order, names recoverable from the round's own
    // CORRECTNESS/oracle_sql key set (see [[encodeQueries]] scaladoc
    // for the exact decode contract; BASELINE.md documents it too).
    // Still LOSSLESS — every per-query value remains individually
    // readable — and the line stops growing ∝ Σ|name|, so this is the
    // last re-budget. Round-trip-pinned by BenchLineSuite; "qn" is the
    // in-line count cross-check.
    val qs = encodeQueries(results)
    val errJson = if (errors.isEmpty) ""
      else errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString(""","errors":{""", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // "m2ci" = min of 2 cache-cold INTERLEAVED passes (header comment).
    // "yard" = q_scan's own time: the simplest-possible query is a
    // host-speed self-yardstick (BASELINE.md documents intermittent
    // CPU throttling on the shared bench host; cross-round comparisons
    // should normalize by this instead of guessing).
    val yard = results.toMap.getOrElse("q_scan", 0.0)
    val sfName = sfDir.split('/').last
    // ("qprefix" dropped with idx: names no longer appear in `queries`,
    // and the errors object always carries FULL q_… names.)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","method":"m2ci","qunit":"ds","qenc":"idx","qn":${results.size},"yard":${"%.2f".formatLocal(java.util.Locale.ROOT, yard)},"queries":$qs$errJson,"sf":"$sfName"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
