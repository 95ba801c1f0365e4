package graft

import org.apache.spark.sql.SparkSession

/** One place to build the local session all mains + tests share, so every
  * session-level knob (timezone, shuffle width, the nanos-parquet legacy
  * flag) is set once at build time instead of mutated mid-query.
  *
  * Scale note: `spark.sql.shuffle.partitions` defaults to the local core
  * count here; on a real cluster this is the one line a deployment changes
  * (or leaves to AQE coalescing — AQE stays enabled, Spark 4 default).
  */
object LocalSession {
  def build(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); Spark 4 only reads it via
      // this legacy flag (as a nanos long — Tables.events truncates to µs,
      // matching DuckDB's read; SURVEY §1.2). Session-level, set at build.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions { ext =>
        graft.functions.DotF64.install(ext)
        graft.functions.JaccardStr.install(ext)
        graft.functions.OverlapCount.install(ext)
        graft.functions.SimHash16.install(ext)
        graft.functions.CharHist64.install(ext)
        graft.functions.HistL1.install(ext)
      }
      .getOrCreate()
    // getOrCreate can return a pre-existing session the extensions never
    // saw — the post-hoc registrations are idempotent.
    graft.functions.DotF64.register(spark)
    graft.functions.JaccardStr.register(spark)
    graft.functions.OverlapCount.register(spark)
    graft.functions.SimHash16.register(spark)
    graft.functions.CharHist64.register(spark)
    graft.functions.HistL1.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec logs "No Partition Defined" at WARN for every
    // §7.4.12-sanctioned BOUNDED unpartitioned window (calendar/cell-
    // sized frames, provably aggregate-scale — the scaladocs at each
    // site carry the bound). The repeats eat the 2000-char tail budget
    // the one-line bench JSON must survive in (r15 verdict item 4).
    // A message-matched DENY filter drops ONLY that line; every other
    // WARN from window execution (e.g. spill warnings) still flows —
    // r16 ADVICE: raising the whole logger to ERROR muted those too.
    muteKnownBenignWarn("org.apache.spark.sql.execution.window",
      "No Partition Defined")
    // The iterative engines deliberately unpersist DEAD local-checkpoint
    // blocks (Scope.release and the scope close — the r22 block-
    // lifecycle fix); Spark WARNs once per freed RDD that the truncated
    // lineage cannot recompute, which is exactly the point. Hundreds of
    // repeats per bench run otherwise flood the 2000-char output tail
    // the one-line bench JSON must survive in.
    muteKnownBenignWarn("org.apache.spark.rdd",
      "was locally checkpointed, its lineage has been truncated")
    spark
  }

  /** Attach a log4j2 filter to `name`'s logger that DENIES events whose
    * message contains `needle` and passes everything else NEUTRAL —
    * every other WARN from the logger still flows (r16 ADVICE: raising
    * the whole logger to ERROR muted real warnings too). Idempotent
    * (the logger config is created once and re-filtering is harmless). */
  private def muteKnownBenignWarn(name: String, needle: String): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.AbstractFilter
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val cfg = ctx.getConfiguration
        val lc = cfg.getLoggerConfig(name) match {
          case exact if exact.getName == name => exact
          case parent =>
            // no config node for this logger yet — create an additive
            // one at the parent's level so appenders/level still
            // inherit and ONLY the filter below is added behavior
            val fresh = new LoggerConfig(name, parent.getLevel, true)
            cfg.addLogger(name, fresh)
            fresh
        }
        lc.addFilter(new AbstractFilter() {
          override def filter(event: LogEvent): Filter.Result =
            if (event.getMessage.getFormattedMessage
                  .contains(needle)) Filter.Result.DENY
            else Filter.Result.NEUTRAL
        })
        ctx.updateLoggers()
      case _ => // non-core log4j context (shouldn't happen on Spark's
        // bundled log4j2): leave logging untouched rather than mute
    }
  }
}
