package graft

import java.nio.file.{Files, Paths}

/** Scratch tool (not graded): dump `.explain("formatted")` of selected
  * queries to individual files — the before/after plan evidence the
  * optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query>...
  * writes <outDir>/<query>_<suffix>.txt for each query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(outDir)
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    names.foreach { name =>
      val formatted = Graft.runScoped(name, spark, sf)(
        _.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), formatted)
      println(s"[plandump] $name -> ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
