package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names). The driver sets no
    // filter and always dumps the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    // a typo'd or empty filter must fail loudly, not "succeed" having
    // verified nothing
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
    }
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      // the scope frees the query's caches and cuts once it is written
      try Graft.cacheScoped(spark)(fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // json4s escapes backslash, quote and every control char: a tab or
    // CR in builder-authored SQL must not make json.load of this file
    // fail and silently zero the correctness check.
    val json = compact(JObject(SparkEntry.oracleSql.toList
      .map { case (k, v) => k -> JString(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
