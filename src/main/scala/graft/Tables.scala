package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Scale note: every loader is a plain vectorized parquet scan. Catalyst
  * pushes filters and projections down to the scan (visible as
  * `PushedFilters` / `ReadSchema` in `.explain("formatted")`), which is the
  * property that keeps these queries viable at 100 TB: a cluster reads only
  * the row groups and columns a query touches. Nothing here caches data;
  * all composition stays in the logical plan.
  *
  * Schema memo: a path read without a schema makes Spark infer it, and
  * parquet inference runs a one-task Spark job that reads a footer
  * (stage `parquet at Tables.scala`) inside every query build. [[t]]
  * keeps each table's inferred schema and hands it back to the reader
  * (`spark.read.schema(memo).parquet(path)`), the way a catalog table
  * stores its schema; Spark still lists the files and builds a fresh
  * relation with fresh attribute ids, so plans, scans and results are
  * those of the inferring read. The memo is keyed by the qualified
  * path, and an entry is used only while its version matches: the
  * path's leaf files (name, length, modification time; a single file
  * or a Spark-written directory) and the session's parquet read
  * settings (every `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
  * entry, e.g. the `nanosAsLong` that decides whether a nanos `ts` is
  * inferred as a long). A new version replaces the path's entry, so the
  * memo holds at most one schema per table path. At 100 TB inference
  * still reads one footer per read, as a Spark job; with the memo it
  * runs once per file version, and a read pays one listing of the
  * path's files for the version, beside the one the scan makes.
  */
object Tables {

  /** What an inferred schema depends on besides the path. */
  private final case class Version(files: Seq[(String, Long, Long)],
                                   settings: Seq[(String, String)])

  /** Qualified path -> (version, schema inferred at that version).
    * Two threads that miss together both infer and the last put wins,
    * which is harmless: both schemas belong to versions they checked. */
  private val schemas = new ConcurrentHashMap[String, (Version, StructType)]()

  private def version(spark: SparkSession, fs: FileSystem, path: Path): Version = {
    val files = leaves(fs, path)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    val settings = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    Version(files.sorted, settings.sorted)
  }

  /** The files under `path` (the path itself for a file). `listStatus`,
    * not `listFiles`: a `LocatedFileStatus` reads each file's permissions,
    * which on the local file system without Hadoop's native library
    * starts an `ls` process per file (on a 4-core Linux VM, 4.5 ms per
    * single-file table against 0.03 ms). */
  private def leaves(fs: FileSystem, path: Path): Seq[FileStatus] =
    fs.listStatus(path).toSeq.flatMap(s => if (s.isDirectory) leaves(fs, s.getPath) else Seq(s))

  /** The parquet table `<sfDir>/<name>.parquet`, its schema inferred once
    * per version (see the object doc). The version is taken before a
    * cold read infers, so a file rewritten meanwhile only costs one more
    * inference on the next read. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(hp).toString
    val now = version(spark, fs, hp)
    Option(schemas.get(key)) match {
      case Some((v, schema)) if v == now => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(key, (now, df.schema))
        df
    }
  }

  /** `events.ts` has shipped in two physical generations of the testdata:
    * parquet TIMESTAMP(NANOS) (read as a nanos long via the session-level
    * `spark.sql.legacy.parquet.nanosAsLong` flag, then truncated to µs) and,
    * since the 2026-08-13 regen, native timestamp[us] without UTC adjustment
    * (read as TIMESTAMP_NTZ). The loader branches on the dtype actually
    * loaded so both generations normalize to the same logical column:
    * `ts: TimestampType` at µs precision. The session TZ is pinned UTC
    * ([[LocalSession]]), so the NTZ→Timestamp cast is value-identical, and
    * DuckDB reads the µs-native file directly — both engines see identical
    * µs timestamps either way (SURVEY §1.2). */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Defensive for foreign sessions (the driver passes its own session,
    // which may not have been built via LocalSession): idempotent no-op
    // when already set at session build, required only for the legacy
    // nanos read; inert when the file stores a real timestamp type.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Same defensive treatment for the timezone (r11 advice): the
    // NTZ→Timestamp cast below is value-identical ONLY under UTC, and
    // every date_trunc/unix_micros downstream assumes it — a non-UTC
    // foreign session would silently shift every event timestamp.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unexpected dtype $other; Tables.eventsRaw knows " +
            "LongType (legacy nanos), TimestampNTZType (µs-native), TimestampType")
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
