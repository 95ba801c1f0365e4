package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}

/** [[Tables]]' schema memo: a warm read infers nothing and sees the
  * schema an inferring read sees; a rewritten table and a change in the
  * session's parquet settings each get a fresh inference. */
class TablesSuite extends SparkSuite {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("a warm read of an unchanged table starts no Spark job and returns the inferred schema") {
    names.foreach(Tables.t(spark, sf, _)) // warm, whatever ran before
    names.foreach { name =>
      val (schema, rec) = Trace.run(name)(Tables.t(spark, sf, name).schema)
      assert(rec.jobs.isEmpty, s"$name: warm read ran ${rec.jobs.size} job(s)")
      assert(schema == spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
  }

  test("a table rewritten in place gets its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_rewrite").toString
    val docs = Seq((1L, "ab"), (2L, "cde")).toDF("doc_id", "text")
    docs.write.parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    docs.selectExpr("doc_id", "text", "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val back = Tables.documents(spark, dir)
    assert(back.columns.toSeq == Seq("doc_id", "text", "n_chars"))
    assert(back.orderBy("doc_id").as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "ab", 2), (2L, "cde", 3)))
  }

  test("a change in the session's parquet settings infers again, in either order") {
    val s = spark.newSession()
    import s.implicits._
    val dir = Files.createTempDirectory("graft_tables_settings").toString
    // a plain parquet writer: a Spark-written file stores its Spark
    // schema in the footer, and inference takes that over the setting
    val schema = MessageTypeParser.parseMessageType("message blob { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/blob.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", Binary.fromString("ab")))
    finally w.close()
    for (first <- Seq(true, false); asString <- Seq(first, !first, first)) {
      s.conf.set("spark.sql.parquet.binaryAsString", asString.toString)
      val df = Tables.t(s, dir, "blob")
      if (asString) {
        assert(df.schema("b").dataType == StringType, s"first=$first")
        assert(df.as[String].collect().toSeq == Seq("ab"))
      } else assert(df.schema("b").dataType == BinaryType, s"first=$first")
    }
  }
}
