package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One batch item: a name, how to build its DataFrame, and the columns that
  * order its rows when the item's result has no order of its own. */
final case class Item(name: String, build: (SparkSession, String) => DataFrame,
                      rowKeys: Seq[String] = Nil)

/** The batch workloads' items.
  *
  * Query items are built through the embedder's public path,
  * `SparkEntry.queries(name)(spark, dir)`, and checked against the DuckDB
  * oracle `SparkEntry.oracleSql(name)`. Kernel items call one
  * `graft.functions` SQL kernel directly over the corpus tables; their
  * results are checked against independent Python references. */
object Items {
  /** Short relational and event-time queries from the `q_sql_*`,
    * `q_join_*`, `q_event_*` and `q_stream_*` families and `q_causal`:
    * planning, job dispatch, scan and shuffle, no iterative engine. */
  val sqlEvents: Seq[String] = Seq(
    "q_sql_tpch6", "q_sql_gsets", "q_join_anti", "q_stream_tumble", "q_event_paths", "q_causal")

  /** An `operators` fixpoint engine, a cut/count/free loop through
    * `Graft.keyedCache` and `PlanBridge.eagerCut`. The `functions` kernels
    * run beside it as items of their own. */
  val iterDedup: Seq[String] = Seq("q_graph_kcore")

  /** About how long one warm pass over each workload's items takes at
    * local[4]; a run makes `round(seconds / passSeconds)` passes, at least
    * one, so every run of a workload measures the same executions. */
  val passSeconds: Map[String, Double] = Map("sql-events" -> 3.0, "iter-dedup" -> 4.2)

  /** The MinHash family the kernel item registers: 64 hashes of the
    * universal family `(a·x + b) mod p`, from a fixed formula that the
    * Python reference computes identically. */
  val HashP: Long = 2147483647L
  val hashA: Seq[Long] = (1 to 64).map(i => 1L + (i * 2654435761L) % (HashP - 2))
  val hashB: Seq[Long] = (1 to 64).map(i => (i * 40503L * 7919L) % HashP)

  /** Every document paired with each of the first eight (about 40k pairs at
    * sf0.1), each side tokenized once; the probe side is broadcast, so the
    * kernel, not a shuffle, dominates. */
  private def docPairs(s: SparkSession, d: String): DataFrame = {
    graft.Tables.documents(s, d).createOrReplaceTempView("pb_documents")
    s.sql(
      """WITH t AS (SELECT doc_id, text, array_distinct(split(text, ' ')) AS tk FROM pb_documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.text AS a_text, b.text AS b_text,
        |       a.tk AS ta, b.tk AS tb
        |FROM t a CROSS JOIN (SELECT * FROM t WHERE doc_id < 8) b""".stripMargin)
  }

  val kernels: Seq[Item] = Seq(
    Item("k_minhash_sig", (s, d) => graft.Tables.documents(s, d)
      .selectExpr("doc_id", "graft_minhash_sig(split(text, ' ')) AS sig"), Seq("doc_id")),
    Item("k_jaccard", (s, d) => docPairs(s, d)
      .selectExpr("a_id", "b_id", "graft_jaccard(ta, tb) AS jacc"), Seq("a_id", "b_id")),
    Item("k_overlap", (s, d) => docPairs(s, d)
      .selectExpr("a_id", "b_id", "graft_overlap(ta, tb) AS common"), Seq("a_id", "b_id")),
    Item("k_simhash16", (s, d) => graft.Tables.documents(s, d)
      .selectExpr("doc_id", "graft_simhash16(split(text, ' ')) AS sig"), Seq("doc_id")),
    Item("k_dot", (s, d) => {
      graft.Tables.embeddings(s, d).createOrReplaceTempView("pb_embeddings")
      s.sql(
        """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          |       graft_dot(cast(a.embedding AS array<double>), cast(b.embedding AS array<double>)) AS dot
          |FROM pb_embeddings a CROSS JOIN (SELECT * FROM pb_embeddings WHERE vec_id < 16) b""".stripMargin)
    }, Seq("a_id", "b_id")),
    Item("k_charhist_l1", (s, d) => docPairs(s, d)
      .selectExpr("a_id", "b_id", "graft_l1(graft_charhist(a_text), graft_charhist(b_text)) AS l1"),
      Seq("a_id", "b_id")))

  /** Registers the kernel family on a session of its own, so the query
    * items keep the family they register themselves. */
  def kernelSession(spark: SparkSession): SparkSession = {
    val ks = spark.newSession()
    graft.functions.MinHashSig.register(ks, hashA, hashB, HashP)
    ks
  }

  def forWorkload(workload: String, spark: SparkSession): Seq[Item] = {
    def queries(names: Seq[String]) = names.map(n => Item(n, graft.SparkEntry.queries(n)))
    workload match {
      case "sql-events" => queries(sqlEvents)
      case "iter-dedup" =>
        val ks = kernelSession(spark)
        queries(iterDedup) ++ kernels.map(k => k.copy(build = (_, d) => k.build(ks, d)))
      case other => throw new IllegalArgumentException(s"unknown batch workload $other")
    }
  }
}
