package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the normative operator inventory (SURVEY §2): one entry
  * per operator, each with a DuckDB-1.0.0 oracle in `oracleSql` where the
  * semantics are SQL-expressible. Column names, orderings, and numeric
  * determinism follow the contract in SURVEY §7.4 via [[Det]].
  *
  * Materialization: query builders cache and cut multi-consumer
  * intermediates through [[Scope]] (LSH posting/signature/prefix tables,
  * IVF assignments, the iterative engines' per-round state). A returned
  * DataFrame is lazy, so the builder cannot free them after its own
  * action: run each query through [[Graft.runScoped]] (or materialize
  * it inside [[Graft.cacheScoped]]), which frees exactly what the query
  * made once the body returns — the runners (Bench, Verify, Trace) all
  * do.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape: scan → partial/final hash-agg → sort (SURVEY §7.1 M0). */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.aggGroup(spark, "/root/testdata/sf0.001")

  private val packs = Seq(
    CoreRelational.queries, Aggregates.queries, Scalars.queries,
    WindowFns.queries, EventOps.queries, LlmOps.queries, TextOps.queries,
    PipelineOps.queries, MultimodalOps.queries, SqlOps.queries,
    GraphOps.queries)

  private val oraclePacks = Seq(
    CoreRelational.oracle, Aggregates.oracle, Scalars.oracle,
    WindowFns.oracle, EventOps.oracle, LlmOps.oracle, TextOps.oracle,
    PipelineOps.oracle, MultimodalOps.oracle, SqlOps.oracle,
    GraphOps.oracle)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oraclePacks.reduce(_ ++ _)
}
