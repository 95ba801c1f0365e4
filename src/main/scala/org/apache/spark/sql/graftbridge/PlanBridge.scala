package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The mechanics of [[graft.Scope.cut]]: a STATS-PRESERVING eager local
  * checkpoint, reached from this org.apache.spark.sql subpackage for
  * the `private[sql]` `Dataset.ofRows` and `LogicalRDD` stats hook.
  * Ownership and release live in [[graft.Scope]]; nothing else should
  * call this directly.
  *
  * Why the stats: `Dataset.localCheckpoint` yields a [[LogicalRDD]]
  * whose statistics are the ESTIMATE of the plan it replaced (a
  * join+agg chain whose size estimate is garbage-in multiplication),
  * so the planner gave every round's edge⋈state join a SortMergeJoin
  * and re-shuffled the whole edge table per round (11 MB/round at
  * sf0.1, measured with ProfJobs) even when the state side was a few
  * thousand rows. This cut counts the materialized RDD and attaches
  * HONEST statistics (exact rowCount, sizeInBytes = rows x flat schema
  * width), so the planner broadcasts the state side when it truly is
  * small and keeps the sort-merge plan when it is not.
  *
  * Mechanics mirror `Dataset.localCheckpoint(eager = true)`: the
  * query's internal row RDD is copied (UnsafeRow reuse), persisted
  * MEMORY_AND_DISK, locally checkpointed and eagerly materialized by
  * the count.
  */
object PlanBridge {

  /** Materialize `df` and return a lineage-free frame over it carrying
    * exact row-count statistics, the row count, and the checkpointed
    * RDD that holds the blocks (the handle a release unpersists). */
  def cut(df: DataFrame): (DataFrame, Long, RDD[_]) = {
    val cs = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.localCheckpoint()
    val n = rdd.count()
    val width = qe.analyzed.output.map(_.dataType.defaultSize).sum + 8
    val stats = Statistics(
      sizeInBytes = (BigInt(n) * width).max(BigInt(1)),
      rowCount = Some(BigInt(n)))
    val plan = LogicalRDD(qe.analyzed.output, rdd, UnknownPartitioning(0),
      Nil, false, None)(cs, Some(stats), None)
    (org.apache.spark.sql.classic.Dataset.ofRows(cs, plan), n, rdd)
  }
}
