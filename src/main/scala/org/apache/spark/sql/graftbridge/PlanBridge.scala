package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `Dataset.ofRows` is `private[sql]` in Spark 4; graft's planner rules
  * need it to execute a build-side subplan eagerly (the same move Spark's
  * own dynamic partition pruning makes when no exchange is reusable). Same
  * rationale as [[ColumnBridge]]: a minimal re-export, not a fork.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df.localCheckpoint(eager = true, level)`, whose materializing job also
    * folds each partition's rows with `fold(number of partitions)`: the
    * same checkpointed RDD, the same `LogicalRDD` (statistics, partitioning
    * and ordering carried over by `LogicalRDD.fromDataset`, `private[sql]`)
    * and the same storage-level handling as `Dataset.checkpoint`, plus one
    * value per partition from the pass that wrote the blocks, so a
    * statistic of the checkpoint costs no second job.
    */
  def localCheckpoint[T: scala.reflect.ClassTag](df: DataFrame, level: org.apache.spark.storage.StorageLevel)(
      fold: Int => Iterator[org.apache.spark.sql.catalyst.InternalRow] => T): (DataFrame, Array[T]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = ds.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.persist(level).localCheckpoint()
      // the job computes (and so caches) every partition; runJob then marks
      // the RDD checkpointed, as Dataset.checkpoint's eager doCheckpoint does
      val folded = rdd.sparkContext.runJob(rdd, fold(rdd.getNumPartitions))
      (ofRows(ds.sparkSession, org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)),
        folded)
    }
  }

  /** Spark's `CompletionIterator` (`private[spark]`) over `rows`, running
    * `done` when they are exhausted; `close()` runs it too, for a consumer
    * outside a task that stops early or fails (inside a task a completion
    * listener does that), so `done` must be safe to run twice.
    */
  def completionIterator[A](rows: Iterator[A])(done: => Unit): Iterator[A] with java.io.Closeable =
    new org.apache.spark.util.CompletionIterator[A, Iterator[A]](rows) with java.io.Closeable {
      def completion(): Unit = done
      def close(): Unit = done
    }

  /** The data-source filters a file scan hands its reader: what
    * `FileSourceScanLike.pushedDownFilters` (protected) computes for a scan
    * with no metadata columns and no subqueries.
    */
  def pushedFilters(scan: org.apache.spark.sql.execution.FileSourceScanExec)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    val nested = org.apache.spark.sql.execution.datasources.DataSourceUtils
      .supportNestedPredicatePushdown(scan.relation)
    scan.dataFilters.flatMap(
      org.apache.spark.sql.execution.datasources.DataSourceStrategy.translateFilter(_, nested))
  }

  /** The error a file scan task raises for a file it cannot read
    * (`QueryExecutionErrors` is `private[sql]`).
    */
  def cannotReadFile(path: String, e: Throwable): Throwable = e match {
    case missing: java.io.FileNotFoundException =>
      org.apache.spark.sql.errors.QueryExecutionErrors.fileNotExistError(path, missing)
    case _ => org.apache.spark.sql.errors.QueryExecutionErrors.cannotReadFilesError(e, path)
  }
}
