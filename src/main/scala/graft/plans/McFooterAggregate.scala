package graft.plans

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.sources.{FourMcFileFormat, FourMcStatsFileFormat}

import org.apache.spark.SparkThrowable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, CodegenObjectFactoryMode, JoinedRow, NamedExpression,
  SubqueryExpression, UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, truncatedString}
import org.apache.spark.sql.execution.{
  AggregatingAccumulator, FileSourceScanExec, PartitionedFileUtil, ProjectExec, SQLExecution,
  SparkPlan, SparkStrategy, UnaryExecNode
}
import org.apache.spark.sql.execution.datasources.{
  FileSourceStrategy, HadoopFsRelation, LogicalRelation, PartitionedFile
}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.internal.SQLConf

/** Plans a footer-answered aggregate — an `Aggregate` over the
  * [[FourMcStatsFileFormat]] relation that [[McAggregatePushdown]] produces,
  * with or without its partition-only filter — as one driver-side node
  * when the footer sweep is small, so the query launches no Spark job.
  *
  * The node runs when the listing has at most [[MaxFiles]] files and the
  * blocks the reader must decode (straddlers, stats-less or NaN-poisoned
  * blocks) total at most [[MaxDecodedBytes]] stored bytes, both decided
  * here from the cached footers. Anything else returns no plan, so Spark's
  * own strategies plan the job: a DISTINCT aggregate, a longer file list, a
  * heavier decode load, a scan shape other than the stats scan under
  * attribute projections, or `ignoreCorruptFiles`/`ignoreMissingFiles` (the
  * job's file scan skips a bad or vanished file; the driver sweep has no
  * such handling).
  */
object McFooterAggregateStrategy extends SparkStrategy {

  /** Most files the driver sweeps. On local disk the sweep beat the job
    * through 1024 files, warm or cold (0.2–0.3 ms a file against a job's
    * fixed 100–200 ms on a 4-vCPU VM), so this is not a crossover: it caps
    * the uncached footers planning reads one after another, which on an
    * object store cost a ranged read each (see ROADMAP, "Cold footers").
    */
  val MaxFiles = 32

  /** Most stored bytes of blocks the driver decodes. The serial decode
    * costs about 35 ms per MiB; a 3-core job broke even at about 4 MiB, and
    * more cores move that point down, so the bound sits at half of it.
    */
  val MaxDecodedBytes: Long = 2L << 20

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(groups, aggs, results, child)
        if aggs.forall(a => !a.isDistinct && a.filter.isEmpty) && isStatsScan(child) =>
      FileSourceStrategy(child) match {
        case Seq(scanPlan) => planOver(groups, aggs, results, scanPlan).toSeq
        case _             => Nil
      }
    case _ => Nil
  }

  private def isStatsScan(p: LogicalPlan): Boolean = p match {
    case LogicalRelation(r: HadoopFsRelation, _, _, false, _) =>
      r.fileFormat.isInstanceOf[FourMcStatsFileFormat] && r.bucketSpec.isEmpty && {
        val o = new FileSourceOptions(CaseInsensitiveMap(r.options))
        !o.ignoreCorruptFiles && !o.ignoreMissingFiles
      }
    case Project(ps, c) => ps.forall(_.isInstanceOf[Attribute]) && isStatsScan(c)
    case Filter(cond, c) =>
      cond.deterministic && !SubqueryExpression.hasSubquery(cond) && isStatsScan(c)
    case _ => false
  }

  private def planOver(
      groups: Seq[NamedExpression],
      aggs: Seq[AggregateExpression],
      results: Seq[NamedExpression],
      scanPlan: SparkPlan): Option[SparkPlan] = {
    val scan = scanPlan.collectFirst { case s: FileSourceScanExec => s }.orNull
    // a FilterExec would carry conditions the footers cannot answer, and
    // extra scan outputs (metadata columns) rows the reader does not make
    val shapeOk = scan != null &&
      !scanPlan.exists(p => !p.isInstanceOf[FileSourceScanExec] && !p.isInstanceOf[ProjectExec]) &&
      scan.output.length == scan.requiredSchema.length + scan.relation.partitionSchema.length
    if (!shapeOk) return None
    val listing = scan.selectedPartitions
    if (listing.totalNumberOfFiles > MaxFiles) return None
    val files: Seq[PartitionedFile] = listing.filePartitionIterator.flatMap { p =>
      p.files.filter(_.getLen > 0)
        .map(f => PartitionedFileUtil.getPartitionedFile(f, f.getPath, p.values, 0, f.getLen))
    }.toVector
    val relation = scan.relation
    val hadoopConf = relation.sparkSession.sessionState.newHadoopConfWithOptions(relation.options)
    val sweep =
      try relation.fileFormat.asInstanceOf[FourMcStatsFileFormat].sweep(
        files, FourMcFileFormat.footerIndex(_, hadoopConf), scan.requiredSchema, relation.options)
      catch { case NonFatal(_) => return None } // the job reports it
    if (sweep.decodedBytes > MaxDecodedBytes) None
    else Some(McFooterAggregateExec(groups, aggs, results, files, sweep, scanPlan))
  }
}

/** Runs a footer-answered aggregate on the driver: the stats scan's
  * unchanged reader over each whole file (the same footer cache, block
  * verdicts, straddler decode and scan counters as its tasks), folded by
  * Spark's own aggregate functions through [[AggregatingAccumulator]] — one
  * accumulator per group key — so ANSI, decimal-overflow and null semantics
  * stay Spark's. No broadcast, no job; the projections are interpreted, so
  * no class is compiled either. `child` is the planned stats scan: its file
  * listing and driver metrics are this node's, and it never runs as an RDD.
  */
case class McFooterAggregateExec(
    groupingExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    resultExpressions: Seq[NamedExpression],
    files: Seq[PartitionedFile],
    sweep: FourMcStatsFileFormat.Sweep,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  override def simpleString(maxFields: Int): String =
    s"McFooterAggregate 4MC-STATS driver sweep: files=${files.length}, " +
      s"blocks from stats=${sweep.answered}, blocks decoded=${sweep.decoded} " +
      s"(${sweep.decodedBytes} B), blocks skipped=${sweep.skipped}, " +
      s"keys=${truncatedString(groupingExpressions, "[", ", ", "]", maxFields)}, " +
      s"functions=${truncatedString(aggregateExpressions, "[", ", ", "]", maxFields)}"

  override def executeCollect(): Array[InternalRow] = {
    val scan = child.collectFirst { case s: FileSourceScanExec => s }.get
    val relation = scan.relation
    val hadoopConf = relation.sparkSession.sessionState.newHadoopConfWithOptions(relation.options)
    val read = relation.fileFormat.asInstanceOf[FourMcStatsFileFormat]
      .reader(scan.requiredSchema, relation.options, () => hadoopConf)
    // a few hundred footer rows never repay compiling a projection
    val interpreted = conf.clone()
    interpreted.setConf(SQLConf.CODEGEN_FACTORY_MODE, CodegenObjectFactoryMode.NO_CODEGEN)
    var scanned = 0L
    val answer = SQLConf.withExistingConf(interpreted) {
      val input = scan.output
      val fresh = AggregatingAccumulator(aggregateExpressions, input)
      val keyOf = UnsafeProjection.create(groupingExpressions, input)
      val groups = new java.util.LinkedHashMap[UnsafeRow, AggregatingAccumulator]
      // a global aggregate answers one row even over no input
      if (groupingExpressions.isEmpty) groups.put(keyOf(InternalRow.empty).copy(), fresh)
      val joined = new JoinedRow
      files.foreach { f =>
        try {
          val it = read(f)
          try it.foreach { r =>
            val in = joined(r, f.partitionValues)
            val key = keyOf(in)
            var acc = groups.get(key)
            if (acc == null) { acc = fresh.copyAndReset(); groups.put(key.copy(), acc) }
            acc.add(in)
            scanned += 1
          } finally it match {
            case c: java.io.Closeable => c.close()
            case _                    =>
          }
        } catch {
          // a failed read raises what a failed scan task raises; Spark's
          // own errors (an ANSI overflow in the fold) pass as they are
          case NonFatal(e) if !e.isInstanceOf[SparkThrowable] =>
            throw PlanBridge.cannotReadFile(f.urlEncodedPath, e)
        }
      }
      val result = UnsafeProjection.create(resultExpressions,
        groupingExpressions.map(_.toAttribute) ++ aggregateExpressions.map(_.resultAttribute))
      groups.entrySet.asScala.iterator
        .map(e => result(joined(e.getKey, e.getValue.value)).copy(): InternalRow).toArray
    }
    reportScan(scan, scanned)
    answer
  }

  /** The stats scan's SQL metrics, as if it had run: the rows its reader
    * made, and the file counts of its listing — that ran while planning,
    * and the reset before this execution zeroed what it recorded.
    */
  private def reportScan(scan: FileSourceScanExec, rowsRead: Long): Unit = {
    val numRows = scan.longMetric("numOutputRows")
    numRows.add(rowsRead)
    val listing = scan.selectedPartitions
    Seq("numFiles" -> listing.totalNumberOfFiles, "filesSize" -> listing.totalFileSize,
      "numPartitions" -> listing.partitionCount.toLong).foreach { case (name, v) =>
      scan.driverMetrics.get(name).foreach(_.set(v))
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      numRows +: scan.driverMetrics.values.toSeq)
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  // below another operator: the answer as a one-partition RDD
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(newChild: SparkPlan): McFooterAggregateExec =
    copy(child = newChild)
}
