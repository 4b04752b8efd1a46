package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}

import graft.sources.{FourMcScanMetrics, FourMcStatsFileFormat}

/** The engine's process-wide scan counters, read as before/after deltas.
  * Nothing here resets them, so the benchmark never disturbs a concurrent
  * reader of the same counters.
  */
object ScanCounters {
  private def adders = Seq(
    "blocks_read" -> FourMcScanMetrics.blocksRead,
    "blocks_skipped" -> FourMcScanMetrics.blocksSkipped,
    "pred_elided_blocks" -> FourMcScanMetrics.predElidedBlocks,
    "pred_eval_batches" -> FourMcScanMetrics.predEvalBatches,
    "footer_reads" -> FourMcScanMetrics.footerReads,
    "stats_agg_blocks" -> FourMcScanMetrics.statsAggBlocks,
    "metadata_count_rows" -> FourMcScanMetrics.metadataCountRows,
    "manifest_files_pruned" -> FourMcScanMetrics.manifestFilesPruned)

  def snapshot(): Map[String, Long] = adders.map { case (k, a) => k -> a.sum() }.toMap

  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** What one executed query's physical plan shows: scan-node SQL metrics
  * and whether the answer came from footers instead of decoded blocks.
  */
final case class PlanShape(scanRows: Long, filesScanned: Long, footerAnswered: Boolean)

object PlanShape extends AdaptiveSparkPlanHelper {
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p                        => p
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Read after the query ran (the metrics are filled by then). */
  def of(df: DataFrame): PlanShape = {
    val plan = finalPlan(df)
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val statsScans = scans.filter(_.relation.fileFormat.isInstanceOf[FourMcStatsFileFormat])
    val leaves = collectWithSubqueries(plan) { case l: LeafExecNode => l }
    PlanShape(
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      filesScanned = scans.map(metric(_, "numFiles")).sum,
      // footer stats relation, or no file scan left at all (a zero-task
      // manifest count is a local table)
      footerAnswered = statsScans.nonEmpty || (scans.isEmpty && leaves.nonEmpty))
  }
}

/** The benchmark's one SparkListener. It sums task metrics per op (the
  * `perfbench.op` local property set around each op) and keeps stage
  * intervals as spans under the span that launched the job.
  */
final class ExecListener(tracer: Tracer) extends SparkListener {
  final class Totals {
    var tasks = 0L
    var attempts = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var schedMs = 0L
    var shuffleRecords = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var worstSkew = 1.0
  }

  private val totals = mutable.Map.empty[String, Totals]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageDurations = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var openJobs = 0
  private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("other")
    val span = props.flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
    e.stageIds.foreach { s => stageOp(s) = op; stageSpan(s) = span }
    openJobs += 1
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { openJobs -= 1; touch() }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals.getOrElseUpdate(stageOp.getOrElse(e.stageId, "other"), new Totals)
    t.attempts += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null && info.successful) {
      t.tasks += 1
      stageDurations.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        info.duration
    }
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (info != null)
        t.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
    }
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val op = stageOp.getOrElse(si.stageId, "other")
    stageDurations.remove((si.stageId, si.attemptNumber())).foreach { ds =>
      if (ds.length >= 2) {
        val sorted = ds.sorted
        val med = sorted(sorted.length / 2).toDouble
        val t = totals.getOrElseUpdate(op, new Totals)
        if (med > 0) t.worstSkew = math.max(t.worstSkew, sorted.last / med)
      }
    }
    for (s <- si.submissionTime; c <- si.completionTime)
      tracer.addWallMs(s"stage:$op", stageSpan.getOrElse(si.stageId, 0L), s, c)
    touch()
  }

  /** Block until every started job has ended and no event arrived for a
    * short quiet period, so the totals cover everything the client ran.
    */
  def quiesce(maxWaitMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    def quiet = synchronized(openJobs <= 0 && System.nanoTime() - lastEventNs > 150000000L)
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def byOp: Map[String, Totals] = synchronized(totals.toMap)

  /** Totals over every op but those `excluding` names. */
  def all(excluding: Set[String]): Totals = synchronized {
    val a = new Totals
    totals.filter { case (op, _) => !excluding(op) }.values.foreach { t =>
      a.tasks += t.tasks; a.attempts += t.attempts; a.cpuNs += t.cpuNs; a.runMs += t.runMs
      a.gcMs += t.gcMs; a.schedMs += t.schedMs; a.shuffleRecords += t.shuffleRecords
      a.shuffleBytes += t.shuffleBytes; a.spillBytes += t.spillBytes
      a.worstSkew = math.max(a.worstSkew, t.worstSkew)
    }
    a
  }
}
