package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.format.FourMcIndex
import graft.sources.{FourMcFileFormat, FourMcStatsFileFormat, ManifestFileIndex, RuntimeKeyFilter}

import org.apache.hadoop.conf.Configuration

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, CodegenObjectFactoryMode, Expression, InterpretedProjection, JoinedRow, NamedExpression,
  Predicate, SubqueryExpression, UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, DeclarativeAggregate, ImperativeAggregate
}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, truncatedString}
import org.apache.spark.sql.execution.{
  AggregatingAccumulator, FileSourceScanExec, FilterExec, PartitionedFileUtil, ProjectExec,
  SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode
}
import org.apache.spark.sql.execution.datasources.{
  FileSourceStrategy, HadoopFsRelation, LogicalRelation, PartitionedFile
}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Plans a small, metadata-selective read of one 4mc relation as one
  * driver-side node ([[McDriverScanExec]]), so the query launches no Spark
  * job:
  *
  *  - an `Aggregate` (no DISTINCT, no aggregate FILTER) over Project/Filter
  *    over the plain `4mc` relation, or over the [[FourMcStatsFileFormat]]
  *    relation [[McAggregatePushdown]] produces (a footer-answered
  *    aggregate);
  *  - a Project/Filter over the plain `4mc` relation whose directory
  *    manifest, zone maps or blooms refute at least one listed file or
  *    block (a point lookup). An unfiltered scan, which may feed a shuffle,
  *    keeps its tasks.
  *
  * The node runs when the listing has at most [[MaxFiles]] files, checked
  * before any footer is read, and the blocks the read must decode hold at
  * most [[MaxDecodedLines]] lines, decided from the cached footers.
  * Anything else is planned as a job, as before: a longer file list, a
  * heavier decode load, a nondeterministic expression (`input_file_name`
  * among them), `_metadata` columns, a subquery, an injected runtime key
  * filter, a bucketed relation, or `ignoreCorruptFiles`/`ignoreMissingFiles`
  * (the job's file scan skips a bad or vanished file; the driver read has
  * no such handling). A refused aggregate returns no plan; a refused
  * Project/Filter returns the `FileSourceStrategy` plan already built for
  * it, so planning lists its files once. (Spark clones the planned tree
  * before it runs it, and the cloned scan lists them again.)
  *
  * Callers that bring a relation's rows to the driver anyway, such as the
  * dedup ops' single corpus pass, use the same read directly through
  * [[McDriverScan.read]], which also takes an unfiltered Project/Filter.
  */
object McDriverScanStrategy extends SparkStrategy {

  /** Most files the driver reads. On local disk the driver read beat the
    * job through 1024 files, warm or cold (0.2–0.3 ms a file against a
    * job's fixed 100–200 ms on a 4-vCPU VM), so this is not a crossover: it
    * caps the uncached footers planning reads one after another, which on
    * an object store cost a ranged read each (see ROADMAP, "Cold footers").
    */
  val MaxFiles = 32

  /** Most lines the driver reads, counted by [[FourMcFileFormat.blockLines]]
    * over the blocks the read cannot skip; one bound for both relations. A
    * file without a stats segment cannot tell its lines, so it is over the
    * bound. Lines, not stored bytes: an 80 k-line table
    * stored as ZSTD-3 fits in 2.06 MB, and its full scans belong in a job.
    * On an 80 k-row lineitem table (64 KiB LZ4 blocks, 4-vCPU VM,
    * `local[3]`), the heaviest shape, a hash of all 16 columns, broke even
    * with its job near 28 k decoded lines (driver/job ms: 24 k 55/67, 32 k
    * 60/50, 80 k 148/66); a q6-shaped SUM and a 4-column lookup stayed
    * ahead of their jobs through 80 k and 63 k lines. More cores move the
    * crossover down, so the bound sits at about half of it.
    */
  val MaxDecodedLines: Long = 16384

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(groups, aggs, results, child)
        if aggs.forall(foldable) && (groups ++ results).forall(plain) && readable(child) =>
      planOver(Some(McDriverScanExec.Fold(groups, aggs, results)), FileSourceStrategy(child)).toSeq
    case _: Project | _: Filter if readable(plan) =>
      val scanPlan = FileSourceStrategy(plan)
      planOver(None, scanPlan).map(Seq(_)).getOrElse(scanPlan)
    case _ => Nil
  }

  /** An aggregate [[AggregatingAccumulator]] folds as Spark's own
    * operators would.
    */
  private def foldable(a: AggregateExpression): Boolean =
    !a.isDistinct && a.filter.isEmpty && plain(a) && (a.aggregateFunction match {
      case _: DeclarativeAggregate | _: ImperativeAggregate => true
      case _                                                => false
    })

  private[plans] def plain(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  private def readable(p: LogicalPlan): Boolean = p match {
    case LogicalRelation(r: HadoopFsRelation, _, _, false, _) =>
      (r.fileFormat.isInstanceOf[FourMcFileFormat] || r.fileFormat.isInstanceOf[FourMcStatsFileFormat]) &&
        plainFiles(r)
    case Project(ps, c)  => ps.forall(plain) && readable(c)
    case Filter(cond, c) => plain(cond) && readable(c)
    case _               => false
  }

  /** A relation whose files the driver reads as its tasks would: no
    * buckets, no injected runtime key filter, and a failed or vanished file
    * fails the read.
    */
  private[plans] def plainFiles(r: HadoopFsRelation): Boolean =
    r.bucketSpec.isEmpty && !r.options.contains(RuntimeKeyFilter.OptionKey) && {
      val o = new FileSourceOptions(CaseInsensitiveMap(r.options))
      !o.ignoreCorruptFiles && !o.ignoreMissingFiles
    }

  private def planOver(fold: Option[McDriverScanExec.Fold], scanPlan: Seq[SparkPlan]): Option[SparkPlan] = {
    val (projectList, condition, scan) = scanPlan match {
      case Seq(ProjectExec(pl, FilterExec(c, s: FileSourceScanExec))) => (pl, Some(c), s)
      case Seq(ProjectExec(pl, s: FileSourceScanExec))                => (pl, None, s)
      case Seq(FilterExec(c, s: FileSourceScanExec))                  => (s.output, Some(c), s)
      case Seq(s: FileSourceScanExec)                                 => (s.output, None, s)
      case _                                                          => return None
    }
    // a read with no data filter refutes nothing: only an aggregate can use it
    if (fold.isEmpty && scan.dataFilters.isEmpty) None
    else McDriverScan.sized(scan, MaxDecodedLines).toOption
      .filter(r => fold.isDefined || r.census.skipped > 0 || manifestPruned(scan))
      .map(_.exec(fold, projectList, condition, scan))
  }

  /** Did the directory manifest drop a file from the scan's listing? The
    * manifest index lists without its pruning when given no data filters.
    */
  private def manifestPruned(scan: FileSourceScanExec): Boolean = scan.relation.location match {
    case m: ManifestFileIndex if scan.dataFilters.nonEmpty =>
      m.listFiles(scan.partitionFilters, Nil).map(_.files.length.toLong).sum >
        scan.selectedPartitions.totalNumberOfFiles
    case _ => false
  }
}

/** The driver read for callers that collect a relation anyway, such as an
  * op's single corpus pass ([[graft.ops.Dedup]], [[graft.ops.Spans]]):
  * [[read]] feeds the rows of a DataFrame that is a chain of Project/Filter
  * over the plain `4mc` relation to a sink on the driver, with no Spark
  * job, or names why it will not. It plans the DataFrame as Spark would,
  * then reads it as [[McDriverScanExec]] does, under the same listing,
  * census and file bound ([[McDriverScanStrategy.MaxFiles]]) and with
  * every expression interpreted; the line bound is the caller's, since its
  * work per row sets the crossover. Unlike the query strategy it takes an
  * unfiltered read too: its caller has already chosen to bring the rows to
  * the driver.
  */
object McDriverScan {

  /** What a driver read of one planned file scan would read: the listing,
    * the census of its cached footers, and the conf they were read with.
    */
  final case class Sized(
      pushed: Seq[sources.Filter],
      files: Seq[PartitionedFile],
      listing: McDriverScanExec.Listing,
      census: FourMcFileFormat.Census,
      hadoopConf: Configuration) {
    def exec(fold: Option[McDriverScanExec.Fold], projectList: Seq[NamedExpression], condition: Option[Expression],
             scan: FileSourceScanExec): McDriverScanExec =
      McDriverScanExec(fold, projectList, condition, pushed, files, listing, census, hadoopConf, scan)
  }

  /** The read of `scan` within [[McDriverScanStrategy.MaxFiles]] and
    * `maxLines`, or why not: "not 4mc" (extra metadata columns, or a footer
    * that fails to read), "over files", "no stats" (a file past the line
    * bound for want of a stats segment) or "over lines". The file count is
    * checked before any footer is read.
    */
  private[plans] def sized(scan: FileSourceScanExec, maxLines: Long): Either[String, Sized] = {
    val relation = scan.relation
    // extra scan outputs (metadata columns) are rows the readers do not make
    if (scan.output.length != scan.requiredSchema.length + relation.partitionSchema.length)
      return Left("not 4mc")
    val listing = scan.selectedPartitions
    if (listing.totalNumberOfFiles > McDriverScanStrategy.MaxFiles) return Left("over files")
    val files: Seq[PartitionedFile] = listing.filePartitionIterator.flatMap { p =>
      p.files.filter(_.getLen > 0)
        .map(f => PartitionedFileUtil.getPartitionedFile(f, f.getPath, p.values, 0, f.getLen))
    }.toVector
    val hadoopConf = relation.sparkSession.sessionState.newHadoopConfWithOptions(relation.options)
    val pushed = PlanBridge.pushedFilters(scan)
    var statsless = false
    val census =
      try {
        // each relation's per-block verdicts: the ones its reader reaches
        val verdictsOf: FourMcIndex => Array[Byte] = relation.fileFormat match {
          case stats: FourMcStatsFileFormat => stats.blockVerdicts(scan.requiredSchema)
          case fmt: FourMcFileFormat =>
            fmt.blockVerdicts(_, relation.dataSchema, scan.requiredSchema, pushed, relation.options)
        }
        files.filter(f => FourMcFileFormat.accepts(f.toPath, relation.options))
          .foldLeft(FourMcFileFormat.Census()) { (acc, f) =>
            val index = FourMcFileFormat.footerIndex(f, hadoopConf)
            statsless ||= index.stats.isEmpty
            acc.plus(index, verdictsOf(index))
          }
      } catch { case NonFatal(_) => return Left("not 4mc") } // the job reports it
    if (census.lines > maxLines) Left(if (statsless) "no stats" else "over lines")
    else Right(Sized(pushed, files,
      McDriverScanExec.Listing(listing.totalNumberOfFiles, listing.totalFileSize, listing.partitionCount),
      census, hadoopConf))
  }

  /** Feeds the rows of `df`, in its schema, to `sink` until it returns
    * true, when `df` plans as Project/Filter nodes over one scan of the
    * plain `4mc` relation that reads at most `maxLines` lines (the caller's
    * crossover: its work per row sets it) from at most
    * [[McDriverScanStrategy.MaxFiles]] files. Otherwise it reads nothing
    * and returns why: "not 4mc" (any other plan, another format, a
    * nondeterministic expression or a subquery) or a reason from [[sized]].
    * A failed read raises what a failed scan task raises. No Spark job
    * runs; `df`'s planned query is the one a fallback job runs.
    */
  def read(df: DataFrame, maxLines: Long)(sink: InternalRow => Boolean): Either[String, Unit] = {
    // the Project/Filter nodes over the scan, bottom first
    var layers = List.empty[SparkPlan]
    var p = df.queryExecution.sparkPlan
    while (p.isInstanceOf[ProjectExec] || p.isInstanceOf[FilterExec]) { layers ::= p; p = p.children.head }
    val plainLayers = layers.forall {
      case ProjectExec(pl, _) => pl.forall(McDriverScanStrategy.plain)
      case FilterExec(c, _)   => McDriverScanStrategy.plain(c)
    }
    val node = p match {
      case _ if !plainLayers => Left("not 4mc")
      case e: McDriverScanExec if e.fold.isEmpty =>
        if (e.census.lines > maxLines) Left("over lines") else Right(e)
      case s: FileSourceScanExec
          if s.relation.fileFormat.isInstanceOf[FourMcFileFormat] && McDriverScanStrategy.plainFiles(s.relation) =>
        sized(s, maxLines).map(_.exec(None, s.output, None, s))
      case _ => Left("not 4mc")
    }
    node.map { exec =>
      McDriverScanExec.interpreted(exec.conf) {
        // the sink behind each layer, top first; a Project hands the layer
        // above its values as they are, with no copy into an UnsafeRow
        val top = layers.foldRight(sink) {
          case (ProjectExec(pl, c), next) =>
            val project = new InterpretedProjection(pl, c.output)
            project.initialize(0)
            r => next(project(r))
          case (FilterExec(cond, c), next) =>
            val pass = Predicate.create(cond, c.output)
            pass.initialize(0)
            r => pass.eval(r) && next(r)
        }
        exec.each(top)
      }
    }
  }
}

/** Runs a small read of one 4mc relation on the driver: the relation's own
  * reader over each whole file (`FourMcFileFormat.batchReader` or
  * `FourMcStatsFileFormat.reader`: the same footer cache, block verdicts,
  * decoders and scan counters as its tasks), then the filter and
  * projection Spark planned above the scan, then — for an aggregate —
  * Spark's own aggregate functions through [[AggregatingAccumulator]], one
  * accumulator per group key, so ANSI, decimal-overflow and null semantics
  * stay Spark's. No broadcast, no job; every expression is interpreted, so
  * no class is compiled either. `hadoopConf` is the one planning read the
  * footers with: each run only reads it, and only on the driver, so it is
  * not serialized with the plan. `child` is the planned file scan: its file
  * listing and driver metrics are this node's, and it never runs as an RDD.
  */
case class McDriverScanExec(
    fold: Option[McDriverScanExec.Fold],
    projectList: Seq[NamedExpression],
    condition: Option[Expression],
    pushedFilters: Seq[sources.Filter],
    files: Seq[PartitionedFile],
    listing: McDriverScanExec.Listing,
    census: FourMcFileFormat.Census,
    @transient hadoopConf: Configuration,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] =
    fold.map(_.results).getOrElse(projectList).map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  private def scan: FileSourceScanExec = child.collectFirst { case s: FileSourceScanExec => s }.get

  override def simpleString(maxFields: Int): String = {
    val what = fold match {
      case Some(f) =>
        s"keys=${truncatedString(f.groups, "[", ", ", "]", maxFields)}, " +
          s"functions=${truncatedString(f.aggs, "[", ", ", "]", maxFields)}"
      case None =>
        s"filter=${condition.getOrElse("none")}, output=${truncatedString(output, "[", ", ", "]", maxFields)}"
    }
    s"McDriverScan ${scan.relation.fileFormat} driver read: files=${files.length}, " +
      s"blocks from stats=${census.answered}, blocks decoded=${census.decoded} " +
      s"(${census.lines} lines), blocks skipped=${census.skipped}, $what"
  }

  override def executeCollect(): Array[InternalRow] = run(Int.MaxValue)

  /** Stops reading once it has `n` rows (an aggregate reads everything). */
  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty
    else if (fold.isDefined) run(Int.MaxValue).take(n)
    else run(n)

  private def run(limit: Int): Array[InternalRow] = McDriverScanExec.interpreted(conf) {
    fold match {
      case None =>
        val out = ArrayBuffer.empty[InternalRow]
        each { r => out += r.copy(); out.length >= limit }
        out.toArray
      case Some(f) =>
        val input = projectList.map(_.toAttribute)
        val fresh = AggregatingAccumulator(f.aggs, input)
        val keyOf = UnsafeProjection.create(f.groups, input)
        val groups = new java.util.LinkedHashMap[UnsafeRow, AggregatingAccumulator]
        // a global aggregate answers one row even over no input
        if (f.groups.isEmpty) groups.put(keyOf(InternalRow.empty).copy(), fresh)
        each { in =>
          val key = keyOf(in)
          var acc = groups.get(key)
          if (acc == null) { acc = fresh.copyAndReset(); groups.put(key.copy(), acc) }
          acc.add(in)
          false
        }
        val result = UnsafeProjection.create(f.results,
          f.groups.map(_.toAttribute) ++ f.aggs.map(_.resultAttribute))
        val joined = new JoinedRow
        groups.entrySet.asScala.iterator
          .map(e => result(joined(e.getKey, e.getValue.value)).copy(): InternalRow).toArray
    }
  }

  /** Feeds the filtered, projected rows to `sink` until it returns true
    * (the scan's metrics record the rows its reader made). Call it under
    * [[McDriverScanExec.interpreted]].
    */
  private[plans] def each(sink: InternalRow => Boolean): Unit = {
    val scan = this.scan
    val pass = condition.map { c =>
      val p = Predicate.create(c, scan.output)
      p.initialize(0)
      p
    }
    val project = UnsafeProjection.create(projectList, scan.output)
    var rowsRead = 0L
    readFiles(scan) { r =>
      rowsRead += 1
      pass.forall(_.eval(r)) && sink(project(r))
    }
    reportScan(scan, rowsRead)
  }

  /** Feeds the rows of every file, in the scan's output order, to `stop`
    * until it returns true. A failed read raises what a failed scan task
    * raises; errors of the operators above the scan pass as they are.
    */
  private def readFiles(scan: FileSourceScanExec)(stop: InternalRow => Boolean): Unit = {
    val relation = scan.relation
    // each file's reader output (closed when the read stops early), and
    // the rows it carries
    val (read, rowsOf) = relation.fileFormat match {
      case stats: FourMcStatsFileFormat =>
        // the stats rows carry no partition values: join them on
        val joined = new JoinedRow
        (stats.reader(scan.requiredSchema, relation.options, () => hadoopConf),
          (f: PartitionedFile, it: Iterator[InternalRow]) => it.map(joined(_, f.partitionValues)))
      case fmt: FourMcFileFormat =>
        (fmt.batchReader(relation.dataSchema, relation.partitionSchema, scan.requiredSchema,
          pushedFilters, relation.options, None, () => hadoopConf),
          (_: PartitionedFile, it: Iterator[InternalRow]) =>
            it.asInstanceOf[Iterator[ColumnarBatch]].flatMap(_.rowIterator().asScala))
    }
    val it = files.iterator
    var done = false
    while (!done && it.hasNext) {
      val f = it.next()
      def reading[A](a: => A): A =
        try a
        catch {
          // Spark's own errors pass as they are
          case NonFatal(e) if !e.isInstanceOf[SparkThrowable] =>
            throw PlanBridge.cannotReadFile(f.urlEncodedPath, e)
        }
      val source = reading(read(f))
      try {
        val rows = rowsOf(f, source)
        while (!done && reading(rows.hasNext)) done = stop(reading(rows.next()))
      } finally source match {
        case c: java.io.Closeable => c.close()
        case _                    => // an empty iterator: a file the reader skips
      }
    }
  }

  /** The file scan's SQL metrics, as if it had run: the rows its reader
    * made, and the totals of the listing planning ran. (Spark clones the
    * planned tree before execution, and the scan's listing is a lazy value
    * of each instance, so asking the scan would list the files again.)
    */
  private def reportScan(scan: FileSourceScanExec, rowsRead: Long): Unit = {
    val numRows = scan.longMetric("numOutputRows")
    numRows.add(rowsRead)
    Seq("numFiles" -> listing.files, "filesSize" -> listing.bytes,
      "numPartitions" -> listing.partitions.toLong).foreach { case (name, v) =>
      scan.driverMetrics.get(name).foreach(_.set(v))
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      numRows +: scan.driverMetrics.values.toSeq)
  }

  // below another operator: the answer as a one-partition RDD
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(newChild: SparkPlan): McDriverScanExec =
    copy(child = newChild)
}

object McDriverScanExec {

  /** `body` with every projection and predicate it creates interpreted: a
    * few thousand rows never repay compiling one.
    */
  private[plans] def interpreted[A](conf: SQLConf)(body: => A): A = {
    val c = conf.clone()
    c.setConf(SQLConf.CODEGEN_FACTORY_MODE, CodegenObjectFactoryMode.NO_CODEGEN)
    SQLConf.withExistingConf(c)(body)
  }

  /** Totals of the file listing the node reads. */
  final case class Listing(files: Long, bytes: Long, partitions: Int)

  /** The aggregate the node folds its rows into. */
  final case class Fold(
      groups: Seq[NamedExpression], aggs: Seq[AggregateExpression], results: Seq[NamedExpression])
}
