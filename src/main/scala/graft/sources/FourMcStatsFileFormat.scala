package graft.sources

import graft.format._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** Internal scan relation for MIN/MAX/COUNT(*) aggregate pushdown over 4mc
  * files — the zone-map twin of parquet's aggregate pushdown
  * (reference zone maps: the stats segment, `graft/format/BlockStats.scala`).
  *
  * [[graft.plans.McAggregatePushdown]] rewrites an unfiltered global
  * `Aggregate[min(a), max(b), count(*)]` over a 4mc csv scan into the same
  * aggregate over THIS format, whose schema is one row per owned block:
  * `_min_<i>` / `_max_<i>` (type of data column i) and `_cnt` (long). For a
  * block whose footer stats can answer every requested bound exactly, the
  * row is synthesized from the stats segment — the block is NEVER read or
  * decompressed. Blocks that can't (NaN-poisoned double bounds, truncated
  * string bounds, custom timestamp formats, stats-less files) are decoded
  * by the plain scan's batch reader
  * ([[FourMcVectorizedReader.csvDecoder]], over the needed columns only)
  * and emit one `(v, v, …, 1)` row per owned line — `min(min)`/`max(max)`/
  * `sum(cnt)` over the union is exact either way, so degradation is
  * per-block and value-transparent.
  *
  * Split semantics are identical to the data scan: a block's stats row is
  * emitted by the split that owns the block header, so any partition of the
  * byte range partitions the aggregate inputs exactly (same ownership rule
  * as [[graft.format.FourMcIndex.ownedBlocks]]). Footer reads stay task-side —
  * planning this relation lists files only — with one bounded exception:
  * when the file list and the decode load are small,
  * [[graft.plans.McDriverScanExec]] reads the footers while planning
  * (through the shared index cache) and runs [[reader]] on the driver,
  * with no Spark job.
  *
  * `dataFilters` (the data conjuncts of a FILTERED aggregate, `MIN(ts)
  * WHERE ts >= X`, as the rule translated them for the manifest index)
  * take the block plan every 4mc reader takes
  * ([[FourMcFileFormat.blockVerdicts]]): a refuted block is skipped
  * (counted in `blocksSkipped`); a block whose lines all pass answers from
  * the footer when its stats answer exactly (counted in `statsAggBlocks`);
  * any other block decodes. The batch reader may stop evaluating the
  * filters on a stretch of rows that refuses little, so every decoded row
  * is re-checked by [[CsvPayload.compileFilters]], the plain scan's line
  * check. No Spark Filter sits above this relation, so the rule hands it
  * only conjuncts both checks decide exactly.
  */
class FourMcStatsFileFormat(
    origSchema: StructType,
    dataFilters: Seq[Filter] = Nil,
    groupColsIn: Seq[Int] = Nil
) extends FileFormat with Serializable {

  // dict-group mode: one string data column answered from v4 per-column
  // histograms, or TWO answered from v5 JOINT histograms (ascending ordinal
  // order fixes the relation row layout; the rule resolves by name/exprId,
  // so the user's GROUP BY order is free)
  private val grpCols: Array[Int] = groupColsIn.sorted.toArray
  require(grpCols.length <= 2, "dict-group mode supports at most two group columns")

  override def toString: String = "4MC-STATS"

  override def inferSchema(
      sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[org.apache.hadoop.fs.FileStatus]
  ): Option[StructType] = None // constructed by the rule with an explicit schema

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType
  ): OutputWriterFactory =
    throw new UnsupportedOperationException("4mc stats relation is read-only")

  override def isSplitable(
      sparkSession: SparkSession,
      options: Map[String, String],
      path: org.apache.hadoop.fs.Path
  ): Boolean = true

  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration
  ): PartitionedFile => Iterator[InternalRow] = {
    val broadcastConf =
      sparkSession.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    reader(requiredSchema, options, () => broadcastConf.value.value)
  }

  /** What one required schema asks of the footers, and the per-block
    * verdicts that follow from it. Shared by the reader and
    * [[blockVerdicts]], so planning classifies every block exactly as the
    * reader will.
    */
  private final class Layout(requiredSchema: StructType) extends Serializable {
    import FourMcStatsFileFormat.FieldSpec
    val totalFields: Int = origSchema.length
    val origTags: Array[Int] = origSchema.fields.map(f => CsvPayload.tagOf(f.dataType))

    // decode the synthetic field names: _min_<i>/_max_<i>/_nn_<i>/_sum_<i>/_cnt,
    // plus (dict-group mode) the GROUP column(s) themselves under their
    // original names
    val groupNames: Map[String, Int] =
      grpCols.map(c => origSchema.fields(c).name -> c).toMap
    val specs: Array[FieldSpec] = requiredSchema.fields.map { f =>
      f.name match {
        case n if groupNames.contains(n)      => FieldSpec(5, groupNames(n))
        case "_cnt"                           => FieldSpec(2, -1)
        case n if n.startsWith("_min_")       => FieldSpec(0, n.stripPrefix("_min_").toInt)
        case n if n.startsWith("_max_")       => FieldSpec(1, n.stripPrefix("_max_").toInt)
        case n if n.startsWith("_nn_")        => FieldSpec(3, n.stripPrefix("_nn_").toInt)
        case n if n.startsWith("_sum_")       => FieldSpec(4, n.stripPrefix("_sum_").toInt)
        case other =>
          throw new IllegalArgumentException(s"unexpected stats-relation field $other")
      }
    }
    val groupMode: Boolean = grpCols.nonEmpty
    val jointMode: Boolean = grpCols.length == 2
    val needMin: Set[Int] = specs.filter(_.kind == 0).map(_.col).toSet
    val needMax: Set[Int] = specs.filter(_.kind == 1).map(_.col).toSet
    val needNn: Set[Int] = specs.filter(_.kind == 3).map(_.col).toSet
    val needSum: Set[Int] = specs.filter(_.kind == 4).map(_.col).toSet
    // bounds columns gate stats usability (exactness of min/max); sum
    // columns gate on the v2 FlagHasSum (v1 segments decode instead);
    // nn-only columns need just the nullCount array, which is always exact
    // when a stats segment exists. Filter columns are parsed in the
    // decode fallback (their values feed the line check) but impose no
    // exactness condition — the block verdicts already consulted their zones.
    val boundsCols: Set[Int] = needMin ++ needMax
    val filterCols: Set[Int] =
      dataFilters.flatMap(_.references).map(origSchema.fieldIndex).toSet
    val groupCols: Set[Int] = grpCols.toSet
    val neededCols: Array[Int] =
      (boundsCols ++ needNn ++ needSum ++ filterCols ++ groupCols).toArray.sorted
    /** The data columns a decoded block reads, in ordinal order. */
    val neededSchema: StructType = StructType(neededCols.map(origSchema.fields(_)))
    val isBoundsCol: Array[Boolean] = neededCols.map(boundsCols.contains)
    val isSumCol: Array[Boolean] = neededCols.map(needSum.contains)

    /** Per-FILE effective tags: micros-encoded timestamps carry tag 14 in
      * this file's stats segment (identity mapping — origTags indexes
      * data-schema ordinals directly).
      */
    def fileTags(index: FourMcIndex): Array[Int] =
      CsvPayload.fileTags(origTags, Array.tabulate(origTags.length)(identity), index.stats)

    /** Does the segment describe THIS read schema? A file written with a
      * different column set (text-payload compaction of a csv dir, schema
      * evolution, mixed-writer dirs) carries a stats segment whose [block ×
      * col] arrays would MIS-INDEX under this schema's ordinals — silently
      * wrong bounds, not just a crash. Mismatched files degrade to the
      * per-line decode branch, value-exact. (The data scan's pruning has the
      * same guard, per column; this is the aggregate twin.)
      * int→long type widening (r16) keeps the stats path: int-tagged zone
      * bounds, null counts, and sums already live in the long domain, so
      * they answer a LongType read column exactly.
      */
    def statsMatch(st: McBlockStats, effTags: Array[Int]): Boolean =
      st.nCols == totalFields && st.tags.indices.forall { i =>
        st.tags(i) == effTags(i) ||
          (st.tags(i) == CsvPayload.TagInt && effTags(i) == CsvPayload.TagLong)
      }

    /** Can block `b`'s stats answer every requested bound EXACTLY?
      * (nn-only columns impose no condition: nullCount is stored
      * exactly for every column whenever the stats segment exists.)
      */
    def statsUsable(st: McBlockStats, b: Int, effTags: Array[Int]): Boolean = {
      if (jointMode) {
        // two-column dict-group mode: the block must carry a v5 JOINT
        // histogram for the pair — exact and complete by construction
        // (Σ entry counts == owned lines, nulls included); blocks
        // without one (v≤4 files, entry-cap overflow, dict death)
        // decode instead
        if (st.lineCount(b) > 0 && st.jointAt(b, grpCols(0), grpCols(1)) == null)
          return false
      } else if (groupMode) {
        // dict-group mode: the block's exact value histogram (v4 dict
        // counts) must cover the group column — or the block has no
        // non-null group values at all (only the null-group row, whose
        // count is the always-exact nullCount)
        val k = b * st.nCols + grpCols(0)
        if (st.lineCount(b) - st.nullCount(k) > 0 && st.dictCountsAt(k) == null)
          return false
      }
      var ci = 0
      while (ci < neededCols.length) {
        val c = neededCols(ci)
        val k = b * st.nCols + c
        val nonNull = st.lineCount(b) - st.nullCount(k)
        if (isBoundsCol(ci) && nonNull > 0) {
          if (!st.hasBounds(k)) return false // NaN-poisoned / custom-ts
          if (effTags(c) == CsvPayload.TagString) {
            // truncated (inexact) bounds are still answerable EXACTLY
            // when the block carries a complete value dictionary
            // (r16): min/max over its ≤32 exact entries
            val dictless = st.dictAt(k) == null
            if (needMin.contains(c) && !st.minExact(k) && dictless) return false
            if (needMax.contains(c) && !st.maxExact(k) && dictless) return false
          }
        }
        // v1 segments carry no sums: decode those blocks instead
        if (isSumCol(ci) && nonNull > 0 && !st.sumAt(k)) return false
        ci += 1
      }
      true
    }

    /** Per-block verdicts ([[FourMcFileFormat.BlockVerdict]]) of one
      * file: the plain read's verdicts ([[FourMcFileFormat.blockVerdicts]])
      * over the needed columns, with each block whose lines all pass the
      * filters answered where [[statsUsable]] holds. A file whose stats
      * segment does not describe this read schema decodes whole.
      */
    def classify(index: FourMcIndex): Array[Byte] = {
      import FourMcFileFormat.BlockVerdict._
      val effTags = fileTags(index)
      index.stats.filter(statsMatch(_, effTags)) match {
        case None => Array.fill(index.numBlocks)(Decode)
        case Some(st) =>
          val plain = FourMcFileFormat.blockVerdicts(index, origSchema, neededSchema, dataFilters,
            statsEnabled = true, permissive = false, runtimeKeys = None)
          Array.tabulate(st.nBlocks) { b =>
            val v = plain(b)
            if (v == Skipped) Skipped
            else if ((v == Certain || v == Counted) && statsUsable(st, b, effTags)) Answered
            else Decode
          }
      }
    }
  }

  /** The per-file reader behind [[buildReader]], minus its broadcast:
    * [[graft.plans.McDriverScanExec]] calls it on the driver with the
    * session's own hadoop conf. Each file's input closes when its rows are
    * exhausted, when its footer read throws, on `close()` of the returned
    * iterator (the driver's `finally`), and at task completion inside a
    * task.
    */
  private[graft] def reader(
      requiredSchema: StructType,
      options: Map[String, String],
      conf: () => Configuration
  ): PartitionedFile => Iterator[InternalRow] = {
    val origScale: Array[Int] = origSchema.fields.map(f => CsvPayload.scaleOf(f.dataType))
    val origPrec: Array[Int] = origSchema.fields.map(f => CsvPayload.precisionOf(f.dataType))
    val layout = new Layout(requiredSchema)
    import layout._
    // blocks the footers cannot answer decode through the plain scan's
    // batch reader, over the needed columns only
    val decode = FourMcVectorizedReader.csvDecoder(neededSchema, new StructType(), origSchema,
      dataFilters, CsvPayload.delimiterOf(options.getOrElse("delimiter", "|")),
      options.getOrElse("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS"), permissive = false)
    // the plain scan's line check, over the data schema's own tags: the
    // batch reader may stop evaluating the filters on a stretch of rows
    // that refuses little, and no Spark Filter sits above this relation,
    // so every decoded row is checked here
    val lineChecks = CsvPayload.compileFilters(dataFilters, origSchema, origTags)
    val filterPos: Array[Int] = neededCols.indices.filter(ci => filterCols(neededCols(ci))).toArray
    val neededTypes: Array[DataType] = neededSchema.fields.map(_.dataType)
    // each relation field's position among the decoded columns (-1: `_cnt`)
    val specPos: Array[Int] = specs.map(sp => java.util.Arrays.binarySearch(neededCols, sp.col))

    /** A decoded row's partial row — (v, v, …, 1) over the needed columns —
      * or null when it fails the pushed filters.
      */
    def partialRow(row: InternalRow): InternalRow = {
      val parsed = new Array[Any](neededCols.length)
      var ci = 0
      while (ci < neededCols.length) {
        parsed(ci) =
          if (row.isNullAt(ci)) null
          else row.get(ci, neededTypes(ci)) match {
            case u: UTF8String => u.copy() // the batch's vectors are reused
            case v             => v
          }
        ci += 1
      }
      if (!filterPos.forall(ci => lineChecks(neededCols(ci)).accepts(parsed(ci)))) return null
      val vals = new Array[Any](specs.length)
      var i = 0
      while (i < specs.length) {
        val sp = specs(i)
        val v = if (specPos(i) < 0) null else parsed(specPos(i))
        vals(i) = (sp.kind: @scala.annotation.switch) match {
          case 2 => 1L
          case 3 => if (v == null) 0L else 1L
          case 4 => // the line's sum contribution, in Sum's result domain
            v match {
              case null                 => null
              case n: java.lang.Integer => java.lang.Long.valueOf(n.longValue)
              case f: java.lang.Float   => java.lang.Double.valueOf(f.doubleValue)
              case d: org.apache.spark.sql.types.Decimal =>
                org.apache.spark.sql.types.Decimal(d.toUnscaledLong,
                  math.min(38, origPrec(sp.col) + 10), origScale(sp.col))
              case other => other // long, double
            }
          case _ => v // kinds 0/1/5: the value itself
        }
        i += 1
      }
      new GenericInternalRow(vals)
    }

    (file: PartitionedFile) =>
      if (!FourMcFileFormat.accepts(file.toPath, options)) Iterator.empty
      else FourMcVectorizedReader.fileRead { read =>
        val in = FourMcFileFormat.openInput(file, conf())
        read.onFinish(in.close())
        val index = FourMcFileFormat.cachedIndex(file, in)
        val effTags = fileTags(index)

        def statBound(st: McBlockStats, b: Int, c: Int, isMax: Boolean): Any = {
          val k = b * st.nCols + c
          if (st.lineCount(b) - st.nullCount(k) == 0 || !st.hasBounds(k)) null
          else (effTags(c): @scala.annotation.switch) match {
            case CsvPayload.TagString =>
              val exact = if (isMax) st.maxExact(k) else st.minExact(k)
              if (!exact) {
                // statsUsable admitted this block because a complete dict
                // exists: the true bound is the extreme ENTRY (entries are
                // exact and cover every non-null value the block owns)
                UTF8String.fromBytes(st.dictAt(k).reduce((a, b) =>
                  if ((java.util.Arrays.compareUnsigned(a, b) > 0) == isMax) a else b))
              } else UTF8String.fromBytes(if (isMax) st.maxBytes(k) else st.minBytes(k))
            case CsvPayload.TagLong | CsvPayload.TagTimestamp |
                CsvPayload.TagTimestampMicros =>
              if (isMax) st.maxLong(k) else st.minLong(k)
            case CsvPayload.TagInt =>
              (if (isMax) st.maxLong(k) else st.minLong(k)).toInt
            case CsvPayload.TagDouble =>
              java.lang.Double.longBitsToDouble(if (isMax) st.maxLong(k) else st.minLong(k))
            case CsvPayload.TagFloat =>
              java.lang.Double.longBitsToDouble(if (isMax) st.maxLong(k) else st.minLong(k)).toFloat
            case CsvPayload.TagBoolean =>
              (if (isMax) st.maxLong(k) else st.minLong(k)) != 0L
            case CsvPayload.TagDate =>
              (if (isMax) st.maxLong(k) else st.minLong(k)).toInt
            case CsvPayload.TagDecimal =>
              org.apache.spark.sql.types.Decimal(
                if (isMax) st.maxLong(k) else st.minLong(k), origPrec(c), origScale(c))
          }
        }

        /** Stored per-block sum in Sum's result domain; null for all-null
          * blocks (SUM ignores nulls — a no-value block contributes nothing).
          */
        def statSum(st: McBlockStats, b: Int, c: Int): Any = {
          val k = b * st.nCols + c
          if (st.lineCount(b) - st.nullCount(k) == 0) null
          else if (effTags(c) == CsvPayload.TagDecimal)
            org.apache.spark.sql.types.Decimal(
              st.sumLong(k), math.min(38, origPrec(c) + 10), origScale(c))
          else if (graft.format.BlockStats.sumKindOf(effTags(c)) == 2)
            java.lang.Double.longBitsToDouble(st.sumLong(k))
          else st.sumLong(k)
        }

        /** Dict-group mode: one row per dictionary entry of block `b`'s
          * group column — `(value, count, count)` straight from the v4
          * histogram — plus a `(null, 0, nullCount)` row for the block's
          * null group. Exact: Σ counts + nullCount == lineCount by
          * construction (every non-null value passed through the builder's
          * dict, or the block wouldn't be stats-usable).
          */
        def groupRows(st: McBlockStats, b: Int): Iterator[InternalRow] = {
          val k = b * st.nCols + grpCols(0)
          val dict = st.dictAt(k)
          val counts = st.dictCountsAt(k)
          val nulls = st.nullCount(k)
          val nEnt = if (counts == null) 0 else dict.length
          val total = nEnt + (if (nulls > 0) 1 else 0)
          (0 until total).iterator.map { e =>
            val isNullRow = e >= nEnt
            val vals = new Array[Any](specs.length)
            var i = 0
            while (i < specs.length) {
              val s = specs(i)
              vals(i) = (s.kind: @scala.annotation.switch) match {
                case 2 => if (isNullRow) nulls.toLong else counts(e).toLong
                case 3 => if (isNullRow) 0L else counts(e).toLong
                case 5 => if (isNullRow) null else UTF8String.fromBytes(dict(e))
                case other =>
                  throw new IllegalStateException(s"spec kind $other in dict-group mode")
              }
              i += 1
            }
            new GenericInternalRow(vals)
          }
        }

        /** Two-column dict-group mode: one row per JOINT histogram entry of
          * block `b` — `(v1, v2, nn1, nn2, count)` straight from the v5
          * table. A −1 entry ordinal is the NULL value of that column; its
          * `_nn_<c>` contribution is 0 (COUNT(col) skips nulls) while `_cnt`
          * still carries the pair's row count.
          */
        def jointRows(st: McBlockStats, b: Int): Iterator[InternalRow] = {
          val jh = st.jointAt(b, grpCols(0), grpCols(1))
          if (jh == null) return Iterator.empty // statsUsable admits only empty blocks here
          val d1 = st.dictAt(b * st.nCols + grpCols(0))
          val d2 = st.dictAt(b * st.nCols + grpCols(1))
          (0 until jh.counts.length).iterator.map { e =>
            val vals = new Array[Any](specs.length)
            var i = 0
            while (i < specs.length) {
              val s = specs(i)
              vals(i) = (s.kind: @scala.annotation.switch) match {
                case 2 => jh.counts(e).toLong
                case 3 =>
                  val ord = if (s.col == grpCols(0)) jh.i1(e) else jh.i2(e)
                  if (ord < 0) 0L else jh.counts(e).toLong
                case 5 =>
                  if (s.col == grpCols(0)) {
                    if (jh.i1(e) < 0) null else UTF8String.fromBytes(d1(jh.i1(e)))
                  } else {
                    if (jh.i2(e) < 0) null else UTF8String.fromBytes(d2(jh.i2(e)))
                  }
                case other =>
                  throw new IllegalStateException(s"spec kind $other in dict-group mode")
              }
              i += 1
            }
            new GenericInternalRow(vals)
          }
        }

        def statsRow(st: McBlockStats, b: Int): InternalRow = {
          val vals = new Array[Any](specs.length)
          var i = 0
          while (i < specs.length) {
            val s = specs(i)
            vals(i) = (s.kind: @scala.annotation.switch) match {
              case 2 => st.lineCount(b).toLong
              case 3 => (st.lineCount(b) - st.nullCount(b * st.nCols + s.col)).toLong
              case 4 => statSum(st, b, s.col)
              case _ => statBound(st, b, s.col, isMax = s.kind == 1)
            }
            i += 1
          }
          new GenericInternalRow(vals)
        }

        import FourMcFileFormat.BlockVerdict._
        val verdicts = classify(index)
        val answered =
          index.ownedBlocks(file.start, file.start + file.length).filter(verdicts(_) == Answered)
        FourMcScanMetrics.statsAggBlocks.add(answered.length)
        val synthesized: Iterator[InternalRow] = index.stats match {
          case Some(st) =>
            if (jointMode) answered.iterator.flatMap(jointRows(st, _))
            else if (groupMode) answered.iterator.flatMap(groupRows(st, _))
            else answered.iterator.map(statsRow(st, _))
          case None => Iterator.empty
        }
        val decoded = decode(in, index, file, verdicts, read).asInstanceOf[Iterator[ColumnarBatch]]
          .flatMap(_.rowIterator().asScala).map(partialRow).filter(_ != null)
        synthesized ++ decoded
      }
  }

  /** Per-block verdicts ([[FourMcFileFormat.BlockVerdict]]) of whole
    * files for [[graft.plans.McDriverScanStrategy]]'s census: the verdicts
    * [[reader]] reaches on the same files.
    */
  private[graft] def blockVerdicts(requiredSchema: StructType): FourMcIndex => Array[Byte] =
    new Layout(requiredSchema).classify
}

object FourMcStatsFileFormat {

  /** One relation field: kind 0=min 1=max 2=cnt 3=non-null cnt 4=sum 5=group value. */
  private[sources] final case class FieldSpec(kind: Int, col: Int)

  /** Schema for dict-group mode: the group column(s) under their ORIGINAL
    * names (so the rewritten Aggregate's grouping attributes resolve against
    * the relation unchanged), a per-(block, value) non-null count per group
    * column, and the per-(block, value) row count. One relation row per
    * dictionary entry per block (single column, + one per block's null
    * group) or per v5 JOINT-histogram entry (two columns); `GROUP BY g…`
    * aggregates become `Sum(_cnt)` / `Sum(_nn_g)` / `Min/Max(g)` /
    * `Count(DISTINCT g)` over these — all insensitive to the per-block row
    * multiplicity. Columns are laid out in ascending ordinal order, matching
    * the format's own normalization.
    */
  def groupSchema(origSchema: StructType, groupCols: Seq[Int]): StructType = {
    val cols = groupCols.sorted
    StructType(
      cols.map(c => StructField(origSchema.fields(c).name,
        origSchema.fields(c).dataType, nullable = true)) ++
        cols.map(c => StructField(s"_nn_$c", LongType, nullable = false)) :+
        StructField("_cnt", LongType, nullable = false))
  }

  /** Synthetic schema for the rule: bounds for each (colIdx, needMin,
    * needMax) target, a `_nn_<i>` per-block non-null count for each
    * COUNT(col) column, a `_sum_<i>` per-block sum for each SUM column
    * (long for int/long columns, double for double/float — Sum's own result
    * domain), plus the `_cnt` line-count column.
    */
  def statsSchema(
      origSchema: StructType,
      targets: Seq[(Int, Boolean, Boolean)],
      nnCols: Seq[Int] = Nil,
      sumCols: Seq[Int] = Nil): StructType = {
    val fields = targets.flatMap { case (i, wantMin, wantMax) =>
      val dt = origSchema.fields(i).dataType
      (if (wantMin) Seq(StructField(s"_min_$i", dt, nullable = true)) else Nil) ++
        (if (wantMax) Seq(StructField(s"_max_$i", dt, nullable = true)) else Nil)
    } ++ nnCols.map(i => StructField(s"_nn_$i", LongType, nullable = false)) ++
      sumCols.map { i =>
        val dt = origSchema.fields(i).dataType
        val kind = graft.format.BlockStats.sumKindOf(CsvPayload.tagOf(dt))
        // decimal partials ride Sum's own result domain DecimalType(p+10, s):
        // a block's unscaled long sum always fits (values ≤ p digits, blocks
        // < 10^7 rows ⇒ sums < p+7 digits), so every stored sum converts
        // losslessly and re-summing partials is Sum's partial-then-combine
        val sumType = dt match {
          case d: org.apache.spark.sql.types.DecimalType =>
            org.apache.spark.sql.types.DecimalType(math.min(38, d.precision + 10), d.scale)
          case _ => if (kind == 2) DoubleType else LongType
        }
        StructField(s"_sum_$i", sumType, nullable = true)
      } :+ StructField("_cnt", LongType, nullable = false)
    StructType(fields)
  }
}
