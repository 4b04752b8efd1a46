package graft.sources

import graft.format._

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import scala.jdk.CollectionConverters._

/** Vectorized (ColumnarBatch) readers for the 4mc container: the line,
  * record and column streams of one split (pruned through
  * [[FourMcFileFormat.csvLines]] / [[FourMcFileFormat.columnarCursor]]),
  * decoded into `OnHeapColumnVector`s in 4 K-row batches. They are the
  * only decoder of the `4mc` source: when Spark asks the scan for rows
  * ([[BatchRows]]), the same batches are flattened, and the footer-stats
  * relation ([[FourMcStatsFileFormat]]) decodes the blocks its footers
  * cannot answer through [[csvDecoder]].
  *
  * Why batches win here (the parquet twin's remaining edge at sf1): the
  * downstream whole-stage-codegen loop consumes a `ColumnarBatch` through
  * `ColumnarToRow` with per-batch virtual-call amortization and
  * cache-resident columns, and the PARSE itself becomes column-major — one
  * tight per-column loop over 4 096 byte slices with a single tag dispatch
  * per COLUMN instead of per value (branch-prediction-friendly), writing
  * unboxed primitives into a flat array.
  *
  * Pushed-filter fail-fast survives vectorization row-major: filter-bound
  * fields are parsed and tested at BUFFER time (before a line enters the
  * batch), so a refuted row costs exactly the filter fields' parse — the
  * same work order as a row-at-a-time parse — and batches arrive
  * pre-compacted (Spark's ColumnarBatch has no selection vector to mask
  * dead rows with).
  *
  * Partition values ride [[ConstantColumnVector]]s (populated once per
  * split); `_metadata` fields arrive as constant columns Spark appends to
  * each batch.
  */
object FourMcVectorizedReader {

  val BatchSize = 4096

  /** Spark dictionary over a columnar block's dict-encoded string stream
    * ([[graft.format.ColumnarBlocks.DictFlag]]): the batch carries 1-int
    * codes in the vector's dictionary-id lane and values decode lazily at
    * read time — the same mechanism Spark's parquet reader uses for
    * dictionary-encoded pages, so a group-by key column never copies its
    * bytes per row at fill time.
    */
  private final class McColumnDictionary(entries: Array[Array[Byte]])
      extends org.apache.spark.sql.execution.vectorized.Dictionary {
    override def decodeToBinary(id: Int): Array[Byte] = entries(id)
    override def decodeToInt(id: Int): Int = throw new UnsupportedOperationException
    override def decodeToLong(id: Int): Long = throw new UnsupportedOperationException
    override def decodeToFloat(id: Int): Float = throw new UnsupportedOperationException
    override def decodeToDouble(id: Int): Double = throw new UnsupportedOperationException
  }

  /** Can every column of `schema` be held by our vectors? Data columns
    * are already limited to the writer's `supportDataType` set; the flat
    * types beyond it (bytes, shorts, decimals wider than 18 digits) can
    * only be partition columns, which ride [[ConstantColumnVector]]s.
    * Numeric arrays decode into OnHeapColumnVector CHILD vectors (elements
    * append across the batch; `putArray` records per-row (offset, length)).
    */
  def vectorizable(schema: StructType): Boolean =
    schema.forall(f => f.dataType match {
      case StringType | BinaryType | LongType | IntegerType | ShortType | ByteType |
          DoubleType | FloatType | BooleanType | TimestampType | TimestampNTZType |
          DateType | _: DecimalType => true
      case ArrayType(LongType | FloatType | DoubleType, _) => true
      case MapType(StringType, StringType, _) => true // key/value child vectors
      case _ => false
    })

  private def partitionVectors(
      partitionSchema: StructType, partitionValues: InternalRow): Array[ColumnVector] =
    partitionSchema.fields.zipWithIndex.map { case (f, i) =>
      val v = new ConstantColumnVector(BatchSize, f.dataType)
      ColumnVectorUtils.populate(v, partitionValues, i)
      v: ColumnVector
    }

  /** Iterator of ColumnarBatch type-erased to Iterator[InternalRow] — the
    * FileSourceScanExec contract when `supportBatch` is true.
    */
  private def erase(it: Iterator[ColumnarBatch]): Iterator[InternalRow] =
    it.asInstanceOf[Iterator[InternalRow]]

  /** A batch reader serving rows: Spark asks a scan for rows when it plans
    * it without whole-stage codegen or with more output fields than
    * `spark.sql.codegen.maxFields`, and passes the rows on as they are —
    * into exchanges that need `UnsafeRow`s. Each batch is flattened with
    * `rowIterator()` through one `UnsafeProjection` of the output schema
    * per deserialized reader, i.e. per task.
    */
  final class BatchRows(schema: StructType, batches: PartitionedFile => Iterator[InternalRow])
      extends (PartitionedFile => Iterator[InternalRow]) with Serializable {
    @transient private lazy val toUnsafe = UnsafeProjection.create(schema)
    override def apply(file: PartitionedFile): Iterator[InternalRow] =
      batches(file).asInstanceOf[Iterator[ColumnarBatch]]
        .flatMap(_.rowIterator().asScala)
        .map(toUnsafe)
  }

  /** The metadata-only COUNT(*) stream: `batch` (no data columns, only
    * partition constants) re-emitted until `n` rows are out. A split's
    * owned-line count is a Long (a single split of a highly compressible
    * file can own >2^31 lines under a pathological `maxPartitionBytes`), so
    * the emitter counts in Long.
    */
  private[sources] def countBatches(batch: ColumnarBatch, n: Long): Iterator[ColumnarBatch] =
    new Iterator[ColumnarBatch] {
      private var remaining = n
      override def hasNext: Boolean = remaining > 0
      override def next(): ColumnarBatch = {
        val k = math.min(remaining, BatchSize.toLong).toInt
        remaining -= k
        batch.setNumRows(k)
        batch
      }
    }

  /** What one file's reader releases and reports, once: when its batches
    * are exhausted, on `close()` of the returned iterator (a consumer
    * outside a task that stops early or fails), and at task completion
    * inside a task. Scan counters are added here rather than in a task
    * listener, so a read on the driver counts as a task's read does.
    */
  private[sources] final class FileRead {
    private var actions = List.empty[() => Unit]
    private var done = false
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => finish()))

    /** Runs `a` at finish, before everything registered earlier. */
    def onFinish(a: => Unit): Unit = actions ::= (() => a)

    def finish(): Unit = if (!done) { done = true; run(actions) }

    private def run(as: List[() => Unit]): Unit = as match {
      case a :: rest => try a() finally run(rest)
      case Nil       =>
    }
  }

  /** One file's batches from `open`, wrapped so that everything it
    * registered on its [[FileRead]] runs once: also when `open` throws.
    */
  private[sources] def fileRead(open: FileRead => Iterator[InternalRow]): Iterator[InternalRow] = {
    val read = new FileRead
    val batches =
      try open(read)
      catch { case e: Throwable => read.finish(); throw e }
    org.apache.spark.sql.graftbridge.PlanBridge.completionIterator(batches)(read.finish())
  }

  /** [[csvReader]] with its hadoop conf from a broadcast, for a reader
    * built once and shipped to tasks.
    */
  def csvReader(
      requiredSchema: StructType,
      partitionSchema: StructType,
      dataSchema: StructType,
      filters: Seq[Filter],
      delim: Byte,
      tsFmt: String,
      statsEnabled: Boolean,
      permissive: Boolean,
      rkfOpt: Option[(String, org.apache.spark.broadcast.Broadcast[Array[Long]], Boolean)],
      broadcastConf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
      extOk: PartitionedFile => Boolean
  ): PartitionedFile => Iterator[InternalRow] =
    csvReader(requiredSchema, partitionSchema, dataSchema, filters, delim, tsFmt, statsEnabled,
      permissive, rkfOpt, conf = () => broadcastConf.value.value, extOk = extOk)

  /** Typed-csv batch reader over both block layouts (rows, columnar): each
    * file's blocks are read as [[FourMcFileFormat.blockVerdicts]] decides.
    * Each file's iterator is `Closeable` (see [[FileRead]]).
    */
  def csvReader(
      requiredSchema: StructType,
      partitionSchema: StructType,
      dataSchema: StructType,
      filters: Seq[Filter],
      delim: Byte,
      tsFmt: String,
      statsEnabled: Boolean,
      permissive: Boolean,
      rkfOpt: Option[(String, org.apache.spark.broadcast.Broadcast[Array[Long]], Boolean)],
      conf: () => org.apache.hadoop.conf.Configuration,
      extOk: PartitionedFile => Boolean
  ): PartitionedFile => Iterator[InternalRow] = {
    val decode = csvDecoder(requiredSchema, partitionSchema, dataSchema, filters, delim, tsFmt, permissive)
    (file: PartitionedFile) => if (!extOk(file)) Iterator.empty else fileRead { read =>
      val in = FourMcFileFormat.openInput(file, conf())
      read.onFinish(in.close())
      val index = FourMcFileFormat.cachedIndex(file, in)
      val verdicts = FourMcFileFormat.blockVerdicts(index, dataSchema, requiredSchema, filters,
        statsEnabled, permissive, rkfOpt.map { case (c, keys, hashed) => (c, keys.value, hashed) })
      decode(in, index, file, verdicts, read)
    }
  }

  /** The per-file body of [[csvReader]]: the batches of one split of an
    * open csv file, decoding the owned blocks whose `verdicts`
    * ([[FourMcFileFormat.BlockVerdict]]) decode. Skipped blocks are
    * counted in `blocksSkipped` (those owning a line; an Answered block is
    * the caller's), every block decoded in `blocksRead`.
    *
    * Pushed `filters` may be applied only in part: the adaptive probe
    * below stops evaluating them on stretches that refuse little, which is
    * sound under a Spark Filter; a caller with none above it re-checks.
    */
  private[sources] def csvDecoder(
      requiredSchema: StructType,
      partitionSchema: StructType,
      dataSchema: StructType,
      filters: Seq[Filter],
      delim: Byte,
      tsFmt: String,
      permissive: Boolean
  ): (McInput, FourMcIndex, PartitionedFile, Array[Byte], FileRead) => Iterator[InternalRow] = {
    val fieldIdx = requiredSchema.fields.map(f => dataSchema.fieldIndex(f.name))
    val fieldTags: Array[Int] = requiredSchema.fields.map(f => CsvPayload.tagOf(f.dataType))
    require(!fieldTags.contains(CsvPayload.TagArrInt),
      "csv payload stores array<int> widened to array<long>; declare array<long> in the read schema")
    val nFields = requiredSchema.length
    val totalFields = dataSchema.length
    val neededFields = if (fieldIdx.isEmpty) 0 else fieldIdx.max + 1
    // lowest field any consumer reads (starts(src) / starts(src+1)): the
    // boundary scan popcount-skips delimiters of fields below this
    val firstField = if (fieldIdx.isEmpty) 1 else math.max(1, fieldIdx.min)
    val fieldScale: Array[Int] = requiredSchema.fields.map(f => CsvPayload.scaleOf(f.dataType))
    val fieldPrec: Array[Int] = requiredSchema.fields.map(f => CsvPayload.precisionOf(f.dataType))
    // decimal precision <= 9 stores its unscaled value in the vector's INT
    // lane (Spark's compact-decimal vector layout); <= 18 in the long lane
    val intDecimal: Array[Boolean] =
      requiredSchema.fields.map(f => CsvPayload.precisionOf(f.dataType) match {
        case p if p < 0 => false
        case p          => p <= org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS
      })
    val tsMicroDigits = CsvPayload.fixedPatternFracDigits(tsFmt)
    val fieldPreds = CsvPayload.compileFilters(filters, requiredSchema, fieldTags)
    // filter-bound fields, evaluated at buffer time in pushdown order
    val predFields: Array[Int] =
      (0 until nFields).filter(k => fieldPreds(k).nonEmpty).toArray

    (in, index, file, verdicts, read) => {
      import FourMcFileFormat.BlockVerdict._
      val owned = index.ownedBlocks(file.start, file.start + file.length)
      // the metric is pruning effectiveness: a refuted block that owns no
      // line was never going to be decompressed by this split
      FourMcScanMetrics.blocksSkipped.add(
        owned.count(b => verdicts(b) == Skipped && index.stats.get.lineCount(b) > 0))
      // Metadata-only COUNT(*) (Counted is a whole-file verdict): the
      // stats segment's per-block OWNED-line counts answer the split, so
      // the footer is the only byte it reads — a `SELECT COUNT(*)` over
      // 100 TB is a footer sweep. Ownership makes the sum exact under ANY
      // split layout.
      if (verdicts.contains(Counted)) {
        val n = owned.iterator.map(index.stats.get.lineCount(_).toLong).sum
        FourMcScanMetrics.metadataCountRows.add(n)
        val partVecs = partitionVectors(partitionSchema, file.partitionValues)
        val batch = new ColumnarBatch(partVecs)
        read.onFinish(batch.close())
        erase(countBatches(batch, n))
      } else if (!owned.exists(b => decodes(verdicts(b)))) Iterator.empty
      else if (index.stats.exists(_.columnar)) {
      // ======= columnar layout fast path =======
      // One field per line per stream: value slices come straight off the
      // per-stream newline index — no boundary scan, no delimiter walk, and
      // only the projected columns were ever decompressed. Pushed filters
      // evaluate column-major first (no row-major premium, so no adaptive
      // probe), then surviving rows late-materialize the remaining columns
      // through a selection map.
      lazy val fmt = java.time.format.DateTimeFormatter.ofPattern(tsFmt)
        .withZone(java.time.ZoneOffset.UTC)
      val fileCols = index.stats.get.tags.length
      val neededOrds: Array[Int] = fieldIdx.filter(_ < fileCols).distinct.sorted
      // required ordinal -> cursor slot (-1 = column absent from the file:
      // reads as null / empty string, the missing-trailing-field semantics)
      val slotOf: Array[Int] = fieldIdx.map(src =>
        if (src < fileCols) java.util.Arrays.binarySearch(neededOrds, src) else -1)
      val cursor =
        FourMcFileFormat.columnarCursor(in, index, file, neededOrds, verdicts, permissive, read)
      // per-FILE parse tags (micros-encoded timestamps carry tag 14)
      val tags = CsvPayload.fileTags(fieldTags, fieldIdx, index.stats)

      val dataVectors = OnHeapColumnVector.allocateColumns(BatchSize, requiredSchema)
      val allVectors: Array[ColumnVector] =
        dataVectors.map(v => v: ColumnVector) ++ partitionVectors(partitionSchema, file.partitionValues)
      val batch = new ColumnarBatch(allVectors)
      read.onFinish(batch.close())

      val nPred = predFields.length
      val predLongs = new Array[Long](BatchSize * math.max(1, nPred))
      val predObjs = new Array[AnyRef](BatchSize * math.max(1, nPred))
      val predNulls = new Array[Boolean](BatchSize * math.max(1, nPred))
      val predSlot: Array[Int] = Array.fill(nFields)(-1)
      locally { var pi = 0; while (pi < nPred) { predSlot(predFields(pi)) = pi; pi += 1 } }
      val keepArr = new Array[Boolean](BatchSize)
      val selRel = new Array[Int](BatchSize) // surviving row offsets within the batch window
      // per-predicate dict-entry verdict caches, keyed on the block's
      // DictStream instance — the entry table is constant for the whole
      // block, so rebuild per BLOCK, not per 4096-row batch (r15 advice)
      val predDict = new Array[graft.format.ColumnarBlocks.DictStream](math.max(1, nPred))
      val predEKeep = new Array[Array[Boolean]](math.max(1, nPred))
      val predENull = new Array[Array[Boolean]](math.max(1, nPred))
      val predELong = new Array[Array[Long]](math.max(1, nPred))
      val predEObj = new Array[Array[AnyRef]](math.max(1, nPred))

      // Per-column decode tables for DICT-ENCODED streams, rebuilt when the
      // block's DictStream changes: strings feed the vector's dictionary-id
      // lane through [[McColumnDictionary]]; primitives parse each of the
      // ≤64 entries ONCE per block and fill rows by table lookup — a
      // low-cardinality numeric column (l_discount, l_tax) stops paying a
      // per-row parse entirely.
      val dictStreams = new Array[graft.format.ColumnarBlocks.DictStream](nFields)
      val dictNulls = new Array[Array[Boolean]](nFields)
      val dictLongs = new Array[Array[Long]](nFields) // primitive lanes, raw bits
      val dictSpark = new Array[McColumnDictionary](nFields)

      def refreshDict(k: Int, tag: Int, d: graft.format.ColumnarBlocks.DictStream): Unit = {
        dictStreams(k) = d
        val nE = d.nEntries
        val nulls = new Array[Boolean](nE)
        if (tag == CsvPayload.TagString) {
          val ents = new Array[Array[Byte]](nE)
          var e = 0
          while (e < nE) {
            val s = d.entryStart(e)
            val en = d.entryEnd(e)
            if (CsvPayload.isNullMarker(d.data, s, en)) { nulls(e) = true; ents(e) = Array.emptyByteArray }
            else if (s >= en) ents(e) = Array.emptyByteArray
            else ents(e) = CsvPayload.unescape(d.data, s, en, delim).getBytes
            e += 1
          }
          dictSpark(k) = new McColumnDictionary(ents)
          dictLongs(k) = null
        } else {
          val longs = new Array[Long](nE)
          var e = 0
          while (e < nE) {
            val s = d.entryStart(e)
            val en = d.entryEnd(e)
            val bytes = d.data
            if (CsvPayload.isNullMarker(bytes, s, en) || s >= en) nulls(e) = true
            else (tag: @scala.annotation.switch) match {
              case CsvPayload.TagLong    => longs(e) = CsvPayload.parseLong(bytes, s, en)
              case CsvPayload.TagInt     => longs(e) = CsvPayload.parseInt(bytes, s, en).toLong
              case CsvPayload.TagDouble  =>
                longs(e) = java.lang.Double.doubleToRawLongBits(CsvPayload.parseDouble(bytes, s, en))
              case CsvPayload.TagFloat   =>
                longs(e) = java.lang.Float.floatToRawIntBits(CsvPayload.parseFloat(bytes, s, en)).toLong
              case CsvPayload.TagBoolean => longs(e) = if (bytes(s) == 't' || bytes(s) == 'T') 1L else 0L
              case CsvPayload.TagDate    => longs(e) = CsvPayload.parseDateDays(bytes, s, en).toLong
              case CsvPayload.TagDecimal =>
                longs(e) = CsvPayload.parseDecimalUnscaled(bytes, s, en, fieldScale(k))
              case CsvPayload.TagTimestampMicros => longs(e) = CsvPayload.parseLong(bytes, s, en)
              case _ =>
                longs(e) =
                  if (tsMicroDigits >= 0 && CsvPayload.isFixedLayout(bytes, s, en))
                    CsvPayload.parseTimestampMicros(bytes, s, en)
                  else {
                    val inst = java.time.Instant.from(fmt.parse(CsvPayload.ascii(bytes, s, en)))
                    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
                  }
            }
            e += 1
          }
          dictLongs(k) = longs
          dictSpark(k) = null
        }
        dictNulls(k) = nulls
      }

      def pass(ps: Array[Any => Boolean], v: Any): Boolean = {
        var pi = 0
        while (pi < ps.length) { if (!ps(pi)(v)) return false; pi += 1 }
        true
      }

      /** Evaluate the pushed filters over rows [r0, r0+n) of the current
        * block, caching parsed values for replay; returns the survivor
        * count with their offsets in `selRel`.
        */
      def evalPredicates(r0: Int, n: Int): Int = {
        java.util.Arrays.fill(keepArr, 0, n, true)
        var pi = 0
        while (pi < nPred) {
          val k = predFields(pi)
          val fp = fieldPreds(k)
          val ps = fp.rest
          val tag = tags(k)
          val j = slotOf(k)
          if (j < 0) {
            // column absent from the file (positional schema evolution,
            // r15): every value is NULL — same semantics every type,
            // matching what a parquet reader gives for an added column
            val keepMissing = fp.nullPasses
            var r = 0
            while (r < n) {
              if (keepArr(r)) {
                keepArr(r) = keepMissing
                predNulls(r * nPred + pi) = true
              }
              r += 1
            }
          } else if (cursor.dictOf(j) != null) {
            // dict-encoded stream: evaluate each of the ≤64 ENTRIES once,
            // then the row loop is two table lookups — a q6-class
            // predicate over a low-cardinality column stops parsing rows
            val d = cursor.dictOf(j)
            val nE = d.nEntries
            val fresh = predDict(pi) ne d
            val eKeep = if (fresh) new Array[Boolean](nE) else predEKeep(pi)
            val eNull = if (fresh) new Array[Boolean](nE) else predENull(pi)
            val eLong = if (fresh) new Array[Long](nE) else predELong(pi)
            val eObj = if (fresh) new Array[AnyRef](nE) else predEObj(pi)
            val bytes = d.data
            var en = if (fresh) 0 else nE // cached: skip the build loop
            while (en < nE) {
              val s = d.entryStart(en)
              val e = d.entryEnd(en)
              var keep = true
              if (CsvPayload.isNullMarker(bytes, s, e) ||
                  (s >= e && tag != CsvPayload.TagString)) {
                keep = fp.nullPasses
                eNull(en) = true
              } else {
                (tag: @scala.annotation.switch) match {
                  case CsvPayload.TagString =>
                    val u = if (s >= e) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
                            else CsvPayload.unescape(bytes, s, e, delim)
                    keep = pass(ps, u); eObj(en) = u
                  case CsvPayload.TagLong =>
                    val x = CsvPayload.parseLong(bytes, s, e)
                    keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                    eLong(en) = x
                  case CsvPayload.TagInt =>
                    val x = CsvPayload.parseInt(bytes, s, e)
                    keep = fp.rangeOk(x.toLong) && (ps.length == 0 || pass(ps, x))
                    eLong(en) = x.toLong
                  case CsvPayload.TagDouble =>
                    val x = CsvPayload.parseDouble(bytes, s, e)
                    keep = pass(ps, x); eLong(en) = java.lang.Double.doubleToRawLongBits(x)
                  case CsvPayload.TagFloat =>
                    val x = CsvPayload.parseFloat(bytes, s, e)
                    keep = pass(ps, x)
                    eLong(en) = java.lang.Float.floatToRawIntBits(x).toLong
                  case CsvPayload.TagBoolean =>
                    val x = bytes(s) == 't' || bytes(s) == 'T'
                    keep = pass(ps, x); eLong(en) = if (x) 1L else 0L
                  case CsvPayload.TagDate =>
                    val x = CsvPayload.parseDateDays(bytes, s, e)
                    keep = fp.rangeOk(x.toLong) && (ps.length == 0 || pass(ps, x))
                    eLong(en) = x.toLong
                  case CsvPayload.TagDecimal =>
                    val un = CsvPayload.parseDecimalUnscaled(bytes, s, e, fieldScale(k))
                    keep = fp.rangeOk(un) && (ps.length == 0 ||
                      pass(ps, org.apache.spark.sql.types.Decimal(un, fieldPrec(k), fieldScale(k))))
                    eLong(en) = un
                  case CsvPayload.TagTimestampMicros =>
                    val x = CsvPayload.parseLong(bytes, s, e)
                    keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                    eLong(en) = x
                  case _ =>
                    val x =
                      if (tsMicroDigits >= 0 && CsvPayload.isFixedLayout(bytes, s, e))
                        CsvPayload.parseTimestampMicros(bytes, s, e)
                      else {
                        val inst =
                          java.time.Instant.from(fmt.parse(CsvPayload.ascii(bytes, s, e)))
                        inst.getEpochSecond * 1000000L + inst.getNano / 1000L
                      }
                    keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                    eLong(en) = x
                }
              }
              eKeep(en) = keep
              en += 1
            }
            if (fresh) {
              predDict(pi) = d
              predEKeep(pi) = eKeep; predENull(pi) = eNull
              predELong(pi) = eLong; predEObj(pi) = eObj
            }
            var r = 0
            while (r < n) {
              if (keepArr(r)) {
                val c = d.code(r0 + r)
                val slot = r * nPred + pi
                predNulls(slot) = eNull(c)
                predLongs(slot) = eLong(c)
                predObjs(slot) = eObj(c)
                keepArr(r) = eKeep(c)
              }
              r += 1
            }
          } else {
            val bytes = cursor.colBytes(j)
            var r = 0
            while (r < n) {
              if (keepArr(r)) {
                val s = cursor.valStart(j, r0 + r)
                val e = cursor.valEnd(j, r0 + r)
                val slot = r * nPred + pi
                var keep = true
                if (CsvPayload.isNullMarker(bytes, s, e) ||
                    (s >= e && tag != CsvPayload.TagString)) {
                  keep = fp.nullPasses
                  predNulls(slot) = true
                } else {
                  predNulls(slot) = false
                  (tag: @scala.annotation.switch) match {
                    case CsvPayload.TagString =>
                      val u = if (s >= e) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
                              else CsvPayload.unescape(bytes, s, e, delim)
                      keep = pass(ps, u); predObjs(slot) = u
                    case CsvPayload.TagLong =>
                      val x = CsvPayload.parseLong(bytes, s, e)
                      keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                      predLongs(slot) = x
                    case CsvPayload.TagInt =>
                      val x = CsvPayload.parseInt(bytes, s, e)
                      keep = fp.rangeOk(x.toLong) && (ps.length == 0 || pass(ps, x))
                      predLongs(slot) = x.toLong
                    case CsvPayload.TagDouble =>
                      val x = CsvPayload.parseDouble(bytes, s, e)
                      keep = pass(ps, x); predLongs(slot) = java.lang.Double.doubleToRawLongBits(x)
                    case CsvPayload.TagFloat =>
                      val x = CsvPayload.parseFloat(bytes, s, e)
                      keep = pass(ps, x)
                      predLongs(slot) = java.lang.Float.floatToRawIntBits(x).toLong
                    case CsvPayload.TagBoolean =>
                      val x = bytes(s) == 't' || bytes(s) == 'T'
                      keep = pass(ps, x); predLongs(slot) = if (x) 1L else 0L
                    case CsvPayload.TagDate =>
                      val x = CsvPayload.parseDateDays(bytes, s, e)
                      keep = fp.rangeOk(x.toLong) && (ps.length == 0 || pass(ps, x))
                      predLongs(slot) = x.toLong
                    case CsvPayload.TagDecimal =>
                      val un = CsvPayload.parseDecimalUnscaled(bytes, s, e, fieldScale(k))
                      keep = fp.rangeOk(un) && (ps.length == 0 ||
                        pass(ps, org.apache.spark.sql.types.Decimal(un, fieldPrec(k), fieldScale(k))))
                      predLongs(slot) = un
                    case CsvPayload.TagTimestampMicros =>
                      val x = CsvPayload.parseLong(bytes, s, e)
                      keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                      predLongs(slot) = x
                    case _ =>
                      val x =
                        if (tsMicroDigits >= 0 && CsvPayload.isFixedLayout(bytes, s, e))
                          CsvPayload.parseTimestampMicros(bytes, s, e)
                        else {
                          val inst =
                            java.time.Instant.from(fmt.parse(CsvPayload.ascii(bytes, s, e)))
                          inst.getEpochSecond * 1000000L + inst.getNano / 1000L
                        }
                      keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                      predLongs(slot) = x
                  }
                }
                keepArr(r) = keep
              }
              r += 1
            }
          }
          pi += 1
        }
        var selN = 0
        var r = 0
        while (r < n) { if (keepArr(r)) { selRel(selN) = r; selN += 1 }; r += 1 }
        selN
      }

      /** Decode the surviving rows into the vectors at positions
        * [0, selN): column-major, pred-bound columns replay their cached
        * values (when `replay` — an elided block has no cache and parses
        * directly), selection indices resolve through selRel.
        */
      def fillColumns(r0: Int, selN: Int, replay: Boolean): Unit = {
        var k = 0
        while (k < nFields) {
          val vec = dataVectors(k)
          val tag = tags(k)
          val j = slotOf(k)
          val slot0 = predSlot(k)
          // a dictionary set by a previous batch survives reset(); clear it
          // unless this batch's dict lane re-sets it below
          if (vec.hasDictionary) vec.setDictionary(null)
          if (j < 0) {
            // absent column: null for every type (schema evolution, r15)
            var p = 0
            while (p < selN) { vec.putNull(p); p += 1 }
          } else if (CsvPayload.isArrayTag(tag)) {
            val bytes = cursor.colBytes(j)
            val child = vec.arrayData()
            var off = 0
            var p = 0
            while (p < selN) {
              val r = r0 + selRel(p)
              val s = cursor.valStart(j, r)
              val e = cursor.valEnd(j, r)
              if (CsvPayload.isNullMarker(bytes, s, e)) vec.putNull(p)
              else {
                var cnt = 0
                if (s < e) {
                  child.reserve(off + ((e - s) >> 1) + 1)
                  var ts = s
                  var more = true
                  while (more) {
                    var te = ts
                    while (te < e && bytes(te) != CsvPayload.ElemSep) te += 1
                    if (CsvPayload.isNullElem(bytes, ts, te)) child.putNull(off + cnt)
                    else (tag: @scala.annotation.switch) match {
                      case CsvPayload.TagArrLong =>
                        child.putLong(off + cnt, CsvPayload.parseLong(bytes, ts, te))
                      case CsvPayload.TagArrFloat =>
                        child.putFloat(off + cnt, CsvPayload.parseFloat(bytes, ts, te))
                      case _ =>
                        child.putDouble(off + cnt, CsvPayload.parseDouble(bytes, ts, te))
                    }
                    cnt += 1
                    if (te >= e) more = false else ts = te + 1
                  }
                }
                vec.putArray(p, off, cnt)
                off += cnt
              }
              p += 1
            }
          } else if (tag == CsvPayload.TagMap) {
            val bytes = cursor.colBytes(j)
            val keyChild = vec.getChild(0)
            val valChild = vec.getChild(1)
            var off = 0
            var p = 0
            while (p < selN) {
              val r = r0 + selRel(p)
              val s = cursor.valStart(j, r)
              val e = cursor.valEnd(j, r)
              if (CsvPayload.isNullMarker(bytes, s, e)) vec.putNull(p)
              else {
                val cnt = CsvPayload.countEntries(bytes, s, e)
                keyChild.reserve(off + cnt)
                valChild.reserve(off + cnt)
                var ts = s
                var m = 0
                while (m < cnt) {
                  val te = CsvPayload.entryEnd(bytes, ts, e)
                  val eq = CsvPayload.kvSplit(bytes, ts, te)
                  val ke = if (eq < 0) te else eq
                  if (ts >= ke) keyChild.putByteArray(off + m, Array.emptyByteArray, 0, 0)
                  else {
                    val u = CsvPayload.unescape(bytes, ts, ke, delim)
                    keyChild.putByteArray(off + m, u.getBytes, 0, u.numBytes())
                  }
                  val vs0 = if (eq < 0) te else eq + 1
                  if (eq >= 0 && CsvPayload.isNullMarker(bytes, vs0, te)) valChild.putNull(off + m)
                  else if (vs0 >= te) valChild.putByteArray(off + m, Array.emptyByteArray, 0, 0)
                  else {
                    val u = CsvPayload.unescape(bytes, vs0, te, delim)
                    valChild.putByteArray(off + m, u.getBytes, 0, u.numBytes())
                  }
                  ts = te + 1
                  m += 1
                }
                vec.putArray(p, off, cnt)
                off += cnt
              }
              p += 1
            }
          } else if (replay && slot0 >= 0) {
            var p = 0
            while (p < selN) {
              val slot = selRel(p) * nPred + slot0
              if (predNulls(slot)) vec.putNull(p)
              else (tag: @scala.annotation.switch) match {
                case CsvPayload.TagString =>
                  val u = predObjs(slot).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
                  vec.putByteArray(p, u.getBytes, 0, u.numBytes())
                case CsvPayload.TagLong      => vec.putLong(p, predLongs(slot))
                case CsvPayload.TagInt       => vec.putInt(p, predLongs(slot).toInt)
                case CsvPayload.TagDouble    =>
                  vec.putDouble(p, java.lang.Double.longBitsToDouble(predLongs(slot)))
                case CsvPayload.TagFloat     =>
                  vec.putFloat(p, java.lang.Float.intBitsToFloat(predLongs(slot).toInt))
                case CsvPayload.TagBoolean   => vec.putBoolean(p, predLongs(slot) == 1L)
                case CsvPayload.TagDate      => vec.putInt(p, predLongs(slot).toInt)
                case CsvPayload.TagDecimal   =>
                  if (intDecimal(k)) vec.putInt(p, predLongs(slot).toInt)
                  else vec.putLong(p, predLongs(slot))
                case _                       => vec.putLong(p, predLongs(slot))
              }
              p += 1
            }
          } else if (cursor.dictOf(j) != null) {
            // dict-encoded stream: per-entry decode tables, per-row lookups
            val d = cursor.dictOf(j)
            if (dictStreams(k) ne d) refreshDict(k, tag, d)
            val nulls = dictNulls(k)
            if (tag == CsvPayload.TagString) {
              vec.setDictionary(dictSpark(k))
              val ids = vec.reserveDictionaryIds(BatchSize)
              var p = 0
              while (p < selN) {
                val c = d.code(r0 + selRel(p))
                if (nulls(c)) vec.putNull(p) else ids.putInt(p, c)
                p += 1
              }
            } else {
              val longs = dictLongs(k)
              var p = 0
              while (p < selN) {
                val c = d.code(r0 + selRel(p))
                if (nulls(c)) vec.putNull(p)
                else (tag: @scala.annotation.switch) match {
                  case CsvPayload.TagLong    => vec.putLong(p, longs(c))
                  case CsvPayload.TagInt     => vec.putInt(p, longs(c).toInt)
                  case CsvPayload.TagDouble  =>
                    vec.putDouble(p, java.lang.Double.longBitsToDouble(longs(c)))
                  case CsvPayload.TagFloat   =>
                    vec.putFloat(p, java.lang.Float.intBitsToFloat(longs(c).toInt))
                  case CsvPayload.TagBoolean => vec.putBoolean(p, longs(c) == 1L)
                  case CsvPayload.TagDate    => vec.putInt(p, longs(c).toInt)
                  case CsvPayload.TagDecimal =>
                    if (intDecimal(k)) vec.putInt(p, longs(c).toInt) else vec.putLong(p, longs(c))
                  case _                     => vec.putLong(p, longs(c))
                }
                p += 1
              }
            }
          } else {
            val bytes = cursor.colBytes(j)
            var p = 0
            while (p < selN) {
              val r = r0 + selRel(p)
              val s = cursor.valStart(j, r)
              val e = cursor.valEnd(j, r)
              if (CsvPayload.isNullMarker(bytes, s, e) ||
                  (s >= e && tag != CsvPayload.TagString))
                vec.putNull(p)
              else (tag: @scala.annotation.switch) match {
                case CsvPayload.TagString =>
                  if (s >= e) vec.putByteArray(p, Array.emptyByteArray, 0, 0)
                  else if (CsvPayload.escapeFree(bytes, s, e))
                    vec.putByteArray(p, bytes, s, e - s)
                  else {
                    val u = CsvPayload.unescape(bytes, s, e, delim)
                    vec.putByteArray(p, u.getBytes, 0, u.numBytes())
                  }
                case CsvPayload.TagLong    => vec.putLong(p, CsvPayload.parseLong(bytes, s, e))
                case CsvPayload.TagInt     => vec.putInt(p, CsvPayload.parseInt(bytes, s, e))
                case CsvPayload.TagDouble  => vec.putDouble(p, CsvPayload.parseDouble(bytes, s, e))
                case CsvPayload.TagFloat   => vec.putFloat(p, CsvPayload.parseFloat(bytes, s, e))
                case CsvPayload.TagBoolean => vec.putBoolean(p, bytes(s) == 't' || bytes(s) == 'T')
                case CsvPayload.TagDate    => vec.putInt(p, CsvPayload.parseDateDays(bytes, s, e))
                case CsvPayload.TagDecimal =>
                  val un = CsvPayload.parseDecimalUnscaled(bytes, s, e, fieldScale(k))
                  if (intDecimal(k)) vec.putInt(p, un.toInt) else vec.putLong(p, un)
                case CsvPayload.TagTimestampMicros =>
                  vec.putLong(p, CsvPayload.parseLong(bytes, s, e))
                case _ =>
                  val x =
                    if (tsMicroDigits >= 0 && CsvPayload.isFixedLayout(bytes, s, e))
                      CsvPayload.parseTimestampMicros(bytes, s, e)
                    else {
                      val inst = java.time.Instant.from(fmt.parse(CsvPayload.ascii(bytes, s, e)))
                      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
                    }
                  vec.putLong(p, x)
              }
              p += 1
            }
          }
          k += 1
        }
      }

      erase(new Iterator[ColumnarBatch] {
        private var r0 = 0
        private var inBlock = false
        private var blockCertain = false
        // ADAPTIVE fail-fast, the columnar mirror of the rows layout's probe:
        // column-major eval is cheaper than row-major, but its bookkeeping
        // (pred-cache writes, keep/selection maps, closure dispatch) is
        // still pure overhead when a filter keeps ~everything — the r14
        // JFR run put evalPredicates at 24% of columnar q1 samples against
        // a 98%-keeping shipdate range the UNSORTED blocks can't prove
        // certain. Probe batches measure refusals; low-refusal stretches
        // skip evaluation (always sound: Spark's post-scan Filter
        // re-applies every pushed predicate, and the footer-stats relation
        // re-checks its rows), one batch per period re-probes. Certain
        // blocks skip without probing at all.
        private val ProbePeriod = 16
        private var batchOrd = 0
        private var evalOn = true // last evaluated batch's verdict
        private def ensureRows(): Boolean = {
          while (!inBlock || r0 >= cursor.rows) {
            if (!cursor.nextBlock()) return false
            inBlock = true
            r0 = 0
            // a Certain block's lines all pass: its per-row evaluation
            // (and the pred-value cache) is a provable no-op
            blockCertain = verdicts(cursor.blockOrd) == Certain
            if (blockCertain && nPred > 0) FourMcScanMetrics.predElidedBlocks.add(1)
          }
          true
        }
        // the next block is read when a batch is asked for, not after the
        // previous one is handed out: a consumer that stops (a LIMIT)
        // reads no block past the one it stopped in
        private var pending = false
        private var primed = false
        override def hasNext: Boolean = {
          if (!primed) { pending = ensureRows(); primed = true }
          pending
        }
        override def next(): ColumnarBatch = {
          if (!hasNext) throw new NoSuchElementException
          primed = false
          var k = 0
          while (k < nFields) { dataVectors(k).reset(); k += 1 }
          val n = math.min(BatchSize, cursor.rows - r0)
          val evalThis = nPred > 0 && !blockCertain &&
            (evalOn || batchOrd % ProbePeriod == 0)
          val selN =
            if (!evalThis) {
              if (nPred > 0) FourMcScanMetrics.predSkipBatches.add(1)
              var r = 0
              while (r < n) { selRel(r) = r; r += 1 }
              n
            } else {
              FourMcScanMetrics.predEvalBatches.add(1)
              val s = evalPredicates(r0, n)
              // keep evaluating only when refusals clear ~12.5% of the batch
              evalOn = (n - s).toLong * 8 >= n.toLong
              s
            }
          fillColumns(r0, selN, replay = evalThis)
          batchOrd += 1
          r0 += n
          batch.setNumRows(selN)
          batch
        }
      })
      } else {
      lazy val fmt = java.time.format.DateTimeFormatter.ofPattern(tsFmt)
        .withZone(java.time.ZoneOffset.UTC)
      val lines =
        FourMcFileFormat.csvLines(in, index, file, verdicts, permissive, read)
      // per-FILE parse tags (micros-encoded timestamps carry tag 14)
      val tags = CsvPayload.fileTags(fieldTags, fieldIdx, index.stats)

      val dataVectors = OnHeapColumnVector.allocateColumns(BatchSize, requiredSchema)
      val allVectors: Array[ColumnVector] =
        dataVectors.map(v => v: ColumnVector) ++ partitionVectors(partitionSchema, file.partitionValues)
      val batch = new ColumnarBatch(allVectors)
      read.onFinish(batch.close())

      val stride = neededFields + 1
      val bufBytes = new Array[Array[Byte]](BatchSize)
      val rowEnds = new Array[Int](BatchSize) // exclusive line end per buffered row
      val starts = new Array[Int](BatchSize * stride)
      // parsed filter-field values cached at buffer time so the column
      // decode never parses a filter-bound field twice: primitives as raw
      // long bits, strings as the unescaped UTF8String, nulls flagged
      val nPred = predFields.length
      val predLongs = new Array[Long](BatchSize * math.max(1, nPred))
      val predObjs = new Array[AnyRef](BatchSize * math.max(1, nPred))
      val predNulls = new Array[Boolean](BatchSize * math.max(1, nPred))
      // column ordinal -> slot in the pred scratch (-1 = not filter-bound)
      val predSlot: Array[Int] = Array.fill(nFields)(-1)
      locally { var pi = 0; while (pi < nPred) { predSlot(predFields(pi)) = pi; pi += 1 } }

      def pass(ps: Array[Any => Boolean], v: Any): Boolean = {
        var pi = 0
        while (pi < ps.length) { if (!ps(pi)(v)) return false; pi += 1 }
        true
      }

      /** End offset of field `src` for buffered row `r` (exclusive) — the
        * shared [[CsvPayload.fieldEnd]] semantics, flat-array base offset,
        * bounded by the row's line end (slices live inside block buffers).
        */
      def fieldEnd(bytes: Array[Byte], base: Int, src: Int, s: Int, lineEnd: Int): Int =
        CsvPayload.fieldEnd(bytes, delim, starts, base, src, s, neededFields, totalFields, lineEnd)

      /** Boundary-scan the line slice `bytes[from, to)` into row slot `r`;
        * evaluate the pushed filters on their fields; true = the row enters
        * the batch.
        */
      def bufferLine(bytes: Array[Byte], from: Int, to: Int, r: Int): Boolean = {
        val base = r * stride
        CsvPayload.scanBoundaries(bytes, delim, starts, base, neededFields, totalFields,
          from, to, firstField)
        var pi = 0
        while (pi < nPred) {
          val k = predFields(pi)
          val fp = fieldPreds(k)
          val ps = fp.rest
          val src = fieldIdx(k)
          val s = starts(base + src)
          val e = fieldEnd(bytes, base, src, s, to)
          val tag = tags(k)
          val slot = r * nPred + pi
          var keep = true
          // s > to: MISSING trailing field (an older-generation file under
          // positional schema evolution) — null for every type, unlike a
          // present-but-empty field (empty string for TagString)
          if (s > to || CsvPayload.isNullMarker(bytes, s, e) ||
              (s >= e && tag != CsvPayload.TagString)) {
            keep = fp.nullPasses
            predNulls(slot) = true
          } else {
            predNulls(slot) = false
            (tag: @scala.annotation.switch) match {
              case CsvPayload.TagString =>
                val u = if (s >= e) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
                        else CsvPayload.unescape(bytes, s, e, delim)
                keep = pass(ps, u); predObjs(slot) = u
              case CsvPayload.TagLong =>
                val x = CsvPayload.parseLong(bytes, s, e)
                keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                predLongs(slot) = x
              case CsvPayload.TagInt =>
                val x = CsvPayload.parseInt(bytes, s, e)
                keep = fp.rangeOk(x.toLong) && (ps.length == 0 || pass(ps, x))
                predLongs(slot) = x.toLong
              case CsvPayload.TagDouble =>
                val x = CsvPayload.parseDouble(bytes, s, e)
                keep = pass(ps, x); predLongs(slot) = java.lang.Double.doubleToRawLongBits(x)
              case CsvPayload.TagFloat =>
                val x = CsvPayload.parseFloat(bytes, s, e)
                keep = pass(ps, x); predLongs(slot) = java.lang.Float.floatToRawIntBits(x).toLong
              case CsvPayload.TagBoolean =>
                val x = bytes(s) == 't' || bytes(s) == 'T'
                keep = pass(ps, x); predLongs(slot) = if (x) 1L else 0L
              case CsvPayload.TagDate =>
                val x = CsvPayload.parseDateDays(bytes, s, e)
                keep = fp.rangeOk(x.toLong) && (ps.length == 0 || pass(ps, x))
                predLongs(slot) = x.toLong
              case CsvPayload.TagDecimal =>
                val un = CsvPayload.parseDecimalUnscaled(bytes, s, e, fieldScale(k))
                keep = fp.rangeOk(un) && (ps.length == 0 ||
                  pass(ps, org.apache.spark.sql.types.Decimal(un, fieldPrec(k), fieldScale(k))))
                predLongs(slot) = un
              case CsvPayload.TagTimestampMicros =>
                val x = CsvPayload.parseLong(bytes, s, e)
                keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                predLongs(slot) = x
              case _ =>
                val x =
                  if (tsMicroDigits >= 0 && CsvPayload.isFixedLayout(bytes, s, e))
                    CsvPayload.parseTimestampMicros(bytes, s, e)
                  else {
                    val inst = java.time.Instant.from(fmt.parse(CsvPayload.ascii(bytes, s, e)))
                    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
                  }
                keep = fp.rangeOk(x) && (ps.length == 0 || pass(ps, x))
                predLongs(slot) = x
            }
          }
          if (!keep) return false
          pi += 1
        }
        bufBytes(r) = bytes
        rowEnds(r) = to
        true
      }

      /** Boundary-scan only (no predicate evaluation): rows always enter
        * the batch; used when predicates are absent or adaptively skipped.
        */
      def bufferPlain(bytes: Array[Byte], from: Int, to: Int, r: Int): Unit = {
        CsvPayload.scanBoundaries(bytes, delim, starts, r * stride, neededFields, totalFields,
          from, to, firstField)
        bufBytes(r) = bytes
        rowEnds(r) = to
      }

      /** Column-major decode of buffered rows [0, n) into the vectors;
        * with `replay`, filter-bound columns reuse the values parsed at
        * buffer time (only valid for batches that ran [[bufferLine]]).
        */
      def decodeColumns(n: Int, replay: Boolean): Unit = {
        var k = 0
        while (k < nFields) {
          val vec = dataVectors(k)
          val src = fieldIdx(k)
          val tag = tags(k)
          val slot0 = if (replay) predSlot(k) else -1
          if (CsvPayload.isArrayTag(tag)) {
            // dedicated column loop: elements land in the CHILD vector at
            // explicit indices (one reserve per row, no per-element append
            // bookkeeping — measured 1.4x over appendLong-per-element),
            // putArray records (offset, count) per row. child was reset with
            // the parent (reset() cascades), so offsets restart at 0.
            val child = vec.arrayData()
            var off = 0
            var r = 0
            while (r < n) {
              val bytes = bufBytes(r)
              val base = r * stride
              val s = starts(base + src)
              val e = fieldEnd(bytes, base, src, s, rowEnds(r))
              // s > rowEnds(r): missing trailing field (schema evolution) -> null
              if (s > rowEnds(r) || CsvPayload.isNullMarker(bytes, s, e)) vec.putNull(r)
              else {
                // single-pass split+parse: tokens ≤ (len+1)/2 bounds the
                // reserve (1-byte token + separator repeating), so no
                // counting pre-scan touches the field bytes twice
                var j = 0
                if (s < e) {
                  child.reserve(off + ((e - s) >> 1) + 1)
                  var ts = s
                  var more = true
                  while (more) {
                    var te = ts
                    while (te < e && bytes(te) != CsvPayload.ElemSep) te += 1
                    if (CsvPayload.isNullElem(bytes, ts, te)) child.putNull(off + j)
                    else (tag: @scala.annotation.switch) match {
                      case CsvPayload.TagArrLong =>
                        child.putLong(off + j, CsvPayload.parseLong(bytes, ts, te))
                      case CsvPayload.TagArrFloat =>
                        child.putFloat(off + j, CsvPayload.parseFloat(bytes, ts, te))
                      case _ =>
                        child.putDouble(off + j, CsvPayload.parseDouble(bytes, ts, te))
                    }
                    j += 1
                    if (te >= e) more = false else ts = te + 1
                  }
                }
                vec.putArray(r, off, j)
                off += j
              }
              r += 1
            }
            k += 1
          } else if (tag == CsvPayload.TagMap) {
            // map<string,string>: unescaped keys/values land in the two
            // child string vectors at SHARED offsets; putArray records the
            // per-row (offset, count) the ColumnarMap accessor reads back.
            // Maps are never filter-bound (compileFilters refuses them), so
            // there is no replay variant.
            val keyChild = vec.getChild(0)
            val valChild = vec.getChild(1)
            var off = 0
            var r = 0
            while (r < n) {
              val bytes = bufBytes(r)
              val base = r * stride
              val s = starts(base + src)
              val e = fieldEnd(bytes, base, src, s, rowEnds(r))
              // s > rowEnds(r): missing trailing field (schema evolution) -> null
              if (s > rowEnds(r) || CsvPayload.isNullMarker(bytes, s, e)) vec.putNull(r)
              else {
                val cnt = CsvPayload.countEntries(bytes, s, e) // empty field = empty map
                keyChild.reserve(off + cnt)
                valChild.reserve(off + cnt)
                var ts = s
                var j = 0
                while (j < cnt) {
                  val te = CsvPayload.entryEnd(bytes, ts, e)
                  val eq = CsvPayload.kvSplit(bytes, ts, te)
                  val ke = if (eq < 0) te else eq
                  if (ts >= ke) keyChild.putByteArray(off + j, Array.emptyByteArray, 0, 0)
                  else {
                    val u = CsvPayload.unescape(bytes, ts, ke, delim)
                    keyChild.putByteArray(off + j, u.getBytes, 0, u.numBytes())
                  }
                  val vs0 = if (eq < 0) te else eq + 1
                  if (eq >= 0 && CsvPayload.isNullMarker(bytes, vs0, te)) valChild.putNull(off + j)
                  else if (vs0 >= te) valChild.putByteArray(off + j, Array.emptyByteArray, 0, 0)
                  else {
                    val u = CsvPayload.unescape(bytes, vs0, te, delim)
                    valChild.putByteArray(off + j, u.getBytes, 0, u.numBytes())
                  }
                  ts = te + 1
                  j += 1
                }
                vec.putArray(r, off, cnt)
                off += cnt
              }
              r += 1
            }
            k += 1
          } else if (slot0 >= 0) {
            var r = 0
            while (r < n) {
              val slot = r * nPred + slot0
              if (predNulls(slot)) vec.putNull(r)
              else (tag: @scala.annotation.switch) match {
                case CsvPayload.TagString =>
                  val u = predObjs(slot).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
                  vec.putByteArray(r, u.getBytes, 0, u.numBytes())
                case CsvPayload.TagLong      => vec.putLong(r, predLongs(slot))
                case CsvPayload.TagInt       => vec.putInt(r, predLongs(slot).toInt)
                case CsvPayload.TagDouble    =>
                  vec.putDouble(r, java.lang.Double.longBitsToDouble(predLongs(slot)))
                case CsvPayload.TagFloat     =>
                  vec.putFloat(r, java.lang.Float.intBitsToFloat(predLongs(slot).toInt))
                case CsvPayload.TagBoolean   => vec.putBoolean(r, predLongs(slot) == 1L)
                case CsvPayload.TagDate      => vec.putInt(r, predLongs(slot).toInt)
                case CsvPayload.TagDecimal   =>
                  if (intDecimal(k)) vec.putInt(r, predLongs(slot).toInt)
                  else vec.putLong(r, predLongs(slot))
                case _                       => vec.putLong(r, predLongs(slot))
              }
              r += 1
            }
            k += 1
          } else {
          var r = 0
          while (r < n) {
            val bytes = bufBytes(r)
            val base = r * stride
            val s = starts(base + src)
            val e = fieldEnd(bytes, base, src, s, rowEnds(r))
            // (no array-tag clause: array columns are captured by the
            // dedicated branch above and never reach this scalar loop)
            if (s > rowEnds(r) || CsvPayload.isNullMarker(bytes, s, e) ||
                (s >= e && tag != CsvPayload.TagString))
              vec.putNull(r)
            else (tag: @scala.annotation.switch) match {
              case CsvPayload.TagString =>
                if (s >= e) vec.putByteArray(r, Array.emptyByteArray, 0, 0)
                else if (CsvPayload.escapeFree(bytes, s, e))
                  // the common case writes the line bytes straight into the
                  // vector's contiguous child array: one copy, zero
                  // allocation (the old UTF8String round-trip allocated a
                  // fresh byte[] per value via getBytes — ~2 allocations/row
                  // on q1's two group-by strings at 30M rows)
                  vec.putByteArray(r, bytes, s, e - s)
                else {
                  val u = CsvPayload.unescape(bytes, s, e, delim)
                  vec.putByteArray(r, u.getBytes, 0, u.numBytes())
                }
              case CsvPayload.TagLong    => vec.putLong(r, CsvPayload.parseLong(bytes, s, e))
              case CsvPayload.TagInt     => vec.putInt(r, CsvPayload.parseInt(bytes, s, e))
              case CsvPayload.TagDouble  => vec.putDouble(r, CsvPayload.parseDouble(bytes, s, e))
              case CsvPayload.TagFloat   => vec.putFloat(r, CsvPayload.parseFloat(bytes, s, e))
              case CsvPayload.TagBoolean => vec.putBoolean(r, bytes(s) == 't' || bytes(s) == 'T')
              case CsvPayload.TagDate    => vec.putInt(r, CsvPayload.parseDateDays(bytes, s, e))
              case CsvPayload.TagDecimal =>
                // compact decimals store the unscaled value in the vector's
                // int/long lanes (the same layout Spark's parquet reader
                // fills); precision picks the lane
                val un = CsvPayload.parseDecimalUnscaled(bytes, s, e, fieldScale(k))
                if (intDecimal(k)) vec.putInt(r, un.toInt) else vec.putLong(r, un)
              case CsvPayload.TagTimestampMicros =>
                vec.putLong(r, CsvPayload.parseLong(bytes, s, e))
              case _ =>
                val x =
                  if (tsMicroDigits >= 0 && CsvPayload.isFixedLayout(bytes, s, e))
                    CsvPayload.parseTimestampMicros(bytes, s, e)
                  else {
                    val inst = java.time.Instant.from(fmt.parse(CsvPayload.ascii(bytes, s, e)))
                    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
                  }
                vec.putLong(r, x)
            }
            r += 1
          }
          k += 1
          }
        }
      }

      erase(new Iterator[ColumnarBatch] {
        // ADAPTIVE fail-fast: buffer-time predicate evaluation parses
        // filter-bound fields row-major, which costs ~2-3x their
        // column-major decode. That is a bargain when rows get refuted
        // (refuted rows skip batch entry entirely) and pure overhead when
        // the filter passes ~everything (Spark's post-scan Filter
        // re-applies every pushed predicate, and the footer-stats relation
        // re-checks its rows, so skipping evaluation here is always
        // sound). Probe batches measure the refusal rate; when
        // a probe refuses almost nothing, the next PROBE_PERIOD-1 batches
        // skip evaluation and decode column-major, then one batch
        // re-probes (catches mid-file selectivity shifts the block-stats
        // pruning didn't already absorb).
        private val ProbePeriod = 16
        // Keep evaluation only when refusals BUY more than the row-major
        // premium costs. A refused row saves ~nFields column decodes plus
        // its batch slot; a kept row pays ~1-2 extra field-decodes of
        // row-major parse premium (the value itself replays from the pred
        // cache). Break-even refusal is therefore a double-digit
        // percentage, not the old 1.6%: the r13 JFR run showed q1's
        // ~3.5%-refusing shipdate filter keeping evaluation ON and
        // bufferLine at 23% of all samples — pure loss. q6-class filters
        // (>90% refused) sit far above any sane threshold either way.
        private val MinRefusals = BatchSize / 8 // < 12.5% refused → skip
        private var batchOrd = 0
        private var evalOn = true // last probe's verdict
        // zero-copy lookahead: slices point into the decompressed block
        // buffers (no per-line array, no per-line tuple); the buffered
        // offsets stay valid because block buffers are fresh per block and
        // bufBytes pins the few blocks a batch spans
        private var pending = lines.advanceSlice()

        override def hasNext: Boolean = pending
        override def next(): ColumnarBatch = {
          var k = 0
          while (k < nFields) { dataVectors(k).reset(); k += 1 }
          var n = 0
          if (nPred == 0) {
            while (n < BatchSize && pending) {
              bufferPlain(lines.sliceBytes, lines.sliceStart, lines.sliceEnd, n)
              n += 1
              pending = lines.advanceSlice()
            }
            decodeColumns(n, replay = false)
          } else if (evalOn || batchOrd % ProbePeriod == 0) {
            var refused = 0
            while (n < BatchSize && pending) {
              if (bufferLine(lines.sliceBytes, lines.sliceStart, lines.sliceEnd, n)) n += 1
              else refused += 1
              pending = lines.advanceSlice()
            }
            evalOn = refused >= MinRefusals
            decodeColumns(n, replay = true)
          } else {
            // skip-evaluation mode: rows enter the batch unfiltered and the
            // filter-bound columns decode column-major like any other
            // (Spark's post-scan Filter applies the predicates)
            while (n < BatchSize && pending) {
              bufferPlain(lines.sliceBytes, lines.sliceStart, lines.sliceEnd, n)
              n += 1
              pending = lines.advanceSlice()
            }
            decodeColumns(n, replay = false)
          }
          batchOrd += 1
          // release block-buffer references so a consumed batch doesn't pin
          // decompressed blocks
          var r = 0
          while (r < n) { bufBytes(r) = null; r += 1 }
          batch.setNumRows(n)
          batch
        }
      })
      }
    }
  }

  /** Batch reader for the text / binary / eb-proto payloads: one value
    * column (+ optional offset), straight byte-array appends.
    */
  def rawReader(
      requiredSchema: StructType,
      partitionSchema: StructType,
      payload: String,
      ebMarkerOpt: Option[String],
      permissive: Boolean,
      conf: () => org.apache.hadoop.conf.Configuration,
      extOk: PartitionedFile => Boolean
  ): PartitionedFile => Iterator[InternalRow] = {
    val wantOffset = requiredSchema.fieldNames.contains("offset")
    val wantValue = requiredSchema.fieldNames.contains("value")
    val offsetFirst = requiredSchema.fieldNames.headOption.contains("offset")
    val nFields = requiredSchema.length
    val ebProto = payload == "eb-proto"
    val binary = payload == "binary"
    val ebMarker = graft.format.EbBlocks.parseMarker(ebMarkerOpt)
    val valueOrd = if (wantOffset && wantValue) (if (offsetFirst) 1 else 0) else 0
    val offsetOrd = if (wantOffset && wantValue) (if (offsetFirst) 0 else 1) else 0

    (file: PartitionedFile) => if (!extOk(file)) Iterator.empty else fileRead { read =>
      val in = FourMcFileFormat.openInput(file, conf())
      read.onFinish(in.close())
      val index = FourMcFileFormat.cachedIndex(file, in)
      val dataVectors = OnHeapColumnVector.allocateColumns(BatchSize, requiredSchema)
      val allVectors: Array[ColumnVector] =
        dataVectors.map(v => v: ColumnVector) ++ partitionVectors(partitionSchema, file.partitionValues)
      val batch = new ColumnarBatch(allVectors)
      read.onFinish(batch.close())
      if (!ebProto && !binary) {
        // text payload: zero-copy line slices feed putByteArray straight
        // from the decompressed block buffer — no per-line array or tuple
        // (the same move as the csv batch reader; at 20M lines/GiB the
        // detached-line path was pure allocation overhead)
        val it = new FourMcLineIterator(in, index, file.start, file.start + file.length,
          permissive = permissive)
        read.onFinish {
          FourMcScanMetrics.blocksRead.add(it.blocksRead)
          if (permissive) FourMcScanMetrics.corruptSkipped.add(it.corruptSkipped)
        }
        erase(new Iterator[ColumnarBatch] {
          private var pending = it.advanceSlice()
          override def hasNext: Boolean = pending
          override def next(): ColumnarBatch = {
            var k = 0
            while (k < nFields) { dataVectors(k).reset(); k += 1 }
            var n = 0
            while (n < BatchSize && pending) {
              if (nFields > 0) {
                if (wantValue)
                  dataVectors(valueOrd).putByteArray(n, it.sliceBytes, it.sliceStart,
                    it.sliceEnd - it.sliceStart)
                if (wantOffset) dataVectors(offsetOrd).putLong(n, it.sliceOff)
              }
              n += 1
              pending = it.advanceSlice()
            }
            batch.setNumRows(n)
            batch
          }
        })
      } else {
      val raw: Iterator[(Long, Array[Byte])] =
        if (ebProto) {
          val it = new graft.format.FourMcEbBlockIterator(in, index, file.start, file.start + file.length, ebMarker)
          read.onFinish(FourMcScanMetrics.blocksRead.add(it.blocksRead))
          it
        } else {
          val it = new FourMcRecordIterator(in, index, file.start, file.start + file.length,
            permissive = permissive)
          read.onFinish {
            FourMcScanMetrics.blocksRead.add(it.blocksRead)
            if (permissive) FourMcScanMetrics.corruptSkipped.add(it.corruptSkipped)
          }
          it
        }
      erase(new Iterator[ColumnarBatch] {
        override def hasNext: Boolean = raw.hasNext
        override def next(): ColumnarBatch = {
          var k = 0
          while (k < nFields) { dataVectors(k).reset(); k += 1 }
          var n = 0
          while (n < BatchSize && raw.hasNext) {
            val (off, bytes) = raw.next()
            if (nFields > 0) {
              if (wantValue) dataVectors(valueOrd).putByteArray(n, bytes, 0, bytes.length)
              if (wantOffset) dataVectors(offsetOrd).putLong(n, off)
            }
            n += 1
          }
          batch.setNumRows(n)
          batch
        }
      })
      }
    }
  }
}
