package graft.sources

import graft.format._

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector, OnHeapColumnVector,
  WritableColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

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
  * Both csv block layouts, rows and columnar, decode through one decoder
  * ([[csvDecoder]]): only how a window of rows is found and where a
  * field's bytes lie differ. Pushed filters evaluate column-major over each
  * window before the fill, so a refuted row costs only its filter fields'
  * parse, and batches arrive pre-compacted (Spark's ColumnarBatch has no
  * selection vector to mask dead rows with).
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
    * One decoder serves both block layouts. A [[Window]] is the only part
    * that knows the layout: it hands the decoder up to [[BatchSize]] rows
    * at a time and locates a column's value bytes in them (see
    * [[RowsWindow]], [[ColumnarWindow]]). [[CsvBatches]] then runs the same
    * steps over every window: the pushed filters column-major, the
    * adaptive probe, and one fill pass over the rows that pass.
    *
    * Pushed `filters` may be applied only in part: the adaptive probe
    * stops evaluating them on stretches that refuse little, which is
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
    val fields = new CsvFields(requiredSchema, dataSchema, filters, delim, tsFmt)
    import fields._

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
      else {
        val window =
          if (index.stats.exists(_.columnar)) {
            val fileCols = index.stats.get.tags.length
            val neededOrds: Array[Int] = fieldIdx.filter(_ < fileCols).distinct.sorted
            // required ordinal -> cursor slot (-1 = column absent from the
            // file: reads as null, the missing-trailing-field semantics)
            val slotOf: Array[Int] = fieldIdx.map(src =>
              if (src < fileCols) java.util.Arrays.binarySearch(neededOrds, src) else -1)
            new ColumnarWindow(
              FourMcFileFormat.columnarCursor(in, index, file, neededOrds, verdicts, permissive, read),
              slotOf, verdicts, elides = predFields.nonEmpty)
          } else
            new RowsWindow(fields, FourMcFileFormat.csvLines(in, index, file, verdicts, permissive, read))
        val dataVectors = OnHeapColumnVector.allocateColumns(BatchSize, requiredSchema)
        val allVectors: Array[ColumnVector] =
          dataVectors.map(v => v: ColumnVector) ++ partitionVectors(partitionSchema, file.partitionValues)
        val batch = new ColumnarBatch(allVectors)
        read.onFinish(batch.close())
        // per-FILE parse tags (micros-encoded timestamps carry tag 14)
        erase(new CsvBatches(fields, CsvPayload.fileTags(fieldTags, fieldIdx, index.stats),
          window, dataVectors, batch))
      }
    }
  }

  /** What a csv decoder knows before it opens a file: where each required
    * field sits in the data schema, how it parses, and the pushed filters
    * compiled per field.
    */
  private final class CsvFields(
      requiredSchema: StructType,
      dataSchema: StructType,
      filters: Seq[Filter],
      val delim: Byte,
      val tsFmt: String) extends Serializable {
    val fieldIdx: Array[Int] = requiredSchema.fields.map(f => dataSchema.fieldIndex(f.name))
    val fieldTags: Array[Int] = requiredSchema.fields.map(f => CsvPayload.tagOf(f.dataType))
    require(!fieldTags.contains(CsvPayload.TagArrInt),
      "csv payload stores array<int> widened to array<long>; declare array<long> in the read schema")
    val nFields: Int = requiredSchema.length
    val totalFields: Int = dataSchema.length
    val neededFields: Int = if (fieldIdx.isEmpty) 0 else fieldIdx.max + 1
    // lowest field any consumer reads (starts(src) / starts(src+1)): the
    // boundary scan popcount-skips delimiters of fields below this
    val firstField: Int = if (fieldIdx.isEmpty) 1 else math.max(1, fieldIdx.min)
    val fieldScale: Array[Int] = requiredSchema.fields.map(f => CsvPayload.scaleOf(f.dataType))
    val fieldPrec: Array[Int] = requiredSchema.fields.map(f => CsvPayload.precisionOf(f.dataType))
    // decimal precision <= 9 stores its unscaled value in the vector's INT
    // lane (Spark's compact-decimal vector layout); <= 18 in the long lane
    val intDecimal: Array[Boolean] = fieldPrec.map(p => p >= 0 && p <= Decimal.MAX_INT_DIGITS)
    val tsMicroDigits: Int = CsvPayload.fixedPatternFracDigits(tsFmt)
    val fieldPreds: Array[CsvPayload.FieldPred] =
      CsvPayload.compileFilters(filters, requiredSchema, fieldTags)
    // filter-bound fields, evaluated in pushdown order
    val predFields: Array[Int] = (0 until nFields).filter(k => fieldPreds(k).nonEmpty).toArray
  }

  /** Where a window of up to [[BatchSize]] rows comes from, and where each
    * row's value of a column lies: the one part of the csv decoder that
    * knows the block layout.
    */
  private abstract class Window {
    /** The window's first row within its block (dict codes are per block). */
    var row0 = 0
    /** Every row of the window passes the pushed filters (a Certain block). */
    var certain = false

    /** Loads the next window and returns its row count; 0 once the split
      * is exhausted.
      */
    def advance(): Int

    /** The value slices of required column `k` for the window rows
      * `sel(0 until n)`: row `sel(p)`'s value is `fb(p)[fs(p), fe(p))`, and
      * `fs(p) = -1` reads as null (a value the file does not have).
      */
    def locate(k: Int, sel: Array[Int], n: Int,
               fb: Array[Array[Byte]], fs: Array[Int], fe: Array[Int]): Unit

    /** Column `k`'s dict-encoded stream in this window, or null. */
    def dict(k: Int): graft.format.ColumnarBlocks.DictStream = null

    /** Lets go of the block buffers the window points into. */
    def release(): Unit = ()
  }

  /** The rows layout: up to [[BatchSize]] zero-copy line slices of the
    * split, boundary-scanned as they are buffered. The slices point into
    * the decompressed block buffers, which are fresh per block, so the few
    * blocks a window spans stay pinned until [[release]].
    */
  private final class RowsWindow(f: CsvFields, lines: FourMcLineIterator) extends Window {
    import f._
    private val stride = neededFields + 1
    private val bufBytes = new Array[Array[Byte]](BatchSize)
    private val rowEnds = new Array[Int](BatchSize) // exclusive line end per buffered row
    private val starts = new Array[Int](BatchSize * stride)
    private var n = 0

    override def advance(): Int = {
      n = 0
      while (n < BatchSize && lines.advanceSlice()) {
        val bytes = lines.sliceBytes
        CsvPayload.scanBoundaries(bytes, delim, starts, n * stride, neededFields, totalFields,
          lines.sliceStart, lines.sliceEnd, firstField)
        bufBytes(n) = bytes
        rowEnds(n) = lines.sliceEnd
        n += 1
      }
      n
    }

    override def locate(k: Int, sel: Array[Int], m: Int,
                        fb: Array[Array[Byte]], fs: Array[Int], fe: Array[Int]): Unit = {
      val src = fieldIdx(k)
      var p = 0
      while (p < m) {
        val r = sel(p)
        val bytes = bufBytes(r)
        val base = r * stride
        val s = starts(base + src)
        val to = rowEnds(r)
        fb(p) = bytes
        // s past the line end: a trailing field the line does not have (an
        // older-generation file under positional schema evolution) — null
        // for every type, unlike a present-but-empty field
        if (s > to) fs(p) = -1
        else {
          fs(p) = s
          fe(p) = CsvPayload.fieldEnd(bytes, delim, starts, base, src, s, neededFields, totalFields, to)
        }
        p += 1
      }
    }

    override def release(): Unit = java.util.Arrays.fill(bufBytes.asInstanceOf[Array[AnyRef]], 0, n, null)
  }

  /** The columnar layout: the next [[BatchSize]] rows of the current block.
    * One field per line per stream: value slices come straight off the
    * per-stream newline index, with no boundary scan, and only the
    * projected columns were ever decompressed. `slotOf` maps a required
    * column to its cursor slot, -1 for a column the file does not have.
    * A Certain block's windows skip the filters; with `elides`, each such
    * block counts in `predElidedBlocks`.
    */
  private final class ColumnarWindow(
      cursor: McColumnarCursor,
      slotOf: Array[Int],
      verdicts: Array[Byte],
      elides: Boolean) extends Window {
    private var n = 0
    private var inBlock = false

    // the next block is read when a window is asked for, not after the
    // previous one is handed out: a consumer that stops (a LIMIT) reads no
    // block past the one it stopped in
    override def advance(): Int = {
      row0 += n
      n = 0
      while (!inBlock || row0 >= cursor.rows) {
        if (!cursor.nextBlock()) return 0
        inBlock = true
        row0 = 0
        // a Certain block's lines all pass: its per-row evaluation (and the
        // pred-value cache) is a provable no-op
        certain = verdicts(cursor.blockOrd) == FourMcFileFormat.BlockVerdict.Certain
        if (certain && elides) FourMcScanMetrics.predElidedBlocks.add(1)
      }
      n = math.min(BatchSize, cursor.rows - row0)
      n
    }

    override def locate(k: Int, sel: Array[Int], m: Int,
                        fb: Array[Array[Byte]], fs: Array[Int], fe: Array[Int]): Unit = {
      val j = slotOf(k)
      if (j < 0) java.util.Arrays.fill(fs, 0, m, -1)
      else {
        val bytes = cursor.colBytes(j)
        var p = 0
        while (p < m) {
          val r = row0 + sel(p)
          fb(p) = bytes
          fs(p) = cursor.valStart(j, r)
          fe(p) = cursor.valEnd(j, r)
          p += 1
        }
      }
    }

    override def dict(k: Int): graft.format.ColumnarBlocks.DictStream = {
      val j = slotOf(k)
      if (j < 0) null else cursor.dictOf(j)
    }
  }

  /** The batches of one file: for each [[Window]], the pushed filters
    * evaluate column-major over the window's rows into the pred-value
    * cache and narrow the selection `sel`; then one fill pass decodes the
    * selected rows into the vectors, the filter-bound columns replaying
    * their cached values. Each per-type kernel is written once:
    * [[parseBits]] (filters and dict tables), [[putBits]] (cached and dict
    * values), the plain fill, the array split and the map split.
    *
    * ADAPTIVE fail-fast: evaluation costs pred-cache writes, selection
    * bookkeeping and closure dispatch, pure overhead when a filter keeps
    * ~everything (the r14 JFR run put the columnar evaluation at 24% of
    * q1's samples against a 98%-keeping shipdate range the unsorted blocks
    * cannot prove certain). Probe windows measure refusals; a window that
    * refuses under ~12.5% of its rows turns evaluation off, and one window
    * per [[ProbePeriod]] re-probes, catching a selectivity shift the block
    * stats did not absorb. Skipping is always sound: Spark's post-scan
    * Filter re-applies every pushed predicate, and the footer-stats
    * relation re-checks its rows. Certain blocks skip without probing.
    */
  private final class CsvBatches(
      f: CsvFields,
      tags: Array[Int],
      win: Window,
      dataVectors: Array[OnHeapColumnVector],
      batch: ColumnarBatch) extends Iterator[ColumnarBatch] {
    import f._

    private lazy val fmt = java.time.format.DateTimeFormatter.ofPattern(tsFmt)
      .withZone(java.time.ZoneOffset.UTC)
    private val nPred = predFields.length
    // parsed filter-field values of the window's rows, so the fill never
    // parses a filter-bound field twice: primitives as raw long bits,
    // strings as the unescaped UTF8String, nulls flagged; row r's value of
    // filter pi sits at r * nPred + pi
    private val predLongs = new Array[Long](BatchSize * math.max(1, nPred))
    private val predObjs = new Array[AnyRef](BatchSize * math.max(1, nPred))
    private val predNulls = new Array[Boolean](BatchSize * math.max(1, nPred))
    // column ordinal -> slot in the pred cache (-1 = not filter-bound)
    private val predSlot: Array[Int] = Array.fill(nFields)(-1)
    locally { var pi = 0; while (pi < nPred) { predSlot(predFields(pi)) = pi; pi += 1 } }
    // the window rows that enter the batch, ascending
    private val sel = new Array[Int](BatchSize)
    // one column's value slices for the rows being evaluated or filled
    private val fb = new Array[Array[Byte]](BatchSize)
    private val fs = new Array[Int](BatchSize)
    private val fe = new Array[Int](BatchSize)

    // Per-column entry tables of DICT-ENCODED streams, rebuilt when the
    // block's DictStream changes: each of the ≤64 entries is parsed and
    // tested against the column's filters ONCE per block, so a q6-class
    // predicate or a low-cardinality column (l_discount, l_tax) stops
    // paying a per-row parse; strings feed the vector's dictionary-id lane
    // through [[McColumnDictionary]].
    private val dStream = new Array[graft.format.ColumnarBlocks.DictStream](nFields)
    private val dNulls = new Array[Array[Boolean]](nFields)
    private val dLongs = new Array[Array[Long]](nFields)
    private val dObjs = new Array[Array[AnyRef]](nFields)
    private val dKeep = new Array[Array[Boolean]](nFields)
    private val dSpark = new Array[McColumnDictionary](nFields)

    private val ProbePeriod = 16
    private var batchOrd = 0
    private var evalOn = true // the last evaluated window's verdict
    private var n = 0 // rows in the loaded window
    private var loaded = false

    override def hasNext: Boolean = {
      if (!loaded) { n = win.advance(); loaded = true }
      n > 0
    }

    override def next(): ColumnarBatch = {
      if (!hasNext) throw new NoSuchElementException
      loaded = false
      var k = 0
      while (k < nFields) { dataVectors(k).reset(); k += 1 }
      val evalThis = nPred > 0 && !win.certain && (evalOn || batchOrd % ProbePeriod == 0)
      val selN =
        if (!evalThis) {
          if (nPred > 0) FourMcScanMetrics.predSkipBatches.add(1)
          var r = 0
          while (r < n) { sel(r) = r; r += 1 }
          n
        } else {
          FourMcScanMetrics.predEvalBatches.add(1)
          val s = evalPredicates()
          evalOn = (n - s).toLong * 8 >= n.toLong
          s
        }
      fillColumns(selN, replay = evalThis)
      win.release()
      batchOrd += 1
      batch.setNumRows(selN)
      batch
    }

    private def pass(ps: Array[Any => Boolean], v: Any): Boolean = {
      var pi = 0
      while (pi < ps.length) { if (!ps(pi)(v)) return false; pi += 1 }
      true
    }

    /** A non-string value of column `k` as raw long bits. */
    private def parseBits(k: Int, tag: Int, b: Array[Byte], s: Int, e: Int): Long =
      (tag: @scala.annotation.switch) match {
        case CsvPayload.TagLong | CsvPayload.TagTimestampMicros => CsvPayload.parseLong(b, s, e)
        case CsvPayload.TagInt => CsvPayload.parseInt(b, s, e).toLong
        case CsvPayload.TagDouble =>
          java.lang.Double.doubleToRawLongBits(CsvPayload.parseDouble(b, s, e))
        case CsvPayload.TagFloat =>
          java.lang.Float.floatToRawIntBits(CsvPayload.parseFloat(b, s, e)).toLong
        case CsvPayload.TagBoolean => if (b(s) == 't' || b(s) == 'T') 1L else 0L
        case CsvPayload.TagDate    => CsvPayload.parseDateDays(b, s, e).toLong
        case CsvPayload.TagDecimal => CsvPayload.parseDecimalUnscaled(b, s, e, fieldScale(k))
        case _ =>
          if (tsMicroDigits >= 0 && CsvPayload.isFixedLayout(b, s, e))
            CsvPayload.parseTimestampMicros(b, s, e)
          else {
            val inst = java.time.Instant.from(fmt.parse(CsvPayload.ascii(b, s, e)))
            inst.getEpochSecond * 1000000L + inst.getNano / 1000L
          }
      }

    /** Raw bits `x` as the boxed value a filter closure takes. */
    private def boxed(k: Int, tag: Int, x: Long): Any = (tag: @scala.annotation.switch) match {
      case CsvPayload.TagInt | CsvPayload.TagDate => x.toInt
      case CsvPayload.TagDouble  => java.lang.Double.longBitsToDouble(x)
      case CsvPayload.TagFloat   => java.lang.Float.intBitsToFloat(x.toInt)
      case CsvPayload.TagBoolean => x == 1L
      case CsvPayload.TagDecimal => Decimal(x, fieldPrec(k), fieldScale(k))
      case _                     => x
    }

    /** Writes raw bits `x` of column `k` at position `p` of `vec`. Compact
      * decimals store the unscaled value in the int or long lane (the
      * layout Spark's parquet reader fills); precision picks the lane.
      */
    private def putBits(vec: OnHeapColumnVector, p: Int, k: Int, tag: Int, x: Long): Unit =
      (tag: @scala.annotation.switch) match {
        case CsvPayload.TagInt | CsvPayload.TagDate => vec.putInt(p, x.toInt)
        case CsvPayload.TagDouble  => vec.putDouble(p, java.lang.Double.longBitsToDouble(x))
        case CsvPayload.TagFloat   => vec.putFloat(p, java.lang.Float.intBitsToFloat(x.toInt))
        case CsvPayload.TagBoolean => vec.putBoolean(p, x == 1L)
        case CsvPayload.TagDecimal => if (intDecimal(k)) vec.putInt(p, x.toInt) else vec.putLong(p, x)
        case _                     => vec.putLong(p, x)
      }

    /** Does the slice `b[s, e)` read as a null of `tag`? An empty slice is
      * the empty string, and a null of every other type.
      */
    @inline private def isNull(tag: Int, b: Array[Byte], s: Int, e: Int): Boolean =
      s < 0 || CsvPayload.isNullMarker(b, s, e) || (s >= e && tag != CsvPayload.TagString)

    /** Parses one value of column `k` into entry `i` of the given lanes and
      * tests it against the column's filters `fp`.
      */
    private def evalValue(k: Int, tag: Int, fp: CsvPayload.FieldPred, b: Array[Byte], s: Int, e: Int,
                          nulls: Array[Boolean], longs: Array[Long], objs: Array[AnyRef], i: Int): Boolean =
      if (isNull(tag, b, s, e)) { nulls(i) = true; fp.nullPasses }
      else {
        nulls(i) = false
        if (tag == CsvPayload.TagString) {
          val u = if (s >= e) UTF8String.EMPTY_UTF8 else CsvPayload.unescape(b, s, e, delim)
          objs(i) = u
          pass(fp.rest, u)
        } else {
          val x = parseBits(k, tag, b, s, e)
          longs(i) = x
          fp.rangeOk(x) && (fp.rest.length == 0 || pass(fp.rest, boxed(k, tag, x)))
        }
      }

    /** Builds column `k`'s entry tables for dict stream `d`, once per block. */
    private def entries(k: Int, tag: Int, d: graft.format.ColumnarBlocks.DictStream): Unit =
      if (dStream(k) ne d) {
        val nE = d.nEntries
        val nulls = new Array[Boolean](nE)
        val longs = new Array[Long](nE)
        val objs = new Array[AnyRef](nE)
        val keep = new Array[Boolean](nE)
        var en = 0
        while (en < nE) {
          keep(en) = evalValue(k, tag, fieldPreds(k), d.data, d.entryStart(en), d.entryEnd(en),
            nulls, longs, objs, en)
          en += 1
        }
        dStream(k) = d
        dNulls(k) = nulls; dLongs(k) = longs; dObjs(k) = objs; dKeep(k) = keep
        dSpark(k) =
          if (tag != CsvPayload.TagString) null
          else new McColumnDictionary(Array.tabulate(nE)(en =>
            if (nulls(en)) Array.emptyByteArray else objs(en).asInstanceOf[UTF8String].getBytes))
      }

    /** Evaluates the pushed filters over the window's rows, one filter
      * column at a time over the rows still selected, caching the parsed
      * values for replay; returns the survivor count, their rows in `sel`.
      */
    private def evalPredicates(): Int = {
      var selN = n
      var r = 0
      while (r < n) { sel(r) = r; r += 1 }
      var pi = 0
      while (pi < nPred && selN > 0) {
        val k = predFields(pi)
        val tag = tags(k)
        val d = win.dict(k)
        var kept = 0
        var p = 0
        if (d != null) {
          // dict-encoded stream: two table lookups per row
          entries(k, tag, d)
          val nulls = dNulls(k); val longs = dLongs(k); val objs = dObjs(k); val keep = dKeep(k)
          while (p < selN) {
            val r = sel(p)
            val c = d.code(win.row0 + r)
            val slot = r * nPred + pi
            predNulls(slot) = nulls(c); predLongs(slot) = longs(c); predObjs(slot) = objs(c)
            if (keep(c)) { sel(kept) = r; kept += 1 }
            p += 1
          }
        } else {
          win.locate(k, sel, selN, fb, fs, fe)
          val fp = fieldPreds(k)
          while (p < selN) {
            val r = sel(p)
            if (evalValue(k, tag, fp, fb(p), fs(p), fe(p), predNulls, predLongs, predObjs, r * nPred + pi)) {
              sel(kept) = r; kept += 1
            }
            p += 1
          }
        }
        selN = kept
        pi += 1
      }
      selN
    }

    /** Decodes the selected rows into the vectors at positions [0, selN),
      * column-major. With `replay`, filter-bound columns take their cached
      * values (a window that skipped evaluation has none and parses).
      */
    private def fillColumns(selN: Int, replay: Boolean): Unit = {
      var k = 0
      while (k < nFields) {
        val vec = dataVectors(k)
        val tag = tags(k)
        // a dictionary set by a previous batch survives reset(); clear it
        // unless this batch's dict lane sets it again
        if (vec.hasDictionary) vec.setDictionary(null)
        val nested = CsvPayload.isArrayTag(tag) || tag == CsvPayload.TagMap
        val slot0 = if (replay) predSlot(k) else -1 // arrays and maps are never filter-bound
        val d = if (nested) null else win.dict(k)
        if (slot0 >= 0) {
          var p = 0
          while (p < selN) {
            val slot = sel(p) * nPred + slot0
            if (predNulls(slot)) vec.putNull(p)
            else if (tag == CsvPayload.TagString) {
              val u = predObjs(slot).asInstanceOf[UTF8String]
              vec.putByteArray(p, u.getBytes, 0, u.numBytes())
            } else putBits(vec, p, k, tag, predLongs(slot))
            p += 1
          }
        } else if (d != null) {
          entries(k, tag, d)
          val nulls = dNulls(k)
          val longs = dLongs(k)
          val ids =
            if (tag != CsvPayload.TagString) null
            else { vec.setDictionary(dSpark(k)); vec.reserveDictionaryIds(BatchSize) }
          var p = 0
          while (p < selN) {
            val c = d.code(win.row0 + sel(p))
            if (nulls(c)) vec.putNull(p)
            else if (ids != null) ids.putInt(p, c)
            else putBits(vec, p, k, tag, longs(c))
            p += 1
          }
        } else {
          win.locate(k, sel, selN, fb, fs, fe)
          if (CsvPayload.isArrayTag(tag)) fillArrays(vec, tag, selN)
          else if (tag == CsvPayload.TagMap) fillMaps(vec, selN)
          else fillPlain(vec, k, tag, selN)
        }
        k += 1
      }
    }

    /** Parses the located values into `vec`. */
    private def fillPlain(vec: OnHeapColumnVector, k: Int, tag: Int, selN: Int): Unit = {
      var p = 0
      while (p < selN) {
        val b = fb(p)
        val s = fs(p)
        val e = fe(p)
        if (isNull(tag, b, s, e)) vec.putNull(p)
        else if (tag != CsvPayload.TagString) putBits(vec, p, k, tag, parseBits(k, tag, b, s, e))
        else if (s >= e) vec.putByteArray(p, Array.emptyByteArray, 0, 0)
        // the common case copies the block bytes straight into the vector's
        // contiguous child array: one copy, no allocation
        else if (CsvPayload.escapeFree(b, s, e)) vec.putByteArray(p, b, s, e - s)
        else {
          val u = CsvPayload.unescape(b, s, e, delim)
          vec.putByteArray(p, u.getBytes, 0, u.numBytes())
        }
        p += 1
      }
    }

    /** Splits the located `;`-joined numeric arrays into `vec`'s CHILD
      * vector at explicit indices (one reserve per row, no per-element
      * append bookkeeping — measured 1.4x over appendLong per element);
      * putArray records (offset, count) per row. The child was reset with
      * the parent, so offsets restart at 0.
      */
    private def fillArrays(vec: OnHeapColumnVector, tag: Int, selN: Int): Unit = {
      val child = vec.arrayData()
      var off = 0
      var p = 0
      while (p < selN) {
        val b = fb(p)
        val s = fs(p)
        val e = fe(p)
        if (s < 0 || CsvPayload.isNullMarker(b, s, e)) vec.putNull(p)
        else {
          // single-pass split+parse: tokens ≤ (len+1)/2 bounds the reserve
          // (1-byte token + separator repeating), so no counting pre-scan
          // touches the field bytes twice
          var cnt = 0
          if (s < e) {
            child.reserve(off + ((e - s) >> 1) + 1)
            var ts = s
            var more = true
            while (more) {
              var te = ts
              while (te < e && b(te) != CsvPayload.ElemSep) te += 1
              if (CsvPayload.isNullElem(b, ts, te)) child.putNull(off + cnt)
              else (tag: @scala.annotation.switch) match {
                case CsvPayload.TagArrLong  => child.putLong(off + cnt, CsvPayload.parseLong(b, ts, te))
                case CsvPayload.TagArrFloat => child.putFloat(off + cnt, CsvPayload.parseFloat(b, ts, te))
                case _                      => child.putDouble(off + cnt, CsvPayload.parseDouble(b, ts, te))
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
    }

    /** Splits the located map<string,string> values: unescaped keys and
      * values land in the two child string vectors at SHARED offsets;
      * putArray records the per-row (offset, count) the ColumnarMap
      * accessor reads back. An empty field is an empty map.
      */
    private def fillMaps(vec: OnHeapColumnVector, selN: Int): Unit = {
      val keyChild = vec.getChild(0)
      val valChild = vec.getChild(1)
      def put(child: WritableColumnVector, i: Int, b: Array[Byte], s: Int, e: Int): Unit =
        if (s >= e) child.putByteArray(i, Array.emptyByteArray, 0, 0)
        else {
          val u = CsvPayload.unescape(b, s, e, delim)
          child.putByteArray(i, u.getBytes, 0, u.numBytes())
        }
      var off = 0
      var p = 0
      while (p < selN) {
        val b = fb(p)
        val s = fs(p)
        val e = fe(p)
        if (s < 0 || CsvPayload.isNullMarker(b, s, e)) vec.putNull(p)
        else {
          val cnt = CsvPayload.countEntries(b, s, e)
          keyChild.reserve(off + cnt)
          valChild.reserve(off + cnt)
          var ts = s
          var m = 0
          while (m < cnt) {
            val te = CsvPayload.entryEnd(b, ts, e)
            val eq = CsvPayload.kvSplit(b, ts, te)
            put(keyChild, off + m, b, ts, if (eq < 0) te else eq)
            val vs = if (eq < 0) te else eq + 1
            if (eq >= 0 && CsvPayload.isNullMarker(b, vs, te)) valChild.putNull(off + m)
            else put(valChild, off + m, b, vs, te)
            ts = te + 1
            m += 1
          }
          vec.putArray(p, off, cnt)
          off += cnt
        }
        p += 1
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
