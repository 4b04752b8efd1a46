package graft.sources

import graft.format._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{
  FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile
}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Splittable Spark source/sink for the 4mc/4mz container.
  *
  * `spark.read.format("4mc").load(path)` → `[value: string]`
  * (`option("withOffsets", true)` adds `offset: long` = file offset of the
  * line's block, the analog of the reference's `LongWritable` key,
  * `FourMcLineRecordReader.java:54-57`).
  *
  * `option("payload", "binary")` reads/writes length-prefixed binary records
  * (`[value: binary]`) — records never span blocks, so splits stay
  * block-aligned (the Elephant-Bird-protobuf analog, SURVEY §2 A3/A10).
  *
  * `df.write.format("4mc").option("codec", "zstd-6").save(path)` — codec is a
  * writer-side choice; readers auto-detect LZ4 vs ZSTD from the magic.
  *
  * Splittability is the whole point (reference `Readme.md:110-138`): the
  * footer block index lets ANY byte-range split map deterministically to a
  * disjoint set of 4 MiB blocks, so a 100 TB directory fans out to
  * `totalBytes / maxSplitBytes` parallel tasks with no external index file.
  */
class FourMcFileFormat extends FileFormat with DataSourceRegister with Serializable {

  override def shortName(): String = "4mc"
  override def toString: String = "4MC"

  override def inferSchema(
      sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]
  ): Option[StructType] = {
    if (options.getOrElse("payload", "text") == "csv") return None // user-provided schema
    val valueType = options.getOrElse("payload", "text") match {
      case "binary" | "eb-proto" => BinaryType
      case _                     => StringType
    }
    val base = StructType(Seq(StructField("value", valueType, nullable = false)))
    if (options.get("withOffsets").exists(_.toBoolean))
      Some(StructType(StructField("offset", LongType, nullable = false) +: base.fields))
    else Some(base)
  }

  override def isSplitable(
      sparkSession: SparkSession,
      options: Map[String, String],
      path: Path
  ): Boolean = true

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType
  ): OutputWriterFactory = {
    val codecName = options.getOrElse("codec", "lz4-fast")
    val codec = McCodec(codecName) // validate eagerly on the driver
    val payload = options.getOrElse("payload", "text")
    val binary = payload == "binary"
    val csv = payload == "csv"
    require(
      csv || dataSchema.length == 1,
      s"4mc sink expects exactly one column (got ${dataSchema.fieldNames.mkString(", ")}); " +
        "serialize rows to a single string/binary column first, or use payload=csv"
    )
    val delim = options.getOrElse("delimiter", "|")
    val tsFmt = options.getOrElse("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
    // flush threshold for csv sinks (≤ the format's 4 MiB MAX — smaller
    // blocks are read-compatible): on sorted writes, finer blocks = finer
    // zone-map pruning granularity. Rejected (not silently ignored) for
    // payloads whose writers don't honor it.
    val blockBytes = options.get("blockBytes").map(_.toInt).getOrElse(graft.format.FourMc.MaxBlockSize)
    require(csv || !options.contains("blockBytes"),
      s"blockBytes is only supported for payload=csv (got payload=$payload)")
    // block payload layout: 'columnar' (per-column sub-streams,
    // [[graft.format.ColumnarBlocks]] — projections decompress only their
    // columns; the DEFAULT for csv payloads since round 15: it met or beat
    // the row layout on every measured scan shape) or 'rows' (classic
    // delimited lines — the opt-out, and the only layout for non-csv
    // payloads). Columnar requires the stats segment (its version-3 layout
    // byte is how readers detect it), so blockStats=false implies rows.
    val blockStatsOn = options.getOrElse("blockStats", "true").toBoolean
    val layout = options.getOrElse("layout", if (csv && blockStatsOn) "columnar" else "rows")
    require(layout == "rows" || layout == "columnar",
      s"4mc layout must be 'rows' or 'columnar', got '$layout'")
    val columnar = layout == "columnar"
    require(!columnar || csv,
      s"layout=columnar is only supported for payload=csv (got payload=$payload)")
    require(!columnar || options.getOrElse("blockStats", "true").toBoolean,
      "layout=columnar requires blockStats=true (readers detect the layout from the stats segment)")
    // timestamp encoding: 'text' (default, the fixed-layout pattern) or
    // 'micros' (raw int64 micros tokens, precision-exact). Micros requires
    // the stats segment — its stored tag bytes are the read-side detection.
    val tsEncoding = options.getOrElse("timestampEncoding", "text")
    require(tsEncoding == "text" || tsEncoding == "micros",
      s"timestampEncoding must be 'text' or 'micros', got '$tsEncoding'")
    val tsMicros = tsEncoding == "micros"
    require(!tsMicros || csv,
      s"timestampEncoding=micros is only supported for payload=csv (got payload=$payload)")
    require(!tsMicros || options.getOrElse("blockStats", "true").toBoolean,
      "timestampEncoding=micros requires blockStats=true (readers detect the encoding " +
        "from the stats segment's tag bytes)")
    // per-stream dictionary encoding inside columnar blocks (r15): a
    // low-cardinality column stream (≤ [[graft.format.ColumnarBlocks.DictMaxEntries]]
    // = 64 distinct values of ≤64 bytes)
    // stores codes + an inline dictionary instead of repeated values when
    // that is STRICTLY smaller ([[graft.format.ColumnarBlocks.DictFlag]]).
    // Pure win on disk and decode, so on by default; the option is the
    // escape hatch for byte-level reproducibility against pre-r15 readers.
    val dictEncode = options.getOrElse("dictEncode", "true").toBoolean
    require(!options.contains("dictEncode") || columnar,
      "dictEncode applies only to layout=columnar")
    // stats segment version pin (r16 advice): the default (5, joint
    // histograms) is ignored ENTIRELY by older readers — every stats-driven
    // feature (block pruning, aggregate pushdown) silently degrades for new
    // files in mixed-version deployments. statsVersion=2 (rows layout), 3
    // (columnar, count-less dicts), or 4 (per-column histograms, no joints)
    // writes the older segment for fleets with a lower read floor; data
    // bytes are identical either way.
    val statsVersion = options.get("statsVersion").map(_.toInt)
      .getOrElse(graft.format.BlockStats.StatsVersionJoint)
    require(statsVersion >= 2 && statsVersion <= graft.format.BlockStats.StatsVersionJoint,
      s"statsVersion must be 2..${graft.format.BlockStats.StatsVersionJoint}, got $statsVersion")
    require(!options.contains("statsVersion") || (csv && blockStatsOn),
      "statsVersion applies only to payload=csv with blockStats=true")
    require(!columnar || statsVersion >= graft.format.BlockStats.StatsVersionColumnar,
      "layout=columnar requires statsVersion>=3 (the layout byte is how readers detect it)")
    // per-block bloom filters over integer key columns ([[BlockBlooms]]):
    // comma-separated column names, validated eagerly on the driver
    val bloomCols: Array[Int] = options.get("bloomColumns") match {
      case None => Array.empty
      case Some(s) =>
        require(csv, s"bloomColumns is only supported for payload=csv (got payload=$payload)")
        require(options.getOrElse("blockStats", "true").toBoolean,
          "bloomColumns requires blockStats=true")
        s.split(',').map(_.trim).filter(_.nonEmpty).map { name =>
          val i = dataSchema.fieldNames.indexOf(name)
          require(i >= 0, s"bloomColumns: no such column '$name'")
          val tag = CsvPayload.tagOf(dataSchema.fields(i).dataType)
          require(tag == CsvPayload.TagLong || tag == CsvPayload.TagInt ||
            tag == CsvPayload.TagString || tag == CsvPayload.TagDate ||
            tag == CsvPayload.TagDecimal,
            s"bloomColumns: '$name' must be an integer, string, date, or decimal column")
          i
        }.sorted
    }
    // v2 bloom segments add a fixed-size FILE-level filter per bloom column
    // (the manifest's driver-side point-lookup source). bloomVersion=1 pins
    // the per-block-only v1 segment for older read floors;
    // fileBloomBuckets resizes the file filter (buckets × 32 B per column).
    val fileBloomBuckets: Int = {
      val bv = options.get("bloomVersion").map(_.toInt)
        .getOrElse(graft.format.BlockBlooms.BloomVersionFile)
      require(bv >= 1 && bv <= graft.format.BlockBlooms.BloomVersionFile,
        s"bloomVersion must be 1..${graft.format.BlockBlooms.BloomVersionFile}, got $bv")
      require(!options.contains("bloomVersion") || bloomCols.nonEmpty,
        "bloomVersion applies only with bloomColumns")
      if (bv < graft.format.BlockBlooms.BloomVersionFile) 0
      else {
        val n = options.get("fileBloomBuckets").map(_.toInt)
          .getOrElse(graft.format.BlockBlooms.DefaultFileBuckets)
        require(n > 0 && n <= (1 << 20), s"fileBloomBuckets out of range: $n")
        n
      }
    }
    val ext = codec.fileExtension
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ext
      override def newInstance(
          path: String,
          schema: StructType,
          context: TaskAttemptContext
      ): OutputWriter =
        if (csv) new FourMcCsvOutputWriter(path, context, McCodec(codecName), schema, delim, tsFmt,
          options.getOrElse("blockStats", "true").toBoolean, blockBytes, bloomCols, columnar,
          tsMicros, columnar && dictEncode, statsVersion, fileBloomBuckets)
        else if (payload == "eb-proto")
          new FourMcEbOutputWriter(path, context, McCodec(codecName),
            graft.format.EbBlocks.parseMarker(options.get("ebMarker")),
            options.getOrElse("ebClassName", ""),
            options.getOrElse("ebBlockRecords", "100").toInt)
        else new FourMcOutputWriter(path, context, McCodec(codecName), binary)
    }
  }

  /** Batch output: every scan whose output schema (required + partition
    * columns) fits our vectors plans as ColumnarBatch — the planner inserts
    * ColumnarToRow and the parse runs column-major
    * ([[FourMcVectorizedReader]]). Spark can still ask for rows (no
    * whole-stage codegen, or more output fields than
    * `spark.sql.codegen.maxFields`); the same reader serves them.
    */
  override def supportBatch(sparkSession: SparkSession, schema: StructType): Boolean =
    FourMcVectorizedReader.vectorizable(schema)

  override def vectorTypes(
      requiredSchema: StructType,
      partitionSchema: StructType,
      sqlConf: org.apache.spark.sql.internal.SQLConf): Option[Seq[String]] =
    Some(
      Seq.fill(requiredSchema.length)(
        classOf[org.apache.spark.sql.execution.vectorized.OnHeapColumnVector].getName) ++
      Seq.fill(partitionSchema.length)(
        classOf[org.apache.spark.sql.execution.vectorized.ConstantColumnVector].getName))

  /** The one decoder for every payload: [[FourMcVectorizedReader]] builds
    * batches, returned as they are when the scan plans `Batched: true`
    * (`FileFormat.OPTION_RETURNING_BATCH`) and flattened to `UnsafeRow`s
    * otherwise.
    */
  override def buildReaderWithPartitionValues(
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
    val rkfOpt = options.get(RuntimeKeyFilter.OptionKey)
      .map(FourMcFileFormat.rkfBroadcast(sparkSession, _))
    val batches = batchReader(dataSchema, partitionSchema, requiredSchema, filters, options,
      rkfOpt, () => broadcastConf.value.value)
    if (options.get(FileFormat.OPTION_RETURNING_BATCH).contains("true")) batches
    else new FourMcVectorizedReader.BatchRows(
      StructType(requiredSchema.fields ++ partitionSchema.fields), batches)
  }

  /** The per-file batch reader behind [[buildReaderWithPartitionValues]],
    * minus its broadcasts: [[graft.plans.McDriverScanExec]] calls it on the
    * driver with the session's own hadoop conf and no runtime key filter.
    * Each file's iterator is `Closeable`.
    */
  private[graft] def batchReader(
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      rkfOpt: Option[(String, org.apache.spark.broadcast.Broadcast[Array[Long]], Boolean)],
      conf: () => Configuration
  ): PartitionedFile => Iterator[InternalRow] = {
    val payload = options.getOrElse("payload", "text")
    val extOk = (file: PartitionedFile) => FourMcFileFormat.accepts(file.toPath, options)
    // option("ignoreCorruptBlocks", true): the block-granular analog of
    // spark.sql.files.ignoreCorruptFiles. A failed block (checksum,
    // structure, codec) is skipped by resyncing to the footer index's next
    // boundary, and only the lines touching the corruption are lost (never
    // duplicated: ownership is unchanged, so other splits still skip their
    // first partial line). Counted in FourMcScanMetrics.corruptSkipped.
    val permissive = options.get("ignoreCorruptBlocks").exists(_.toBoolean)
    if (payload == "csv")
      FourMcVectorizedReader.csvReader(
        requiredSchema, partitionSchema, dataSchema, filters,
        delim = CsvPayload.delimiterOf(options.getOrElse("delimiter", "|")),
        tsFmt = options.getOrElse("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS"),
        statsEnabled = options.getOrElse("blockStats", "true").toBoolean,
        permissive = permissive,
        rkfOpt = rkfOpt,
        conf = conf,
        extOk = extOk)
    else
      FourMcVectorizedReader.rawReader(
        requiredSchema, partitionSchema, payload,
        ebMarkerOpt = options.get("ebMarker"),
        permissive = permissive,
        conf = conf,
        extOk = extOk)
  }

  /** Per-block verdicts of a whole-file read of one file, from its footer,
    * for [[graft.plans.McDriverScanStrategy]]'s census: the verdicts
    * [[FourMcFileFormat.blockVerdicts]] gives the batch reader.
    */
  private[graft] def blockVerdicts(
      index: FourMcIndex,
      dataSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String]): Array[Byte] =
    if (options.getOrElse("payload", "text") != "csv")
      Array.fill(index.numBlocks)(FourMcFileFormat.BlockVerdict.Decode)
    else FourMcFileFormat.blockVerdicts(index, dataSchema, requiredSchema, filters,
      statsEnabled = options.getOrElse("blockStats", "true").toBoolean,
      permissive = options.get("ignoreCorruptBlocks").exists(_.toBoolean),
      runtimeKeys = None)

  override def supportDataType(dataType: DataType): Boolean = dataType match {
    case StringType | BinaryType | LongType | IntegerType | DoubleType | FloatType |
        BooleanType | TimestampType | TimestampNTZType | DateType =>
      true
    // DecimalType up to the compact-long domain: the unscaled value rides
    // the same scaled-long parse/stats/pushdown machinery as longs. Wider
    // precisions would need a two-longs or bytes encoding — refused, as is
    // a legacy negative scale (needs exponent notation).
    case d: DecimalType => d.precision <= 18 && d.scale >= 0
    // numeric arrays in the csv payload (';'-joined elements, element nulls
    // as `\N`): the signature-table / embedding shapes. array<string> is
    // deliberately out (it would reopen the escaping interplay the numeric
    // grammar avoids); array<int> is accepted WRITE-side and widened to
    // long tokens — declare array<long> on read.
    case ArrayType(LongType | FloatType | DoubleType, _) => true
    case ArrayType(IntegerType, _) => true
    // the SURVEY §1.4 `props` shape: string-to-string maps, entries
    // `key=value` ';'-joined with map-token escaping (see CsvPayload.TagMap)
    case MapType(StringType, StringType, _) => true
    case _ => false
  }
}

/** Process-wide counters for the stats-pruned scan path (local-mode tests and
  * bench read these directly; on a real cluster they are per-executor and the
  * per-task SQL metrics would be the aggregation channel).
  */
object FourMcScanMetrics {
  val blocksRead = new java.util.concurrent.atomic.LongAdder
  val blocksSkipped = new java.util.concurrent.atomic.LongAdder
  /** Corrupt blocks skipped by permissive scans (ignoreCorruptBlocks). */
  val corruptSkipped = new java.util.concurrent.atomic.LongAdder
  /** Cold footer-index reads (cache misses) — the many-small-files bench
    * gate asserts this stays ZERO while planning a plain scan: footers are
    * task-side I/O there. The one bounded driver-side exception is a small
    * selective read planned on the driver
    * ([[graft.plans.McDriverScanExec]]): an aggregate over the plain or the
    * footer-stats relation, or a lookup whose footers refute a block, over
    * at most [[graft.plans.McDriverScanStrategy.MaxFiles]] files. Planning
    * reads those footers, through the same cache, to count the lines the
    * read decodes against
    * [[graft.plans.McDriverScanStrategy.MaxDecodedLines]].
    */
  val footerReads = new java.util.concurrent.atomic.LongAdder
  /** Rows answered from stats metadata alone (COUNT(*) fast path — no
    * block was read or decompressed for these).
    */
  val metadataCountRows = new java.util.concurrent.atomic.LongAdder
  /** Blocks whose MIN/MAX/COUNT contribution was answered from the footer
    * stats segment alone by the aggregate-pushdown relation
    * ([[FourMcStatsFileFormat]]) — no read, no decompression.
    */
  val statsAggBlocks = new java.util.concurrent.atomic.LongAdder
  /** Blocks whose per-row pushed-filter evaluation was ELIDED because the
    * zone maps prove every owned line satisfies every pushed predicate
    * ([[graft.format.McStatsPruning.certainBlocks]]) — the all-pass dual
    * of `blocksSkipped`.
    */
  val predElidedBlocks = new java.util.concurrent.atomic.LongAdder
  /** Columnar batches that EVALUATED pushed filters vs batches that skipped
    * evaluation (zone-certain block or adaptive low-refusal verdict).
    */
  val predEvalBatches = new java.util.concurrent.atomic.LongAdder
  val predSkipBatches = new java.util.concurrent.atomic.LongAdder
  /** Whole FILES dropped at planning by the directory manifest
    * ([[ManifestFileIndex]]) — no task was launched for these.
    */
  val manifestFilesPruned = new java.util.concurrent.atomic.LongAdder
  def reset(): Unit = {
    blocksRead.reset(); blocksSkipped.reset(); corruptSkipped.reset()
    footerReads.reset(); metadataCountRows.reset(); statsAggBlocks.reset()
    predElidedBlocks.reset(); predEvalBatches.reset(); predSkipBatches.reset()
    manifestFilesPruned.reset()
  }
}

object FourMcFileFormat {
  // Executor-side footer-index cache: one footer read per file version per
  // executor instead of per split — the analog of the reference's per-file
  // index cache (FourMcInputFormat.java:132-148). Keyed by modification time
  // too, so a file overwritten in place with the same length cannot serve a
  // stale index. ConcurrentHashMap (per-key locking): a synchronized map
  // would serialize EVERY cold footer I/O behind one mutex. The occasional
  // full clear past the bound is harmless — mtime keying makes a reload
  // always correct, so a racing clear only costs a cache miss.
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), FourMcIndex]()

  /** Per-block verdicts ([[BlockVerdict]]) of one csv file: the one block
    * plan every 4mc csv reader follows (the batch reader, the footer-stats
    * relation, and the driver census of both).
    *
    *  - Counted, for every block, when the read projects no column and has
    *    no pushed filter, no runtime key set and no corrupt-block skipping:
    *    the stats segment's per-block OWNED-line counts answer it, and the
    *    footer is the only byte the read touches (parquet answers COUNT(*)
    *    from row-group metadata the same way).
    *  - Skipped where the stats and blooms refute the pushed `filters` or
    *    the runtime key set (`(column, keys, hashed)`,
    *    [[RuntimeKeyFilter]]). A corrupt-block-skipping read
    *    (`ignoreCorruptBlocks`) skips nothing: the rows layout's one line
    *    reader, [[graft.format.FourMcLineIterator]], resyncs past a corrupt
    *    block only in a read with no keep mask.
    *  - Certain where the zone maps prove every owned line passes every
    *    pushed filter (vacuously, when there is none): decoded with the
    *    per-row evaluation elided.
    *  - Decode elsewhere.
    */
  private[sources] def blockVerdicts(
      index: FourMcIndex,
      dataSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      statsEnabled: Boolean,
      permissive: Boolean,
      runtimeKeys: Option[(String, Array[Long], Boolean)]): Array[Byte] = {
    import BlockVerdict._
    val stats = index.stats.filter(_ => statsEnabled)
    if (stats.isDefined && requiredSchema.isEmpty && filters.isEmpty && !permissive &&
        runtimeKeys.isEmpty)
      return Array.fill(index.numBlocks)(Counted)
    val keep: Option[Array[Boolean]] = stats.filter(_ => !permissive).flatMap { st =>
      val fromFilters =
        if (filters.nonEmpty) McStatsPruning.keepBlocks(filters, dataSchema, st, index.blooms)
        else None
      val fromKeys = runtimeKeys.flatMap { case (c, keys, hashed) =>
        if (hashed) McStatsPruning.keepBlocksForHashedKeys(c, keys, dataSchema, st, index.blooms)
        else McStatsPruning.keepBlocksForKeys(c, keys, dataSchema, st, index.blooms)
      }
      (fromFilters, fromKeys) match {
        case (Some(a), Some(b)) => Some(Array.tabulate(a.length)(i => a(i) && b(i)))
        case (a, b)             => a.orElse(b)
      }
    }
    val certain: Option[Array[Boolean]] =
      if (filters.isEmpty) Some(Array.fill(index.numBlocks)(true))
      else stats.flatMap(McStatsPruning.certainBlocks(filters, dataSchema, _))
    Array.tabulate(index.numBlocks) { b =>
      if (keep.exists(!_(b))) Skipped
      else if (certain.exists(_(b))) Certain
      else Decode
    }
  }

  /** Cursor over one split of a COLUMNAR csv file, reading the blocks
    * whose `verdicts` decode; scan metrics wired. The columnar twin of
    * [[csvLines]].
    */
  private[sources] def columnarCursor(
      in: McInput,
      index: FourMcIndex,
      file: PartitionedFile,
      needed: Array[Int],
      verdicts: Array[Byte],
      permissive: Boolean,
      read: FourMcVectorizedReader.FileRead
  ): McColumnarCursor = {
    val cur = new McColumnarCursor(in, index, index.stats.get.tags.length, needed,
      file.start, file.start + file.length, verdicts.map(BlockVerdict.decodes), permissive)
    read.onFinish {
      FourMcScanMetrics.blocksRead.add(cur.blocksRead)
      if (permissive) FourMcScanMetrics.corruptSkipped.add(cur.corruptSkipped)
    }
    cur
  }

  /** The csv-payload line stream for one split of a rows-layout file: the
    * lines owned by the blocks whose `verdicts` decode, scan metrics wired
    * (every block decompressed counts in `blocksRead`). A file with stats
    * is read through its keep mask; a permissive read never skips a block.
    */
  private[sources] def csvLines(
      in: McInput,
      index: FourMcIndex,
      file: PartitionedFile,
      verdicts: Array[Byte],
      permissive: Boolean,
      read: FourMcVectorizedReader.FileRead
  ): FourMcLineIterator = {
    val keep = Option.when(index.stats.isDefined && !permissive)(verdicts.map(BlockVerdict.decodes))
    val it = new FourMcLineIterator(in, index, file.start, file.start + file.length,
      permissive = permissive, keep = keep)
    read.onFinish {
      FourMcScanMetrics.blocksRead.add(it.blocksRead)
      if (permissive) FourMcScanMetrics.corruptSkipped.add(it.corruptSkipped)
    }
    it
  }

  // Driver-side broadcast cache for runtime key filters, keyed by the full
  // option spec string: repeated reader builds with the same injected
  // key set (re-planned queries, AQE re-optimization, the same dim reused
  // across queries in a session) reuse ONE broadcast of the decoded array
  // (~8 MB at the 1M-key cap) instead of minting a fresh one per call.
  // Eviction clears the map WITHOUT destroy(): an in-flight query may still
  // hold the evicted broadcast; dropping the driver reference lets Spark's
  // ContextCleaner reclaim the blocks once every closure referencing it is
  // collected.
  private val rkfCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.broadcast.Broadcast[Array[Long]]]()

  private[sources] def rkfBroadcast(
      spark: org.apache.spark.sql.SparkSession,
      spec: String): (String, org.apache.spark.broadcast.Broadcast[Array[Long]], Boolean) = {
    if (rkfCache.size > 64) rkfCache.clear()
    val b = rkfCache.computeIfAbsent(
      spec, s => spark.sparkContext.broadcast(RuntimeKeyFilter.decode(s)._2))
    (spec.substring(0, spec.indexOf(':')), b, RuntimeKeyFilter.isHashed(spec))
  }

  /** Reference semantics (FourMcInputFormatUtil.java:50-62): only
    * .4mc/.4mz files are container data; anything else in the directory is
    * skipped rather than failing the scan. option("acceptAnyExtension",
    * true) reads every listed file regardless of name.
    */
  private[graft] def accepts(path: Path, options: Map[String, String]): Boolean =
    options.get("acceptAnyExtension").exists(_.toBoolean) || {
      val p = path.getName
      p.endsWith(".4mc") || p.endsWith(".4mz")
    }

  /** What a planned read does with one block. */
  object BlockVerdict {
    /** Answered from the footer: one row for the block. */
    final val Answered: Byte = 1
    /** Answered from the footer's line count: one row per owned line. */
    final val Counted: Byte = 2
    final val Decode: Byte = 3
    /** No line can pass the pushed filters. */
    final val Skipped: Byte = 4
    /** Decoded; every owned line passes the pushed filters, so the reader
      * does not evaluate them.
      */
    final val Certain: Byte = 5

    def decodes(v: Byte): Boolean = v == Decode || v == Certain
  }

  /** Block census of a planned whole-file read: blocks answered from the
    * footers, decoded and skipped, and the lines the read makes rows of
    * (`Long.MaxValue` when a file cannot say).
    */
  final case class Census(answered: Long = 0, decoded: Long = 0, skipped: Long = 0, lines: Long = 0) {
    /** Adds one file's per-block verdicts. Counted blocks decode nothing,
      * but the read still makes one row per owned line of them, so their
      * lines count with the decoded ones.
      */
    def plus(index: FourMcIndex, verdicts: Array[Byte]): Census = {
      import BlockVerdict._
      val rowBlocks = verdicts.indices.filter(b => decodes(verdicts(b)) || verdicts(b) == Counted)
      val n = blockLines(index, rowBlocks)
      copy(
        answered = answered + verdicts.count(v => v == Answered || v == Counted),
        decoded = decoded + verdicts.count(decodes),
        skipped = skipped + verdicts.count(_ == Skipped),
        lines = if (n > Long.MaxValue - lines) Long.MaxValue else lines + n)
    }
  }

  /** Lines of `blocks`: their owned-line counts from the stats segment. A
    * file without one gives `Long.MaxValue`, past any bound: its stored
    * bytes do not tell its lines, since short, compressible text lines
    * expand many times further than wide csv rows.
    */
  private[graft] def blockLines(index: FourMcIndex, blocks: Seq[Int]): Long = index.stats match {
    case Some(st)                => blocks.map(st.lineCount(_).toLong).sum
    case None if blocks.nonEmpty => Long.MaxValue
    case None                    => 0L
  }

  private[sources] def cachedIndex(file: PartitionedFile, in: McInput): FourMcIndex =
    cached(file)(FourMcReader.readIndex(in))

  /** Footer index of one listed file through the same cache, opening the
    * file only on a miss: the driver-side readers of footers (the dict
    * coverage probe, the footer-aggregate sweep) share the tasks' cache and
    * their `footerReads` count.
    */
  private[graft] def footerIndex(file: PartitionedFile, conf: Configuration): FourMcIndex =
    cached(file) {
      val in = openInput(file, conf)
      try FourMcReader.readIndex(in) finally in.close()
    }

  private def cached(file: PartitionedFile)(read: => FourMcIndex): FourMcIndex = {
    if (indexCache.size > 4096) indexCache.clear()
    indexCache.computeIfAbsent(
      (file.urlEncodedPath, file.fileSize, file.modificationTime),
      _ => { FourMcScanMetrics.footerReads.increment(); read }
    )
  }

  private[sources] def openInput(file: PartitionedFile, conf: Configuration): McInput = {
    val path = file.toPath
    // Skip Hadoop's client-side checksum layer (the .crc side file) on
    // checksummed filesystems: every block in the container already carries
    // an xxhash32 the reader verifies, and the ChecksumFileSystem adds a
    // second read stream + per-read chunk realignment — measurable per-file
    // overhead when a table spans many small files.
    val fs = path.getFileSystem(conf) match {
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem => cfs.getRawFileSystem
      case other                                        => other
    }
    val stream = fs.open(path)
    val len = file.fileSize
    new McInput {
      def length: Long = len
      def readFully(pos: Long, buf: Array[Byte], off: Int, n: Int): Unit =
        stream.readFully(pos, buf, off, n)
      def close(): Unit = stream.close()
    }
  }
}

/** Length-prefixed binary records; a record never spans blocks, so the
  * split's records are exactly those of its owned blocks [firstBlock >= start,
  * firstBlock >= end).
  */
final class FourMcRecordIterator(
    in: McInput,
    index: FourMcIndex,
    splitStart: Long,
    splitEnd: Long,
    permissive: Boolean = false
) extends Iterator[(Long, Array[Byte])] {
  private val owned = index.ownedBlocks(splitStart, splitEnd)
  private val alignedEnd = index.blockStart(owned.end)
  private var pos = index.blockStart(owned.start)
  private var block: Array[Byte] = _
  private var blockOff = 0
  private var blockFileOff = pos

  /** Corrupt blocks skipped under `permissive` — simpler than the line
    * iterator's recovery because binary records never span blocks: dropping
    * a whole block (bad checksum, or in-block record framing that no longer
    * parses) can never desync any OTHER block, and block ownership already
    * partitions records exactly across splits.
    */
  var corruptSkipped: Long = 0L
  /** Blocks decompressed. */
  var blocksRead: Long = 0L

  private def skipToNextBlock(from: Long): Unit = {
    corruptSkipped += 1
    val o = index.ordAt(from + 1)
    pos = if (o < index.numBlocks) index.blockOffsets(o) else index.eosPos
    block = null
  }

  private def ensureBlock(): Boolean = {
    while (block == null || blockOff >= block.length) {
      if (pos >= alignedEnd) return false
      val cur = pos
      try {
        val (data, nxt) = FourMcReader.readBlock(in, index.zstd, cur)
        if (data == null) {
          // a decoded EOS below the footer's eosPos contradicts the index
          if (permissive && cur < index.eosPos) skipToNextBlock(cur)
          else return false
        } else {
          block = data; blockOff = 0; blockFileOff = cur; pos = nxt
          blocksRead += 1
        }
      } catch {
        case _: java.io.IOException if permissive => skipToNextBlock(cur)
      }
    }
    true
  }

  private var nextRec: (Long, Array[Byte]) = _
  private var primed = false

  private def advance(): Unit = {
    nextRec = null
    while (nextRec == null) {
      if (!ensureBlock()) return
      if (blockOff + 4 > block.length) {
        if (permissive) { corruptSkipped += 1; blockOff = block.length }
        else throw new java.io.IOException(
          s"truncated 4mc binary record header at $blockFileOff+$blockOff")
      } else {
        val len = ((block(blockOff) & 0xff) << 24) | ((block(blockOff + 1) & 0xff) << 16) |
          ((block(blockOff + 2) & 0xff) << 8) | (block(blockOff + 3) & 0xff)
        if (len < 0 || blockOff + 4 + len > block.length) {
          // framing desync: the rest of THIS block is unparseable, later
          // blocks are independent — drop the remainder, keep going
          if (permissive) { corruptSkipped += 1; blockOff = block.length }
          else throw new java.io.IOException(
            s"corrupt 4mc binary record length $len at $blockFileOff")
        } else {
          blockOff += 4
          nextRec = (blockFileOff, java.util.Arrays.copyOfRange(block, blockOff, blockOff + len))
          blockOff += len
        }
      }
    }
  }

  override def hasNext: Boolean = {
    if (!primed) { advance(); primed = true }
    nextRec != null
  }

  override def next(): (Long, Array[Byte]) = {
    if (!hasNext) throw new NoSuchElementException
    primed = false
    nextRec
  }
}

/** Typed csv-payload writer: serializes InternalRow fields directly into
  * delimited lines (the inverse of the projection-pruned csv reader).
  *
  * Encoding is lossless for arbitrary strings: '\' escapes itself, the
  * delimiter, and line breaks ('\' + 'n'/'r'), null is the two-byte marker
  * `\N`, and an empty field is a (non-null) empty string — so values
  * containing the delimiter or newlines round-trip byte-exact instead of
  * silently shifting fields.
  */
final class FourMcCsvOutputWriter(
    val path: String,
    context: TaskAttemptContext,
    codec: McCodec,
    schema: StructType,
    delim: String,
    tsFmt: String,
    blockStats: Boolean = true,
    blockBytes: Int = graft.format.FourMc.MaxBlockSize,
    bloomCols: Array[Int] = Array.empty,
    columnar: Boolean = false,
    tsMicros: Boolean = false,
    dictEncode: Boolean = false,
    statsVersion: Int = graft.format.BlockStats.StatsVersionJoint,
    fileBloomBuckets: Int = graft.format.BlockBlooms.DefaultFileBuckets
) extends OutputWriter {
  private val fsPath = new Path(path)
  private val out = {
    val fs = fsPath.getFileSystem(context.getConfiguration)
    new FourMcWriter(new java.io.BufferedOutputStream(fs.create(fsPath, false), 1 << 16), codec, blockBytes)
  }
  private val delimByte = CsvPayload.delimiterOf(delim)
  private val tsMicroDigits = CsvPayload.fixedPatternFracDigits(tsFmt)
  private lazy val fmt = java.time.format.DateTimeFormatter
    .ofPattern(tsFmt)
    .withZone(java.time.ZoneOffset.UTC)
  private val enc = new CsvPayload.LineEncoder(256)
  private val tags: Array[Int] = schema.fields.map { f =>
    val t = CsvPayload.tagOf(f.dataType)
    if (tsMicros && t == CsvPayload.TagTimestamp) CsvPayload.TagTimestampMicros else t
  }
  private val decScale: Array[Int] = schema.fields.map(f => CsvPayload.scaleOf(f.dataType))
  private val decPrec: Array[Int] = schema.fields.map(f => CsvPayload.precisionOf(f.dataType))

  // Columnar layout ([[graft.format.ColumnarBlocks]]): one encoder per
  // column accumulates that column's values (newline-terminated, same field
  // encoding as a row-layout line); a block flush compresses each column's
  // bytes as its own sub-stream. Requires blockStats (the version-3 stats
  // segment is how readers detect the layout).
  require(!columnar || blockStats, "layout=columnar requires blockStats=true")
  private val colEncs: Array[CsvPayload.LineEncoder] =
    if (columnar) Array.fill(schema.length)(new CsvPayload.LineEncoder(256)) else null
  private val colDirLen = graft.format.ColumnarBlocks.dirLen(schema.length)
  private var colBytesPending = 0 // Σ column-encoder lengths (excl. dir)

  // Per-block column stats ([[BlockStats]]): observed values are exactly what
  // the reader will parse back — timestamps are floor-truncated to the
  // serialization precision first, so bounds never exclude a parsed value.
  private val statsBuilder =
    if (blockStats) new graft.format.McStatsBuilder(schema, tsMicros) else null
  if (statsBuilder != null)
    out.statsProvider =
      if (columnar)
        n => statsBuilder.serialize(n, statsVersion, graft.format.BlockStats.LayoutColumnar)
      else n => statsBuilder.serialize(n, statsVersion, graft.format.BlockStats.LayoutRows)
  // Per-block bloom filters ([[BlockBlooms]]) over integer key columns; the
  // reader's segment detection requires the stats segment alongside.
  require(bloomCols.isEmpty || blockStats, "bloomColumns requires blockStats=true")
  private val bloomBuilder =
    if (bloomCols.nonEmpty)
      new graft.format.McBloomBuilder(bloomCols, fileBuckets = fileBloomBuckets)
    else null
  if (bloomBuilder != null) out.bloomProvider = n => bloomBuilder.serialize(n)

  private def observeBlooms(row: InternalRow): Unit = {
    bloomBuilder.startLine(out.blockCount, out.pendingBytes)
    observeBloomValues(row)
  }

  private def observeBloomValues(row: InternalRow): Unit = {
    var c = 0
    while (c < bloomCols.length) {
      val i = bloomCols(c)
      if (!row.isNullAt(i)) {
        val v = (tags(i): @scala.annotation.switch) match {
          case CsvPayload.TagLong => row.getLong(i)
          case CsvPayload.TagInt  => row.getInt(i).toLong
          // long-domain additions probe through the same toLongLit the
          // zone maps use: date = epoch days, decimal = unscaled value
          case CsvPayload.TagDate => row.getInt(i).toLong
          case CsvPayload.TagDecimal =>
            row.getDecimal(i, decPrec(i), decScale(i)).toUnscaledLong
          case CsvPayload.TagString => // unescaped value bytes, probe hashes the same
            val b = row.getUTF8String(i).getBytes
            graft.format.FourMc.xxhash64(b, 0, b.length)
        }
        bloomBuilder.observe(c, v)
      }
      c += 1
    }
  }
  private val tsUnit: Long =
    if (tsMicroDigits >= 0) math.pow(10, 6 - tsMicroDigits).toLong else -1L

  private def observeStats(row: InternalRow): Unit = {
    statsBuilder.startLine(out.blockCount, out.pendingBytes)
    observeStatsValues(row)
  }

  private def observeStatsValues(row: InternalRow): Unit = {
    val tags = statsBuilder.tags
    var i = 0
    while (i < tags.length) {
      if (row.isNullAt(i)) statsBuilder.observeNull(i)
      else (tags(i): @scala.annotation.switch) match {
        case CsvPayload.TagString  => statsBuilder.observeString(i, row.getUTF8String(i).getBytes)
        case CsvPayload.TagLong    => statsBuilder.observeLong(i, row.getLong(i))
        case CsvPayload.TagInt     => statsBuilder.observeLong(i, row.getInt(i).toLong)
        case CsvPayload.TagDouble  => statsBuilder.observeDouble(i, row.getDouble(i))
        case CsvPayload.TagFloat   => statsBuilder.observeDouble(i, row.getFloat(i).toDouble)
        case CsvPayload.TagBoolean => statsBuilder.observeLong(i, if (row.getBoolean(i)) 1L else 0L)
        case CsvPayload.TagDate    => statsBuilder.observeLong(i, row.getInt(i).toLong)
        case CsvPayload.TagDecimal =>
          statsBuilder.observeLong(i, row.getDecimal(i, decPrec(i), decScale(i)).toUnscaledLong)
        // micros-encoded timestamps round-trip exactly — observe the raw
        // micros, no pattern-precision truncation
        case CsvPayload.TagTimestampMicros => statsBuilder.observeLong(i, row.getLong(i))
        // arrays have no bounds and no sums — only the null count (tracked
        // by the isNullAt branch above) is meaningful; the block-col entry
        // serializes as hasBounds=false, which every stats consumer already
        // treats as "cannot prune / cannot answer"
        case CsvPayload.TagArrLong | CsvPayload.TagArrFloat | CsvPayload.TagArrDouble |
            CsvPayload.TagArrInt | CsvPayload.TagMap => ()
        case _ =>
          val micros = row.getLong(i)
          if (tsUnit > 0) statsBuilder.observeLong(i, Math.floorDiv(micros, tsUnit) * tsUnit)
          else statsBuilder.observeDouble(i, Double.NaN) // custom format: poison bounds
      }
      i += 1
    }
  }

  override def write(row: InternalRow): Unit =
    if (columnar) writeColumnar(row)
    else {
      if (statsBuilder != null) observeStats(row)
      if (bloomBuilder != null) observeBlooms(row)
      enc.reset()
      var i = 0
      while (i < tags.length) {
        if (i > 0) enc.raw(delimByte)
        encodeField(enc, row, i)
        i += 1
      }
      enc.raw('\n')
      out.write(enc.bytes, 0, enc.length)
    }

  /** Columnar write: the row's fields append to their column encoders; the
    * block flushes once the pending column bytes pass the threshold. A row
    * whose own bytes would push the block past the 4 MiB format maximum is
    * moved whole into a fresh block (rows never span blocks).
    */
  private val beforeLens: Array[Int] = if (columnar) new Array[Int](schema.length) else null

  private def writeColumnar(row: InternalRow): Unit = {
    val n = tags.length
    var rowBytes = 0
    var i = 0
    while (i < n) {
      val ce = colEncs(i)
      beforeLens(i) = ce.length
      encodeField(ce, row, i)
      ce.raw('\n')
      rowBytes += ce.length - beforeLens(i)
      i += 1
    }
    colBytesPending += rowBytes
    if (colDirLen + colBytesPending > graft.format.FourMc.MaxBlockSize) {
      // rare overflow: extract this row's bytes, flush the block without
      // them, and seed the next block with the extracted row
      if (colBytesPending == rowBytes)
        throw new java.io.IOException(
          s"columnar row of $rowBytes bytes exceeds the 4 MiB block maximum")
      val rowSlices = new Array[Array[Byte]](n)
      i = 0
      while (i < n) {
        val ce = colEncs(i)
        rowSlices(i) = java.util.Arrays.copyOfRange(ce.bytes, beforeLens(i), ce.length)
        ce.truncate(beforeLens(i))
        i += 1
      }
      colBytesPending -= rowBytes
      flushColumnarBlock()
      i = 0
      while (i < n) {
        colEncs(i).rawBytes(rowSlices(i), 0, rowSlices(i).length)
        i += 1
      }
      colBytesPending = rowBytes
    }
    if (statsBuilder != null) {
      statsBuilder.startLineOwned(out.blockCount)
      observeStatsValues(row)
    }
    if (bloomBuilder != null) {
      bloomBuilder.startLineOwned(out.blockCount)
      observeBloomValues(row)
    }
    if (colDirLen + colBytesPending >= out.blockBytesThreshold) flushColumnarBlock()
  }

  /** Compress + emit the pending column streams as one columnar block.
    * Streams compress through [[graft.format.McCodec.compressInto]] into a
    * writer-owned scratch (worst-case-sized once per flush, reused across
    * blocks): zero per-stream output allocations and, for zstd, one reused
    * native CCtx instead of K context builds per block — the measured
    * columnar write amplification (1.26-1.40× the row layout) was mostly
    * this per-sub-stream boxing, not the compression itself.
    */
  private def flushColumnarBlock(): Unit = if (colBytesPending > 0) {
    val n = tags.length
    // per-stream dictionary pass (r15): a low-cardinality stream swaps its
    // `value\n` bytes for codes + an inline dictionary BEFORE compression
    // when strictly smaller; the DIR's uncompLen carries the flag bit
    val streamBytes = colStreamBytes
    val streamLen = colStreamLen
    var i = 0
    while (i < n) {
      val ce = colEncs(i)
      streamBytes(i) = ce.bytes
      streamLen(i) = ce.length
      colDictFlag(i) = false
      // retry backoff: a column that failed eligibility twice in a row
      // (the expensive refusals are full-scan-then-not-smaller; the
      // over-cardinality bail is cheap) re-tries only every 8th block —
      // consistently high-cardinality columns stop paying the scan while
      // mixed files regain the encoding within a few blocks
      if (dictEncode && ce.length > 0 && colDictSkip(i) == 0) {
        if (dictCodesScratch == null || dictCodesScratch.length < ce.length)
          dictCodesScratch = new Array[Byte](math.max(ce.length, 1 << 16))
        val d = graft.format.ColumnarBlocks.tryDictEncode(ce.bytes, ce.length, dictCodesScratch)
        if (d != null) {
          streamBytes(i) = d; streamLen(i) = d.length; colDictFlag(i) = true
          colDictFails(i) = 0
        } else {
          colDictFails(i) += 1
          if (colDictFails(i) >= 2) colDictSkip(i) = 8
        }
      } else if (colDictSkip(i) > 0) colDictSkip(i) -= 1
      i += 1
    }
    // worst-case scratch for ALL streams, so the loop never reallocates
    var required = 0
    i = 0
    while (i < n) {
      if (streamLen(i) > 0) required += codec.maxCompressedLength(streamLen(i))
      i += 1
    }
    if (colScratch == null || colScratch.length < required)
      colScratch = new Array[Byte](math.max(required, 1 << 16))
    val storedOff = colStoredOff // [i] = offset in scratch, or -1 = plain
    val storedLen = colStoredLen
    var payloadLen = colDirLen
    var uncompLen = colDirLen
    var sOff = 0
    i = 0
    while (i < n) {
      if (streamLen(i) == 0) { storedOff(i) = -1; storedLen(i) = 0 }
      else {
        val m = codec.compressInto(streamBytes(i), streamLen(i), colScratch, sOff)
        if (m < 0) { storedOff(i) = -1; storedLen(i) = streamLen(i) } // store plain
        else { storedOff(i) = sOff; storedLen(i) = m; sOff += m }
      }
      payloadLen += storedLen(i)
      uncompLen += streamLen(i)
      i += 1
    }
    val payload = new Array[Byte](payloadLen)
    var off = colDirLen
    i = 0
    while (i < n) {
      val sLen = storedLen(i)
      graft.format.ColumnarBlocks.putBE(payload, i * graft.format.ColumnarBlocks.DirEntryLen, sLen)
      graft.format.ColumnarBlocks.putBE(payload, i * graft.format.ColumnarBlocks.DirEntryLen + 4,
        if (colDictFlag(i)) streamLen(i) | graft.format.ColumnarBlocks.DictFlag else streamLen(i))
      if (storedOff(i) < 0) System.arraycopy(streamBytes(i), 0, payload, off, sLen)
      else System.arraycopy(colScratch, storedOff(i), payload, off, sLen)
      graft.format.ColumnarBlocks.putBE(payload, i * graft.format.ColumnarBlocks.DirEntryLen + 8,
        graft.format.FourMc.xxhash32(payload, off, sLen))
      off += sLen
      colEncs(i).reset()
      streamBytes(i) = null
      i += 1
    }
    out.writeRawBlock(uncompLen, payload, payloadLen)
    colBytesPending = 0
  }

  private var colScratch: Array[Byte] = null
  private val colStoredOff: Array[Int] = if (columnar) new Array[Int](schema.length) else null
  private val colStoredLen: Array[Int] = if (columnar) new Array[Int](schema.length) else null
  private val colStreamBytes: Array[Array[Byte]] =
    if (columnar) new Array[Array[Byte]](schema.length) else null
  private val colStreamLen: Array[Int] = if (columnar) new Array[Int](schema.length) else null
  private val colDictFlag: Array[Boolean] = if (columnar) new Array[Boolean](schema.length) else null
  private val colDictFails: Array[Int] = if (columnar) new Array[Int](schema.length) else null
  private val colDictSkip: Array[Int] = if (columnar) new Array[Int](schema.length) else null
  private var dictCodesScratch: Array[Byte] = null

  /** One field of `row`, encoded exactly as the row layout encodes it
    * (escaping, `\N` null marker, array/map element separators) — shared by
    * the line writer and the columnar column writers.
    */
  private def encodeField(enc: CsvPayload.LineEncoder, row: InternalRow, i: Int): Unit = {
    if (row.isNullAt(i)) enc.raw2(CsvPayload.Esc, 'N')
    else (tags(i): @scala.annotation.switch) match {
        case CsvPayload.TagString  => enc.escaped(row.getUTF8String(i).getBytes, delimByte)
        case CsvPayload.TagLong    => enc.long(row.getLong(i))
        case CsvPayload.TagInt     => enc.long(row.getInt(i).toLong)
        case CsvPayload.TagDouble  => enc.string(java.lang.Double.toString(row.getDouble(i)))
        case CsvPayload.TagFloat   => enc.string(java.lang.Float.toString(row.getFloat(i)))
        case CsvPayload.TagBoolean => enc.string(if (row.getBoolean(i)) "true" else "false")
        case CsvPayload.TagDate    => enc.date(row.getInt(i))
        case CsvPayload.TagDecimal =>
          enc.decimal(row.getDecimal(i, decPrec(i), decScale(i)).toUnscaledLong, decScale(i))
        case CsvPayload.TagTimestampMicros => enc.long(row.getLong(i))
        case CsvPayload.TagMap =>
          val m = row.getMap(i)
          val mk = m.keyArray()
          val mv = m.valueArray()
          val n = m.numElements()
          var j = 0
          while (j < n) {
            if (j > 0) enc.raw(CsvPayload.ElemSep)
            enc.escapedMapToken(mk.getUTF8String(j).getBytes, delimByte)
            enc.raw(CsvPayload.KvSep)
            if (mv.isNullAt(j)) enc.raw2(CsvPayload.Esc, 'N')
            else enc.escapedMapToken(mv.getUTF8String(j).getBytes, delimByte)
            j += 1
          }
        case CsvPayload.TagArrInt => // widened: long tokens, read as array<long>
          val a = row.getArray(i)
          val n = a.numElements()
          var j = 0
          while (j < n) {
            if (j > 0) enc.raw(CsvPayload.ElemSep)
            if (a.isNullAt(j)) enc.raw('N'.toByte) else enc.long(a.getInt(j).toLong)
            j += 1
          }
        case CsvPayload.TagArrLong =>
          val a = row.getArray(i)
          val n = a.numElements()
          var j = 0
          while (j < n) {
            if (j > 0) enc.raw(CsvPayload.ElemSep)
            if (a.isNullAt(j)) enc.raw('N'.toByte) else enc.long(a.getLong(j))
            j += 1
          }
        case CsvPayload.TagArrFloat =>
          val a = row.getArray(i)
          val n = a.numElements()
          var j = 0
          while (j < n) {
            if (j > 0) enc.raw(CsvPayload.ElemSep)
            if (a.isNullAt(j)) enc.raw('N'.toByte)
            else enc.string(java.lang.Float.toString(a.getFloat(j)))
            j += 1
          }
        case CsvPayload.TagArrDouble =>
          val a = row.getArray(i)
          val n = a.numElements()
          var j = 0
          while (j < n) {
            if (j > 0) enc.raw(CsvPayload.ElemSep)
            if (a.isNullAt(j)) enc.raw('N'.toByte)
            else enc.string(java.lang.Double.toString(a.getDouble(j)))
            j += 1
          }
        case _ =>
          val micros = row.getLong(i)
          if (tsMicroDigits < 0 || !enc.timestampMicros(micros, tsMicroDigits))
            enc.string(fmt.format(java.time.Instant.ofEpochSecond(
              Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)))
    }
  }

  override def close(): Unit = {
    if (columnar) flushColumnarBlock()
    out.close()
  }
}

/** Byte-level helpers for the typed csv payload: escaping, the `\N` null
  * marker, and allocation-free numeric/timestamp codecs for the fixed
  * `yyyy-MM-dd HH:mm:ss[.S*]` layout.
  */
object CsvPayload {
  val Esc: Byte = '\\'.toByte

  /** Validate and decode the 'delimiter' option. Raw value tokens
    * (numbers, booleans, timestamps, dates, decimals, array elements) are
    * written WITHOUT escaping, so a delimiter drawn from their alphabet
    * corrupts fields silently on write and mis-splits them on read — fail
    * fast at setup instead. Rejected: ASCII letters and digits, '+', '-',
    * '.', ';' (array/map element separator), '=' (map key/value
    * separator), ':' and ' ' (timestamp layout), the escape '\', and line
    * breaks. '|' (default), ',', tab, '#', '~' and the other punctuation
    * bytes remain valid (string fields escape the delimiter, so any
    * surviving choice is lossless).
    */
  def delimiterOf(opt: String): Byte = {
    require(opt.length == 1 && opt.charAt(0) < 0x80,
      s"4mc csv delimiter must be a single ASCII byte, got '$opt'")
    val c = opt.charAt(0)
    val reserved = (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z') ||
      (c >= 'a' && c <= 'z') || "+-.;=: \\\n\r".indexOf(c.toInt) >= 0
    require(!reserved,
      s"4mc csv delimiter '$opt' collides with the unescaped value alphabet " +
        "(digits, letters, '+', '-', '.', ';', '=', ':', ' ', '\\', line breaks); " +
        "pick a punctuation byte like '|' or ','")
    c.toByte
  }

  /** One-pass field-boundary scan of one line, stopping after the last
    * REQUIRED field: writes the start offset of field f (0-based) to
    * `starts(base + f)` for f in [0, neededFields], with the convention
    * that a missing trailing field starts at `bytes.length + 1` (so every
    * field's slice is `[start, nextStart - 1)` clipped to the line — a
    * missing field reads as empty). A '\' escapes the next byte, so
    * escaped delimiters inside values don't split fields. SHARED by the
    * scan reader (base = rowSlot * stride) and the stats relation's
    * straddling-block decode (base = 0) — one boundary semantics.
    *
    * Plain-byte runs are skipped 8 bytes per iteration via
    * [[SwarScan.nextSpecial]]; only delimiter/escape bytes (and the <8-byte
    * unaligned tail) take the byte-wise branch, whose semantics are
    * unchanged.
    */
  def scanBoundaries(bytes: Array[Byte], delim: Byte, starts: Array[Int], base: Int,
                     neededFields: Int, totalFields: Int): Unit =
    scanBoundaries(bytes, delim, starts, base, neededFields, totalFields, 0, bytes.length)

  /** Range form: the line is `bytes[from, to)` — offsets in `starts` are
    * ABSOLUTE (from-based), so the zero-copy block-slice path and the
    * detached-line path share one implementation.
    */
  def scanBoundaries(bytes: Array[Byte], delim: Byte, starts: Array[Int], base: Int,
                     neededFields: Int, totalFields: Int, from: Int, to: Int): Unit =
    scanBoundaries(bytes, delim, starts, base, neededFields, totalFields, from, to, 1)

  /** Sparse form: `firstField` is the lowest field index any consumer will
    * read (readers pass `max(1, min(projected srcs))` — every read is
    * `starts(base + src)` or `starts(base + src + 1)` for a projected src,
    * so slots in [1, firstField) may hold garbage). The prefix advances by
    * delimiter POPCOUNT instead of a per-boundary bit-iterate-and-store —
    * a projection of field 8 alone no longer pays 8 dead stores per line.
    */
  def scanBoundaries(bytes: Array[Byte], delim: Byte, starts: Array[Int], base: Int,
                     neededFields: Int, totalFields: Int, from: Int, to: Int,
                     firstField: Int): Unit = {
    starts(base) = from
    // word-at-a-time core (SwarScan.scanFields): 8 bytes per iteration with
    // an EXACT delimiter mask iterated bit-by-bit — the previous
    // nextSpecial-per-delimiter pattern paid a call + stride restart per
    // boundary, which JFR showed dominating the sf5 scan profile at
    // lineitem's ~5-byte field widths
    var f =
      if (neededFields > 1)
        SwarScan.scanFields(bytes, from, to, delim, Esc, starts, base, neededFields, 1,
          math.min(firstField, neededFields))
      else 1
    val capped = f >= neededFields
    while (f <= math.min(neededFields, totalFields - 1)) {
      starts(base + f) = to + 1; f += 1
    }
    if (neededFields == totalFields) starts(base + totalFields) = to + 1
    // CAPPED scan with trailing unscanned fields: slot `neededFields` holds
    // the 0 sentinel ("unknown — next delimiter not located"), telling
    // [[fieldEnd]] to lazy-scan. A SHORT line's slots keep the to+1
    // convention above (the truth: the field runs to the line end), which
    // fieldEnd now answers from the slot without re-touching the bytes.
    else if (capped && neededFields > 0) starts(base + neededFields) = 0
  }

  /** Exclusive end offset of field `src` (start offset `s`) under the
    * [[scanBoundaries]] convention. The last SCANNED field that is not the
    * last schema field has no indexed next boundary (the capped scan
    * stopped at it) — its delimiter is found lazily, escape-aware (same
    * SWAR fast path as the scan).
    */
  def fieldEnd(bytes: Array[Byte], delim: Byte, starts: Array[Int], base: Int,
               src: Int, s: Int, neededFields: Int, totalFields: Int): Int =
    fieldEnd(bytes, delim, starts, base, src, s, neededFields, totalFields, bytes.length)

  /** Range form: `lineEnd` is the line's exclusive end (the zero-copy slice
    * path's block-buffer offset; `bytes.length` for detached lines).
    */
  def fieldEnd(bytes: Array[Byte], delim: Byte, starts: Array[Int], base: Int,
               src: Int, s: Int, neededFields: Int, totalFields: Int, lineEnd: Int): Int =
    if (src + 1 >= neededFields && src + 1 < totalFields) {
      // slot carries the to+1 short-line truth (answerable directly) or
      // the capped-scan 0 sentinel → locate the delimiter lazily
      val nx = starts(base + src + 1)
      if (nx > 0) return math.min(nx - 1, lineEnd)
      val dSpread = SwarScan.spread(delim)
      val eSpread = SwarScan.spread(Esc)
      var j = s
      while (j < lineEnd) {
        j = SwarScan.nextSpecial(bytes, j, lineEnd, dSpread, eSpread)
        if (j < lineEnd) {
          if (bytes(j) == Esc) j += 2
          else if (bytes(j) == delim) return j
          else j += 1
        }
      }
      lineEnd
    } else math.min(starts(base + src + 1) - 1, lineEnd)

  // parse-dispatch tags (compile DataType to an Int once per reader; the
  // per-value hot loop then switches on a jump table)
  final val TagString = 0
  final val TagLong = 1
  final val TagInt = 2
  final val TagDouble = 3
  final val TagFloat = 4
  final val TagBoolean = 5
  final val TagTimestamp = 6
  // Array-payload tags (array<long> / array<float> / array<double>): elements
  // are ';'-joined inside one csv field. Elements are numeric tokens or the
  // one-byte `N` null-element token — none contains the field delimiter, a
  // line break, or the escape byte, so the boundary scan and escaping are
  // untouched. The three field shapes are mutually unambiguous: EMPTY field
  // = EMPTY array, field-level `\N` (2 bytes, Esc+'N') = null array, and a
  // single null element is the 1-byte token `N` (a numeric token never
  // equals bare "N" — `NaN` is 3 bytes). Keep all array tags >= TagArrLong —
  // [[isArrayTag]] is a single compare.
  final val TagArrLong = 7
  final val TagArrFloat = 8
  final val TagArrDouble = 9
  // Round-13 scalar additions APPEND past the array tags: tag values are
  // PERSISTED one byte per column in the stats segment (BlockStats
  // serialize/parse), so renumbering would orphan every existing file.
  // DateType rides int32 epoch days ("yyyy-MM-dd"); DecimalType(p<=18,s)
  // rides the scaled unscaled-long ("ddd.dd" with exactly s fraction
  // digits) — both long-domain for ranges, zone maps, blooms-less pruning
  // and footer MIN/MAX.
  final val TagDate = 10
  final val TagDecimal = 11
  // WRITE-side only: array<int> is accepted and widened to long tokens
  // (the on-disk form is identical to array<long>); the read schema must
  // declare array<long> — readers refuse this tag with that instruction.
  final val TagArrInt = 12
  // map<string,string> (round 13, SURVEY §1.4's `props` shape): entries
  // `key=value` joined by ';' inside one csv field. Key/value tokens use
  // the SAME '\'-escape grammar as plain string fields EXTENDED to ';' and
  // '=' (the generic `\x → x` unescape rule already covers them), so
  // arbitrary byte content round-trips and the field-boundary scan is
  // untouched. Null map = field-level `\N`; EMPTY field = empty map; a
  // null VALUE is the exact 2-byte token `\N` (the writer never escapes
  // 'N', so a literal "N" value is 1 byte and literal "\N" content is 3 —
  // the same disambiguation as the field-level marker).
  final val TagMap = 13
  // TIMESTAMP stored as a raw int64 micros-since-epoch token (round 14,
  // `option("timestampEncoding", "micros")`): precision-exact (the text
  // encoding floor-truncates to the pattern's fraction digits) and parsed
  // by the allocation-free long parser. The WRITE option picks the tag;
  // readers detect it PER FILE from the stats segment's stored tag bytes
  // (micros files therefore require blockStats), so text and micros files
  // mix freely in one directory under one read schema.
  final val TagTimestampMicros = 14

  @inline def isArrayTag(tag: Int): Boolean =
    (tag >= TagArrLong && tag <= TagArrDouble) || tag == TagArrInt

  /** Per-FILE effective parse tags: schema-derived `fieldTags` with
    * TagTimestamp swapped to [[TagTimestampMicros]] wherever the file's
    * stats segment says the column was written as micros. `fieldIdx` maps
    * required ordinals to data-schema (= stats) ordinals.
    */
  def fileTags(
      fieldTags: Array[Int],
      fieldIdx: Array[Int],
      stats: Option[graft.format.McBlockStats]): Array[Int] = stats match {
    case Some(st) =>
      var out = fieldTags
      var k = 0
      while (k < fieldTags.length) {
        val src = fieldIdx(k)
        if (fieldTags(k) == TagTimestamp && src < st.tags.length &&
            st.tags(src) == TagTimestampMicros) {
          if (out eq fieldTags) out = fieldTags.clone()
          out(k) = TagTimestampMicros
        }
        // refused type change, loud and actionable: DATE text ("2024-01-02")
        // cannot parse under a timestamp read schema — without this guard
        // the task dies in an inscrutable DateTimeParseException. The
        // supported widenings (int→long, decimal precision growth at the
        // same scale) parse transparently and keep pruning; DATE→TIMESTAMP
        // needs an explicit cast instead.
        if (fieldTags(k) == TagTimestamp && src < st.tags.length &&
            st.tags(src) == TagDate)
          throw new java.io.IOException(
            s"4mc schema evolution: column ordinal $src was written as DATE but the read " +
              "schema declares TIMESTAMP; the text layout does not widen DATE to TIMESTAMP " +
              "— read the column as DATE and cast(col AS timestamp) instead")
        k += 1
      }
      out
    case None => fieldTags
  }

  /** Element separator inside array fields. Never escaped: array fields hold
    * only numeric tokens / `N`, and ';' is not special anywhere else.
    */
  final val ElemSep: Byte = ';'

  /** Key-value separator inside map entries (see [[TagMap]]). */
  final val KvSep: Byte = '='

  /** Number of `;`-separated ENTRIES in map field slice [s, e), escape-
    * aware (map tokens escape their structural bytes); 0 for an empty
    * field (= empty map).
    */
  def countEntries(b: Array[Byte], s: Int, e: Int): Int = {
    if (s >= e) return 0
    var n = 1
    var i = s
    while (i < e) {
      val c = b(i)
      if (c == Esc) i += 2
      else { if (c == ElemSep) n += 1; i += 1 }
    }
    n
  }

  /** Exclusive end of the map entry starting at `ts` (the unescaped ';' or
    * the field end `e`).
    */
  def entryEnd(b: Array[Byte], ts: Int, e: Int): Int = {
    var i = ts
    while (i < e) {
      val c = b(i)
      if (c == Esc) i += 2
      else if (c == ElemSep) return i
      else i += 1
    }
    e
  }

  /** Position of the entry's unescaped '=' in [ts, te), or -1 (a malformed
    * entry without one reads as key with empty value).
    */
  def kvSplit(b: Array[Byte], ts: Int, te: Int): Int = {
    var i = ts
    while (i < te) {
      val c = b(i)
      if (c == Esc) i += 2
      else if (c == KvSep) return i
      else i += 1
    }
    -1
  }

  /** True when element token [s, e) is the null-element marker `N`. */
  @inline def isNullElem(b: Array[Byte], s: Int, e: Int): Boolean =
    e - s == 1 && b(s) == 'N'

  /** The parse tag for one csv-payload column type (shared by the writer,
    * the readers and the stats segment — one dispatch table).
    */
  def tagOf(dt: DataType): Int = dt match {
    case StringType                       => TagString
    case LongType                         => TagLong
    case IntegerType                      => TagInt
    case DoubleType                       => TagDouble
    case FloatType                        => TagFloat
    case BooleanType                      => TagBoolean
    case TimestampType | TimestampNTZType => TagTimestamp
    case DateType                         => TagDate
    // scale >= 0 only: a legacy negative-scale decimal would need exponent
    // notation the scaled-long grammar deliberately excludes
    case d: DecimalType if d.precision <= 18 && d.scale >= 0 => TagDecimal
    case ArrayType(LongType, _)           => TagArrLong
    case ArrayType(FloatType, _)          => TagArrFloat
    case ArrayType(DoubleType, _)         => TagArrDouble
    case ArrayType(IntegerType, _)        => TagArrInt
    case MapType(StringType, StringType, _) => TagMap
    case other => throw new UnsupportedOperationException(s"csv payload type $other")
  }

  /** Decimal scale for the parse/serialize pair (-1 for non-decimal). */
  def scaleOf(dt: DataType): Int = dt match {
    case d: DecimalType => d.scale
    case _              => -1
  }

  /** Decimal precision (-1 for non-decimal). */
  def precisionOf(dt: DataType): Int = dt match {
    case d: DecimalType => d.precision
    case _              => -1
  }

  /** Compiled pushed predicates for ONE required field. The =/</>/≤/≥
    * conjuncts on long-domain columns (long / int / timestamp — micros) fold
    * into a single primitive inclusive range `[loL, hiL]` evaluated with two
    * unboxed compares per value; everything else (strings, doubles, IN,
    * prefix ops) stays as boxed closures in `rest`. The r10-profile showed
    * the closure path boxing every parsed value on filter-bound fields —
    * ~0.5 s of pure allocation/dispatch on a 30M-row timestamp filter — and
    * the q1-twin filter (`l_shipdate <= date`) is exactly one long-domain
    * range.
    *
    * `nullPasses` precomputes the outcome for a NULL value (closures are
    * pure functions, and a range rejects null per SQL three-valued logic),
    * so nulls cost one field read instead of a closure chain.
    */
  final class FieldPred(
      val hasRange: Boolean,
      val loL: Long,
      val hiL: Long,
      val rest: Array[Any => Boolean]) extends Serializable {
    val nonEmpty: Boolean = hasRange || rest.length > 0
    val nullPasses: Boolean = !hasRange && rest.forall(p => p(null))
    @inline def rangeOk(x: Long): Boolean = !hasRange || (x >= loL && x <= hiL)

    /** Does one boxed parsed value (null for NULL) pass? */
    def accepts(v: Any): Boolean = v match {
      case null => nullPasses
      case d: org.apache.spark.sql.types.Decimal => rangeOk(d.toUnscaledLong) && rest.forall(_(d))
      case n: java.lang.Number if hasRange => rangeOk(n.longValue) && rest.forall(_(n))
      case _ => rest.forall(_(v))
    }
  }

  object FieldPred {
    val empty = new FieldPred(hasRange = false, Long.MinValue, Long.MaxValue, Array.empty)
  }

  /** Compile the pushable single-column conjuncts of `filters` into per-
    * required-field predicates over PARSED values (internal representations:
    * UTF8String / Long / Int / Double / Float / Boolean / micros-Long).
    *
    * Only filters the parse can decide locally are compiled — everything
    * else is left to Spark's own Filter above the scan (which re-applies ALL
    * pushed filters, so dropping a filter here is always safe, never wrong).
    * The one reader with no Filter above it, [[FourMcStatsFileFormat]],
    * takes only conjuncts [[graft.plans.McAggregatePushdown]] admits, and
    * each of those compiles here.
    * Comparison predicates are false on null (SQL three-valued logic: an
    * UNKNOWN row can never pass the downstream filter either, so skipping it
    * early is sound).
    *
    * Returns one (possibly empty) [[FieldPred]] per required-schema field.
    */
  def compileFilters(
      filters: Seq[Filter],
      schema: StructType,
      tags: Array[Int]
  ): Array[FieldPred] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.catalyst.util.{DateTimeUtils, SQLOrderingUtil}

    // decimal literals convert to the COLUMN's unscaled domain; a literal
    // that doesn't fit the scale exactly is simply not compiled (Spark's
    // post-scan Filter still applies it)
    val scales: Array[Int] = schema.fields.map(f => scaleOf(f.dataType))

    def lit(tag: Int, scale: Int, v: Any): Option[Any] = if (v == null) None else tag match {
      case TagString => Some(UTF8String.fromString(v.toString))
      case TagLong | TagInt =>
        v match { case n: java.lang.Number => Some(java.lang.Long.valueOf(n.longValue)); case _ => None }
      case TagDouble =>
        v match { case n: java.lang.Number => Some(java.lang.Double.valueOf(n.doubleValue)); case _ => None }
      case TagFloat =>
        v match { case n: java.lang.Number => Some(java.lang.Float.valueOf(n.floatValue)); case _ => None }
      case TagBoolean => v match { case b: java.lang.Boolean => Some(b); case _ => None }
      case TagTimestamp =>
        v match {
          case t: java.sql.Timestamp     => Some(java.lang.Long.valueOf(DateTimeUtils.fromJavaTimestamp(t)))
          case i: java.time.Instant      => Some(java.lang.Long.valueOf(DateTimeUtils.instantToMicros(i)))
          case l: java.time.LocalDateTime => Some(java.lang.Long.valueOf(DateTimeUtils.localDateTimeToMicros(l)))
          case _                         => None
        }
      case TagDate =>
        v match {
          case d: java.sql.Date       => Some(java.lang.Long.valueOf(DateTimeUtils.fromJavaDate(d).toLong))
          case d: java.time.LocalDate => Some(java.lang.Long.valueOf(d.toEpochDay))
          case _                      => None
        }
      case TagDecimal =>
        v match {
          case d: java.math.BigDecimal =>
            try Some(java.lang.Long.valueOf(d.setScale(scale).unscaledValue.longValueExact))
            catch { case _: ArithmeticException => None } // inexact scale / overflow
          case _ => None
        }
      case _ => None
    }

    // parsed-value vs converted-literal comparison; caller guarantees x != null
    def cmp(tag: Int, x: Any, l: Any): Int = tag match {
      case TagString => x.asInstanceOf[UTF8String].compareTo(l.asInstanceOf[UTF8String])
      case TagLong | TagInt =>
        val xv = x match { case i: java.lang.Integer => i.longValue; case n: java.lang.Number => n.longValue }
        java.lang.Long.compare(xv, l.asInstanceOf[java.lang.Long].longValue)
      // Spark's SQL order, not the JVM's total order: -0.0 equals 0.0, and
      // NaN equals NaN and sorts above every other value
      case TagDouble =>
        SQLOrderingUtil.compareDoubles(x.asInstanceOf[java.lang.Double].doubleValue, l.asInstanceOf[java.lang.Double].doubleValue)
      case TagFloat =>
        SQLOrderingUtil.compareFloats(x.asInstanceOf[java.lang.Float].floatValue, l.asInstanceOf[java.lang.Float].floatValue)
      case TagBoolean =>
        java.lang.Boolean.compare(x.asInstanceOf[java.lang.Boolean].booleanValue, l.asInstanceOf[java.lang.Boolean].booleanValue)
      case TagTimestamp =>
        java.lang.Long.compare(x.asInstanceOf[java.lang.Long].longValue, l.asInstanceOf[java.lang.Long].longValue)
      case TagDate =>
        java.lang.Long.compare(x.asInstanceOf[java.lang.Number].longValue, l.asInstanceOf[java.lang.Long].longValue)
      case TagDecimal =>
        java.lang.Long.compare(
          x.asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong,
          l.asInstanceOf[java.lang.Long].longValue)
      case _ => 0
    }

    val byField = Array.fill(schema.length)(List.empty[Any => Boolean])
    // primitive range accumulators (long-domain tags only)
    val rangeSet = new Array[Boolean](schema.length)
    val rangeLo = Array.fill(schema.length)(Long.MinValue)
    val rangeHi = Array.fill(schema.length)(Long.MaxValue)
    def fieldOf(attr: String): Int =
      schema.fields.indexWhere(_.name == attr) // -1 when the column isn't required here
    def longDomain(tag: Int): Boolean =
      tag == TagLong || tag == TagInt || tag == TagTimestamp || tag == TagDate ||
        tag == TagDecimal

    def add(attr: String, p: Int => Option[Any => Boolean]): Unit = {
      val k = fieldOf(attr)
      // array and map fields compile NO predicates (not even null checks):
      // the parse loop never boxes such a value to feed a closure, and
      // Spark's post-scan Filter re-applies everything pushed here anyway
      if (k >= 0 && !isArrayTag(tags(k)) && tags(k) != TagMap)
        p(k).foreach(pred => byField(k) = pred :: byField(k))
    }

    /** Tighten field k's primitive range; an unsatisfiable bound leaves
      * lo > hi, which rejects every value. Returns false when the literal
      * doesn't convert (caller falls back to the closure form).
      */
    def tighten(attr: String, v: Any, op: Int): Boolean = { // op: 0 eq,1 gt,2 ge,3 lt,4 le
      val k = fieldOf(attr)
      if (k < 0) return true // column not required here: nothing to compile
      if (!longDomain(tags(k))) return false
      lit(tags(k), scales(k), v) match {
        case Some(l: java.lang.Long) =>
          val c = l.longValue
          rangeSet(k) = true
          op match {
            case 0 => rangeLo(k) = math.max(rangeLo(k), c); rangeHi(k) = math.min(rangeHi(k), c)
            case 1 => if (c == Long.MaxValue) { rangeLo(k) = 1L; rangeHi(k) = 0L }
                      else rangeLo(k) = math.max(rangeLo(k), c + 1)
            case 2 => rangeLo(k) = math.max(rangeLo(k), c)
            case 3 => if (c == Long.MinValue) { rangeLo(k) = 1L; rangeHi(k) = 0L }
                      else rangeHi(k) = math.min(rangeHi(k), c - 1)
            case 4 => rangeHi(k) = math.min(rangeHi(k), c)
          }
          true
        case _ => false
      }
    }

    def compileOne(f: Filter): Unit = f match {
      case And(a, b) => compileOne(a); compileOne(b)
      case IsNotNull(a) =>
        val k = fieldOf(a)
        // long-domain: a full primitive range IS "is not null" (null fails
        // any range, every non-null value is inside) — zero per-value cost
        if (k >= 0 && longDomain(tags(k))) rangeSet(k) = true
        else add(a, _ => Some(v => v != null))
      case IsNull(a)    => add(a, _ => Some(v => v == null))
      case EqualTo(a, v) =>
        if (!tighten(a, v, 0))
          add(a, k => lit(tags(k), scales(k), v).map(l => x => x != null && cmp(tags(k), x, l) == 0))
      case GreaterThan(a, v) =>
        if (!tighten(a, v, 1))
          add(a, k => lit(tags(k), scales(k), v).map(l => x => x != null && cmp(tags(k), x, l) > 0))
      case GreaterThanOrEqual(a, v) =>
        if (!tighten(a, v, 2))
          add(a, k => lit(tags(k), scales(k), v).map(l => x => x != null && cmp(tags(k), x, l) >= 0))
      case LessThan(a, v) =>
        if (!tighten(a, v, 3))
          add(a, k => lit(tags(k), scales(k), v).map(l => x => x != null && cmp(tags(k), x, l) < 0))
      case LessThanOrEqual(a, v) =>
        if (!tighten(a, v, 4))
          add(a, k => lit(tags(k), scales(k), v).map(l => x => x != null && cmp(tags(k), x, l) <= 0))
      case In(a, vs) =>
        add(a, k => {
          val ls = vs.toSeq.map(v => lit(tags(k), scales(k), v))
          if (ls.exists(_.isEmpty)) None
          else { val arr = ls.flatten; Some(x => x != null && arr.exists(l => cmp(tags(k), x, l) == 0)) }
        })
      case StringStartsWith(a, v) =>
        add(a, k => if (tags(k) == TagString) {
          val p = UTF8String.fromString(v)
          Some(x => x != null && x.asInstanceOf[UTF8String].startsWith(p))
        } else None)
      case StringEndsWith(a, v) =>
        add(a, k => if (tags(k) == TagString) {
          val p = UTF8String.fromString(v)
          Some(x => x != null && x.asInstanceOf[UTF8String].endsWith(p))
        } else None)
      case StringContains(a, v) =>
        add(a, k => if (tags(k) == TagString) {
          val p = UTF8String.fromString(v)
          Some(x => x != null && x.asInstanceOf[UTF8String].contains(p))
        } else None)
      case _ => // Or / Not / nested — left to Spark's post-scan Filter
    }
    filters.foreach(compileOne)
    Array.tabulate(schema.length) { k =>
      if (!rangeSet(k) && byField(k).isEmpty) FieldPred.empty
      else new FieldPred(rangeSet(k), rangeLo(k), rangeHi(k), byField(k).toArray)
    }
  }

  def isNullMarker(b: Array[Byte], s: Int, e: Int): Boolean =
    e - s == 2 && b(s) == Esc && b(s + 1) == 'N'

  /** Unescape a field slice; returns the raw slice (zero-copy) when no
    * escape byte is present.
    */
  /** True when [s, e) contains no escape byte — the value's bytes can be
    * consumed in place (no unescape pass, no intermediate allocation).
    */
  def escapeFree(b: Array[Byte], s: Int, e: Int): Boolean = {
    var i = s
    while (i < e) { if (b(i) == Esc) return false; i += 1 }
    true
  }

  def unescape(b: Array[Byte], s: Int, e: Int, delim: Byte): UTF8String = {
    var i = s
    var hasEsc = false
    while (i < e && !hasEsc) { hasEsc = b(i) == Esc; i += 1 }
    if (!hasEsc) return UTF8String.fromBytes(b, s, e - s)
    val outB = new Array[Byte](e - s)
    var o = 0
    i = s
    while (i < e) {
      val c = b(i)
      if (c == Esc && i + 1 < e) {
        b(i + 1) match {
          case 'n' => outB(o) = '\n'
          case 'r' => outB(o) = '\r'
          case x   => outB(o) = x // escaped backslash or delimiter
        }
        o += 1
        i += 2
      } else {
        outB(o) = c; o += 1; i += 1
      }
    }
    UTF8String.fromBytes(outB, 0, o)
  }

  /** Reusable byte-level line assembler for the csv sink: one growing
    * buffer per writer, zero per-row String/encoder allocations. UTF-8
    * guarantees the special bytes ('\\', '\n', '\r', the delimiter — all
    * ASCII) never occur inside a multi-byte sequence, so escaping operates
    * directly on [[org.apache.spark.unsafe.types.UTF8String]] bytes without
    * a UTF-16 round trip.
    */
  final class LineEncoder(initial: Int = 256) {
    private var buf = new Array[Byte](initial)
    private var len = 0
    def reset(): Unit = len = 0
    def bytes: Array[Byte] = buf
    def length: Int = len
    private def ensure(k: Int): Unit = if (len + k > buf.length) {
      var n = buf.length << 1
      while (n < len + k) n <<= 1
      buf = java.util.Arrays.copyOf(buf, n)
    }
    def raw(b: Byte): Unit = { ensure(1); buf(len) = b; len += 1 }
    def raw2(a: Byte, b: Byte): Unit = { ensure(2); buf(len) = a; buf(len + 1) = b; len += 2 }
    def rawBytes(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, off, buf, len, n); len += n
    }
    /** Roll the encoder back to `n` bytes (columnar block-overflow path). */
    def truncate(n: Int): Unit = { require(n >= 0 && n <= len); len = n }

    /** UTF-8 bytes with '\' escaping of '\\', '\n', '\r', and the delimiter. */
    def escaped(src: Array[Byte], delim: Byte): Unit = {
      ensure(src.length << 1) // worst case: every byte escaped
      var i = 0
      while (i < src.length) {
        val b = src(i)
        if (b == Esc) { buf(len) = Esc; buf(len + 1) = Esc; len += 2 }
        else if (b == '\n') { buf(len) = Esc; buf(len + 1) = 'n'; len += 2 }
        else if (b == '\r') { buf(len) = Esc; buf(len + 1) = 'r'; len += 2 }
        else if (b == delim) { buf(len) = Esc; buf(len + 1) = b; len += 2 }
        else { buf(len) = b; len += 1 }
        i += 1
      }
    }

    /** Map key/value token: [[escaped]] extended to the map grammar's own
      * structural bytes ';' and '=' (the generic `\x → x` unescape rule
      * restores them), so arbitrary content round-trips.
      */
    def escapedMapToken(src: Array[Byte], delim: Byte): Unit = {
      ensure(src.length << 1)
      var i = 0
      while (i < src.length) {
        val b = src(i)
        if (b == Esc) { buf(len) = Esc; buf(len + 1) = Esc; len += 2 }
        else if (b == '\n') { buf(len) = Esc; buf(len + 1) = 'n'; len += 2 }
        else if (b == '\r') { buf(len) = Esc; buf(len + 1) = 'r'; len += 2 }
        else if (b == delim || b == CsvPayload.ElemSep || b == CsvPayload.KvSep) {
          buf(len) = Esc; buf(len + 1) = b; len += 2
        } else { buf(len) = b; len += 1 }
        i += 1
      }
    }

    /** A String whose content is ASCII in the common case (number/boolean/
      * formatter output); any non-ASCII char falls back to a UTF-8 copy.
      */
    def string(s: String): Unit = {
      ensure(s.length)
      var i = 0
      while (i < s.length && s.charAt(i) < 0x80) {
        buf(len + i) = s.charAt(i).toByte
        i += 1
      }
      if (i == s.length) len += s.length
      else {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ensure(b.length)
        System.arraycopy(b, 0, buf, len, b.length)
        len += b.length
      }
    }

    def long(v: Long): Unit =
      if (v == Long.MinValue) string("-9223372036854775808")
      else {
        ensure(20)
        var x = v
        if (x < 0) { buf(len) = '-'; len += 1; x = -x }
        // digits right-to-left into a 19-byte window, then shift-copy
        var p = len + 19
        do { p -= 1; buf(p) = ('0' + (x % 10).toInt).toByte; x /= 10 } while (x != 0)
        val d = len + 19 - p
        System.arraycopy(buf, p, buf, len, d)
        len += d
      }

    def pad2(v: Int): Unit = raw2(('0' + v / 10).toByte, ('0' + v % 10).toByte)

    /** DateType: `yyyy-MM-dd` for years 1..9999 (what [[parseDateDays]]'s
      * fixed path reads back); out-of-range years via LocalDate's ISO form.
      */
    def date(days: Int): Unit = {
      val (y, m, d) = CsvPayload.civilFromDays(days.toLong)
      if (y >= 1 && y <= 9999) {
        pad2(y / 100); pad2(y % 100); raw('-'); pad2(m); raw('-'); pad2(d)
      } else string(java.time.LocalDate.ofEpochDay(days.toLong).toString)
    }

    /** DecimalType(p<=18, s): unscaled long with the point re-inserted at
      * `scale` — exactly `scale` fraction digits, so the parse is exact.
      */
    def decimal(unscaled: Long, scale: Int): Unit =
      if (scale == 0) long(unscaled)
      else if (unscaled == Long.MinValue) {
        // abs() would overflow; p<=18 unscaled values never reach here, but
        // stay total: go through BigDecimal once
        string(java.math.BigDecimal.valueOf(unscaled, scale).toPlainString)
      } else {
        ensure(22)
        var x = unscaled
        if (x < 0) { buf(len) = '-'; len += 1; x = -x }
        // digits right-to-left, zero-padded to scale+1 digits minimum so
        // the integer part keeps at least one digit ("0.05", not ".05")
        var p = len + 21
        var emitted = 0
        do {
          if (emitted == scale && scale > 0) { p -= 1; buf(p) = '.' }
          p -= 1; buf(p) = ('0' + (x % 10).toInt).toByte; x /= 10; emitted += 1
        } while (x != 0 || emitted <= scale)
        val d = len + 21 - p
        System.arraycopy(buf, p, buf, len, d)
        len += d
      }

    /** `yyyy-MM-dd HH:mm:ss[.f*]`; false when the year needs the formatter. */
    def timestampMicros(micros: Long, fracDigits: Int): Boolean = {
      val days = Math.floorDiv(micros, 86400000000L)
      var rem = Math.floorMod(micros, 86400000000L)
      val (y, mo, d) = civilFromDays(days)
      if (y < 0 || y > 9999) return false
      val secs = rem / 1000000L
      rem = rem % 1000000L
      pad2(y / 100); pad2(y % 100)
      raw('-'); pad2(mo); raw('-'); pad2(d)
      raw(' '); pad2((secs / 3600L).toInt); raw(':')
      pad2(((secs / 60L) % 60L).toInt); raw(':'); pad2((secs % 60L).toInt)
      if (fracDigits > 0) {
        raw('.')
        var scale = 100000L
        var k = 0
        while (k < fracDigits) {
          raw(('0' + ((rem / scale) % 10L).toInt).toByte)
          scale /= 10
          k += 1
        }
      }
      true
    }
  }

  /** ASCII slice → String via Latin-1 (no UTF-8 decode; numeric fields only). */
  def ascii(b: Array[Byte], s: Int, e: Int): String =
    new String(b, s, e - s, java.nio.charset.StandardCharsets.ISO_8859_1)

  def parseLong(b: Array[Byte], s: Int, e: Int): Long = {
    var i = s
    var neg = false
    if (b(i) == '-') { neg = true; i += 1 }
    else if (b(i) == '+') i += 1
    // at least one digit, and <= 19 digits (Long.MaxValue has 19) — a bare
    // sign or a wrapping 20-digit field must fail fast, not parse as garbage
    if (i >= e || e - i > 19) throw new NumberFormatException(ascii(b, s, e))
    var v = 0L
    while (i < e) {
      val c = b(i) - '0'
      if (c < 0 || c > 9) throw new NumberFormatException(ascii(b, s, e))
      v = v * 10 + c
      i += 1
    }
    if (v < 0 && !(neg && v == Long.MinValue)) throw new NumberFormatException(ascii(b, s, e))
    if (neg) -v else v
  }

  def parseInt(b: Array[Byte], s: Int, e: Int): Int = {
    val v = parseLong(b, s, e)
    if (v > Int.MaxValue || v < Int.MinValue) throw new NumberFormatException(ascii(b, s, e))
    v.toInt
  }

  private val Pow10: Array[Double] = (0 to 22).map(k => math.pow(10, k)).toArray

  /** Byte-slice decimal double — the Clinger/Gay exact fast path: when the
    * mantissa fits 53 bits and the decimal scale k ≤ 22, both `m.toDouble`
    * and `10^k` are exact, so one correctly-rounded division equals
    * `Double.parseDouble` bit-for-bit. Everything else (scientific notation,
    * long mantissas, NaN/Inf) falls back to the String path. No allocation
    * on the fast path — the last per-value String in the csv reader.
    */
  def parseDouble(b: Array[Byte], s0: Int, e: Int): Double = {
    var s = s0
    var neg = false
    if (s < e && (b(s) == '-' || b(s) == '+')) { neg = b(s) == '-'; s += 1 }
    var m = 0L
    var digits = 0
    var frac = -1
    var i = s
    var fast = i < e
    while (fast && i < e) {
      val c = b(i)
      if (c == '.') { if (frac >= 0) fast = false else frac = 0 }
      else if (c >= '0' && c <= '9') {
        if (digits >= 18) fast = false
        else { m = m * 10 + (c - '0'); digits += 1; if (frac >= 0) frac += 1 }
      } else fast = false
      i += 1
    }
    if (!fast || digits == 0 || m > (1L << 53) || frac > 22)
      return java.lang.Double.parseDouble(ascii(b, s0, e))
    val v = if (frac <= 0) m.toDouble else m.toDouble / Pow10(frac)
    if (neg) -v else v
  }

  /** Float fast path VIA DOUBLE: with ≤ 9 digits and scale ≤ 10 both
    * `m.toDouble` and `10^frac` are exact, so the division yields
    * `round_double(dec)` with one rounding; [[narrowExact]] then proves the
    * float narrowing didn't double-round (the decimal's ±0.5·ulp_double
    * interval lies strictly inside the float's rounding interval) — any
    * ambiguous token falls back to `Float.parseFloat`. The previous fast
    * path required mantissa ≤ 2^24, which REJECTED most shortest-repr float
    * strings (Float.toString emits up to 9 significant digits): every such
    * value paid a per-element String allocation — measured as the dominant
    * term of the array-payload float decode. The guard is NOT theoretical:
    * the exhaustive 2^31-float experiment (`tools/FloatViaDouble`) found
    * exactly ONE shortest representation where unguarded via-double
    * narrowing double-rounds (`7.038531E-26`, bits 363742205 → 363742206);
    * it is in exponent syntax, which this fast path never parses, and the
    * spec pins it through the full parser anyway.
    */
  def parseFloat(b: Array[Byte], s0: Int, e: Int): Float = {
    var s = s0
    var neg = false
    if (s < e && (b(s) == '-' || b(s) == '+')) { neg = b(s) == '-'; s += 1 }
    var m = 0L
    var digits = 0
    var frac = -1
    var i = s
    var fast = i < e
    while (fast && i < e) {
      val c = b(i)
      if (c == '.') { if (frac >= 0) fast = false else frac = 0 }
      else if (c >= '0' && c <= '9') {
        if (digits >= 9) fast = false
        else { m = m * 10 + (c - '0'); digits += 1; if (frac >= 0) frac += 1 }
      } else fast = false
      i += 1
    }
    if (!fast || digits == 0 || frac > 10)
      return java.lang.Float.parseFloat(ascii(b, s0, e))
    val v = if (frac <= 0) m.toDouble else m.toDouble / Pow10(frac)
    val f = v.toFloat
    if (narrowExact(v, f)) { if (neg) -f else f }
    else java.lang.Float.parseFloat(ascii(b, s0, e))
  }

  /** True when narrowing `v = round_double(dec)` to float provably equals
    * `round_float(dec)`: the decimal's uncertainty interval
    * `[v − u, v + u]` (u = ulp(v) ≥ 2 × the one rounding error) must sit
    * strictly inside `f`'s rounding interval `(h₋, h₊)` — float-neighbor
    * halfway points are exact doubles, so the compares are exact. The fast
    * path's value range ([1e-10, 1e9] ∪ {0}: no exponent syntax, ≤ 9 digits,
    * scale ≤ 10) keeps f finite and normal-or-zero, so no overflow/subnormal
    * boundary subtleties apply.
    */
  @inline private def narrowExact(v: Double, f: Float): Boolean = {
    val fd = f.toDouble
    val h2 = (fd + Math.nextUp(f).toDouble) / 2
    val h1 = (fd + Math.nextDown(f).toDouble) / 2
    val u = Math.ulp(v)
    v - u > h1 && v + u < h2
  }

  /** -1 unless `pattern` is the fixed layout `yyyy-MM-dd HH:mm:ss` plus an
    * optional `.S{1..6}` fraction; otherwise the fraction digit count.
    */
  def fixedPatternFracDigits(pattern: String): Int = {
    val base = "yyyy-MM-dd HH:mm:ss"
    if (pattern == base) 0
    else if (pattern.startsWith(base + ".") && pattern.drop(base.length + 1).forall(_ == 'S')) {
      val n = pattern.length - base.length - 1
      if (n <= 6) n else -1
    } else -1
  }

  private def digits2(b: Array[Byte], i: Int): Int = (b(i) - '0') * 10 + (b(i + 1) - '0')

  /** Parse `yyyy-MM-dd HH:mm:ss[.frac]` (UTC) to epoch micros — no
    * formatter, no Instant, no String.
    */
  def parseTimestampMicros(b: Array[Byte], s: Int, e: Int): Long = {
    val y = digits2(b, s) * 100 + digits2(b, s + 2)
    val mo = digits2(b, s + 5)
    val d = digits2(b, s + 8)
    val h = digits2(b, s + 11)
    val mi = digits2(b, s + 14)
    val sec = digits2(b, s + 17)
    var micros = 0L
    var scale = 100000L
    var i = s + 20 // past '.'
    if (i - 1 < e && b(i - 1) == '.') {
      while (i < e && scale > 0) {
        micros += (b(i) - '0') * scale
        scale /= 10
        i += 1
      }
    }
    daysFromCivil(y, mo, d) * 86400000000L + (h * 3600L + mi * 60L + sec) * 1000000L + micros
  }

  /** Howard Hinnant's days-from-civil algorithm (public domain chrono math). */
  def daysFromCivil(y: Int, m: Int, d: Int): Long = {
    val yy = if (m <= 2) y - 1 else y
    val era = (if (yy >= 0) yy else yy - 399) / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** Inverse: epoch days → (y, m, d). */
  def civilFromDays(z0: Long): (Int, Int, Int) = {
    val z = z0 + 719468L
    val era = (if (z >= 0) z else z - 146096L) / 146097L
    val doe = z - era * 146097L
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val yy = yoe + era * 400
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    ((yy + (if (m <= 2) 1 else 0)).toInt, m.toInt, d.toInt)
  }

  /** Parse a DateType field (`yyyy-MM-dd`) to epoch days. Fixed 10-byte
    * fast path (what the writer emits for years 1..9999); anything else —
    * negative or 5-digit years — through LocalDate's ISO parser.
    */
  def parseDateDays(b: Array[Byte], s: Int, e: Int): Int =
    if (e - s == 10 && b(s + 4) == '-' && b(s + 7) == '-') {
      val y = digits2(b, s) * 100 + digits2(b, s + 2)
      daysFromCivil(y, digits2(b, s + 5), digits2(b, s + 8)).toInt
    } else java.time.LocalDate.parse(ascii(b, s, e)).toEpochDay.toInt

  /** Parse a DecimalType(p<=18, s) field to its unscaled long: plain
    * decimal notation only (sign, digits, optional '.'), at most `scale`
    * fraction digits (the writer emits exactly `scale`), shorter fractions
    * zero-padded. Overflow past Long range fails like any malformed token.
    */
  def parseDecimalUnscaled(b: Array[Byte], s0: Int, e: Int, scale: Int): Long = {
    var i = s0
    var neg = false
    if (i < e && (b(i) == '-' || b(i) == '+')) { neg = b(i) == '-'; i += 1 }
    if (i >= e) throw new NumberFormatException(ascii(b, s0, e))
    var m = 0L
    var frac = -1
    var sawDigit = false
    while (i < e) {
      val c = b(i)
      if (c == '.') {
        if (frac >= 0) throw new NumberFormatException(ascii(b, s0, e))
        frac = 0
      } else {
        val d = c - '0'
        if (d < 0 || d > 9) throw new NumberFormatException(ascii(b, s0, e))
        sawDigit = true
        if (frac >= 0) frac += 1
        if (m > (Long.MaxValue - d) / 10) throw new NumberFormatException(ascii(b, s0, e))
        m = m * 10 + d
      }
      i += 1
    }
    // digitless tokens ('.', '-', '+.') must fail, not read back as 0
    if (!sawDigit || frac > scale) throw new NumberFormatException(ascii(b, s0, e))
    var pad = scale - math.max(frac, 0)
    while (pad > 0) {
      if (m > Long.MaxValue / 10) throw new NumberFormatException(ascii(b, s0, e))
      m *= 10; pad -= 1
    }
    if (neg) -m else m
  }

  /** Does the field slice look like the fixed `yyyy-MM-dd HH:mm:ss` layout?
    * (Four-digit year; separators in place.) Anything else — 5-digit years,
    * negative years — goes through the formatter fallback.
    */
  def isFixedLayout(b: Array[Byte], s: Int, e: Int): Boolean =
    e - s >= 19 && b(s + 4) == '-' && b(s + 7) == '-' && b(s + 10) == ' ' &&
      b(s + 13) == ':' && b(s + 16) == ':'

}

final class FourMcOutputWriter(
    val path: String,
    context: TaskAttemptContext,
    codec: McCodec,
    binary: Boolean
) extends OutputWriter {
  private val fsPath = new Path(path)
  private val out = {
    val fs = fsPath.getFileSystem(context.getConfiguration)
    new FourMcWriter(new java.io.BufferedOutputStream(fs.create(fsPath, false), 1 << 16), codec)
  }
  private val newline = Array[Byte]('\n')

  override def write(row: InternalRow): Unit = {
    if (binary) {
      val bytes = row.getBinary(0)
      val max = FourMc.MaxBlockSize - 4
      require(bytes.length <= max, s"4mc binary record ${bytes.length} B exceeds block capacity $max B; chunk large payloads")
      // flush so the record never spans blocks (keeps splits record-aligned)
      if (out.pendingBytes + 4 + bytes.length > FourMc.MaxBlockSize) out.flushBlock()
      val hdr = Array[Byte](
        ((bytes.length >>> 24) & 0xff).toByte, ((bytes.length >>> 16) & 0xff).toByte,
        ((bytes.length >>> 8) & 0xff).toByte, (bytes.length & 0xff).toByte
      )
      out.write(hdr, 0, 4)
      out.write(bytes, 0, bytes.length)
    } else {
      val bytes = row.getUTF8String(0).getBytes
      out.write(bytes, 0, bytes.length)
      out.write(newline, 0, 1)
    }
  }

  override def close(): Unit = out.close()
}

/** Elephant-Bird SerializedBlock sink ([[graft.format.EbBlocks]]): buffers
  * `blockRecords` binary rows (EB's default 100) into one framed block.
  * Blocks may span container blocks — the reader resynchronizes on the
  * marker, so no alignment flush is needed.
  */
final class FourMcEbOutputWriter(
    val path: String,
    context: TaskAttemptContext,
    codec: McCodec,
    marker: Array[Byte],
    className: String,
    blockRecords: Int
) extends OutputWriter {
  private val fsPath = new Path(path)
  private val out = {
    val fs = fsPath.getFileSystem(context.getConfiguration)
    new FourMcWriter(new java.io.BufferedOutputStream(fs.create(fsPath, false), 1 << 16), codec)
  }
  private val pending = new scala.collection.mutable.ArrayBuffer[Array[Byte]](blockRecords)

  private def flushEbBlock(): Unit = if (pending.nonEmpty) {
    val block = graft.format.EbBlocks.blockBytes(className, pending.toSeq, marker)
    out.write(block, 0, block.length)
    pending.clear()
  }

  override def write(row: InternalRow): Unit = {
    pending += row.getBinary(0)
    if (pending.length >= blockRecords) flushEbBlock()
  }

  override def close(): Unit = {
    flushEbBlock()
    out.close()
  }
}
