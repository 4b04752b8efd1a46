package graft.format

import graft.sources.FourMcScanMetrics
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Per-block stats segment + pruned scan: format round-trip, soundness of the
  * skip decisions under every split layout, and the decompression-skip
  * counters the 100 TB story rests on.
  */
class BlockStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("block-stats-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc-stats").toFile
    d.delete()
    d.getAbsolutePath
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("score", DoubleType)
  ))

  /** ~40 B/row × 800k rows ≈ 32 MB of text → ~8 blocks per single file. */
  private def writeClustered(dir: String, codec: String = "lz4-fast",
                             extra: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until 800000L, 1).map { i =>
        Row(i, f"g${i / 100000L}%03d-${"pad" * 8}", i.toDouble / 1000.0)
      },
      schema
    )
    // explicit ROW layout: this suite drives the row-path machinery
    // directly (FourMcReader.readBlock whole-payload decode, the pruned
    // line iterator) — the csv default is columnar since r15
    df.sortWithinPartitions("id").write.format("4mc")
      .option("payload", "csv").option("codec", codec).option("layout", "rows")
      .options(extra).save(dir)
  }

  test("stats segment round-trips through the container tail and keeps eosPos correct") {
    val dir = tmpDir()
    writeClustered(dir)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
    val in = McInput.local(f.toPath)
    try {
      val idx = FourMcReader.readIndex(in)
      assert(idx.stats.isDefined, "stats segment missing")
      val st = idx.stats.get
      assert(st.nCols == 3)
      assert(st.nBlocks == idx.numBlocks)
      assert(st.nBlocks > 4, s"want a multi-block file, got ${st.nBlocks}")
      // eosPos still points at the EOS marker: reading blocks sequentially
      // from block 0 must terminate exactly there
      var pos = idx.blockOffsets(0)
      var n = 0
      var done = false
      while (!done) {
        val (d, nxt) = FourMcReader.readBlock(in, idx.zstd, pos)
        if (d == null) done = true else { n += 1; pos = nxt }
      }
      assert(pos == idx.eosPos)
      assert(n == idx.numBlocks)
      // id is clustered: per-block [min,max] ranges must be disjoint-ish
      val mins = (0 until st.nBlocks).filter(b => st.lineCount(b) > 0).map(b => st.minLong(b * 3))
      assert(mins == mins.sorted, "clustered write should give monotone block minima")
      // line counts sum to the row count (ownership partition covers all lines)
      assert(st.lineCount.sum == 800000)
    } finally in.close()
  }

  test("old files without stats still read (backward compat)") {
    val dir = tmpDir()
    import spark.implicits._
    (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.format("4mc").option("payload", "csv")
      .option("blockStats", "false").save(dir)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
    val in = McInput.local(f.toPath)
    try assert(FourMcReader.readIndex(in).stats.isEmpty)
    finally in.close()
    val back = spark.read.format("4mc").option("payload", "csv")
      .schema(StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
      .load(dir)
    assert(back.count() == 1000)
  }

  test("pruned scan equals unpruned scan and skips most blocks (selective numeric range)") {
    val dir = tmpDir()
    writeClustered(dir)
    val read = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    val readNoStats = spark.read.format("4mc").option("payload", "csv")
      .option("blockStats", "false").schema(schema).load(dir)
    val pred = "id >= 100000 AND id < 140000 AND score < 1000.0"
    FourMcScanMetrics.reset()
    val got = read.filter(pred).agg(
      org.apache.spark.sql.functions.count("*"),
      org.apache.spark.sql.functions.sum("id")).collect()(0)
    // the pruned scan's own counters, before the unpruned scan adds to them
    val readBlocks = FourMcScanMetrics.blocksRead.sum()
    val skipped = FourMcScanMetrics.blocksSkipped.sum()
    FourMcScanMetrics.reset()
    // one split: a split that ends inside a block decompresses it again to
    // finish its last line, so more splits would count some blocks twice
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    val want =
      try readNoStats.filter(pred).agg(
        org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.sum("id")).collect()(0)
      finally spark.conf.unset("spark.sql.files.minPartitionNum")
    assert(got == want)
    assert(got.getLong(0) == 40000L)
    assert(skipped > 0, "expected some blocks skipped")
    assert(readBlocks < skipped, s"selective scan should skip most blocks (read=$readBlocks skipped=$skipped)")
    // the unpruned scan decompresses, and counts, every block of the fixture
    val blocks = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).map { f =>
      val in = McInput.local(f.toPath)
      try FourMcReader.readIndex(in).numBlocks finally in.close()
    }.sum
    assert(FourMcScanMetrics.blocksRead.sum() == blocks.toLong,
      s"unpruned scan read ${FourMcScanMetrics.blocksRead.sum()} of $blocks blocks")
    assert(FourMcScanMetrics.blocksSkipped.sum() == 0L)
  }

  test("pruned scan is exactly-once under every split layout (tiny maxPartitionBytes)") {
    import spark.implicits._
    val dir = tmpDir()
    writeClustered(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (256 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val read = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      assert(read.rdd.getNumPartitions > 8, s"want many splits, got ${read.rdd.getNumPartitions}")
      // range predicate spanning several block boundaries: exact id set back
      val ids = read.filter("id >= 199990 AND id < 400010").select("id")
        .as[Long].collect().sorted
      assert(ids.length == 200020)
      assert(ids.head == 199990L && ids.last == 400009L)
      assert(ids.toSeq == (199990L until 400010L).toSeq)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("string and null pruning stay sound") {
    import spark.implicits._
    val dir = tmpDir()
    val strSchema = StructType(Seq(StructField("k", LongType), StructField("s", StringType, nullable = true)))
    val rows = (0L until 200000L).map { i =>
      // long strings (> 16B truncation) in one region, nulls in another
      if (i < 50000L) Row(i, null)
      else Row(i, f"prefix-that-is-long-$i%09d")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), strSchema)
      .sortWithinPartitions("k").write.format("4mc").option("payload", "csv").save(dir)
    val read = spark.read.format("4mc").option("payload", "csv").schema(strSchema).load(dir)
    assert(read.filter("s IS NULL").count() == 50000L)
    assert(read.filter("s IS NOT NULL").count() == 150000L)
    assert(read.filter($"s" === f"prefix-that-is-long-${123456L}%09d").count() == 1L)
    assert(read.filter($"s" startsWith "prefix-that").count() == 150000L)
    assert(read.filter($"s" < "prefix-that-is-long-000060000").count() == 10000L)
  }

  test("certainBlocks: truncated string MIN still certifies Gt/Ge; Lt stays uncertain") {
    // >16-byte strings truncate the stored bounds (minExact=false), but a
    // truncated min is still a lower bound — storedMin > v proves every
    // value > v (r14 advice). The max side has no such property: a
    // truncated max is a strict prefix BELOW the true max.
    val dir = tmpDir()
    val strSchema = StructType(Seq(StructField("s", StringType, nullable = false)))
    // unique long values (dict suppressed: far over 32 distinct per block)
    val rows = (0L until 200000L).map(i => Row(f"prefix-that-is-long-$i%09d"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), strSchema)
      .sortWithinPartitions("s").write.format("4mc")
      .option("payload", "csv").option("layout", "rows").save(dir)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
    val in = McInput.local(f.toPath)
    try {
      val idx = FourMcReader.readIndex(in)
      val st = idx.stats.get
      assert(st.nBlocks > 1)
      assert(!st.minExact(0), "fixture must exercise TRUNCATED min bounds")
      import org.apache.spark.sql.sources.{GreaterThan, LessThan}
      // literal below every stored (truncated) min → all blocks certain
      val gt = McStatsPruning.certainBlocks(
        Seq(GreaterThan("s", "prefix-that")), strSchema, st).get
      assert(gt.forall(identity),
        "storedMin > literal must certify Gt even with a truncated min")
      // literal above every value, but the max bounds are truncated → the
      // analysis must refuse certainty on the max side
      val lt = McStatsPruning.certainBlocks(
        Seq(LessThan("s", "prefix-that-is-m")), strSchema, st).get
      assert(!lt.exists(identity),
        "a truncated max must never certify Lt")
    } finally in.close()
  }

  test("small-block writes (blockBytes option) round-trip and prune at finer granularity") {
    val dir = tmpDir()
    writeClustered(dir, extra = Map("blockBytes" -> (256 * 1024).toString))
    val read = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    assert(read.count() == 800000L)
    val pred = "id >= 100000 AND id < 140000"
    FourMcScanMetrics.reset()
    assert(read.filter(pred).count() == 40000L)
    val readBlocks = FourMcScanMetrics.blocksRead.sum()
    val skipped = FourMcScanMetrics.blocksSkipped.sum()
    // 256 KiB blocks: the same predicate range survives in proportionally
    // MORE, smaller blocks — and far more are refuted than read
    assert(skipped > 3 * readBlocks, s"finer blocks should refute most (read=$readBlocks skipped=$skipped)")
  }

  test("NaN literal never prunes: Spark orders NaN above every value") {
    import spark.implicits._
    val dir = tmpDir()
    val dSchema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val rows = (0L until 200000L).map(i => Row(i, i.toDouble))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), dSchema)
      .sortWithinPartitions("k").write.format("4mc").option("payload", "csv").save(dir)
    val read = spark.read.format("4mc").option("payload", "csv").schema(dSchema).load(dir)
    // x < NaN is true for every non-NaN x under Spark's ordering; the
    // primitive `min < lit` test is false against NaN and would have
    // refuted every block (0 rows instead of all)
    assert(read.filter($"v" < Double.NaN).count() === 200000L)
    assert(read.filter($"v" <= Double.NaN).count() === 200000L)
    assert(read.filter($"v" > Double.NaN).count() === 0L)
    assert(read.filter($"v" === Double.NaN).count() === 0L)
  }

  test("events time-range scan (fourmz_events_window_skipped) skips > 50% of blocks") {
    val sf = "/root/testdata/sf0.01"
    // build the ts-clustered layout once, warm (metrics off), then measure
    graft.RoundTrip.eventsWindowSkipped(spark, sf).count()
    FourMcScanMetrics.reset()
    val got = graft.RoundTrip.eventsWindowSkipped(spark, sf).count()
    assert(got > 0)
    val read = FourMcScanMetrics.blocksRead.sum()
    val skipped = FourMcScanMetrics.blocksSkipped.sum()
    assert(skipped > read,
      s"1.5-day window over 30 days of ts-sorted events must refute most blocks (read=$read skipped=$skipped)")
    // oracle parity of the window itself: unpruned scan agrees
    val unpruned = graft.Queries.events(spark, sf)
      .filter("ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-11 12:00:00'")
      .count()
    val windowRows = graft.RoundTrip.eventsWindowSkipped(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_events")).head().getLong(0)
    assert(windowRows == unpruned)
  }

  test("zstd (4mz) files prune identically") {
    val dir = tmpDir()
    writeClustered(dir, codec = "zstd-1")
    val read = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    FourMcScanMetrics.reset()
    assert(read.filter("id >= 700000").count() == 100000L)
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0)
  }

  test("v5 joint histograms round-trip: exact pair counts, complete coverage, v4 pin drops them") {
    import graft.sources.CsvPayload
    val sch = StructType(Seq(
      StructField("k", LongType), StructField("g1", StringType),
      StructField("g2", StringType)))
    def build(version: Int): Option[McBlockStats] = {
      val b = new McStatsBuilder(sch)
      // block 0: 600 rows, nulls in both columns; block 1: 300 rows
      for (i <- 0 until 900) {
        val blk = if (i < 600) 0 else 1
        b.startLine(blk, 1 + i % 100) // nonzero offsets: plain ownership
        b.observeLong(0, i.toLong)
        if (i % 7 == 0) b.observeNull(1) else b.observeString(1, s"a${i % 4}".getBytes)
        if (i % 5 == 0) b.observeNull(2) else b.observeString(2, s"b${i % 3}".getBytes)
      }
      McBlockStats.parse(b.serialize(2, version, BlockStats.LayoutRows))
    }
    val st = build(BlockStats.StatsVersionJoint).get
    val jh0 = st.jointAt(0, 1, 2)
    val jh1 = st.jointAt(1, 1, 2)
    assert(jh0 != null && jh1 != null, "both blocks must carry the (g1, g2) joint")
    assert(st.jointAt(0, 2, 1) == null, "pairs are stored (lo, hi) only")
    // completeness: Σ counts == owned lines, nulls included
    assert(jh0.counts.sum == st.lineCount(0) && jh1.counts.sum == st.lineCount(1))
    // exactness: recompute block 0's joint from the generator
    val expect = (0 until 600).groupBy { i =>
      (if (i % 7 == 0) null else s"a${i % 4}", if (i % 5 == 0) null else s"b${i % 3}")
    }.map { case (k, v) => k -> v.size }
    val d1 = st.dictAt(0 * 3 + 1); val d2 = st.dictAt(0 * 3 + 2)
    val got = jh0.counts.indices.map { e =>
      (if (jh0.i1(e) < 0) null else new String(d1(jh0.i1(e)), "UTF-8"),
        if (jh0.i2(e) < 0) null else new String(d2(jh0.i2(e)), "UTF-8")) -> jh0.counts(e)
    }.toMap
    assert(got == expect, s"joint mismatch:\n got=$got\n exp=$expect")
    // a v4 pin serializes byte-compatibly for older floors: no joints parsed
    val st4 = build(BlockStats.StatsVersionDictCounts).get
    assert(st4.jointAt(0, 1, 2) == null && st4.dictCountsAt(0 * 3 + 1) != null)
    assert(CsvPayload.tagOf(sch.fields(1).dataType) == CsvPayload.TagString)
  }
}
