package graft.format

import graft.sources.FourMcScanMetrics
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Per-block bloom segment ([[BlockBlooms]]): SBBF membership/fpp, builder
  * serialize → parse round-trip, container-tail placement next to the stats
  * segment, point-lookup pruning on a key UNCORRELATED with file order
  * (where zone maps are useless), and runtime-key-set probing.
  */
class BlockBloomsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("block-blooms-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc-bloom").toFile
    d.delete()
    d.getAbsolutePath
  }

  test("SBBF: no false negatives; fpp near the 10-bits/key design point") {
    val rnd = new scala.util.Random(7)
    val keys = Array.fill(20000)(rnd.nextLong())
    val nb = BlockBlooms.sizeBuckets(keys.length, BlockBlooms.DefaultBitsPerKey, 1 << 20)
    val words = new Array[Int](nb * 8)
    keys.foreach(BlockBlooms.insert(words, 0, nb, _))
    keys.foreach(k => assert(BlockBlooms.contains(words, 0, nb, k), "false negative"))
    val inserted = keys.toSet
    var fp = 0
    var probes = 0
    while (probes < 100000) {
      val k = rnd.nextLong()
      if (!inserted.contains(k)) {
        if (BlockBlooms.contains(words, 0, nb, k)) fp += 1
        probes += 1
      }
    }
    val fpp = fp.toDouble / probes
    assert(fpp < 0.03, s"fpp $fpp way above the ~1% design point")
  }

  test("builder serialize → parse round-trip with ownership routing and empty blocks") {
    val b = new McBloomBuilder(cols = Array(0, 2))
    // block 0 lines
    b.startLine(0, 5); b.observe(0, 100L); b.observe(1, 7L)
    b.startLine(0, 40); b.observe(0, 200L) // col 2 null on this line
    // a line at offset 0 of block 1 belongs to block 0
    b.startLine(1, 0); b.observe(0, 300L); b.observe(1, 8L)
    // block 1 proper
    b.startLine(1, 33); b.observe(0, 400L)
    val seg = b.serialize(4) // blocks 2..3 own nothing
    val parsed = McBlockBlooms.parse(seg).get
    assert(parsed.colIdx.toSeq == Seq(0, 2))
    assert(parsed.nBlocks == 4)
    val c0 = parsed.ordOf(0); val c2 = parsed.ordOf(2)
    assert(parsed.ordOf(1) == -1)
    assert(parsed.mayContain(0, c0, 100L) && parsed.mayContain(0, c0, 200L))
    assert(parsed.mayContain(0, c0, 300L), "offset-0 line must route to the previous block")
    assert(parsed.mayContain(1, c0, 400L))
    assert(!parsed.mayContain(0, c0, 99999L), "tiny exact filter must refute a missing key")
    assert(parsed.mayContain(0, c2, 7L) && parsed.mayContain(0, c2, 8L))
    assert(!parsed.mayContain(1, c2, 8L), "block 1 has no col-2 keys: empty filter refutes")
    assert(!parsed.mayContain(2, c0, 100L) && !parsed.mayContain(3, c0, 100L),
      "line-less blocks refute everything")
  }

  test("v2 file-level filters: round-trip, density-floor abandonment, v1 pin") {
    // small file filter (2 buckets = 512 bits, floor ⇒ ≤ 102 distinct keys)
    val b = new McBloomBuilder(cols = Array(0, 1), fileBuckets = 2)
    b.startLine(0, 5)
    for (i <- 0 until 500) {
      b.startLine(0, 5 + i)
      b.observe(0, (i % 50).toLong) // 50 distinct: filter survives
      b.observe(1, i.toLong)        // 500 distinct: filter abandons
    }
    val parsed = McBlockBlooms.parse(b.serialize(1)).get
    assert(parsed.filePresent(0) && !parsed.filePresent(1))
    for (i <- 0 until 50) assert(parsed.fileMayContain(0, i.toLong), s"no false negatives ($i)")
    assert((100 until 1100).count(k => parsed.fileMayContain(0, k.toLong)) < 300,
      "a 10-bits/key file filter must refute most absent keys")
    assert(parsed.fileMayContain(1, 123456L), "absent filter: undecidable, keep")
    assert(parsed.fileBloomOf(0).isDefined && parsed.fileBloomOf(1).isEmpty)
    // a col with no non-null keys: empty filter refutes everything
    val b2 = new McBloomBuilder(cols = Array(0, 1), fileBuckets = 2)
    b2.startLine(0, 5); b2.observe(0, 1L)
    val p2 = McBlockBlooms.parse(b2.serialize(1)).get
    assert(!p2.fileMayContain(1, 1L) && p2.fileBloomOf(1).exists(_._1 == 0))
    // fileBuckets = 0 pins the v1 segment: parses with no file section
    val b1 = new McBloomBuilder(cols = Array(0), fileBuckets = 0)
    b1.startLine(0, 5); b1.observe(0, 42L)
    val p1 = McBlockBlooms.parse(b1.serialize(1)).get
    assert(p1.fileNBuckets.isEmpty && p1.fileMayContain(0, 999L),
      "v1 segments have no file filters: always keep")
    assert(p1.mayContain(0, 0, 42L))
  }

  private val schema = StructType(Seq(
    StructField("key", LongType),
    StructField("payload", StringType)
  ))

  /** Keys are a PERMUTATION of the domain — every block's zone spans nearly
    * the whole key range, so zone maps prune nothing and only blooms can.
    */
  private def writeShuffled(dir: String): Unit = {
    val n = 600000L
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until n, 1).map { i =>
        val key = (i * 2654435761L) % n // Knuth permutation: uncorrelated order
        Row(key, "x" * 40)
      },
      schema
    )
    // explicit ROW layout: the soundness check walks the file with the
    // row-path FourMcLineIterator (csv defaults to columnar since r15)
    df.coalesce(1).write.format("4mc").option("payload", "csv")
      .option("layout", "rows").option("bloomColumns", "key").save(dir)
  }

  test("container tail carries bloom + stats; eosPos stays at the last block end") {
    val dir = tmpDir()
    writeShuffled(dir)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
    val in = McInput.local(f.toPath)
    try {
      val idx = FourMcReader.readIndex(in)
      assert(idx.stats.isDefined, "stats segment missing")
      assert(idx.blooms.isDefined, "bloom segment missing")
      assert(idx.blooms.get.nBlocks == idx.numBlocks)
      assert(idx.numBlocks > 4, s"want a multi-block file, got ${idx.numBlocks}")
      // eosPos must point at the EOS marker (12 zero bytes)
      val eos = new Array[Byte](12)
      in.readFully(idx.eosPos, eos, 0, 12)
      assert(eos.forall(_ == 0), "eosPos must land on the EOS marker")
    } finally in.close()
  }

  test("point lookup on an unsorted key: blooms skip most blocks, zone maps can't") {
    val dir = tmpDir()
    writeShuffled(dir)
    val df = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    FourMcScanMetrics.reset()
    val hit = df.filter(org.apache.spark.sql.functions.col("key") === 123456L).collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 123456L)
    val read = FourMcScanMetrics.blocksRead.sum()
    val skipped = FourMcScanMetrics.blocksSkipped.sum()
    assert(skipped > 0, "bloom must skip blocks for a point lookup")
    assert(read <= 2, s"point lookup should decode ≲1 block, read $read (skipped $skipped)")

    // IN over a handful of keys composes per-value probes
    FourMcScanMetrics.reset()
    val keys = Seq(5L, 77777L, 123456L, 444444L)
    val got = df.filter(org.apache.spark.sql.functions.col("key").isin(keys: _*))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == keys.sorted)
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0)
  }

  test("keepBlocksForKeys probes blooms inside the zone and stays sound") {
    val dir = tmpDir()
    writeShuffled(dir)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
    val in = McInput.local(f.toPath)
    try {
      val idx = FourMcReader.readIndex(in)
      val st = idx.stats.get
      // zone-only: shuffled keys make every block's zone span the domain
      val keys = Array(123456L, 444444L)
      val zoneOnly = McStatsPruning.keepBlocksForKeys("key", keys, schema, st, None).get
      assert(zoneOnly.count(identity) == idx.numBlocks,
        "unsorted layout: zone maps alone keep every block")
      val withBloom = McStatsPruning.keepBlocksForKeys("key", keys, schema, st, idx.blooms).get
      assert(withBloom.count(identity) < idx.numBlocks, "blooms must refute some blocks")
      // soundness: a scan pruned to the kept blocks still yields every key
      val pruned = new FourMcLineIterator(in, idx, 0L, Long.MaxValue, keep = Some(withBloom))
      val found = scala.collection.mutable.Set.empty[Long]
      while (pruned.hasNext) {
        val (_, bytes) = pruned.next()
        val s = new String(bytes, "UTF-8")
        val k = s.substring(0, s.indexOf('|')).toLong
        if (keys.contains(k)) found += k
      }
      assert(found == keys.toSet, s"pruned scan lost keys: found $found")
      // over-cap key sets fall back to the zone verdict (kept)
      val big = Array.tabulate(McStatsPruning.BloomProbeCap + 10)(_.toLong * 3)
      val capped = McStatsPruning.keepBlocksForKeys("key", big, schema, st, idx.blooms).get
      assert(capped.count(identity) == idx.numBlocks, "over-cap probe must keep the zone verdict")
    } finally in.close()
  }

  test("string bloom column: equality lookups prune where lexicographic zones interleave") {
    val dir = tmpDir()
    val n = 400000L
    val strSchema = StructType(Seq(
      StructField("skey", StringType), StructField("pad", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until n, 1).map { i =>
        val key = (i * 2654435761L) % n
        Row(s"k$key", "y" * 40) // "k1" < "k10" < "k2": zones interleave
      },
      strSchema
    )
    df.coalesce(1).write.format("4mc").option("payload", "csv")
      .option("bloomColumns", "skey").save(dir)
    val back = spark.read.format("4mc").option("payload", "csv").schema(strSchema).load(dir)
    FourMcScanMetrics.reset()
    val hit = back.filter(org.apache.spark.sql.functions.col("skey") === "k123456").collect()
    assert(hit.length == 1 && hit.head.getString(0) == "k123456")
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0, "string bloom must skip blocks")
    assert(FourMcScanMetrics.blocksRead.sum() <= 2,
      s"point lookup should decode ≲1 block, read ${FourMcScanMetrics.blocksRead.sum()}")
    // a definitively-absent key decodes nothing at all
    FourMcScanMetrics.reset()
    assert(back.filter(org.apache.spark.sql.functions.col("skey") === "nope").collect().isEmpty)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L,
      "absent key: every block refuted by its bloom")
  }

  test("partitioned writes and 4mz carry blooms: partition pruning composes with key probes") {
    val dir = tmpDir()
    val n = 400000L
    val pSchema = StructType(Seq(
      StructField("key", LongType), StructField("pad", StringType),
      StructField("part", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until n, 1).map { i =>
        val key = (i * 2654435761L) % n
        Row(key, "w" * 40, s"p${key % 2}")
      }, pSchema)
    // zstd (4mz) + hive partitioning: bloomCols index against the DATA
    // schema (partition col excluded), so 'key' must still probe correctly
    df.coalesce(1).write.format("4mc").option("payload", "csv")
      .option("codec", "zstd-1").option("bloomColumns", "key")
      .partitionBy("part").save(dir)
    val f = new java.io.File(dir, "part=p0").listFiles
      .filter(_.getName.endsWith(".4mz")).head
    val in = McInput.local(f.toPath)
    try {
      val idx = FourMcReader.readIndex(in)
      assert(idx.blooms.isDefined && idx.blooms.get.colIdx.toSeq == Seq(0),
        "bloom col ordinal must index the partition-stripped data schema")
    } finally in.close()
    val back = spark.read.format("4mc").option("payload", "csv")
      .schema(StructType(pSchema.dropRight(1))).load(dir)
    FourMcScanMetrics.reset()
    // key 123456 is even → partition p0; the partition filter prunes the
    // p1 directory, the bloom prunes p0's non-matching blocks
    val hit = back
      .filter(org.apache.spark.sql.functions.col("part") === "p0")
      .filter(org.apache.spark.sql.functions.col("key") === 123456L).collect()
    assert(hit.length == 1)
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0, "bloom must skip within the partition")
    assert(FourMcScanMetrics.blocksRead.sum() <= 2)
  }

  test("bloomColumns option validation") {
    import spark.implicits._
    val df = Seq((1L, "a", 2.5)).toDF("key", "payload", "score")
    val dir = tmpDir()
    def failsWith(msg: String)(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      val full = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(full.contains(msg), s"expected '$msg' in: $full")
    }
    failsWith("no such column") {
      df.write.format("4mc").option("payload", "csv")
        .option("bloomColumns", "nope").save(dir + "/a")
    }
    failsWith("integer, string, date, or decimal column") {
      df.write.format("4mc").option("payload", "csv")
        .option("bloomColumns", "score").save(dir + "/b")
    }
    failsWith("requires blockStats") {
      df.write.format("4mc").option("payload", "csv").option("blockStats", "false")
        .option("bloomColumns", "key").save(dir + "/c")
    }
  }
}
