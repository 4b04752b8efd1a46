package graft.sources

import graft.format.ColumnarBlocks
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Dictionary-encoded column sub-streams (round 15,
  * [[ColumnarBlocks.DictFlag]]): a low-cardinality column stream stores
  * codes + an inline dictionary instead of repeated `value\n` bytes when
  * strictly smaller. These tests pin the encode eligibility rules, the
  * on-disk flag, round-trip equality as batches (the vectorized
  * dictionary-id lane) and as rows served from them, predicates over dict
  * columns, mixed dict/plain blocks, the opt-out, corruption handling of
  * bad codes, and fsck validation.
  */
class DictStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("dict-stream")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc-dictstream").toFile
    d.delete(); d.getAbsolutePath
  }

  private def enc(values: Seq[String]): Array[Byte] = {
    val raw = values.map(_ + "\n").mkString.getBytes("UTF-8")
    ColumnarBlocks.tryDictEncode(raw, raw.length)
  }

  // ---- unit: tryDictEncode / DictStream ----------------------------------

  test("tryDictEncode round-trips values through DictStream") {
    val vals = Seq("A", "B", "A", "", "\\N", "B", "A", "longer-value", "A", "A") ++
      Seq.fill(30)("B") // enough repeats that the encoding is strictly smaller
    val out = enc(vals)
    assert(out != null)
    val d = new ColumnarBlocks.DictStream(out, out.length, "(test)")
    assert(d.rows == vals.length)
    assert(d.nEntries == 5) // A, B, "", \N, longer-value
    val got = (0 until d.rows).map { r =>
      new String(out, d.entryStart(d.code(r)), d.entryEnd(d.code(r)) - d.entryStart(d.code(r)), "UTF-8")
    }
    assert(got == vals)
  }

  test("tryDictEncode refuses: over-cardinality, over-length, not smaller") {
    // 65 distinct values breaches DictMaxEntries=64
    assert(enc((0 until 65).map(i => s"v$i") ++ Seq.fill(1000)("v0")) == null)
    // 64 distinct is allowed
    assert(enc((0 until 64).map(i => s"v$i") ++ Seq.fill(1000)("v0")) != null)
    // a value longer than DictMaxValueLen poisons the stream
    assert(enc(Seq.fill(100)("x" * (ColumnarBlocks.DictMaxValueLen + 1))) == null)
    assert(enc(Seq.fill(100)("x" * ColumnarBlocks.DictMaxValueLen)) != null)
    // 2 rows of a 1-byte value: encoded 1+(1+1)+2 = 5 >= raw 4 -> refused
    assert(enc(Seq("a", "a")) == null)
    // empty stream / unterminated stream
    assert(ColumnarBlocks.tryDictEncode(Array.emptyByteArray, 0) == null)
    assert(ColumnarBlocks.tryDictEncode("abc".getBytes, 3) == null)
  }

  test("DictStream rejects structural corruption") {
    // alternating values: RLE (2 bytes/run × 100 runs) is NOT smaller than
    // 100 plain code bytes, so this fixture pins the PLAIN framing
    val out = enc((0 until 100).map(i => if (i % 2 == 0) "aa" else "bb"))
    assert(out != null)
    assert((out(0) & 0x80) == 0, "alternating codes must stay plain-framed")
    // out-of-range code
    val bad = out.clone()
    bad(bad.length - 1) = 7 // only 2 entries exist
    intercept[java.io.IOException] { new ColumnarBlocks.DictStream(bad, bad.length, "(t)") }
    // entry count of zero
    val zero = out.clone(); zero(0) = 0
    intercept[java.io.IOException] { new ColumnarBlocks.DictStream(zero, zero.length, "(t)") }
    // entry table overrun
    val over = out.clone(); over(1) = 127
    intercept[java.io.IOException] { new ColumnarBlocks.DictStream(over, over.length, "(t)") }
  }

  test("RLE code framing: chosen for runs, round-trips, rejects corruption") {
    // run-heavy: 3 runs — RLE must be chosen and be much smaller
    val vals = Seq.fill(400)("aa") ++ Seq.fill(300)("bb") ++ Seq.fill(300)("aa")
    val out = enc(vals)
    assert(out != null)
    assert((out(0) & 0x80) != 0, "run-heavy codes must be RLE-framed")
    assert(out.length < 1 + 2 * 3 + 20, s"3 runs should encode in a few bytes, got ${out.length}")
    val d = new ColumnarBlocks.DictStream(out, out.length, "(t)")
    assert(d.rows == 1000)
    assert(d.nEntries == 2)
    val got = (0 until d.rows).map { r =>
      new String(out, d.entryStart(d.code(r)), d.entryEnd(d.code(r)) - d.entryStart(d.code(r)), "UTF-8")
    }
    assert(got == vals)
    // multi-byte varint run length round-trips (>127 repeats in one run)
    val big = enc(Seq.fill(20000)("zz") ++ Seq.fill(5)("yy"))
    assert(big != null && (big(0) & 0x80) != 0)
    val db = new ColumnarBlocks.DictStream(big, big.length, "(t)")
    assert(db.rows == 20005 && db.code(0) == 0 && db.code(20004) == 1)
    // corruption probes over a fixture whose runs are < 128 (single-byte
    // varints, so each pair is exactly code(1) + runLen(1))
    val small = enc(Seq.fill(100)("aa") ++ Seq.fill(100)("bb") ++ Seq.fill(100)("aa"))
    assert(small != null && (small(0) & 0x80) != 0)
    // out-of-range code in the last run pair
    val badCode = small.clone()
    badCode(small.length - 2) = 9 // only 2 entries exist
    intercept[java.io.IOException] { new ColumnarBlocks.DictStream(badCode, badCode.length, "(t)") }
    // truncated varint (continuation bit on the final byte)
    val trunc = small.clone()
    trunc(small.length - 1) = (trunc(small.length - 1) | 0x80).toByte
    intercept[java.io.IOException] { new ColumnarBlocks.DictStream(trunc, trunc.length, "(t)") }
    // zero run length
    val zeroRun = small.clone()
    zeroRun(small.length - 1) = 0
    intercept[java.io.IOException] { new ColumnarBlocks.DictStream(zeroRun, zeroRun.length, "(t)") }
  }

  // ---- integration: write/read --------------------------------------------

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("flag", StringType, nullable = true),   // 3 distinct + nulls -> dict
    StructField("qty", IntegerType, nullable = true),    // 40 distinct -> dict
    StructField("rate", DoubleType, nullable = true),    // 9 distinct -> dict
    StructField("text", StringType, nullable = true)     // high-cardinality -> plain
  ))

  private def fixtureRows(n: Int): Seq[Row] = (0 until n).map { i =>
    Row(
      i.toLong,
      if (i % 11 == 3) null else if (i % 13 == 5) "" else Seq("A", "N|R", "F")(i % 3),
      if (i % 17 == 7) null else java.lang.Integer.valueOf(i % 40 + 1),
      if (i % 19 == 9) null else java.lang.Double.valueOf((i % 9) * 0.01),
      s"payload-$i-${"x" * (i % 23)}"
    )
  }

  private def writeDf(n: Int, dir: String, opts: Map[String, String] = Map.empty): Unit = {
    val w = spark.createDataFrame(
        spark.sparkContext.parallelize(fixtureRows(n), 1), schema).coalesce(1)
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (32 * 1024).toString)
    opts.foreach { case (k, v) => w.option(k, v) }
    w.save(dir)
  }

  /** Per-column dict-flag counts over every block of the single .4mc file. */
  private def dictFlagCounts(dir: String): Array[Int] = {
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".4mc")).head
    val in = graft.format.McInput.local(part.toPath)
    try {
      val idx = graft.format.FourMcReader.readIndex(in)
      val nCols = idx.stats.get.tags.length
      val counts = new Array[Int](nCols)
      for (b <- 0 until idx.numBlocks) {
        val dirBytes = new Array[Byte](ColumnarBlocks.dirLen(nCols))
        in.readFully(idx.blockOffsets(b) + graft.format.FourMc.BlockHeaderLen,
          dirBytes, 0, dirBytes.length)
        for (c <- 0 until nCols)
          if ((ColumnarBlocks.getBE(dirBytes, c * ColumnarBlocks.DirEntryLen + 4) &
               ColumnarBlocks.DictFlag) != 0) counts(c) += 1
      }
      counts
    } finally in.close()
  }

  private def readBack(dir: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("low-cardinality columns dict-encode on disk; high-cardinality stay plain") {
    val dir = tmpDir()
    writeDf(20000, dir)
    val counts = dictFlagCounts(dir)
    assert(counts(1) > 0, "flag column must dict-encode")   // 5 values incl "" and \N
    assert(counts(2) > 0, "qty column must dict-encode")    // 41 values
    assert(counts(3) > 0, "rate column must dict-encode")   // 10 values
    assert(counts(0) == 0, "unique id column must stay plain")
    assert(counts(4) == 0, "high-cardinality text column must stay plain")
  }

  test("dict file round-trips exactly; smaller than the opt-out twin") {
    val dirOn = tmpDir(); val dirOff = tmpDir()
    writeDf(20000, dirOn)
    writeDf(20000, dirOff, Map("dictEncode" -> "false"))
    assert(dictFlagCounts(dirOff).sum == 0, "opt-out must write no dict streams")
    val want = spark.createDataFrame(
      spark.sparkContext.parallelize(fixtureRows(20000), 1), schema)
    assert(canon(readBack(dirOn)) == canon(want))
    assert(canon(readBack(dirOff)) == canon(want))
    def bytes(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".4mc")).map(_.length()).sum
    assert(bytes(dirOn) < bytes(dirOff),
      s"dict file ${bytes(dirOn)} must be smaller than plain ${bytes(dirOff)}")
  }

  test("projections, predicates, and group-by over dict columns match") {
    val dir = tmpDir()
    writeDf(20000, dir)
    val want = spark.createDataFrame(
      spark.sparkContext.parallelize(fixtureRows(20000), 1), schema)
    // group-by on the dictionary-id-lane column
    def agg(df: DataFrame) = canon(df.groupBy("flag").agg(
      count(lit(1)).as("n"), sum("qty").as("sq"), avg("rate").as("ar")))
    assert(agg(readBack(dir)) == agg(want))
    // predicate bound to a dict column (evaluated through valStart/valEnd)
    def pred(df: DataFrame) = canon(df.filter(col("flag") === "N|R" && col("rate") > 0.03)
      .select("id", "flag", "qty", "rate"))
    assert(pred(readBack(dir)) == pred(want))
    // IsNull over a dict column whose dictionary carries the null marker
    def nn(df: DataFrame) = canon(df.filter(col("flag").isNull).select("id", "text"))
    assert(nn(readBack(dir)) == nn(want))
    // empty-string entry stays an empty string, not null
    def es(df: DataFrame) = canon(df.filter(col("flag") === "").select("id"))
    assert(es(readBack(dir)) == es(want))
  }

  test("row-path fallback (vectorized=false) reads dict streams identically") {
    val dir = tmpDir()
    writeDf(8000, dir)
    val src = spark.createDataFrame(spark.sparkContext.parallelize(fixtureRows(8000), 1), schema)
    assert(canon(readBack(dir)) == canon(src))
    // rows served from the same batches (no whole-stage codegen)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      assert(canon(readBack(dir)) == canon(src))
      assert(canon(readBack(dir).filter(col("qty") <= 7).select("flag", "qty")) ==
        canon(src.filter(col("qty") <= 7).select("flag", "qty")))
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("corrupt dict code: strict throws loudly, permissive drops the block") {
    val dir = tmpDir()
    writeDf(20000, dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".4mc")).head
    val in = graft.format.McInput.local(part.toPath)
    val idx = graft.format.FourMcReader.readIndex(in)
    assert(idx.numBlocks >= 3)
    val nCols = idx.stats.get.tags.length
    // locate block 1's flag stream (col 1, dict-encoded, stored plain or
    // compressed — flip a byte in its STORED form and fix nothing else, so
    // either the stream checksum or the dict structure check must fire)
    val dirBytes = new Array[Byte](ColumnarBlocks.dirLen(nCols))
    in.readFully(idx.blockOffsets(1) + graft.format.FourMc.BlockHeaderLen, dirBytes, 0, dirBytes.length)
    assert((ColumnarBlocks.getBE(dirBytes, ColumnarBlocks.DirEntryLen + 4) & ColumnarBlocks.DictFlag) != 0)
    val s0 = ColumnarBlocks.getBE(dirBytes, 0) // col 0 stored len
    in.close()
    val target = idx.blockOffsets(1) + graft.format.FourMc.BlockHeaderLen +
      ColumnarBlocks.dirLen(nCols) + s0 + 2
    val raf = new java.io.RandomAccessFile(part, "rw")
    raf.seek(target); val b = raf.read(); raf.seek(target); raf.write(b ^ 0x3c); raf.close()
    intercept[Throwable] { readBack(dir).select("flag").collect() }
    val before = FourMcScanMetrics.corruptSkipped.sum
    // the projection must include the corrupt stream: selective readers
    // only verify the streams they decompress (id alone reads fine)
    val got = spark.read.format("4mc").option("payload", "csv")
      .option("ignoreCorruptBlocks", "true").schema(schema).load(dir)
      .select("id", "flag").collect().map(_.getLong(0))
    assert(got.length == 20000 - idx.stats.get.lineCount(1))
    assert(got.distinct.length == got.length)
    assert(FourMcScanMetrics.corruptSkipped.sum - before >= 1L)
    // an untouched-stream projection still reads every row (a bare count
    // would pick the SMALLEST stream for row counting — the corrupt dict
    // stream — so materialize the id column explicitly)
    assert(spark.read.format("4mc").option("payload", "csv")
      .option("ignoreCorruptBlocks", "true").schema(schema).load(dir)
      .select("id").collect().length == 20000)
  }

  test("fsck validates dict streams; 4mz dict files too") {
    val dir = tmpDir()
    writeDf(12000, dir)
    val rep = graft.ops.Fsck.fsck(spark, dir).collect()
    assert(rep.forall(_.getAs[Int]("n_corrupt_blocks") == 0), rep.mkString(","))
    // zstd container: same streams, zstd codec (writes .4mz)
    val dirZ = tmpDir()
    spark.createDataFrame(
        spark.sparkContext.parallelize(fixtureRows(12000), 1), schema).coalesce(1)
      .write.format("4mc").option("codec", "zstd-3").option("payload", "csv")
      .option("blockBytes", (32 * 1024).toString).save(dirZ)
    val partZ = new java.io.File(dirZ).listFiles().filter(_.getName.endsWith(".4mz")).head
    assert(partZ.length() > 0)
    val gotZ = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dirZ)
    assert(canon(gotZ) == canon(spark.createDataFrame(
      spark.sparkContext.parallelize(fixtureRows(12000), 1), schema)))
    val repZ = graft.ops.Fsck.fsck(spark, dirZ).collect()
    assert(repZ.forall(_.getAs[Int]("n_corrupt_blocks") == 0), repZ.mkString(","))
  }

  test("split invariance over dict files") {
    val dir = tmpDir()
    writeDf(20000, dir)
    val want = canon(readBack(dir))
    for (mpb <- Seq("8192", "65536", "1048576")) {
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
      try assert(canon(readBack(dir)) == want, s"mpb=$mpb")
      finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }
  test("sorted writes RLE-frame the clustered column's codes on disk") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    // sortBy the low-cardinality column: its code stream per block is a
    // handful of runs -> the writer must pick the RLE framing (bit 7),
    // while an uncorrelated dict column (qty) stays plain-coded
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(fixtureRows(30000), 1), schema).coalesce(1)
      .sortWithinPartitions("flag", "id")
    df.write.format("4mc").option("payload", "csv")
      .option("blockBytes", (64 * 1024).toString).save(dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".4mc")).head
    val in = graft.format.McInput.local(part.toPath)
    try {
      val idx = graft.format.FourMcReader.readIndex(in)
      val nCols = idx.stats.get.tags.length
      var rleFlag = 0; var plainQty = 0; var dictQty = 0
      for (b <- 0 until idx.numBlocks) {
        val dirBytes = new Array[Byte](ColumnarBlocks.dirLen(nCols))
        in.readFully(idx.blockOffsets(b) + graft.format.FourMc.BlockHeaderLen,
          dirBytes, 0, dirBytes.length)
        var stored = ColumnarBlocks.dirLen(nCols)
        for (c <- 0 until nCols) {
          val sLen = ((dirBytes(c*12)&0xff)<<24)|((dirBytes(c*12+1)&0xff)<<16)|((dirBytes(c*12+2)&0xff)<<8)|(dirBytes(c*12+3)&0xff)
          val uRaw = ((dirBytes(c*12+4)&0xff)<<24)|((dirBytes(c*12+5)&0xff)<<16)|((dirBytes(c*12+6)&0xff)<<8)|(dirBytes(c*12+7)&0xff)
          val uLen = uRaw & ~ColumnarBlocks.DictFlag
          if ((uRaw & ColumnarBlocks.DictFlag) != 0) {
            val data = new Array[Byte](sLen)
            in.readFully(idx.blockOffsets(b) + graft.format.FourMc.BlockHeaderLen + stored, data, 0, sLen)
            val raw = if (sLen == uLen) data
                      else graft.format.McCodec.decompress(idx.zstd, data, 0, sLen, uLen)
            val rle = (raw(0) & 0x80) != 0
            if (c == 1 && rle) rleFlag += 1
            if (c == 2) { dictQty += 1; if (!rle) plainQty += 1 }
          }
          stored += sLen
        }
      }
      assert(rleFlag > 0, "the sort-clustered flag column must RLE-frame its codes")
      assert(dictQty > 0 && plainQty == dictQty,
        s"uncorrelated qty codes must stay plain ($plainQty of $dictQty)")
    } finally in.close()
    // and the file reads back exactly, including fsck over the run framing
    val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    assert(back.count() == 30000L)
    assert(back.filter(col("flag") === "N|R").count() == fixtureRows(30000).count(_.getString(1) == "N|R"))
    val rep = graft.ops.Fsck.fsck(spark, dir).collect()
    assert(rep.forall(r => r.getBoolean(2) && r.getInt(4) == 0), rep.mkString(";"))
  }

  test("SwarScan.firstByteAtLeast equals the byte loop, incl. carry-hazard bytes") {
    val rng = new scala.util.Random(31)
    def naive(a: Array[Byte], from: Int, until: Int, limit: Int): Int = {
      var i = from
      while (i < until) { if ((a(i) & 0xff) >= limit) return i; i += 1 }
      -1
    }
    for (trial <- 0 until 2000) {
      val n = rng.nextInt(40)
      // bias toward the SWAR hazard classes: bytes just under/over the
      // limit, and >= 0x80 bytes whose lane addition carries
      val a = Array.fill[Byte](n)(rng.nextInt(4) match {
        case 0 => rng.nextInt(256).toByte
        case 1 => (0x80 + rng.nextInt(128)).toByte
        case 2 => rng.nextInt(64).toByte
        case _ => (60 + rng.nextInt(10)).toByte
      })
      val from = if (n == 0) 0 else rng.nextInt(n)
      val limit = 1 + rng.nextInt(127)
      assert(
        graft.sources.SwarScan.firstByteAtLeast(a, from, n, limit) == naive(a, from, n, limit),
        s"trial $trial limit $limit from $from: ${a.mkString(",")}")
    }
  }
}
