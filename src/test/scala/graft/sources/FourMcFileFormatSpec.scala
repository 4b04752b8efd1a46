package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class FourMcFileFormatSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("4mc-format-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** Runs `body` with whole-stage codegen off: Spark then plans every scan
    * without `Batched: true` and asks the reader for rows.
    */
  private def withoutWholeStage[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("write + read roundtrip preserves every line (lz4 and zstd)") {
    import spark.implicits._
    val lines = (0 until 20000).map(i => s"row-$i|payload-${i % 997}|${"x" * (i % 50)}")
    for (codec <- Seq("lz4-fast", "zstd-3")) {
      val dir = tmpDir()
      lines.toDF("value").repartition(3).write.format("4mc").option("codec", codec).save(dir)
      val back = spark.read.format("4mc").load(dir).as[String].collect()
      assert(back.length == lines.length, codec)
      assert(back.sorted.toSeq == lines.sorted, codec)
      // written files carry the right extension
      val exts = new java.io.File(dir).listFiles.map(_.getName).filter(_.startsWith("part-"))
      val wantExt = if (codec.startsWith("zstd")) ".4mz" else ".4mc"
      assert(exts.nonEmpty && exts.forall(_.endsWith(wantExt)), exts.mkString(","))
    }
  }

  test("split-invariance: tiny maxPartitionBytes yields many partitions, same rows") {
    import spark.implicits._
    val lines = (0 until 200000).map(i => s"$i,${scala.util.Random.nextInt(1000)},text-$i")
    val dir = tmpDir()
    lines.toDF("value").coalesce(1).write.format("4mc").option("codec", "lz4-fast").save(dir)

    val whole = spark.read.format("4mc").load(dir)
    assert(whole.rdd.getNumPartitions >= 1)
    val wholeRows = whole.as[String].collect().sorted

    // force many small splits — this is the 24-vs-1 parallelism headline
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val splitDf = spark.read.format("4mc").load(dir)
      assert(splitDf.rdd.getNumPartitions > 4, s"expected many partitions, got ${splitDf.rdd.getNumPartitions}")
      val splitRows = splitDf.as[String].collect().sorted
      assert(splitRows.toSeq == wholeRows.toSeq)
      assert(splitRows.length == lines.length)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("withOffsets exposes the block-offset key") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 1000).map(i => s"line-$i").toDF("value").coalesce(1)
      .write.format("4mc").save(dir)
    val df = spark.read.format("4mc").option("withOffsets", "true").load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("offset", "value"))
    val offs = df.select("offset").as[Long].collect()
    assert(offs.forall(_ >= 12L))
  }

  test("binary payload roundtrip") {
    import spark.implicits._
    val recs = (0 until 5000).map { i =>
      val a = new Array[Byte](i % 300 + 1); scala.util.Random.nextBytes(a); a
    }
    val dir = tmpDir()
    recs.toDF("value").repartition(2)
      .write.format("4mc").option("payload", "binary").option("codec", "zstd-1").save(dir)
    val back = spark.read.format("4mc").option("payload", "binary").load(dir)
      .as[Array[Byte]].collect()
    assert(back.length == recs.length)
    assert(back.map(_.toSeq).sorted(Ordering.Implicits.seqOrdering[Seq, Byte]).toSeq ==
      recs.map(_.toSeq).sorted(Ordering.Implicits.seqOrdering[Seq, Byte]))
  }

  test("text, binary and eb-proto scans count every block they decompress") {
    import spark.implicits._
    // about 10 MB in one file: blocks of the default size (4 MiB)
    val blobs = (0 until 2500).map(i => Array.fill[Byte](4000)(i.toByte))
    for ((payload, df) <- Seq("text" -> (0 until 2500).map(i => s"line $i " + "x" * 4000).toDF("value"),
        "binary" -> blobs.toDF("value"), "eb-proto" -> blobs.toDF("value"))) {
      val dir = tmpDir()
      df.coalesce(1).write.format("4mc").option("payload", payload).option("codec", "lz4-fast").save(dir)
      val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
      val in = graft.format.McInput.local(f.toPath)
      val blocks = try graft.format.FourMcReader.readIndex(in).numBlocks finally in.close()
      assert(blocks > 1, s"$payload: need a multi-block file, got $blocks")
      // one split: a split's reader also decompresses the block its last
      // record runs into, so several splits count some blocks twice
      val split = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
      val saved = split.map(k => k -> spark.conf.getOption(k))
      split.foreach(spark.conf.set(_, (1L << 30).toString))
      try {
        FourMcScanMetrics.reset()
        val n = spark.read.format("4mc").option("payload", payload).load(dir).select(length($"value")).collect().length
        assert(n == 2500, payload)
        assert(FourMcScanMetrics.blocksRead.sum() == blocks, s"$payload: blocks read of $blocks")
      } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("csv payload: typed reader parses only required columns") {
    import spark.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = tmpDir()
    li.select(concat_ws("|",
      $"l_orderkey", $"l_quantity", $"l_returnflag",
      date_format($"l_shipdate", "yyyy-MM-dd HH:mm:ss.SSS")).as("value"))
      .write.format("4mc").option("codec", "lz4-fast").save(dir)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_shipdate", TimestampType)))
    val typed = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    assert(typed.schema == schema)
    // projection: only 2 of 4 columns requested
    val got = typed.groupBy($"l_returnflag").agg(sum($"l_quantity").as("s")).orderBy("l_returnflag").collect()
    val want = li.groupBy($"l_returnflag").agg(sum($"l_quantity").as("s")).orderBy("l_returnflag").collect()
    assert(got.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      want.map(r => (r.getString(0), r.getDouble(1))).toSeq)
    // timestamps round-trip to the microsecond grid (compare as formatted
    // strings — parquet yields TIMESTAMP_NTZ, the csv reader TIMESTAMP)
    val f = "yyyy-MM-dd HH:mm:ss.SSS"
    val t = typed.agg(date_format(min($"l_shipdate"), f), date_format(max($"l_shipdate"), f)).head()
    val w = li.agg(date_format(min($"l_shipdate"), f), date_format(max($"l_shipdate"), f)).head()
    assert(t == w)
    assert(typed.count() == li.count())
  }

  test("csv payload typed WRITE + read: full lineitem table round-trips") {
    import spark.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = tmpDir()
    li.write.format("4mc").option("payload", "csv").option("codec", "zstd-3").save(dir)
    val back = spark.read.format("4mc").option("payload", "csv").schema(li.schema).load(dir)
    assert(back.count() == li.count())
    // full row-multiset equality, every column, as canonical strings
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(concat_ws("", df.columns.map(c => col(c).cast("string")).toIndexedSeq: _*))
        .as[String].collect().sorted.toSeq
    assert(canon(back) == canon(li))
  }

  test("byte-slice double/float parse is bit-identical to the String parsers") {
    val rnd = new scala.util.Random(7)
    val edge = Seq("0", "-0.0", "0.0", "3.14", "17290.19", "-0.04", "1.0E10", "-1.7E-9",
      "9007199254740993", "0.1234567890123456789", "123456789012345678901234",
      "2.2250738585072014E-308", "1.7976931348623157E308", "+4.25", "00012.5000",
      // the ONE shortest float repr (exhaustive 2^31 sweep, tools/FloatViaDouble)
      // where unguarded double→float narrowing double-rounds
      "7.038531E-26")
    val doubles = edge ++
      (0 until 20000).map(_ => (rnd.nextDouble() * math.pow(10, rnd.nextInt(20) - 10) *
        (if (rnd.nextBoolean()) -1 else 1)).toString) ++
      (0 until 5000).map(_ => (rnd.nextInt(2000000) / 100.0).toString) // lineitem-shaped
    for (s <- doubles) {
      val b = s.getBytes("UTF-8")
      assert(
        java.lang.Double.doubleToRawLongBits(CsvPayload.parseDouble(b, 0, b.length)) ==
          java.lang.Double.doubleToRawLongBits(java.lang.Double.parseDouble(s)),
        s"double mismatch for '$s'")
    }
    // raw-bit floats exercise the via-double fast path on exactly the token
    // class the writer emits (Float.toString shortest repr, ≤ 9 digits);
    // halfway-neighbor decimals probe the narrowExact double-rounding guard
    val rawBitFloats = (0 until 40000).flatMap { _ =>
      val f = java.lang.Float.intBitsToFloat(rnd.nextInt())
      if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f)) Nil
      else Seq(java.lang.Float.toString(f))
    }
    val halfwayProbes = (0 until 20000).flatMap { _ =>
      val f = math.abs(rnd.nextInt(2000000) / 100.0f) + 1.0f
      val h = (f.toDouble + Math.nextUp(f).toDouble) / 2
      val bd = new java.math.BigDecimal(h)
      Seq(6, 7, 8, 9).map(p =>
        bd.round(new java.math.MathContext(p)).toPlainString)
    }
    val floats = edge ++ rawBitFloats ++ halfwayProbes ++
      (0 until 20000).map(_ => (rnd.nextFloat() *
        math.pow(10, rnd.nextInt(12) - 6).toFloat * (if (rnd.nextBoolean()) -1 else 1)).toString)
    for (s <- floats) {
      val b = s.getBytes("UTF-8")
      assert(
        java.lang.Float.floatToRawIntBits(CsvPayload.parseFloat(b, 0, b.length)) ==
          java.lang.Float.floatToRawIntBits(java.lang.Float.parseFloat(s)),
        s"float mismatch for '$s'")
    }
  }

  test("stray non-container files in the directory are skipped, not fatal") {
    import spark.implicits._
    val dir = tmpDir()
    val lines = (0 until 2000).map(i => s"keep-$i")
    lines.toDF("value").coalesce(1).write.format("4mc").save(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "junk.txt"),
      "not a container\n".getBytes("UTF-8"))
    val back = spark.read.format("4mc").load(dir).as[String].collect()
    assert(back.sorted.toSeq == lines.sorted)
  }

  test("csv payload escaping: delimiters, newlines, nulls and empties round-trip") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val nasty = Seq(
      "plain", "", "with|pipe", "|leading", "trailing|", "||", "new\nline", "cr\rhere",
      "back\\slash", "\\", "\\N", "N", "\\\\N", "mix|\n\\|N\r\\N|", "unicode é✓|δ", "\n", "|"
    )
    val rng = new scala.util.Random(42)
    val alphabet = "ab|\\\nN\r é".toCharArray
    val fuzz = (0 until 500).map { _ =>
      val n = rng.nextInt(12)
      new String(Array.fill(n)(alphabet(rng.nextInt(alphabet.length))))
    }
    val rows: Seq[(java.lang.Long, String, String)] =
      (nasty ++ fuzz).zipWithIndex.map { case (s, i) => (java.lang.Long.valueOf(i.toLong), s, s.reverse) } ++
        Seq((java.lang.Long.valueOf(-1L), null, "after-null")) // null vs "" must be distinct
    val df = rows.toDF("id", "a", "b")
    val dir = tmpDir()
    df.write.format("4mc").option("payload", "csv").option("codec", "lz4-fast").save(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("a", StringType), StructField("b", StringType)))
    val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val want = rows.map(t => (t._1.longValue(), t._2, t._3)).sortBy(_._1)
    assert(back.length == want.length)
    back.zip(want).foreach { case (g, w) => assert(g == w, s"mismatch: got $g want $w") }
    // empty string came back as empty string, not null
    val empties = back.filter(_._2 != null).filter(_._2.isEmpty)
    assert(empties.nonEmpty)
    // null came back as null
    assert(back.find(_._1 == -1L).get._2 == null)
  }

  test("binary payload split-invariance under tiny maxPartitionBytes") {
    import spark.implicits._
    val recs = (0 until 30000).map { i =>
      val a = new Array[Byte](i % 200 + 8)
      a(0) = (i >> 8).toByte; a(1) = i.toByte
      scala.util.Random.nextBytes(a.drop(2)); a
    }
    val dir = tmpDir()
    recs.toDF("value").coalesce(1)
      .write.format("4mc").option("payload", "binary").option("codec", "lz4-fast").save(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val df = spark.read.format("4mc").option("payload", "binary").load(dir)
      assert(df.rdd.getNumPartitions > 4)
      assert(df.count() == recs.length)
      // every record present exactly once: compare id prefixes
      val ids = df.as[Array[Byte]].collect()
        .map(a => ((a(0) & 0xff) << 8) | (a(1) & 0xff)).sorted
      assert(ids.toSeq == (0 until 30000).map(i => i & 0xffff).sorted)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("count(*) with empty required schema still counts lines") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 12345).map(i => s"l$i").toDF("value").coalesce(1).write.format("4mc").save(dir)
    assert(spark.read.format("4mc").load(dir).count() == 12345)
  }

  test("directory behaviors: many files, nested dirs, glob filter") {
    import spark.implicits._
    val root = tmpDir()
    (0 until 500).map(i => s"a-$i").toDF("value").repartition(5)
      .write.format("4mc").save(s"$root/part1")
    (0 until 300).map(i => s"b-$i").toDF("value").repartition(3)
      .write.format("4mc").option("codec", "zstd-3").save(s"$root/part2")
    // recursive lookup across nested dirs, mixed lz4/zstd files in one scan
    val all = spark.read.format("4mc")
      .option("recursiveFileLookup", "true").load(root)
    assert(all.count() == 800)
    // glob filter restricts to 4mz
    val onlyZ = spark.read.format("4mc")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.4mz").load(root)
    assert(onlyZ.count() == 300)
  }

  test("corrupt file: loud failure by default, skipped with ignoreCorruptFiles") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 5000).map(i => s"line-$i").toDF("value").repartition(2)
      .write.format("4mc").save(dir)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).sortBy(_.getName)
    assert(files.length == 2)
    // flip a byte inside the first block payload of one file
    val bytes = java.nio.file.Files.readAllBytes(files(0).toPath)
    bytes(40) = (bytes(40) ^ 0x5a).toByte
    java.nio.file.Files.write(files(0).toPath, bytes)

    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("4mc").load(dir).count()
    }
    // on local FS Hadoop's CRC sidecar catches the flip before our xxhash32;
    // on HDFS/object stores our block checksum is the detector — either way
    // the failure names a checksum
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.toLowerCase.contains("checksum"), s"expected checksum failure in cause chain: ${chain.take(300)}")

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val n = spark.read.format("4mc").load(dir).count()
      assert(n > 0 && n < 5000, s"expected partial read, got $n") // good file still reads
    } finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
  }

  test("ignoreCorruptBlocks: a flipped bit costs one block's lines, not the job") {
    import spark.implicits._
    val rows = (0 until 50000).map(i => (i.toLong, "p" * 20))
    val lines = rows.map { case (i, p) => s"$i|$p" }
    val dir = tmpDir()
    rows.toDF("id", "pad").coalesce(1).write.format("4mc")
      .option("codec", "lz4-fast").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).save(dir)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
    val in = graft.format.McInput.local(f.toPath)
    val index = try graft.format.FourMcReader.readIndex(in) finally in.close()
    assert(index.numBlocks > 10, s"need a multi-block fixture, got ${index.numBlocks}")
    // flip a payload byte in a middle block -> checksum mismatch
    val victim = index.numBlocks / 2
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      raf.seek(index.blockOffsets(victim) + 12 + 5)
      val b = raf.read()
      raf.seek(index.blockOffsets(victim) + 12 + 5)
      raf.write(b ^ 0x40)
    } finally raf.close()

    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pad", org.apache.spark.sql.types.StringType)))
    def readBack(permissiveOpt: Boolean) = spark.read.format("4mc")
      .option("payload", "csv")
      .option("ignoreCorruptBlocks", permissiveOpt.toString)
      .schema(sch).load(dir)

    // strict read: loud failure (the reference's integrity contract) for any
    // DATA-reading query. A bare count() is now metadata-answered from the
    // stats segment (blocks untouched — same semantics as parquet's
    // row-group count, which doesn't verify data pages either), and when
    // GraftExtensions is on, sum(id) is likewise footer-answered
    // (McAggregatePushdown) — so the strict probe must MATERIALIZE column
    // values, which no metadata path can satisfy.
    val strictErr = intercept[org.apache.spark.SparkException] {
      readBack(false).select("id").collect()
    }
    assert(strictErr.getMessage != null)
    // ... and the metadata count itself still answers (footers are intact)
    assert(readBack(false).count() == lines.length)

    // permissive read: only the victim block's lines (plus at most the two
    // boundary-spanning lines) are lost, nothing duplicates
    FourMcScanMetrics.reset()
    val got = readBack(true).collect().map(r => s"${r.getLong(0)}|${r.getString(1)}")
    assert(FourMcScanMetrics.corruptSkipped.sum() == 1L,
      s"expected exactly one skipped block, got ${FourMcScanMetrics.corruptSkipped.sum()}")
    val orig = lines.toSet
    assert(got.forall(orig.contains), "permissive read must never fabricate lines")
    assert(got.length == got.toSet.size, "permissive read must never duplicate lines")
    val lineBytes = lines.map(_.length).min + 1
    val maxLost = 16 * 1024 / lineBytes + 2
    assert(got.length < lines.length, "the corrupt block's lines must be lost")
    assert(lines.length - got.length <= maxLost,
      s"lost ${lines.length - got.length} lines, bound was $maxLost")

    // split invariance holds in permissive mode too
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val split = readBack(true).collect().map(r => s"${r.getLong(0)}|${r.getString(1)}")
      assert(split.sorted.toSeq == got.sorted.toSeq,
        "permissive result must be identical under any split layout")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    // garbage block-header sizes (not just payload bits) also recover
    val raf2 = new java.io.RandomAccessFile(f, "rw")
    try {
      raf2.seek(index.blockOffsets(victim + 2))
      raf2.write(Array[Byte](0x7f, -1, -1, -1)) // absurd uncompressed size
    } finally raf2.close()
    FourMcScanMetrics.reset()
    val got2 = readBack(true).collect().map(r => s"${r.getLong(0)}|${r.getString(1)}")
    assert(FourMcScanMetrics.corruptSkipped.sum() == 2L)
    assert(got2.forall(orig.contains) && got2.length == got2.toSet.size)
    assert(lines.length - got2.length <= 2 * maxLost)
  }

  test("ignoreCorruptBlocks: binary payload drops whole corrupt blocks, framing intact") {
    import spark.implicits._
    // records carry their id in the first 4 bytes so survivors are provable
    val recs = (0 until 60000).map { i =>
      val a = new Array[Byte](250)
      a(0) = (i >> 24).toByte; a(1) = (i >> 16).toByte; a(2) = (i >> 8).toByte; a(3) = i.toByte
      a
    }
    val dir = tmpDir()
    recs.toDF("value").coalesce(1).write.format("4mc")
      .option("payload", "binary").option("codec", "lz4-fast").save(dir)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
    val in = graft.format.McInput.local(f.toPath)
    val index = try graft.format.FourMcReader.readIndex(in) finally in.close()
    assert(index.numBlocks >= 3, s"need a multi-block fixture, got ${index.numBlocks}")
    val victim = index.numBlocks / 2
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      raf.seek(index.blockOffsets(victim) + 12 + 9)
      val b = raf.read()
      raf.seek(index.blockOffsets(victim) + 12 + 9)
      raf.write(b ^ 0x01)
    } finally raf.close()

    intercept[org.apache.spark.SparkException] {
      spark.read.format("4mc").option("payload", "binary").load(dir).count()
    }
    FourMcScanMetrics.reset()
    def readIds(df: org.apache.spark.sql.DataFrame): Array[Int] =
      df.as[Array[Byte]].collect().map(a =>
        ((a(0) & 0xff) << 24) | ((a(1) & 0xff) << 16) | ((a(2) & 0xff) << 8) | (a(3) & 0xff))
    val got = readIds(spark.read.format("4mc").option("payload", "binary")
      .option("ignoreCorruptBlocks", "true").load(dir))
    assert(FourMcScanMetrics.corruptSkipped.sum() == 1L)
    assert(got.forall(i => i >= 0 && i < 60000))
    assert(got.length == got.distinct.length, "no record may duplicate")
    val lost = 60000 - got.length
    // records never span blocks: the loss is exactly one block's records
    val perBlockBound = (4 * 1024 * 1024) / 254 + 1
    assert(lost > 0 && lost <= perBlockBound, s"lost $lost records, bound $perBlockBound")
    // split invariance in permissive mode
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (256 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val split = readIds(spark.read.format("4mc").option("payload", "binary")
        .option("ignoreCorruptBlocks", "true").load(dir))
      assert(split.sorted.toSeq == got.sorted.toSeq)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("csv narrow projections: capped boundary scan matches full reads") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // Escaped delimiters/newlines in EVERY field so the capped scan and its
    // forward search for the last required field's extent must honor escapes;
    // trailing fields are never reached by the scan when pruned.
    val rng = new scala.util.Random(7)
    val alphabet = "ab|\\\nN\r é".toCharArray
    def s(): String = new String(Array.fill(rng.nextInt(10))(alphabet(rng.nextInt(alphabet.length))))
    val rows = (0 until 300).map(i => (i.toLong, s(), rng.nextDouble(), s(), s()))
    val df = rows.toDF("id", "a", "x", "b", "c")
    val dir = tmpDir()
    df.write.format("4mc").option("payload", "csv").option("codec", "lz4-fast").save(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("a", StringType), StructField("x", DoubleType),
      StructField("b", StringType), StructField("c", StringType)))
    val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    // middle column only: scan stops at field 1's end via forward search
    val gotA = back.select("a").as[String].collect().sorted.toSeq
    assert(gotA == rows.map(_._2).sorted.toSeq)
    // leading column only
    val gotId = back.select("id").as[Long].collect().sorted.toSeq
    assert(gotId == rows.map(_._1).sorted.toSeq)
    // two non-adjacent columns incl. a numeric
    val gotIdX = back.select("id", "x").collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(gotIdX == rows.map(t => (t._1, t._3)).sortBy(_._1).toSeq)
    // last column still correct (full scan path)
    val gotC = back.select("c").as[String].collect().sorted.toSeq
    assert(gotC == rows.map(_._5).sorted.toSeq)
    // count(*) with zero required columns
    assert(back.count() == rows.length)
  }

  test("csv pushed filters evaluate during parse: every type, nulls, equivalence") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val rows: Seq[(java.lang.Long, java.lang.Double, String, java.sql.Timestamp)] =
      (0 until 1000).map { i =>
        (
          java.lang.Long.valueOf(i.toLong),
          if (i % 7 == 0) null else java.lang.Double.valueOf(i * 1.5),
          if (i % 11 == 0) null else s"s${i % 13}|x", // escaped delimiter inside values
          java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 12:00:00")
        )
      }
    rows.toDF("id", "x", "s", "ts")
      .write.format("4mc").option("payload", "csv")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").option("codec", "lz4-fast").save(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("s", StringType), StructField("ts", TimestampType)))
    val back = spark.read.format("4mc").option("payload", "csv")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").schema(schema).load(dir)
    val ref = rows.toDF("id", "x", "s", "ts")
    def check(name: String, f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val got = f(back).collect().map(_.toSeq).toSet
      val want = f(ref).collect().map(_.toSeq).toSet
      assert(got == want, s"$name: ${got.size} vs ${want.size}")
    }
    check("long range", _.filter($"id" > 900))
    check("double lt null-skip", _.filter($"x" < 100.0))
    check("string eq escaped", _.filter($"s" === "s3|x"))
    check("string startswith", _.filter($"s".startsWith("s1")))
    check("isnull", _.filter($"x".isNull).select($"id"))
    check("isnotnull", _.filter($"s".isNotNull).select($"id"))
    check("in-set", _.filter($"id".isin(1L, 500L, 999L)))
    check("ts range", _.filter($"ts" >= java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
    check("conjunction", _.filter($"id" > 100 && $"x" < 600.0 && $"s".isNotNull))
  }

  test("compileFilters: sound predicates over parsed internal values") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType), StructField("c", DoubleType)))
    val tags = Array(CsvPayload.TagLong, CsvPayload.TagString, CsvPayload.TagDouble)
    val preds = CsvPayload.compileFilters(
      Seq(
        GreaterThan("a", java.lang.Long.valueOf(10L)),
        EqualTo("b", "hi"),
        And(IsNotNull("c"), LessThanOrEqual("c", java.lang.Double.valueOf(2.5))),
        EqualTo("missing", "ignored"), // column not in required schema: dropped
        Or(EqualTo("a", 1L), EqualTo("a", 2L)) // disjunction: left to Spark
      ),
      schema, tags)
    // long-domain comparison folds into the primitive range (no closures)
    assert(preds(0).hasRange && preds(0).rest.isEmpty)
    assert(preds(0).rangeOk(11L))
    assert(!preds(0).rangeOk(10L))
    assert(!preds(0).nullPasses) // null fails comparisons (3VL)
    // string equality stays a closure
    assert(!preds(1).hasRange && preds(1).rest.length == 1)
    assert(preds(1).rest.forall(_(UTF8String.fromString("hi"))))
    assert(!preds(1).rest.forall(_(UTF8String.fromString("ho"))))
    // doubles stay closures (NaN/-0.0 total-order subtleties)
    assert(!preds(2).hasRange && preds(2).rest.length == 2)
    assert(preds(2).rest.forall(_(java.lang.Double.valueOf(2.5))))
    assert(!preds(2).rest.forall(_(java.lang.Double.valueOf(2.6))))
    assert(!preds(2).nullPasses)
    // doubles and floats compare in Spark's SQL order: -0.0 equals 0.0, and
    // NaN equals NaN and sorts above every other value
    def passes(f: Filter, v: Double): Boolean =
      CsvPayload.compileFilters(Seq(f), schema, tags)(2).rest.forall(_(java.lang.Double.valueOf(v)))
    assert(passes(GreaterThanOrEqual("c", 0.0), -0.0))
    assert(passes(EqualTo("c", 0.0), -0.0) && passes(EqualTo("c", -0.0), 0.0))
    assert(!passes(LessThan("c", 0.0), -0.0) && !passes(GreaterThan("c", -0.0), 0.0))
    assert(passes(EqualTo("c", Double.NaN), Double.NaN))
    assert(passes(GreaterThan("c", Double.PositiveInfinity), Double.NaN))
    val fSchema = StructType(Seq(StructField("f", FloatType)))
    def passesF(f: Filter, v: Float): Boolean =
      CsvPayload.compileFilters(Seq(f), fSchema, Array(CsvPayload.TagFloat))(0)
        .rest.forall(_(java.lang.Float.valueOf(v)))
    assert(passesF(LessThanOrEqual("f", -0.0f), 0.0f) && !passesF(LessThan("f", 0.0f), -0.0f))
    assert(passesF(GreaterThan("f", Float.MaxValue), Float.NaN))
  }

  test("hive-partitioned 4mc dir: partition pruning eliminates non-matching files") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.select($"doc_id", $"n_chars", $"lang")
      .write.format("4mc").option("payload", "csv").partitionBy("lang").save(dir)
    // partition dirs exist per lang
    val langDirs = new java.io.File(dir).listFiles.filter(_.getName.startsWith("lang=")).map(_.getName)
    assert(langDirs.length > 1, langDirs.mkString(","))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_chars", LongType),
      StructField("lang", StringType)))
    val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    val one = back.filter($"lang" === "en")
    // pruning visible in the plan…
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"no partition filters:\n${scan.take(800)}")
    // …and in the files actually read
    val files = one.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("lang=en")), files.take(3).mkString(","))
    // values correct: per-lang totals match parquet
    val got = back.groupBy($"lang").agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val want = docs.groupBy($"lang").agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == want)
  }

  test("sql over 4mc lines: csv parse + aggregate") {
    import spark.implicits._
    val dir = tmpDir()
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.select(concat_ws("|", $"l_orderkey", $"l_quantity", $"l_returnflag").as("value"))
      .write.format("4mc").option("codec", "zstd-3").save(dir)
    val back = spark.read.format("4mc").load(dir)
      .select(split($"value", "\\|").as("f"))
      .select($"f"(0).cast("long").as("okey"), $"f"(1).cast("double").as("qty"), $"f"(2).as("rf"))
    val got = back.groupBy("rf").agg(sum("qty").as("s")).orderBy("rf").collect()
    val want = li.groupBy($"l_returnflag".as("rf")).agg(sum("l_quantity").as("s")).orderBy("rf").collect()
    assert(got.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      want.map(r => (r.getString(0), r.getDouble(1))).toSeq)
  }

  test("vectorized scan: plans are Batched, results equal the row reader exactly") {
    import spark.implicits._
    val dir = tmpDir()
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.write.format("4mc").option("payload", "csv").save(dir)
    val schema = li.schema
    def scan = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    // plan pinned: the scan node reports Batched: true and ColumnarToRow
    val plan = scan.filter($"l_quantity" > 25).queryExecution.executedPlan.toString
    assert(plan.contains("Batched: true"), s"scan must be columnar:\n${plan.take(800)}")
    assert(plan.contains("ColumnarToRow"), s"planner must insert ColumnarToRow:\n${plan.take(800)}")
    // the parquet source's answer, batched and served as rows, including
    // pushed filters and projections
    val q = (df: org.apache.spark.sql.DataFrame) =>
      df.filter($"l_quantity" > 25 && $"l_returnflag" === "R")
        .groupBy($"l_linestatus")
        .agg(count(lit(1)).as("n"), sum($"l_extendedprice".cast("decimal(18,2)")).as("s"))
        .orderBy($"l_linestatus")
    val want = q(li).collect().map(_.toString).toSeq
    assert(q(scan).collect().map(_.toString).toSeq == want)
    withoutWholeStage {
      val rowPlan = q(scan).queryExecution.executedPlan.toString
      assert(!rowPlan.contains("Batched: true"), s"rows were asked for:\n${rowPlan.take(800)}")
      assert(q(scan).collect().map(_.toString).toSeq == want)
    }
    // null handling: the \\N marker and empty trailing fields decode the same
    val dir2 = tmpDir()
    val src2 = Seq((1L, Some("a"), Some(1.5)), (2L, None, None), (3L, Some(""), Some(0.0)))
      .toDF("k", "s", "v")
    src2.write.format("4mc").option("payload", "csv").save(dir2)
    import org.apache.spark.sql.types._
    val sch2 = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    def read2 = spark.read.format("4mc").option("payload", "csv").schema(sch2).load(dir2)
      .orderBy("k").collect().map(_.toString).toSeq
    val want2 = src2.orderBy("k").collect().map(_.toString).toSeq
    assert(read2 == want2)
    withoutWholeStage(assert(read2 == want2))
  }

  test("metadata-only COUNT(*): answered from stats, exact under any split layout") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val rows = 57123
    (0 until rows).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("k", "s", "v")
      .repartition(3).write.format("4mc").option("payload", "csv").save(dir)
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    def scan = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    val m = graft.sources.FourMcScanMetrics
    m.reset()
    assert(scan.count() == rows)
    assert(m.metadataCountRows.sum() == rows,
      s"count(*) must be metadata-answered: ${m.metadataCountRows.sum()}")
    // tiny splits: the per-split owned sums must still partition exactly
    spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
    try {
      m.reset()
      assert(scan.count() == rows)
      assert(m.metadataCountRows.sum() == rows)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024 * 1024).toString)
    // rows served from the same batches share the fast path
    withoutWholeStage {
      m.reset()
      assert(scan.count() == rows)
      assert(m.metadataCountRows.sum() == rows)
    }
    // a pushed filter disables it (rows must be parsed); count stays right
    m.reset()
    assert(scan.filter($"k" < 1000).count() == 1000)
    assert(m.metadataCountRows.sum() == 0L)
    // stats disabled -> fallback
    m.reset()
    assert(spark.read.format("4mc").option("payload", "csv").option("blockStats", "false")
      .schema(schema).load(dir).count() == rows)
    assert(m.metadataCountRows.sum() == 0L)
    // hive-partitioned: per-partition counts ride constant vectors
    val pdir = tmpDir()
    (0 until 5000).map(i => (i.toLong, s"p${i % 3}")).toDF("k", "part")
      .write.format("4mc").option("payload", "csv").partitionBy("part").save(pdir)
    val pschema = StructType(Seq(StructField("k", LongType)))
    m.reset()
    val got = spark.read.format("4mc").option("payload", "csv").schema(pschema).load(pdir)
      .groupBy("part").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("p0" -> 1667L, "p1" -> 1667L, "p2" -> 1666L), got.toString)
    assert(m.metadataCountRows.sum() == 5000L)
  }

  test("driver-side planning reads zero footer indexes (footers are task-side I/O)") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 5000).map(i => s"r$i").toDF("value")
      .repartition(40).write.format("4mc").save(dir)
    val before = graft.sources.FourMcScanMetrics.footerReads.sum()
    val df = spark.read.format("4mc").load(dir)
    val nParts = df.queryExecution.toRdd.partitions.length // listing + split planning, no job
    assert(nParts > 0)
    val during = graft.sources.FourMcScanMetrics.footerReads.sum() - before
    assert(during == 0L,
      s"planning a 40-file dir read $during footer indexes — footers must stay off the driver's critical path")
    // executing the scan DOES read them (once per file per executor)
    df.count()
    assert(graft.sources.FourMcScanMetrics.footerReads.sum() - before > 0L)
  }

  test("SQL DDL: CREATE TABLE USING 4mc, INSERT INTO appends, SHOW TABLES, DROP + re-create") {
    val tbl = "ddl_spec_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (k BIGINT, s STRING, v DOUBLE)
         |USING 4mc OPTIONS (payload 'csv', codec 'lz4-fast')""".stripMargin)
    assert(spark.sql("SHOW TABLES").collect().exists(_.getString(1) == tbl),
      "catalog must list the 4mc table")
    spark.sql(s"INSERT INTO $tbl VALUES (1, 'a|b', 1.5), (2, 'c', 2.5)")
    spark.sql(s"INSERT INTO $tbl VALUES (3, NULL, 3.5)") // append, not overwrite
    val rows = spark.sql(s"SELECT k, s, v FROM $tbl ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "a|b", 1.5), (2L, "c", 2.5), (3L, null, 3.5)))
    // managed-table location holds real 4mc files
    val loc = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
        .find(_.getString(0) == "Location").get.getString(1)))
    assert(loc.listFiles.exists(_.getName.endsWith(".4mc")), s"no .4mc files under $loc")
    // DROP removes data and catalog entry; re-create starts empty
    spark.sql(s"DROP TABLE $tbl")
    assert(!spark.sql("SHOW TABLES").collect().exists(_.getString(1) == tbl))
    assert(!loc.exists(), "DROP TABLE must delete managed-table files")
    spark.sql(
      s"""CREATE TABLE $tbl (k BIGINT, s STRING, v DOUBLE)
         |USING 4mc OPTIONS (payload 'csv', codec 'lz4-fast')""".stripMargin)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $tbl").collect().head.getLong(0) == 0L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("property: SWAR boundary scan equals the byte-wise reference on random buffers") {
    // scanBoundaries/fieldEnd skip plain bytes 8 at a time (SwarScan); pin
    // them against the one-byte-at-a-time reference over buffers dense in
    // delimiters, escapes (incl. trailing escape), and every alignment
    val rnd = new scala.util.Random(7)
    def ref(bytes: Array[Byte], delim: Byte, starts: Array[Int],
            neededFields: Int, totalFields: Int): Unit = {
      var f = 1
      starts(0) = 0
      var i = 0
      while (i < bytes.length && f < neededFields) {
        val b = bytes(i)
        if (b == CsvPayload.Esc) i += 2
        else {
          if (b == delim) { starts(f) = i + 1; f += 1 }
          i += 1
        }
      }
      val capped = f >= neededFields
      while (f <= math.min(neededFields, totalFields - 1)) {
        starts(f) = bytes.length + 1; f += 1
      }
      if (neededFields == totalFields) starts(totalFields) = bytes.length + 1
      // capped-scan sentinel: slot neededFields = 0 → fieldEnd lazy-scans
      // (to+1 stays the short-line truth; marks fill writes real values)
      else if (capped) starts(neededFields) = 0
    }
    def refEnd(bytes: Array[Byte], delim: Byte, s: Int): Int = {
      var j = s
      while (j < bytes.length) {
        if (bytes(j) == CsvPayload.Esc) j += 2
        else if (bytes(j) == delim) return j
        else j += 1
      }
      bytes.length
    }
    val alphabet = "ab|\\\\xy".getBytes("UTF-8") // heavy in special bytes
    for (trial <- 0 until 2000) {
      val len = rnd.nextInt(40) + (if (trial % 3 == 0) rnd.nextInt(200) else 0)
      val bytes = Array.fill(len)(alphabet(rnd.nextInt(alphabet.length)))
      val total = 1 + rnd.nextInt(8)
      val needed = 1 + rnd.nextInt(total)
      val got = new Array[Int](total + 1)
      val want = new Array[Int](total + 1)
      CsvPayload.scanBoundaries(bytes, '|'.toByte, got, 0, needed, total)
      ref(bytes, '|'.toByte, want, needed, total)
      assert(got.toSeq == want.toSeq,
        s"scan drift on ${new String(bytes, "UTF-8")} needed=$needed total=$total")
      // fieldEnd's lazy branch: last scanned field that isn't last in schema
      if (needed < total) {
        val s = math.min(got(needed - 1), bytes.length)
        val ge = CsvPayload.fieldEnd(bytes, '|'.toByte, got, 0, needed - 1, s, needed, total)
        assert(ge == refEnd(bytes, '|'.toByte, s),
          s"fieldEnd drift on ${new String(bytes, "UTF-8")} s=$s")
      }
    }
  }

  test("property: row and vectorized readers agree over randomized escapes and missing fields") {
    // Batches and the rows served from them both equal a plain-Scala model
    // of the payload grammar over adversarial lines: escaped delimiters,
    // escaped escapes, \N markers, empty fields, and MISSING trailing
    // fields (written through the raw writer, which a DataFrame round-trip
    // can never produce).
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(42)
    def strField(): String = {
      val n = rnd.nextInt(8)
      (0 until n).map { _ =>
        rnd.nextInt(6) match {
          case 0 => "\\|"   // escaped delimiter
          case 1 => "\\\\"  // escaped escape
          case 2 => "\\x"   // escape before ordinary byte
          case 3 => "x"
          case 4 => "yz"
          case _ => "q"
        }
      }.mkString
    }
    def numField(): String = rnd.nextInt(4) match {
      case 0 => ""                          // empty numeric = null
      case 1 => "\\N"                       // explicit null marker
      case _ => String.valueOf(rnd.nextInt(2000) - 1000)
    }
    def dblField(): String = rnd.nextInt(4) match {
      case 0 => ""
      case 1 => "\\N"
      case _ => String.valueOf((rnd.nextInt(2000) - 1000) / 8.0)
    }
    val lines = (0 until 500).map { _ =>
      val full = Seq(strField(), numField(), strField(), dblField(), strField())
      val m = 1 + rnd.nextInt(5) // keep a random prefix: missing trailing fields
      full.take(m).mkString("|")
    }
    val dir = tmpDir()
    new java.io.File(dir).mkdirs()
    val f = new java.io.File(dir, "part-0.4mc")
    val w = new graft.format.FourMcWriter(
      java.nio.file.Files.newOutputStream(f.toPath), graft.format.McCodec.Lz4Fast)
    val payload = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    w.write(payload, 0, payload.length)
    w.close()
    val sch = StructType(Seq(StructField("a", StringType), StructField("b", LongType),
      StructField("c", StringType), StructField("d", DoubleType), StructField("e", StringType)))
    def scan = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    val shapes: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      df => df,                                    // full schema
      df => df.select("b"),                        // single interior numeric
      df => df.select("a", "c"),                   // last scanned field != last schema field
      df => df.filter(col("d") > 0).select("a"),   // pushed filter on unprojected col
      df => df.filter(col("b").isNull).select("c", "e"))
    // the model: unescaped '|' splits fields, '\' takes the next byte
    // literally, `\N` is null, a missing field is null, an empty field is
    // "" for strings and null otherwise
    def model(line: String): org.apache.spark.sql.Row = {
      val fields = scala.collection.mutable.ArrayBuffer(new StringBuilder)
      var i = 0
      while (i < line.length) {
        val c = line(i)
        if (c == '\\' && i + 1 < line.length) { fields.last.append(c).append(line(i + 1)); i += 2 }
        else { if (c == '|') fields += new StringBuilder else fields.last.append(c); i += 1 }
      }
      def raw(k: Int): Option[String] =
        Option.when(k < fields.length)(fields(k).toString).filter(_ != "\\N")
      def str(k: Int): String = raw(k).map(_.replaceAll("\\\\(.)", "$1")).orNull
      def num(k: Int): Option[String] = raw(k).filter(_.nonEmpty)
      org.apache.spark.sql.Row(str(0), num(1).map(x => java.lang.Long.valueOf(x)).orNull, str(2),
        num(3).map(x => java.lang.Double.valueOf(x)).orNull, str(4))
    }
    val expected = spark.createDataFrame(
      spark.sparkContext.parallelize(lines.map(model), 1), sch)
    for ((q, qi) <- shapes.zipWithIndex) {
      val want = q(expected).collect().map(_.toString).sorted.toSeq
      assert(q(scan).collect().map(_.toString).sorted.toSeq == want, s"shape $qi: batches")
      withoutWholeStage {
        assert(q(scan).collect().map(_.toString).sorted.toSeq == want, s"shape $qi: rows")
      }
    }
  }

  test("metadata COUNT(*) emitter counts in Long: no truncation past Int.MaxValue") {
    // A single split of a highly compressible file can own >2^31 lines under
    // a pathological maxPartitionBytes; the fast-path emitter must not clamp
    // (Iterator.fill(Int) would return a silently wrong count).
    val n = Int.MaxValue.toLong + 3L
    val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(Array.empty)
    val it = FourMcVectorizedReader.countBatches(batch, n)
    var c = 0L
    while (it.hasNext) c += it.next().numRows()
    assert(c == n, s"emitted $c rows, expected $n")
    assert(FourMcVectorizedReader.countBatches(batch, 0L).isEmpty)
  }

  test("statsVersion option pins the stats segment for older read floors") {
    import spark.implicits._
    val df = (0 until 2000).map(i => (i.toLong, if (i % 3 == 0) "A" else "B")).toDF("id", "cat")
    def statsOf(dir: String): graft.format.McBlockStats = {
      val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head
      val in = graft.format.McInput.local(f.toPath)
      try graft.format.FourMcReader.readIndex(in).stats.get finally in.close()
    }
    // v2 (rows layout): dicts parse count-less — dict-agg pushdown refuses,
    // pruning and zone maps keep working; readable values identical
    val d2 = tmpDir()
    df.coalesce(1).write.format("4mc").option("payload", "csv")
      .option("layout", "rows").option("statsVersion", "2").save(d2)
    val s2 = statsOf(d2)
    assert(!s2.columnar)
    assert(s2.dictAt(1) != null && s2.dictCountsAt(1) == null)
    assert(s2.sumAt(0)) // v2 keeps sums
    // v3 (columnar allowed, count-less dicts)
    val d3 = tmpDir()
    df.coalesce(1).write.format("4mc").option("payload", "csv")
      .option("statsVersion", "3").save(d3)
    val s3 = statsOf(d3)
    assert(s3.columnar)
    assert(s3.dictAt(1) != null && s3.dictCountsAt(1) == null)
    // default stays v4 (dict counts present)
    val d4 = tmpDir()
    df.coalesce(1).write.format("4mc").option("payload", "csv").save(d4)
    assert(statsOf(d4).dictCountsAt(1) != null)
    // columnar + v2 is a contradiction (the layout byte IS v3): reject loudly
    val err = intercept[Exception] {
      df.write.format("4mc").option("payload", "csv")
        .option("layout", "columnar").option("statsVersion", "2").save(tmpDir())
    }
    assert(err.getMessage.contains("statsVersion"))
    // values identical across pinned versions
    val sch = df.schema
    for (d <- Seq(d2, d3, d4))
      assert(spark.read.format("4mc").option("payload", "csv").schema(sch)
        .load(d).as[(Long, String)].collect().sorted.toSeq ==
        (0 until 2000).map(i => (i.toLong, if (i % 3 == 0) "A" else "B")))
  }

  // ---- rows served from batches ------------------------------------------
  // Spark asks a file scan for rows, not batches, when whole-stage codegen
  // is off or the output has more than spark.sql.codegen.maxFields fields,
  // and passes those rows on as they are.

  private def sortedStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("rows served from batches: csv scan with a pushed filter, no whole-stage codegen") {
    import spark.implicits._
    val dir = tmpDir()
    val src = (0 until 20000).map(i => (i.toLong, s"s${i % 97}", i * 0.25)).toDF("k", "s", "v")
    src.write.format("4mc").option("payload", "csv").save(dir)
    def q = spark.read.format("4mc").option("payload", "csv").schema(src.schema).load(dir)
      .filter($"k" >= 15000L && $"s" === "s3").select("k", "v")
    val batchPlan = q.queryExecution.executedPlan.toString
    assert(batchPlan.contains("Batched: true"), batchPlan)
    assert(batchPlan.contains("GreaterThanOrEqual(k,15000)"), batchPlan)
    val batched = sortedStrings(q)
    assert(batched == sortedStrings(src.filter($"k" >= 15000L && $"s" === "s3").select("k", "v")))
    withoutWholeStage {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Batched: true"), plan)
      assert(plan.contains("GreaterThanOrEqual(k,15000)"), plan)
      assert(sortedStrings(q) == batched)
    }
  }

  test("rows served from batches: a 120-column csv scan (past spark.sql.codegen.maxFields)") {
    val dir = tmpDir()
    val src = spark.range(0, 3000, 1, 2).select((0 until 120).map(c => (col("id") * c).as(s"c$c")): _*)
    src.write.format("4mc").option("payload", "csv").save(dir)
    def scan = spark.read.format("4mc").option("payload", "csv").schema(src.schema).load(dir)
    val plan = scan.queryExecution.executedPlan.toString
    assert(!plan.contains("Batched: true"), plan.take(800))
    val rows = sortedStrings(scan)
    assert(rows == sortedStrings(src))
    // the batched answer: with room for 120 fields Spark asks for batches
    spark.conf.set("spark.sql.codegen.maxFields", "200")
    try {
      assert(scan.queryExecution.executedPlan.toString.contains("Batched: true"))
      assert(sortedStrings(scan) == rows)
    } finally spark.conf.unset("spark.sql.codegen.maxFields")
  }

  test("rows served from batches: text payload withOffsets, no whole-stage codegen") {
    import spark.implicits._
    val dir = tmpDir()
    val lines = (0 until 30000).map(i => s"line-$i")
    lines.toDF("value").repartition(2).write.format("4mc").save(dir)
    def scan = spark.read.format("4mc").option("withOffsets", "true").load(dir)
    val batched = sortedStrings(scan)
    assert(scan.select("value").as[String].collect().sorted.toSeq == lines.sorted)
    withoutWholeStage {
      val plan = scan.queryExecution.executedPlan.toString
      assert(!plan.contains("Batched: true"), plan)
      assert(sortedStrings(scan) == batched)
    }
  }

  test("rows served from batches are UnsafeRows: the scan feeds a shuffle, no whole-stage codegen") {
    import spark.implicits._
    val dir = tmpDir()
    val src = (0 until 20000).map(i => (i.toLong, s"g${i % 13}", i % 5)).toDF("k", "g", "n")
    src.write.format("4mc").option("payload", "csv").save(dir)
    // repartition puts the exchange straight over the scan: the shuffle
    // writer's UnsafeRowSerializer takes the scan's rows as they are
    def q(df: org.apache.spark.sql.DataFrame) =
      df.repartition(4, $"g").groupBy("g").agg(count(lit(1)).as("c"), sum("n").as("s"))
    def scan = spark.read.format("4mc").option("payload", "csv").schema(src.schema).load(dir)
    val batched = sortedStrings(q(scan))
    assert(batched == sortedStrings(q(src)))
    withoutWholeStage {
      val plan = q(scan).queryExecution.executedPlan.toString
      assert(!plan.contains("Batched: true"), plan)
      assert(plan.contains("Exchange hashpartitioning(g"), plan)
      assert(sortedStrings(q(scan)) == batched)
    }
  }

  test("a decimal(20,0) partition column plans batched and reads exactly") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val big = "12345678901234567890"
    (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
      .write.format("4mc").option("payload", "csv").save(s"$dir/p=$big")
    (1000 until 1500).map(i => (i.toLong, s"v$i")).toDF("k", "s")
      .write.format("4mc").option("payload", "csv").save(s"$dir/p=1")
    val sch = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    def scan = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    assert(scan.schema("p").dataType == DecimalType(20, 0))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("Batched: true"), plan)
    val want = ((0 until 1000).map(i => s"[$i,v$i,$big]") ++
      (1000 until 1500).map(i => s"[$i,v$i,1]")).sorted
    assert(sortedStrings(scan) == want)
    assert(scan.filter($"k" === 7L).head().getDecimal(2) == new java.math.BigDecimal(big))
    withoutWholeStage(assert(sortedStrings(scan) == want))
  }
}
