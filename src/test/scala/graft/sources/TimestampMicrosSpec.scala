package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** TIMESTAMP as a first-class typed column (round 14,
  * `timestampEncoding=micros`): raw int64 micros-since-epoch tokens instead
  * of pattern-formatted text — precision-exact round-trip (the text
  * encoding floor-truncates to the pattern's fraction digits), parsed by
  * the allocation-free long parser, same long-domain zone maps / pushed
  * ranges / footer MIN/MAX. Readers detect the encoding PER FILE from the
  * stats segment's tag bytes, so text and micros files mix in one
  * directory under one read schema.
  */
class TimestampMicrosSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("timestamp-micros")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc-tsm").toFile
    d.delete(); d.getAbsolutePath
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("tag", StringType, nullable = true)))

  /** Sub-millisecond precision everywhere — exactly what the default text
    * pattern (.SSS) cannot round-trip.
    */
  private def fixtureRows(n: Int): Seq[Row] = (0 until n).map { i =>
    val ts =
      if (i % 11 == 1) null
      else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        1500000000L + i * 977L, ((i * 104729) % 1000000) * 1000L))
    Row(i.toLong, ts, if (i % 7 == 2) null else s"t$i")
  }

  private def df(n: Int) =
    spark.createDataFrame(spark.sparkContext.parallelize(fixtureRows(n), 2), schema)

  private def canon(d: DataFrame): Seq[String] =
    d.collect().map(r => (0 until r.length).map(i =>
      Option(r.get(i)).map(_.toString).getOrElse("NULL")).mkString("|")).sorted.toSeq

  test("micros encoding round-trips sub-millisecond timestamps exactly; text truncates") {
    val src = df(4000)
    val want = canon(src)
    for (layout <- Seq("rows", "columnar")) {
      val dir = tmpDir()
      src.write.format("4mc").option("payload", "csv")
        .option("timestampEncoding", "micros").option("layout", layout)
        .option("codec", "zstd-1").save(dir)
      val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      assert(canon(back) == want, s"layout=$layout")
      // rows served from the same batches (no whole-stage codegen) agree
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try assert(canon(
        spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)) == want)
      finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
    // the text encoding at the default .SSS pattern is NOT micros-exact —
    // that asymmetry is what the micros tag exists to close
    val tdir = tmpDir()
    src.write.format("4mc").option("payload", "csv").save(tdir)
    val textBack = spark.read.format("4mc").option("payload", "csv").schema(schema).load(tdir)
    assert(canon(textBack) != want, "text .SSS should truncate sub-milli precision")
  }

  test("text and micros files mix in one directory under one read schema") {
    val dir = tmpDir()
    // millisecond-aligned values so the text half is lossless too
    def msRows(from: Int, until: Int): Seq[Row] = (from until until).map { i =>
      val ts =
        if (i % 11 == 1) null
        else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1500000000L + i * 977L, (i % 1000) * 1000000L))
      Row(i.toLong, ts, if (i % 7 == 2) null else s"t$i")
    }
    val a = spark.createDataFrame(spark.sparkContext.parallelize(msRows(0, 1000), 2), schema)
    val b = spark.createDataFrame(spark.sparkContext.parallelize(msRows(1000, 2000), 2), schema)
    a.write.format("4mc").option("payload", "csv").save(dir)
    b.write.mode("append").format("4mc").option("payload", "csv")
      .option("timestampEncoding", "micros").save(dir)
    val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    assert(canon(back) == canon(a.union(b)))
  }

  test("pushed ts ranges prune blocks on a micros-sorted file; footer MIN/MAX answers") {
    val n = 60000
    val rows = (0 until n).map { i =>
      Row(i.toLong, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        1600000000L + i * 60L, (i % 1000000) * 1000L)), s"r$i")
    }
    val dir = tmpDir()
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .sortWithinPartitions("ts").coalesce(1)
      .write.format("4mc").option("payload", "csv")
      .option("timestampEncoding", "micros")
      .option("blockBytes", (16 * 1024).toString).save(dir)
    val table = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + 59000L * 60L))
    val before = (FourMcScanMetrics.blocksRead.sum, FourMcScanMetrics.blocksSkipped.sum)
    val got = table.filter(col("ts") >= lit(lo)).agg(count(lit(1))).head().getLong(0)
    assert(got == rows.count(r => !r.getTimestamp(1).before(lo)).toLong)
    val read = FourMcScanMetrics.blocksRead.sum - before._1
    val skipped = FourMcScanMetrics.blocksSkipped.sum - before._2
    assert(skipped > read, s"ts-sorted micros file must prune (read=$read skipped=$skipped)")
    // footer MIN/MAX + filtered aggregate pushdown over the micros tag
    val before2 = FourMcScanMetrics.blocksRead.sum
    val mm = table.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"),
      count(col("ts")).as("n")).head()
    assert(mm.getTimestamp(0) == rows.head.getTimestamp(1))
    assert(mm.getTimestamp(1) == rows.last.getTimestamp(1))
    assert(mm.getLong(2) == n.toLong)
    assert(FourMcScanMetrics.blocksRead.sum == before2,
      "micros footer MIN/MAX must not decompress blocks")
  }

  test("option validation: micros needs csv + blockStats; bad values rejected") {
    val src = df(10)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val e1 = intercept[Throwable] {
      src.write.format("4mc").option("payload", "csv")
        .option("timestampEncoding", "nanos").save(tmpDir())
    }
    assert(messages(e1).exists(_.contains("timestampEncoding")))
    val e2 = intercept[Throwable] {
      src.write.format("4mc").option("payload", "csv")
        .option("timestampEncoding", "micros").option("blockStats", "false").save(tmpDir())
    }
    assert(messages(e2).exists(_.contains("blockStats")))
  }
}
