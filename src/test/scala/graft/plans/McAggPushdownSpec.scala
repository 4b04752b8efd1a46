package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FourMcScanMetrics

/** MIN/MAX/COUNT(*) aggregate pushdown from 4mc zone maps
  * ([[McAggregatePushdown]] + [[graft.sources.FourMcStatsFileFormat]]).
  */
class McAggPushdownSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // clear any prior suite's session so withExtensions applies (the rule
    // under test is injected at session construction) — MediaHeaderSpec's
    // pattern, suite-wide
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession
      .builder()
      .master("local[4]")
      .appName("mc-agg-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("mcagg").toFile
    d.delete()
    d.getAbsolutePath
  }

  import org.apache.spark.sql.types._
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("v", DoubleType), StructField("t", TimestampType)))

  private def writeSample(dir: String, stats: Boolean = true): Unit = {
    import spark.implicits._
    val df = (1 to 5000).map { i =>
      (i.toLong, s"str${i % 97}", i / 7.0,
        java.sql.Timestamp.valueOf(s"2024-01-0${1 + i % 9} 10:0${i % 6}:00"))
    }.toDF("k", "s", "v", "t")
    df.write.format("4mc").option("payload", "csv")
      .option("blockStats", stats.toString).mode("overwrite").save(dir)
  }

  private def scan(dir: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)

  private def theAgg(df: DataFrame): DataFrame =
    df.agg(min(col("k")).as("mn_k"), max(col("k")).as("mx_k"),
      min(col("s")).as("mn_s"), max(col("s")).as("mx_s"),
      min(col("v")).as("mn_v"), max(col("v")).as("mx_v"),
      min(col("t")).as("mn_t"), max(col("t")).as("mx_t"),
      count(lit(1)).as("n"))


  test("unfiltered min/max/count rewrites to the stats relation: zero blocks decompressed") {
    val dir = tmpDir()
    writeSample(dir)
    val q = theAgg(scan(dir))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"), s"expected stats relation in plan:\n${plan.take(1500)}")
    // ground truth from the unrewritten plan
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val (expect, offPlan) =
      try (theAgg(scan(dir)).collect().head, theAgg(scan(dir)).queryExecution.executedPlan.toString)
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(!offPlan.contains("4MC-STATS"), "conf off must keep the data scan")
    FourMcScanMetrics.reset()
    val got = q.collect().head
    assert(got == expect, s"pushdown answer $got != scan answer $expect")
    assert(FourMcScanMetrics.blocksRead.sum() == 0L,
      s"stats-only aggregate must decompress zero blocks, read ${FourMcScanMetrics.blocksRead.sum()}")
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L, "stats blocks must be counted")
    assert(FourMcScanMetrics.blocksSkipped.sum() == 0L, "an answered block is not a skipped one")
  }

  test("non-pushable filters / grouped / expression aggregates keep the normal scan") {
    val dir = tmpDir()
    writeSample(dir)
    // a STRING-column filter refuses (truncated bounds are out of scope)
    val strFiltered = scan(dir).filter(col("s") > "str5").agg(min(col("k")).as("mn"))
      .queryExecution.executedPlan.toString
    assert(!strFiltered.contains("4MC-STATS"))
    // an arithmetic predicate refuses (not a zone-map range shape)
    val exprFiltered = scan(dir).filter(col("k") % 2 === 0).agg(min(col("k")).as("mn"))
      .queryExecution.executedPlan.toString
    assert(!exprFiltered.contains("4MC-STATS"))
    // double EQUALITY refuses (-0.0/NaN total-order mismatch); ranges push
    val dblEq = scan(dir).filter(col("v") === 3.0).agg(min(col("k")).as("mn"))
      .queryExecution.executedPlan.toString
    assert(!dblEq.contains("4MC-STATS"))
    val grouped = scan(dir).groupBy(col("s")).agg(min(col("k")).as("mn")).queryExecution
      .executedPlan.toString
    assert(!grouped.contains("4MC-STATS"))
    val exprAgg = scan(dir).agg((min(col("k")) + max(col("k"))).as("span")).queryExecution
      .executedPlan.toString
    assert(!exprAgg.contains("4MC-STATS"))
    // avg over an INTEGRAL column refuses (Average accumulates a per-row
    // double sum our exact long block sums don't mirror bit-for-bit);
    // avg over double/float pushes — covered in the SUM/AVG tests below
    val avgAgg = scan(dir).agg(avg(col("k")).as("a"), min(col("k")).as("mn")).queryExecution
      .executedPlan.toString
    assert(!avgAgg.contains("4MC-STATS"))
    // bare COUNT(*) keeps the metadata-count reader fast path
    val cntOnly = scan(dir).agg(count(lit(1)).as("n")).queryExecution.executedPlan.toString
    assert(!cntOnly.contains("4MC-STATS"))
  }

  test("stats-less files fall back to per-line decode with identical answers") {
    val dir = tmpDir()
    writeSample(dir, stats = false)
    val q = theAgg(scan(dir))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"),
      "rule still fires; the READER degrades per file")
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try theAgg(scan(dir)).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(q.collect().head == expect)
    assert(FourMcScanMetrics.blocksRead.sum() > 0L, "stats-less files must be decoded")
  }

  test("inexact string bounds (>16-byte values) fall back per block, stay exact") {
    import spark.implicits._
    val dir = tmpDir()
    // every 'pad' value shares a long prefix longer than the 16-byte stats
    // truncation, so min/max bytes are INEXACT for the string column
    val df = (1 to 2000).map { i =>
      (i.toLong, "a-very-long-shared-prefix-" + "%05d".format(i % 317))
    }.toDF("k", "pad")
    df.write.format("4mc").option("payload", "csv").mode("overwrite").save(dir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("pad", StringType)))
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    val q = sc.agg(min(col("pad")).as("mn"), max(col("pad")).as("mx"), count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try sc.agg(min(col("pad")).as("mn"), max(col("pad")).as("mx"), count(lit(1)).as("n")).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(q.collect().head == expect)
    assert(FourMcScanMetrics.blocksRead.sum() > 0L,
      "inexact string bounds must force block decode")
    // mixing in the exact long column still answers k's bounds from stats
    // for blocks only when ALL requested bounds are exact — so this query
    // decodes, but a k-only aggregate reads nothing
    FourMcScanMetrics.reset()
    val kOnly = sc.agg(min(col("k")).as("mn"), max(col("k")).as("mx")).collect().head
    assert(kOnly.getLong(0) == 1L && kOnly.getLong(1) == 2000L)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L)
  }

  test("inexact string bounds WITH a complete dict answer exactly: zero blocks decompressed") {
    import spark.implicits._
    val dir = tmpDir()
    // 20 distinct 28-byte values: bounds truncate at 16 bytes (inexact),
    // but every block carries a complete dictionary — the r16 path answers
    // min/max from the extreme entries instead of decoding
    val df = (1 to 2000).map { i =>
      (i.toLong, "a-very-long-shared-prefix-" + "%02d".format(i % 20))
    }.toDF("k", "pad")
    df.write.format("4mc").option("payload", "csv").mode("overwrite").save(dir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("pad", StringType)))
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def q = sc.agg(min(col("pad")).as("mn"), max(col("pad")).as("mx"), count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try q.collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(q.collect().head == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L,
      "dict-covered inexact bounds must answer from the footer")
  }

  test("empty directory: count 0, null bounds") {
    val dir = tmpDir()
    new java.io.File(dir).mkdirs()
    val q = scan(dir).agg(min(col("k")).as("mn"), count(lit(1)).as("n")).collect().head
    assert(q.isNullAt(0) && q.getLong(1) == 0L)
  }

  private val partSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType), StructField("p", StringType)))

  private def writePartitioned(dir: String): Unit = {
    import spark.implicits._
    // s is null on every third row so COUNT(s) != COUNT(*)
    val df = (1 to 6000).map { i =>
      (i.toLong, if (i % 3 == 0) null else s"str${i % 97}", s"part${i % 4}")
    }.toDF("k", "s", "p")
    df.write.format("4mc").option("payload", "csv")
      .partitionBy("p").mode("overwrite").save(dir)
  }

  private def partScan(dir: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(partSchema).load(dir)

  test("group-by-partition-column min/max/count answers from stats: zero blocks decompressed") {
    val dir = tmpDir()
    writePartitioned(dir)
    def agg(df: DataFrame): DataFrame =
      df.groupBy(col("p")).agg(
        min(col("k")).as("mn"), max(col("k")).as("mx"),
        count(lit(1)).as("n"), count(col("s")).as("n_s")).orderBy(col("p"))
    val q = agg(partScan(dir))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"),
      s"expected stats relation:\n${q.queryExecution.executedPlan.toString.take(1500)}")
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(partScan(dir)).collect().toSeq
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(expect.exists(r => r.getLong(2) != r.getLong(3)),
      "fixture must have nulls so COUNT(col) differs from COUNT(*)")
    FourMcScanMetrics.reset()
    assert(q.collect().toSeq == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L,
      s"grouped stats aggregate must decompress zero blocks, read ${FourMcScanMetrics.blocksRead.sum()}")
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L)
  }

  test("partition-only filter keeps the rewrite and prunes partitions; data filter refuses") {
    val dir = tmpDir()
    writePartitioned(dir)
    // total stats blocks with no filter, for the pruning comparison
    FourMcScanMetrics.reset()
    partScan(dir).agg(min(col("k")).as("mn")).collect()
    val allBlocks = FourMcScanMetrics.statsAggBlocks.sum()
    def agg(df: DataFrame): DataFrame =
      df.filter(col("p") === "part1" || col("p") === "part2")
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"), count(col("s")).as("n_s"))
    val q = agg(partScan(dir))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(partScan(dir)).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(q.collect().head == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L)
    assert(FourMcScanMetrics.statsAggBlocks.sum() < allBlocks,
      s"partition pruning must shrink the stats sweep: ${FourMcScanMetrics.statsAggBlocks.sum()} vs $allBlocks")
    // a mixed partition + long-range DATA filter keeps the rewrite (the
    // data conjunct pushes into the stats relation) and stays exact
    def mixedAgg(df: DataFrame): DataFrame =
      df.filter(col("p") === "part1" && col("k") > 10)
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"), count(lit(1)).as("n"))
    val mixed = mixedAgg(partScan(dir))
    assert(mixed.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val mixedExpect =
      try mixedAgg(partScan(dir)).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(mixed.collect().head == mixedExpect)
    // grouping by a DATA column refuses even with count(col)
    val dataGrouped = partScan(dir).groupBy(col("s"))
      .agg(count(col("k")).as("n")).queryExecution.executedPlan.toString
    assert(!dataGrouped.contains("4MC-STATS"))
  }

  test("data-column-filtered min/max/count pushes down: inside blocks stay stats-only, " +
    "outside blocks are skipped, straddlers decode") {
    import spark.implicits._
    val dir = tmpDir()
    // k-sorted single writer with small blocks → disjoint per-block k zones
    (1 to 40000).map(i => (i.toLong, s"s${i % 13}", i / 3.0)).toDF("k", "s", "v")
      .coalesce(1).sortWithinPartitions("k")
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(dir)
    val sch = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType), StructField("v", DoubleType)))
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def agg(df: DataFrame): DataFrame =
      df.filter(col("k") >= 30000L)
        .agg(min(col("k")).as("mn"), max(col("v")).as("mx_v"),
          count(col("s")).as("n_s"), count(lit(1)).as("n"))
    val q = agg(sc)
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"),
      s"filtered aggregate must rewrite:\n${q.queryExecution.executedPlan.toString.take(1200)}")
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(sc).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(expect.getLong(0) == 30000L && expect.getLong(3) == 10001L)
    FourMcScanMetrics.reset()
    assert(q.collect().head == expect)
    val statsB = FourMcScanMetrics.statsAggBlocks.sum()
    val skipped = FourMcScanMetrics.blocksSkipped.sum()
    val read = FourMcScanMetrics.blocksRead.sum()
    // sorted layout: most matching blocks are wholly inside (stats rows),
    // most non-matching are wholly outside (skipped), ≤ a few straddle
    assert(statsB > 0, "wholly-inside blocks must answer from stats")
    assert(skipped > 0, "wholly-outside blocks must be skipped")
    assert(read <= 2, s"only straddling blocks may decode, read $read")
    assert(skipped > statsB, "the 75% non-matching range must dominate the skip count")
    // a COUNT(*)-only filtered aggregate also pushes (the metadata-count
    // fast path requires no filters, so the stats route is the win here)
    val cntQ = sc.filter(col("k") >= 30000L).agg(count(lit(1)).as("n"))
    assert(cntQ.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    assert(cntQ.collect().head.getLong(0) == 10001L)
  }

  test("filtered pushdown null semantics: rows with null filter values are excluded") {
    import spark.implicits._
    val dir = tmpDir()
    // v null every 4th row; filter v >= 0 excludes exactly the nulls
    (1 to 8000).map { i =>
      (i.toLong, if (i % 4 == 0) (null: java.lang.Double) else java.lang.Double.valueOf(i / 2.0))
    }.toDF("k", "v")
      .coalesce(1).write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(dir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def agg(df: DataFrame): DataFrame =
      df.filter(col("v") >= 0.0).agg(min(col("k")).as("mn"), count(lit(1)).as("n"))
    val q = agg(sc)
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(sc).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(expect.getLong(1) == 6000L, "nulls must not pass the filter")
    assert(q.collect().head == expect)
  }

  test("global COUNT(col) uses per-block null counts: zero blocks decompressed") {
    val dir = tmpDir()
    writePartitioned(dir)
    def agg(df: DataFrame): DataFrame =
      df.agg(count(col("s")).as("n_s"), count(lit(1)).as("n"))
    val q = agg(partScan(dir))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(partScan(dir)).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(expect.getLong(0) == 4000L && expect.getLong(1) == 6000L)
    FourMcScanMetrics.reset()
    assert(q.collect().head == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L)
  }

  // ---- SUM pushdown (v2 per-block sums) -----------------------------------

  import org.apache.spark.sql.types.{DoubleType => SqlDouble, IntegerType => SqlInt}

  private val sumSchema = StructType(Seq(
    StructField("k", LongType), StructField("i", SqlInt),
    StructField("v", SqlDouble), StructField("s", StringType)))

  /** k long (null every 5th), i int, v double (integer-valued, null every
    * 7th), s string — nulls prove SUM skips them like a plain scan does.
    */
  private def writeSumSample(dir: String): Unit = {
    import spark.implicits._
    val df = (1 to 9000).map { j =>
      (if (j % 5 == 0) (null: java.lang.Long) else java.lang.Long.valueOf(j.toLong),
        j % 1000, if (j % 7 == 0) (null: java.lang.Double) else java.lang.Double.valueOf((j % 300).toDouble),
        s"s${j % 11}")
    }.toDF("k", "i", "v", "s")
    df.coalesce(1).write.format("4mc").option("payload", "csv")
      .option("blockBytes", (32 * 1024).toString).mode("overwrite").save(dir)
  }

  private def sumScan(dir: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(sumSchema).load(dir)

  test("global SUM(long/int/double) answers from v2 block sums: zero blocks decompressed") {
    val dir = tmpDir()
    writeSumSample(dir)
    def agg(df: DataFrame): DataFrame =
      df.agg(sum(col("k")).as("sk"), sum(col("i")).as("si"), sum(col("v")).as("sv"),
        min(col("k")).as("mn"), count(col("v")).as("nv"), count(lit(1)).as("n"))
    val q = agg(sumScan(dir))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"),
      s"SUM must rewrite:\n${q.queryExecution.executedPlan.toString.take(1200)}")
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(sumScan(dir)).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    FourMcScanMetrics.reset()
    val got = q.collect().head
    assert(got == expect, s"pushdown $got != scan $expect")
    assert(FourMcScanMetrics.blocksRead.sum() == 0L,
      s"sum-from-stats must decompress zero blocks, read ${FourMcScanMetrics.blocksRead.sum()}")
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L)
    // SUM over a string column refuses the rewrite
    val strSum = sumScan(dir).agg(sum(col("s")).as("x")).queryExecution.executedPlan.toString
    assert(!strSum.contains("4MC-STATS"))
  }

  test("AVG(double) decomposes to Sum/Count over block partials: zero blocks decompressed") {
    val dir = tmpDir()
    writeSumSample(dir)
    def agg(df: DataFrame): DataFrame =
      df.agg(avg(col("v")).as("av"), sum(col("v")).as("sv"), count(col("v")).as("nv"))
    val q = agg(sumScan(dir))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"),
      s"AVG must rewrite:\n${q.queryExecution.executedPlan.toString.take(1200)}")
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(sumScan(dir)).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    FourMcScanMetrics.reset()
    val got = q.collect().head
    assert(got == expect, s"pushdown $got != scan $expect")
    assert(FourMcScanMetrics.blocksRead.sum() == 0L)
    // integral AVG refuses
    val intAvg = sumScan(dir).agg(avg(col("k")).as("a")).queryExecution.executedPlan.toString
    assert(!intAvg.contains("4MC-STATS"))
  }

  test("filtered SUM: inside blocks from stats, straddlers decode, stays exact") {
    import spark.implicits._
    def write(ks: Range, dir: String, opts: (String, String)*): Unit =
      ks.map(i => (i.toLong, i / 3.0)).toDF("k", "v")
        .coalesce(1).sortWithinPartitions("k")
        .write.format("4mc").option("payload", "csv").options(opts.toMap).mode("append").save(dir)
    // both layouts at 16 KiB blocks
    val small = Seq("columnar", "rows").map { layout =>
      val dir = tmpDir()
      write(1 to 40000, dir, "layout" -> layout, "blockBytes" -> (16 * 1024).toString)
      dir
    }
    // one file per block: refuted, wholly inside, and a straddler of 14 501
    // rows whose first 4 096-row batch passes the filter and whose rows
    // from 35 000 on fail it, so a reader that stops evaluating the filter
    // after a batch that refuses nothing must still drop them
    val wide = tmpDir()
    Seq(1 to 29999, 30000 to 30499, 30500 to 45000).foreach(write(_, wide))
    for (dir <- small :+ wide) {
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", SqlDouble)))
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def agg(df: DataFrame): DataFrame =
      df.filter(col("k") >= 30000L && col("k") < 35000L)
        .agg(sum(col("k")).as("sk"), count(lit(1)).as("n"))
    val q = agg(sc)
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(sc).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(expect.getLong(0) == (30000L to 34999L).sum && expect.getLong(1) == 5000L)
    FourMcScanMetrics.reset()
    assert(q.collect().head == expect)
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0, "wholly-inside blocks answer from sums")
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0)
    // two range edges × up to two blocks each under the offset-0 ownership rule
    assert(FourMcScanMetrics.blocksRead.sum() <= 4,
      s"only straddlers decode, read ${FourMcScanMetrics.blocksRead.sum()}")
    }
  }

  test("grouped-by-partition SUM answers from stats") {
    val dir = tmpDir()
    writePartitioned(dir)
    def agg(df: DataFrame): DataFrame =
      df.groupBy(col("p")).agg(sum(col("k")).as("sk"), count(lit(1)).as("n")).orderBy(col("p"))
    val q = agg(partScan(dir))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(partScan(dir)).collect().toSeq
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(q.collect().toSeq == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L)
  }

  test("NaN values poison bounds but SUM stays stats-only (NaN propagates)") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 3000).map { i =>
      (i.toLong, if (i == 1700) Double.NaN else i / 2.0)
    }.toDF("k", "v").coalesce(1).write.format("4mc").option("payload", "csv")
      .mode("overwrite").save(dir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", SqlDouble)))
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def agg(df: DataFrame): DataFrame = df.agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(sc).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(expect.getDouble(0).isNaN, "fixture must produce a NaN sum")
    FourMcScanMetrics.reset()
    val got = agg(sc).collect().head
    assert(got.getDouble(0).isNaN && got.getLong(1) == expect.getLong(1))
    assert(FourMcScanMetrics.blocksRead.sum() == 0L,
      "NaN poisons BOUNDS, not sums — the sum answers from stats")
  }

  test("equality-filtered aggregate over a bloomed unsorted key: bloom-refuted blocks skip") {
    import spark.implicits._
    val dir = tmpDir()
    val n = 300000L
    // permuted key: every block's zone spans the domain — only blooms refute
    spark.createDataFrame(
      spark.sparkContext.parallelize(0L until n, 1).map { i =>
        org.apache.spark.sql.Row((i * 2654435761L) % n, i / 2.0, "p" * 30)
      },
      StructType(Seq(StructField("k", LongType), StructField("v", SqlDouble),
        StructField("s", StringType))))
      .coalesce(1).write.format("4mc").option("payload", "csv")
      .option("bloomColumns", "k").mode("overwrite").save(dir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", SqlDouble),
      StructField("s", StringType)))
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def agg(df: DataFrame): DataFrame =
      df.filter(col("k") === 123123L)
        .agg(min(col("v")).as("mn"), sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
    val q = agg(sc)
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    val expect =
      try agg(sc).collect().head
      finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    assert(expect.getLong(2) == 1L, "permutation: exactly one row matches")
    FourMcScanMetrics.reset()
    assert(q.collect().head == expect)
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0,
      "bloom must refute blocks inside the stats relation's classification")
    assert(FourMcScanMetrics.blocksRead.sum() <= 2,
      s"only the key's block decodes, read ${FourMcScanMetrics.blocksRead.sum()}")
  }

  test("schema-mismatched stats segments (evolution/mixed writers) decode, never mis-index") {
    // lines carry THREE fields, but the attached stats segment was built for
    // a TWO-column schema (the shape schema evolution / a text-payload
    // rewrite of a csv dir leaves behind): the [block × col] arrays would
    // mis-index under the 3-column read schema, so the reader must treat
    // the segment as absent and decode per line
    val handWritten = tmpDir()
    new java.io.File(handWritten).mkdirs()
    val f = new java.io.File(handWritten, "part-0.4mc")
    val oldSchema = StructType(Seq(StructField("k", LongType), StructField("v", SqlDouble)))
    val builder = new graft.format.McStatsBuilder(oldSchema)
    val w = new graft.format.FourMcWriter(
      new java.io.FileOutputStream(f), graft.format.McCodec("lz4-fast"), blockBytes = 8 * 1024)
    w.statsProvider = n => builder.serialize(n)
    for (i <- 1 to 4000) {
      builder.startLine(w.blockCount, w.pendingBytes)
      builder.observeLong(0, i.toLong)
      builder.observeDouble(1, i / 4.0)
      w.write(s"$i|${i / 4.0}|tag${i % 7}\n".getBytes("UTF-8"))
    }
    w.close()
    // the same lines written by the engine in the rows layout with a fourth
    // column the read schema drops: a four-column segment under a
    // three-column read
    val dropped = tmpDir()
    locally {
      import spark.implicits._
      (1 to 4000).map(i => (i.toLong, i / 4.0, s"tag${i % 7}", i % 3)).toDF("k", "v", "t", "x")
        .coalesce(1).write.format("4mc").option("payload", "csv").option("layout", "rows")
        .option("blockBytes", (8 * 1024).toString).save(dropped)
    }
    val sch3 = StructType(Seq(StructField("k", LongType), StructField("v", SqlDouble),
      StructField("t", StringType)))
    for (dir <- Seq(handWritten, dropped)) {
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch3).load(dir)
    def agg(df: DataFrame): DataFrame =
      df.agg(min(col("k")).as("mn"), max(col("v")).as("mx"),
        count(col("t")).as("nt"), count(lit(1)).as("n"))
    val q = agg(sc)
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    FourMcScanMetrics.reset()
    val got = q.collect().head
    assert(got.getLong(0) == 1L && got.getDouble(1) == 1000.0 &&
      got.getLong(2) == 4000L && got.getLong(3) == 4000L)
    assert(FourMcScanMetrics.blocksRead.sum() > 0L,
      "mismatched stats must force per-line decode, never index the wrong arrays")
    }
  }

  test("v1 stats segments (no sums) decode per line and stay exact") {
    // hand-write a 4mc file whose stats segment is the v1 (sum-less) layout
    val dir = tmpDir()
    new java.io.File(dir).mkdirs()
    val f = new java.io.File(dir, "part-0.4mc")
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", SqlDouble)))
    val builder = new graft.format.McStatsBuilder(sch)
    val w = new graft.format.FourMcWriter(
      new java.io.FileOutputStream(f), graft.format.McCodec("lz4-fast"), blockBytes = 8 * 1024)
    w.statsProvider = n => builder.serialize(n, version = 1)
    var expectSumK = 0L
    var expectSumV = 0.0
    for (i <- 1 to 5000) {
      builder.startLine(w.blockCount, w.pendingBytes)
      builder.observeLong(0, i.toLong)
      builder.observeDouble(1, i / 4.0)
      expectSumK += i.toLong
      expectSumV += i / 4.0
      w.write(s"$i|${i / 4.0}\n".getBytes("UTF-8"))
    }
    w.close()
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def agg(df: DataFrame): DataFrame = df.agg(sum(col("k")).as("sk"), min(col("k")).as("mn"))
    val q = agg(sc)
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"),
      "rule still fires; the READER decodes sum-less blocks")
    FourMcScanMetrics.reset()
    val got = q.collect().head
    assert(got.getLong(0) == expectSumK && got.getLong(1) == 1L)
    assert(FourMcScanMetrics.blocksRead.sum() > 0L, "v1 segments must force decode for SUM")
    // …but a min/max-only aggregate still answers from the v1 bounds
    FourMcScanMetrics.reset()
    val mm = sc.agg(min(col("k")).as("mn"), max(col("k")).as("mx")).collect().head
    assert(mm.getLong(0) == 1L && mm.getLong(1) == 5000L)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L, "v1 bounds stay usable without decode")
  }

  test("SUM(decimal) answers from unscaled block sums: zero blocks decompressed, ANSI + LEGACY") {
    val dir = tmpDir()
    val dSchema = StructType(Seq(
      StructField("k", LongType),
      StructField("m", DecimalType(12, 2)),
      StructField("m0", DecimalType(7, 0))))
    val rows = (1 to 5000).map { i =>
      org.apache.spark.sql.Row(
        i.toLong,
        if (i % 13 == 2) null else java.math.BigDecimal.valueOf(i.toLong * 104729L - 5000000L, 2),
        if (i % 17 == 3) null else java.math.BigDecimal.valueOf(i.toLong * 31L - 80000L, 0))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), dSchema).coalesce(1)
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(dir)
    def sc = spark.read.format("4mc").option("payload", "csv").schema(dSchema).load(dir)
    def agg(df: DataFrame): DataFrame =
      df.agg(sum(col("m")).as("sm"), sum(col("m0")).as("s0"),
        count(col("m")).as("nm"), count(lit(1)).as("n"))
    for (ansi <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val q = agg(sc)
        assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"),
          s"ansi=$ansi: SUM(decimal) must rewrite:\n" +
            q.queryExecution.executedPlan.toString.take(1200))
        // result type must be untouched by the rewrite: DecimalType(p+10, s)
        assert(q.schema("sm").dataType == DecimalType(22, 2))
        assert(q.schema("s0").dataType == DecimalType(17, 0))
        spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
        val expect =
          try agg(sc).collect().head
          finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
        FourMcScanMetrics.reset()
        val got = q.collect().head
        assert(got == expect, s"ansi=$ansi: pushdown $got != scan $expect")
        assert(FourMcScanMetrics.blocksRead.sum() == 0L,
          s"ansi=$ansi: decimal sum-from-stats must decompress zero blocks")
        assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L)
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  // ---- dict-group mode (r16): GROUP BY / COUNT(DISTINCT) over v4 dict
  // histograms ----

  private val gSchema = StructType(Seq(
    StructField("k", LongType), StructField("g", StringType),
    StructField("v", DoubleType)))

  private def writeGrouped(dir: String): Unit = {
    import spark.implicits._
    val df = (1 to 5000).map { i =>
      (i.toLong, if (i % 11 == 0) null else s"g${i % 5}", i / 7.0)
    }.toDF("k", "g", "v")
    df.repartition(1).write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(dir)
  }

  private def gScan(dir: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(gSchema).load(dir)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("GROUP BY dict column answers from footer histograms: zero blocks decompressed") {
    val dir = tmpDir()
    writeGrouped(dir)
    def q(df: DataFrame): DataFrame =
      df.groupBy("g").agg(count(lit(1)).as("n"), count(col("g")).as("nn"),
        min(col("g")).as("mn"), max(col("g")).as("mx"))
    val plan = q(gScan(dir)).queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"), s"expected dict-group rewrite:\n${plan.take(1500)}")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val (expect, offPlan) =
      try (sortedRows(q(gScan(dir))), q(gScan(dir)).queryExecution.executedPlan.toString)
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    assert(!offPlan.contains("4MC-STATS"), "dict conf off must keep the data scan")
    FourMcScanMetrics.reset()
    assert(sortedRows(q(gScan(dir))) == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L,
      s"dict-covered group-by must decompress zero blocks, read ${FourMcScanMetrics.blocksRead.sum()}")
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L)
  }

  test("COUNT(DISTINCT dictcol) answers from entry tables: zero blocks decompressed") {
    val dir = tmpDir()
    writeGrouped(dir)
    def q(df: DataFrame): DataFrame =
      df.agg(countDistinct(col("g")).as("d"), count(lit(1)).as("n"))
    val plan = q(gScan(dir)).queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"), s"expected dict-group rewrite:\n${plan.take(1500)}")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expect =
      try q(gScan(dir)).collect().head
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(q(gScan(dir)).collect().head == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L)
  }

  test("partial dict coverage: covered blocks stay footer-only, over-cap blocks decode") {
    val dir = tmpDir()
    import spark.implicits._
    // write order: first ~80% of rows low-cardinality (dict per block), the
    // tail high-cardinality (dict abandoned per block) — small blocks give
    // several of each; the probe (first file, majority coverage) accepts
    val df = ((1 to 4000).map(i => (i.toLong, s"g${i % 5}")) ++
      (1 to 1000).map(i => (10000 + i.toLong, s"u$i"))) // > DictMaxEntries distinct
      .toDF("k", "g")
    df.coalesce(1).sortWithinPartitions("k")
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (8 * 1024).toString).mode("overwrite").save(dir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("g", StringType)))
    def scan2(): DataFrame =
      spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def q(df: DataFrame): DataFrame = df.groupBy("g").agg(count(lit(1)).as("n"))
    val plan = q(scan2()).queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"), s"majority coverage must rewrite:\n${plan.take(1500)}")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expect =
      try sortedRows(q(scan2()))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(sortedRows(q(scan2())) == expect)
    assert(FourMcScanMetrics.blocksRead.sum() > 0L, "over-cap blocks must decode")
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L, "covered blocks must stay footer-only")
  }

  test("dict group-by composes with partition columns and partition filters") {
    val dir = tmpDir()
    import spark.implicits._
    (1 to 6000).map { i =>
      (i.toLong, s"g${i % 4}", s"p${i % 3}")
    }.toDF("k", "g", "p")
      .write.format("4mc").option("payload", "csv")
      .partitionBy("p").mode("overwrite").save(dir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("g", StringType)))
    def scanP(): DataFrame =
      spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def q(df: DataFrame): DataFrame =
      df.filter(col("p") =!= "p2").groupBy(col("p"), col("g")).agg(count(lit(1)).as("n"))
    val plan = q(scanP()).queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"), s"partition+dict grouping must rewrite:\n${plan.take(1200)}")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expect =
      try sortedRows(q(scanP()))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(sortedRows(q(scanP())) == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L)
  }

  test("high-cardinality group column keeps the vectorized data scan (probe refuses)") {
    val dir = tmpDir()
    writeSample(dir) // s has 97 distinct values per block: no stats dict
    val q = scan(dir).groupBy("s").agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("4MC-STATS"),
      s"no dict coverage: the rewrite must refuse\n${plan.take(1500)}")
    assert(q.collect().length == 97)
  }

  test("dict group-by over a two-generation dir: absent-column rows land in the null group") {
    val dir = tmpDir()
    import spark.implicits._
    // generation 1 lacks the group column entirely (positional evolution)
    (1 to 2000).map(i => i.toLong).toDF("k")
      .coalesce(1).write.format("4mc").option("payload", "csv")
      .mode("overwrite").save(dir)
    (1 to 3000).map(i => (2000L + i, s"g${i % 3}")).toDF("k", "g")
      .coalesce(1).write.format("4mc").option("payload", "csv")
      .mode("append").save(dir)
    def q(df: DataFrame): DataFrame = df.groupBy("g").agg(count(lit(1)).as("n"))
    def scan2(): DataFrame =
      spark.read.format("4mc").option("payload", "csv").schema(StructType(gSchema.fields.take(2))).load(dir)
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expect =
      try sortedRows(q(scan2()))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    // whether or not the probe (first file by listing order) admits the
    // rewrite, values must match: old-generation rows read g as NULL and
    // belong to the null group either way
    assert(sortedRows(q(scan2())) == expect)
    val nullGroup = q(scan2()).filter(col("g").isNull).collect()
    assert(nullGroup.length == 1 && nullGroup.head.getLong(1) == 2000L,
      s"gen-1 rows must form the null group: ${nullGroup.mkString}")
  }

  test("dict-group composes with zone-compilable data filters; refuses the rest") {
    val dir = tmpDir()
    writeGrouped(dir)
    // r17: a range conjunct on a non-string data column COMPOSES — pushed
    // into the stats relation, which classifies blocks all-pass /
    // none-pass / straddling
    val f = gScan(dir).filter(col("k") > 100L).groupBy("g").agg(count(lit(1)).as("n"))
    assert(f.queryExecution.executedPlan.toString.contains("4MC-STATS"),
      "zone-compilable data filter must compose with the dict-group rewrite")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expectF =
      try sortedRows(gScan(dir).filter(col("k") > 100L).groupBy("g").agg(count(lit(1)).as("n")))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    assert(sortedRows(f) == expectF)
    assert(f.collect().map(_.getLong(1)).sum == 4900L) // rows 101..5000, null group included
    // a STRING data conjunct doesn't compile to a zone predicate: refuse
    val s = gScan(dir).filter(col("g") > "g1").groupBy("g").agg(count(lit(1)).as("n"))
    assert(!s.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    // aggregate over a non-group column: keep the normal scan
    val m = gScan(dir).groupBy("g").agg(max(col("k")).as("mx"))
    assert(!m.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    assert(m.collect().length == 6)
  }

  test("dict-group + range filter on a sorted table: all-pass span stays footer-only") {
    val dir = tmpDir()
    import spark.implicits._
    // k written ASCENDING in one file with small blocks: a k >= threshold
    // filter splits blocks into none-pass (skipped), ONE straddler
    // (decoded), and an all-pass span (footer histograms)
    (1 to 5000).map { i =>
      (i.toLong, if (i % 11 == 0) null else s"g${i % 5}", i / 7.0)
    }.toDF("k", "g", "v")
      .coalesce(1).sortWithinPartitions("k")
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(dir)
    def q(df: DataFrame): DataFrame =
      df.filter(col("k") >= 2000L && col("k") < 4600L)
        .groupBy("g").agg(count(lit(1)).as("n"), count(col("g")).as("nn"))
    val plan = q(gScan(dir)).queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"), s"expected composed rewrite:\n${plan.take(1500)}")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expect =
      try sortedRows(q(gScan(dir)))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(sortedRows(q(gScan(dir))) == expect)
    val read = FourMcScanMetrics.blocksRead.sum()
    val statsB = FourMcScanMetrics.statsAggBlocks.sum()
    val skipped = FourMcScanMetrics.blocksSkipped.sum()
    assert(statsB > 0L, "the all-pass span must answer from footer histograms")
    assert(skipped > 0L, "blocks wholly below/above the range must be skipped")
    assert(read <= 2L, s"only the straddling block(s) may decode, read $read " +
      s"(stats=$statsB skipped=$skipped)")
    // row total is exact: 2600 rows in [2000, 4600)
    assert(q(gScan(dir)).collect().map(_.getLong(1)).sum == 2600L)
  }

  // ---- two-column dict-group mode (r17): GROUP BY g1, g2 over v5 JOINT
  // histograms ----

  private val g2Schema = StructType(Seq(
    StructField("k", LongType), StructField("g1", StringType),
    StructField("g2", StringType), StructField("v", DoubleType)))

  private def writeGrouped2(dir: String): Unit = {
    import spark.implicits._
    // g1 null every 11th row, g2 null every 13th — the joint table must
    // carry (null, x), (x, null), and (null, null) pairs exactly
    val df = (1 to 5000).map { i =>
      (i.toLong, if (i % 11 == 0) null else s"a${i % 5}",
        if (i % 13 == 0) null else s"b${i % 3}", i / 7.0)
    }.toDF("k", "g1", "g2", "v")
    df.repartition(1).write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(dir)
  }

  private def g2Scan(dir: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(g2Schema).load(dir)

  test("GROUP BY two dict columns answers from v5 joint histograms: zero blocks decompressed") {
    val dir = tmpDir()
    writeGrouped2(dir)
    def q(df: DataFrame): DataFrame =
      df.groupBy("g1", "g2").agg(count(lit(1)).as("n"), count(col("g2")).as("nn2"),
        count(col("g1")).as("nn1"), min(col("g1")).as("mn"), max(col("g2")).as("mx"))
    val plan = q(g2Scan(dir)).queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"), s"expected joint-group rewrite:\n${plan.take(1500)}")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val (expect, offPlan) =
      try (sortedRows(q(g2Scan(dir))), q(g2Scan(dir)).queryExecution.executedPlan.toString)
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    assert(!offPlan.contains("4MC-STATS"), "dict conf off must keep the data scan")
    FourMcScanMetrics.reset()
    assert(sortedRows(q(g2Scan(dir))) == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L,
      s"joint-covered group-by must decompress zero blocks, read ${FourMcScanMetrics.blocksRead.sum()}")
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L)
    // GROUP BY order is free: the reversed grouping also rewrites and matches
    def qRev(df: DataFrame): DataFrame =
      df.groupBy("g2", "g1").agg(count(lit(1)).as("n"))
    assert(qRev(g2Scan(dir)).queryExecution.executedPlan.toString.contains("4MC-STATS"))
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expectRev =
      try sortedRows(qRev(g2Scan(dir)))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    assert(sortedRows(qRev(g2Scan(dir))) == expectRev)
    // THREE data group columns refuse (joint tables are pairwise)
    import spark.implicits._
    val d3 = tmpDir()
    (1 to 2000).map(i => (i.toLong, s"a${i % 3}", s"b${i % 2}", s"c${i % 2}"))
      .toDF("k", "g1", "g2", "g3")
      .coalesce(1).write.format("4mc").option("payload", "csv").mode("overwrite").save(d3)
    val sch3 = StructType(Seq(StructField("k", LongType), StructField("g1", StringType),
      StructField("g2", StringType), StructField("g3", StringType)))
    val q3 = spark.read.format("4mc").option("payload", "csv").schema(sch3).load(d3)
      .groupBy("g1", "g2", "g3").agg(count(lit(1)).as("n"))
    assert(!q3.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    assert(q3.collect().length == 6)
  }

  test("COUNT(DISTINCT g2) grouped by g1 rides the joint relation: zero blocks decompressed") {
    val dir = tmpDir()
    writeGrouped2(dir)
    def q(df: DataFrame): DataFrame =
      df.groupBy("g1").agg(countDistinct(col("g2")).as("d2"), count(lit(1)).as("n"))
    val plan = q(g2Scan(dir)).queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"),
      s"distinct-over-second-column must ride the joint relation:\n${plan.take(1500)}")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expect =
      try sortedRows(q(g2Scan(dir)))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(sortedRows(q(g2Scan(dir))) == expect)
    assert(FourMcScanMetrics.blocksRead.sum() == 0L)
  }

  test("two-column dict-group composes with a range filter on a sorted table") {
    val dir = tmpDir()
    import spark.implicits._
    (1 to 5000).map { i =>
      (i.toLong, if (i % 11 == 0) null else s"a${i % 5}",
        if (i % 13 == 0) null else s"b${i % 3}", i / 7.0)
    }.toDF("k", "g1", "g2", "v")
      .coalesce(1).sortWithinPartitions("k")
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(dir)
    def q(df: DataFrame): DataFrame =
      df.filter(col("k") >= 2000L && col("k") < 4600L)
        .groupBy("g1", "g2").agg(count(lit(1)).as("n"))
    val plan = q(g2Scan(dir)).queryExecution.executedPlan.toString
    assert(plan.contains("4MC-STATS"), s"expected composed joint rewrite:\n${plan.take(1500)}")
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expect =
      try sortedRows(q(g2Scan(dir)))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(sortedRows(q(g2Scan(dir))) == expect)
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L, "all-pass span stays footer-only")
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0L)
    assert(FourMcScanMetrics.blocksRead.sum() <= 2L,
      s"only straddlers decode, read ${FourMcScanMetrics.blocksRead.sum()}")
    assert(q(g2Scan(dir)).collect().map(_.getLong(2)).sum == 2600L)
  }

  test("joint entry cap: blocks past 256 distinct pairs decode, values stay exact") {
    val dir = tmpDir()
    import spark.implicits._
    // 20 × 19 = 380 distinct value pairs per block (> JointMaxEntries) while
    // both per-column dicts stay alive (≤ 32 entries): the joint abandons
    // per block, forcing the decode path — the sparse-cap degradation
    (1 to 6000).map(i => (i.toLong, s"a${i % 20}", s"b${i % 19}"))
      .toDF("k", "g1", "g2")
      .coalesce(1).write.format("4mc").option("payload", "csv")
      .option("blockBytes", (64 * 1024).toString).mode("overwrite").save(dir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("g1", StringType),
      StructField("g2", StringType)))
    def sc = spark.read.format("4mc").option("payload", "csv").schema(sch).load(dir)
    def q(df: DataFrame): DataFrame = df.groupBy("g1", "g2").agg(count(lit(1)).as("n"))
    spark.conf.set("spark.graft.fourmc.dictAggPushdown", "false")
    val expect =
      try sortedRows(q(sc))
      finally spark.conf.set("spark.graft.fourmc.dictAggPushdown", "true")
    FourMcScanMetrics.reset()
    assert(sortedRows(q(sc)) == expect)
    assert(expect.length == 380)
    // whether the probe refused (no joints anywhere → no rewrite) or the
    // format decoded per block, rows must have been read — never a silent
    // wrong histogram
    assert(FourMcScanMetrics.blocksRead.sum() > 0L ||
      !q(sc).queryExecution.executedPlan.toString.contains("4MC-STATS"))
  }

  test("SUM(decimal) long-overflow-poisoned blocks decode and stay exact") {
    // DECIMAL(18,0) values of 18 digits: ~11 of them overflow a LONG during
    // block accumulation, so the writer stores NO sum for those blocks and
    // the reader decodes them; the final DecimalType(28,0) total is exact
    val dir = tmpDir()
    val dSchema = StructType(Seq(
      StructField("k", LongType), StructField("m", DecimalType(18, 0))))
    val rows = (1 to 400).map { i =>
      org.apache.spark.sql.Row(i.toLong, java.math.BigDecimal.valueOf(900000000000000000L + i, 0))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), dSchema).coalesce(1)
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (2 * 1024).toString).mode("overwrite").save(dir)
    def sc = spark.read.format("4mc").option("payload", "csv").schema(dSchema).load(dir)
    val q = sc.agg(sum(col("m")).as("sm"))
    assert(q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    FourMcScanMetrics.reset()
    val got = q.collect().head.getDecimal(0)
    val expect = rows.map(r => new java.math.BigDecimal(r.getDecimal(1).toPlainString))
      .reduce(_.add(_))
    assert(got.compareTo(expect) == 0, s"$got != $expect")
    assert(FourMcScanMetrics.blocksRead.sum() > 0L,
      "overflow-poisoned blocks must decode (no stored sum)")
  }

  // ---- driver-side footer aggregates (McDriverScanExec): the driver
  // node, the forced job plan and the plain scan agree ----

  private def driverNodes(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case n: McDriverScanExec => n }.length

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** Under `ignoreMissingFiles` the driver node declines and Spark plans
    * the stats job; on files that stay put the setting changes nothing else.
    */
  private def onJobPlan[T](body: => T): T =
    withConf("spark.sql.files.ignoreMissingFiles", "true")(body)

  /** Runs one footer-answered shape three ways — the driver node, the job
    * plan, and the plain scan — and asserts equal rows and zero Spark jobs
    * on the driver node. Returns the driver node's plan string.
    */
  private def threeWays(label: String)(q: => DataFrame): String = {
    val plan = q.queryExecution.executedPlan.toString
    assert(driverNodes(q) == 1, s"$label: expected the driver node:\n$plan")
    def blockCounts = Seq(FourMcScanMetrics.statsAggBlocks, FourMcScanMetrics.blocksRead,
      FourMcScanMetrics.blocksSkipped).map(_.sum())
    var driver = Seq.empty[String]
    FourMcScanMetrics.reset()
    val jobs = graft.JobCount.jobsOf(spark) { driver = sortedRows(q) }
    assert(jobs == 0, s"$label: the driver node must run no Spark job, ran $jobs")
    val driverBlocks = blockCounts
    val forced = onJobPlan {
      val plan = q.queryExecution.executedPlan.toString
      assert(driverNodes(q) == 0 && plan.contains("4MC-STATS"),
        s"$label: ignoreMissingFiles must keep the stats job plan:\n$plan")
      FourMcScanMetrics.reset()
      val rows = sortedRows(q)
      assert(blockCounts == driverBlocks,
        s"$label: stats/read/skipped blocks $driverBlocks on the driver, $blockCounts in tasks")
      rows
    }
    val scanned = withConf("spark.graft.fourmc.aggPushdown", "false") {
      assert(!q.queryExecution.executedPlan.toString.contains("4MC-STATS"))
      sortedRows(q)
    }
    assert(driver == forced, s"$label: driver $driver != job plan $forced")
    assert(driver == scanned, s"$label: driver $driver != plain scan $scanned")
    plan
  }

  test("driver-side footer aggregates equal the job plan and the plain scan, with zero jobs") {
    val sample = tmpDir()
    writeSample(sample)
    val plan = threeWays("global min/max/count")(theAgg(scan(sample)))
    assert(plan.contains("McDriverScan 4MC-STATS driver read: files=") &&
      plan.contains("blocks from stats=") && plan.contains("blocks decoded="),
      s"the driver node must show its decision:\n$plan")

    val sums = tmpDir()
    writeSumSample(sums)
    threeWays("sum long/int/double")(sumScan(sums).agg(sum(col("k")).as("sk"),
      sum(col("i")).as("si"), sum(col("v")).as("sv"), count(col("v")).as("nv"),
      count(lit(1)).as("n")))
    threeWays("avg double")(sumScan(sums).agg(avg(col("v")).as("av"), count(lit(1)).as("n")))

    val decimals = tmpDir()
    val dSchema = StructType(Seq(StructField("k", LongType), StructField("m", DecimalType(12, 2))))
    val dRows = (1 to 3000).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        if (i % 13 == 2) null else java.math.BigDecimal.valueOf(i.toLong * 104729L - 5000000L, 2))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(dRows, 1), dSchema)
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(decimals)
    threeWays("sum decimal")(spark.read.format("4mc").option("payload", "csv").schema(dSchema)
      .load(decimals).agg(sum(col("m")).as("sm"), count(col("m")).as("nm")))

    import spark.implicits._
    val sorted = tmpDir()
    (1 to 40000).map(i => (i.toLong, i / 3.0)).toDF("k", "v")
      .coalesce(1).sortWithinPartitions("k")
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(sorted)
    val sortedSchema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    def straddled = spark.read.format("4mc").option("payload", "csv").schema(sortedSchema)
      .load(sorted).filter(col("k") >= 30000L && col("k") < 35000L)
      .agg(sum(col("k")).as("sk"), min(col("v")).as("mn"), count(lit(1)).as("n"))
    val straddlePlan = threeWays("filtered with straddlers")(straddled)
    assert(!straddlePlan.contains("blocks decoded=0 "),
      s"the range edges must decode straddling blocks:\n$straddlePlan")

    val parts = tmpDir()
    writePartitioned(parts)
    threeWays("partition-grouped")(partScan(parts).groupBy(col("p")).agg(
      min(col("k")).as("mn"), max(col("k")).as("mx"), count(col("s")).as("n_s"),
      sum(col("k")).as("sk")))
    threeWays("partition-filtered")(partScan(parts).filter(col("p") =!= "part3")
      .agg(min(col("k")).as("mn"), count(lit(1)).as("n")))

    val grouped = tmpDir()
    writeGrouped(grouped)
    threeWays("one-column dict group")(gScan(grouped).groupBy("g").agg(count(lit(1)).as("n"),
      count(col("g")).as("nn"), min(col("g")).as("mn"), max(col("g")).as("mx")))
    val grouped2 = tmpDir()
    writeGrouped2(grouped2)
    threeWays("two-column dict group")(g2Scan(grouped2).groupBy("g1", "g2")
      .agg(count(lit(1)).as("n"), count(col("g1")).as("nn1")))
  }

  test("the driver node reads each footer once, compiles nothing, and counts the scan layer") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 5000).map(i => (i.toLong, if (i % 11 == 0) null else s"g${i % 5}", i / 7.0))
      .toDF("k", "g", "v").repartition(3)
      .write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).mode("overwrite").save(dir)
    def q = gScan(dir).groupBy("g").agg(count(lit(1)).as("n"), max(col("g")).as("mx"))
    // the dict probe, the planning sweep and the reader share one cache:
    // a fresh directory costs one footer read per file, not one more
    FourMcScanMetrics.reset()
    val df = q
    assert(driverNodes(df) == 1)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rows = df.queryExecution.executedPlan.executeCollect()
    assert(org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the driver node must fold with interpreted projections")
    assert(rows.length == 6)
    assert(FourMcScanMetrics.footerReads.sum() == 3L,
      s"one footer read per file, read ${FourMcScanMetrics.footerReads.sum()}")
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0L && FourMcScanMetrics.blocksRead.sum() == 0L)
  }

  test("DISTINCT aggregates, long file lists and heavy decode loads keep the job plan") {
    val grouped = tmpDir()
    writeGrouped(grouped)
    def distinct = gScan(grouped).agg(countDistinct(col("g")).as("d"), count(lit(1)).as("n"))
    assert(distinct.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    assert(driverNodes(distinct) == 0, "COUNT(DISTINCT) must keep the job plan")
    var got = Seq.empty[String]
    assert(graft.JobCount.jobsOf(spark) { got = sortedRows(distinct) } > 0)
    assert(got == withConf("spark.graft.fourmc.aggPushdown", "false")(sortedRows(distinct)))

    // one file past the driver node's file bound
    import spark.implicits._
    val many = tmpDir()
    val nFiles = McDriverScanStrategy.MaxFiles + 1
    (1 to 4000).map(i => (i.toLong, s"str${i % 97}", i / 7.0,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("k", "s", "v", "t")
      .repartition(nFiles).write.format("4mc").option("payload", "csv").mode("overwrite").save(many)
    assert(new java.io.File(many).listFiles.count(_.getName.endsWith(".4mc")) == nFiles)
    def wide = theAgg(scan(many))
    assert(wide.queryExecution.executedPlan.toString.contains("4MC-STATS"))
    assert(driverNodes(wide) == 0, s"$nFiles files must keep the job plan")
    assert(wide.collect().toSeq ==
      withConf("spark.graft.fourmc.aggPushdown", "false")(theAgg(scan(many)).collect().toSeq))

    // random `v`: every block straddles `v > 500`, so the query decodes
    // every line, past the line bound
    val heavy = tmpDir()
    val heavyLines = 160000L
    spark.range(0, heavyLines, 1, 2).select(col("id").as("k"), (rand(5) * 1000).as("v"))
      .write.format("4mc").option("payload", "csv").save(heavy)
    assert(heavyLines > McDriverScanStrategy.MaxDecodedLines, s"fixture too small: $heavyLines lines")
    assert(kvQuery(heavy).queryExecution.executedPlan.toString.contains("4MC-STATS"))
    assert(driverNodes(kvQuery(heavy)) == 0, "a decode load over the bound must keep the job plan")
    assert(sortedRows(kvQuery(heavy)) ==
      withConf("spark.graft.fourmc.aggPushdown", "false")(sortedRows(kvQuery(heavy))))
  }

  test("concurrent footer-answered queries on one session each get their own answer") {
    val a = tmpDir()
    writeSample(a)
    val b = tmpDir()
    writeSumSample(b)
    def qa = theAgg(scan(a))
    def qb = sumScan(b).agg(sum(col("k")).as("sk"), count(col("v")).as("nv"))
    assert(driverNodes(qa) == 1 && driverNodes(qb) == 1)
    val (wantA, wantB) = (qa.collect().toSeq, qb.collect().toSeq)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            if (i % 2 == 0) qa.collect().toSeq == wantA else qb.collect().toSeq == wantB
        })
      }
      assert(futures.forall(_.get()), "every concurrent query must see its own answer")
    } finally pool.shutdown()
  }

  /** Two single-file writes of random `v`: `v > 500` straddles every
    * block, so the query decodes them all, and a bad first block costs its
    * file every row on each path that skips the file.
    */
  private def twoRandomFiles(): (String, Seq[java.io.File]) = {
    import spark.implicits._
    val dir = tmpDir()
    val rnd = new scala.util.Random(11)
    for ((from, mode) <- Seq(1 -> "overwrite", 3001 -> "append"))
      (from until from + 3000).map(i => (i.toLong, rnd.nextDouble() * 1000)).toDF("k", "v")
        .coalesce(1).write.format("4mc").option("payload", "csv")
        .option("blockBytes", (16 * 1024).toString).mode(mode).save(dir)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).sortBy(_.getName)
    assert(files.length == 2)
    (dir, files.toSeq)
  }

  private val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))

  private def kvQuery(path: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(kvSchema).load(path)
      .filter(col("v") > 500.0).agg(count(lit(1)).as("n"), sum(col("k")).as("sk"))

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" | ")

  private def rootCause(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last

  test("a corrupt straddling block fails the driver node as it fails the job; " +
      "ignoreCorruptFiles keeps the job plan") {
    val (dir, files) = twoRandomFiles()
    val bad = files.head.toPath
    val idx = {
      val in = graft.format.McInput.local(bad)
      try graft.format.FourMcReader.readIndex(in) finally in.close()
    }
    val raf = new java.io.RandomAccessFile(bad.toFile, "rw")
    try {
      val at = idx.blockOffsets(0) + 12 + 3
      raf.seek(at); val b = raf.read(); raf.seek(at); raf.write(b ^ 0x10)
    } finally raf.close()

    def q = kvQuery(dir)
    assert(driverNodes(q) == 1, "a small decode load plans the driver node")
    val onDriver = intercept[org.apache.spark.SparkException](q.collect())
    val onJob = onJobPlan {
      assert(driverNodes(q) == 0)
      intercept[org.apache.spark.SparkException](q.collect())
    }
    for ((path, e) <- Seq("driver" -> onDriver, "job" -> onJob))
      assert(causes(e).contains("FAILED_READ_FILE.NO_HINT"), s"$path: ${causes(e).take(400)}")
    assert(rootCause(onDriver).toString == rootCause(onJob).toString)

    withConf("spark.sql.files.ignoreCorruptFiles", "true") {
      assert(driverNodes(q) == 0, "ignoreCorruptFiles must keep the job plan")
      val clean = withConf("spark.graft.fourmc.aggPushdown", "false")(
        sortedRows(kvQuery(files(1).getPath)))
      assert(sortedRows(q) == clean, "the corrupt file is skipped from its first block")
    }
  }

  test("a file deleted after planning fails the driver node as it fails the job; " +
      "ignoreMissingFiles keeps the job plan") {
    val (dir, files) = twoRandomFiles()
    val onDriver = kvQuery(dir)
    assert(driverNodes(onDriver) == 1)
    val onScan = withConf("spark.graft.fourmc.aggPushdown", "false") {
      val df = kvQuery(dir)
      df.queryExecution.executedPlan
      df
    }
    val (skipping, clean) = onJobPlan {
      val df = kvQuery(dir)
      assert(driverNodes(df) == 0, "ignoreMissingFiles must keep the job plan")
      (df, withConf("spark.graft.fourmc.aggPushdown", "false")(
        sortedRows(kvQuery(files(1).getPath))))
    }
    assert(files.head.delete())
    for ((path, df) <- Seq("driver" -> onDriver, "plain scan" -> onScan)) {
      val e = intercept[org.apache.spark.SparkException](df.collect())
      assert(causes(e).contains("FAILED_READ_FILE.FILE_NOT_EXIST") &&
        rootCause(e).isInstanceOf[java.io.FileNotFoundException], s"$path: ${causes(e).take(400)}")
    }
    onJobPlan(assert(sortedRows(skipping) == clean, "the deleted file is skipped"))
  }

  test("a manifest-covered COUNT(*) is a local relation: zero Spark jobs") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 3000).map(i => (i.toLong, s"s${i % 7}", i / 7.0,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("k", "s", "v", "t")
      .repartition(3).write.format("4mc").option("payload", "csv")
      .option("manifest", "true").mode("overwrite").save(dir)
    def q = scan(dir).agg(count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.length == 1, q.queryExecution.executedPlan.toString)
    var n = -1L
    assert(graft.JobCount.jobsOf(spark) { n = q.collect().head.getLong(0) } == 0)
    assert(n == 3000L)
  }
}
