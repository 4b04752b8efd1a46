package graft.plans

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FourMcScanMetrics, RuntimeKeyFilter}

/** Small, metadata-selective reads of the plain 4mc relation on the driver
  * ([[McDriverScanStrategy]] / [[McDriverScanExec]]): pruned lookups and
  * filtered aggregates launch no Spark job, agree with the job plan and
  * with parquet, and every refused shape keeps the job plan.
  */
class McDriverScanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // the strategy under test is injected at session construction
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession
      .builder()
      .master("local[4]")
      .appName("mc-driver-scan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("mcdriver").toFile
    d.delete()
    d.getAbsolutePath
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("g", StringType),
    StructField("qty", DecimalType(12, 2)), StructField("price", DecimalType(12, 2)),
    StructField("disc", DecimalType(12, 2)), StructField("d", DateType)))
  private val partSchema = StructType(schema.fields :+ StructField("p", StringType))

  /** `n` lineitem-shaped rows, four per key; `id * 7919 mod n` scatters
    * the keys over every file and block, so only blooms can refute them.
    */
  private def rows(n: Int): DataFrame =
    spark.range(0, n, 1, 4).selectExpr(
      s"(id * 7919) % $n div 4 + 1 AS k",
      "concat('m', cast(id % 7 AS string)) AS g",
      "cast(1 + (id * 31) % 50 AS decimal(12,2)) AS qty",
      "cast(900 + (id * 104729) % 100000 / 100.0 AS decimal(12,2)) AS price",
      "cast((id * 13) % 11 / 100.0 AS decimal(12,2)) AS disc",
      "date_add(DATE'1992-01-02', cast((id * 2654435761) % 2526 AS int)) AS d",
      "concat('p', cast(id % 3 AS string)) AS p")

  private val N = 20000

  /** The same rows as bloomed, manifested 4mc (16 KiB blocks, four files)
    * sorted by `sortBy` when given, and as parquet.
    */
  private def tables(sortBy: Option[String] = None, partitioned: Boolean = false): (String, String) = {
    val (dir, twin) = (tmpDir(), tmpDir())
    val df = if (partitioned) rows(N) else rows(N).drop("p")
    val w = df.repartition(4).write.format("4mc").option("payload", "csv")
      .option("bloomColumns", "k").option("blockBytes", (16 * 1024).toString)
    val w2 = sortBy.fold(w)(c => w.option("sortBy", c).option("sortPartitions", "4"))
    if (partitioned) w2.partitionBy("p").save(dir) else w2.option("manifest", "true").save(dir)
    if (partitioned) df.write.partitionBy("p").parquet(twin) else df.write.parquet(twin)
    (dir, twin)
  }

  private def fourmc(dir: String, s: StructType = schema): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(s).load(dir)

  private def driverNodes(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case n: McDriverScanExec => n }.length

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** Under `ignoreMissingFiles` the strategy declines and Spark plans the
    * job; on files that stay put the setting changes nothing else.
    */
  private def onJobPlan[T](body: => T): T =
    withConf("spark.sql.files.ignoreMissingFiles", "true")(body)

  private def scanCounts: Seq[Long] =
    Seq(FourMcScanMetrics.blocksRead, FourMcScanMetrics.blocksSkipped, FourMcScanMetrics.statsAggBlocks,
      FourMcScanMetrics.corruptSkipped, FourMcScanMetrics.manifestFilesPruned).map(_.sum())

  /** Runs one shape three ways — the driver node, the job plan and the
    * same query over parquet — and asserts equal rows, equal scan counters
    * on both 4mc paths, and no Spark job and no compiled class on the
    * driver node. Returns the driver node's plan string.
    */
  private def threeWays(label: String)(q: DataFrame => DataFrame, dir: String, twin: String,
      s: StructType = schema): String = {
    val df = q(fourmc(dir, s))
    val plan = df.queryExecution.executedPlan.toString
    assert(driverNodes(df) == 1, s"$label: expected the driver node:\n$plan")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jobs = graft.JobCount.jobsOf(spark)(df.queryExecution.executedPlan.executeCollect())
    assert(jobs == 0, s"$label: the driver node must run no Spark job, ran $jobs")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      s"$label: the driver node must compile no class")
    FourMcScanMetrics.reset()
    val driver = sortedRows(q(fourmc(dir, s)))
    val driverCounts = scanCounts
    assert(driverCounts.head > 0L, s"$label: the driver read must count its blocks: $driverCounts")
    val forced = onJobPlan {
      val onJob = q(fourmc(dir, s))
      assert(driverNodes(onJob) == 0, s"$label: ignoreMissingFiles must keep the job plan")
      FourMcScanMetrics.reset()
      val rows = sortedRows(onJob)
      assert(scanCounts == driverCounts,
        s"$label: read/skipped/stats/corrupt blocks, pruned files $driverCounts on the driver, " +
          s"$scanCounts in tasks")
      rows
    }
    val parquet = sortedRows(q(spark.read.parquet(twin)))
    assert(driver.nonEmpty, s"$label: the fixture must match some rows")
    assert(driver == forced, s"$label: driver $driver != job plan $forced")
    assert(driver == parquet, s"$label: driver $driver != parquet $parquet")
    plan
  }

  private def point(key: Long)(df: DataFrame): DataFrame =
    df.filter(col("k") === key).select("k", "g", "price", "d")

  private def q6(df: DataFrame): DataFrame =
    df.filter(col("d") >= lit(java.sql.Date.valueOf("1994-01-01")) &&
      col("d") < lit(java.sql.Date.valueOf("1995-01-01")) &&
      col("disc").between(0.05, 0.07) && col("qty") < 24)
      .agg(sum(col("price") * col("disc")).as("revenue"), count(lit(1)).as("n"))

  test("driver-side lookups and filtered aggregates equal the job plan and parquet, with zero jobs") {
    val (dir, twin) = tables()
    val plan = threeWays("bloomed, manifested point lookup")(point(1234), dir, twin)
    assert(plan.contains("McDriverScan 4MC driver read: files=") && !plan.contains("blocks skipped=0,"),
      s"the driver node must show its decision:\n$plan")
    withConf("spark.sql.codegen.wholeStage", "false") {
      threeWays("point lookup without whole-stage codegen")(point(4321), dir, twin)
    }
    val (sorted, sortedTwin) = tables(sortBy = Some("d"))
    threeWays("q6-shaped filtered SUM")(q6, sorted, sortedTwin)
    val (parts, partsTwin) = tables(partitioned = true)
    threeWays("partition-filtered lookup")(df => point(77)(df.filter(col("p") === "p1")),
      parts, partsTwin, partSchema)

    // -0.0 equals 0.0 in Spark's SQL order: lookups, a footer aggregate
    // (`>=`, `<`) and the plain aggregate double equality keeps all agree
    // with parquet over a z-sorted table whose zero blocks mix the two
    val (zeros, zerosTwin) = (tmpDir(), tmpDir())
    val zSchema = StructType(Seq(StructField("id", LongType), StructField("z", DoubleType)))
    val zRows = spark.createDataFrame(spark.sparkContext.parallelize((0L until 20000L).map { i =>
      org.apache.spark.sql.Row(i, i % 10 match {
        case 0 => -0.0
        case 1 => 0.0
        case _ => (i - 10000L) / 8.0
      })
    }, 1), zSchema).sortWithinPartitions("z")
    zRows.write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).save(zeros)
    zRows.write.parquet(zerosTwin)
    Seq[(String, Column)]("z >= 0.0" -> (col("z") >= 0.0), "z < 0.0" -> (col("z") < 0.0),
        "z = 0.0" -> (col("z") === 0.0)).foreach { case (label, cond) =>
      threeWays(s"lookup $label")(_.filter(cond).select("id"), zeros, zerosTwin, zSchema)
      val aggPlan = threeWays(s"aggregate $label")(
        _.filter(cond).agg(count(lit(1)).as("n"), sum(col("id")).as("s")),
        zeros, zerosTwin, zSchema)
      assert(aggPlan.contains("4MC-STATS") == (label != "z = 0.0"),
        s"$label: only a range filter takes the footer aggregate:\n$aggPlan")
    }
  }

  test("refused shapes keep the job plan") {
    val (dir, twin) = tables()
    def lookup(df: DataFrame): DataFrame = point(77)(df)
    assert(driverNodes(lookup(fourmc(dir))) == 1)
    fourmc(dir).createOrReplaceTempView("lk_refusals")
    val rkf = spark.read.format("4mc").option("payload", "csv")
      .option(RuntimeKeyFilter.OptionKey, RuntimeKeyFilter.encode("k", Array(77L)))
      .schema(schema).load(dir)
    val bucketed = "mc_driver_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $bucketed")
    spark.sql(s"CREATE TABLE $bucketed (k BIGINT, v DOUBLE) USING 4mc OPTIONS (payload 'csv') " +
      s"CLUSTERED BY (k) INTO 2 BUCKETS LOCATION '${tmpDir()}'")
    spark.sql(s"INSERT INTO $bucketed SELECT id, id / 2.0 FROM range(100)")
    // past the line bound: the sorted table's later years, zone-pruned
    // ahead of the range but decoding more lines than the bound (an
    // expression SUM, which the footers cannot answer)
    val (sorted, sortedTwin) = tables(sortBy = Some("d"))
    def heavy(df: DataFrame): DataFrame =
      df.filter(col("d") >= lit(java.sql.Date.valueOf("1992-03-01")))
        .agg(count(lit(1)).as("n"), sum(col("price") * col("disc")).as("rev"))
    assert(N > McDriverScanStrategy.MaxDecodedLines)
    // a metadata-only COUNT(*) the pushdown refuses (MIN/MAX of a partition
    // column, or the pushdown switched off): the reader makes a row per line
    val (parts, partsTwin) = tables(partitioned = true)
    def partMax(df: DataFrame): DataFrame = df.agg(max(col("p")).as("mp"), count(lit(1)).as("n"))
    def countAll(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("n"))
    // files without a stats segment: their lines are unknown, while the
    // same rows with one plan the driver node
    val (small, statsless, smallTwin) = (tmpDir(), tmpDir(), tmpDir())
    for ((out, stats) <- Seq(small -> "true", statsless -> "false"))
      rows(2000).drop("p").write.format("4mc").option("payload", "csv").option("blockStats", stats).save(out)
    rows(2000).drop("p").write.parquet(smallTwin)
    def lowKeys(df: DataFrame): DataFrame =
      df.filter(col("k") < 100L).agg(sum(col("price")).as("sp"), count(lit(1)).as("n"))
    assert(driverNodes(lowKeys(fourmc(small))) == 1)
    // always true, but nondeterministic to the optimizer (which folds
    // `rand() < 2` to true)
    def notAlways = floor(rand(3) * 2) < 5
    val shapes: Seq[(String, () => DataFrame, Option[() => DataFrame])] = Seq(
      ("nondeterministic filter", () => point(77)(fourmc(dir).filter(col("k") === 77L && notAlways)),
        Some(() => lookup(spark.read.parquet(twin)))),
      ("nondeterministic projection", () => lookup(fourmc(dir)).select(col("k"), notAlways.as("r")),
        Some(() => lookup(spark.read.parquet(twin)).select(col("k"), lit(true).as("r")))),
      ("input_file_name", () => lookup(fourmc(dir)).select(col("k"), input_file_name().as("f")), None),
      ("_metadata", () => lookup(fourmc(dir)).select(col("k"), col("_metadata.file_name")), None),
      ("scalar subquery", () => spark.sql(
        "SELECT k, g FROM lk_refusals WHERE k = (SELECT min(k) FROM lk_refusals)"), None),
      ("runtime key filter", () => lookup(rkf), Some(() => lookup(spark.read.parquet(twin)))),
      ("bucketed relation", () => spark.table(bucketed).agg(sum(col("v")).as("sv")), None),
      ("unfiltered scan under a repartition", () => fourmc(dir).select("k", "g").repartition(3)
        .groupBy("g").agg(count(lit(1)).as("n")), Some(() =>
        spark.read.parquet(twin).select("k", "g").groupBy("g").agg(count(lit(1)).as("n")))),
      ("past the decode bound", () => heavy(fourmc(sorted)), Some(() => heavy(spark.read.parquet(sortedTwin)))),
      ("partition MAX with COUNT(*) past the line bound", () => partMax(fourmc(parts, partSchema)),
        Some(() => partMax(spark.read.parquet(partsTwin)))),
      ("stats-less files", () => lowKeys(fourmc(statsless)), Some(() => lowKeys(spark.read.parquet(smallTwin)))))
    def keepsJob(label: String, q: () => DataFrame, want: Option[() => DataFrame]): Unit = {
      val df = q()
      assert(driverNodes(df) == 0, s"$label must keep the job plan:\n${df.queryExecution.executedPlan}")
      val got = sortedRows(df)
      assert(got.nonEmpty, s"$label: no rows")
      want.foreach(w => assert(got == sortedRows(w()), s"$label: wrong answer"))
    }
    try for ((label, q, want) <- shapes) keepsJob(label, q, want)
    finally spark.sql(s"DROP TABLE IF EXISTS $bucketed")
    withConf("spark.graft.fourmc.aggPushdown", "false") {
      keepsJob("COUNT(*) past the line bound without the pushdown", () => countAll(fourmc(parts, partSchema)),
        Some(() => countAll(spark.read.parquet(partsTwin))))
    }
    // the unfiltered Project itself: nothing refuted, so its tasks stay
    val plain = fourmc(dir).select("k", "g")
    assert(driverNodes(plain) == 0 && graft.JobCount.jobsOf(spark)(plain.collect()) > 0)
    for (setting <- Seq("spark.sql.files.ignoreCorruptFiles", "spark.sql.files.ignoreMissingFiles"))
      withConf(setting, "true") {
        assert(driverNodes(lookup(fourmc(dir))) == 0, s"$setting must keep the job plan")
        assert(sortedRows(lookup(fourmc(dir))) == sortedRows(lookup(spark.read.parquet(twin))))
      }
  }

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" | ")

  private def rootCause(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last

  test("a corrupt block fails a driver lookup as it fails the job; " +
      "ignoreCorruptBlocks counts the same skipped blocks on both paths") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 6000).map(i => (i.toLong, s"g${i % 5}", i / 7.0)).toDF("k", "g", "v")
      .coalesce(1).write.format("4mc").option("payload", "csv")
      .option("bloomColumns", "k").option("blockBytes", (16 * 1024).toString).save(dir)
    val file = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".4mc")).head.toPath
    val idx = {
      val in = graft.format.McInput.local(file)
      try graft.format.FourMcReader.readIndex(in) finally in.close()
    }
    // one flipped payload byte in every block: whichever block a lookup
    // keeps fails its checksum
    val raf = new java.io.RandomAccessFile(file.toFile, "rw")
    try idx.blockOffsets.foreach { off =>
      val at = off + 12 + 3
      raf.seek(at); val b = raf.read(); raf.seek(at); raf.write(b ^ 0x10)
    } finally raf.close()
    val kv = StructType(Seq(StructField("k", LongType), StructField("g", StringType),
      StructField("v", DoubleType)))
    def q = spark.read.format("4mc").option("payload", "csv").schema(kv).load(dir)
      .filter(col("k") === 4321L)
    assert(driverNodes(q) == 1, "a bloom-pruned lookup plans the driver node")
    val onDriver = intercept[org.apache.spark.SparkException](q.collect())
    val onJob = onJobPlan {
      assert(driverNodes(q) == 0)
      intercept[org.apache.spark.SparkException](q.collect())
    }
    for ((path, e) <- Seq("driver" -> onDriver, "job" -> onJob))
      assert(causes(e).contains("FAILED_READ_FILE.NO_HINT"), s"$path: ${causes(e).take(400)}")
    assert(rootCause(onDriver).toString == rootCause(onJob).toString)

    def permissive = spark.read.format("4mc").option("payload", "csv")
      .option("ignoreCorruptBlocks", "true").schema(kv).load(dir)
      .filter(col("k") > 100L).agg(count(lit(1)).as("n"))
    assert(driverNodes(permissive) == 1)
    FourMcScanMetrics.reset()
    val onDriverRows = sortedRows(permissive)
    val driverCorrupt = FourMcScanMetrics.corruptSkipped.sum()
    assert(driverCorrupt == idx.numBlocks, s"every block is corrupt: $driverCorrupt of ${idx.numBlocks}")
    onJobPlan {
      assert(driverNodes(permissive) == 0)
      FourMcScanMetrics.reset()
      assert(sortedRows(permissive) == onDriverRows)
      assert(FourMcScanMetrics.corruptSkipped.sum() == driverCorrupt)
    }
  }

  test("LIMIT 1 on the driver stops after the first matching block") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 12000).map(i => (i.toLong, s"g${i % 5}", i / 7.0)).toDF("k", "g", "v")
      .coalesce(1).sortWithinPartitions("k").write.format("4mc").option("payload", "csv")
      .option("blockBytes", (16 * 1024).toString).save(dir)
    val kv = StructType(Seq(StructField("k", LongType), StructField("g", StringType),
      StructField("v", DoubleType)))
    def q = spark.read.format("4mc").option("payload", "csv").schema(kv).load(dir)
      .filter(col("k") >= 6000L).limit(1)
    assert(driverNodes(q) == 1, q.queryExecution.executedPlan.toString)
    FourMcScanMetrics.reset()
    val got = q.collect()
    assert(got.length == 1 && got.head.getLong(0) >= 6000L)
    assert(FourMcScanMetrics.blocksRead.sum() == 1L,
      s"read ${FourMcScanMetrics.blocksRead.sum()} blocks for one row")
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0L, "the zone maps skip the blocks below the range")
  }

  test("concurrent driver lookups on one session each get their own answer") {
    val (dir, _) = tables(sortBy = Some("d"))
    def qa = point(1234)(fourmc(dir))
    def qb = q6(fourmc(dir))
    assert(driverNodes(qa) == 1 && driverNodes(qb) == 1)
    val (wantA, wantB) = (sortedRows(qa), sortedRows(qb))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = if (i % 2 == 0) sortedRows(qa) == wantA else sortedRows(qb) == wantB
        })
      }
      assert(futures.forall(_.get()), "every concurrent lookup must see its own answer")
    } finally pool.shutdown()
  }
}
