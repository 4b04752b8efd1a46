package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Positional schema evolution on csv-payload directories (round 15):
  * read-schema ⊇ file-schema, absent trailing columns read as NULL (the
  * parquet added-column semantics), and per-file pruning stays active —
  * prefix columns prune as always, predicates on absent columns prune
  * HARD (all-null refutes value predicates, certifies IsNull).
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("schema-evolution")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc-evolve").toFile
    d.delete(); d.getAbsolutePath
  }

  private val oldSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true)))
  private val newSchema = StructType(oldSchema.fields ++ Seq(
    StructField("props", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  /** Two-generation dir: ids [0,1000) written with 2 columns, [1000,2000)
    * with 4; both generations sorted by id so per-file pruning is visible.
    */
  private def writeTwoGen(dir: String, layout: String): Unit = {
    val g1 = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 1000L).map(i => Row(i, s"n$i")), 1), oldSchema)
    g1.sortWithinPartitions("id").write.format("4mc").option("payload", "csv")
      .option("layout", layout).option("blockBytes", (4 * 1024).toString).save(dir)
    val g2 = spark.createDataFrame(spark.sparkContext.parallelize(
      (1000L until 2000L).map(i => Row(i, s"n$i", s"p$i", i / 10.0)), 1), newSchema)
    g2.sortWithinPartitions("id").write.mode("append").format("4mc")
      .option("payload", "csv").option("layout", layout)
      .option("blockBytes", (4 * 1024).toString).save(dir)
  }

  private def readAll(dir: String) =
    spark.read.format("4mc").option("payload", "csv").schema(newSchema).load(dir)

  for (layout <- Seq("columnar", "rows"); vec <- Seq("true", "false")) {
    test(s"two-generation dir reads with nulls for absent columns (layout=$layout vectorized=$vec)") {
      val dir = tmpDir()
      writeTwoGen(dir, layout)
      // vectorized=false: whole-stage codegen off, so the scan serves rows
      spark.conf.set("spark.sql.codegen.wholeStage", vec)
      try {
        val t = readAll(dir)
        assert(t.count() == 2000L)
        // absent trailing columns are NULL in old-generation rows — never
        // empty strings, never zeroes
        assert(t.filter(col("props").isNull).count() == 1000L)
        assert(t.filter(col("props") === "").count() == 0L)
        assert(t.filter(col("score").isNull).count() == 1000L)
        // new-generation values intact; prefix columns intact everywhere
        assert(t.filter(col("props") === "p1500").count() == 1L)
        assert(t.agg(sum(col("id") * lit(2))).head().getLong(0) == 2000L * 1999L)
        assert(t.filter(col("name") === "n500").select("props").head().isNullAt(0))
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("pruning stays active per file: prefix-column zones prune old and new files") {
    val dir = tmpDir()
    writeTwoGen(dir, "columnar")
    val t = readAll(dir)
    FourMcScanMetrics.reset()
    // selective id range straddling the generations: both files' zone maps
    // must refute their out-of-range blocks
    assert(t.filter(col("id") >= 900L && col("id") < 1100L)
      .agg(sum(col("id") * lit(2))).head().getLong(0) == (900L until 1100L).map(_ * 2).sum)
    val skipped = FourMcScanMetrics.blocksSkipped.sum
    val read = FourMcScanMetrics.blocksRead.sum
    assert(skipped > read,
      s"old-generation files must still zone-prune (read=$read skipped=$skipped)")
  }

  test("predicates on an absent column prune the old generation entirely") {
    val dir = tmpDir()
    writeTwoGen(dir, "columnar")
    val t = readAll(dir)
    // value predicate on props: old-generation rows are all-null -> every
    // old block refutes without decompression
    FourMcScanMetrics.reset()
    assert(t.filter(col("props") >= "p").agg(count(lit(1))).head().getLong(0) == 1000L)
    val skipped = FourMcScanMetrics.blocksSkipped.sum
    assert(skipped > 0,
      s"absent-column value predicate must skip old-generation blocks (skipped=$skipped)")
    // IsNotNull on the new column: same refutation
    FourMcScanMetrics.reset()
    assert(t.filter(col("props").isNotNull).count() == 1000L)
    assert(FourMcScanMetrics.blocksSkipped.sum > 0)
    // IsNull on the new column is CERTAIN on old files: their read blocks
    // elide per-row evaluation
    FourMcScanMetrics.reset()
    assert(t.filter(col("props").isNull)
      .agg(sum(col("id") * lit(2))).head().getLong(0) == (0L until 1000L).map(_ * 2).sum)
    assert(FourMcScanMetrics.predElidedBlocks.sum > 0,
      "IsNull(absent) must certify old-generation blocks")
  }

  // ---- type widening (r16): int->long, decimal precision growth ----------

  private val genIntSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ln", IntegerType, nullable = true),
    StructField("amt", DecimalType(10, 2), nullable = true)))
  private val genLongSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ln", LongType, nullable = true),
    StructField("amt", DecimalType(14, 2), nullable = true)))

  /** ids [0,1000) written int/decimal(10,2), [1000,2000) long/decimal(14,2). */
  private def writeWidened(dir: String, layout: String): Unit = {
    val g1 = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 1000L).map(i => Row(i, if (i % 17 == 3) null else java.lang.Integer.valueOf(i.toInt),
        new java.math.BigDecimal(i).movePointLeft(1).setScale(2))), 1), genIntSchema)
    g1.sortWithinPartitions("id").write.format("4mc").option("payload", "csv")
      .option("layout", layout).option("blockBytes", (4 * 1024).toString).save(dir)
    val g2 = spark.createDataFrame(spark.sparkContext.parallelize(
      (1000L until 2000L).map(i => Row(i, java.lang.Long.valueOf(i + (1L << 33)),
        new java.math.BigDecimal(i).movePointLeft(1).setScale(2).add(
          new java.math.BigDecimal("100000000000.00")))), 1), genLongSchema)
    g2.sortWithinPartitions("id").write.mode("append").format("4mc")
      .option("payload", "csv").option("layout", layout)
      .option("blockBytes", (4 * 1024).toString).save(dir)
  }

  for (layout <- Seq("columnar", "rows"); vec <- Seq("true", "false")) {
    test(s"type widening int->long + decimal growth reads exactly (layout=$layout vectorized=$vec)") {
      val dir = tmpDir()
      writeWidened(dir, layout)
      // vectorized=false: whole-stage codegen off, so the scan serves rows
      spark.conf.set("spark.sql.codegen.wholeStage", vec)
      try {
      val t = spark.read.format("4mc").option("payload", "csv")
        .schema(genLongSchema).load(dir)
      assert(t.count() == 2000L)
      // exact long domain: old ints read as longs, new values carry >2^32
      val lnSum = t.agg(sum(col("ln"))).head().getLong(0)
      val expectLn = (0L until 1000L).filterNot(_ % 17 == 3).sum +
        (1000L until 2000L).map(_ + (1L << 33)).sum
      assert(lnSum == expectLn, s"widened long sum $lnSum != $expectLn")
      // exact decimal domain across precisions (same scale)
      val amtSum = t.agg(sum(col("amt"))).head().getDecimal(0)
      val expectAmt = ((0L until 2000L).map(i => BigDecimal(i) / 10).sum +
        BigDecimal("100000000000.00") * 1000).underlying.setScale(2)
      assert(amtSum.compareTo(expectAmt) == 0, s"widened decimal sum $amtSum != $expectAmt")
      // null semantics survive widening
      assert(t.filter(col("ln").isNull).count() ==
        (0L until 1000L).count(_ % 17 == 3).toLong)
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("type widening keeps zone pruning active on the widened columns") {
    val dir = tmpDir()
    writeWidened(dir, "columnar")
    val t = spark.read.format("4mc").option("payload", "csv")
      .schema(genLongSchema).load(dir)
    // long predicate over the widened int column: the old generation's
    // blocks (ln < 1000) must refute via their INT-tagged zone maps.
    // (sum(id * 2) keeps the aggregate un-pushable, so this exercises the
    // DATA SCAN's keepBlocks path, not the stats relation.)
    FourMcScanMetrics.reset()
    assert(t.filter(col("ln") >= (1L << 33)).agg(sum(col("id") * lit(2)))
      .head().getLong(0) == (1000L until 2000L).map(_ * 2).sum)
    val skipped = FourMcScanMetrics.blocksSkipped.sum
    val read = FourMcScanMetrics.blocksRead.sum
    assert(skipped > 0,
      s"int-tagged zones must prune under a long read schema (read=$read skipped=$skipped)")
    // decimal predicate at the shared scale: gen1 (amt < 100) refutes
    FourMcScanMetrics.reset()
    assert(t.filter(col("amt") > new java.math.BigDecimal("100000000000.00"))
      .agg(sum(col("id") * lit(2))).head().getLong(0) == (1000L until 2000L).map(_ * 2).sum)
    assert(FourMcScanMetrics.blocksSkipped.sum > 0,
      "decimal zones must prune across precision growth")
    // COUNT(*) with the widened-column filter routes through the aggregate
    // pushdown: widened files keep the stats path (zero block decodes for
    // wholly-classified blocks)
    FourMcScanMetrics.reset()
    assert(t.filter(col("ln") >= (1L << 33)).count() == 1000L)
    assert(FourMcScanMetrics.blocksRead.sum == 0L,
      "widened stats must classify every block without decoding")
  }

  test("date->timestamp read schema is refused with a clear error") {
    val dir = tmpDir()
    val dSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", DateType, nullable = true)))
    val g = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 100L).map(i => Row(i, java.sql.Date.valueOf("2024-01-0" + (1 + i % 9)))), 1), dSchema)
    g.write.format("4mc").option("payload", "csv").save(dir)
    val bad = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", TimestampType, nullable = true)))
    // count() never touches the column (metadata count) and may succeed;
    // any read that PARSES it must fail with actionable guidance
    assert(spark.read.format("4mc").option("payload", "csv").schema(bad).load(dir)
      .count() == 100L)
    val e = intercept[Exception] {
      spark.read.format("4mc").option("payload", "csv").schema(bad).load(dir)
        .select(col("d")).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    val msg = msgs(e)
    assert(msg.contains("written as DATE") && msg.contains("cast"),
      s"date->timestamp must fail with actionable guidance, got: ${msg.take(400)}")
  }

  test("narrower read schema (prefix projection of a wider file) still reads and prunes") {
    val dir = tmpDir()
    val g2 = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 1000L).map(i => Row(i, s"n$i", s"p$i", i / 10.0)), 1), newSchema)
    g2.sortWithinPartitions("id").write.format("4mc").option("payload", "csv")
      .option("blockBytes", (4 * 1024).toString).save(dir)
    val t = spark.read.format("4mc").option("payload", "csv").schema(oldSchema).load(dir)
    assert(t.count() == 1000L)
    FourMcScanMetrics.reset()
    assert(t.filter(col("id") < 100L).agg(sum(col("id") * lit(2))).head().getLong(0)
      == (0L until 100L).map(_ * 2).sum)
    assert(FourMcScanMetrics.blocksSkipped.sum > 0,
      "prefix read schema must keep zone pruning")
  }
}
