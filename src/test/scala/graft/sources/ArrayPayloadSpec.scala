package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Array columns in the typed csv payload (round 12): `array<long>`,
  * `array<float>`, `array<double>` ride one csv field as ';'-joined numeric
  * tokens, element nulls as `\N`, empty field = empty array, field-level
  * `\N` = null array. The signature-table and embedding shapes
  * (PLANS.md round-12 design note).
  */
class ArrayPayloadSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // clear any prior suite's session so withExtensions applies (the agg-
    // pushdown refusal test needs the rule injected) — McAggPushdownSpec's
    // pattern, suite-wide
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("array-payload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = true), nullable = true),
    StructField("emb", ArrayType(FloatType, containsNull = true), nullable = true),
    StructField("vals", ArrayType(DoubleType, containsNull = true), nullable = true),
    StructField("tag", StringType, nullable = true)
  ))

  /** Deterministic fixture covering the encoding corners: null arrays, empty
    * arrays, single-element, null elements, extreme values (Long.MinValue,
    * NaN, ±Infinity, -0.0), and strings alongside (escaping interplay).
    */
  private def fixtureRows(n: Int): Seq[Row] = (0 until n).map { i =>
    val sig: Seq[java.lang.Long] =
      if (i % 7 == 1) Seq.empty
      else if (i % 13 == 2) Seq(null)
      else (0 until i % 5 + 1).map { j =>
        if ((i + j) % 11 == 3) null
        else java.lang.Long.valueOf(
          if (j == 0 && i % 17 == 4) Long.MinValue
          else if (j == 0 && i % 17 == 5) Long.MaxValue
          else i.toLong * 2654435761L + j * 40503L - 1000000L)
      }
    val emb: Seq[java.lang.Float] =
      if (i % 19 == 6) null
      else (0 until 4).map { j =>
        if ((i + j) % 23 == 7) null
        else java.lang.Float.valueOf((i * 0.37f + j * 1.25f - 3f) * (if (j % 2 == 0) 1f else -1f))
      }
    val vals: Seq[java.lang.Double] =
      if (i % 29 == 8) Seq.empty
      else Seq[java.lang.Double](
        if (i % 31 == 9) Double.NaN else i * 0.001 - 5.0,
        if (i % 31 == 10) Double.PositiveInfinity else -0.0,
        if (i % 31 == 11) Double.NegativeInfinity else 1.0 / (i + 1))
    Row(
      i.toLong,
      if (i % 3 == 0 && i % 7 != 1 && i % 13 != 2) null else sig,
      emb,
      vals,
      if (i % 5 == 0) null else s"t|${i}\\x${i % 3}")
  }

  private def writeFixture(rows: Seq[Row], opts: Map[String, String] = Map.empty): String = {
    val dir = Files.createTempDirectory("arr4mc").toString + "/t"
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val w = df.write.format("4mc").option("payload", "csv")
    opts.foreach { case (k, v) => w.option(k, v) }
    w.save(dir)
    dir
  }

  private def normalize(r: Row): (Long, Seq[Any], Seq[Any], Seq[Any], String) = (
    r.getLong(0),
    Option(r.getSeq[Any](1)).map(_.toList).orNull,
    Option(r.getSeq[Any](2)).map(_.toList).orNull,
    Option(r.getSeq[Any](3)).map(_.toList).orNull,
    r.getString(4)
  )

  test("array columns round-trip element-exactly (nulls, empties, extremes)") {
    val rows = fixtureRows(4000)
    val dir = writeFixture(rows)
    val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      .collect().map(normalize).sortBy(_._1)
    val want = rows.map(normalize).sortBy(_._1)
    assert(back.length == want.length)
    back.zip(want).foreach { case (b, w) =>
      // NaN != NaN under ==; compare via pattern-free string render of doubles
      def render(x: Any): String = String.valueOf(x)
      assert(render(b._2) == render(w._2), s"sig mismatch id=${b._1}")
      assert(render(b._3) == render(w._3), s"emb mismatch id=${b._1}")
      assert(render(b._4) == render(w._4), s"vals mismatch id=${b._1}")
      assert(b._5 == w._5, s"tag mismatch id=${b._1}")
    }
  }

  test("split invariance: tiny blocks + tiny splits produce the same rows") {
    val rows = fixtureRows(6000)
    val dir = writeFixture(rows, Map("blockBytes" -> "65536"))
    val whole = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      .agg(count(lit(1)), sum(size(col("sig"))), sum(size(col("emb"))))
      .collect()(0)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "32768")
      val split = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
        .agg(count(lit(1)), sum(size(col("sig"))), sum(size(col("emb"))))
        .collect()(0)
      assert(split == whole)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("array projections vectorize (child-vector decode) and match the row reader") {
    val dir = writeFixture(fixtureRows(2000))
    def read() = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    val scalarPlan = read().groupBy(col("tag")).agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(scalarPlan.contains("Batched: true"),
      s"pruned scalar scan should vectorize:\n$scalarPlan")
    val withArray = read().select(col("id"), col("sig"), col("emb"), col("vals"))
    val arrayPlan = withArray.queryExecution.executedPlan.toString
    assert(arrayPlan.contains("Batched: true"),
      s"array projection should vectorize too:\n$arrayPlan")
    val vectorized = withArray.collect().map(r => r.toString).sorted
    val want = spark.createDataFrame(spark.sparkContext.parallelize(fixtureRows(2000), 1), schema)
      .select(col("id"), col("sig"), col("emb"), col("vals")).collect().map(_.toString).sorted
    assert(vectorized.sameElements(want), "batch decode drift on arrays")
    // rows served from the same batches (Spark asks for rows without
    // whole-stage codegen) carry the same values
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val rowBased = read().select(col("id"), col("sig"), col("emb"), col("vals"))
      assert(rowBased.queryExecution.executedPlan.toString.contains("Batched: false"))
      val rows = rowBased.collect().map(r => r.toString).sorted
      assert(rows.sameElements(want), "rows served from batches drift on arrays")
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("scalar zone-map pruning still fires on tables that carry array columns") {
    // ids ascending across 3 partitions → re-sort into one sorted file
    val rows = fixtureRows(6000)
    val dir = Files.createTempDirectory("arr4mcsorted").toString + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .sortWithinPartitions("id")
      .write.format("4mc").option("payload", "csv").option("blockBytes", "16384").save(dir)
    FourMcScanMetrics.reset()
    val n = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      .filter(col("id") >= 5990L).count()
    assert(n == 10L)
    assert(FourMcScanMetrics.blocksSkipped.sum() > 0,
      "zone maps on the scalar column should skip blocks despite array columns present")
  }

  test("aggregate pushdown refuses array columns but still answers scalars") {
    val dir = writeFixture(fixtureRows(3000))
    val df = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    // scalar min/max: rewritten to the stats relation
    FourMcScanMetrics.reset()
    val scalarRes = df.agg(min(col("id")).as("mn"), max(col("id")).as("mx")).collect()(0)
    assert(scalarRes.getLong(0) == 0L && scalarRes.getLong(1) == 2999L)
    assert(FourMcScanMetrics.statsAggBlocks.sum() > 0, "scalar agg should push into stats")
    // min over the ARRAY column: refused (normal scan), still correct —
    // compare against the same aggregate over the in-memory frame
    FourMcScanMetrics.reset()
    val arrMin = df.agg(min(col("sig")).as("mn_sig")).collect()(0).getSeq[Any](0)
    assert(FourMcScanMetrics.statsAggBlocks.sum() == 0, "array agg must not claim stats blocks")
    val expected = spark.createDataFrame(
      spark.sparkContext.parallelize(fixtureRows(3000), 3), schema)
      .agg(min(col("sig"))).collect()(0).getSeq[Any](0)
    assert(arrMin == expected, s"array min mismatch: $arrMin vs $expected")
  }

  test("4mz arrays + typed compaction: zstd round-trip, compact to lz4, rows exact") {
    val rows = fixtureRows(3000)
    val dir = writeFixture(rows, Map("codec" -> "zstd-3", "blockBytes" -> "131072"))
    val want = rows.map(normalize).sortBy(_._1).map(t => String.valueOf(t))
    def check(d: String): Unit = {
      val got = spark.read.format("4mc").option("payload", "csv").schema(schema).load(d)
        .collect().map(r => String.valueOf(normalize(r))).sorted
      assert(got.sameElements(want.sorted))
    }
    check(dir) // 4mz (zstd) array payload reads back exactly
    val outDir = java.nio.file.Files.createTempDirectory("arrcompact").toString + "/out"
    val (_, nOut, outRows) = graft.ops.Compact.compactCsv(
      spark, dir, outDir, schema, "lz4-fast")
    assert(outRows == 3000L && nOut >= 1)
    check(outDir) // compacted copy preserves arrays element-exactly
  }

  test("corruption inside array-carrying blocks: exactly-once under any split layout") {
    // The scalar-row exactly-once-under-corruption property (FormatProperty-
    // Spec) re-pinned for rows whose PARSE spans child vectors: plant a
    // checksum-breaking byte flip inside blocks of an array table, then
    // check the permissive row multiset is IDENTICAL across split layouts —
    // targeted cuts at/around/inside the victim block plus random cuts.
    val rows = fixtureRows(4000)
    val single = Files.createTempDirectory("arrchaos").toString + "/t"
    locally {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      df.sortWithinPartitions("id").write.format("4mc").option("payload", "csv")
        .option("blockBytes", (16 * 1024).toString).save(single)
    }
    val file = new java.io.File(single).listFiles().filter(_.getName.endsWith(".4mc")).head
    val clean = java.nio.file.Files.readAllBytes(file.toPath)
    val idx = {
      val in0 = graft.format.McInput.local(file.toPath)
      try graft.format.FourMcReader.readIndex(in0) finally in0.close()
    }
    assert(idx.numBlocks >= 8, s"need several blocks, got ${idx.numBlocks}")
    val rnd = new scala.util.Random(17)
    def readRows(maxPartBytes: Long): Seq[String] = {
      spark.conf.set("spark.sql.files.maxPartitionBytes", maxPartBytes.toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      try spark.read.format("4mc").option("payload", "csv")
        .option("ignoreCorruptBlocks", "true").schema(schema).load(single)
        .collect().map(r => String.valueOf(normalize(r))).sorted.toSeq
      finally spark.conf.set("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
    }
    for (v <- Seq(idx.numBlocks / 2, 1, idx.numBlocks - 2)) {
      val mutated = clean.clone()
      val payloadOff = idx.blockOffsets(v).toInt + graft.format.FourMc.BlockHeaderLen
      mutated(payloadOff) = (mutated(payloadOff) ^ 0x5a).toByte
      java.nio.file.Files.write(file.toPath, mutated)
      // invalidate the mtime-keyed index cache (same-second rewrite)
      file.setLastModified(file.lastModified() + 2000 * (v + 1))
      val whole = readRows(1L << 30) // one split: the ground truth
      assert(whole.size < rows.size, "corruption must drop some rows")
      for (partBytes <- Seq(12 * 1024L, 20 * 1024L, 33 * 1024L, 7000L + rnd.nextInt(9000))) {
        val got = readRows(partBytes)
        assert(got == whole,
          s"victim=$v maxPartitionBytes=$partBytes changed the surviving row multiset " +
            s"(${got.size} vs ${whole.size})")
      }
    }
    java.nio.file.Files.write(file.toPath, clean)
  }

  test("count(*) metadata fast path and null counts survive array columns") {
    val rows = fixtureRows(5000)
    val dir = writeFixture(rows)
    val df = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    FourMcScanMetrics.reset()
    assert(df.count() == 5000L)
    assert(FourMcScanMetrics.metadataCountRows.sum() == 5000L,
      "COUNT(*) should stay metadata-only with array columns in the schema")
    // null ARRAY fields round as nulls (not empty arrays)
    val wantNullSig = rows.count(_.isNullAt(1)).toLong
    assert(df.filter(col("sig").isNull).count() == wantNullSig)
    val wantEmptySig = rows.count(r => !r.isNullAt(1) && r.getSeq[Any](1).isEmpty).toLong
    assert(df.filter(col("sig").isNotNull && size(col("sig")) === 0).count() == wantEmptySig)
  }
}
