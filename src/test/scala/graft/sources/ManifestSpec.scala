package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Directory manifest pruning ([[graft.format.McManifest]] +
  * [[ManifestFileIndex]]): whole files dropped at the DRIVER before task
  * launch, degradation to the plain listing on missing/stale entries.
  */
class ManifestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("manifest")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one task per file regardless of size: file-count assertions below
      // are really task-count assertions
      .config("spark.sql.files.openCostInBytes", (64L * 1024 * 1024).toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc-manifest").toFile
    d.delete(); d.getAbsolutePath
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cat", StringType, nullable = true),
    StructField("v", DoubleType, nullable = true)))

  /** nFiles files, file i holding ids [i*5000, (i+1)*5000) and category
    * "c<i>" — id ranges and categories are file-disjoint, the layout
    * manifest pruning exists for.
    */
  private def writeFiles(dir: String, nFiles: Int): Unit = {
    for (i <- 0 until nFiles) {
      val rows = (i * 5000 until (i + 1) * 5000).map { j =>
        Row(j.toLong, s"c$i", j / 7.0)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .format("4mc").option("payload", "csv").save(dir)
    }
  }

  private def hconf = spark.sessionState.newHadoopConf()

  private def scan(dir: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)

  private def numFilesRead(df: DataFrame): Long = {
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec        => unwrap(q.plan)
        case other => other +: other.children.flatMap(unwrap)
      }
    unwrap(df.queryExecution.executedPlan).collectFirst {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.getOrElse(-1L)
  }

  test("selective range predicate prunes whole files; tasks follow surviving files") {
    val dir = tmpDir()
    writeFiles(dir, 8)
    val n = graft.format.McManifest.write(dir, hconf)
    assert(n == 8, s"manifest must cover all 8 files, got $n")
    // ground truth without pruning
    spark.conf.set("spark.graft.fourmc.manifestPruning", "false")
    val (expect, baseFiles) =
      try {
        val q = scan(dir).filter(col("id") >= 15000L && col("id") < 20000L)
          .agg(count(lit(1)), sum(col("id")))
        (q.collect().head, numFilesRead(scan(dir).filter(col("id") >= 15000L && col("id") < 20000L)
          .agg(count(lit(1)), sum(col("id")))))
      } finally spark.conf.set("spark.graft.fourmc.manifestPruning", "true")
    assert(baseFiles == 8L, s"without pruning all files list, got $baseFiles")
    FourMcScanMetrics.reset()
    val q = scan(dir).filter(col("id") >= 15000L && col("id") < 20000L)
      .agg(count(lit(1)), sum(col("id")))
    assert(q.collect().head == expect)
    assert(numFilesRead(scan(dir).filter(col("id") >= 15000L && col("id") < 20000L)
      .agg(count(lit(1)), sum(col("id")))) == 1L,
      "only the one id-range-matching file may reach the scan")
    assert(FourMcScanMetrics.manifestFilesPruned.sum() > 0L)
  }

  test("string dict refutation prunes files on equality and IN") {
    val dir = tmpDir()
    writeFiles(dir, 6)
    graft.format.McManifest.write(dir, hconf)
    val q = scan(dir).filter(col("cat") === "c2").agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 5000L)
    assert(numFilesRead(scan(dir).filter(col("cat") === "c2").agg(count(lit(1)))) == 1L,
      "file-level dict membership must refute the other categories' files")
    assert(numFilesRead(scan(dir).filter(col("cat").isin("c1", "c4"))
      .agg(count(lit(1)))) == 2L)
  }

  test("missing manifest degrades to the plain listing, values identical") {
    val dir = tmpDir()
    writeFiles(dir, 4)
    val q = scan(dir).filter(col("id") < 5000L).agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 5000L)
    assert(numFilesRead(scan(dir).filter(col("id") < 5000L).agg(count(lit(1)))) == 4L,
      "no manifest: every file lists (block pruning still applies executor-side)")
  }

  test("stale manifest: files written after it stay unpruned and readable") {
    val dir = tmpDir()
    writeFiles(dir, 3)
    graft.format.McManifest.write(dir, hconf)
    // a 4th file lands AFTER the manifest: absent entry → always kept
    val rows = (90000 until 95000).map(j => Row(j.toLong, "late", j / 7.0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.mode("append").format("4mc").option("payload", "csv").save(dir)
    val q = scan(dir).filter(col("id") >= 90000L).agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 5000L,
      "rows of a post-manifest file must never be lost")
    // the 3 manifested files prune; the unmanifested one is kept
    assert(numFilesRead(scan(dir).filter(col("id") >= 90000L).agg(count(lit(1)))) == 1L)
    // refresh picks the late file up incrementally
    val n = graft.format.McManifest.write(dir, hconf)
    assert(n == 4)
    assert(numFilesRead(scan(dir).filter(col("cat") === "late").agg(count(lit(1)))) == 1L)
  }

  test("mixed-generation dirs group by tag vector and prune within each") {
    val dir = tmpDir()
    writeFiles(dir, 2) // 3-column generation
    val wide = StructType(schema.fields :+ StructField("extra", LongType, nullable = true))
    val rows = (50000 until 55000).map(j => Row(j.toLong, "w", j / 7.0, j * 2L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), wide)
      .coalesce(1).write.mode("append").format("4mc").option("payload", "csv").save(dir)
    graft.format.McManifest.write(dir, hconf)
    val t = spark.read.format("4mc").option("payload", "csv").schema(wide).load(dir)
    assert(t.count() == 15000L)
    // id predicate prunes across BOTH generations' groups
    assert(numFilesRead(t.filter(col("id") >= 50000L).agg(count(lit(1)))) == 1L)
    // absent-column predicate refutes the old generation's files entirely
    assert(numFilesRead(t.filter(col("extra").isNotNull).agg(count(lit(1)))) == 1L)
  }

  test("conf off keeps the plain listing") {
    val dir = tmpDir()
    writeFiles(dir, 3)
    graft.format.McManifest.write(dir, hconf)
    spark.conf.set("spark.graft.fourmc.manifestPruning", "false")
    try {
      assert(numFilesRead(scan(dir).filter(col("id") < 100L).agg(count(lit(1)))) == 3L)
    } finally spark.conf.set("spark.graft.fourmc.manifestPruning", "true")
  }

  test("fully-covered manifest answers COUNT(*) with zero tasks") {
    val dir = tmpDir()
    writeFiles(dir, 4)
    graft.format.McManifest.write(dir, hconf)
    def q() = scan(dir).agg(count(lit(1)).as("n"))
    // numFilesRead returns -1 when NO file scan exists in the plan — the
    // count came from the manifest as a local relation
    assert(q().collect().head.getLong(0) == 20000L)
    assert(numFilesRead(q()) == -1L,
      "covered count must plan with no file scan at all")
    assert(scan(dir).count() == 20000L) // Dataset.count() takes the same path
    // a file landing after the manifest: coverage breaks -> metadata-count
    // path per file, value still exact
    val rows = (90000 until 92000).map(j => Row(j.toLong, "late", j / 7.0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.mode("append").format("4mc").option("payload", "csv").save(dir)
    assert(q().collect().head.getLong(0) == 22000L)
    assert(numFilesRead(q()) == 5L, "uncovered dir must fall back to the file scan")
    // refresh restores the zero-task plan
    graft.format.McManifest.write(dir, hconf)
    assert(q().collect().head.getLong(0) == 22000L)
    assert(numFilesRead(q()) == -1L)
    // conf off keeps the scan
    spark.conf.set("spark.graft.fourmc.manifestCount", "false")
    try assert(numFilesRead(q()) == 5L)
    finally spark.conf.set("spark.graft.fourmc.manifestCount", "true")
    // grouped / filtered counts never take the shortcut
    assert(numFilesRead(scan(dir).filter(col("id") >= 0L).agg(count(lit(1)))) >= 1L)
  }

  test("hive-partitioned layout: manifest prunes within partitions, count stays zero-task") {
    val dir = tmpDir()
    import org.apache.spark.sql.functions._
    val rows = (0 until 30000).map { j =>
      Row(j.toLong, s"c${j / 10000}", j / 7.0)
    }
    // 3 partition dirs (p=c0/c1/c2), each range-written as 2+ files so the
    // manifest's RELATIVE paths carry the partition subdirs
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .withColumnRenamed("cat", "p")
      .repartitionByRange(6, col("id"))
      .write.format("4mc").option("payload", "csv")
      .partitionBy("p").mode("overwrite").save(dir)
    graft.format.McManifest.write(dir, hconf)
    val readSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    def scanP(): DataFrame =
      spark.read.format("4mc").option("payload", "csv").schema(readSchema).load(dir)
    // partition filter composes with manifest range pruning on id
    val q = scanP().filter(col("p") === "c1" && col("id") < 12000L)
      .agg(count(lit(1)).as("n"), sum(col("id") * lit(2)).as("s"))
    assert(q.collect().head.getLong(0) == 2000L) // ids 10000..11999 in c1
    val files = numFilesRead(scanP().filter(col("p") === "c1" && col("id") < 12000L)
      .agg(count(lit(1)), sum(col("id") * lit(2))))
    assert(files >= 1L && files <= 2L,
      s"partition pruning + manifest range pruning must compose, read $files files")
    // a bare count over the whole partitioned dir: zero-task literal
    assert(scanP().count() == 30000L)
    assert(numFilesRead(scanP().agg(count(lit(1)))) == -1L,
      "covered partitioned count must plan with no file scan")
  }

  test("manifest round-trip: serialize/parse preserves entries; corruption detected") {
    val dir = tmpDir()
    writeFiles(dir, 2)
    graft.format.McManifest.write(dir, hconf)
    val p = new java.io.File(dir, graft.format.McManifest.FileName)
    val bytes = java.nio.file.Files.readAllBytes(p.toPath)
    val m = graft.format.McManifest.parse(bytes).get
    assert(m.entries.length == 2)
    assert(m.entries.forall(_.tags.length == 3))
    assert(m.groups.length == 1)
    val bad = bytes.clone(); bad(20) = (bad(20) ^ 0x7f).toByte
    intercept[java.io.IOException] { graft.format.McManifest.parse(bad) }
    // a corrupt on-disk manifest degrades to the plain listing
    java.nio.file.Files.write(p.toPath, bad)
    assert(numFilesRead(scan(dir).filter(col("id") < 100L).agg(count(lit(1)))) == 2L)
    assert(scan(dir).count() == 10000L)
  }

  test("manifest write skips files under hidden directories (_temporary/.staging)") {
    val dir = tmpDir()
    writeFiles(dir, 2)
    // simulate an in-flight Spark write racing the refresh: a task-attempt
    // file under _temporary, plus a .staging dir — neither may become a
    // permanent manifest entry (r16 advice: the NAME filter alone let the
    // recursive listing record these)
    val dataFile = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".4mc")).head
    val tmpSub = new java.io.File(dir, "_temporary/0/task_000/")
    val stgSub = new java.io.File(dir, ".staging/job1/")
    tmpSub.mkdirs(); stgSub.mkdirs()
    java.nio.file.Files.copy(dataFile.toPath,
      new java.io.File(tmpSub, "part-inflight.4mc").toPath)
    java.nio.file.Files.copy(dataFile.toPath,
      new java.io.File(stgSub, "part-staged.4mc").toPath)
    val n = graft.format.McManifest.write(dir, hconf)
    assert(n == 2, s"expected 2 committed entries, manifest recorded $n")
    val bytes = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, graft.format.McManifest.FileName).toPath)
    val m = graft.format.McManifest.parse(bytes).get
    assert(m.entries.forall(e => !e.path.contains("_temporary") && !e.path.contains(".staging")))
  }

  test("option(manifest=true): a fresh write is manifest-covered, appends refresh it") {
    val dir = tmpDir()
    // fresh write WITH the option — no CLI step, no explicit refresh
    for (i <- 0 until 4) {
      val rows = (i * 5000 until (i + 1) * 5000).map(j => Row(j.toLong, s"c$i", j / 7.0))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .format("4mc").option("payload", "csv").option("manifest", "true").save(dir)
    }
    assert(new java.io.File(dir, graft.format.McManifest.FileName).exists(),
      "the write itself must leave a manifest")
    // covered: zero-task COUNT(*) and file pruning, straight off the write
    assert(scan(dir).count() == 20000L)
    assert(numFilesRead(scan(dir).agg(count(lit(1)))) == -1L,
      "a manifested write must take the zero-task count path")
    assert(numFilesRead(scan(dir).filter(col("id") < 3000L).agg(count(lit(1)))) == 1L,
      "a manifested write must prune files on a selective range")
    // append WITH the option: the refresh reuses matched entries and the
    // new file joins the manifest — pruning stays sound over both
    val late = (20000 until 25000).map(j => Row(j.toLong, "c4", j / 7.0))
    spark.createDataFrame(spark.sparkContext.parallelize(late, 1), schema)
      .coalesce(1).write.mode("append")
      .format("4mc").option("payload", "csv").option("manifest", "true").save(dir)
    assert(scan(dir).count() == 25000L)
    assert(numFilesRead(scan(dir).agg(count(lit(1)))) == -1L,
      "append with the option must re-cover the dir")
    assert(numFilesRead(scan(dir).filter(col("id") >= 21000L).agg(count(lit(1)))) == 1L)
    val m = graft.format.McManifest.parse(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, graft.format.McManifest.FileName).toPath)).get
    assert(m.entries.length == 5)
    // append WITHOUT the option: manifest goes stale — unmatched file is
    // KEPT (structural degradation), values exact, count falls off the
    // zero-task path instead of going wrong
    val plain = (25000 until 27000).map(j => Row(j.toLong, "c5", j / 7.0))
    spark.createDataFrame(spark.sparkContext.parallelize(plain, 1), schema)
      .coalesce(1).write.mode("append").format("4mc").option("payload", "csv").save(dir)
    assert(scan(dir).count() == 27000L)
    assert(numFilesRead(scan(dir).agg(count(lit(1)))) == 6L)
    // conf off: the option is ignored (no wrapper, no manifest write)
    val dir2 = tmpDir()
    spark.conf.set("spark.graft.fourmc.manifestOnWrite.enabled", "false")
    try {
      spark.createDataFrame(spark.sparkContext.parallelize(late, 1), schema)
        .coalesce(1).write.format("4mc").option("payload", "csv")
        .option("manifest", "true").save(dir2)
      assert(!new java.io.File(dir2, graft.format.McManifest.FileName).exists())
    } finally spark.conf.set("spark.graft.fourmc.manifestOnWrite.enabled", "true")
  }

  test("option(manifest=true) composes with sortBy and partitionBy") {
    val dir = tmpDir()
    val rows = (0 until 30000).map(j => Row(j.toLong, s"c${j % 3}", j / 7.0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .withColumnRenamed("cat", "p")
      .write.format("4mc").option("payload", "csv")
      .option("sortBy", "id").option("sortPartitions", "4")
      .option("manifest", "true")
      .partitionBy("p").mode("overwrite").save(dir)
    assert(new java.io.File(dir, graft.format.McManifest.FileName).exists())
    val readSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    def scanP(): DataFrame =
      spark.read.format("4mc").option("payload", "csv").schema(readSchema).load(dir)
    assert(scanP().count() == 30000L)
    assert(numFilesRead(scanP().agg(count(lit(1)))) == -1L,
      "partitioned sortBy+manifest write must stay zero-task covered")
    // the range shuffle gives file-disjoint id spans inside each partition
    // dir, so a selective range + partition filter reads ≤ 2 files
    val sel = scanP().filter(col("p") === "c1" && col("id") < 4000L).agg(count(lit(1)))
    assert(numFilesRead(sel) <= 2L)
  }

  test("file-level blooms: point lookup on an unsorted key prunes files driver-side") {
    val dir = tmpDir()
    // key j lands in file (j % 4): every file's [min, max] zone spans the
    // whole domain, so only the manifest's file-level blooms can refute
    val nFiles = 4
    for (i <- 0 until nFiles) {
      val rows = (0 until 20000).filter(_ % nFiles == i).map(j => Row(j.toLong, s"c$i", j / 7.0))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .format("4mc").option("payload", "csv")
        .option("bloomColumns", "id").option("manifest", "true").save(dir)
    }
    def lookup(k: Long) = scan(dir).filter(col("id") === k).agg(count(lit(1)), sum(col("v")))
    // zone maps alone keep everything: conf-off baseline reads all 4 files
    spark.conf.set("spark.graft.fourmc.manifestPruning", "false")
    val (expect, baseFiles) =
      try (lookup(8190L).collect().head, numFilesRead(lookup(8190L)))
      finally spark.conf.set("spark.graft.fourmc.manifestPruning", "true")
    assert(baseFiles == nFiles.toLong)
    assert(expect.getLong(0) == 1L)
    // manifest blooms: only the key's file (± a false positive) launches
    assert(lookup(8190L).collect().head == expect)
    val filesRead = numFilesRead(lookup(8190L))
    assert(filesRead <= 2L,
      s"file blooms must refute non-matching files at the driver, read $filesRead")
    // IN across two files: ≤ 2 + fp
    val in2 = scan(dir).filter(col("id").isin(101L, 102L)).agg(count(lit(1)))
    assert(in2.collect().head.getLong(0) == 2L)
    assert(numFilesRead(scan(dir).filter(col("id").isin(101L, 102L)).agg(count(lit(1)))) <= 3L)
    // a key nobody holds: zero files (empty result, no tasks)
    assert(lookup(20001L).collect().head.getLong(0) == 0L)
    assert(numFilesRead(lookup(20001L)) == 0L,
      "an absent key must refute every file driver-side")
    // staleness: a file appended without a refresh is KEPT (no entry), its
    // keys resolve correctly, covered files keep pruning
    val late = (20001 until 20100).map(j => Row(j.toLong, "late", j / 7.0))
    spark.createDataFrame(spark.sparkContext.parallelize(late, 1), schema)
      .coalesce(1).write.mode("append").format("4mc").option("payload", "csv").save(dir)
    assert(lookup(20050L).collect().head.getLong(0) == 1L)
    assert(numFilesRead(lookup(20050L)) == 1L,
      "only the unmatched (kept) file may launch; bloomed files all refute")
  }

  test("multi-root scan: a file consults only its own root's manifest") {
    // root B is a byte-identical copy of root A (same relative names,
    // lengths, mtimes preserved) with a manifest; A has none. A's files
    // must NOT match B's entries of the same (rel, len, mtime) — the
    // verdict map is keyed by root (r16 advice), so only B's refuted file
    // is pruned and both of A's are kept.
    val dirA = tmpDir()
    writeFiles(dirA, 2)
    val dirB = tmpDir()
    import scala.sys.process._
    assert(Seq("cp", "-rp", dirA + "/.", dirB).! == 0)
    graft.format.McManifest.write(dirB, hconf)
    val df = spark.read.format("4mc").option("payload", "csv").schema(schema)
      .load(dirA, dirB)
      .filter(col("id") < 5000L) // refutes file 1 in each root
    assert(df.count() == 10000L) // 5000 matching rows from each root
    // 2 kept in A (no manifest there) + 1 kept in B = 3
    assert(numFilesRead(df.groupBy().agg(count(lit(1)))) == 3L)
  }
}
