package graft

import graft.format._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Per-round benchmark. Output contract (r7 verdict item #1 — the driver
  * archives only the LAST 2000 chars of stdout, and a monolithic line lost
  * whole sections to the tail cut three rounds running):
  *
  *  - one self-contained JSON line per section as soon as it completes
  *    ({"section":"gates"|"stress"|"queries"|"sf1"|"stress_pipeline",...}),
  *    so any tail cut drops whole sections, never splits one;
  *  - the COMPLETE artifact (every section + canaries) is also written to
  *    bench/BENCH_full_<sf>.json inside the repo, immune to stdout limits;
  *  - the FINAL line is a compact summary (< ~1 KB) carrying a digest of
  *    every section plus the canary times — it always survives the tail cut
  *    and parses on its own;
  *  - a fixed-work single-thread spin canary is timed at five points
  *    (start, post-gates, pre-queries, post-queries, end). Unloaded this
  *    box runs it in ~200 ms; a contended box inflates it proportionally,
  *    so the artifact carries its own load calibration (r7's 28× q18 swing
  *    on unchanged code was unprovable without this).
  *
  * Codec numbers are single-threaded over the sf lineitem corpus (the
  * reference's numbers are single-threaded silesia runs, FourMcCodec.java:55-60);
  * query numbers are local[32] wall clock, median of 3 after a warmup run.
  */
object Bench {

  /** Fixed-work single-thread spin (xorshift-multiply mix, 2e8 rounds):
    * pure ALU, no allocation, no memory traffic — wall time tracks CPU
    * contention and nothing else. Returns milliseconds.
    */
  def spinCanaryMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 200000000) { x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("spin fixpoint") // defeat dead-code elim
    ms
  }

  /** Median of interleaved twin samples — robust to one-sided lucky minima
    * (the mean is skewed by slow outliers, the min by fast ones).
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // r18 (r17 verdict #1): the full 32-core bench outgrew the driver's wall
    // limit (BENCH_r17.json rc 124 — killed mid-sf10, losing the final
    // summary line, the scaling block, and all driver-verified totals).
    // Sections now run against an overall wall budget: each budgeted section
    // gets at most the time remaining, and the stress-pipeline section —
    // moved LAST, below — absorbs whatever is left, degrading into its
    // rotation/sentinel machinery (which self-heals across runs) instead of
    // the process being killed with sections unemitted.
    val wallBudgetSecs = sys.env.get("SPARK_GRAFT_WALL_BUDGET")
      .flatMap(_.toLongOption).getOrElse(3000L)
    val wallStart = System.nanoTime()
    def remainingSecs: Long =
      wallBudgetSecs - (System.nanoTime() - wallStart) / 1000000000L
    // a section budget is never raised above its default, never below the
    // 60 s floor (so its own deadline sentinels still mark skipped work)
    def capBudget(defaultSecs: Long): Long =
      math.max(60L, math.min(defaultSecs, remainingSecs))
    val canaryStart = spinCanaryMs()
    val sections = scala.collection.mutable.LinkedHashMap[String, String]()
    def emitSection(name: String, body: String): Unit = {
      // body is a JSON object WITHOUT the outer braces' section tag; wrap it
      val line = s"""{"section":"$name",${body.stripPrefix("{")}"""
      sections(name) = line
      println(line)
      Console.out.flush()
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- single-threaded codec throughput on the sf corpus ----------------
    val corpus: Array[Byte] = {
      import spark.implicits._
      // cap the driver-side corpus at sf0.1's row count (~40 MB of text) so
      // a larger SF dir can't OOM the driver for a single-thread micro-bench
      val li = Queries.table(spark, sfDir, "lineitem").limit(600000)
      val lines = li.select(concat_ws("|", li.columns.map(c => col(c).cast("string")).toIndexedSeq: _*))
        .as[String].collect()
      (lines.mkString("\n") + "\n").getBytes("UTF-8")
    }
    val mb = corpus.length / 1e6
    def timeIt[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def codecBench(codec: McCodec): (Double, Double, Double) = {
      val p = Paths.get(s"/tmp/graft-bench${codec.fileExtension}")
      // warmup once (JIT), then measure
      for (_ <- 0 until 2) {
        val w = new FourMcWriter(Files.newOutputStream(p), codec)
        w.write(corpus, 0, corpus.length); w.close()
      }
      // best-of-5: single-thread micro throughput is a CAPABILITY number and
      // sandbox load noise is strictly one-sided (it only slows runs) — the
      // r3 "regression" (942→419 MB/s read with zero codec code changed) was
      // exactly this artifact biting a median-of-3
      val wSec = (0 until 5).map { _ =>
        timeIt {
          val w = new FourMcWriter(Files.newOutputStream(p), codec)
          w.write(corpus, 0, corpus.length); w.close()
        }._2
      }.min
      val ratio = corpus.length.toDouble / Files.size(p)
      def readAll(): Long = {
        val in = McInput.local(p)
        val idx = FourMcReader.readIndex(in)
        var pos = if (idx.numBlocks > 0) idx.blockOffsets(0) else idx.eosPos
        var total = 0L
        var done = pos >= idx.eosPos
        while (!done) {
          val (d, nxt) = FourMcReader.readBlock(in, idx.zstd, pos)
          if (d == null) done = true
          else { total += d.length; pos = nxt; if (pos >= idx.eosPos) done = true }
        }
        in.close(); total
      }
      readAll() // warmup
      val rSec = (0 until 5).map(_ => timeIt(readAll())._2).min
      Files.deleteIfExists(p)
      (mb / wSec, mb / rSec, ratio)
    }
    val (lz4W, lz4R, lz4Ratio) = codecBench(McCodec.Lz4Fast)
    val (zstdW, zstdR, zstdRatio) = codecBench(McCodec.Zstd3)

    // ---- split parallelism on a single multi-block 4mc file ---------------
    val splitDir = "/tmp/graft-bench-split"
    spark.createDataset(new String(corpus, "UTF-8").linesIterator.toSeq)(
      org.apache.spark.sql.Encoders.STRING
    ).toDF("value").coalesce(1).write.mode("overwrite").format("4mc").save(splitDir)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
    val nParts = spark.read.format("4mc").load(splitDir).rdd.getNumPartitions
    spark.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024 * 1024).toString)

    val canaryPostGates = spinCanaryMs()
    emitSection("gates",
      f"""{"sf":"$sfDir","corpus_mb":$mb%.1f,"lz4_write_mbps":$lz4W%.0f,"lz4_read_mbps":$lz4R%.0f,"lz4_ratio":$lz4Ratio%.3f,"zstd_write_mbps":$zstdW%.0f,"zstd_read_mbps":$zstdR%.0f,"zstd_ratio":$zstdRatio%.3f,"split_partitions_4mib":$nParts,"canary_start_ms":$canaryStart%.0f,"canary_post_gates_ms":$canaryPostGates%.0f}""")

    // ---- stress: a single >=2 GiB container file ---------------------------
    // Exercises the split planner at realistic file size: partition count
    // must equal the byte-range math, and the block-parallel scan should
    // beat the single-threaded sequential read by a wide margin (the
    // 24-vs-1 headline at 2 GB instead of 40 MB). The generated file is
    // cached in /tmp across runs. SPARK_GRAFT_STRESS=0 skips.
    val stress: Option[(Double, Int, Int, Double, Double, Double)] =
      if (sys.env.get("SPARK_GRAFT_STRESS").contains("0")) None
      else {
        val dir = new java.io.File("/tmp/graft-stress")
        dir.mkdirs()
        val big = new java.io.File(dir, "big.4mc")
        val targetBytes = 2L * 1024 * 1024 * 1024
        if (!big.exists() || big.length() < 100L * 1024 * 1024) {
          // write to a temp name, rename on success: a run killed
          // mid-generation must not leave a footerless file that poisons
          // every later bench via the size-only reuse check
          val tmp = new java.io.File(dir, "big.4mc.tmp")
          val w = new FourMcWriter(
            new java.io.BufferedOutputStream(Files.newOutputStream(tmp.toPath), 1 << 20),
            McCodec.Lz4Fast)
          var written = 0L
          while (written < targetBytes) { w.write(corpus, 0, corpus.length); written += corpus.length }
          w.close()
          Files.move(tmp.toPath, big.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        val fileBytes = big.length()
        // sequential single-thread baseline over the same file
        val t0 = System.nanoTime()
        var seqBytes = 0L
        locally {
          val in = McInput.local(big.toPath)
          val idx = FourMcReader.readIndex(in)
          var pos = if (idx.numBlocks > 0) idx.blockOffsets(0) else idx.eosPos
          while (pos < idx.eosPos) {
            val (d, nxt) = FourMcReader.readBlock(in, idx.zstd, pos)
            if (d == null) pos = idx.eosPos else { seqBytes += d.length; pos = nxt }
          }
          in.close()
        }
        val seqSecs = (System.nanoTime() - t0) / 1e9
        // block-parallel scan at a pinned 32 MiB split size
        val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
        val df = spark.read.format("4mc").load(big.getAbsolutePath)
        val nP = df.rdd.getNumPartitions
        val expectP = ((fileBytes + 32L * 1024 * 1024 - 1) / (32L * 1024 * 1024)).toInt
        df.count() // warm
        val t1 = System.nanoTime()
        df.count()
        val parSecs = (System.nanoTime() - t1) / 1e9
        // same row-materializing work on ONE task: the honest 1-vs-32 ratio
        val t2 = System.nanoTime()
        df.coalesce(1).count()
        val oneSecs = (System.nanoTime() - t2) / 1e9
        // typed csv parse + Q1 aggregate over the whole 2 GiB file: the
        // realistic "query a big compressed file" number (timestamps in the
        // corpus are cast-to-string, second precision)
        val li = Queries.table(spark, sfDir, "lineitem").limit(1)
        val typedSchema = li.schema
        val typed = spark.read.format("4mc")
          .option("payload", "csv")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .schema(typedSchema)
          .load(big.getAbsolutePath)
        Queries.q1Over(typed).count() // warm
        val q1Secs = (0 until 2).map { _ =>
          val t3 = System.nanoTime()
          Queries.q1Over(typed).count()
          (System.nanoTime() - t3) / 1e9
        }.min
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        Some((seqBytes / 1e6, nP, expectP, math.max(seqSecs, oneSecs), parSecs, q1Secs))
      }
    stress.foreach { case (smb, nP, expP, seqS, parS, q1S) =>
      emitSection("stress",
        f"""{"stress_uncompressed_mb":$smb%.0f,"stress_partitions":$nP,"stress_expected_partitions":$expP,"stress_seq_read_secs":$seqS%.2f,"stress_parallel_scan_secs":$parS%.2f,"stress_speedup":${seqS / math.max(0.001, parS)}%.1f,"stress_typed_q1_secs":$q1S%.2f}""")
    }

    // ---- many-file planning + compaction gate ------------------------------
    // 10k tiny container files: the standing failure mode of streaming
    // ingest at 100 TB. Driver cost must be LISTING, not footer I/O —
    // footer-index reads are counted (FourMcScanMetrics.footerReads) and
    // asserted ZERO during planning; they happen inside tasks. Compact then
    // closes the loop: re-filed at 64 MiB targets, planning AND scanning are
    // re-measured on the same rows. Input dir cached in /tmp;
    // SPARK_GRAFT_SMALLFILES=0 skips.
    val smallFiles: Option[String] =
      if (sys.env.get("SPARK_GRAFT_SMALLFILES").contains("0")) None
      else try {
        val nFiles = 10000
        val root = new java.io.File("/tmp/graft-small-files")
        val inDir = new java.io.File(root, "in")
        def count4mc(d: java.io.File): Int = {
          val k = d.listFiles()
          if (k == null) 0 else k.count(f => f.getName.endsWith(".4mc"))
        }
        if (count4mc(inDir) != nFiles) {
          spark.range(0, 2000000L)
            .select(format_string("r%09d|%s", col("id"), lit("x" * 24)).as("value"))
            .repartition(nFiles)
            .write.mode("overwrite").format("4mc").save(inDir.getAbsolutePath)
        }
        val metrics = graft.sources.FourMcScanMetrics
        val f0 = metrics.footerReads.sum()
        val tP0 = System.nanoTime()
        val df = spark.read.format("4mc").load(inDir.getAbsolutePath)
        val planParts = df.queryExecution.toRdd.partitions.length
        val planSecs = (System.nanoTime() - tP0) / 1e9
        val footersDuringPlan = metrics.footerReads.sum() - f0
        val tS0 = System.nanoTime()
        val rows = df.count()
        val scanSecs = (System.nanoTime() - tS0) / 1e9
        val outDir = new java.io.File(root, "compacted")
        val tC0 = System.nanoTime()
        val (nIn, nOut, outRows) = graft.ops.Compact.compactText(
          spark, inDir.getAbsolutePath, outDir.getAbsolutePath, "zstd-3", 64L * 1024 * 1024)
        val compactSecs = (System.nanoTime() - tC0) / 1e9
        val tP1 = System.nanoTime()
        val dfC = spark.read.format("4mc").load(outDir.getAbsolutePath)
        val planPartsC = dfC.queryExecution.toRdd.partitions.length
        val planSecsC = (System.nanoTime() - tP1) / 1e9
        val tS1 = System.nanoTime()
        val rowsC = dfC.count()
        val scanSecsC = (System.nanoTime() - tS1) / 1e9
        // block-aligned splits give the big compacted file its parallelism
        // back — the whole point of a splittable container: compaction
        // removes per-file overhead WITHOUT serializing the scan.
        // finally-restored: an exception here is swallowed by the section's
        // catch, and a leaked 4 MiB setting would distort every later
        // section's timings
        val prevMaxPB = spark.conf.get("spark.sql.files.maxPartitionBytes")
        val (planPartsC4, rowsC4, scanSecsC4) =
          try {
            spark.conf.set("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
            val dfC4 = spark.read.format("4mc").load(outDir.getAbsolutePath)
            val p = dfC4.queryExecution.toRdd.partitions.length
            val tS2 = System.nanoTime()
            val r = dfC4.count()
            (p, r, (System.nanoTime() - tS2) / 1e9)
          } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMaxPB)
        // r16: directory-manifest FILE pruning at many-file scale — a
        // selective non-partition-key predicate over a range-keyed 1000-file
        // csv dir, A/B with the conf toggled. Tasks (scan RDD partitions)
        // and wall time must track SURVIVING files, not directory size.
        // The aggregate is deliberately un-pushable (sum(k*2)) so this
        // measures the data-scan path, not the stats relation.
        val mfDir = new java.io.File(root, "manifested")
        val mfFiles = 1000
        val mfSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("pad",
            org.apache.spark.sql.types.StringType, nullable = true)))
        if (count4mc(mfDir) != mfFiles) {
          spark.range(0, 10000000L)
            .select(col("id").as("k"), lit("y" * 24).as("pad"))
            .repartitionByRange(mfFiles, col("k"))
            .write.mode("overwrite").format("4mc").option("payload", "csv")
            .save(mfDir.getAbsolutePath)
        }
        // always refresh: incremental (entries reused by identity), and it
        // upgrades cached dirs across manifest format versions
        graft.format.McManifest.write(
          mfDir.getAbsolutePath, spark.sessionState.newHadoopConf())
        def mfScan() = spark.read.format("4mc").option("payload", "csv")
          .schema(mfSchema).load(mfDir.getAbsolutePath)
          .filter(col("k") >= 5000000L && col("k") < 5010000L)
        def mfMeasure(): (Int, Double, Long) = {
          // task count from the SCAN stage (the filter-only plan), not the
          // aggregate's post-shuffle RDD (always 1 under AQE)
          val parts = mfScan().queryExecution.toRdd.partitions.length
          val q = mfScan().agg(sum(col("k") * lit(2)))
          val t0 = System.nanoTime()
          val v = q.collect().head.getLong(0)
          (parts, (System.nanoTime() - t0) / 1e9, v)
        }
        val (mfPartsOff, mfSecsOff, mfValOff) =
          try {
            spark.conf.set("spark.graft.fourmc.manifestPruning", "false")
            mfMeasure(); mfMeasure() // warm
            mfMeasure()
          } finally spark.conf.set("spark.graft.fourmc.manifestPruning", "true")
        metrics.manifestFilesPruned.reset()
        mfMeasure() // warm the pruned path
        val (mfPartsOn, mfSecsOn, mfValOn) = mfMeasure()
        val mfPruned = metrics.manifestFilesPruned.sum()
        Some(
          f"""{"small_files":$nIn,"small_files_plan_secs":$planSecs%.2f,"small_files_plan_partitions":$planParts,"footer_reads_during_plan":$footersDuringPlan,"small_files_scan_secs":$scanSecs%.2f,"rows":$rows,"compact_secs":$compactSecs%.2f,"compacted_files":$nOut,"compacted_plan_secs":$planSecsC%.2f,"compacted_plan_partitions":$planPartsC,"compacted_scan_secs":$scanSecsC%.2f,"compacted_scan_4mib_partitions":$planPartsC4,"compacted_scan_4mib_secs":$scanSecsC4%.2f,"rows_preserved":${rows == outRows && rows == rowsC && rows == rowsC4},"manifest_files":$mfFiles,"manifest_tasks_off":$mfPartsOff,"manifest_tasks_on":$mfPartsOn,"manifest_scan_secs_off":$mfSecsOff%.3f,"manifest_scan_secs_on":$mfSecsOn%.3f,"manifest_files_pruned":$mfPruned,"manifest_values_equal":${mfValOff == mfValOn}}""")
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] small_files gate failed: ${e.getMessage}")
          None
      }
    smallFiles.foreach(emitSection("small_files", _))

    // ---- bloom point-lookup gate -------------------------------------------
    // A high-cardinality key PERMUTED across an unsorted table: zone maps
    // keep every block (each [min,max] spans the domain), so every skipped
    // block is the bloom segment's. Measures the needle-lookup twins (same
    // data with and without bloomColumns) plus the filter's size overhead —
    // the evidence that ~1% of file size buys a ~#blocks-fold decode
    // reduction, the shape that matters at 100 TB. SPARK_GRAFT_BLOOM=0 skips.
    val bloomGate: Option[String] =
      if (sys.env.get("SPARK_GRAFT_BLOOM").contains("0")) None
      else try {
        val n = 3000000L
        val root = new java.io.File("/tmp/graft-bloom-gate")
        val plainDir = new java.io.File(root, "plain")
        val bloomDir = new java.io.File(root, "bloom")
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("pad", org.apache.spark.sql.types.StringType)))
        def gen = spark.createDataFrame(
          spark.sparkContext.parallelize(0L until n, 4).map { i =>
            org.apache.spark.sql.Row((i * 2654435761L) % n, "x" * 40)
          }, schema)
        if (!new java.io.File(plainDir, "_SUCCESS").exists())
          gen.write.mode("overwrite").format("4mc").option("payload", "csv")
            .save(plainDir.getAbsolutePath)
        if (!new java.io.File(bloomDir, "_SUCCESS").exists())
          gen.write.mode("overwrite").format("4mc").option("payload", "csv")
            .option("bloomColumns", "key").save(bloomDir.getAbsolutePath)
        def dirBytes(d: java.io.File): Long =
          d.listFiles().filter(_.getName.endsWith(".4mc")).map(_.length).sum
        val overheadPct =
          100.0 * (dirBytes(bloomDir) - dirBytes(plainDir)) / dirBytes(plainDir)
        def lookup(dir: java.io.File): org.apache.spark.sql.DataFrame =
          spark.read.format("4mc").option("payload", "csv").schema(schema)
            .load(dir.getAbsolutePath).filter(col("key") === 1234567L)
        def t3(d: java.io.File): Double = {
          lookup(d).count() // warm
          (1 to 3).map { _ =>
            val t0 = System.nanoTime(); lookup(d).count(); (System.nanoTime() - t0) / 1e9
          }.min
        }
        val metrics = graft.sources.FourMcScanMetrics
        val plainSecs = t3(plainDir)
        val bloomSecs = t3(bloomDir)
        metrics.reset()
        lookup(bloomDir).count()
        val skipped = metrics.blocksSkipped.sum()
        val read = metrics.blocksRead.sum()
        Some(
          f"""{"rows":$n,"bloom_overhead_pct":$overheadPct%.2f,"plain_lookup_secs":$plainSecs%.3f,"bloom_lookup_secs":$bloomSecs%.3f,"bloom_speedup":${plainSecs / math.max(bloomSecs, 1e-9)}%.1f,"bloom_blocks_read":$read,"bloom_blocks_skipped":$skipped}""")
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] bloom gate failed: ${e.getMessage}")
          None
      }
    bloomGate.foreach(emitSection("bloom", _))

    // ---- array-payload gate (round 12) -------------------------------------
    // 1M-row signature/embedding fixture (16-long sig + 64-float emb per
    // row): element-mass aggregate over (a) the vectorized 4mc array scan,
    // (b) its parquet twin — A/B-interleaved median-of-5 (the r11 twin
    // protocol) — plus the on-disk byte ratio (text-encoded floats cost
    // bytes; the gate keeps that trade-off visible). SPARK_GRAFT_ARRAYS=0 skips.
    val arraysGate: Option[String] =
      if (sys.env.get("SPARK_GRAFT_ARRAYS").contains("0")) None
      else try {
        val n = 1000000L
        // fixture dir VERSIONED by the payload encoding revision: a stale
        // _SUCCESS from an older encoder must not get benchmarked (and
        // byte-compared) as if the current writer produced it (r12 advice).
        // Bump the suffix whenever the csv payload encoding changes.
        val root = new java.io.File(s"/tmp/graft-arrays-gate-${graft.format.FourMc.PayloadRevision}")
        val mcDir = new java.io.File(root, "mc")
        val pqDir = new java.io.File(root, "pq")
        val src = spark.range(0, n, 1, 16).select(
          col("id"),
          expr("transform(sequence(1L, 16L), x -> (id * 2654435761L + x * 40503L) % 1000000007L)").as("sig"),
          expr("transform(sequence(1L, 64L), x -> CAST(sin(id * 0.001 + x) AS FLOAT))").as("emb"))
        if (!new java.io.File(mcDir, "_SUCCESS").exists())
          src.write.mode("overwrite").format("4mc").option("payload", "csv")
            .save(mcDir.getAbsolutePath)
        if (!new java.io.File(pqDir, "_SUCCESS").exists())
          src.write.mode("overwrite").parquet(pqDir.getAbsolutePath)
        val schema = src.schema
        def agg(df: org.apache.spark.sql.DataFrame): Unit =
          df.agg(
            sum(expr("aggregate(sig, 0L, (a, x) -> a + x)")),
            sum(expr("aggregate(emb, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))")))
            .collect()
        def mcScan(): Unit = agg(spark.read.format("4mc").option("payload", "csv")
          .schema(schema).load(mcDir.getAbsolutePath))
        def pqScan(): Unit = agg(spark.read.parquet(pqDir.getAbsolutePath))
        def time(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
        mcScan(); pqScan() // warm both paths + page cache
        val samples = (1 to 5).map(_ => (time(mcScan()), time(pqScan())))
        val mcSecs = median(samples.map(_._1))
        val pqSecs = median(samples.map(_._2))
        def dirBytes(d: java.io.File): Long =
          d.listFiles().filter(f => !f.getName.startsWith("_")).map(_.length).sum
        Some(
          f"""{"rows":$n,"mc_bytes":${dirBytes(mcDir)},"pq_bytes":${dirBytes(pqDir)},"array_scan_secs":$mcSecs%.3f,"array_scan_parquet_secs":$pqSecs%.3f,"array_twin_ratio":${mcSecs / math.max(pqSecs, 1e-9)}%.2f}""")
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] arrays gate failed: ${e.getMessage}")
          None
      }
    arraysGate.foreach(emitSection("arrays", _))

    // ---- query wall clock: median of 3 after a warmup run -----------------
    // (run 1 pays JVM/codegen warmup and fills round-trip caches; medians
    // absorb the ±10% scheduler noise local[32] shows at this scale)
    // Local-iteration filter (comma-separated names); driver sets nothing.
    val selected = SparkEntry.selectQueries(
      sys.env.get("SPARK_GRAFT_ONLY"),
      m => System.err.println(s"[bench] WARNING: $m"))
    if (selected.isEmpty) {
      System.err.println("[bench] ERROR: selection matched zero queries")
      sys.exit(2)
    }
    graft.sources.FourMcScanMetrics.reset()
    val canaryPreQueries = spinCanaryMs()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      def run(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}"); return -1.0 }
        (System.nanoTime() - t0) / 1e9
      }
      val warm = run()
      val samples = Seq(run(), run(), run())
      name -> (if (warm < 0 || samples.exists(_ < 0)) -1.0 else samples.sorted.apply(1))
    }
    val canaryPostQueries = spinCanaryMs()
    // block-stats pruning effectiveness across the query set (4 runs each):
    // skipped = owned blocks never decompressed by the pruned csv scan path
    val prunedRead = graft.sources.FourMcScanMetrics.blocksRead.sum()
    val prunedSkipped = graft.sources.FourMcScanMetrics.blocksSkipped.sum()
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    emitSection("queries",
      f"""{"sf":"$sfDir","total_secs":$total%.3f,"n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},"canary_pre_ms":$canaryPreQueries%.0f,"canary_post_ms":$canaryPostQueries%.0f,"pruned_blocks_read":$prunedRead,"pruned_blocks_skipped":$prunedSkipped,"queries":$qs}""")

    // ---- sf1 relational section: 10x facts, same dims ---------------------
    // The 22 TPC-H rows + the lineitem/orders container twins at 10x the
    // fact volume: broadcast-vs-SMJ flips, AQE coalescing, and the
    // block-stats pruning only show their scale behavior here. Gate: every
    // container twin < 2x its parquet twin at the SAME scale.
    // SPARK_GRAFT_SF1=0 skips; any other int overrides the factor.
    // digest for the summary line: (n measured, total secs over measured)
    var sf1Digest: Option[(Int, Double)] = None
    if (!sys.env.get("SPARK_GRAFT_SF1").contains("0")) {
        val factor = sys.env.get("SPARK_GRAFT_SF1")
          .flatMap(_.toIntOption).filter(_ > 0).getOrElse(10)
        val budget = sys.env.get("SPARK_GRAFT_SF1_BUDGET")
          .flatMap(_.toLongOption).getOrElse(capBudget(600L))
        try {
          val tGen = System.nanoTime()
          val dir = tools.RelationalScale.ensureScaled(spark, sfDir, factor)
          val genSecs = (System.nanoTime() - tGen) / 1e9
          val deadline = System.nanoTime() + budget * 1000000000L
          val sf1Names = Seq(
            "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
            "q4_order_priority", "q5_local_supplier", "q6_forecast",
            "q7_nation_volume", "q8_market_share", "q9_profit_nation",
            "q10_returned_items", "q11_important_parts", "q12_priority_class",
            "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
            "q16_supplier_variety", "q17_small_quantity", "q18_large_orders",
            "q19_disjunctive", "q20_promotion_suppliers", "q21_waiting_suppliers",
            "q22_wealthy_inactive",
            // container twins over the same scaled tables (q1/q6 above are
            // their parquet twins)
            // container twins: lineitem_q1 rides the DEFAULT write path
            // (columnar since r15); rows_q1 is the explicit legacy layout
            "fourmc_lineitem_q1", "fourmz_lineitem_q1", "fourmc_orders_selfjoin",
            "fourmc_columnar_q1", "fourmz_columnar_q1",
            "fourmc_rows_q1", "fourmz_rows_q1",
            "fourmc_q6_selective", "fourmc_q6_skipped",
            "fourmc_columnar_q6", "fourmz_columnar_q6", "fourmc_count_star",
            // r13 typed columns at scale: DATE shipdates + DECIMAL money
            // through the container (zone-pruned date filter, decimal sums);
            // r14 adds the full-stack variant (typed + sorted + columnar)
            "fourmc_date_pricing", "fourmc_columnar_date_pricing",
            // r17: two-column dict group-by (q1's grouping shape) answered
            // from v5 joint histograms — footer-only at 10x
            "fourmc_dict_groupby2")
          val rows = sf1Names.flatMap { name =>
            SparkEntry.queries.get(name).map { fn =>
              def run(): Double =
                if (System.nanoTime() > deadline) -2.0
                else {
                  val t0 = System.nanoTime()
                  try { fn(spark, dir).count() }
                  catch { case e: Throwable => System.err.println(s"[bench] sf1 $name: ${e.getMessage}"); return -1.0 }
                  (System.nanoTime() - t0) / 1e9
                }
              val warm = run()
              // min over the VALID samples only: a -1/-2 sentinel from the
              // second sample must not swallow a real first measurement
              // (math.min(5.0, -2.0) would report a measured query as
              // budget-skipped)
              val t =
                if (warm < 0) warm
                else {
                  // three timed samples: at these sub-0.5 s absolutes one
                  // scheduler hiccup moves a twin RATIO by ~25 points
                  // (measured r9), so the min needs depth to be meaningful
                  val samples = Seq(run(), run(), run()).filter(_ >= 0)
                  if (samples.isEmpty) warm else samples.min
                }
              name -> t
            }
          }
          // A/B-INTERLEAVED twin pairs (the r9 gate fix): each container
          // query alternates with its parquet twin in one warm block, so
          // both sides see identical JIT/codegen state. The r9 artifact's
          // 2.03x q1 pair was a warmth artifact — parquet's q1 ranged
          // 0.20-0.52 s depending on where in the run it was measured,
          // while isolated runs of the same binary sat at 0.72-0.92x.
          // Ratios for the <2x gate come from THESE pairs. Before the
          // block: drop accumulated heap debris (45 minutes of bench state)
          // — the allocation-heavier container side pays old-gen pressure
          // the parquet side doesn't, and r12/r13 end-of-run twin samples
          // read 0.2-0.3 ratio points above fresh-JVM probes of the SAME
          // binary. Stress ops already gc between measurements for the
          // same reason; this makes the twins measure steady-state cost,
          // not where in the run they happen to sit.
          System.gc(); Thread.sleep(500)
          val twinPairs = Seq(
            // the DEFAULT write path (columnar since r15) — these are the
            // gate rows a user's un-optioned write actually gets
            "fourmc_lineitem_q1" -> "q1_pricing_summary",
            "fourmz_lineitem_q1" -> "q1_pricing_summary",
            // r14: columnar layout — q1's 7-column projection decompresses
            // 7 sub-streams instead of all 16 columns' bytes
            "fourmc_columnar_q1" -> "q1_pricing_summary",
            "fourmz_columnar_q1" -> "q1_pricing_summary",
            // the legacy row layout, explicitly opted into — kept measured
            // so the read path both layouts share stays regression-visible
            "fourmc_rows_q1" -> "q1_pricing_summary",
            "fourmz_rows_q1" -> "q1_pricing_summary",
            "fourmc_q6_selective" -> "q6_forecast",
            "fourmc_q6_skipped" -> "q6_forecast",
            // r14: sorted + columnar compose — blocks skip on shipdate zone
            // maps, survivors decompress only q6's 4 column streams
            "fourmc_columnar_q6" -> "q6_forecast",
            "fourmz_columnar_q6" -> "q6_forecast",
            // q1-SHAPED (typed date/decimal pricing), not q1: informal
            // absolute comparison of the full stack vs parquet q1
            "fourmc_columnar_date_pricing" -> "q1_pricing_summary",
            // q1's GROUPING shape (returnflag, linestatus) from v5 joint
            // histograms vs parquet's full q1 — informal: the dict side
            // answers counts/min/max from footers alone, which is the point
            "fourmc_dict_groupby2" -> "q1_pricing_summary")
          val twins: Seq[(String, (Double, Double))] = twinPairs.flatMap { case (cn, pn) =>
            for {
              cf <- SparkEntry.queries.get(cn)
              pf <- SparkEntry.queries.get(pn)
            } yield {
              def t(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
                val t0 = System.nanoTime()
                fn(spark, dir).count()
                (System.nanoTime() - t0) / 1e9
              }
              if (System.nanoTime() > deadline) cn -> ((-2.0, -2.0))
              else try {
                t(cf); t(pf) // one warm round each, then 5 alternating samples
                // MEDIAN, not min: min-of-N rewards whichever side catches a
                // lucky fast sample — one measured artifact had the parquet
                // twin's min 22% below any of its neighbors' samples, moving
                // a ratio across the 2× gate on luck alone. The median of
                // interleaved samples estimates both sides' central cost
                // under the same box state.
                val samples = (1 to 5).map(_ => (t(cf), t(pf)))
                cn -> ((Bench.median(samples.map(_._1)), Bench.median(samples.map(_._2))))
              } catch {
                case e: Throwable =>
                  System.err.println(s"[bench] sf1 twin $cn: ${e.getMessage}")
                  cn -> ((-1.0, -1.0))
              }
            }
          }
          // fold the interleaved container MEDIANS back into the per-query
          // rows (a median is a conservative stand-in for a min — never
          // faster than the row's own protocol would report)
          val twinMin = twins.collect { case (n, (c, _)) if c >= 0 => n -> c }.toMap
          val rowsMerged = rows.map { case (n, v) =>
            twinMin.get(n) match {
              case Some(c) if v >= 0 => n -> math.min(v, c)
              case Some(c)           => n -> c
              case None              => n -> v
            }
          }
          val qjson = rowsMerged.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
          val twinJson = twins.map { case (n, (c, p)) =>
            val ratio = if (c > 0 && p > 0) c / p else -1.0
            "\"" + n + f"""\":{"c":$c%.3f,"p":$p%.3f,"ratio":$ratio%.2f}"""
          }.mkString("{", ",", "}")
          val measured = rowsMerged.filter(_._2 >= 0)
          sf1Digest = Some((measured.size, measured.map(_._2).sum))
          emitSection("sf1",
            f"""{"factor":$factor,"gen_secs":$genSecs%.1f,"canary_ms":${spinCanaryMs()}%.0f,"queries":$qjson,"twins":$twinJson}""")
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] sf1 section failed: ${e.getMessage}")
        }
      }

    // ---- sf5-class relational scale: ~50x facts ---------------------------
    // The r9 verdict's #6: sf1 (10x) was the largest measured relational
    // scale; broadcast-vs-SMJ flips and AQE skew splits above it were
    // argued, not measured. One 50x section (30M-row lineitem, join-heavy
    // q18/q21 included) + the same A/B-interleaved container twins closes
    // it. SPARK_GRAFT_SF5=0 skips; any other int overrides the factor.
    var sf5Digest: Option[(Int, Double)] = None
    if (!sys.env.get("SPARK_GRAFT_SF5").contains("0")) {
      val factor = sys.env.get("SPARK_GRAFT_SF5")
        .flatMap(_.toIntOption).filter(_ > 0).getOrElse(50)
      val budget = sys.env.get("SPARK_GRAFT_SF5_BUDGET")
        .flatMap(_.toLongOption).getOrElse(capBudget(1200L))
      try {
        val tGen = System.nanoTime()
        val dir = tools.RelationalScale.ensureScaled(spark, sfDir, factor)
        val genSecs = (System.nanoTime() - tGen) / 1e9
        val deadline = System.nanoTime() + budget * 1000000000L
        def timed(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        // the full 22 at 50× facts (r10 verdict #7, widened from 12 in r11):
        // the deadline guard truncates the tail with -2 sentinels rather
        // than blowing the budget on a pressured box
        val sf5Names = Seq(
          "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
          "q4_order_priority", "q5_local_supplier", "q6_forecast",
          "q7_nation_volume", "q8_market_share", "q9_profit_nation",
          "q10_returned_items", "q11_important_parts", "q12_priority_class",
          "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
          "q16_supplier_variety", "q17_small_quantity", "q18_large_orders",
          "q19_disjunctive", "q20_promotion_suppliers", "q21_waiting_suppliers",
          "q22_wealthy_inactive",
          // r13 typed columns at 50x (date zone pruning + decimal sums);
          // r14: the full warehouse stack (typed + sorted + columnar)
          "fourmc_date_pricing", "fourmc_columnar_date_pricing")
        val rows = sf5Names.flatMap { name =>
          SparkEntry.queries.get(name).map { fn =>
            val t =
              if (System.nanoTime() > deadline) -2.0
              else try {
                timed(fn) // warm
                Seq(timed(fn), timed(fn)).min
              } catch {
                case e: Throwable =>
                  System.err.println(s"[bench] sf5 $name: ${e.getMessage}"); -1.0
              }
            name -> t
          }
        }
        System.gc(); Thread.sleep(500) // see the sf1 twin-block note
        val twinPairs = Seq(
          // DEFAULT write path (columnar since r15) — the user-facing gate
          "fourmc_lineitem_q1" -> "q1_pricing_summary",
          "fourmz_lineitem_q1" -> "q1_pricing_summary",
          // r14: the structural fourmz fix measured where it was stalled —
          // the columnar twins decompress only the 7 projected columns
          "fourmc_columnar_q1" -> "q1_pricing_summary",
          "fourmz_columnar_q1" -> "q1_pricing_summary",
          // the legacy row layout, explicitly opted into
          "fourmc_rows_q1" -> "q1_pricing_summary",
          "fourmz_rows_q1" -> "q1_pricing_summary",
          "fourmc_q6_selective" -> "q6_forecast",
          "fourmc_q6_skipped" -> "q6_forecast",
          // r14: the selective-scan analog of the columnar q1 twins
          "fourmc_columnar_q6" -> "q6_forecast",
          "fourmz_columnar_q6" -> "q6_forecast",
          // q1-SHAPED (typed date/decimal pricing), not q1 — see sf1 note
          "fourmc_columnar_date_pricing" -> "q1_pricing_summary")
        val twins = twinPairs.flatMap { case (cn, pn) =>
          for {
            cf <- SparkEntry.queries.get(cn)
            pf <- SparkEntry.queries.get(pn)
          } yield {
            if (System.nanoTime() > deadline) cn -> ((-2.0, -2.0))
            else try {
              timed(cf); timed(pf) // warm both, then alternate
              // 9 interleaved samples, MEDIAN aggregation (see the sf1 twin
              // note): at 50× BOTH sides' per-sample spread is ±30%, the
              // whole 2× gate margin — min-of-N hands the gate to whichever
              // side catches the luckiest sample, and round-12 probes showed
              // even median-of-5 swinging 1.68–2.03 across runs on identical
              // code; 9 samples cost ~5 s and cut the median's spread ~√2
              // deadline re-checked between samples (not just per pair):
              // at 50× one sample can run multi-second, and 18 unguarded
              // executions would blow the section budget on a slow box —
              // the medians fall back to whatever samples were gathered
              val samples = (1 to 9).iterator
                .takeWhile(i => i == 1 || System.nanoTime() <= deadline)
                .map(_ => (timed(cf), timed(pf))).toSeq
              cn -> ((Bench.median(samples.map(_._1)), Bench.median(samples.map(_._2))))
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] sf5 twin $cn: ${e.getMessage}")
                cn -> ((-1.0, -1.0))
            }
          }
        }
        val qjson = rows.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
        val twinJson = twins.map { case (n, (c, p)) =>
          val ratio = if (c > 0 && p > 0) c / p else -1.0
          "\"" + n + f"""\":{"c":$c%.3f,"p":$p%.3f,"ratio":$ratio%.2f}"""
        }.mkString("{", ",", "}")
        val measured = rows.filter(_._2 >= 0) ++ twins.collect { case (n, (c, _)) if c >= 0 => n -> c }
        sf5Digest = Some((measured.size, measured.map(_._2).sum))
        emitSection("sf5",
          f"""{"factor":$factor,"gen_secs":$genSecs%.1f,"canary_ms":${spinCanaryMs()}%.0f,"queries":$qjson,"twins":$twinJson}""")
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] sf5 section failed: ${e.getMessage}")
      }
    }

    // ---- sf10-class relational scale: ~100x facts, slow quartet only ------
    // r13 verdict #6: the r13 plan audit PREDICTED the q21/q18/q17/q5 join
    // flips hold at the next scale step; measure instead. Times plus the
    // executed (post-AQE) join strategies per query, so a shape regression
    // (BHJ→BNLJ, SMJ→cartesian) is visible in the artifact, not just a
    // slowdown. SPARK_GRAFT_SF10=0 skips; any other int overrides 100.
    if (!sys.env.get("SPARK_GRAFT_SF10").contains("0")) {
      val factor = sys.env.get("SPARK_GRAFT_SF10")
        .flatMap(_.toIntOption).filter(_ > 0).getOrElse(100)
      val budget = sys.env.get("SPARK_GRAFT_SF10_BUDGET")
        .flatMap(_.toLongOption).getOrElse(capBudget(900L))
      try {
        val tGen = System.nanoTime()
        val dir = tools.RelationalScale.ensureScaled(spark, sfDir, factor)
        val genSecs = (System.nanoTime() - tGen) / 1e9
        val deadline = System.nanoTime() + budget * 1000000000L
        // r15 (r14 verdict #8): the FULL 22-query TPC-H set at 100x facts,
        // slowest-first so the historically-watched quartet always lands
        // even if the deadline truncates the tail (-2.0 marks not-started).
        // Executed post-AQE join strategies ride along per query, so a
        // shape flip at the largest scale is visible for every query.
        val names = Seq(
          "q21_waiting_suppliers", "q18_large_orders", "q17_small_quantity",
          "q5_local_supplier", "q1_pricing_summary", "q2_min_cost_supplier",
          "q3_shipping_priority", "q4_order_priority", "q6_forecast",
          "q7_nation_volume", "q8_market_share", "q9_profit_nation",
          "q10_returned_items", "q11_important_parts", "q12_priority_class",
          "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
          "q16_supplier_variety", "q19_disjunctive", "q20_promotion_suppliers",
          "q22_wealthy_inactive")
        val joinKinds = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
        val results = names.map { name =>
          val fn = SparkEntry.queries(name)
          if (System.nanoTime() > deadline) (name, -2.0, "")
          else try {
            val df = fn(spark, dir)
            val t0 = System.nanoTime()
            df.count() // warm + finalize the adaptive plan
            val warm = (System.nanoTime() - t0) / 1e9
            val plan = df.queryExecution.executedPlan.toString
            val joins = joinKinds.flatMap(k =>
              Option(plan.linesIterator.count(_.contains(k))).filter(_ > 0).map(n => s"$k:$n"))
              .mkString(",")
            val t =
              if (System.nanoTime() > deadline) warm
              else math.min(warm, {
                val t1 = System.nanoTime()
                fn(spark, dir).count()
                (System.nanoTime() - t1) / 1e9
              })
            (name, t, joins)
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] sf10 $name: ${e.getMessage}"); (name, -1.0, "")
          }
        }
        val qjson = results.map { case (n, t, _) => "\"" + n + f"\":$t%.3f" }.mkString("{", ",", "}")
        val jjson = results.map { case (n, _, j) => "\"" + n + "\":\"" + j + "\"" }.mkString("{", ",", "}")
        // r14: the columnar q1 twins at 100x facts — the structural scan fix
        // measured at the largest bench scale (median-of-5 interleaved; the
        // sf5 protocol with fewer samples, each sample ~1 s here)
        System.gc(); Thread.sleep(500)
        def timed10(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        val twins10 = Seq(
          "fourmc_columnar_q1" -> "q1_pricing_summary",
          "fourmz_columnar_q1" -> "q1_pricing_summary",
          // r15: the sorted+columnar+dict q6 composition at the largest
          // scale — the 50× ratio is 0.62×; watch whether it holds at 100×
          "fourmc_columnar_q6" -> "q6_forecast",
          "fourmz_columnar_q6" -> "q6_forecast",
          // r16: the FULL composed stack (typed DATE/DECIMAL + sortBy +
          // dict) at 100× — until now its scale trend was extrapolated
          // from the 50× row (≤1.2 band there)
          "fourmc_columnar_date_pricing" -> "q1_pricing_summary").map { case (cn, pn) =>
          if (System.nanoTime() > deadline) cn -> ((-2.0, -2.0))
          else try {
            val cf = SparkEntry.queries(cn); val pf = SparkEntry.queries(pn)
            timed10(cf); timed10(pf)
            // deadline re-checked between samples: each sample is ~1 s at
            // 100× on a healthy box but unbounded on a pressured one — 12
            // unguarded executions must not overshoot SF10_BUDGET (r14
            // advice); partial samples still yield a median
            val samples = (1 to 5).iterator
              .takeWhile(i => i == 1 || System.nanoTime() <= deadline)
              .map(_ => (timed10(cf), timed10(pf))).toSeq
            cn -> ((Bench.median(samples.map(_._1)), Bench.median(samples.map(_._2))))
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] sf10 twin $cn: ${e.getMessage}")
              cn -> ((-1.0, -1.0))
          }
        }
        val twin10Json = twins10.map { case (n, (c, p)) =>
          val ratio = if (c > 0 && p > 0) c / p else -1.0
          "\"" + n + f"""\":{"c":$c%.3f,"p":$p%.3f,"ratio":$ratio%.2f}"""
        }.mkString("{", ",", "}")
        emitSection("sf10",
          f"""{"factor":$factor,"gen_secs":$genSecs%.1f,"canary_ms":${spinCanaryMs()}%.0f,"queries":$qjson,"joins":$jjson,"twins":$twin10Json}""")
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] sf10 section failed: ${e.getMessage}")
      }
    }

    // ---- pipeline-operator stress: >=1 GB replicated corpus ----------------
    // Runs LAST (r17 verdict #1): the stress section is the one part of the
    // bench with per-op budget sentinels AND cross-run rotation memory, so it
    // is the only section that degrades gracefully when the box is slower
    // than the wall budget — a truncated stress run marks the skipped ops
    // `secs: -2` and they jump the queue next run, while a truncated sf10
    // section (the r17 driver run) just loses driver ground truth. Its
    // budget is whatever remains of the wall budget, capped at the classic
    // 1800 s (SPARK_GRAFT_STRESS_BUDGET still overrides explicitly).
    // The r10 concern that motivated running stress EARLY — late-run box
    // pressure tainting per-op numbers — is covered by the per-op quick
    // canary + canary-gated retry inside the section itself.
    // Corpus generation is deterministic and cached in /tmp across runs.
    // SPARK_GRAFT_STRESS_PIPELINE=0 skips; any other integer overrides the
    // 700x replication factor.
    val stressPipe: Option[tools.StressPipeline.StressReport] =
      if (sys.env.get("SPARK_GRAFT_STRESS_PIPELINE").contains("0")) None
      else {
        val repDocs = sys.env.get("SPARK_GRAFT_STRESS_PIPELINE")
          .flatMap(_.toIntOption).filter(_ > 0).getOrElse(700)
        val repEmb = math.max(1, repDocs * 5 / 7)
        try Some(tools.StressPipeline.run(spark, sfDir, repDocs, repEmb,
          budgetCapSecs = Some(capBudget(1800L))))
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] stress_pipeline failed: ${e.getMessage}")
            None
        }
      }
    stressPipe.foreach { r =>
      emitSection("stress_pipeline", tools.StressPipeline.toJson(r))
    }

    // ---- final summary line + full-artifact file ---------------------------
    // The summary is the LAST stdout line and stays well under the driver's
    // 2000-char archive tail, so it ALWAYS survives whole and parses: total,
    // per-section digests, the four canary times, and the 8 slowest queries.
    // The complete sections live in the repo file named below.
    val canaryEnd = spinCanaryMs()
    val sfName = new java.io.File(sfDir).getName
    // relative to the working directory (the repo root under sbt) — a
    // hardcoded absolute path would kill the run after all measurements on
    // any other checkout; a write failure must also never cost the summary
    val fullPath = s"bench/BENCH_full_$sfName.json"
    try {
      val dir = Paths.get("bench")
      if (!Files.exists(dir)) Files.createDirectories(dir)
      val body = sections.map { case (k, v) => "\"" + k + "\":" + v }.mkString(
        "{\"generated_by\":\"graft.Bench\",\"sf\":\"" + sfDir + "\",",
        ",",
        f""","canary_ms":{"start":$canaryStart%.0f,"post_gates":$canaryPostGates%.0f,"pre_queries":$canaryPreQueries%.0f,"post_queries":$canaryPostQueries%.0f,"end":$canaryEnd%.0f}}""")
      Files.write(Paths.get(fullPath), body.getBytes("UTF-8"))
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] WARNING: could not write $fullPath: ${e.getMessage}")
    }
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")
    val stressDigest = stress.map { case (_, _, _, seqS, parS, q1S) =>
      f""","stress_speedup":${seqS / math.max(0.001, parS)}%.1f,"stress_typed_q1_secs":$q1S%.2f"""
    }.getOrElse("")
    val sf1D = sf1Digest.map { case (n, t) =>
      f""","sf1_n":$n,"sf1_total_secs":$t%.1f"""
    }.getOrElse("")
    val sf5D = sf5Digest.map { case (n, t) =>
      f""","sf5_n":$n,"sf5_total_secs":$t%.1f"""
    }.getOrElse("")
    val pipeDigest = stressPipe.map { r =>
      val ok = r.ops.filter(_.secs >= 0)
      f""","stress_pipeline_ops":${ok.size},"stress_pipeline_total_secs":${ok.map(_.secs).sum}%.1f,"stress_pipeline_shuffle_mb":${ok.map(_.shuffleWriteMb).sum}%.0f"""
    }.getOrElse("")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},"canary_ms":{"start":$canaryStart%.0f,"post_gates":$canaryPostGates%.0f,"pre_queries":$canaryPreQueries%.0f,"post_queries":$canaryPostQueries%.0f,"end":$canaryEnd%.0f},"lz4_read_mbps":$lz4R%.0f,"zstd_read_mbps":$zstdR%.0f,"split_partitions_4mib":$nParts,"pruned_blocks_read":$prunedRead,"pruned_blocks_skipped":$prunedSkipped$stressDigest$sf1D$sf5D$pipeDigest,"sections":[${sections.keys.map("\"" + _ + "\"").mkString(",")}],"slowest":$slowest,"full":"bench/BENCH_full_$sfName.json"}"""
    )
    spark.stop()
  }
}
