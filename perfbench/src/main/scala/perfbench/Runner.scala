package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Runner --workload W --seed N --seconds S
  * --trace 0|1 --work DIR [--holdout]`.
  *
  * A run sets up `SetupRepeats` times (session start plus fixture
  * generation, each into a fresh directory), prepares the answer checks,
  * runs the workload's closed loop with one client for S seconds, and
  * prints the result as the last stdout line. With `--trace 1` it first runs the loop
  * untraced, then again with the listener and spans on, then replays a
  * sample of the workload's files through the format and sources layers,
  * and prints per-layer metrics instead.
  */
object Runner {
  val SetupRepeats = 3
  val MinRounds = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, holdout: Boolean)

  def parse(args: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var holdout = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--holdout" => holdout = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => m(k.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("work"), holdout)
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList.reverse.foreach(p => Files.deleteIfExists(p))
      } finally s.close()
    }
  }

  def startSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use right after a full collection, in MB: what the run keeps
    * alive at that point (the session, fixtures, engine caches).
    */
  private def liveHeapMb(): Double = {
    // the first collection lets Spark's ContextCleaner drop the blocks and
    // broadcasts of plans no longer referenced; the second counts the rest
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Runs rounds of the workload until `seconds` have passed, and at least
    * `MinRounds`, finishing the block of the mix in progress, so a run
    * slowed by the box keeps the same mix of operations (a
    * `dedup_pipeline` round is the whole pipeline).
    */
  private def loop(wl: Workload)(env: Env, st: wl.State, rec: Recorder, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    while (r < MinRounds || r % wl.blockRounds != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      wl.round(env, st, rec, r); r += 1
    }
    rec.wallS = (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat; zeros
    * where it does not exist.
    */
  private def cpuJiffies(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }
  }

  private val started = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%.1f s $what")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads(a.workload)
    // a held-out seed draws from a disjoint input stream
    val seed = if (a.holdout) Gen.mix(a.seed ^ 0x686F6C646F7574L) else a.seed
    // one core of at most four is left to the driver, JIT and GC threads:
    // with every core running tasks, their preemption made run-to-run
    // latency spread about twice as wide
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 1)
    Files.createDirectories(Paths.get(a.work))
    val canaryStart = graft.Bench.spinCanaryMs()
    val jiffiesStart = cpuJiffies()

    wl.init(seed)
    progress("inputs derived")
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var env: Env = null
    var st: wl.State = null.asInstanceOf[wl.State]
    var rec: Recorder = null
    for (k <- 0 until SetupRepeats) {
      if (spark != null) { spark.stop(); deleteTree(env.dir) }
      val t0 = System.nanoTime()
      spark = startSession(cores, a.work)
      if (k == 0) progress("session started")
      env = Env(spark, seed, cores, s"${a.work}/setup$k")
      rec = new Recorder(spark, new Tracer(false)).inherit(rec)
      st = wl.setup(env, rec)
      setupS += (System.nanoTime() - t0) / 1e9
      progress(s"set-up $k done")
    }
    // after the set-ups, while the last one's generated rows are cached
    val liveAfterSetupMb = liveHeapMb()
    wl.prepare(env, st, rec)
    val warm = new Recorder(spark, new Tracer(false))
    for (r <- 1 to wl.warmupRounds) wl.round(env, st, warm, -r)
    progress("checks prepared, warm-up done")

    val tracer = new Tracer(a.trace)
    var listener: ExecListener = null
    var untraced: Recorder = null
    if (a.trace) {
      untraced = new Recorder(spark, new Tracer(false))
      loop(wl)(env, st, untraced, a.seconds)
      listener = new ExecListener(tracer)
      spark.sparkContext.addSparkListener(listener)
      rec = new Recorder(spark, tracer).inherit(rec)
    }
    loop(wl)(env, st, rec, a.seconds)
    progress("loop done")
    val layers =
      if (!a.trace) Nil
      else {
        listener.quiesce()
        spark.sparkContext.removeSparkListener(listener)
        val replay = tracer.span("replay")(Replay.run(spark, wl.files(st), tracer))
        Layers.metrics(rec, untraced, listener, replay, cores)
      }
    val canaryEnd = graft.Bench.spinCanaryMs()
    val jiffiesEnd = cpuJiffies()
    val attempted = rec.attempted + Option(untraced).map(_.attempted).getOrElse(0L)
    val failed = rec.failed + Option(untraced).map(_.failed).getOrElse(0L)

    val p50 = Stats.median(rec.latencyMs)
    val (tailPct, tailMs) = Stats.tail(rec.latencyMs)
    val meta = Json.obj(Seq(
      "meta" -> Json.str("perfbench"),
      "workload" -> Json.str(wl.name),
      "seed" -> a.seed.toString,
      "holdout" -> a.holdout.toString,
      "trace" -> a.trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "cores_used" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "canary_start_ms" -> Json.num(canaryStart),
      "canary_end_ms" -> Json.num(canaryEnd),
      // CPU time the hypervisor gave to other guests during the run
      "cpu_steal_share" -> Json.num((jiffiesEnd._1 - jiffiesStart._1).toDouble /
        math.max(1L, jiffiesEnd._2 - jiffiesStart._2)),
      "setup_s_each" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "loop_s" -> Json.num(rec.wallS),
      "tail_percentile" -> Json.num(tailPct),
      "tail_samples" -> rec.latencyMs.length.toString,
      "latency_ms" -> Json.obj(rec.latencyByOp.toSeq.map { case (k, v) => k -> v.map(Json.num).mkString("[", ",", "]") }),
      "error_rate" -> Json.num(failed.toDouble / math.max(1L, attempted)),
      "failures" -> (rec.failures ++ Option(untraced).toSeq.flatMap(_.failures)).map(Json.str).mkString("[", ",", "]")))
    println(meta)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setupS.toSeq), "s"),
        ("scan_mbps", Stats.median(rec.scanMbps.toSeq), "MB/s"),
        ("query_p50_ms", p50, "ms"),
        ("query_tail_ms", tailMs, "ms"),
        ("queries_per_s", rec.latencyMs.length / rec.wallS, "1/s"),
        ("stored_bytes_ratio", rec.storedBytes.toDouble / rec.csvBytes, "ratio"),
        ("live_heap_mb", math.max(liveAfterSetupMb, liveHeapMb()), "MB"))
      else layers

    if (a.trace) {
      val summary = tracer.summary.toSeq.sortBy(-_._2._3).map { case (n, (c, tot, self)) =>
        Json.str(n) + ":" + Json.obj(Seq("count" -> c.toString, "total_ms" -> Json.num(tot), "self_ms" -> Json.num(self)))
      }
      println(s"""{"span_self_ms":{${summary.mkString(",")}}}""")
      tracer.writeJsonLines(Paths.get(a.work).resolveSibling(s"spans-${wl.name}-${a.seed}.jsonl"), meta)
    }
    spark.stop()

    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val ms = metrics.map { case (n, v, u) => Json.str(n) + ":" + Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}""")
  }
}
