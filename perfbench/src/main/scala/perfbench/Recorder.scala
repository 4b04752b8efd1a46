package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Everything one measured loop records: latency samples, throughput
  * samples, answer checks, and (when tracing) plan shapes, counter deltas
  * and per-op results.
  */
final class Recorder(val spark: SparkSession, val tracer: Tracer) {
  val latencyMs = mutable.ArrayBuffer.empty[Double]
  val latencyByOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val scanMbps = mutable.ArrayBuffer.empty[Double]
  var storedBytes = 0L
  var csvBytes = 0L
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var wallS = 0.0

  // traced-run ledgers
  val planMs = mutable.ArrayBuffer.empty[Double]
  var queries = 0L
  var footerAnswered = 0L
  var filesScanned = 0L
  var scanRows = 0L
  var resultRows = 0L
  val counters = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val opSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val opRowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val opCalls = mutable.Map.empty[String, Int].withDefaultValue(0)
  val extra = mutable.Map.empty[String, Double]

  private val sc = spark.sparkContext

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  /** A span whose id rides on the Spark jobs started inside it, so the
    * listener can hang stage spans under it.
    */
  private def span[A](name: String)(body: => A): A = tracer.span(name) {
    val outer = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", tracer.current.toString)
    try body finally sc.setLocalProperty("perfbench.span", outer)
  }

  /** Tags the jobs `body` starts with the op they belong to. */
  private def tagged[A](op: String)(body: => A): A = {
    sc.setLocalProperty("perfbench.op", op)
    try body finally sc.setLocalProperty("perfbench.op", null)
  }

  /** Time `body` as one client operation of kind `op`: a latency sample
    * (unless `sample` is false). An exception or a failed `ok` counts the
    * operation as failed. Returns the result and its seconds.
    */
  def op[A](op: String, sample: Boolean = true)(body: => A)(ok: A => Boolean): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Some(span(op)(tagged(op)(body)))
      catch { case e: Exception => System.err.println(s"op $op failed: $e"); None }
    val secs = (System.nanoTime() - t0) / 1e9
    if (sample) latencyMs += secs * 1000
    latencyByOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += secs * 1000
    res match {
      case Some(a) =>
        if (tracer.enabled) { opCalls(op) += 1; opSeconds(op) += secs; opRowsOut(op) += rowsOf(a) }
        val passed = try ok(a) catch { case e: Exception => System.err.println(s"check $op: $e"); false }
        if (!passed) fail(op)
        Some((a, secs))
      case None => fail(op); None
    }
  }

  /** Time `body`, a group of operations run without samples of their
    * own, as one latency sample of kind `op`.
    */
  def sampled[A](op: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = span(op)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    latencyMs += ms
    latencyByOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
    a
  }

  private def rowsOf(a: Any): Long = a match {
    case rs: Array[_]      => rs.length.toLong
    case rs: Iterable[_]   => rs.size.toLong
    case _                 => 0L
  }

  /** A SQL-shaped operation: plan, execute, collect. When tracing, the
    * plan's shape and the engine's counter deltas are recorded with it.
    */
  def query(op: String, sample: Boolean = true)(df: => DataFrame)(ok: Array[Row] => Boolean): Option[(Array[Row], Double)] = {
    var d: DataFrame = null
    val before = if (tracer.enabled) ScanCounters.snapshot() else null
    val r = this.op(op, sample) {
      d = df
      val t0 = System.nanoTime()
      span("plan")(d.queryExecution.executedPlan)
      if (tracer.enabled) planMs += (System.nanoTime() - t0) / 1e6
      span("execute")(d.collect())
    }(ok)
    if (tracer.enabled && r.isDefined) {
      val delta = ScanCounters.delta(before, ScanCounters.snapshot())
      delta.foreach { case (k, v) => counters(k) += v }
      val shape = PlanShape.of(d)
      queries += 1
      if (shape.footerAnswered || delta("metadata_count_rows") > 0) footerAnswered += 1
      filesScanned += shape.filesScanned
      scanRows += shape.scanRows
      resultRows += r.get._1.length
    }
    r
  }

  /** Carries the written bytes, scan samples and answer checks of the
    * set-up and preparation phases over into a fresh recorder.
    */
  def inherit(prev: Recorder): Recorder = {
    if (prev != null) {
      csvBytes += prev.csvBytes; storedBytes += prev.storedBytes
      scanMbps ++= prev.scanMbps
      attempted += prev.attempted; failed += prev.failed; failures ++= prev.failures
    }
    this
  }

  def scan(csvBytes: Long, secs: Double): Unit = scanMbps += csvBytes / 1e6 / secs

  def write(csvBytes: Long, stored: Long): Unit = {
    this.csvBytes += csvBytes
    storedBytes += stored
  }
}

object Recorder {
  /** Bytes of the container files under a directory. */
  def containerBytes(dir: String): Long = containerFiles(dir).map(f => new java.io.File(f).length).sum

  def containerFiles(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.toString)
          .filter(p => p.endsWith(".4mc") || p.endsWith(".4mz")).toList.sorted
      } finally s.close()
    }
  }

  /** Order-insensitive canonical form of a result: sorted row strings. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.mkString("|")).toSeq.sorted
}
