package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide Spark-JOB-count regression guard (r10 verdict #8): the
  * fourmc_orders_selfjoin regression (5 → 21 jobs from an optimizer rule's
  * eager collect re-running every batch iteration) shipped because nothing
  * counted jobs per registered query. Every non-streaming query's job count
  * is compared against the committed baseline
  * (`src/test/resources/job_baseline.tsv`); growth past max(2x, +2) fails.
  *
  * Regenerate after intentionally changing a query's plan shape:
  *   sbt "Test/runMain graft.tools.JobBaselineGen"
  */
object JobCount {
  val BaselinePath = "src/test/resources/job_baseline.tsv"
  val Sf = "/root/testdata/sf0.001"

  /** Fresh session with the production extensions (the rules under audit
    * live there), active-session cleared so suite order can't hand us an
    * extension-less session.
    */
  def newSession(app: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    counter.get()
  }

  /** The audited surface: every registered query except the streaming ones
    * (they drain a stream per invocation — job counts track micro-batch
    * scheduling, not plan shape).
    */
  def audited: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.filterNot(_._1.startsWith("streaming_")).toSeq.sortBy(_._1)

  /** Measure one query's job count: one warm run (fills round-trip caches,
    * footer-index caches, codegen) then one counted run.
    */
  def measure(spark: SparkSession, name: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Int = {
    fn(spark, Sf).count()
    jobsOf(spark)(fn(spark, Sf).count())
  }

  /** Each query's recorded job count: the low end of its range. */
  def loadBaseline(): Map[String, Int] = loadRanges().map { case (n, (lo, _)) => n -> lo }

  /** Each query's recorded (low, high) job counts. A row whose count varies
    * between runs of the same tree carries its range,
    * `name<TAB>low<TAB>high`; any other row is `name<TAB>count`.
    */
  def loadRanges(): Map[String, (Int, Int)] = {
    val f = new java.io.File(BaselinePath)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f).getLines().flatMap { l =>
      l.split("\t").toSeq match {
        case Seq(n, c)     => c.toIntOption.map(x => n -> (x, x))
        case Seq(n, c, hi) => for (x <- c.toIntOption; y <- hi.toIntOption) yield n -> (x, y)
        case _             => None
      }
    }.toMap
  }
}

class JobCountSpec extends AnyFunSuite {
  lazy val spark: SparkSession = JobCount.newSession("job-count-spec")

  test("per-query Spark job counts stay within max(2x, +2) of the recorded baseline") {
    val baseline = JobCount.loadBaseline()
    assert(baseline.nonEmpty,
      s"missing ${JobCount.BaselinePath} — run: sbt \"Test/runMain graft.tools.JobBaselineGen\"")
    val unbaselined = scala.collection.mutable.ArrayBuffer.empty[String]
    val offenders = JobCount.audited.flatMap { case (name, fn) =>
      baseline.get(name) match {
        case None =>
          unbaselined += name
          None
        case Some(b) =>
          val j = JobCount.measure(spark, name, fn)
          if (j > math.max(2 * b, b + 2)) Some(s"$name: $j jobs vs baseline $b") else None
      }
    }
    assert(offenders.isEmpty,
      s"job-count regressions (check for planner rules running eager jobs " +
        s"per optimizer pass): ${offenders.mkString("; ")}")
    if (unbaselined.nonEmpty)
      info(s"queries missing from the baseline (regenerate with " +
        s"JobBaselineGen): ${unbaselined.mkString(", ")}")
  }
}
