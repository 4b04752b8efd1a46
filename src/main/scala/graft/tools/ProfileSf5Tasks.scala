package graft.tools

import graft.{GraftExtensions, Queries, RoundTrip}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Task-level decomposition of the sf5 group-by gap: per-stage task count,
  * min/median/max task wall, GC time, and input size — distinguishes
  * straggler skew (max >> median) from uniform per-row cost.
  *
  * Run: SPARK_GRAFT_SF_DIR=<base sf> sbt "runMain graft.tools.ProfileSf5Tasks <factor>"
  */
object ProfileSf5Tasks {
  def main(args: Array[String]): Unit = {
    val baseSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = args.headOption.flatMap(_.toIntOption).getOrElse(50)
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
    val dir = RelationalScale.ensureScaled(spark, baseSf, factor)

    final case class T(stage: Int, ms: Long, gcMs: Long, recs: Long)
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          tasks.add(T(e.stageId, m.executorRunTime, m.jvmGCTime,
            m.inputMetrics.recordsRead))
      }
    })

    def report(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      mk.count() // warm
      tasks.clear()
      val t0 = System.nanoTime()
      mk.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      import scala.jdk.CollectionConverters._
      val ts = tasks.asScala.toSeq
      println(f"[pt] $label wall=$wall%.3f s")
      ts.groupBy(_.stage).toSeq.sortBy(_._1).foreach { case (st, g) =>
        val ms = g.map(_.ms).sorted
        val gc = g.map(_.gcMs).sum
        val recs = g.map(_.recs).sum
        println(f"[pt]   stage $st: n=${g.size} task ms min=${ms.head} p50=${ms(ms.size / 2)} max=${ms.last} sum=${ms.sum} gcSum=$gc recs=$recs")
      }
    }
    val mc = () => RoundTrip.roundTrip(spark, dir, "lineitem", "lz4-fast")
    val pq = () => Queries.table(spark, dir, "lineitem")
    report("4mc group rf (1 str)") { mc().groupBy(col("l_returnflag")).agg(count(lit(1))) }
    report("parquet group rf (1 str)") { pq().groupBy(col("l_returnflag")).agg(count(lit(1))) }
    report("4mc count rf (scan only)") { mc().agg(count(col("l_returnflag"))) }
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    report("4mc count rf (noAggPush)") { mc().agg(count(col("l_returnflag"))) }
    report("4mc sum length rf (noAggPush)") { mc().agg(sum(length(col("l_returnflag")))) }
    spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
    report("4mc group linenum (1 int)") { mc().groupBy(col("l_linenumber")).agg(count(lit(1))) }
    // isolate the double-parse term: grouped on a DATA column (pushdown
    // refuses), count-only parses 1 int; +4 doubles / +2 strings / +1 ts
    // deltas attribute the scan stage's CPU to per-type parse costs
    report("4mc group ln count (1 int)") {
      mc().groupBy(col("l_linenumber")).agg(count(lit(1))) }
    report("4mc group ln + 4 doubles") {
      mc().groupBy(col("l_linenumber")).agg(sum(col("l_quantity")),
        sum(col("l_extendedprice")), sum(col("l_discount")), sum(col("l_tax"))) }
    report("4mc group ln + 2 strings") {
      mc().groupBy(col("l_linenumber")).agg(count(col("l_returnflag")),
        count(col("l_linestatus"))) }
    report("4mc group ln + shipdate") {
      mc().groupBy(col("l_linenumber")).agg(max(col("l_shipdate"))) }
    report("parquet group ln + 4 doubles") {
      pq().groupBy(col("l_linenumber")).agg(sum(col("l_quantity")),
        sum(col("l_extendedprice")), sum(col("l_discount")), sum(col("l_tax"))) }
    // decisive within-run A/B: is STRING-keyed grouping relatively worse
    // over the 4mc vectors than over parquet's (dictionary-backed) vectors?
    report("AB 4mc group int") { mc().groupBy(col("l_linenumber")).agg(count(lit(1))) }
    report("AB parquet group int") { pq().groupBy(col("l_linenumber")).agg(count(lit(1))) }
    report("AB 4mc group str") { mc().groupBy(col("l_returnflag")).agg(count(lit(1))) }
    report("AB parquet group str") { pq().groupBy(col("l_returnflag")).agg(count(lit(1))) }
    report("AB 4mc group str2") { mc().groupBy(col("l_returnflag"), col("l_linestatus")).agg(count(lit(1))) }
    report("AB parquet group str2") { pq().groupBy(col("l_returnflag"), col("l_linestatus")).agg(count(lit(1))) }
    report("4mc q1") { Queries.q1Over(mc()) }
    report("parquet q1") { Queries.q1Over(pq()) }
    spark.stop()
  }
}
