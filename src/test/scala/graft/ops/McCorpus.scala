package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Assertions

/** A documents frame (`doc_id`, `text`) written as 4mc, for the specs of
  * the ops whose corpus pass reads a small 4mc corpus on the driver
  * (`graft.plans.McDriverScan.read`): each op over the copies must give the
  * rows it gives over the frame itself, launch no Spark job where the
  * driver read serves, and fall back to its jobs, with the same rows,
  * where the read is refused or its longs pass the op's bound.
  */
object McCorpus extends Assertions {

  /** The copies: zstd-3 columnar with stats (the writer's default for csv),
    * lz4 rows layout with stats, and a stats-less lz4 copy, which the
    * driver read refuses.
    */
  val Variants: Seq[(String, Map[String, String])] = Seq(
    "zstd-columnar" -> Map("codec" -> "zstd-3"),
    "lz4-rows" -> Map("codec" -> "lz4-fast", "layout" -> "rows"),
    "no-stats" -> Map("codec" -> "lz4-fast", "blockStats" -> "false"))

  private def statsless(options: Map[String, String]): Boolean = options.get("blockStats").contains("false")

  def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("mccorpus").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** `docs` written as 4mc csv in two files under `dir`, read back. */
  def write(docs: DataFrame, dir: String, options: Map[String, String]): DataFrame = {
    docs.coalesce(2).write.format("4mc").option("payload", "csv").options(options).save(dir)
    docs.sparkSession.read.format("4mc").option("payload", "csv").schema(docs.schema).load(dir)
  }

  /** `docs` followed by null-text rows that take it past the corpus
    * pass's line bound; a null text changes no op's answer.
    */
  def padded(docs: DataFrame): DataFrame = {
    val n = Dedup.DriverReadMaxLines + 1
    docs.unionByName(docs.sparkSession.range(90000000L, 90000000L + n)
      .select(col("id").as("doc_id"), lit(null).cast("string").as("text")))
  }

  /** `op(docs, bound)` over every copy, over a copy past the line bound,
    * and with `small` (if any) as the bound: each gives `rows` of the op
    * over `docs` itself. Only the stats-carrying copies under `bound` are
    * read on the driver, and they launch no Spark job; every other run
    * launches some. Returns the rows.
    */
  def sameOver4mc[R](docs: DataFrame, what: String, bound: Long, small: Option[Long])(
      op: (DataFrame, Long) => DataFrame)(rows: DataFrame => R): R = {
    val spark = docs.sparkSession
    val want = rows(op(docs, bound))
    val dir = tmpDir()
    def run(in: DataFrame, b: Long, how: String, driverRead: Boolean): Unit = {
      var got: Any = null
      val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiled.getCount
      val jobs = graft.JobCount.jobsOf(spark) { got = rows(op(in, b)) }
      assert(got == want, s"$what $how: rows differ from the frame's")
      if (driverRead) {
        assert(jobs == 0, s"$what $how: $jobs Spark jobs on the driver read")
        // the frame's run compiled the result's classes already
        assert(compiled.getCount == before, s"$what $how: the driver read compiled a class")
      } else assert(jobs > 0, s"$what $how: a refused driver read must run the op's jobs")
    }
    for ((name, options) <- Variants) {
      val mc = write(docs, s"$dir/$name", options)
      run(mc, bound, s"over $name", driverRead = !statsless(options))
      if (name == Variants.head._1)
        small.foreach(b => run(mc, b, s"over $name, bound $b", driverRead = false))
    }
    run(write(padded(docs), s"$dir/padded", Variants.head._2), bound, "past the line bound", driverRead = false)
    want
  }
}
