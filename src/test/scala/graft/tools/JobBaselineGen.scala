package graft.tools

import graft.JobCount

/** Regenerates `src/test/resources/job_baseline.tsv` — the per-query Spark
  * job counts JobCountSpec guards against. Run after an INTENTIONAL plan
  * change (new exchange, new broadcast, a planner rule that adds a bounded
  * eager job) and commit the diff: the review of that diff is the audit.
  *
  * Each query is counted `Runs` times after its warm run. A count can vary
  * between runs of one tree: adaptive execution may cancel a stage it has
  * already submitted as a job when a sibling stage turns out empty
  * (`q21_waiting_suppliers` at sf0.001 reads 10 or 11 jobs, about half the
  * runs each), so a row whose counts differ records its range, low then
  * high, and the low count is the baseline. Five runs can all land on one
  * end, so a recorded range that still holds every new count is kept.
  *
  *   sbt "Test/runMain graft.tools.JobBaselineGen"
  */
object JobBaselineGen {
  val Runs = 5

  def main(args: Array[String]): Unit = {
    val spark = JobCount.newSession("job-baseline-gen")
    spark.sparkContext.setLogLevel("WARN")
    val recorded = JobCount.loadRanges()
    val rows = JobCount.audited.map { case (name, fn) =>
      val counts =
        try JobCount.measure(spark, name, fn) +: Seq.fill(Runs - 1)(JobCount.jobsOf(spark)(fn(spark, JobCount.Sf).count()))
        catch {
          case e: Throwable =>
            System.err.println(s"[job-baseline] $name failed: ${e.getMessage}")
            Seq(-1)
        }
      val (lo, hi) = recorded.get(name).filter { case (l, h) => l <= counts.min && counts.max <= h }
        .getOrElse((counts.min, counts.max))
      val row = if (lo == hi) s"$name\t$lo" else s"$name\t$lo\t$hi"
      println(s"[job-baseline] $row")
      row
    }
    val out = java.nio.file.Paths.get(JobCount.BaselinePath)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      (rows.filterNot(_.endsWith("\t-1")).mkString("", "\n", "\n")).getBytes("UTF-8"))
    println(s"[job-baseline] wrote ${rows.size} rows to ${JobCount.BaselinePath}")
    spark.stop()
  }
}
