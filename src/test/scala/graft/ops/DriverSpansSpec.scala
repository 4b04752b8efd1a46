package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The driver path of `Spans.dupSpanCoverage` against its two distributed
  * plans (the hot-key broadcast and the exchange fallback), each forced
  * through `dupSpanCoverageWith`'s bounds: the same rows, as multisets, and
  * the same schema.
  */
class DriverSpansSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("driver-spans-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val K = 8

  private def words(tag: String, n: Int): String = (1 to n).map(i => s"$tag$i").mkString(" ")

  /** The fixture's documents plus planted rows (ids from 300 000):
    *   - 1: a full copy of the first long doc (the donor);
    *   - 2: the donor's first 8 tokens spliced between unique words;
    *   - 3: one 8-gram repeated within the doc only;
    *   - 4, 5: identical docs of 3 tokens (one whole-text span, clipped);
    *   - 6, 7, 8: an empty text, a whitespace-only text and a null text
  *     (none of them covered);
    *   - a null doc id holding the splice (hot); 9, whose first 8 tokens
    *     a null doc id alone also holds (not hot);
    *   - 10 on two rows, each holding the splice; 11 on two rows with
    *     otherwise unique text (one doc: not hot);
    *   - 12: a doc that ends in the splice;
    *   - 13: two shared 8-grams back to back (touching islands), with
    *     partners 14 and 15; 16: the same 8-grams apart (two islands);
    *   - 17: a 12-token run whose first and last 8 tokens are shared, with
    *     partners 18 and 19 (overlapping islands: 12 tokens covered).
    */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"${graft.JobCount.Sf}/documents.parquet").select($"doc_id", $"text")
    val donor = base.filter(size(split(trim($"text"), "\\s+")) >= 30).orderBy($"doc_id").head().getString(1)
    val splice = donor.trim.split("\\s+").take(K).mkString(" ")
    val (a, b) = (words("ta", K), words("tb", K))
    val run = words("tc", 12)
    val (runHead, runTail) = (words("tc", K), (5 to 12).map(i => s"tc$i").mkString(" "))
    val planted = Seq[(Option[Long], Option[String])](
      (Some(300001L), Some(donor)),
      (Some(300002L), Some(s"zqx1 zqx2 zqx3 $splice zqx4 zqx5 zqx6")),
      (Some(300003L), Some((words("r", K) + " ") * 4)),
      (Some(300004L), Some("short twin text")), (Some(300005L), Some("short twin text")),
      (Some(300006L), Some("")), (Some(300007L), Some("   ")), (Some(300008L), None),
      (None, Some(s"nz1 nz2 $splice nz3 nz4")),
      (Some(300009L), Some(words("ln", 12))), (None, Some(s"ny1 ${words("ln", K)} ny2")),
      (Some(300010L), Some(s"tw1 tw2 $splice tw3")), (Some(300010L), Some(s"tw1 tw2 $splice tw3")),
      (Some(300011L), Some(words("uq", 12))), (Some(300011L), Some(words("uq", 12))),
      (Some(300012L), Some(s"end1 end2 $splice")),
      (Some(300013L), Some(s"x0 $a $b x9")), (Some(300014L), Some(s"p1 $a p2")), (Some(300015L), Some(s"q1 $b q2")),
      (Some(300016L), Some(s"w0 $a w5 w6 $b w9")),
      (Some(300017L), Some(s"y0 $run y9")), (Some(300018L), Some(s"s1 $runHead s2")),
      (Some(300019L), Some(s"t1 $runTail t2")))
    base.unionByName(planted.toDF("doc_id", "text"))
  }

  /** The three paths' bounds: (driverMaxLongs, maxHotKeys). */
  private val Driver = (Long.MaxValue, Long.MaxValue)
  private val Broadcast = (1L, Long.MaxValue)
  private val Exchange = (1L, 0L)

  private def coverage(docs: DataFrame, path: (Long, Long)): DataFrame =
    Spans.dupSpanCoverageWith(docs, "doc_id", "text", K, path._1, path._2)

  private type Cov = (Option[String], Long, Long, Long)

  /** The rows, sorted: a repeated row counts. */
  private def rows(df: DataFrame): Seq[Cov] =
    df.collect().map((r: Row) =>
      (Option(r.get(0)).map(_.toString), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted

  private def isLocal(df: DataFrame): Boolean = df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** All three paths over `docs`: equal schemas and equal rows, each path
    * taken as forced; returns the rows.
    */
  private def samePaths(docs: DataFrame, what: String): Seq[Cov] = {
    val Seq(d, b, e) = Seq(Driver, Broadcast, Exchange).map(coverage(docs, _))
    assert(isLocal(d), s"$what: driver path not taken")
    assert(!isLocal(b) && !isLocal(e), s"$what: a one-long bound must refuse the driver path")
    assert(d.schema == b.schema && d.schema == e.schema,
      s"$what: ${d.schema.simpleString} / ${b.schema.simpleString} / ${e.schema.simpleString}")
    val Seq(rd, rb, re) = Seq(d, b, e).map(rows)
    assert(rd == rb, s"$what: driver-only ${rd.diff(rb).take(5)}, broadcast-only ${rb.diff(rd).take(5)}")
    assert(rd == re, s"$what: driver-only ${rd.diff(re).take(5)}, exchange-only ${re.diff(rd).take(5)}")
    rd
  }

  test("dupSpanCoverage: the driver path equals the broadcast and exchange plans, row for row") {
    val got = samePaths(corpus, "long ids")
    def of(id: Long): Seq[Cov] = got.filter(_._1.contains(id.toString))
    val donorId = corpus.filter(col("doc_id") < 300000L && size(split(trim(col("text")), "\\s+")) >= 30)
      .agg(min(col("doc_id"))).head().getLong(0)
    assert(of(300001L).map(_._4) == Seq(1000L) && of(donorId).map(_._4) == Seq(1000L), "full copy")
    assert(of(300002L).map(_._3) == Seq(8L), "the spliced 8 tokens")
    assert(of(300003L).isEmpty, "within-doc repeats alone")
    // one whole-text span of 3 tokens: clipped at the doc end
    assert(of(300004L) == Seq((Some("300004"), 3L, 3L, 1000L)) && of(300005L).nonEmpty, "short twins")
    // an empty and a whitespace-only text hold no span, as a null text
    assert(of(300006L).isEmpty && of(300007L).isEmpty, "blank texts are dropped")
    assert(of(300008L).isEmpty, "a null text is dropped")
    // the null-id rows: the one holding the hot splice is reported; the
    // one sharing 9's tokens makes nothing hot
    assert(got.filter(_._1.isEmpty) == Seq((None, 12L, 8L, 667L)), got.filter(_._1.isEmpty))
    assert(of(300009L).isEmpty, "a null id never makes a span hot")
    assert(of(300010L) == Seq.fill(2)((Some("300010"), 11L, 8L, 727L)), "one id on two rows: two rows")
    assert(of(300011L).isEmpty, "one id on two rows is one doc for hotness")
    assert(of(300012L).map(_._3) == Seq(8L), "a hot span at the doc end")
    assert(of(300013L).map(_._3) == Seq(16L) && of(300016L).map(_._3) == Seq(16L), "touching and apart")
    assert(of(300017L).map(_._3) == Seq(12L), "overlapping islands cover their union")
  }

  test("an integer id column keeps its type on every path") {
    val docs = corpus.withColumn("doc_id", col("doc_id").cast("int"))
    val got = samePaths(docs, "int ids")
    assert(coverage(docs, Driver).schema("doc").dataType == IntegerType)
    assert(got == samePaths(corpus, "long ids"))
  }

  test("a string id column takes the distributed plan, with the same rows") {
    val docs = corpus.withColumn("doc_id", col("doc_id").cast("string"))
    val Seq(d, e) = Seq(Driver, Exchange).map(coverage(docs, _))
    assert(!isLocal(d) && !isLocal(e))
    assert(d.schema == e.schema && d.schema("doc").dataType == StringType)
    assert(rows(d) == rows(e) && rows(d) == rows(coverage(corpus, Driver)))
  }

  test("a partition past its share of the bound is collected by one more job") {
    // every text in one of 64 partitions (the other 63 hold a null text
    // each, which the optimizer cannot fold away): a 1 M-long bound gives
    // each partition 15 625, under the full one's longs and over the
    // corpus's total
    val skewed = corpus.coalesce(1).unionByName(spark.range(900000, 900063, 1, 63)
      .select(col("id").as("doc_id"), when(col("id") < 0, lit("never")).as("text")))
    val all = coverage(skewed, Driver)
    var late: DataFrame = null
    assert(graft.JobCount.jobsOf(spark) { late = coverage(skewed, (1000000L, Long.MaxValue)) } == 2,
      "checkpoint + late collect")
    assert(isLocal(all) && isLocal(late))
    assert(rows(late) == rows(all) && rows(all).nonEmpty)
  }

  test("the default bound takes the driver path at fixture scale and refuses a small one") {
    assert(isLocal(Spans.dupSpanCoverage(corpus, "doc_id", "text", K)))
    // a doc is about 3 + its token count in longs: 1 000 is far under them
    assert(!isLocal(coverage(corpus, (1000L, Long.MaxValue))))
  }

  test("over the fixture written as 4mc: the frame's rows, no Spark job on the driver read, jobs on every fallback") {
    // a doc is about 3 + its token count in longs: 1 000 is far under them
    val got = McCorpus.sameOver4mc(corpus, "coverage", Long.MaxValue, Some(1000L))(
      (docs, bound) => coverage(docs, (bound, Long.MaxValue)))(rows)
    assert(got.exists(_._1.contains("300001")) && !got.exists(_._1.contains("300006")))
  }
}
