package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver path of the two pair ops (`Dedup.nearDupPairs`,
  * `Dedup.ngramJaccardPairs`) against their distributed plans, each forced
  * through the ops' bound parameter: the same rows, bit for bit, and the
  * same schema.
  */
class DriverPairsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("driver-pairs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** A `maxLongs` that no input reaches: the driver path whenever the id
    * column allows it.
    */
  private val Driver = Long.MaxValue
  /** A bound of one long: every non-empty input takes the distributed plan. */
  private val Distributed = 1L

  /** The fixture's documents plus planted rows: near-dup edits of real
    * docs; a pair with Jaccard exactly 0.5, 0.6 and 0.8 each (n shingles,
    * last token changed: (n-1)/(n+1)); three copies of one text (df 3, so a
    * cap of 2 drops its shingles); docs under 3 tokens, empty texts, a null
    * text and a null doc id whose text copies a real doc's.
    */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"${graft.JobCount.Sf}/documents.parquet").select($"doc_id", $"text")
    val edits = base.filter($"doc_id" % 9 === 0).select(
      ($"doc_id" + 100000).as("doc_id"),
      concat_ws(" ", slice(split($"text", " "), lit(2), size(split($"text", " ")) - 2)).as("text"))
    def words(n: Int, tag: String) = (1 to n).map(i => s"bw$tag$i")
    def boundary(id: Long, n: Int) = {
      val toks = words(n + 2, n.toString)
      Seq((Some(id), Some(toks.mkString(" "))), (Some(id + 1), Some((toks.init :+ "changed").mkString(" "))))
    }
    val firstText = base.orderBy($"doc_id").head().getString(1)
    val planted = boundary(200000L, 3) ++ boundary(200010L, 4) ++ boundary(200020L, 9) ++
      Seq.tabulate(3)(i => (Some(200030L + i), Some("the same three copies of a planted text, word for word"))) ++
      Seq((Some(200040L), Some("two words")), (Some(200041L), Some("two words")), (Some(200042L), Some("one")),
        (Some(200043L), Some("")), (Some(200044L), Some("")), (Some(200045L), None),
        (Some(200046L), None), (None, Some(firstText)))
    base.unionByName(edits).unionByName(planted.toDF("doc_id", "text"))
  }

  /** The rows, sorted: a repeated row counts. */
  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getDouble(2))).toSeq.sorted

  private def isLocal(df: DataFrame): Boolean = df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def minhash(docs: DataFrame, t: Double, maxLongs: Long): DataFrame =
    Dedup.nearDupPairsWith(docs, "doc_id", "text", t, 64, 4, maxLongs)

  private def ngram(docs: DataFrame, t: Double, maxDocFreq: Long, maxLongs: Long): DataFrame =
    Dedup.ngramJaccardPairsWith(docs, "doc_id", "text", t, maxDocFreq, maxLongs)

  /** Both paths of one op call: equal schemas and equal rows, each path
    * taken as forced; returns the rows.
    */
  private def samePairs(op: Long => DataFrame, what: String): Seq[(Long, Long, Double)] = {
    val (onDriver, distributed) = (op(Driver), op(Distributed))
    assert(isLocal(onDriver), s"$what: driver path not taken")
    assert(!isLocal(distributed), s"$what: a one-long bound must refuse the driver path")
    assert(onDriver.schema == distributed.schema, what)
    val (a, b) = (rows(onDriver), rows(distributed))
    assert(a == b, s"$what: driver-only ${a.diff(b).take(5)}, distributed-only ${b.diff(a).take(5)}")
    a
  }

  test("nearDupPairs: the driver path equals the distributed plan at 0.5, 0.6 and 0.8") {
    for (t <- Seq(0.5, 0.6, 0.8)) {
      val pairs = samePairs(minhash(corpus, t, _), s"minhash t=$t")
      assert(pairs.count { case (a, b, _) => b - a == 100000 } > 10, s"t=$t: planted edits found")
      assert(pairs.contains((200040L, 200041L, 1.0)), s"t=$t: short docs pair")
      assert(pairs.forall { case (a, b, j) => a < b && j >= t })
      assert(!pairs.exists { case (a, b, _) => Set(a, b).exists(d => d == 200045L || d == 200046L) },
        "null texts never pair")
    }
  }

  test("ngramJaccardPairs: the driver path equals the distributed plan, capped and uncapped") {
    for (t <- Seq(0.5, 0.6, 0.8)) {
      val uncapped = samePairs(ngram(corpus, t, 0L, _), s"ngram t=$t")
      // the exact-threshold pair is kept, on both paths
      val boundary = Map(0.5 -> 200000L, 0.6 -> 200010L, 0.8 -> 200020L)(t)
      assert(uncapped.contains((boundary, boundary + 1, t)), s"t=$t: boundary pair")
      assert(uncapped.contains((200030L, 200031L, 1.0)) && uncapped.contains((200043L, 200044L, 1.0)))
      assert(!uncapped.exists { case (a, b, _) => Set(a, b).exists(d => d == 200045L || d == 200046L) })
      // df cap 2 drops the shingles of the three copies (and any other
      // shingle in 3+ docs) from the candidates and the sizes
      val capped = samePairs(ngram(corpus, t, 2L, _), s"ngram t=$t maxDocFreq=2")
      assert(!capped.contains((200030L, 200031L, 1.0)), s"t=$t: the cap must drop the copies' shingles")
      assert(capped != uncapped)
    }
  }

  test("an integer id column keeps its type on the driver path") {
    val docs = corpus.withColumn("doc_id", col("doc_id").cast("int"))
    val m = samePairs(minhash(docs, 0.6, _), "minhash int ids")
    val n = samePairs(ngram(docs, 0.6, 0L, _), "ngram int ids")
    assert(minhash(docs, 0.6, Driver).schema("d1").dataType == org.apache.spark.sql.types.IntegerType)
    assert(m.nonEmpty && n.nonEmpty)
  }

  test("a string id column takes the distributed plan") {
    val docs = corpus.withColumn("doc_id", col("doc_id").cast("string"))
    val (m, n) = (minhash(docs, 0.6, Driver), ngram(docs, 0.6, 0L, Driver))
    assert(!isLocal(m) && !isLocal(n))
    assert(m.count() > 0 && n.count() > 0)
  }

  test("a partition past its share of the bound is collected by one more job") {
    // every text in one of 64 partitions (the other 63 hold a null text
    // each): a 1 M-long bound gives each partition 15 625, under the full
    // one's longs and over the corpus's total
    val skewed = corpus.coalesce(1).unionByName(spark.range(900000, 900063, 1, 63)
      .select(col("id").as("doc_id"), lit(null).cast("string").as("text")))
    for ((name, op) <- Seq[(String, Long => DataFrame)](
        "minhash" -> (minhash(skewed, 0.6, _)), "ngram" -> (ngram(skewed, 0.6, 0L, _)))) {
      val all = op(Driver)
      var late: DataFrame = null
      assert(graft.JobCount.jobsOf(spark) { late = op(1000000L) } == 2, s"$name: checkpoint + late collect")
      assert(isLocal(all) && isLocal(late), name)
      assert(rows(late) == rows(all) && rows(all).nonEmpty, name)
    }
  }

  test("the default bound takes the driver path at fixture scale and refuses a small one") {
    val docs = corpus
    assert(isLocal(Dedup.nearDupPairs(docs, "doc_id", "text", 0.6)))
    assert(isLocal(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.6)))
    // the signatures are ~100 longs a doc: 1 000 longs is far under them
    assert(!isLocal(minhash(docs, 0.6, 1000L)) && !isLocal(ngram(docs, 0.6, 0L, 1000L)))
  }

  test("over the fixture written as 4mc: the frame's rows, no Spark job on the driver read, jobs on every fallback") {
    // 1 000 longs is far under the signatures (~100 longs a doc)
    val m = McCorpus.sameOver4mc(corpus, "minhash", Driver, Some(1000L))(minhash(_, 0.6, _))(rows)
    val n = McCorpus.sameOver4mc(corpus, "ngram", Driver, Some(1000L))(ngram(_, 0.6, 0L, _))(rows)
    assert(m.count { case (a, b, _) => b - a == 100000 } > 10 && n.contains((200030L, 200031L, 1.0)))
  }
}
