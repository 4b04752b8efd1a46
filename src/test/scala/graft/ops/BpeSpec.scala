package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real-BPE training and encoding: hand-verified merges on the published
  * example shape, chained-merge greedy semantics, expression/pure-Scala
  * equality, and the disjoint-table arithmetic identity the oracle row
  * relies on.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("bpe-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("encodeWord: greedy min-rank with chained and interacting merges") {
    // ranks: er=0, ers=1 (chained: second merge consumes the first's output)
    val ranks = Map(("e", "r") -> 0, ("er", "s") -> 1)
    assert(Bpe.encodeWord("ers", ranks) == Vector("ers"))
    assert(Bpe.encodeWord("erer", ranks) == Vector("er", "er"))
    // rank order decides: in "aab" with ab=0, aa=1 the LOWEST rank (ab)
    // merges first even though aa occurs earlier in the word
    val r2 = Map(("a", "b") -> 0, ("a", "a") -> 1)
    assert(Bpe.encodeWord("aab", r2) == Vector("a", "ab"))
    // with the priorities flipped, aa wins and ab can never form
    val r3 = Map(("a", "b") -> 1, ("a", "a") -> 0)
    assert(Bpe.encodeWord("aab", r3) == Vector("aa", "b"))
    // overlapping self-pair merges left-to-right: aaa -> [aa, a]
    assert(Bpe.encodeWord("aaa", Map(("a", "a") -> 0)) == Vector("aa", "a"))
    // end marker participates when enabled
    val r4 = Map(("d", "</w>") -> 0)
    assert(Bpe.encodeWord("ad", r4, endMarker = true) == Vector("a", "d</w>"))
    assert(Bpe.encodeWord("", r4) == Vector.empty)
  }

  test("bpeTrain learns the expected merges on a known corpus") {
    import spark.implicits._
    // 'lo' dominates: low x4, lower x2, lowest x1 -> first merge (l, o),
    // then (lo, w) — the classic subword-nmt warm-up shape
    val d = Seq.fill(4)("low").++(Seq.fill(2)("lower")).:+("lowest")
      .mkString(" ")
    val merges = Bpe.bpeTrain(Seq((1L, d)).toDF("id", "text"), "text",
      numMerges = 2, endMarker = true)
    assert(merges.take(2) == Seq(("l", "o"), ("lo", "w")))
    // trained merges then segment an unseen word sharing the prefix
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    assert(Bpe.encodeWord("lowly", ranks) == Vector("low", "l", "y"))
    // training is deterministic under a different layout
    val again = Bpe.bpeTrain(
      Seq((1L, d)).toDF("id", "text").repartition(3), "text", 2, endMarker = true)
    assert(again == merges)
  }

  test("BpeEncodeExpr equals pure-Scala encodeWord on the fixture corpus") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.bpeTrain(docs, "text", numMerges = 20, endMarker = false)
    assert(merges.nonEmpty)
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val toks = docs
      .select(TextAnalysis.tokens($"text").as("toks"))
      .select(explode($"toks").as("tok")).distinct()
    val got = toks.select($"tok", Bpe.bpe_encode($"tok", merges).as("sub"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    got.foreach { case (tok, sub) =>
      assert(sub == Bpe.encodeWord(tok, ranks), s"token '$tok'")
      assert(sub.mkString == tok, s"subwords must concatenate back to '$tok'")
    }
  }

  test("property: subwords always concatenate back to the word, under arbitrary merges") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val alpha = Gen.alphaLowerChar.map(_.toString)
    val sym = Gen.oneOf(alpha, Gen.listOfN(2, alpha).map(_.mkString)) // 1- or 2-char symbols
    val mergesGen = Gen.listOfN(12, Gen.zip(sym, sym))
    val wordGen = Gen.listOfN(14, Gen.alphaLowerChar).map(_.mkString)
    val prop = Prop.forAll(wordGen, mergesGen) { (w, ms) =>
      val ranks = ms.zipWithIndex.map { case (p, i) => p -> i }.toMap
      val sub = Bpe.encodeWord(w, ranks)
      // lossless segmentation + no empty units + termination reached
      sub.mkString == w && sub.forall(_.nonEmpty)
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("bpe_encode is registered as a SQL function via GraftExtensions") {
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val session = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val rows = session
        .sql("SELECT bpe_encode('ers', 'e r,er s') AS sub")
        .collect()
      assert(rows.head.getSeq[String](0) == Seq("ers"))
      val bad = intercept[Exception] {
        session.sql("SELECT bpe_encode('x', 'malformed')").collect()
      }
      assert(bad.getMessage.toLowerCase.contains("space-separated"))
      // arity and null-literal misuse must raise the clear builder error,
      // not NPE / IndexOutOfBounds from inside the builder
      val oneArg = intercept[Exception] {
        session.sql("SELECT bpe_encode('x')").collect()
      }
      assert(oneArg.getMessage.contains("takes 2 arguments"), oneArg.getMessage)
      val nullLit = intercept[Exception] {
        session.sql("SELECT bpe_encode('x', CAST(NULL AS STRING))").collect()
      }
      assert(nullLit.getMessage.contains("non-null string literal"), nullLit.getMessage)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("disjoint merge table: greedy BPE equals the oracle's arithmetic identity") {
    import spark.implicits._
    val ranks = Bpe.DisjointMerges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(TextAnalysis.tokens($"text").as("toks"))
      .select(explode($"toks").as("tok")).distinct().as[String].collect()
    toks.foreach { tok =>
      val viaGreedy = Bpe.encodeWord(tok, ranks).length
      val viaArith = tok.length - Bpe.DisjointMerges.map { case (x, y) =>
        (tok.length - tok.replace(x + y, "").length) / 2
      }.sum
      assert(viaGreedy == viaArith, s"identity broke on '$tok'")
    }
  }

  test("bpeSegmentStats tokenizes each row once in the optimized plan") {
    import spark.implicits._
    // a range source: a local relation would be folded by the optimizer
    val docs = spark.range(4).select(lit("en").as("lang"), $"id".as("doc_id"),
      concat(lit("the other answer "), $"id".cast("string")).as("text"))
    val plan = Bpe.bpeSegmentStats(docs, "lang", "text").queryExecution.optimizedPlan
    val tokenizes = plan.collect { case n => n.expressions.map(_.collect {
      case t: graft.functions.TokensExpr => t }.size).sum }.sum
    assert(tokenizes == 1, plan.treeString)
  }
}
