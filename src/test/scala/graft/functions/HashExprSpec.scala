package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Md5PrefixLongExpr must be bit-identical to the column formulation it
  * replaces — `conv(substring(md5(x), 1, nHex), 16, 10)` — for every prefix
  * width the ops use (1 = span anchors, 8 = md5Bucket, 15 = MinHash/SimHash
  * base hashes), including empty strings, unicode, and NULLs.
  */
class HashExprSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("hash-expr-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def fused(c: org.apache.spark.sql.Column, nHex: Int) =
    column(Md5PrefixLongExpr(expression(c.cast(BinaryType)), nHex))

  private def legacy(c: org.apache.spark.sql.Column, nHex: Int) =
    conv(substring(md5(c.cast(BinaryType)), 1, nHex), 16, 10).cast(LongType)

  test("fused md5 prefix equals conv(substring(md5)) for nHex 1, 8, 15") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val strs = Seq("", " ", "a", "the quick brown fox", "naïve café 中文",
      "0123456789abcdef" * 8) ++
      (0 until 500).map(_ => rng.alphanumeric.take(rng.nextInt(40)).mkString)
    val df = strs.toDF("s")
    for (n <- Seq(1, 8, 15)) {
      val bad = df
        .select(fused($"s", n).as("f"), legacy($"s", n).as("l"))
        .filter($"f" =!= $"l" || $"f".isNull =!= $"l".isNull)
        .count()
      assert(bad == 0L, s"nHex=$n: fused and legacy md5 prefixes diverge")
    }
  }

  test("NULL input yields NULL, and numeric keys bucket identically") {
    import spark.implicits._
    val df = Seq[java.lang.Long](1L, 42L, null, 999999937L).toDF("k")
    val out = df.select(
      (fused($"k".cast(StringType), 8) % 1000).as("f"),
      (legacy($"k".cast(StringType), 8) % 1000).as("l"))
    val rows = out.collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
    assert(rows.count(_.isNullAt(0)) == 1)
  }

  private def legacyWindows(toks: org.apache.spark.sql.Column, k: Int) =
    when(size(toks) < k, array(xxhash64(concat_ws(" ", toks))))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => xxhash64(concat_ws(" ", slice(toks, i, lit(k))))))

  test("token_window_hash equals the slice/concat_ws/xxhash64 formulation") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val texts = Seq("", "one", "a b", "a b c", "naïve café 中文 words here",
      ("tok " * 50).trim) ++
      (0 until 300).map(_ => (0 until rng.nextInt(30))
        .map(_ => rng.alphanumeric.take(1 + rng.nextInt(8)).mkString).mkString(" "))
    val df = texts.toDF("text")
      .select(graft.ops.TextAnalysis.tokens($"text").as("toks"))
    for (k <- Seq(3, 8)) {
      val bad = df
        .select(graft.ops.TextAnalysis.windowHashes($"toks", k).as("f"),
          legacyWindows($"toks", k).as("l"))
        .filter(to_json($"f") =!= to_json($"l"))
        .count()
      assert(bad == 0L, s"k=$k: fused and legacy window hashes diverge")
    }
  }

  test("token_window_hash: null elements follow concat_ws skip-null semantics") {
    val df = spark.range(1).select(
      array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")).as("toks"))
    val rows = df.select(
      graft.ops.TextAnalysis.windowHashes(col("toks"), 3).as("f"),
      legacyWindows(col("toks"), 3).as("l")).collect()
    assert(rows.head.getSeq[Long](0) == rows.head.getSeq[Long](1))
  }

  test("whole-stage codegen and interpreted paths agree") {
    import spark.implicits._
    val df = (0 until 100).map(i => s"doc-$i").toDF("s")
    val withCodegen = df.select(fused($"s", 15).as("h")).collect().map(_.getLong(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(fused($"s", 15).as("h")).collect().map(_.getLong(0))
      assert(withCodegen.toSeq == interp.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  // the column chain ShingleHashesExpr fuses: distinct 3-token shingles,
  // then per shingle md5_prefix_long(15) % p and xxhash64
  private def legacyShingles(toks: org.apache.spark.sql.Column) = {
    val sh = array_distinct(graft.ops.Dedup.shinglesFromTokens(toks))
    struct(
      transform(sh, s => column(Md5PrefixLongExpr(expression(s.cast(BinaryType)), 15)) % graft.ops.Dedup.MinHashP)
        .as("hs"),
      transform(sh, s => xxhash64(s)).as("keys"))
  }

  private def shingleHashes(toks: org.apache.spark.sql.Column) =
    column(ShingleHashesExpr(expression(toks), 3, graft.ops.Dedup.MinHashP))

  test("shingle_hashes equals the distinct-shingle md5 and xxhash64 chain, null elements included") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val texts = Seq("", "one", "a b", "a b c", "a b c a b c a b", "x x x x", "naïve café 中文 café 中文 naïve café") ++
      (0 until 300).map(_ => (0 until rng.nextInt(30))
        .map(_ => Seq("a", "b", "c", "dé", "中")(rng.nextInt(5))).mkString(" "))
    val toks = texts.toDF("text").select(graft.ops.TextAnalysis.tokens($"text").as("toks"))
    // null elements follow concat_ws, which skips them with their separator:
    // "a", null, "b" makes the window "a b", as the 2-token "a b" does
    val withNulls = Seq(Seq("a", null, "b", "c"), Seq(null, "a", "b", "a", null, "b"), Seq[String](null),
      Seq(null, null, "x", "y", "x", "y"), Seq("a", null)).toDF("toks")
    for (df <- Seq(toks, withNulls)) {
      val bad = df.select(to_json(shingleHashes($"toks")).as("f"), to_json(legacyShingles($"toks")).as("l"))
        .filter($"f" =!= $"l").count()
      assert(bad == 0L, "fused and column shingle hashes diverge")
    }
    val t = toks.select(shingleHashes($"toks").as("t")).schema("t").dataType
    assert(t == ShingleHashesExpr.Type)
  }

  test("shingle_hashes: generated and interpreted projections agree; a null array is null") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    val e = ShingleHashesExpr(
      BoundReference(0, org.apache.spark.sql.types.ArrayType(StringType), nullable = true), 3, graft.ops.Dedup.MinHashP)
    sameProjections(e, tokenArrays, "shingle_hashes")
    val abc = GenerateUnsafeProjection.generate(Seq(e))(InternalRow(tokenArrays.head)).getStruct(0, 2)
    assert(abc.getArray(0).numElements() == 3 && abc.getArray(1).numElements() == 3)
  }

  /** A projection of `e` over one input column, generated and interpreted:
    * the two must make byte-equal rows for every input, null included.
    */
  private def sameProjections(e: org.apache.spark.sql.catalyst.expressions.Expression, inputs: Seq[Any],
                              what: String): Unit = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    val generated = GenerateUnsafeProjection.generate(Seq(e))
    val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
    for (in <- inputs :+ null) {
      val row = InternalRow(in)
      val (g, i) = (generated(row).copy(), interpreted(row).copy())
      assert(g == i, s"$what: generated and interpreted rows differ for $in")
      assert(g.isNullAt(0) == (in == null), what)
    }
  }

  /** Token arrays: repeated windows, an empty token, no tokens, a null
    * element, multi-byte UTF-8, and 50 random ones.
    */
  private def tokenArrays: Seq[org.apache.spark.sql.catalyst.util.ArrayData] = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new scala.util.Random(23)
    (Seq(Seq("a", "b", "c", "a", "b", "c"), Seq(""), Seq.empty[String], Seq("x", null, "y", "z"),
      Seq("naïve", "café", "中文", "naïve", "café"), (1 to 20).map(i => s"t$i")) ++
      (0 until 50).map(_ => (0 until rng.nextInt(20)).map(_ => Seq("a", "bb", "dé", "中", "")(rng.nextInt(5)))))
      .map(ts => new GenericArrayData(ts.map(t => if (t == null) null else UTF8String.fromString(t)).toArray[Any]))
  }

  test("token_window_hash: generated and interpreted projections agree at k = 3 and k = 8") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    for (k <- Seq(3, 8))
      sameProjections(TokenWindowHashExpr(
        BoundReference(0, org.apache.spark.sql.types.ArrayType(StringType), nullable = true), k),
        tokenArrays, s"k=$k")
  }

  test("minhash_signatures: generated and interpreted projections agree") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.ops.Dedup.{MinHashP, minHashCoefA, minHashCoefB}
    val e = MinHashSignaturesExpr(
      BoundReference(0, org.apache.spark.sql.types.ArrayType(LongType), nullable = true),
      Array.tabulate(64)(minHashCoefA), Array.tabulate(64)(minHashCoefB))
    val rng = new scala.util.Random(29)
    val inputs = Seq(Array.empty[Long], Array(0L), Array(MinHashP - 1, 1L, 7L)) ++
      (0 until 50).map(_ => Array.fill(rng.nextInt(40))(math.floorMod(rng.nextLong(), MinHashP)))
    sameProjections(e, inputs.map(a => new GenericArrayData(a.toArray[Any])), "minhash")
  }

  /** Texts over every character class the tokenizer must get right: the
    * six ASCII `\s` bytes, whitespace outside them (U+00A0, U+2003,
    * U+0085), multi-byte UTF-8, and words.
    */
  private def randomTexts(seed: Int, n: Int): Seq[String] = {
    val alphabet = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0", "\u2003", "\u0085", "a", "word", "é", "中",
      "\uD83D\uDE00", "x y", "  ")
    val rng = new scala.util.Random(seed)
    Seq("", " ", "   ", "\t", "\t\t", " \t ", "a", " a ", "\ta", "a\t", "\u00A0", "a\u2003b", "\u0085 x") ++
      (0 until n).map(_ => (0 until rng.nextInt(12)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
  }

  test("tokens equals split(trim(t), \"\\\\s+\") on random texts, blank texts and null") {
    import spark.implicits._
    val df = (randomTexts(31, 3000).map(Option(_)) :+ None).toDF("t")
    val legacy = split(trim($"t"), "\\s+")
    val toks = graft.ops.TextAnalysis.tokens($"t")
    assert(df.select(toks).schema.head.dataType == df.select(legacy).schema.head.dataType)
    val bad = df.filter(not(toks <=> legacy)).select($"t").as[String].collect()
    assert(bad.isEmpty, s"tokens differ for ${bad.take(5).map(_.map(_.toInt)).toSeq}")
    assert(df.filter($"t".isNull).select(toks.isNull).as[Boolean].head())
  }

  test("tokens: the kernel equals Spark's split on arbitrary bytes, malformed UTF-8 included") {
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new scala.util.Random(37)
    val pieces: Seq[Array[Byte]] = Seq(" ", "\t", "\r\n", "\u000B\f", "a", "é", "中", "\uD83D\uDE00")
      .map(_.getBytes("UTF-8")) ++
      Seq(Array(0x80), Array(0xC3), Array(0xED, 0xA0, 0x80), Array(0xC0, 0x80), Array(0xF4, 0x90, 0x80, 0x80),
        Array(0xFF)).map(_.map(_.toByte))
    val texts = randomTexts(41, 500).map(_.getBytes("UTF-8")) ++
      (0 until 3000).map(_ => Array.concat(Seq.fill(rng.nextInt(10))(pieces(rng.nextInt(pieces.length))): _*))
    for (b <- texts) {
      val u = UTF8String.fromBytes(b)
      val (got, want) = (TokensExpr.tokens(u), TokensExpr.legacy(u))
      assert(got.numElements() == want.numElements() &&
        (0 until got.numElements()).forall(i => got.getUTF8String(i) == want.getUTF8String(i)),
        s"tokens differ for bytes ${b.map(_ & 0xff).toSeq}")
    }
  }

  test("tokens: generated and interpreted projections agree") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.unsafe.types.UTF8String
    sameProjections(TokensExpr(BoundReference(0, StringType, nullable = true)),
      randomTexts(43, 200).map(UTF8String.fromString), "tokens")
  }

  test("non_blank equals rlike(t, \"\\\\S\") on random texts, malformed UTF-8 and null; projections agree") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.unsafe.types.UTF8String
    val df = (randomTexts(47, 3000).map(Option(_)) :+ None).toDF("t")
    val nb = graft.ops.TextAnalysis.nonBlank($"t")
    val bad = df.filter(not(nb <=> $"t".rlike("\\S"))).select($"t").as[String].collect()
    assert(bad.isEmpty, s"non_blank differs for ${bad.take(5).map(_.map(_.toInt)).toSeq}")
    assert(df.filter($"t".isNull).select(nb.isNull).as[Boolean].head())
    for (b <- Seq(Array(0x80), Array(0x20, 0xC3), Array(0x09, 0xFF, 0x0D)).map(_.map(_.toByte)))
      assert(TokensExpr.nonBlank(UTF8String.fromBytes(b)))
    assert(!TokensExpr.nonBlank(UTF8String.fromString(" \t\n\u000B\f\r")))
    sameProjections(NonBlankExpr(BoundReference(0, StringType, nullable = true)),
      randomTexts(53, 200).map(UTF8String.fromString), "non_blank")
  }
}
