package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed, row
  * index), so the same seed gives the same rows however Spark partitions
  * the generating job, and the expected answers the checks use are
  * computed from the same functions on the driver.
  */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit value per (stream, index). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rand(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 0x2545F4914F6CDD1DL + stream) + i)

  /** Uniform draw in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(rand(seed, stream, i), n.toLong).toInt

  // ---- lineitem-shaped table ------------------------------------------------

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DecimalType(12, 2)),
    StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_discount", DecimalType(12, 2)),
    StructField("l_tax", DecimalType(12, 2)),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType),
    StructField("l_commitdate", DateType),
    StructField("l_receiptdate", DateType),
    StructField("l_shipinstruct", StringType),
    StructField("l_shipmode", StringType),
    StructField("l_comment", StringType)))

  val ShipModes: Array[String] = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Instructs: Array[String] =
    Array("COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN")
  private val Words: Array[String] = Array(
    "carefully", "quickly", "final", "pending", "regular", "express", "ironic", "special",
    "deposits", "requests", "accounts", "packages", "foxes", "pinto", "beans", "theodolites",
    "instructions", "dependencies", "excuses", "platelets", "asymptotes", "courts", "dolphins",
    "furiously", "slyly", "blithely", "bold", "even", "silent", "unusual", "across", "above")

  /** Day 0 of the ship-date domain (TPC-H's 1992-01-02) and its width. */
  val ShipEpochDay: Int = LocalDate.of(1992, 1, 2).toEpochDay.toInt
  val ShipDays: Int = 2526
  /** TPC-H's "current date": flags and statuses flip around it. */
  val CurrentDay: Int = LocalDate.of(1995, 6, 17).toEpochDay.toInt

  /** One lineitem row in plain fields; decimals as unscaled cents. */
  final case class Line(
      orderkey: Long, partkey: Long, suppkey: Long, linenumber: Int,
      qtyCents: Long, priceCents: Long, discCents: Long, taxCents: Long,
      returnflag: String, linestatus: String,
      shipDay: Int, commitDay: Int, receiptDay: Int,
      instruct: String, shipmode: String, comment: String) {

    def toRow: Row = Row(orderkey, partkey, suppkey, linenumber,
      dec(qtyCents), dec(priceCents), dec(discCents), dec(taxCents), returnflag, linestatus,
      LocalDate.ofEpochDay(shipDay.toLong), LocalDate.ofEpochDay(commitDay.toLong),
      LocalDate.ofEpochDay(receiptDay.toLong), instruct, shipmode, comment)

    /** Bytes of this row as a '|'-delimited, newline-terminated csv line:
      * the uncompressed size every MB/s and ratio metric is measured against.
      */
    def csvBytes: Int =
      Seq(orderkey.toString, partkey.toString, suppkey.toString, linenumber.toString,
        decStr(qtyCents), decStr(priceCents), decStr(discCents), decStr(taxCents),
        returnflag, linestatus, LocalDate.ofEpochDay(shipDay.toLong).toString,
        LocalDate.ofEpochDay(commitDay.toLong).toString,
        LocalDate.ofEpochDay(receiptDay.toLong).toString, instruct, shipmode, comment)
        .iterator.map(_.length).sum + 16
  }

  def dec(cents: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(cents, 2)
  def decStr(cents: Long): String = dec(cents).toPlainString

  /** Row `i` of the lineitem table of `seed`: four lines per order. */
  def line(seed: Long, i: Long): Line = {
    def r(stream: Int, n: Int) = below(seed, stream, i, n)
    val partkey = 1L + r(1, 20000)
    val qty = 1 + r(2, 50)
    val unitCents = 90000L + (partkey % 20001) * 10 + partkey % 100
    val ship = ShipEpochDay + r(3, ShipDays)
    val receipt = ship + 1 + r(4, 30)
    val flag = if (receipt <= CurrentDay) (if (r(5, 2) == 0) "R" else "A") else "N"
    val status = if (ship > CurrentDay) "O" else "F"
    val nWords = 2 + r(6, 5)
    val comment = (0 until nWords).map(k => Words(below(seed, 7, i * 8 + k, Words.length))).mkString(" ")
    Line(orderkey = (i >> 2) + 1, partkey = partkey, suppkey = 1L + r(8, 1000),
      linenumber = (i & 3).toInt + 1, qtyCents = qty * 100L, priceCents = qty * unitCents,
      discCents = r(9, 11).toLong, taxCents = r(10, 9).toLong, returnflag = flag,
      linestatus = status, shipDay = ship, commitDay = ship - 30 + r(11, 61),
      receiptDay = receipt, instruct = Instructs(r(12, Instructs.length)),
      shipmode = ShipModes(r(13, ShipModes.length)), comment = comment)
  }

  /** Rows [from, until) of the lineitem table of `seed` as a DataFrame. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long, slices: Int): DataFrame = {
    val rows = spark.sparkContext.range(from, until, 1, slices).map(i => line(seed, i).toRow)
    spark.createDataFrame(rows, lineitemSchema)
  }

  // ---- document corpus with planted near-duplicates -------------------------

  val corpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val Vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "ho")
    (for (a <- syll; b <- syll; c <- Seq("", "n", "r")) yield a + b + c).take(400)
  }

  /** Every 10th document is a near-duplicate of the document planted as its
    * source: the source's tokens with about 1 in 25 replaced.
    */
  def docSource(seed: Long, id: Long): Long =
    if (id % 10 != 9) -1L
    else {
      val s = id - 1 - below(seed, 20, id, math.min(id, 200L).toInt)
      if (s % 10 == 9) s - 1 else s
    }

  private def originalTokens(seed: Long, id: Long): Array[String] = {
    val n = 60 + below(seed, 21, id, 60)
    Array.tabulate(n) { k =>
      // squared uniform draw: a skewed, Zipf-like word frequency
      val u = below(seed, 22, id * 256 + k, Vocab.length)
      Vocab((u.toLong * u / Vocab.length).toInt)
    }
  }

  def docText(seed: Long, id: Long): String = {
    val src = docSource(seed, id)
    val toks =
      if (src < 0) originalTokens(seed, id)
      else originalTokens(seed, src).zipWithIndex.map { case (t, k) =>
        if (below(seed, 23, id * 256 + k, 25) == 0) Vocab(below(seed, 24, id * 256 + k, Vocab.length))
        else t
      }
    toks.mkString(" ")
  }

  def corpus(spark: SparkSession, seed: Long, docs: Long, slices: Int): DataFrame = {
    val rows = spark.sparkContext.range(0, docs, 1, slices).map(i => Row(i, docText(seed, i)))
    spark.createDataFrame(rows, corpusSchema)
  }

  def corpusCsvBytes(seed: Long, docs: Long): Long =
    (0L until docs).iterator.map(i => i.toString.length + 2L + docText(seed, i).length).sum
}
