package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** Both csv block layouts against Spark's own filter: a random table over
  * the whole typed-csv surface, written as rows (with and without block
  * stats) and as columnar, next to an older file that lacks the trailing
  * columns, read back under random pushed filters that refuse about none,
  * half or all of the rows. The main file holds more than 16 batches, so
  * the adaptive probe both evaluates and skips.
  */
class CsvLayoutPropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("csv-layout-property")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc-layouts").toFile
    d.delete(); d.getAbsolutePath
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType),
    StructField("cat", StringType), // few values: a dict stream in columnar blocks
    StructField("l", LongType),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("f", FloatType),
    StructField("b", BooleanType),
    StructField("dt", DateType),
    StructField("dec9", DecimalType(9, 2)),
    StructField("dec18", DecimalType(18, 4)),
    StructField("lowdec", DecimalType(5, 2)), // few values: a dict stream
    StructField("ts", TimestampType),
    StructField("arr", ArrayType(DoubleType)),
    StructField("arrl", ArrayType(LongType)),
    StructField("m", MapType(StringType, StringType))))
  // the older file's schema: the leading columns only
  private val narrow = StructType(schema.fields.take(5))

  private val MainRows = 72000 // 18 batches of 4 096 rows
  private val MicrosRows = 3000
  private val NarrowRows = 2000

  private def gen(rnd: Random, id: Long): Row = {
    def orNull[A](a: => A): Any = if (rnd.nextInt(25) == 0) null else a
    def str(alphabet: String, max: Int): String =
      Seq.fill(rnd.nextInt(max + 1))(alphabet(rnd.nextInt(alphabet.length))).mkString
    val special = "ab|\\\n\r;=,N é"
    Row(
      id,
      orNull(if (rnd.nextInt(8) == 0) "" else str(special, 10)),
      orNull(Seq("x", "", "y|z", "w\\v")(rnd.nextInt(4))),
      orNull(rnd.nextInt(5) match {
        case 0 => 0L
        case 1 => -1L
        case _ => rnd.nextLong() / 1000
      }),
      orNull(rnd.nextInt()),
      orNull(rnd.nextInt(12) match {
        case 0 => Double.NaN
        case 1 => 0.0
        case 2 => -0.0
        case _ => rnd.nextGaussian() * 1e6
      }),
      orNull(rnd.nextInt(12) match {
        case 0 => Float.NaN
        case 1 => 0.0f
        case 2 => -0.0f
        case _ => rnd.nextGaussian().toFloat * 1000f
      }),
      orNull(rnd.nextBoolean()),
      orNull(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(40000) - 10000L))),
      orNull(java.math.BigDecimal.valueOf(rnd.nextInt(2000000000) - 1000000000L + 1, 2)),
      orNull(java.math.BigDecimal.valueOf(rnd.nextLong() % 1000000000000000000L, 4)),
      orNull(java.math.BigDecimal.valueOf(rnd.nextInt(6) * 25L - 50, 2)),
      // millisecond precision: the text encoding keeps the pattern's digits
      orNull(new java.sql.Timestamp(rnd.nextLong() & ((1L << 42) - 1))),
      orNull(Seq.fill(rnd.nextInt(4))(if (rnd.nextInt(6) == 0) null else rnd.nextGaussian())),
      orNull(Seq.fill(rnd.nextInt(4))(if (rnd.nextInt(6) == 0) null else rnd.nextLong())),
      orNull(Seq.fill(rnd.nextInt(3))(
        str(special, 4) -> (if (rnd.nextInt(5) == 0) null else str(special, 4))).toMap))
  }

  /** The source rows, padded with nulls where the older file has no column. */
  private lazy val source: (Seq[Row], Seq[Row], Seq[Row]) = {
    val rnd = new Random(20261021L)
    val main = (0 until MainRows).map(i => gen(rnd, i.toLong))
    val micros = (0 until MicrosRows).map(i => gen(rnd, MainRows + i.toLong))
    val old = (0 until NarrowRows).map(i =>
      Row.fromSeq(gen(rnd, MainRows + MicrosRows + i.toLong).toSeq.take(narrow.length)))
    (main, micros, old)
  }

  private def allRows: Seq[Row] = {
    val (main, micros, old) = source
    main ++ micros ++ old.map(r => Row.fromSeq(r.toSeq ++ Seq.fill(schema.length - narrow.length)(null)))
  }

  private def write(rows: Seq[Row], sch: StructType, dir: String, layout: String, stats: Boolean,
                    tsEncoding: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)
      .write.mode("append").format("4mc").option("payload", "csv")
      .option("layout", layout).option("blockStats", stats.toString)
      .option("timestampEncoding", tsEncoding).option("blockBytes", (256 * 1024).toString)
      .save(dir)

  /** One directory per layout: the main file (text timestamps), a micros
    * file where the encoding allows it, and the older narrow file.
    */
  private def dirOf(layout: String, stats: Boolean): String = {
    val (main, micros, old) = source
    val dir = tmpDir()
    write(main, schema, dir, layout, stats, "text")
    write(micros, schema, dir, layout, stats, if (stats) "micros" else "text")
    write(old, narrow, dir, layout, stats, "text")
    dir
  }

  private val ordering: Map[String, Ordering[Any]] = {
    def by[A](ord: Ordering[A]): Ordering[Any] = ord.on[Any](_.asInstanceOf[A])
    Map(
      "id" -> by(Ordering.Long), "s" -> by(Ordering.String), "cat" -> by(Ordering.String),
      "l" -> by(Ordering.Long), "i" -> by(Ordering.Int),
      "d" -> by(Ordering.Double.TotalOrdering), "f" -> by(Ordering.Float.TotalOrdering),
      "dt" -> by(Ordering.by[java.sql.Date, Long](_.getTime)),
      "dec9" -> by(Ordering.BigDecimal.on[java.math.BigDecimal](BigDecimal(_))),
      "dec18" -> by(Ordering.BigDecimal.on[java.math.BigDecimal](BigDecimal(_))),
      "lowdec" -> by(Ordering.BigDecimal.on[java.math.BigDecimal](BigDecimal(_))),
      "ts" -> by(Ordering.by[java.sql.Timestamp, Long](_.getTime)))
  }

  /** A pushable filter on a random scalar column that refuses about
    * `refuse` of the rows: at the column's minimum (only nulls refused),
    * its median, or past its maximum.
    */
  private def randomFilter(rnd: Random, rows: Seq[Row], refuse: Double): Column = {
    val names = ordering.keys.toSeq.sorted :+ "b"
    val name = names(rnd.nextInt(names.length))
    val c = col(name)
    if (name == "b") {
      if (refuse < 0.25) c.isNotNull else if (refuse < 0.75) c === true else c.isNull && c === true
    } else {
      val pos = schema.fieldIndex(name)
      val vals = rows.map(_.get(pos)).filter(_ != null).sorted(ordering(name))
      if (refuse < 0.25) c >= lit(vals.head)
      else if (refuse < 0.75) c <= lit(vals(vals.length / 2))
      else c > lit(vals.last)
    }
  }

  private def canonical(df: DataFrame): Seq[String] =
    df.collect().toSeq.sortBy(_.getLong(0)).map(_.toString)

  for ((layout, stats) <- Seq(("rows", true), ("rows", false), ("columnar", true))) {
    test(s"random pushed filters: layout=$layout blockStats=$stats equals Spark's filter") {
      val dir = dirOf(layout, stats)
      val rows = allRows
      val src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      val read = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      assert(canonical(read) == canonical(src), "unfiltered read")
      val rnd = new Random(7L)
      for (round <- 0 until 3; refuse <- Seq(0.0, 0.5, 1.0)) {
        val cond = randomFilter(rnd, rows, refuse)
        // a second filter on another column narrows the survivors of the first
        val both = if (round == 2) cond && randomFilter(rnd, rows, 0.0) else cond
        FourMcScanMetrics.reset()
        val got = canonical(read.filter(both))
        assert(got == canonical(src.filter(both)), s"filter $both")
        if (layout == "columnar" && refuse == 0.0 && round < 2)
          assert(FourMcScanMetrics.predEvalBatches.sum > 0 && FourMcScanMetrics.predSkipBatches.sum > 0,
            s"the probe both evaluates and skips under $both")
      }
    }
  }
}
