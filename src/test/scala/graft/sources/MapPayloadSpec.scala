package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** `map<string,string>` columns in the typed csv payload (round 13, SURVEY
  * §1.4's `props` shape): entries `key=value` joined by ';', key/value
  * tokens '\'-escaping their structural bytes, null values as the 2-byte
  * `\N` token, empty field = empty map, field-level `\N` = null map.
  */
class MapPayloadSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("map-payload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("fourmc-map").toFile
    d.delete(); d.getAbsolutePath
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("props", MapType(StringType, StringType, valueContainsNull = true)),
    StructField("note", StringType, nullable = true)))

  /** Adversarial fixture: keys/values dense in the grammar's own bytes
    * ('=', ';', '|', '\', newlines), empty keys/values, literal "N" and
    * "\N" values, null values, empty and null maps.
    */
  private def fixtureRows(n: Int): Seq[Row] = (0 until n).map { i =>
    val props: Map[String, String] =
      if (i % 11 == 1) null
      else if (i % 13 == 2) Map.empty
      else {
        val base = Map(s"k$i" -> s"v${i * 7}")
        val weird = (i % 17) match {
          case 3 => Map("a=b" -> "c;d", "e|f" -> "g\\h")
          case 4 => Map("line" -> "one\ntwo\rthree", "" -> "emptykey")
          case 5 => Map("nullv" -> null, "N" -> "N")
          case 6 => Map("bs" -> "\\N", "eq" -> "==;;")
          case 7 => Map("emptyv" -> "", "uni" -> "héllo→世界")
          case _ => Map.empty[String, String]
        }
        base ++ weird
      }
    Row(i.toLong, props, if (i % 7 == 3) null else s"n|ote\\${i % 5}")
  }

  private def fixtureDf(n: Int) =
    spark.createDataFrame(spark.sparkContext.parallelize(fixtureRows(n), 3), schema)

  /** Canonical per-row string: sorted entries with null/empty markers. */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.collect().map { r =>
      val id = r.getLong(0)
      val m = if (r.isNullAt(1)) "<nullmap>" else {
        val mm = r.getMap[String, String](1)
        mm.toSeq.sortBy(_._1).map { case (k, v) =>
          s"[$k]=" + (if (v == null) "<null>" else s"<$v>")
        }.mkString(",")
      }
      val note = if (r.isNullAt(2)) "<null>" else r.getString(2)
      s"$id :: $m :: $note"
    }.sorted.toSeq
  }

  test("map columns round-trip value-exactly through both codecs") {
    val df = fixtureDf(2000)
    for (codec <- Seq("lz4-fast", "zstd-1")) {
      val dir = tmpDir()
      df.write.format("4mc").option("payload", "csv").option("codec", codec).save(dir)
      val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      assert(canon(back) == canon(df), codec)
    }
  }

  test("split invariance + projection: tiny blocks, map column parses identically") {
    val df = fixtureDf(4000)
    val dir = tmpDir()
    df.coalesce(1).write.format("4mc").option("payload", "csv")
      .option("blockBytes", (32 * 1024).toString).save(dir)
    val whole = canon(spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir))
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val split = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      assert(split.rdd.getNumPartitions > 2)
      assert(canon(split) == whole)
      // projection of the map alone (different neededFields) agrees too
      val vals = split.select(element_at(col("props"), "a=b")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getString(0)).filter(_ != null)
      assert(vals.forall(_ == "c;d") && vals.nonEmpty)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
  }

  test("row reader (withOffsets alongside) agrees with the vectorized path") {
    val df = fixtureDf(1500)
    val dir = tmpDir()
    df.write.format("4mc").option("payload", "csv").save(dir)
    // `_metadata` fields ride as constant columns Spark appends to each
    // batch: the scan stays batched
    def withFileName = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
      .select(col("id"), col("props"), col("note"), col("_metadata.file_name"))
    def check(): Unit = {
      val rows = withFileName.collect()
      assert(rows.forall(_.getString(3).endsWith(".4mc")))
      assert(canon(withFileName) == canon(df))
    }
    assert(withFileName.queryExecution.executedPlan.toString.contains("Batched: true"))
    check()
    // rows served from the same batches (no whole-stage codegen)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      assert(withFileName.queryExecution.executedPlan.toString.contains("Batched: false"))
      check()
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("typed compaction preserves map columns entry-exactly") {
    val df = fixtureDf(2500)
    val inDir = tmpDir(); val outDir = tmpDir()
    df.repartition(6).write.format("4mc").option("payload", "csv")
      .option("codec", "zstd-1").save(inDir)
    graft.ops.Compact.compactCsv(spark, inDir, outDir, schema, "lz4-fast")
    val back = spark.read.format("4mc").option("payload", "csv").schema(schema).load(outDir)
    assert(canon(back) == canon(df))
  }

  test("aggregate pushdown refuses map columns but scalars alongside still answer") {
    val df = fixtureDf(3000)
    val dir = tmpDir()
    df.write.format("4mc").option("payload", "csv").save(dir)
    val table = spark.read.format("4mc").option("payload", "csv").schema(schema).load(dir)
    // min/max on the scalar id answers from the footer; a map-involving
    // aggregate must fall back to the scan and stay correct
    val got = table.agg(min(col("id")), max(col("id")),
      count(col("props")), sum(size(col("props")))).head()
    val want = df.agg(min(col("id")), max(col("id")),
      count(col("props")), sum(size(col("props")))).head()
    assert(got == want)
  }
}
