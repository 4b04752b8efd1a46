package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What a workload needs from the run: the session, the seed, the core
  * count and a directory private to this set-up.
  */
final case class Env(spark: SparkSession, seed: Long, cores: Int, dir: String)

/** One workload: a timed set-up that writes its fixtures with the engine,
  * untimed preparation of the answer checks, and a closed loop run by one
  * client that checks every answer.
  */
trait Workload {
  type State
  def name: String
  /** Generator-side quantities, computed once before any set-up. */
  def init(seed: Long): Unit
  def setup(env: Env, rec: Recorder): State
  def prepare(env: Env, st: State, rec: Recorder): Unit
  /** One round of the loop's operations; the runner repeats rounds. */
  def round(env: Env, st: State, rec: Recorder, round: Int): Unit
  /** Untimed rounds run before the loop so it measures warm code. */
  def warmupRounds: Int
  /** Rounds in one block of the loop's seeded mix: a loop ends only at a
    * block boundary, so every run times the same mix of operations.
    */
  def blockRounds: Int
  /** Container files and their schema, for the traced layer replay. */
  def files(st: State): (Seq[String], StructType)
}

object Workloads {
  val all: Seq[Workload] = Seq(LookupSelective, DedupPipeline)
  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name' (${all.map(_.name).mkString(", ")})"))

  def readCsv(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(schema).load(path)

  /** Generated rows materialized once: the engine writes them, and the
    * parquet twin is written from the same rows.
    */
  def cachedRows(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  val lineitemCols: String = Gen.lineitemSchema.fieldNames.mkString(", ")

  /** Row count and an order-insensitive hash over every column. */
  def digestSql(view: String, cols: String): String =
    s"SELECT count(*), sum(cast(hash($cols) AS BIGINT)) FROM $view"
}

import Workloads._

/** A seeded closed-loop mix over a ship-date-sorted, orderkey-bloomed,
  * manifested lz4 table of many files: point lookups, q6, footer-answered
  * aggregates, a dictionary GROUP BY and manifest-pruned range lookups.
  * Before the loop, full scans (Q1, a wide typed projection, the
  * scan-answered aggregate) of that table and of an unsorted zstd-3 copy
  * of the same rows check the answers against a parquet twin and the
  * footers, and give the scan rate.
  */
object LookupSelective extends Workload {
  val Rows = 80000L
  val Files = 24
  val ScanWarmupRounds = 1
  val ScanRounds = 6
  final case class State(src: DataFrame, path: String, zstdPath: String, twin: String)
  private var csvBytes = 0L
  // per ship day (offset from Gen.ShipEpochDay): rows, quantity cents and
  // the q6 revenue in 1e-4 units, as prefix sums
  private var dayRows: Array[Long] = _
  private var dayQty: Array[Long] = _
  private var dayRev: Array[Long] = _
  private var modeRows: Map[String, Long] = _
  private var maxPrice = 0L
  private var minShip, maxShip = 0

  def name = "lookup_selective"
  def warmupRounds = 40 // each query kind eight times (see `round`)
  def blockRounds: Int = Mix.length

  def init(seed: Long): Unit = {
    val n = Gen.ShipDays + 1
    val rowsD = new Array[Long](n); val qtyD = new Array[Long](n); val revD = new Array[Long](n)
    val modes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var bytes = 0L
    minShip = Int.MaxValue; maxShip = Int.MinValue; maxPrice = 0L
    var i = 0L
    while (i < Rows) {
      val l = Gen.line(seed, i)
      bytes += l.csvBytes
      val d = l.shipDay - Gen.ShipEpochDay
      rowsD(d + 1) += 1; qtyD(d + 1) += l.qtyCents
      if (l.discCents >= 5 && l.discCents <= 7 && l.qtyCents < 2400) revD(d + 1) += l.priceCents * l.discCents
      modes(l.shipmode) += 1
      minShip = math.min(minShip, l.shipDay); maxShip = math.max(maxShip, l.shipDay)
      maxPrice = math.max(maxPrice, l.priceCents)
      i += 1
    }
    for (k <- 1 until n) { rowsD(k) += rowsD(k - 1); qtyD(k) += qtyD(k - 1); revD(k) += revD(k - 1) }
    dayRows = rowsD; dayQty = qtyD; dayRev = revD; modeRows = modes.toMap; csvBytes = bytes
  }

  def setup(env: Env, rec: Recorder): State = {
    val p = s"${env.dir}/lk"
    val src = cachedRows(Gen.lineitem(env.spark, env.seed, 0, Rows, env.cores))
    src.write.format("4mc")
      .option("payload", "csv").option("codec", "lz4-fast")
      .option("sortBy", "l_shipdate").option("sortPartitions", Files.toString)
      .option("bloomColumns", "l_orderkey").option("manifest", "true")
      .option("blockBytes", (64 * 1024).toString).save(p)
    rec.write(csvBytes, Recorder.containerBytes(p))
    // the same rows unsorted, with the writer's defaults, at zstd-3
    val z = s"${env.dir}/lk_zstd"
    src.write.format("4mc").option("payload", "csv").option("codec", "zstd-3").save(z)
    rec.write(csvBytes, Recorder.containerBytes(z))
    State(src, p, z, s"${env.dir}/lk_parquet")
  }

  def prepare(env: Env, st: State, rec: Recorder): Unit = {
    st.src.write.parquet(st.twin)
    st.src.unpersist()
    readCsv(env.spark, Gen.lineitemSchema, st.path).createOrReplaceTempView("lk")
    readCsv(env.spark, Gen.lineitemSchema, st.zstdPath).createOrReplaceTempView("lk_zstd")
    env.spark.read.parquet(st.twin).createOrReplaceTempView("lk_twin")
    fullScans(env, rec)
  }

  /** Q1 in exact integer arithmetic: each decimal becomes its unscaled
    * long (cents) once per row, and the discounted price and the charge
    * are products of those, in 1e-4 and 1e-6 units. Spark's wide-decimal
    * sums box a BigDecimal per row, which would make the query measure the
    * collector instead of the scan; rounded double sums still depend on
    * the summation order when a sum sits on a rounding boundary, so the
    * sorted container and the parquet twin could disagree. Integer sums
    * and the averages divided from them cannot.
    */
  val q1: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(qty), sum(price), sum(price * (100 - disc)), sum(price * (100 - disc) * (100 + tax)),
      |  sum(qty) / count(*), sum(price) / count(*), sum(disc) / count(*), count(*)
      |FROM (SELECT l_returnflag, l_linestatus,
      |  CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT) AS qty,
      |  CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS price,
      |  CAST(round(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS disc,
      |  CAST(round(CAST(l_tax AS DOUBLE) * 100) AS BIGINT) AS tax
      |  FROM %s WHERE l_shipdate <= DATE'1998-09-02')
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  private def date(day: Int) = s"DATE'${java.time.LocalDate.ofEpochDay(day.toLong)}'"
  /** Sum over ship days [from, until) of a prefix-summed array. */
  private def days(a: Array[Long], from: Int, until: Int): Long = {
    def at(d: Int) = a(math.max(0, math.min(Gen.ShipDays, d - Gen.ShipEpochDay)))
    at(until) - at(from)
  }

  val aggSql = "SELECT count(*), min(l_shipdate), max(l_shipdate), min(l_orderkey), max(l_extendedprice) FROM %s"
  private def aggExpected: Seq[String] = Seq(Seq(Rows, java.time.LocalDate.ofEpochDay(minShip.toLong),
    java.time.LocalDate.ofEpochDay(maxShip.toLong), 1L, Gen.dec(maxPrice)).mkString("|"))

  /** Query kinds per block of 20 loop rounds: 7 point, 4 q6, 3 footer
    * aggregates, 2 dictionary GROUP BYs, 4 ranges. Each block is a seeded
    * shuffle of this pattern, so every run has the same mix.
    */
  private val Mix: Seq[Int] = Seq(7, 4, 3, 2, 4).zipWithIndex.flatMap { case (n, k) => Seq.fill(n)(k) }

  def round(env: Env, st: State, rec: Recorder, round: Int): Unit = {
    val spark = env.spark
    // warm-up rounds (negative) cycle through the kinds
    val kind =
      if (round < 0) (-round) % 5
      else {
        val block = new scala.util.Random(Gen.rand(env.seed, 100, round / Mix.length)).shuffle(Mix)
        block(round % Mix.length)
      }
    def arg(k: Int, n: Int) = Gen.below(env.seed, 101 + k, round, n)
    if (kind == 0) {
      val key = 1L + arg(0, (Rows / 4).toInt)
      val want = (0 until 4).map { j =>
        val l = Gen.line(env.seed, (key - 1) * 4 + j)
        Seq(l.linenumber, l.partkey, Gen.dec(l.priceCents)).mkString("|")
      }.sorted
      rec.query("point")(spark.sql(
        s"SELECT l_linenumber, l_partkey, l_extendedprice FROM lk WHERE l_orderkey = $key"))(
        Recorder.canon(_) == want)
    } else if (kind == 1) {
      val from = Gen.ShipEpochDay + 365 + arg(1, 365 * 4)
      val want = java.math.BigDecimal.valueOf(days(dayRev, from, from + 365), 4)
      rec.query("q6")(spark.sql(
        s"""SELECT sum(l_extendedprice * l_discount) FROM lk
           |WHERE l_shipdate >= ${date(from)} AND l_shipdate < ${date(from + 365)}
           |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin))(
        rs => rs.length == 1 && rs(0).getDecimal(0).compareTo(want) == 0)
    } else if (kind == 2) {
      rec.query("footer_agg")(spark.sql(aggSql.format("lk")))(Recorder.canon(_) == aggExpected)
    } else if (kind == 3) {
      rec.query("dict_group")(spark.sql(
        "SELECT l_shipmode, count(*) FROM lk GROUP BY l_shipmode"))(
        Recorder.canon(_) == modeRows.toSeq.map { case (m, c) => s"$m|$c" }.sorted)
    } else {
      val from = Gen.ShipEpochDay + arg(2, Gen.ShipDays - 7)
      val want = Seq(days(dayRows, from, from + 7), Gen.dec(days(dayQty, from, from + 7))).mkString("|")
      rec.query("range")(spark.sql(
        s"SELECT count(*), sum(l_quantity) FROM lk WHERE l_shipdate BETWEEN ${date(from)} AND ${date(from + 6)}"))(
        Recorder.canon(_) == Seq(want))
    }
  }

  /** Full scans, before the loop, of the lz4 table and its zstd-3 copy:
    * Q1 and the wide projection must equal the same queries over the
    * parquet twin, and the aggregate answered by a scan must equal the
    * footer-answered one. After untimed passes, each timed round of the
    * six scans is one `scan_mbps` sample.
    */
  private def fullScans(env: Env, rec: Recorder): Unit = {
    val spark = env.spark
    def sql(q: String) = Recorder.canon(spark.sql(q).collect())
    val want = Map("q1" -> sql(q1.format("lk_twin")), "wide" -> sql(digestSql("lk_twin", lineitemCols)),
      "scan_agg" -> sql(aggSql.format("lk")))
    val scans = for (view <- Seq("lk", "lk_zstd"); (kind, q) <- Seq("q1" -> q1,
        "wide" -> digestSql("%s", lineitemCols), "scan_agg" -> aggSql)) yield (kind, view, q.format(view))
    spark.conf.set("spark.graft.fourmc.aggPushdown", "false")
    try {
      for (_ <- 0 until ScanWarmupRounds; (_, _, q) <- scans) spark.sql(q).collect()
      for (_ <- 0 until ScanRounds) {
        val secs = scans.map { case (kind, view, q) =>
          rec.query(s"$kind:$view", sample = false)(spark.sql(q))(Recorder.canon(_) == want(kind)).fold(0.0)(_._2)
        }.sum
        rec.scan(scans.length * csvBytes, secs)
      }
    } finally spark.conf.set("spark.graft.fourmc.aggPushdown", "true")
  }

  def files(st: State): (Seq[String], StructType) = (Recorder.containerFiles(st.path), Gen.lineitemSchema)
}

/** A seeded corpus with planted near-duplicates, stored as 4mz, through
  * MinHash near-dup pairs, connected components, canonical selection,
  * exact n-gram Jaccard pairs and duplicate-span coverage.
  */
object DedupPipeline extends Workload {
  val Docs = 1000L
  val Threshold = 0.7
  final case class State(src: DataFrame, path: String, twin: String)
  private var csvBytes = 0L
  private var textChars = 0L

  def name = "dedup_pipeline"
  // one untimed pipeline over the container: the parquet pass leaves the
  // container read path and part of the ops' code cold
  def warmupRounds = 1
  def blockRounds = 1
  def init(seed: Long): Unit = {
    csvBytes = Gen.corpusCsvBytes(seed, Docs)
    textChars = (0L until Docs).iterator.map(Gen.docText(seed, _).length.toLong).sum
  }

  def setup(env: Env, rec: Recorder): State = {
    val p = s"${env.dir}/corpus"
    val src = cachedRows(Gen.corpus(env.spark, env.seed, Docs, env.cores))
    src.write.format("4mc").option("payload", "csv").option("codec", "zstd-3").save(p)
    rec.write(csvBytes, Recorder.containerBytes(p))
    State(src, p, s"${env.dir}/corpus_parquet")
  }

  private var expected = Map.empty[String, Seq[String]]

  /** The same ops over a parquet copy of the corpus give the answers every
    * loop round must reproduce (and warm the JIT for the loop).
    */
  def prepare(env: Env, st: State, rec: Recorder): Unit = {
    st.src.write.parquet(st.twin)
    st.src.unpersist()
    expected = pipeline(env.spark.read.parquet(st.twin), new Recorder(env.spark, new Tracer(false)), Map.empty,
      sideOps = true)
    readCsv(env.spark, Gen.corpusSchema, st.path).count()
  }

  /** The pipeline over `docs`, timed as one latency sample; returns each
    * op's canonical result. With `sideOps` (traced loops and the parquet
    * pass), the components op, which the pipeline does not need
    * (keep_canonical computes the components itself), runs after it,
    * unsampled, and so do, when tracing, the LSH candidates behind
    * `ops.minhash_candidate_precision`. The listener leaves both out of
    * the `exec.*` totals.
    */
  private def pipeline(docs: DataFrame, rec: Recorder, want: Map[String, Seq[String]],
                       sideOps: Boolean): Map[String, Seq[String]] = {
    import graft.ops.{Dedup, Spans}
    val out = mutable.Map.empty[String, Seq[String]]
    def run(op: String)(body: => Array[Row]): Unit =
      rec.op(op, sample = false)(Recorder.canon(body))(got => want.isEmpty || want.get(op).contains(got))
        .foreach { case (rs, _) => out(op) = rs }
    var pairs: DataFrame = null
    rec.sampled("pipeline") {
      run("near_dup_pairs") {
        pairs = Dedup.nearDupPairs(docs, "doc_id", "text", Threshold).localCheckpoint(true)
        pairs.collect()
      }
      if (pairs != null) run("keep_canonical")(Dedup.keepCanonical(pairs, docs, "doc_id", "text").collect())
      run("ngram_jaccard_pairs")(Dedup.ngramJaccardPairs(docs, "doc_id", "text", Threshold).collect())
      run("dup_span_coverage")(Spans.dupSpanCoverage(docs, "doc_id", "text", 8).collect())
    }
    if (sideOps && pairs != null) {
      run(Layers.ClustersOp)(Dedup.duplicateClusters(pairs).collect())
      if (rec.tracer.enabled)
        rec.op(Layers.CandidatesOp, sample = false) {
          (pairs.count(), Dedup.lshCandidates(Dedup.minHashSignatures(docs, "doc_id", "text")).count())
        }(_ => true).foreach { case ((verified, candidates), _) =>
          rec.extra("ops.minhash_candidate_precision") = verified.toDouble / math.max(1L, candidates)
        }
    }
    out.toMap
  }

  def round(env: Env, st: State, rec: Recorder, round: Int): Unit = {
    val docs = readCsv(env.spark, Gen.corpusSchema, st.path)
    docs.createOrReplaceTempView("corpus")
    // the corpus is small: five scans per round give the scan rate
    for (_ <- 0 until 5)
      rec.query("corpus_scan", sample = false)(env.spark.sql("SELECT count(*), sum(length(text)) FROM corpus"))(
        Recorder.canon(_) == Seq(s"$Docs|$textChars")).foreach { case (_, secs) => rec.scan(csvBytes, secs) }
    pipeline(docs, rec, expected, sideOps = rec.tracer.enabled)
  }

  def files(st: State): (Seq[String], StructType) = (Recorder.containerFiles(st.path), Gen.corpusSchema)
}
