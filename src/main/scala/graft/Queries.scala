package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational query surface (SURVEY §2 C1-C6 + the Catalyst-free operators the
  * engine proves over 4mc-roundtripped tables). Every query here has a DuckDB
  * oracle in [[SparkEntry.oracleSql]] with matching column names.
  *
  * Float determinism: SUM/AVG over doubles is order-dependent, so any
  * oracle-checked aggregate casts to DECIMAL(18,2) first (exact, associative)
  * and converts the final value back to DOUBLE — both engines then produce
  * bit-identical results regardless of partitioning.
  */
object Queries {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else parquet(spark, s"$sfDir/$name.parquet")

  // Parquet schemas by (table path, modification time): inferring one runs
  // a Spark job, and the registered queries read the same tables on every
  // call. Rewriting a table changes its modification time.
  private val schemas = new java.util.concurrent.ConcurrentHashMap[(String, Long), StructType]()

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      .getModificationTime
    val schema = schemas.computeIfAbsent((path, mtime), _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** events.ts is tz-naive TIMESTAMP(MICROS) parquet, which Spark reads as
    * TIMESTAMP_NTZ; cast to session-zone TimestampType (value-preserving —
    * every entry point pins spark.sql.session.timeZone=UTC) so windowing,
    * watermarks, and timestamp literals all resolve against one type.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // the NTZ→TimestampType cast below interprets the stored wall-clock in
    // the session zone; any zone other than UTC silently shifts every
    // timestamp by the zone offset. All entry points pin UTC — fail loudly
    // if a future caller doesn't, instead of producing shifted data.
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"Queries.events requires spark.sql.session.timeZone=UTC (got $tz): " +
        "the TIMESTAMP_NTZ cast is only value-preserving under UTC")
    parquet(spark, s"$sfDir/events.parquet").withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Exact money arithmetic: cast before aggregating. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dbl(c: Column): Column = c.cast(DoubleType)

  // ---------------------------------------------------------------- TPC-H-ish

  /** Q1 pricing summary: the flagship scan+agg. Catalyst gives partial
    * aggregation (map-side combine) for free — at 100 TB this shuffles only
    * 6 groups x partial buffers, not rows.
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    q1Over(table(spark, sfDir, "lineitem"))

  def q1Over(lineitem: DataFrame): DataFrame = {
    import lineitem.sparkSession.implicits._
    lineitem
      .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast(TimestampType))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dbl(sum(dec($"l_quantity"))).as("sum_qty"),
        dbl(sum(dec($"l_extendedprice"))).as("sum_base_price"),
        dbl(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))).as("sum_disc_price"),
        dbl(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")) * (lit(1) + dec($"l_tax"))))
          .as("sum_charge"),
        count(lit(1)).as("count_order")
      )
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Q6: tight scan + filter + scalar agg; filters push to the parquet scan. */
  def q6Forecast(spark: SparkSession, sfDir: String): DataFrame =
    q6Over(table(spark, sfDir, "lineitem"))

  def q6Over(lineitem: DataFrame): DataFrame = {
    import lineitem.sparkSession.implicits._
    lineitem
      .filter(
        $"l_shipdate" >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
          $"l_shipdate" < lit("1997-01-01 00:00:00").cast(TimestampType) &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24
      )
      .agg(dbl(sum(dec($"l_extendedprice") * dec($"l_discount"))).as("revenue"))
  }

  val q6Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Q3: 3-way join + agg + top-N. customer is the small side — Catalyst
    * broadcast-joins it; lineitem⋈orders shuffles on the join key.
    */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = table(spark, sfDir, "customer").filter($"c_mktsegment" === "BUILDING")
    val ord = table(spark, sfDir, "orders")
      .filter($"o_orderdate" < lit("1998-01-01 00:00:00").cast(TimestampType))
    val li = table(spark, sfDir, "lineitem")
      .filter($"l_shipdate" > lit("1996-03-15 00:00:00").cast(TimestampType))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(dbl(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** Q4: EXISTS via left-semi join (no row multiplication, shuffle-friendly). */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = table(spark, sfDir, "orders")
      .filter(
        $"o_orderdate" >= lit("1996-07-01 00:00:00").cast(TimestampType) &&
          $"o_orderdate" < lit("1996-10-01 00:00:00").cast(TimestampType)
      )
    val li = table(spark, sfDir, "lineitem")
    ord
      .join(li, $"l_orderkey" === $"o_orderkey" && $"l_shipdate" > $"o_orderdate", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q5: 6-way star join; dims (region/nation/supplier) broadcast, the
    * customer⋈orders⋈lineitem chain shuffles on keys.
    */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val region = table(spark, sfDir, "region").filter($"r_name" === "ASIA")
    val nation = table(spark, sfDir, "nation")
    val supp = table(spark, sfDir, "supplier")
    val cust = table(spark, sfDir, "customer")
    val ord = table(spark, sfDir, "orders")
      .filter(
        $"o_orderdate" >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
          $"o_orderdate" < lit("1998-01-01 00:00:00").cast(TimestampType)
      )
    val li = table(spark, sfDir, "lineitem")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(dbl(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** Q10-like: returned-item revenue per customer, top 20. */
  def q10ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, sfDir, "lineitem").filter($"l_returnflag" === "R")
    val ord = table(spark, sfDir, "orders")
    val cust = table(spark, sfDir, "customer")
    val nat = table(spark, sfDir, "nation")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(dbl(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  // ------------------------------------------------------- operator coverage

  /** NOT EXISTS via left-anti join. */
  def qAntiCustomersNoOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "customer")
      .join(table(spark, sfDir, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val qAntiSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Window function: top-5 orders by price within each priority class. */
  def qWindowTopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    table(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter($"rn" <= 5)
      .select($"o_orderpriority", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rn")
  }

  val qWindowSql: String =
    """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t
      |WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin

  /** ROLLUP grouping sets. */
  def qRollupRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dbl(sum(dec($"l_extendedprice"))).as("revenue"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  val qRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Exact distinct counts (shuffle on the distinct keys, two-phase). */
  def qDistinctParts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "lineitem")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        countDistinct($"l_orderkey").as("n_orders")
      )
  }

  val qDistinctSql: String =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem""".stripMargin

  /** Scalar subquery, made FP-exact: price*N > total compares decimals. */
  def qPartsAboveAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val part = table(spark, sfDir, "part")
    val stats = part.agg(
      sum(dec($"p_retailprice")).as("total"),
      count(lit(1)).as("n")
    )
    part
      .crossJoin(broadcast(stats))
      .filter(dec($"p_retailprice") * $"n" > $"total")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_above"))
      .orderBy($"p_brand")
  }

  val qPartsAboveAvgSql: String =
    """SELECT p_brand, COUNT(*) AS n_above FROM part
      |WHERE CAST(p_retailprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM part)
      |      > (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2))) FROM part)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Set operation: nations having customers but no suppliers (EXCEPT). */
  def qNationsExcept(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val custNations = table(spark, sfDir, "customer").select($"c_nationkey".as("nationkey")).distinct()
    val suppNations = table(spark, sfDir, "supplier").select($"s_nationkey".as("nationkey")).distinct()
    custNations
      .except(suppNations)
      .join(table(spark, sfDir, "nation"), $"nationkey" === $"n_nationkey")
      .select($"n_name")
      .orderBy($"n_name")
  }

  val qNationsExceptSql: String =
    """SELECT n_name FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  EXCEPT
      |  SELECT s_nationkey AS nationkey FROM supplier) t
      |JOIN nation ON nationkey = n_nationkey ORDER BY n_name""".stripMargin

  /** Generator / flatMap: explode part-name words, count (C2/C3 analog). */
  def qExplodePartWords(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "part")
      .select(explode(split($"p_name", " ")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
      .orderBy($"word")
  }

  val qExplodeSql: String =
    """SELECT word, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part) t
      |GROUP BY word ORDER BY word""".stripMargin

  /** Streaming-shaped batch query: tumbling 1-hour windows over events.
    * The same aggregation runs as a Structured Streaming query in
    * StreamingSpec — identical results by construction.
    */
  def qEventsHourly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "events")
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        dbl(sum($"value".cast(DecimalType(18, 4)))).as("sum_value"),
        countDistinct($"user_id").as("n_users")
      )
      .orderBy($"hour", $"event_type")
  }

  val qEventsHourlySql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Q7-like: trade volume between two nation pairs through the
    * supplier-customer relationship, per year.
    */
  def q7NationVolume(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, sfDir, "lineitem")
    val ord = table(spark, sfDir, "orders")
    val cust = table(spark, sfDir, "customer")
    val supp = table(spark, sfDir, "supplier")
    val n1 = table(spark, sfDir, "nation").select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
    val n2 = table(spark, sfDir, "nation").select($"n_nationkey".as("ck"), $"n_name".as("cust_nation"))
    // Push the nation MEMBERSHIP bound to both dimension sides before any
    // fact shuffle: the pair disjunction spans both sides (so no optimizer
    // can push it whole), but nation ∈ {3,7} is a necessary condition on
    // EACH side. Filtering supplier/customer first shrinks the broadcast
    // dims ~12×, and the broadcast lineitem⋈supplier join then drops ~92%
    // of lineitem BEFORE the only big shuffle (l⋈o on orderkey) — at 100 TB
    // that shuffle is the whole query. The exact pair filter still runs
    // once both nation names are attached.
    val nations = Seq("NATION_3", "NATION_7")
    val supF = supp.join(broadcast(n1.filter($"supp_nation".isin(nations: _*))),
      $"s_nationkey" === $"sk").select($"s_suppkey", $"supp_nation")
    val custF = cust.join(broadcast(n2.filter($"cust_nation".isin(nations: _*))),
      $"c_nationkey" === $"ck").select($"c_custkey", $"cust_nation")
    li.join(broadcast(supF), $"l_suppkey" === $"s_suppkey")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(custF), $"o_custkey" === $"c_custkey")
      .filter(
        ($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_7") ||
          ($"supp_nation" === "NATION_7" && $"cust_nation" === "NATION_3")
      )
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").cast(LongType).as("l_year"))
      .agg(dbl(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))).as("volume"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    EXTRACT(year FROM l_shipdate) AS l_year, l_extendedprice, l_discount
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) t
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Q17-like: correlated per-group scalar subquery — lineitems below 40% of
    * their part's average quantity. FP-exact via sum/count comparison.
    */
  def q17SmallQuantity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, sfDir, "lineitem")
    val perPart = li.groupBy($"l_partkey".as("pk"))
      .agg(sum(dec($"l_quantity")).as("qsum"), count(lit(1)).as("qn"))
    li.join(perPart, $"l_partkey" === $"pk")
      // qty < 0.4 * avg  ⇔  qty * qn * 5 < qsum * 2  (exact decimal/integer)
      .filter(dec($"l_quantity") * $"qn" * 5 < $"qsum" * 2)
      .agg(
        count(lit(1)).as("n_items"),
        dbl(sum(dec($"l_extendedprice"))).as("total_price")
      )
  }

  val q17Sql: String =
    """SELECT COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem l JOIN (
      |  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qsum, COUNT(*) AS qn
      |  FROM lineitem GROUP BY 1) p ON l.l_partkey = p.pk
      |WHERE CAST(l_quantity AS DECIMAL(18,2)) * qn * 5 < qsum * 2""".stripMargin

  /** Q14-like: conditional aggregation — share of promo revenue. The ratio
    * divides two exact-decimal-derived doubles, deterministic in both
    * engines.
    */
  def q14PromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, sfDir, "lineitem")
      .filter(
        $"l_shipdate" >= lit("1996-06-01 00:00:00").cast(TimestampType) &&
          $"l_shipdate" < lit("1996-09-01 00:00:00").cast(TimestampType)
      )
    val part = table(spark, sfDir, "part")
    val rev = dec($"l_extendedprice") * (lit(1) - dec($"l_discount"))
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .agg(
        (dbl(sum(when($"p_type" === "PROMO", rev).otherwise(lit(0).cast(DecimalType(18, 2))))) * 100.0 /
          dbl(sum(rev))).as("promo_pct"),
        count(lit(1)).as("n_items")
      )
  }

  val q14Sql: String =
    """SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_pct,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-06-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-09-01 00:00:00'""".stripMargin

  /** HAVING: suppliers whose shipped value exceeds a fixed floor. */
  def qHavingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "lineitem")
      .groupBy($"l_suppkey")
      .agg(dbl(sum(dec($"l_extendedprice"))).as("total"), count(lit(1)).as("n_items"))
      .filter($"n_items" >= 40)
      .orderBy($"total".desc, $"l_suppkey")
      .limit(25)
  }

  val qHavingSql: String =
    """SELECT l_suppkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(*) AS n_items
      |FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) >= 40
      |ORDER BY total DESC, l_suppkey LIMIT 25""".stripMargin

  /** Sessionization via window lag: events >30min apart start a new session;
    * count sessions per user for the heaviest 20 users (deterministic ties).
    */
  def qEventsSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Tie-break the lag ordering on event_id: two events with the same ts for
    // one user would otherwise make LAG nondeterministic across engines.
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    table(spark, sfDir, "events")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn(
        "new_session",
        when($"prev_ts".isNull || unix_micros($"ts") - unix_micros($"prev_ts") > 1800000000L, 1L)
          .otherwise(0L)
      )
      .groupBy($"user_id")
      .agg(sum($"new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy($"n_events".desc, $"user_id".asc)
      .limit(20)
  }

  val qEventsSessionsSql: String =
    """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
      |  SELECT user_id, ts,
      |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events) a) b
      |GROUP BY user_id ORDER BY n_events DESC, user_id ASC LIMIT 20""".stripMargin
}
