package graft.sources

import graft.format.{EbBlocks, FourMcEbBlockIterator, FourMcReader, FourMcWriter, McCodec, McInput}
import graft.functions.{ProtoFunctions, ProtoWire}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Elephant-Bird SerializedBlock payload (`payload=eb-proto`): pre-existing
  * EB-framed containers decode through proto_struct, splits stay
  * exactly-once, and the sink round-trips.
  */
class EbProtoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("eb-proto-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val userSpec = "1:name:string,2:id:long,3:tags:rstring"
  private val userFields = ProtoWire.parseSpec(userSpec)

  private def userMsg(i: Int): Array[Byte] = {
    val r = new scala.util.Random(i)
    ProtoWire.encode(userFields,
      Seq(s"user-$i-${r.alphanumeric.take(48).mkString}", i.toLong, Seq(s"t${i % 7}")))
  }

  test("an EB length that claims more than the stream holds fails without allocating it") {
    val f = Files.createTempFile("eblie", ".4mc")
    val w = new FourMcWriter(Files.newOutputStream(f), McCodec.Lz4Fast)
    val len = new ProtoWire.Writer
    len.writeVarint(200L << 20) // under the 256 MiB cap; the stream holds 1 000 bytes
    val framed = EbBlocks.DefaultMarker ++ len.toBytes ++ Array.fill[Byte](1000)(7)
    w.write(framed, 0, framed.length)
    w.close()
    val in = McInput.local(f)
    try {
      val idx = FourMcReader.readIndex(in)
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val before = mx.getCurrentThreadAllocatedBytes
      val e = intercept[java.io.IOException](new FourMcEbBlockIterator(in, idx, 0L, idx.fileLen).hasNext)
      val allocated = mx.getCurrentThreadAllocatedBytes - before
      assert(e.getMessage.contains("truncated"), e.getMessage)
      assert(allocated < (16L << 20), s"the failing read allocated $allocated bytes")
    } finally { in.close(); Files.delete(f) }
  }

  test("a pre-existing EB-framed 4mc file decodes blob-per-row through proto_struct") {
    import spark.implicits._
    // simulate a file written by an EB pipeline: blocks of 100 messages,
    // framed marker + varint + SerializedBlock, straight through the
    // container writer (no Spark sink involved)
    val dir = Files.createTempDirectory("ebpre").toString
    val f = new java.io.File(dir, "users.4mc")
    val w = new FourMcWriter(new java.io.BufferedOutputStream(Files.newOutputStream(f.toPath), 1 << 16), McCodec.Lz4Fast)
    val n = 50000
    (0 until n).grouped(100).foreach { ids =>
      val block = EbBlocks.blockBytes("com.example.User", ids.map(userMsg))
      w.write(block, 0, block.length)
    }
    w.close()

    val got = spark.read.format("4mc").option("payload", "eb-proto").load(f.getAbsolutePath)
      .select(ProtoFunctions.proto_struct(col("value"), userSpec).as("m"))
      .select($"m.id").as[Long].collect().sorted
    assert(got.toSeq == (0L until n.toLong))
  }

  test("eb-proto splits are exactly-once over a multi-block file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ebsplit").toString
    val f = new java.io.File(dir, "users.4mc")
    val w = new FourMcWriter(new java.io.BufferedOutputStream(Files.newOutputStream(f.toPath), 1 << 16), McCodec.Lz4Fast)
    val n = 150000 // ~ 11 MB framed, several 4 MiB container blocks
    (0 until n).grouped(100).foreach { ids =>
      val block = EbBlocks.blockBytes("com.example.User", ids.map(userMsg))
      w.write(block, 0, block.length)
    }
    w.close()
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (2L * 1024 * 1024).toString)
    try {
      val df = spark.read.format("4mc").option("payload", "eb-proto").load(f.getAbsolutePath)
      assert(df.rdd.getNumPartitions > 1, s"want >1 splits, got ${df.rdd.getNumPartitions}")
      val ids = df.select(ProtoFunctions.proto_struct(col("value"), userSpec).as("m"))
        .select($"m.id").as[Long].collect().sorted
      assert(ids.length == n, s"got ${ids.length} of $n records across splits")
      assert(ids.toSeq == (0L until n.toLong))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
  }

  test("sink round-trip with a deployment-specific marker; wrong marker finds nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ebsink").toString + "/out"
    val markerHex = "00112233445566778899aabbccddeeff"
    (0 until 5000).map(userMsg).toDF("value")
      .repartition(2)
      .write.format("4mc")
      .option("payload", "eb-proto")
      .option("ebMarker", markerHex)
      .option("ebClassName", "com.example.User")
      .option("codec", "zstd-1")
      .save(dir)
    val back = spark.read.format("4mc")
      .option("payload", "eb-proto").option("ebMarker", markerHex)
      .load(dir)
      .select(ProtoFunctions.proto_struct(col("value"), userSpec).as("m"))
      .select($"m.id").as[Long].collect().sorted
    assert(back.toSeq == (0L until 5000L))
    // a reader expecting a different deployment's marker resynchronizes
    // forever and finds no blocks (EB semantics), rather than mis-framing
    val wrong = spark.read.format("4mc").option("payload", "eb-proto").load(dir).count()
    assert(wrong == 0L)
  }
}
