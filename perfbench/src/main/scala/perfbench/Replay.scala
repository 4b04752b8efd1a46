package perfbench

import java.io.{File, IOException, OutputStream}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

import graft.format.{ColumnarBlocks, FourMc, FourMcReader, FourMcWriter, McCodec, McInput}
import graft.sources.{CsvPayload, FourMcVectorizedReader}

/** Single-threaded replay of a workload's own container files through the
  * public layer functions, phase by phase, so each scan layer gets its own
  * time: footer (`readIndex`), read (`McInput.readFully`), verify
  * (`FourMc.xxhash32`), decompress (`McCodec.decompress`), and decode/fill
  * (a `FourMcVectorizedReader.csvReader` pass minus the three before it).
  * Codec and writer rates are measured on the same decompressed bytes.
  */
object Replay {
  val Repeats = 3
  val SampleFiles = 3
  val SampleBytesCap: Long = 24L << 20

  private def getBE(a: Array[Byte], off: Int): Int =
    ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) | ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)

  private def nanos[A](tracer: Tracer, name: String)(body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = tracer.span(name)(body)
    (a, System.nanoTime() - t0)
  }

  private final class Block(val header: Array[Byte], val payload: Array[Byte])

  private object NullSink extends OutputStream {
    override def write(b: Int): Unit = ()
    override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
  }

  /** name -> value for every `format.*` metric and `sources.decode_fill_mbps`. */
  def run(spark: SparkSession, filesAndSchema: (Seq[String], StructType), tracer: Tracer): Map[String, Double] = {
    val (files, schema) = filesAndSchema
    require(files.nonEmpty, "no container files to replay")
    val out = mutable.Map.empty[String, Double]

    // whole-directory footer and layout facts
    val footerUs = mutable.ArrayBuffer.empty[Double]
    var blocks = 0L
    var fileBytes = 0L
    var payloadBytes = 0L
    tracer.span("replay:footer") {
      files.foreach { f =>
        val in = McInput.local(new File(f).toPath)
        try {
          var idx = FourMcReader.readIndex(in)
          for (_ <- 0 until Repeats) {
            val t0 = System.nanoTime()
            idx = FourMcReader.readIndex(in)
            footerUs += (System.nanoTime() - t0) / 1e3
          }
          blocks += idx.numBlocks
          fileBytes += idx.fileLen
          val hdr = new Array[Byte](FourMc.BlockHeaderLen)
          idx.blockOffsets.foreach { pos =>
            in.readFully(pos, hdr, 0, hdr.length)
            payloadBytes += getBE(hdr, 4)
          }
        } finally in.close()
      }
    }
    out("format.footer_read_us") = Stats.median(footerUs.toSeq)
    out("format.blocks") = blocks.toDouble
    out("format.metadata_bytes_share") = (fileBytes - payloadBytes).toDouble / fileBytes

    // the sample: evenly spaced files, up to a byte cap
    val step = math.max(1, files.length / SampleFiles)
    val sample = files.indices.by(step).map(files).take(SampleFiles)
      .scanLeft((0L, "")) { case ((acc, _), f) => (acc + new File(f).length, f) }.drop(1)
      .takeWhile(_._1 <= SampleBytesCap).map(_._2) match {
        case s if s.isEmpty => Seq(files.head)
        case s              => s
      }

    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val reader = FourMcVectorizedReader.csvReader(schema, new StructType(), schema, Nil,
      CsvPayload.delimiterOf("|"), "yyyy-MM-dd HH:mm:ss.SSS", statsEnabled = true, permissive = false,
      rkfOpt = None, broadcastConf = conf, extOk = _ => true)

    val rates = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def rate(name: String, bytes: Long, ns: Long): Unit =
      rates.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += bytes / 1e6 / (math.max(ns, 1L) / 1e9)
    var streams = Seq.empty[Array[Byte]]
    var dictStreams = 0L
    var allStreams = 0L

    for (rep <- 0 until Repeats) {
      var readNs, verifyNs, decompNs, csvNs = 0L
      var readB, uncompB = 0L
      val kept = mutable.ArrayBuffer.empty[Array[Byte]]
      sample.foreach { f =>
        val in = McInput.local(new File(f).toPath)
        val (blks, zstd, columnar) = try {
          val idx = FourMcReader.readIndex(in)
          val (bs, rNs) = nanos(tracer, "replay:read") {
            idx.blockOffsets.map { pos =>
              val hdr = new Array[Byte](FourMc.BlockHeaderLen)
              in.readFully(pos, hdr, 0, hdr.length)
              val payload = new Array[Byte](getBE(hdr, 4))
              in.readFully(pos + hdr.length, payload, 0, payload.length)
              new Block(hdr, payload)
            }
          }
          readNs += rNs
          (bs, idx.zstd, idx.stats.exists(_.columnar))
        } finally in.close()
        readB += blks.iterator.map(b => b.header.length + b.payload.length.toLong).sum

        verifyNs += nanos(tracer, "replay:verify") {
          blks.foreach { b =>
            if (FourMc.xxhash32(b.payload, 0, b.payload.length) != getBE(b.header, 8))
              throw new IOException(s"block checksum mismatch in $f")
          }
        }._2

        val (decoded, dNs) = nanos(tracer, "replay:decompress") {
          blks.toSeq.flatMap { b =>
            val uLen = getBE(b.header, 0)
            if (!columnar)
              Seq(if (b.payload.length == uLen) b.payload
                  else McCodec.decompress(zstd, b.payload, 0, b.payload.length, uLen))
            else {
              var off = ColumnarBlocks.dirLen(schema.length)
              (0 until schema.length).map { c =>
                val stored = getBE(b.payload, c * ColumnarBlocks.DirEntryLen)
                val word = getBE(b.payload, c * ColumnarBlocks.DirEntryLen + 4)
                val len = word & ~ColumnarBlocks.DictFlag
                if (rep == 0) {
                  allStreams += 1
                  if ((word & ColumnarBlocks.DictFlag) != 0) dictStreams += 1
                }
                val s = if (stored == len) java.util.Arrays.copyOfRange(b.payload, off, off + len)
                        else McCodec.decompress(zstd, b.payload, off, stored, len)
                off += stored
                s
              }
            }
          }
        }
        decompNs += dNs
        uncompB += decoded.iterator.map(_.length.toLong).sum
        if (rep == 0) kept ++= decoded

        val file = new File(f)
        val pf = PartitionedFile(InternalRow.empty, SparkPath.fromPath(new Path(file.toURI)), 0L,
          file.length, Array.empty[String], file.lastModified, file.length)
        csvNs += nanos(tracer, "replay:csv_reader") {
          var rows = 0L
          // the vectorized reader yields ColumnarBatches typed as rows
          reader(pf).asInstanceOf[Iterator[Any]].foreach {
            case b: ColumnarBatch => rows += b.numRows
            case _                => rows += 1
          }
          rows
        }._2
      }
      rate("format.read_mbps", readB, readNs)
      rate("format.xxhash_mbps", readB, verifyNs)
      rate("sources.decode_fill_mbps", uncompB, csvNs - readNs - verifyNs - decompNs)
      if (rep == 0) streams = kept.toSeq

      val total = streams.iterator.map(_.length.toLong).sum
      for ((codec, tag) <- Seq(McCodec.Lz4Fast -> "lz4", McCodec.Zstd3 -> "zstd")) {
        val (packed, cNs) = nanos(tracer, s"replay:compress_$tag") {
          streams.map { s =>
            val dst = new Array[Byte](codec.maxCompressedLength(s.length))
            val n = codec.compressInto(s, s.length, dst, 0)
            (dst, n, s.length)
          }
        }
        rate(s"format.${tag}_compress_mbps", total, cNs)
        val dNs = nanos(tracer, s"replay:decompress_$tag") {
          packed.foreach { case (dst, n, len) => if (n > 0) McCodec.decompress(codec.zstd, dst, 0, n, len) }
        }._2
        val decompressed = packed.iterator.filter(_._2 > 0).map(_._3.toLong).sum
        rate(s"format.${tag}_decompress_mbps", decompressed, dNs)
      }
      rate("format.writer_mbps", total, nanos(tracer, "replay:writer") {
        val w = new FourMcWriter(NullSink, McCodec.Lz4Fast)
        streams.foreach(s => w.write(s, 0, s.length))
        w.close()
      }._2)
    }
    rates.foreach { case (k, v) => out(k) = Stats.median(v.toSeq) }
    out("format.dict_stream_share") = if (allStreams == 0) 0.0 else dictStreams.toDouble / allStreams
    out.toMap
  }
}
