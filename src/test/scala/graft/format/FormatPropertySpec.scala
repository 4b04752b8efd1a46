package graft.format

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import java.nio.file.Files

/** Property-based format tests (SURVEY §5.2/§5.3): arbitrary payloads
  * round-trip under every codec, and line reads are split-invariant for
  * arbitrary split points, with or without a block keep mask. Generators are driven manually with fixed seeds
  * (the scalatest-scalacheck bridge is not on the offline classpath).
  */
class FormatPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def roundTrip(data: Array[Byte], codec: McCodec): Array[Byte] = {
    val p = Files.createTempFile("prop", codec.fileExtension)
    try {
      val w = new FourMcWriter(Files.newOutputStream(p), codec)
      w.write(data, 0, data.length); w.close()
      val in = McInput.local(p)
      try {
        val idx = FourMcReader.readIndex(in)
        val out = new ByteArrayOutputStream()
        var pos = if (idx.numBlocks > 0) idx.blockOffsets(0) else idx.eosPos
        var done = pos >= idx.eosPos
        while (!done) {
          val (d, nxt) = FourMcReader.readBlock(in, idx.zstd, pos)
          if (d == null) done = true
          else { out.write(d); pos = nxt; if (pos >= idx.eosPos) done = true }
        }
        out.toByteArray
      } finally in.close()
    } finally Files.delete(p)
  }

  private val payloadGen: Gen[Array[Byte]] = Gen.oneOf(
    Gen.const(Array.empty[Byte]),
    Gen.choose(1, 2000).flatMap(n => Gen.containerOfN[Array, Byte](n, Arbitrary.arbitrary[Byte])),
    // compressible: repeated small alphabet
    Gen.choose(1, 50000).map(n => Array.fill(n)(('a' + n % 20).toByte)),
    // block-boundary adjacent sizes
    Gen.oneOf(FourMc.MaxBlockSize - 1, FourMc.MaxBlockSize, FourMc.MaxBlockSize + 1)
      .map(n => { val a = new Array[Byte](n); new scala.util.Random(n).nextBytes(a); a })
  )

  test("property: arbitrary payloads round-trip under lz4-fast and zstd-1") {
    val cases = samples(payloadGen, 20)
    assert(cases.size >= 15, "generator should produce most samples")
    cases.foreach { data =>
      assert(roundTrip(data, McCodec.Lz4Fast).sameElements(data), s"lz4 len=${data.length}")
      assert(roundTrip(data, McCodec.Zstd1).sameElements(data), s"zstd len=${data.length}")
    }
  }

  test("property: line multiset is invariant under arbitrary split points") {
    val rnd = new scala.util.Random(7)
    val lines = (0 until 20000).map(i => s"r$i-${rnd.alphanumeric.take(rnd.nextInt(40)).mkString}")
    val data = (lines.mkString("\n") + "\n").getBytes("UTF-8")
    val p = Files.createTempFile("prop", ".4mc")
    val w = new FourMcWriter(Files.newOutputStream(p), McCodec.Lz4Fast)
    var off = 0
    while (off < data.length) { // ~64 KiB blocks for many boundaries
      val n = math.min(64 * 1024, data.length - off)
      w.write(data, off, n); w.flushBlock(); off += n
    }
    w.close()
    val fileLen = Files.size(p)
    val in = McInput.local(p)
    val idx = FourMcReader.readIndex(in)
    val boundsGen: Gen[List[Long]] =
      Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, Gen.choose(0L, fileLen)))
    try {
      samples(boundsGen, 30).foreach { cuts =>
        val bounds = (0L :: fileLen :: cuts).distinct.sorted
        val got = bounds.sliding(2).flatMap { case List(s, e) =>
          new FourMcLineIterator(in, idx, s, e).map(t => new String(t._2, "UTF-8"))
        }.toList
        assert(got.sorted == lines.sorted.toList, s"bounds=$bounds")
      }
    } finally { in.close(); Files.delete(p) }
  }

  test("property: permissive corrupt-block reads are split-invariant, " +
       "including a split starting exactly at the corrupt block") {
    val rnd = new scala.util.Random(11)
    val lines = (0 until 8000).map(i => s"c$i-${rnd.alphanumeric.take(rnd.nextInt(40)).mkString}")
    val data = (lines.mkString("\n") + "\n").getBytes("UTF-8")
    val p = Files.createTempFile("propcorrupt", ".4mc")
    val w = new FourMcWriter(Files.newOutputStream(p), McCodec.Lz4Fast)
    var off = 0
    while (off < data.length) { // ~16 KiB blocks for many boundaries
      val n = math.min(16 * 1024, data.length - off)
      w.write(data, off, n); w.flushBlock(); off += n
    }
    w.close()
    val bytes = Files.readAllBytes(p)
    val cleanIdx = { val in0 = McInput.local(p); try FourMcReader.readIndex(in0) finally in0.close() }
    assert(cleanIdx.numBlocks >= 8, "need several blocks for the layouts below")
    // Victim block in the middle: flip a payload byte so the checksum fails.
    val victims = Seq(cleanIdx.numBlocks / 2, 1, cleanIdx.numBlocks - 2)
    try {
      victims.foreach { v =>
        val mutated = bytes.clone()
        val payloadOff = cleanIdx.blockOffsets(v).toInt + FourMc.BlockHeaderLen
        mutated(payloadOff) = (mutated(payloadOff) ^ 0x5a).toByte
        Files.write(p, mutated)
        val in = McInput.local(p)
        try {
          val idx = FourMcReader.readIndex(in)
          val fileLen = mutated.length.toLong
          // Ground truth: one permissive reader over the whole file.
          val whole = new FourMcLineIterator(in, idx, 0L, fileLen, permissive = true)
            .map(t => new String(t._2, "UTF-8")).toList
          assert(whole.size < lines.size, "corruption must drop some lines")
          // Split layouts that stress the resync paths: a split starting
          // EXACTLY at the corrupt block (the round-8 lost-line bug), at the
          // blocks around it, mid-payload inside it, plus random cuts.
          val targeted = Seq(
            idx.blockOffsets(v),
            idx.blockOffsets(v - 1),
            if (v + 1 < idx.numBlocks) idx.blockOffsets(v + 1) else idx.eosPos,
            idx.blockOffsets(v) + FourMc.BlockHeaderLen + 5
          ).map(c => List(c))
          val randomCuts = samples(
            Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, Gen.choose(0L, fileLen))), 10)
          (targeted ++ randomCuts).foreach { cuts =>
            val bounds = (0L :: fileLen :: cuts).distinct.sorted
            val got = bounds.sliding(2).flatMap { case List(s, e) =>
              new FourMcLineIterator(in, idx, s, e, permissive = true)
                .map(t => new String(t._2, "UTF-8"))
            }.toList
            assert(got.sorted == whole.sorted,
              s"victim=$v bounds=$bounds: permissive split layout changed the line multiset " +
                s"(${got.size} vs ${whole.size} lines)")
          }
        } finally in.close()
      }
    } finally Files.delete(p)
  }

  test("property: a keep mask emits each line of a kept block exactly once " +
       "under arbitrary split points") {
    // Rows-layout file with stats and 4 KiB blocks. Lines longer than two
    // blocks make blocks that own no line; flushing right after such a line
    // makes a block whose first owned line starts in the next block.
    val rnd = new scala.util.Random(13)
    val p = Files.createTempFile("propmask", ".4mc")
    val w = new FourMcWriter(Files.newOutputStream(p), McCodec.Lz4Fast, blockBytes = 4096)
    val stats = new McStatsBuilder(StructType(Seq(StructField("id", LongType))))
    w.statsProvider = n => stats.serialize(n)
    val lineStarts = new Array[Long](6000) // offsets in the uncompressed stream
    var streamOff = 0L
    val lines = lineStarts.indices.map { i =>
      val giant = rnd.nextInt(300) == 0
      val line = s"m$i-" + (if (giant) "g" * 9000 else rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
      stats.startLine(w.blockCount, w.pendingBytes)
      stats.observeLong(0, i.toLong)
      val bytes = (line + "\n").getBytes("UTF-8")
      w.write(bytes, 0, bytes.length)
      lineStarts(i) = streamOff
      streamOff += bytes.length
      if (giant && rnd.nextBoolean()) w.flushBlock()
      line
    }
    w.close()
    val fileLen = Files.size(p)
    val in = McInput.local(p)
    try {
      val idx = FourMcReader.readIndex(in)
      val st = idx.stats.get
      assert(st.firstOwnedStart.contains(BlockStats.NoOwnedLines) &&
        st.firstOwnedStart.contains(BlockStats.FirstAtNextBlock),
        "the fixture must hold blocks that own no line and blocks whose first line is in the next")
      // a line's owner is the block holding the byte before its first byte
      val blockEnds = idx.blockOffsets.indices.map(b => FourMcReader.readBlock(in, idx.zstd,
        idx.blockOffsets(b))._1.length.toLong).scanLeft(0L)(_ + _).tail
      val owner = lineStarts.map(s => blockEnds.indexWhere(_ > math.max(s - 1, 0L)))
      def read(bounds: List[Long], keep: Option[Array[Boolean]]): List[String] =
        bounds.sliding(2).flatMap { case List(s, e) =>
          new FourMcLineIterator(in, idx, s, e, keep = keep).map(t => new String(t._2, "UTF-8"))
        }.toList
      val boundsGen: Gen[List[Long]] =
        Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, Gen.choose(0L, fileLen)))
      val maskGen: Gen[Array[Boolean]] = Gen.oneOf(0.1, 0.5, 0.9).flatMap(pKeep =>
        Gen.containerOfN[Array, Boolean](idx.numBlocks, Gen.prob(pKeep)))
      samples(Gen.zip(boundsGen, maskGen), 40).foreach { case (cuts, keep) =>
        val bounds = (0L :: fileLen :: cuts).distinct.sorted
        val want = lines.indices.filter(i => keep(owner(i))).map(lines)
        assert(read(bounds, Some(keep)).sorted == want.sorted,
          s"bounds=$bounds kept=${keep.count(identity)}/${keep.length}")
      }
      val all = Some(Array.fill(idx.numBlocks)(true))
      assert(read(List(0L, fileLen), all) == read(List(0L, fileLen), None),
        "an all-true mask must read what the unmasked iterator reads")
      samples(boundsGen, 20).foreach { cuts =>
        val bounds = (0L :: fileLen :: cuts).distinct.sorted
        assert(read(bounds, all).sorted == read(bounds, None).sorted, s"bounds=$bounds")
      }
    } finally { in.close(); Files.delete(p) }
  }

  test("a stats segment whose block count disagrees with the footer index is refused") {
    val p = Files.createTempFile("propstats", ".4mc")
    val w = new FourMcWriter(Files.newOutputStream(p), McCodec.Lz4Fast, blockBytes = 4096)
    val stats = new McStatsBuilder(StructType(Seq(StructField("id", LongType))))
    w.statsProvider = n => stats.serialize(n + 1)
    (0 until 2000).foreach { i =>
      stats.startLine(w.blockCount, w.pendingBytes)
      stats.observeLong(0, i.toLong)
      val b = s"$i\n".getBytes("UTF-8")
      w.write(b, 0, b.length)
    }
    w.close()
    val in = McInput.local(p)
    try {
      val e = intercept[java.io.IOException](FourMcReader.readIndex(in))
      assert(e.getMessage.contains("stats segment covers"), e.getMessage)
    } finally { in.close(); Files.delete(p) }
  }
}
