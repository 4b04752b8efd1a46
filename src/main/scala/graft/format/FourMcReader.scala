package graft.format

import java.io.{EOFException, IOException}

/** Positional-read abstraction so the same reader core serves local files
  * (tests, CLI) and Hadoop streams (Spark executors).
  */
trait McInput extends java.io.Closeable {
  def length: Long
  def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit
}

object McInput {
  def local(path: java.nio.file.Path): McInput = new McInput {
    private val raf = new java.io.RandomAccessFile(path.toFile, "r")
    def length: Long = raf.length()
    def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
      raf.seek(pos); raf.readFully(buf, off, len)
    }
    def close(): Unit = raf.close()
  }
}

/** Parsed footer index of one 4mc/4mz file.
  *
  * @param zstd        true when the container magic is 4MZ
  * @param blockOffsets absolute file offset of each block header (first = 12)
  * @param eosPos      offset of the EOS marker = end of the last block
  */
final case class FourMcIndex(
    zstd: Boolean,
    blockOffsets: Array[Long],
    eosPos: Long,
    fileLen: Long,
    stats: Option[McBlockStats] = None,
    blooms: Option[McBlockBlooms] = None
) {

  /** Ordinals of the blocks the byte-range split [start, end) owns: those
    * whose headers begin inside it, so any partition of the byte range
    * partitions the blocks disjointly. Mirrors the reference's slice
    * alignment (`FourMcBlockIndex.java:142-173`); every container reader
    * and the footer-stats relation take a split's blocks from here.
    */
  def ownedBlocks(start: Long, end: Long): Range = ordAt(start) until ordAt(math.min(end, eosPos))

  /** File offset of block `ord`'s header; eosPos past the last block. */
  def blockStart(ord: Int): Long = if (ord < blockOffsets.length) blockOffsets(ord) else eosPos

  def numBlocks: Int = blockOffsets.length

  /** Ordinal of the first block whose header starts at or after `pos`
    * (= numBlocks when none).
    */
  def ordAt(pos: Long): Int = {
    var lo = 0
    var hi = blockOffsets.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (blockOffsets(mid) >= pos) hi = mid else lo = mid + 1
    }
    lo
  }
}

object FourMcReader {
  import FourMc._

  private def getBE(a: Array[Byte], off: Int): Int =
    ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) |
      ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)

  /** Verify the 12-byte file header; returns true for 4mz (zstd). */
  def readHeader(in: McInput): Boolean = {
    val hdr = new Array[Byte](HeaderLen)
    in.readFully(0, hdr, 0, HeaderLen)
    val magic = getBE(hdr, 0)
    if (!isContainerMagic(magic))
      throw new IOException(f"not a 4mc/4mz file: bad magic 0x$magic%08x")
    if (getBE(hdr, 4) != Version)
      throw new IOException(s"unsupported 4mc version ${getBE(hdr, 4)}")
    if (getBE(hdr, 8) != xxhash32(hdr, 0, 8))
      throw new IOException("4mc header checksum mismatch")
    magic == MzMagic
  }

  /** Read the footer index from the file tail (4 KiB read-ahead, re-read if
    * the footer is larger — the reference's `readIndex` behavior,
    * `FourMcInputStream.java:163-239`).
    */
  def readIndex(in: McInput): FourMcIndex = {
    val fileLen = in.length
    val minLen = HeaderLen + EosLen + FooterFixedLen
    if (fileLen < minLen)
      throw new IOException(s"4mc file too small ($fileLen bytes)")
    var tailLen = math.min(4096L, fileLen).toInt
    var tail = new Array[Byte](tailLen)
    in.readFully(fileLen - tailLen, tail, 0, tailLen)
    val footerSize = getBE(tail, tailLen - 12)
    val magic = getBE(tail, tailLen - 8)
    if (!isContainerMagic(magic))
      throw new IOException(f"bad 4mc footer magic 0x$magic%08x")
    if (footerSize < FooterFixedLen || footerSize > fileLen - HeaderLen - EosLen)
      throw new IOException(s"bad 4mc footer size $footerSize")
    if (footerSize > tailLen) {
      tailLen = footerSize
      tail = new Array[Byte](tailLen)
      in.readFully(fileLen - tailLen, tail, 0, tailLen)
    }
    val f = tailLen - footerSize // footer start within tail
    if (getBE(tail, tailLen - 4) != xxhash32(tail, f, footerSize - 4))
      throw new IOException("4mc footer checksum mismatch")
    if (getBE(tail, f) != footerSize)
      throw new IOException("4mc footer size fields disagree")
    if (getBE(tail, f + 4) != Version)
      throw new IOException(s"unsupported 4mc footer version")
    val n = (footerSize - FooterFixedLen) / 4
    val offsets = new Array[Long](n)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += getBE(tail, f + 8 + 4 * i).toLong
      offsets(i) = acc
      i += 1
    }
    // Optional stats segment between EOS and footer ([[BlockStats]]): in a
    // stats-less file the 12 bytes before the footer are the all-zero EOS
    // marker, so a matching stats magic there is unambiguous.
    val footerStart = fileLen - footerSize
    var statsLen = 0L
    var stats: Option[McBlockStats] = None
    if (footerStart - HeaderLen - EosLen >= BlockStats.TrailerLen) {
      val trailer = new Array[Byte](BlockStats.TrailerLen)
      val tOff = footerStart - BlockStats.TrailerLen
      if (tOff >= fileLen - tailLen) // already in the tail buffer
        System.arraycopy(tail, (tOff - (fileLen - tailLen)).toInt, trailer, 0, BlockStats.TrailerLen)
      else in.readFully(tOff, trailer, 0, BlockStats.TrailerLen)
      if (getBE(trailer, 4) == BlockStats.StatsMagic) {
        val segLen = getBE(trailer, 0)
        if (segLen < BlockStats.TrailerLen || segLen > footerStart - HeaderLen - EosLen)
          throw new IOException(s"bad 4mc stats segment length $segLen")
        val seg = new Array[Byte](segLen)
        in.readFully(footerStart - segLen, seg, 0, segLen)
        if (getBE(seg, segLen - 4) != xxhash32(seg, 0, segLen - 4))
          throw new IOException("4mc stats segment checksum mismatch")
        stats = McBlockStats.parse(seg)
        if (stats.exists(_.nBlocks != n))
          throw new IOException(s"4mc stats segment covers ${stats.get.nBlocks} blocks, the index $n")
        statsLen = segLen
      }
    }
    // Optional bloom segment between EOS and the stats segment
    // ([[BlockBlooms]]): same trailer-magic detection, one position earlier.
    var bloomLen = 0L
    var blooms: Option[McBlockBlooms] = None
    val statsStart = footerStart - statsLen
    if (statsLen > 0 && statsStart - HeaderLen - EosLen >= BlockBlooms.TrailerLen) {
      val trailer = new Array[Byte](BlockBlooms.TrailerLen)
      val tOff = statsStart - BlockBlooms.TrailerLen
      if (tOff >= fileLen - tailLen)
        System.arraycopy(tail, (tOff - (fileLen - tailLen)).toInt, trailer, 0, BlockBlooms.TrailerLen)
      else in.readFully(tOff, trailer, 0, BlockBlooms.TrailerLen)
      if (getBE(trailer, 4) == BlockBlooms.BloomMagic) {
        val segLen = getBE(trailer, 0)
        if (segLen < BlockBlooms.TrailerLen || segLen > statsStart - HeaderLen - EosLen)
          throw new IOException(s"bad 4mc bloom segment length $segLen")
        val seg = new Array[Byte](segLen)
        in.readFully(statsStart - segLen, seg, 0, segLen)
        if (getBE(seg, segLen - 4) != xxhash32(seg, 0, segLen - 4))
          throw new IOException("4mc bloom segment checksum mismatch")
        blooms = McBlockBlooms.parse(seg)
        bloomLen = segLen
      }
    }
    FourMcIndex(magic == MzMagic, offsets, footerStart - statsLen - bloomLen - EosLen, fileLen,
      stats, blooms)
  }

  /** Read + verify + decompress the block whose header starts at `pos`.
    * Returns null at EOS. Second element: offset of the next block header.
    */
  def readBlock(in: McInput, zstd: Boolean, pos: Long): (Array[Byte], Long) = {
    val hdr = new Array[Byte](BlockHeaderLen)
    in.readFully(pos, hdr, 0, BlockHeaderLen)
    val uncompLen = getBE(hdr, 0)
    val compLen = getBE(hdr, 4)
    val checksum = getBE(hdr, 8)
    if (uncompLen == 0 && compLen == 0 && checksum == 0) return (null, pos + BlockHeaderLen)
    if (uncompLen <= 0 || uncompLen > MaxBlockSize)
      throw new IOException(s"4mc block uncompressed size $uncompLen out of range at $pos")
    if (compLen <= 0 || compLen > uncompLen)
      throw new IOException(s"4mc block compressed size $compLen out of range at $pos")
    val payload = new Array[Byte](compLen)
    in.readFully(pos + BlockHeaderLen, payload, 0, compLen)
    if (xxhash32(payload, 0, compLen) != checksum)
      throw new IOException(s"4mc block checksum mismatch at $pos")
    val data =
      if (compLen == uncompLen) payload // stored plain — no codec involved
      else McCodec.decompress(zstd, payload, 0, compLen, uncompLen)
    (data, pos + BlockHeaderLen + compLen)
  }
}

/** Iterator of text lines for one byte-range split of a 4mc/4mz file,
  * replicating Hadoop split semantics (`FourMcLineRecordReader.java:116-163`):
  *
  *   - the split's blocks are [[FourMcIndex.ownedBlocks]];
  *   - a line belongs to the block holding the byte before its first byte
  *     (file start → block 0), the ownership [[BlockStats]] counts by;
  *   - a reader with start != 0 discards everything up to the first newline;
  *   - lines are read while the next one's owner is not past the split's
  *     last block, so the last line read is the one that leaves that block —
  *     finishing a spanning line and compensating the next split's
  *     first-line skip.
  *
  * Together these guarantee every line is emitted exactly once for ANY
  * partition of the file's byte range (split-invariance property test).
  *
  * `keep` (one flag per block of the file; files with stats only) leaves
  * out the lines whose owner is not kept: the reader jumps to the first
  * owned line of the next kept block (`McBlockStats.firstOwnedStart`), so a
  * refuted block is decompressed only when a kept line spans into it.
  * A masked read cannot resync past a corrupt block, so it is never
  * `permissive`.
  *
  * Zero-copy access: `advanceSlice()` positions `sliceBytes`/`sliceStart`/
  * `sliceEnd` on the next line without materializing a per-line array — for
  * lines fully inside one block the slice points INTO the decompressed
  * block buffer (valid until the next advance; consumers that retain bytes
  * must copy). The `Iterator` interface gives detached lines; the two modes
  * must not be mixed on one instance.
  *
  * Emitted key = file offset of the block the line started in (compressed
  * coordinates, like the reference's LongWritable key).
  */
final class FourMcLineIterator(
    in: McInput,
    index: FourMcIndex,
    splitStart: Long,
    splitEnd: Long,
    maxLineLen: Int = 64 * 1024 * 1024,
    permissive: Boolean = false,
    keep: Option[Array[Boolean]] = None
) extends Iterator[(Long, Array[Byte])] {

  private val owned = index.ownedBlocks(splitStart, splitEnd)
  private val mask: Array[Boolean] = keep.orNull
  private val stats: McBlockStats = index.stats.orNull
  require(mask == null || (stats != null && !permissive),
    "a keep mask needs block stats and cannot resync past a corrupt block")

  private var block: Array[Byte] = _
  private var blockPos = 0
  private var blockFileOff = index.blockStart(owned.start) // file offset of current block
  // ordinal of the next block to fetch: the current block's plus one, so the
  // line starting at blockPos is owned by block nextOrd - 1
  private var nextOrd = owned.start
  private var finished = owned.start >= index.numBlocks
  private var started = false // a masked read has made its first jump

  /** Corrupt blocks skipped under `permissive` (checksum/structure/codec
    * failures; 0 in strict mode, where the first failure throws).
    */
  var corruptSkipped: Long = 0L
  /** Blocks decompressed, continuation blocks past the split included. */
  var blocksRead: Long = 0L
  // a resync happened and the partial line touching the corrupt block (plus
  // the tail of it in the next good block) must be discarded
  private var resynced = false
  // the recovery line read by skipLine() after a resync is emitted first
  private var keepSkipped = false

  // Per-block newline index: one SWAR pass over each freshly decompressed
  // block collects every '\n' position (SwarScan.collect convention: count
  // at slot 0, matches ascending from slot 1); line advances then pop the
  // next position instead of re-entering a word-scan per line. The previous
  // per-line SwarScan.indexOf paid loop setup per line AND re-read each
  // line's boundary word twice — JFR attributed ~30 ns/line to this
  // bookkeeping at sf5 (30 M lines). Consumption is monotonic: every
  // newline below blockPos has been popped exactly once, so the next entry
  // is always the first newline >= blockPos.
  //
  // (A fused variant that also collected DELIMITER positions per block was
  // built and measured in round 13 — single-thread A/B on a real sf5 part
  // file put it 2-25% SLOWER than the per-line prefix scan: recording all
  // ~17 marks of a lineitem line adds ~50% memory traffic while the sparse
  // scan touches only the needed prefix. Reverted; PLANS.md round-13.)
  private var nl: Array[Int] = new Array[Int](4096)
  private var nlIdx = 1

  @inline private def nextNewline(): Int =
    if (nlIdx < nl(0)) { val p = nl(nlIdx); nlIdx += 1; p } else block.length

  /** Decompress block `nextOrd`, located by the footer index; false at the
    * end of the stream. Under `permissive` a block that fails is skipped
    * and the lines touching it are dropped by the caller.
    */
  private def fetchBlock(): Boolean = {
    while (true) {
      val off = index.blockStart(nextOrd)
      if (off >= index.eosPos) { block = null; return false }
      val data =
        try FourMcReader.readBlock(in, index.zstd, off)._1
        catch { case _: IOException if permissive => null }
      if (data != null) {
        block = data
        blocksRead += 1
        blockPos = 0
        blockFileOff = off
        // a block the mask leaves out is read only to its first newline, the
        // end of a line that an earlier, kept block owns
        if (mask != null && !mask(nextOrd)) {
          nl(0) = 2
          nl(1) = graft.sources.SwarScan.indexOf(data, 0, data.length, '\n'.toByte)
        } else nl = graft.sources.SwarScan.collect(data, 0, data.length, '\n'.toByte, nl)
        nlIdx = 1
        nextOrd += 1
        return true
      }
      // a decoded EOS before the footer's eosPos contradicts the index: in
      // strict mode it (conservatively) ends the stream, under permissive it
      // is corruption to resync past
      if (!permissive) { block = null; return false }
      corruptSkipped += 1
      resynced = true
      nextOrd += 1
    }
    false // unreachable
  }

  /** Masked reads: position at the first owned line of the first kept block
    * at or after `from`; false when the split has no such line left.
    */
  private def jump(from: Int): Boolean = {
    var o = from
    while (o < owned.end) {
      val first = stats.firstOwnedStart(o)
      if (mask(o) && first != BlockStats.NoOwnedLines) {
        // FirstAtNextBlock: o's first owned line starts at (o + 1, 0)
        nextOrd = if (first >= 0) o else o + 1
        if (!fetchBlock()) return false
        if (first > 0) {
          blockPos = first
          while (nlIdx < nl(0) && nl(nlIdx) < first) nlIdx += 1
        }
        return true
      }
      o += 1
    }
    false
  }

  /** Whether the split emits the line at the stream position; a masked
    * read first moves the position to the next kept line, and reads it
    * whatever block it now starts in.
    */
  private def atOwnedLine(): Boolean =
    if (mask != null && !started) { started = true; jump(owned.start) }
    else nextOrd <= owned.end && (mask == null || mask(nextOrd - 1) || jump(nextOrd))

  /** Discard bytes up to and including the next newline — the recovery step
    * after a permissive resync: every byte between the corrupt block and the
    * following newline belongs to a line that touched the corruption.
    * Returns false when the stream ends while dropping, OR when the newline
    * lands in a block this split does not own: the upcoming line's owner (the
    * block holding the byte before its start) is past the split's blocks, so
    * emitting it here would duplicate the owning split's copy — exactly-once
    * must survive corruption under ANY split layout.
    */
  private def dropToNewline(): Boolean = {
    resynced = false
    while (true) {
      val i = nextNewline()
      if (i < block.length) { blockPos = i + 1; return nextOrd <= owned.end }
      if (!fetchBlock()) return false
      resynced = false // further resyncs while dropping collapse into this drop
    }
    false // unreachable
  }

  // zero-copy slice of the current line (valid until the next read)
  var sliceOff: Long = 0L
  var sliceBytes: Array[Byte] = _
  var sliceStart: Int = 0
  var sliceEnd: Int = 0

  /** Read one line (terminated by \n, trailing \r stripped) into the slice
    * fields; false at EOF. A line fully inside one block slices the block
    * buffer in place; a spanning line is assembled into a fresh array.
    */
  private def readLineSlice(): Boolean = {
    if ((block == null || blockPos >= block.length) && !fetchBlock()) return false
    if (resynced && !dropToNewline()) return false
    var startOff = blockFileOff
    var out: java.io.ByteArrayOutputStream = null
    while (true) {
      val i = nextNewline()
      if (i < block.length) { // newline found in this block
        var end = i
        if (out == null) {
          if (end > blockPos && block(end - 1) == '\r') end -= 1
          sliceOff = startOff; sliceBytes = block; sliceStart = blockPos; sliceEnd = end
        } else {
          out.write(block, blockPos, end - blockPos)
          val a = out.toByteArray
          val len = if (a.nonEmpty && a(a.length - 1) == '\r') a.length - 1 else a.length
          sliceOff = startOff; sliceBytes = a; sliceStart = 0; sliceEnd = len
        }
        blockPos = i + 1
        return true
      } else {
        // line continues into the next block
        if (out == null) out = new java.io.ByteArrayOutputStream(block.length - blockPos + 64)
        out.write(block, blockPos, block.length - blockPos)
        if (out.size() > maxLineLen) throw new IOException("4mc line exceeds max length")
        blockPos = block.length
        if (!fetchBlock()) {
          // a resync that ran off the end of the stream killed the partial
          // line being assembled — it must not surface as a bogus EOF tail
          if (resynced) return false
          val a = out.toByteArray
          if (a.isEmpty) return false
          val len = if (a(a.length - 1) == '\r') a.length - 1 else a.length
          sliceOff = startOff; sliceBytes = a; sliceStart = 0; sliceEnd = len
          return true
        }
        if (resynced) {
          // the line being assembled touched a corrupt block — discard it
          // and start over at the next clean line boundary
          if (!dropToNewline()) return false
          out = null
          startOff = blockFileOff
        }
      }
    }
    false // unreachable
  }

  /** Zero-copy advance: positions the slice fields on the next line. */
  def advanceSlice(): Boolean = {
    if (finished) return false
    if (keepSkipped) { keepSkipped = false; return true }
    if (!atOwnedLine() || !readLineSlice()) { finished = true; return false }
    true
  }

  private def skipLine(): Unit = {
    val before = corruptSkipped
    // If a resync happened during the skip read, the line read is the first
    // clean RECOVERY line after the corruption, not the spanning line the
    // previous split compensates for: that split's own compensating read
    // dies at the same corrupt block (its dropToNewline lands in a block past
    // its owned ones), so discarding here would lose the line under exactly
    // this split layout. Keep it as the first emitted line instead.
    keepSkipped = readLineSlice() && corruptSkipped > before
  }

  /** File offset consumed so far (compressed coordinates) — progress
    * reporting for Hadoop record readers.
    */
  def progressPos: Long = index.blockStart(nextOrd)

  private var primed = false
  private var primedHas = false
  override def hasNext: Boolean = {
    if (!primed) { primedHas = advanceSlice(); primed = true }
    primedHas
  }
  override def next(): (Long, Array[Byte]) = {
    if (!hasNext) throw new NoSuchElementException
    primed = false
    if (sliceStart == 0 && sliceEnd == sliceBytes.length) (sliceOff, sliceBytes)
    else (sliceOff, java.util.Arrays.copyOfRange(sliceBytes, sliceStart, sliceEnd))
  }

  // last in the body: the skip read sets fields initialized above
  if (!finished && mask == null && splitStart != 0) skipLine()
}
