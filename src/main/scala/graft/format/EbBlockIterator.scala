package graft.format

import java.io.IOException

/** Iterator of (markerFileOffset, protoBlob) for one byte-range split of a
  * 4mc/4mz file whose payload is an Elephant-Bird SerializedBlock stream
  * ([[EbBlocks]]).
  *
  * Split semantics mirror the EB reader the reference adapts
  * (`LzoProtobufBlockRecordReader` over block-aligned splits): the split owns
  * every EB block whose 16-byte sync marker BEGINS in a container block
  * inside [alignedStart, alignedEnd); scanning starts at the split's aligned
  * start (resynchronizing on the marker, so a partial EB block left by the
  * previous split is skipped), and the last owned EB block is read to
  * completion even when its payload runs past alignedEnd. Together these
  * yield every blob exactly once under any partition of the file's byte
  * range.
  *
  * Marker search is KMP over the decompressed stream (correct for
  * self-overlapping markers), with a 16-slot ring of per-byte container
  * offsets so ownership is judged by where the marker STARTED.
  */
final class FourMcEbBlockIterator(
    in: McInput,
    index: FourMcIndex,
    splitStart: Long,
    splitEnd: Long,
    marker: Array[Byte] = EbBlocks.DefaultMarker,
    maxBlockLen: Int = 256 * 1024 * 1024
) extends Iterator[(Long, Array[Byte])] {

  private val owned = index.ownedBlocks(splitStart, splitEnd)
  private val alignedStart = index.blockStart(owned.start)
  private val alignedEnd = index.blockStart(owned.end)

  // ---- sequential decompressed stream over container blocks --------------
  private var blk: Array[Byte] = _
  private var off = 0
  private var blkFileOff = alignedStart
  private var nextHeaderPos = alignedStart
  private var lastByteFileOff = alignedStart

  /** Blocks decompressed, the ones past the split an EB block runs into
    * included.
    */
  var blocksRead: Long = 0L

  private def loadBlock(): Boolean = {
    if (nextHeaderPos >= index.eosPos) return false
    val (d, nxt) = FourMcReader.readBlock(in, index.zstd, nextHeaderPos)
    if (d == null) return false
    blk = d; off = 0; blkFileOff = nextHeaderPos; nextHeaderPos = nxt
    blocksRead += 1
    true
  }

  /** Next stream byte (unsigned) or -1 at EOS; records its container block
    * offset in `lastByteFileOff`.
    */
  private def readByte(): Int = {
    while (blk == null || off >= blk.length) if (!loadBlock()) return -1
    lastByteFileOff = blkFileOff
    val v = blk(off) & 0xff
    off += 1
    v
  }

  // ---- KMP marker scan ----------------------------------------------------
  private val pf: Array[Int] = {
    val f = new Array[Int](marker.length)
    var k = 0
    var i = 1
    while (i < marker.length) {
      while (k > 0 && marker(i) != marker(k)) k = f(k - 1)
      if (marker(i) == marker(k)) k += 1
      f(i) = k
      i += 1
    }
    f
  }
  private val ring = new Array[Long](marker.length)
  private var ringIdx = 0

  /** Scan to the next complete marker; returns the container-block offset of
    * its first byte, or -1 at EOS.
    */
  private def scanToMarker(): Long = {
    var k = 0
    var b = readByte()
    while (b >= 0) {
      ring(ringIdx) = lastByteFileOff
      ringIdx = (ringIdx + 1) % marker.length
      while (k > 0 && b != (marker(k) & 0xff)) k = pf(k - 1)
      if (b == (marker(k) & 0xff)) k += 1
      if (k == marker.length) return ring(ringIdx) // oldest slot = first marker byte
      b = readByte()
    }
    -1L
  }

  private def readVarint(): Long = {
    var shift = 0
    var v = 0L
    var more = true
    while (more) {
      val b = readByte()
      if (b < 0) throw new IOException("truncated EB block length")
      v |= (b & 0x7fL) << shift
      shift += 7
      more = (b & 0x80) != 0
      if (shift > 70) throw new IOException("EB block length varint too long")
    }
    v
  }

  /** The next `n` stream bytes. The buffer grows with the bytes actually
    * read, so a length field that lies fails at the end of the stream
    * having allocated about what the stream held, not `n`.
    */
  private def readNBytes(n: Int): Array[Byte] = {
    var out = new Array[Byte](math.min(n, 64 * 1024))
    var got = 0
    while (got < n) {
      while (blk == null || off >= blk.length)
        if (!loadBlock()) throw new IOException("truncated EB block body")
      val take = math.min(n - got, blk.length - off)
      if (got + take > out.length)
        out = java.util.Arrays.copyOf(out, math.min(n, math.max(got + take, 2 * out.length)))
      System.arraycopy(blk, off, out, got, take)
      off += take
      got += take
    }
    out
  }

  // ---- record pump --------------------------------------------------------
  private var pending: Iterator[(Long, Array[Byte])] = Iterator.empty
  private var done = alignedStart >= index.eosPos

  private def pump(): Unit = {
    while (!done && !pending.hasNext) {
      val mStart = scanToMarker()
      if (mStart < 0 || mStart >= alignedEnd) { done = true; return }
      val len = readVarint()
      if (len < 0 || len > maxBlockLen)
        throw new IOException(s"EB block length $len out of range at $mStart")
      val blobs = EbBlocks.parseBlobs(readNBytes(len.toInt))
      pending = blobs.iterator.map(b => (mStart, b))
    }
  }

  override def hasNext: Boolean = { pump(); pending.hasNext }
  override def next(): (Long, Array[Byte]) = {
    if (!hasNext) throw new NoSuchElementException
    pending.next()
  }
}
