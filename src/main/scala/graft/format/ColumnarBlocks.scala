package graft.format

import java.io.IOException

/** Column-group ("columnar") block layout for the typed csv payload — the
  * structural fix for the decompress-everything cost of a row-oriented
  * block: a projection of k of K columns decompresses only k sub-streams
  * instead of every column's bytes.
  *
  * Layout (opt-in at write time, `option("layout", "columnar")`): the
  * container envelope is UNCHANGED — header, block headers, EOS, stats /
  * bloom segments, footer are all byte-identical in structure to the row
  * layout (`/root/reference/4mc-format-spec:1-36`), so the footer index,
  * split alignment, zone maps, blooms and aggregate pushdown all work as
  * before. Only the meaning of one block's payload changes:
  *
  * {{{
  * payload = DIR | stream_0 | stream_1 | ... | stream_{K-1}
  * DIR     = per column c: storedLen(4) uncompressedLen(4) xxhash32(stored)(4)
  * stream_c = the column's values for every row of the block, each encoded
  *            exactly as the row layout encodes the field (same escaping,
  *            same `\N` null marker) and terminated by '\n'; compressed
  *            with the file codec, stored PLAIN when not strictly smaller
  *            (storedLen == uncompressedLen, the block-level convention
  *            applied per stream).
  * }}}
  *
  * The block header's `compressedSize` is the stored payload length
  * (DIR + streams) and `uncompressedSize` is DIR + Σ uncompressedLen —
  * both ≤ 4 MiB, so every structural bound of the classic reader holds.
  * The block checksum covers the stored payload like any other block, so
  * integrity walkers (fsck, `Tool -i`) verify columnar files unchanged;
  * selective readers that skip payload bytes verify the per-stream
  * checksums instead.
  *
  * Rows never span blocks (every block holds complete rows), which makes
  * split semantics trivial: a split owns the blocks whose headers start
  * inside it and emits exactly those blocks' rows — the same ownership rule
  * as the row layout with no first-line skip or spanning-line compensation.
  *
  * Detection: a columnar file always carries a stats segment written as
  * version 3, whose layout byte says "columnar" ([[BlockStats]]); readers
  * dispatch per FILE on that byte, so mixed directories read fine.
  */
object ColumnarBlocks {
  /** DIR entry: storedLen(4) uncompLen(4) xxhash32(4). */
  val DirEntryLen: Int = 12

  def dirLen(nCols: Int): Int = nCols * DirEntryLen

  /** Bit 30 of the DIR's uncompLen word marks a DICTIONARY-ENCODED stream
    * (r15). Uncompressed stream lengths are ≤ 4 MiB (bit 22), so the flag
    * never collides with a length; pre-r15 readers see an out-of-range
    * length and fail LOUDLY rather than misparse.
    *
    * Dict stream layout (the flagged stream's UNCOMPRESSED bytes):
    * {{{
    * header  : 1 byte — bit 7 = RLE codes (r16), bits 0..6 = nEntries
    *           (1..DictMaxEntries)
    * entries : len(1, unsigned) | value bytes(len)   -- × nEntries
    * codes   : plain — 1 byte per row, each < nEntries
    *           RLE   — (code(1), runLen varint-LEB128 ≥ 1)* covering all
    *           rows in order; chosen at write time iff strictly smaller
    * }}}
    * RLE framing is the sorted-file composition win: a `sortBy`-clustered
    * block's code stream is a handful of runs, so the codes region drops
    * from one byte per ROW to a few bytes per RUN before the codec even
    * sees it. Pre-r16 readers see bit 7 as an entry count > 64 and fail
    * LOUDLY rather than misparse (the same forward-compat posture as the
    * DIR's DictFlag bit).
    * Entry bytes are the exact field encoding of the row/columnar layouts
    * (same escaping, `\N` null marker), so decode is pure byte substitution
    * — every consumer (parse, predicates, unescape) behaves as if the plain
    * `value\n` stream had been stored. The win on a low-cardinality column
    * is structural, not just ratio: 1 code byte/row replaces the value
    * bytes AND the per-row newline scan, and a vectorized reader can serve
    * the column through Spark's dictionary-id lane (the same mechanism
    * parquet uses for dictionary-encoded pages).
    */
  val DictFlag: Int = 0x40000000
  // 64 entries (not the stats segment's 32): a TPC-H `l_quantity`-class
  // column with ~50 distinct small values is exactly the shape that wants
  // codes; codes stay 1 byte up to 255, the cap bounds write-side search
  val DictMaxEntries: Int = 64
  val DictMaxValueLen: Int = 64

  /** Attempt to dictionary-encode the plain column stream `raw[0, len)`
    * (newline-terminated values). Returns the encoded bytes, or null when
    * the stream is ineligible: more than [[DictMaxEntries]] distinct
    * values, a value longer than [[DictMaxValueLen]], or an encoding that
    * is not STRICTLY smaller than the plain stream (dict encoding must
    * never grow a block).
    *
    * Single pass: the value's FNV-1a hash indexes a 256-slot
    * open-addressing table (≤25% load at 64 entries → ~1 probe + 1
    * short memcmp per value), codes land in `codesScratch` as they
    * resolve. The first linear-search cut cost 1.8× row-layout write
    * time at 50×; this one is within the write gate.
    *
    * @param codesScratch caller-owned scratch, length ≥ the stream's row
    *   count (rows ≤ len always holds — every row contributes ≥ 1 byte)
    */
  def tryDictEncode(raw: Array[Byte], len: Int, codesScratch: Array[Byte]): Array[Byte] = {
    if (len <= 0) return null
    val entS = new Array[Int](DictMaxEntries)
    val entE = new Array[Int](DictMaxEntries)
    val table = new Array[Int](256) // slot -> entry index + 1; 0 = empty
    var nEnt = 0
    var dictBytes = 0
    var rows = 0
    var s = 0
    while (s < len) {
      var e = s
      var h = 0x811c9dc5
      while (e < len && raw(e) != '\n') {
        h = (h ^ (raw(e) & 0xff)) * 0x01000193
        e += 1
      }
      if (e >= len) return null // not newline-terminated: not a value stream
      val vl = e - s
      if (vl > DictMaxValueLen) return null
      var slot = (h ^ (h >>> 16)) & 255
      var found = -1
      while (found < 0) {
        val idx = table(slot)
        if (idx == 0) {
          if (nEnt >= DictMaxEntries) return null
          entS(nEnt) = s; entE(nEnt) = e
          dictBytes += 1 + vl
          table(slot) = nEnt + 1
          found = nEnt
          nEnt += 1
        } else if (entE(idx - 1) - entS(idx - 1) == vl &&
            java.util.Arrays.equals(raw, s, e, raw, entS(idx - 1), entE(idx - 1))) {
          found = idx - 1
        } else slot = (slot + 1) & 255
      }
      codesScratch(rows) = found.toByte
      rows += 1
      s = e + 1
    }
    if (nEnt == 0) return null
    // RLE framing (r16): size the run encoding; use it iff strictly smaller
    // than plain codes (sorted/clustered blocks collapse to a few runs)
    var rleLen = 0
    locally {
      var i = 0
      while (i < rows) {
        var j = i + 1
        while (j < rows && codesScratch(j) == codesScratch(i)) j += 1
        var run = j - i
        rleLen += 1 // code byte
        while (run != 0) { rleLen += 1; run >>>= 7 } // LEB128 run length
        i = j
      }
    }
    val useRle = rleLen < rows
    val codesLen = if (useRle) rleLen else rows
    val encLen = 1 + dictBytes + codesLen
    if (encLen >= len) return null
    val out = new Array[Byte](encLen)
    out(0) = (nEnt | (if (useRle) 0x80 else 0)).toByte
    var o = 1
    var i = 0
    while (i < nEnt) {
      val vl = entE(i) - entS(i)
      out(o) = vl.toByte
      System.arraycopy(raw, entS(i), out, o + 1, vl)
      o += 1 + vl
      i += 1
    }
    if (useRle) {
      var r = 0
      while (r < rows) {
        var j = r + 1
        while (j < rows && codesScratch(j) == codesScratch(r)) j += 1
        out(o) = codesScratch(r); o += 1
        var run = j - r
        while ((run & ~0x7f) != 0) { out(o) = ((run & 0x7f) | 0x80).toByte; o += 1; run >>>= 7 }
        out(o) = run.toByte; o += 1
        r = j
      }
    } else System.arraycopy(codesScratch, 0, out, o, rows)
    out
  }

  /** Self-allocating variant for tests and one-off callers. */
  def tryDictEncode(raw: Array[Byte], len: Int): Array[Byte] =
    tryDictEncode(raw, len, new Array[Byte](math.max(len, 1)))

  /** Parsed view of a dict-encoded stream: entry byte ranges within the
    * stream buffer, the codes region, and the row count. Throws on any
    * structural violation (bad counts, overruns, out-of-range codes) — the
    * cursor converts to block-level corruption handling.
    */
  final class DictStream(val data: Array[Byte], uLen: Int, ctx: String) {
    if (uLen < 2) fail(s"dict stream too short ($uLen)")
    private val rle: Boolean = (data(0) & 0x80) != 0
    val nEntries: Int = data(0) & 0x7f
    if (nEntries < 1 || nEntries > DictMaxEntries) fail(s"dict entry count $nEntries")
    val entryStart = new Array[Int](nEntries)
    val entryEnd = new Array[Int](nEntries)
    private var o = 1
    private var i = 0
    while (i < nEntries) {
      if (o >= uLen) fail("dict entry table overruns stream")
      val vl = data(o) & 0xff
      if (vl > DictMaxValueLen) fail(s"dict entry length $vl")
      entryStart(i) = o + 1
      entryEnd(i) = o + 1 + vl
      o += 1 + vl
      i += 1
    }
    if (o > uLen) fail("dict entry table overruns stream")
    val codesOff: Int = o
    // RLE codes (r16) materialize to one byte per row at parse — same
    // memory as a plain stream, so every consumer (entry resolution, the
    // vectorized dictionary-id lane) stays a flat table lookup; the win is
    // on-disk bytes and decompress work, not decode-side branching.
    private val rleCodes: Array[Byte] =
      if (!rle) null
      else {
        var rows0 = 0
        var p = codesOff
        while (p < uLen) { // pass 1: validate framing, count rows
          if ((data(p) & 0xff) >= nEntries) fail(s"dict code ${data(p) & 0xff} out of range")
          p += 1
          var run = 0
          var shift = 0
          var more = true
          while (more) {
            if (p >= uLen || shift > 28) fail("dict run length overruns stream")
            val b = data(p) & 0xff
            run |= (b & 0x7f) << shift
            shift += 7
            more = (b & 0x80) != 0
            p += 1
          }
          if (run < 1 || run > FourMc.MaxBlockSize - rows0) fail(s"dict run length $run out of range")
          rows0 += run
        }
        val out = new Array[Byte](rows0)
        p = codesOff
        var w = 0
        while (p < uLen) { // pass 2: fill
          val c = data(p)
          p += 1
          var run = 0
          var shift = 0
          var more = true
          while (more) {
            val b = data(p) & 0xff
            run |= (b & 0x7f) << shift
            shift += 7
            more = (b & 0x80) != 0
            p += 1
          }
          java.util.Arrays.fill(out, w, w + run, c)
          w += run
        }
        out
      }
    val rows: Int = if (rle) rleCodes.length else uLen - o
    if (!rle) locally {
      // SWAR range validation (8 codes per load) — the byte loop here was
      // most of DictStream construction in the r17 JFR scan profile
      val bad = graft.sources.SwarScan.firstByteAtLeast(data, codesOff, uLen, nEntries)
      if (bad >= 0) fail(s"dict code ${data(bad) & 0xff} out of range")
    }
    @inline def code(r: Int): Int =
      (if (rleCodes != null) rleCodes(r) else data(codesOff + r)) & 0xff
    private def fail(msg: String): Nothing =
      throw new IOException(s"4mc columnar $msg $ctx")
  }

  @inline private[graft] def getBE(a: Array[Byte], off: Int): Int =
    ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) |
      ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)

  @inline private[graft] def putBE(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = ((v >>> 24) & 0xff).toByte
    a(off + 1) = ((v >>> 16) & 0xff).toByte
    a(off + 2) = ((v >>> 8) & 0xff).toByte
    a(off + 3) = (v & 0xff).toByte
  }
}

/** Split-scoped cursor over the owned blocks of one COLUMNAR csv file:
  * iterates blocks whose headers start in [splitStart, splitEnd), skipping
  * those `keep` leaves out, and decompresses ONLY the `needed` column
  * streams of each. Its one consumer is the csv batch reader
  * ([[graft.sources.FourMcVectorizedReader]]), which decodes the columnar
  * blocks of both the plain scan and the footer-stats relation; `keep`
  * comes from the file's block verdicts
  * ([[graft.sources.FourMcFileFormat.blockVerdicts]]).
  *
  * Per-row random access: `valStart(j, r)` / `valEnd(j, r)` give the byte
  * slice of row `r`'s value in needed-column `j` (0-based within `needed`),
  * resolved through a per-stream newline index — no boundary scan, no
  * delimiter walk, one field per line by construction.
  *
  * Corruption: strict mode throws on the first structural/checksum/codec
  * failure; permissive (`ignoreCorruptBlocks`) drops the whole block's rows
  * (counted in [[corruptSkipped]]) and resyncs to the next owned block —
  * block-granular loss, never duplication, because blocks are row-aligned.
  *
  * @param fileCols number of columns the FILE stores (the stats segment's
  *   column count — the DIR's entry count), which may exceed the read
  *   schema's width
  * @param needed   ascending file-column ordinals to decompress (< fileCols)
  * @param keep     per-block decode flags, one per block of the file
  */
final class McColumnarCursor(
    in: McInput,
    index: FourMcIndex,
    fileCols: Int,
    needed: Array[Int],
    splitStart: Long,
    splitEnd: Long,
    keep: Array[Boolean],
    permissive: Boolean
) {
  import ColumnarBlocks._

  require(fileCols > 0 && fileCols <= 4096, s"columnar file column count $fileCols out of range")

  private val owned = index.ownedBlocks(splitStart, splitEnd)
  private var ord = owned.start

  /** Scan metrics, mirroring the row-layout iterators. */
  var blocksRead: Long = 0L
  var corruptSkipped: Long = 0L

  /** Rows in the current block (valid after a true [[nextBlock]]). */
  var rows: Int = 0

  /** File offset of the current block's header. */
  var blockOff: Long = 0L

  /** File-wide ordinal of the current block (valid after a true
    * [[nextBlock]]) — lets the reader consult the block's verdict.
    */
  var blockOrd: Int = -1

  private val colData = new Array[Array[Byte]](math.max(1, needed.length))
  private val colNl = new Array[Array[Int]](math.max(1, needed.length))
  private val colDict = new Array[ColumnarBlocks.DictStream](math.max(1, needed.length))
  // scratch reused across blocks
  private val hdr = new Array[Byte](FourMc.BlockHeaderLen)
  private val dir = new Array[Byte](dirLen(fileCols))
  private var ioBuf = new Array[Byte](0)

  def colBytes(j: Int): Array[Byte] = colData(j)

  /** Dict view of needed-column `j`'s current stream, or null when the
    * stream is plain (vectorized readers use it for the dictionary-id
    * lane; [[valStart]]/[[valEnd]] already resolve through it, so other
    * consumers never need to look).
    */
  def dictOf(j: Int): ColumnarBlocks.DictStream = colDict(j)

  /** Start of row `r`'s value in needed-column `j` (inclusive). */
  @inline def valStart(j: Int, r: Int): Int = {
    val d = colDict(j)
    if (d != null) d.entryStart(d.code(r))
    else if (r == 0) 0
    else colNl(j)(r) + 1
  }

  /** End of row `r`'s value in needed-column `j` (exclusive). */
  @inline def valEnd(j: Int, r: Int): Int = {
    val d = colDict(j)
    if (d != null) d.entryEnd(d.code(r))
    else colNl(j)(r + 1)
  }

  /** Advance to the next owned, kept, readable block; false when the split
    * is exhausted.
    */
  def nextBlock(): Boolean = {
    while (ord < owned.end) {
      val o = ord
      ord += 1
      if (keep(o)) {
        try {
          readBlockCols(o)
          blocksRead += 1
          return true
        } catch {
          case e: IOException =>
            if (!permissive) throw e
            corruptSkipped += 1
        }
      }
    }
    false
  }

  private def readBlockCols(o: Int): Unit = {
    val off = index.blockOffsets(o)
    if (off >= index.eosPos) throw new IOException(s"4mc block $o starts past EOS")
    blockOff = off
    blockOrd = o
    in.readFully(off, hdr, 0, FourMc.BlockHeaderLen)
    val uncompLen = getBE(hdr, 0)
    val compLen = getBE(hdr, 4)
    val dl = dir.length
    if (uncompLen < dl || uncompLen > FourMc.MaxBlockSize)
      throw new IOException(s"4mc columnar block uncompressed size $uncompLen out of range at $off")
    if (compLen < dl || compLen > uncompLen)
      throw new IOException(s"4mc columnar block compressed size $compLen out of range at $off")
    in.readFully(off + FourMc.BlockHeaderLen, dir, 0, dl)
    // parse + validate the directory: stream offsets are cumulative
    val storedOff = new Array[Int](fileCols + 1)
    storedOff(0) = dl
    var totalUncomp = dl
    var c = 0
    while (c < fileCols) {
      val sLen = getBE(dir, c * DirEntryLen)
      val uLen = getBE(dir, c * DirEntryLen + 4) & ~DictFlag
      if (uLen < 0 || uLen > FourMc.MaxBlockSize)
        throw new IOException(s"4mc columnar stream $c uncompressed size $uLen out of range at $off")
      if (sLen < 0 || sLen > uLen)
        throw new IOException(s"4mc columnar stream $c stored size $sLen out of range at $off")
      storedOff(c + 1) = storedOff(c) + sLen
      totalUncomp += uLen
      c += 1
    }
    if (storedOff(fileCols) != compLen)
      throw new IOException(
        s"4mc columnar directory disagrees with block size (${storedOff(fileCols)} vs $compLen) at $off")
    if (totalUncomp != uncompLen)
      throw new IOException(
        s"4mc columnar directory disagrees with uncompressed size ($totalUncomp vs $uncompLen) at $off")
    // an empty projection still needs the row count: count newlines of the
    // smallest stream (stats lineCount is the planner's number; the data
    // itself stays the source of truth on the read path)
    val cols: Array[Int] =
      if (needed.nonEmpty) needed
      else {
        var best = 0
        var c2 = 1
        while (c2 < fileCols) {
          if ((getBE(dir, c2 * DirEntryLen + 4) & ~DictFlag) <
              (getBE(dir, best * DirEntryLen + 4) & ~DictFlag)) best = c2
          c2 += 1
        }
        Array(best)
      }
    // coalesced positional reads: adjacent needed streams (gap ≤ 64 KiB)
    // share one readFully — selective I/O without a seek per column
    val MaxGap = 64 * 1024
    var j = 0
    var rowsSeen = -1
    while (j < cols.length) {
      var k = j
      while (k + 1 < cols.length &&
        storedOff(cols(k + 1)) - storedOff(cols(k) + 1) <= MaxGap) k += 1
      val lo = storedOff(cols(j))
      val hi = storedOff(cols(k) + 1)
      val len = hi - lo
      if (ioBuf.length < len) ioBuf = new Array[Byte](len)
      in.readFully(off + FourMc.BlockHeaderLen + lo, ioBuf, 0, len)
      var m = j
      while (m <= k) {
        val col = cols(m)
        val sLen = storedOff(col + 1) - storedOff(col)
        val uLenRaw = getBE(dir, col * DirEntryLen + 4)
        val uLen = uLenRaw & ~DictFlag
        val dictEnc = (uLenRaw & DictFlag) != 0
        val want = getBE(dir, col * DirEntryLen + 8)
        val bOff = storedOff(col) - lo
        if (FourMc.xxhash32(ioBuf, bOff, sLen) != want)
          throw new IOException(s"4mc columnar stream $col checksum mismatch at $off")
        val data =
          if (sLen == uLen) java.util.Arrays.copyOfRange(ioBuf, bOff, bOff + uLen)
          else McCodec.decompress(index.zstd, ioBuf, bOff, sLen, uLen)
        val slot = if (needed.isEmpty) 0 else m
        colData(slot) = data
        val r =
          if (dictEnc) {
            // dict stream: per-row slices resolve code -> entry range; no
            // newline index is built (there are no newlines to scan).
            // colNl(slot) is left as-is — valStart/valEnd dispatch on
            // colDict first, and keeping the array preserves the grown
            // scratch for the next plain block of an alternating column
            val d = new ColumnarBlocks.DictStream(data, uLen, s"(stream $col at $off)")
            colDict(slot) = d
            d.rows
          } else {
            if (uLen > 0 && data(uLen - 1) != '\n')
              throw new IOException(s"4mc columnar stream $col not newline-terminated at $off")
            colDict(slot) = null
            colNl(slot) = graft.sources.SwarScan.collect(
              data, 0, uLen, '\n'.toByte, if (colNl(slot) == null) new Array[Int](4096) else colNl(slot))
            colNl(slot)(0) - 1
          }
        if (rowsSeen < 0) rowsSeen = r
        else if (rowsSeen != r)
          throw new IOException(
            s"4mc columnar streams disagree on row count ($rowsSeen vs $r) at $off")
        m += 1
      }
      j = k + 1
    }
    rows = math.max(rowsSeen, 0)
  }
}
