package graft.format

import graft.sources.CsvPayload
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Optional per-block column-statistics segment for csv-payload 4mc/4mz files
  * — the container-level analog of parquet row-group min/max, and the lever
  * that lets a selective scan skip whole 4 MiB blocks BEFORE decompression.
  *
  * Placement extends the reference container (`4mc-format-spec:29-35`)
  * backward-compatibly:
  *
  * {{{
  * HEADER | BLOCK_1..N | EOS | [STATS SEGMENT] | FOOTER
  * STATS  = magic(4) version(4) nCols(4) tag(1)xC nBlocks(4) blockEntry xN
  *          totalLen(4) magic(4) xxhash32(everything before this field)(4)
  * blockEntry = firstOwnedStart(4) lineCount(4) colEntry xC
  * colEntry   = nullCount(4) flags(1)
  *              [hasBounds: string -> minLen(1) minBytes maxLen(1) maxBytes
  *                          else   -> min(8) max(8)]
  *              [hasSum (v2): sum(8)]
  * }}}
  *
  * Version 2 adds an optional per-block-column SUM of the non-null values
  * (the `FlagHasSum` bit): long-domain columns (long/int) store the exact
  * long sum with OVERFLOW DETECTION — a block whose row-ordered accumulation
  * overflows stores no sum and is decoded by readers instead, so aggregate
  * pushdown re-creates exactly the partial-sums-then-combine arithmetic
  * Spark's own hash aggregate runs (ANSI mode errors at the combine, LEGACY
  * wraps there, both as an equivalent plain scan would) — and double/float
  * columns store the double sum accumulated in row order (NaN/Infinity
  * propagate exactly as a plain scan would; only the ROUNDING of
  * non-exactly-representable data may differ from a differently-ordered
  * scan, the same caveat Spark's own partial aggregation has). Version-1
  * segments parse with no sums; readers that know only v1 treat a v2
  * segment as absent and scan normally.
  *
  * Detection is unambiguous: in a stats-less file the 12 bytes before the
  * footer are always the EOS marker (12 zeros); in a stats file they are
  * `totalLen|magic|checksum` with a nonzero magic. Readers that predate the
  * segment (or an unknown statsVersion) fall back to a plain scan — the block
  * index and footer are byte-identical either way.
  *
  * == Line ownership ==
  *
  * Stats attribute each line to the block containing the byte BEFORE its
  * first byte (file start → block 0): a line starting at offset 0 of block b
  * belongs to block b-1. This matches split semantics exactly — the reader
  * that consumed block b-1's tail is the one that emits that line — so a
  * pruned scan (skip whole blocks whose stats refute the pushed filters)
  * emits every matching line exactly once for ANY byte-range partition of
  * the file, the same invariant the unpruned reader guarantees.
  *
  * `firstOwnedStart` encodes where block b's first owned line begins:
  * `>= 0` = offset within b; `-2` = offset 0 of block b+1 (b's payload ends
  * exactly at a line boundary and b has no interior starts); `-1` = b owns no
  * lines (one giant line spans it).
  */
object BlockStats {
  val StatsMagic: Int = 0x344d4353 // "4MCS"
  val StatsVersion: Int = 2
  // Version 3 = v2 plus one LAYOUT byte right after the version field: how
  // block payloads are organized. Row-layout files keep writing v2 (byte
  // compatibility with every existing file and golden fixture); columnar
  // files ([[ColumnarBlocks]]) write v3 with LayoutColumnar — the read-side
  // dispatch point, since the container envelope is otherwise identical.
  val StatsVersionColumnar: Int = 3
  // Version 4 = v3 plus per-entry COUNTS after each stored dictionary (4
  // bytes per entry): the block's exact value histogram. With counts, a
  // `GROUP BY low_card_col` / `COUNT(DISTINCT col)` aggregate is answerable
  // from the footer alone — [[graft.plans.McAggregatePushdown]]'s dict-group
  // mode — without decompressing a single block. The layout byte is written
  // for every v≥3 segment; row-layout files move from v2 to v4 too (their
  // dicts gain counts the same way). v1–v3 files keep parsing count-less.
  val StatsVersionDictCounts: Int = 4
  // Version 5 = v4 plus, after each block's column entries, sparse JOINT
  // histograms for pairs of dict-covered string columns: `nPairs(1)` then per
  // pair `col1(2) col2(2) nEntries(2)` and nEntries × `(i1(1) i2(1) count(4))`
  // where i = dict-entry ordinal + 1 and 0 encodes NULL. With a joint table,
  // `GROUP BY col1, col2` (q1's actual grouping shape) is answerable from the
  // footer alone — one relation row per (block, value-pair) — which per-column
  // histograms cannot compose to (marginals don't determine the joint).
  // Tracked pairs are limited to the first [[JointMaxCols]] string columns; a
  // block-pair whose distinct value-pair count passes [[JointMaxEntries]]
  // stores no joint (consumers decode that block instead). v1–v4 files keep
  // parsing joint-less.
  val StatsVersionJoint: Int = 5
  val LayoutRows: Int = 0
  val LayoutColumnar: Int = 1
  val TrailerLen: Int = 12
  val MaxStrBytes: Int = 16

  final val FirstAtNextBlock: Int = -2
  final val NoOwnedLines: Int = -1

  // col flags
  private[format] final val FlagBounds = 1
  private[format] final val FlagMinExact = 2
  private[format] final val FlagMaxExact = 4
  private[format] final val FlagHasSum = 8 // v2: 8-byte sum follows bounds
  // round 14: a complete per-block VALUE DICTIONARY for a low-cardinality
  // string column — count(1) then count × (len(1) + bytes) after the sum.
  // Entries are EXACT (never truncated) and cover every non-null value the
  // block owns, so equality/IN/prefix predicates prune by membership where
  // zone ranges (domain-spanning on unsorted data) and blooms (hash-only)
  // can't or needn't. Written only when the block stays within
  // [[DictMaxEntries]] distinct values of ≤ [[DictMaxValueLen]] bytes
  // (returnflag/linestatus/shipmode-class columns).
  private[format] final val FlagHasDict = 16
  final val DictMaxEntries = 32
  final val DictMaxValueLen = 32
  // v5 joint-histogram caps: pairs form over at most the first JointMaxCols
  // string columns (C(8,2)=28 pairs), and a block-pair abandons its joint
  // past JointMaxEntries distinct value pairs (≤ 6 B/entry serialized, so a
  // stored joint is ≤ 1.5 KiB; typical low-cardinality pairs are ≤ 10).
  final val JointMaxCols = 8
  final val JointMaxEntries = 256

  /** Sum domain per parse tag: 0 = none, 1 = wrapping long, 2 = double.
    * Decimals sum their UNSCALED values in the long domain (the consumer
    * re-applies the column scale); dates have no meaningful sum.
    */
  def sumKindOf(tag: Int): Int = tag match {
    case CsvPayload.TagLong | CsvPayload.TagInt | CsvPayload.TagDecimal => 1
    case CsvPayload.TagDouble | CsvPayload.TagFloat                     => 2
    case _                                                              => 0
  }
}

/** One block's joint value histogram over the string-column pair (c1, c2),
  * c1 < c2: `counts(e)` rows carry dict entry `i1(e)` of c1 and `i2(e)` of c2
  * (−1 = NULL). Exact and complete: Σ counts == the block's owned line count
  * (every row contributes exactly one entry, null values included).
  */
final class JointHist(
    val c1: Int,
    val c2: Int,
    val i1: Array[Int],
    val i2: Array[Int],
    val counts: Array[Int]
) extends Serializable

/** Parsed stats for one file. Arrays are indexed [block] and [block*nCols+col]. */
final class McBlockStats(
    val tags: Array[Int], // CsvPayload parse tag per data-schema column
    val firstOwnedStart: Array[Int],
    val lineCount: Array[Int],
    val nullCount: Array[Int], // flattened [block*nCols + col]
    val hasBounds: Array[Boolean],
    val minLong: Array[Long], // numeric/bool/timestamp (double/float via raw bits)
    val maxLong: Array[Long],
    val minBytes: Array[Array[Byte]], // strings (truncated); null for non-string
    val maxBytes: Array[Array[Byte]],
    val minExact: Array[Boolean],
    val maxExact: Array[Boolean],
    val hasSum: Array[Boolean] = Array.empty, // v2; empty for v1 segments
    val sumLong: Array[Long] = Array.empty, // long wrap-sum, or double sum as raw bits
    val layout: Int = BlockStats.LayoutRows, // v3; rows for v1/v2 segments
    val dicts: Array[Array[Array[Byte]]] = Array.empty, // r14; null entry = no dict
    val dictCounts: Array[Array[Int]] = Array.empty, // v4; parallel to dicts
    val joints: Array[Array[JointHist]] = Array.empty // v5; per block, null = none
) extends Serializable {
  def nCols: Int = tags.length
  def nBlocks: Int = firstOwnedStart.length
  def sumAt(k: Int): Boolean = k < hasSum.length && hasSum(k)
  def columnar: Boolean = layout == BlockStats.LayoutColumnar
  /** Complete value dictionary of block-col `k`, or null when none stored. */
  def dictAt(k: Int): Array[Array[Byte]] = if (k < dicts.length) dicts(k) else null
  /** v4 per-entry counts (parallel to [[dictAt]]), or null (v1–v3 files). */
  def dictCountsAt(k: Int): Array[Int] = if (k < dictCounts.length) dictCounts(k) else null
  /** Block `b`'s joint histogram for the pair (c1, c2), c1 < c2, or null. */
  def jointAt(b: Int, c1: Int, c2: Int): JointHist = {
    if (b >= joints.length || joints(b) == null) return null
    val arr = joints(b)
    var i = 0
    while (i < arr.length) {
      if (arr(i).c1 == c1 && arr(i).c2 == c2) return arr(i)
      i += 1
    }
    null
  }
}

/** Writer-side accumulator. The csv OutputWriter calls [[startLine]] once per
  * row (before serializing it) and one typed observe per column, then hands
  * [[serialize]] to the container writer to emit just before the footer.
  */
final class McStatsBuilder(schema: StructType, tsMicros: Boolean = false) {
  import BlockStats._

  // the serialized tag bytes are the read-side source of truth for the
  // per-column encoding — micros-encoded timestamps must persist tag 14
  val tags: Array[Int] = schema.fields.map { f =>
    val t = CsvPayload.tagOf(f.dataType)
    if (tsMicros && t == CsvPayload.TagTimestamp) CsvPayload.TagTimestampMicros else t
  }
  private val nCols = tags.length

  private val sumKind: Array[Int] = tags.map(BlockStats.sumKindOf)

  // v5 joint histograms: candidate pairs among the first JointMaxCols string
  // columns (ordinal pairs, c1 < c2). A pair's per-block accumulation dies
  // with either column's dict or past JointMaxEntries distinct value pairs.
  private val jointPairs: Array[(Int, Int)] = {
    val strCols = tags.indices.filter(i => tags(i) == CsvPayload.TagString)
      .take(BlockStats.JointMaxCols)
    (for { a <- strCols.indices; b <- a + 1 until strCols.length }
      yield (strCols(a), strCols(b))).toArray
  }

  private final class JointAcc {
    var over = false
    var n = 0
    var keys = new Array[Int](8) // ((i1+1) << 8) | (i2+1); 0 byte = NULL
    var cnts = new Array[Int](8)
    private var lastHit = 0
    def add(key: Int): Unit = {
      if (n > 0 && keys(lastHit) == key) { cnts(lastHit) += 1; return }
      var i = 0
      while (i < n) {
        if (keys(i) == key) { cnts(i) += 1; lastHit = i; return }
        i += 1
      }
      if (n >= BlockStats.JointMaxEntries) { over = true; keys = null; cnts = null; return }
      if (n == keys.length) {
        keys = java.util.Arrays.copyOf(keys, n * 2)
        cnts = java.util.Arrays.copyOf(cnts, n * 2)
      }
      keys(n) = key; cnts(n) = 1; lastHit = n; n += 1
    }
  }

  private final class BlockAcc {
    var firstOwned: Int = NoOwnedLines
    var lines: Int = 0
    val nulls = new Array[Int](nCols)
    val bounded = new Array[Boolean](nCols)
    val noBounds = new Array[Boolean](nCols) // poisoned (NaN)
    val minL = new Array[Long](nCols)
    val maxL = new Array[Long](nCols)
    val minB = new Array[Array[Byte]](nCols)
    val maxB = new Array[Array[Byte]](nCols)
    val minX = new Array[Boolean](nCols)
    val maxX = new Array[Boolean](nCols)
    val sumL = new Array[Long](nCols) // long sums, overflow-poisoned
    val sumOver = new Array[Boolean](nCols) // long sum overflowed: no sum stored
    val sumD = new Array[Double](nCols) // double sums, row order
    // string dictionaries: exact distinct values, capped; over = abandoned
    val dict = new Array[scala.collection.mutable.ArrayBuffer[Array[Byte]]](nCols)
    val dictN = new Array[scala.collection.mutable.ArrayBuffer[Int]](nCols) // per-entry counts (v4)
    val dictOver = new Array[Boolean](nCols)
    val dictLastHit = new Array[Int](nCols) // repeat-heavy data hits the same slot
    // per-pair joint accumulators (v5), allocated on first fold into the block
    val joint: Array[JointAcc] =
      if (jointPairs.nonEmpty) new Array[JointAcc](jointPairs.length) else null
  }

  private val blocks = scala.collection.mutable.ArrayBuffer.empty[BlockAcc]
  private var cur: BlockAcc = _

  // This row's dict-entry ordinal per string column (−1 = null, −2 = dict
  // dead / value over length cap), folded into `pendingAcc`'s joint tables at
  // the NEXT startLine (the builder has no explicit end-of-line call) — and
  // once more at serialize for the final row.
  private val rowIdx: Array[Int] = new Array[Int](nCols)
  private var pendingAcc: BlockAcc = _

  private def foldJoint(): Unit = {
    val acc = pendingAcc
    pendingAcc = null
    if (acc == null || jointPairs.isEmpty) return
    var pi = 0
    while (pi < jointPairs.length) {
      val c1 = jointPairs(pi)._1
      val c2 = jointPairs(pi)._2
      var j = acc.joint(pi)
      if (j == null) { j = new JointAcc; acc.joint(pi) = j }
      if (!j.over) {
        val i1 = rowIdx(c1)
        val i2 = rowIdx(c2)
        if (i1 == -2 || i2 == -2 || acc.dictOver(c1) || acc.dictOver(c2)) j.over = true
        else j.add(((i1 + 1) << 8) | (i2 + 1))
      }
      pi += 1
    }
  }

  private def blockAt(i: Int): BlockAcc = {
    while (blocks.length <= i) blocks += new BlockAcc
    blocks(i)
  }

  /** Register a line starting at `offsetInBlock` of `blockIdx` (the writer's
    * pending-block coordinates, read before the line bytes are written).
    * Routes ownership per the offset-0 rule above.
    */
  def startLine(blockIdx: Int, offsetInBlock: Int): Unit = {
    foldJoint() // previous row's pair counts, into the block that owned it
    val owner = if (offsetInBlock == 0 && blockIdx > 0) blockIdx - 1 else blockIdx
    cur = blockAt(owner)
    cur.lines += 1
    if (cur.firstOwned == NoOwnedLines) {
      cur.firstOwned =
        if (owner == blockIdx) offsetInBlock // includes file-start (0, 0)
        else FirstAtNextBlock
    }
    pendingAcc = cur
  }

  /** Columnar-layout registration: rows never span blocks and block b's
    * first row starts at its own offset 0, so the owner is always b itself
    * (no offset-0 rule). `firstOwnedStart` is stored as 0 — the row-layout
    * line iterator never sees columnar files, so the value is only ever
    * read as "has owned lines".
    */
  def startLineOwned(blockIdx: Int): Unit = {
    foldJoint()
    cur = blockAt(blockIdx)
    cur.lines += 1
    if (cur.firstOwned == NoOwnedLines) cur.firstOwned = 0
    pendingAcc = cur
  }

  def observeNull(col: Int): Unit = { cur.nulls(col) += 1; rowIdx(col) = -1 }

  def observeLong(col: Int, v: Long): Unit = {
    if (sumKind(col) == 1) {
      // overflow-checked accumulation: an overflowing block stores NO sum
      // (readers decode it instead), so the pushdown never silently wraps
      // where an ANSI-mode scan would error
      val s = cur.sumL(col)
      val t = s + v
      if (((s ^ t) & (v ^ t)) < 0) cur.sumOver(col) = true else cur.sumL(col) = t
    }
    if (!cur.bounded(col)) { cur.bounded(col) = true; cur.minL(col) = v; cur.maxL(col) = v }
    else {
      if (v < cur.minL(col)) cur.minL(col) = v
      if (v > cur.maxL(col)) cur.maxL(col) = v
    }
  }

  /** Doubles/floats ride the long slots as raw bits; NaN poisons the block-col
    * BOUNDS but still accumulates into the sum — NaN propagates through a
    * plain scan's sum identically.
    */
  def observeDouble(col: Int, v: Double): Unit = {
    cur.sumD(col) += v
    if (java.lang.Double.isNaN(v)) { cur.noBounds(col) = true; return }
    if (!cur.bounded(col)) {
      cur.bounded(col) = true
      cur.minL(col) = java.lang.Double.doubleToLongBits(v)
      cur.maxL(col) = cur.minL(col)
    } else {
      if (v < java.lang.Double.longBitsToDouble(cur.minL(col)))
        cur.minL(col) = java.lang.Double.doubleToLongBits(v)
      if (v > java.lang.Double.longBitsToDouble(cur.maxL(col)))
        cur.maxL(col) = java.lang.Double.doubleToLongBits(v)
    }
  }

  def observeString(col: Int, bytes: Array[Byte]): Unit = {
    // dictionary accumulation: exact values, capped count and length. The
    // last-hit probe makes the common case (runs of repeated values,
    // low-cardinality columns) one byte-compare per row.
    if (!cur.dictOver(col)) {
      if (bytes.length > DictMaxValueLen) {
        cur.dictOver(col) = true; cur.dict(col) = null; cur.dictN(col) = null
      } else {
        var d = cur.dict(col)
        if (d == null) {
          d = scala.collection.mutable.ArrayBuffer.empty; cur.dict(col) = d
          cur.dictN(col) = scala.collection.mutable.ArrayBuffer.empty
        }
        val lastHit = cur.dictLastHit(col)
        if (!d.isEmpty && lastHit < d.length &&
            java.util.Arrays.equals(d(lastHit), bytes)) {
          cur.dictN(col)(lastHit) += 1
        } else {
          var i = 0
          var found = -1
          while (found < 0 && i < d.length) {
            if (java.util.Arrays.equals(d(i), bytes)) found = i
            i += 1
          }
          if (found >= 0) { cur.dictLastHit(col) = found; cur.dictN(col)(found) += 1 }
          else if (d.length >= DictMaxEntries) {
            cur.dictOver(col) = true; cur.dict(col) = null; cur.dictN(col) = null
          } else {
            d += java.util.Arrays.copyOf(bytes, bytes.length)
            cur.dictN(col) += 1
            cur.dictLastHit(col) = d.length - 1
          }
        }
      }
    }
    // this row's entry ordinal, for the joint fold (dictLastHit is the
    // found/appended slot on every alive path above)
    rowIdx(col) = if (cur.dictOver(col)) -2 else cur.dictLastHit(col)
    val (trunc, exact) =
      if (bytes.length <= MaxStrBytes) (bytes, true)
      else (java.util.Arrays.copyOf(bytes, MaxStrBytes), false)
    if (!cur.bounded(col)) {
      cur.bounded(col) = true
      cur.minB(col) = trunc; cur.minX(col) = exact
      cur.maxB(col) = trunc; cur.maxX(col) = exact
    } else {
      // unsigned byte-wise order, the same collation the reader compares with
      if (McStatsPruning.byteCompare(trunc, cur.minB(col)) < 0) { cur.minB(col) = trunc; cur.minX(col) = exact }
      if (McStatsPruning.byteCompare(trunc, cur.maxB(col)) > 0) { cur.maxB(col) = trunc; cur.maxX(col) = exact }
    }
  }

  /** Serialize stats for exactly `nBlocks` container blocks (blocks beyond the
    * last observed line are all-empty entries). `version` = 1 writes the
    * sum-less legacy layout (compat tests — old files must keep parsing);
    * version 3 additionally writes the block-payload `layout` byte
    * (columnar writers pass StatsVersionColumnar + LayoutColumnar).
    */
  def serialize(nBlocks: Int, version: Int = StatsVersion,
                layout: Int = LayoutRows): Array[Byte] = {
    require(layout == LayoutRows || version >= StatsVersionColumnar,
      "non-row layouts require a version-3 stats segment")
    foldJoint() // the final row's pair counts (idempotent: pendingAcc clears)
    val bos = new java.io.ByteArrayOutputStream(64 + nBlocks * (8 + nCols * 24))
    def w4(v: Int): Unit = {
      bos.write((v >>> 24) & 0xff); bos.write((v >>> 16) & 0xff)
      bos.write((v >>> 8) & 0xff); bos.write(v & 0xff)
    }
    def w8(v: Long): Unit = { w4((v >>> 32).toInt); w4(v.toInt) }
    w4(StatsMagic)
    w4(version)
    if (version >= StatsVersionColumnar) bos.write(layout)
    w4(nCols)
    tags.foreach(bos.write)
    w4(nBlocks)
    val empty = new BlockAcc
    var b = 0
    while (b < nBlocks) {
      val acc = if (b < blocks.length) blocks(b) else empty
      w4(acc.firstOwned)
      w4(acc.lines)
      var c = 0
      while (c < nCols) {
        w4(acc.nulls(c))
        val bounds = acc.bounded(c) && !acc.noBounds(c)
        val hasSum = version >= 2 && sumKind(c) != 0 && !acc.sumOver(c)
        val dict =
          if (version >= 2 && tags(c) == CsvPayload.TagString && !acc.dictOver(c) &&
              acc.dict(c) != null && acc.dict(c).nonEmpty) acc.dict(c)
          else null
        var flags = 0
        if (bounds) {
          flags |= FlagBounds
          val (mx, xx) =
            if (tags(c) == CsvPayload.TagString) (acc.minX(c), acc.maxX(c)) else (true, true)
          if (mx) flags |= FlagMinExact
          if (xx) flags |= FlagMaxExact
        }
        if (hasSum) flags |= FlagHasSum
        if (dict != null) flags |= FlagHasDict
        bos.write(flags)
        if (bounds) {
          if (tags(c) == CsvPayload.TagString) {
            bos.write(acc.minB(c).length); bos.write(acc.minB(c), 0, acc.minB(c).length)
            bos.write(acc.maxB(c).length); bos.write(acc.maxB(c), 0, acc.maxB(c).length)
          } else { w8(acc.minL(c)); w8(acc.maxL(c)) }
        }
        if (hasSum)
          w8(if (sumKind(c) == 2) java.lang.Double.doubleToLongBits(acc.sumD(c)) else acc.sumL(c))
        if (dict != null) {
          bos.write(dict.length)
          dict.foreach { v => bos.write(v.length); bos.write(v, 0, v.length) }
          if (version >= StatsVersionDictCounts) {
            val counts = acc.dictN(c)
            var di = 0
            while (di < dict.length) { w4(counts(di)); di += 1 }
          }
        }
        c += 1
      }
      if (version >= StatsVersionJoint) {
        // joint section: only pairs whose BOTH dicts survived the block (the
        // entry ordinals reference the dicts serialized above) and whose own
        // accumulation stayed within the entry cap
        var nPairs = 0
        var pi = 0
        while (pi < jointPairs.length) {
          val j = if (acc.joint == null) null else acc.joint(pi)
          if (j != null && !j.over && j.n > 0 &&
              !acc.dictOver(jointPairs(pi)._1) && !acc.dictOver(jointPairs(pi)._2)) nPairs += 1
          pi += 1
        }
        bos.write(nPairs)
        pi = 0
        while (pi < jointPairs.length) {
          val j = if (acc.joint == null) null else acc.joint(pi)
          if (j != null && !j.over && j.n > 0 &&
              !acc.dictOver(jointPairs(pi)._1) && !acc.dictOver(jointPairs(pi)._2)) {
            val (c1, c2) = jointPairs(pi)
            bos.write((c1 >>> 8) & 0xff); bos.write(c1 & 0xff)
            bos.write((c2 >>> 8) & 0xff); bos.write(c2 & 0xff)
            bos.write((j.n >>> 8) & 0xff); bos.write(j.n & 0xff)
            var e = 0
            while (e < j.n) {
              bos.write((j.keys(e) >>> 8) & 0xff)
              bos.write(j.keys(e) & 0xff)
              w4(j.cnts(e))
              e += 1
            }
          }
          pi += 1
        }
      }
      b += 1
    }
    val totalLen = bos.size() + TrailerLen
    w4(totalLen)
    w4(StatsMagic)
    val body = bos.toByteArray
    val out = java.util.Arrays.copyOf(body, body.length + 4)
    val h = FourMc.xxhash32(body, 0, body.length)
    out(body.length) = ((h >>> 24) & 0xff).toByte
    out(body.length + 1) = ((h >>> 16) & 0xff).toByte
    out(body.length + 2) = ((h >>> 8) & 0xff).toByte
    out(body.length + 3) = (h & 0xff).toByte
    out
  }
}

object McBlockStats {
  import BlockStats._

  /** Parse a stats segment (bytes from magic through trailing checksum).
    * Returns None for unknown versions; throws on corruption.
    */
  def parse(seg: Array[Byte]): Option[McBlockStats] = {
    var p = 0
    def r4(): Int = {
      val v = ((seg(p) & 0xff) << 24) | ((seg(p + 1) & 0xff) << 16) |
        ((seg(p + 2) & 0xff) << 8) | (seg(p + 3) & 0xff)
      p += 4; v
    }
    def r8(): Long = { val hi = r4().toLong; val lo = r4().toLong & 0xffffffffL; (hi << 32) | lo }
    if (r4() != StatsMagic) throw new java.io.IOException("4mc stats segment magic mismatch")
    val version = r4()
    if (version < 1 || version > StatsVersionJoint) return None // forward-compat: ignore newer stats
    val layout =
      if (version >= StatsVersionColumnar) { val l = seg(p) & 0xff; p += 1; l }
      else LayoutRows
    if (layout > LayoutColumnar) return None // unknown payload layout: don't misread blocks
    val nCols = r4()
    if (nCols < 0 || nCols > 4096) throw new java.io.IOException(s"4mc stats nCols $nCols out of range")
    val tags = new Array[Int](nCols)
    var i = 0
    while (i < nCols) { tags(i) = seg(p) & 0xff; p += 1; i += 1 }
    val nBlocks = r4()
    if (nBlocks < 0 || nBlocks > (1 << 24)) throw new java.io.IOException(s"4mc stats nBlocks $nBlocks out of range")
    val first = new Array[Int](nBlocks)
    val lines = new Array[Int](nBlocks)
    val n = nBlocks * nCols
    val nulls = new Array[Int](n)
    val bounds = new Array[Boolean](n)
    val minL = new Array[Long](n)
    val maxL = new Array[Long](n)
    val minB = new Array[Array[Byte]](n)
    val maxB = new Array[Array[Byte]](n)
    val minX = new Array[Boolean](n)
    val maxX = new Array[Boolean](n)
    val hasSum = new Array[Boolean](n)
    val sums = new Array[Long](n)
    val dicts = new Array[Array[Array[Byte]]](n)
    val dictCnts = new Array[Array[Int]](n)
    val joints = new Array[Array[JointHist]](nBlocks)
    var b = 0
    while (b < nBlocks) {
      first(b) = r4()
      lines(b) = r4()
      var c = 0
      while (c < nCols) {
        val k = b * nCols + c
        nulls(k) = r4()
        val flags = seg(p) & 0xff; p += 1
        if ((flags & FlagBounds) != 0) {
          bounds(k) = true
          minX(k) = (flags & FlagMinExact) != 0
          maxX(k) = (flags & FlagMaxExact) != 0
          if (tags(c) == CsvPayload.TagString) {
            val ml = seg(p) & 0xff; p += 1
            minB(k) = java.util.Arrays.copyOfRange(seg, p, p + ml); p += ml
            val xl = seg(p) & 0xff; p += 1
            maxB(k) = java.util.Arrays.copyOfRange(seg, p, p + xl); p += xl
          } else { minL(k) = r8(); maxL(k) = r8() }
        }
        if (version >= 2 && (flags & FlagHasSum) != 0) { hasSum(k) = true; sums(k) = r8() }
        if (version >= 2 && (flags & FlagHasDict) != 0) {
          val cnt = seg(p) & 0xff; p += 1
          if (cnt > DictMaxEntries) throw new java.io.IOException(s"4mc stats dict size $cnt")
          val d = new Array[Array[Byte]](cnt)
          var i2 = 0
          while (i2 < cnt) {
            val l = seg(p) & 0xff; p += 1
            d(i2) = java.util.Arrays.copyOfRange(seg, p, p + l); p += l
            i2 += 1
          }
          dicts(k) = d
          if (version >= StatsVersionDictCounts) {
            val dn = new Array[Int](cnt)
            var i3 = 0
            while (i3 < cnt) { dn(i3) = r4(); i3 += 1 }
            dictCnts(k) = dn
          }
        }
        c += 1
      }
      if (version >= StatsVersionJoint) {
        val nP = seg(p) & 0xff; p += 1
        if (nP > 0) {
          val arr = new Array[JointHist](nP)
          var pi = 0
          while (pi < nP) {
            def r2(): Int = { val v = ((seg(p) & 0xff) << 8) | (seg(p + 1) & 0xff); p += 2; v }
            val c1 = r2(); val c2 = r2(); val ne = r2()
            if (ne > JointMaxEntries)
              throw new java.io.IOException(s"4mc stats joint size $ne out of range")
            val i1 = new Array[Int](ne)
            val i2 = new Array[Int](ne)
            val cn = new Array[Int](ne)
            var e = 0
            while (e < ne) {
              i1(e) = (seg(p) & 0xff) - 1; p += 1 // 0 encodes NULL
              i2(e) = (seg(p) & 0xff) - 1; p += 1
              cn(e) = r4()
              e += 1
            }
            arr(pi) = new JointHist(c1, c2, i1, i2, cn)
            pi += 1
          }
          joints(b) = arr
        }
      }
      b += 1
    }
    Some(new McBlockStats(tags, first, lines, nulls, bounds, minL, maxL, minB, maxB, minX, maxX,
      hasSum, sums, layout, dicts, dictCnts, joints))
  }
}

/** Compile pushed filters into a per-block keep decision against the stats.
  * Sound by construction: a block is dropped only when some conjunct is
  * provably false for every line the block owns; Spark re-applies every
  * pushed filter above the scan, so pruning can only remove rows that the
  * downstream filter would drop anyway.
  */
object McStatsPruning {

  private final val ModeEq = 0
  private final val ModeGt = 1
  private final val ModeGe = 2
  private final val ModeLt = 3
  private final val ModeLe = 4

  def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Compare only over the shared prefix: 0 means "cannot order" (equal
    * prefixes). Used against truncated bounds where the suffix is unknown.
    */
  private def prefixCompare(v: Array[Byte], bound: Array[Byte]): Int = {
    val n = math.min(v.length, bound.length)
    var i = 0
    while (i < n) {
      val d = (v(i) & 0xff) - (bound(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  private def toLongLit(tag: Int, scale: Int, v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    if (v == null) return None
    tag match {
      case CsvPayload.TagLong | CsvPayload.TagInt =>
        v match { case n: java.lang.Number => Some(n.longValue); case _ => None }
      case CsvPayload.TagBoolean =>
        v match { case b: java.lang.Boolean => Some(if (b) 1L else 0L); case _ => None }
      case CsvPayload.TagTimestamp | CsvPayload.TagTimestampMicros =>
        v match {
          case t: java.sql.Timestamp      => Some(DateTimeUtils.fromJavaTimestamp(t))
          case i: java.time.Instant       => Some(DateTimeUtils.instantToMicros(i))
          case l: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(l))
          case _                          => None
        }
      case CsvPayload.TagDate =>
        v match {
          case d: java.sql.Date       => Some(DateTimeUtils.fromJavaDate(d).toLong)
          case d: java.time.LocalDate => Some(d.toEpochDay)
          case _                      => None
        }
      case CsvPayload.TagDecimal =>
        // zone maps hold UNSCALED values; a literal that doesn't fit the
        // column scale exactly converts to no-prune rather than mis-prune
        v match {
          case d: java.math.BigDecimal =>
            try Some(d.setScale(scale).unscaledValue.longValueExact)
            catch { case _: ArithmeticException => None }
          case _ => None
        }
      case _ => None
    }
  }

  private def toDoubleLit(v: Any): Option[Double] =
    v match { case n: java.lang.Number => Some(n.doubleValue); case _ => None }

  /** Column status under POSITIONAL schema evolution (read-schema width may
    * differ from the file's; the csv payload is positional, so evolution =
    * appending columns). 0 = the file's stats column describes this read
    * column (tags agree); 1 = the column is ABSENT from the file (ordinal
    * beyond the file width — every row reads null, a strong fact: value
    * predicates refute, IsNull certifies); 2 = tag mismatch (a same-width
    * different-type generation: no information, never prune).
    *
    * The stats stride is the FILE's nCols either way, so prefix ordinals
    * index correctly whether the read schema is wider or narrower.
    */
  private def evolveStatus(stats: McBlockStats, dataSchema: StructType, c: Int): Int =
    if (c >= stats.nCols) 1
    else {
      val want = CsvPayload.tagOf(dataSchema.fields(c).dataType)
      val got = stats.tags(c)
      // micros-encoded timestamps carry their own tag in the segment;
      // int→long is the supported TYPE WIDENING (r16): the file's int text
      // parses as long and its stats already live in the long domain, so
      // bounds/nulls/sums stay exact under the widened read schema
      if (got == want ||
        (want == CsvPayload.TagTimestamp && got == CsvPayload.TagTimestampMicros) ||
        (want == CsvPayload.TagLong && got == CsvPayload.TagInt)) 0
      else 2
    }

  /** keep(b) for every block; `None` when the stats don't apply. Schema
    * evolution is handled per column via [[evolveStatus]] — a prefix-true
    * column prunes as always, an absent column prunes HARD on value
    * predicates (all rows null), a tag-mismatched column never prunes.
    * When the file carries a bloom segment ([[BlockBlooms]]), equality and
    * IN predicates on bloom columns additionally probe the per-block
    * filter — the refutation that works where zone maps don't (point
    * lookups on columns uncorrelated with file order, whose every
    * [min, max] zone spans the domain).
    */
  def keepBlocks(
      filters: Seq[Filter],
      dataSchema: StructType,
      stats: McBlockStats,
      blooms: Option[McBlockBlooms] = None
  ): Option[Array[Boolean]] = {
    val nCols = stats.nCols

    def colOf(attr: String): Int = dataSchema.fields.indexWhere(_.name == attr)
    def status(c: Int): Int = evolveStatus(stats, dataSchema, c)

    // possible(f)(b): may any owned line of block b satisfy f?  true = keep-safe
    def possible(f: Filter): Int => Boolean = f match {
      case And(a, b) =>
        val pa = possible(a); val pb = possible(b)
        blk => pa(blk) && pb(blk)
      case Or(a, b) =>
        val pa = possible(a); val pb = possible(b)
        blk => pa(blk) || pb(blk)
      case IsNull(attr) =>
        val c = colOf(attr)
        if (c < 0 || status(c) != 0) _ => true // absent column: all null
        else blk => stats.nullCount(blk * nCols + c) > 0
      case IsNotNull(attr) =>
        val c = colOf(attr)
        if (c < 0) _ => true
        else status(c) match {
          case 1 => _ => false // absent from this file: every row null
          case 2 => _ => true
          case _ => blk => stats.lineCount(blk) - stats.nullCount(blk * nCols + c) > 0
        }
      case EqualTo(attr, v)            => rangeTest(attr, v, ModeEq)
      case GreaterThan(attr, v)        => rangeTest(attr, v, ModeGt)
      case GreaterThanOrEqual(attr, v) => rangeTest(attr, v, ModeGe)
      case LessThan(attr, v)           => rangeTest(attr, v, ModeLt)
      case LessThanOrEqual(attr, v)    => rangeTest(attr, v, ModeLe)
      case In(attr, vs) =>
        val tests = vs.map(v => rangeTest(attr, v, ModeEq))
        blk => tests.isEmpty || tests.exists(_(blk))
      case StringStartsWith(attr, prefix) =>
        val c = colOf(attr)
        if (c < 0) _ => true
        else if (status(c) == 1) _ => false // absent: null never startsWith
        else if (status(c) == 2 || stats.tags(c) != CsvPayload.TagString) _ => true
        else {
          val p = prefix.getBytes("UTF-8")
          blk => {
            val k = blk * nCols + c
            if (stats.lineCount(blk) - stats.nullCount(k) <= 0) false
            else {
              val dict = stats.dictAt(k)
              if (dict != null)
                // complete dictionary: definitive membership, not a range proof
                dict.exists(v => v.length >= p.length && prefixCompare(v, p) == 0 &&
                  java.util.Arrays.equals(java.util.Arrays.copyOf(v, p.length), p))
              else if (!stats.hasBounds(k)) true
              else {
                // matching strings form the range [p, p·∞); intersect with [min,max]
                val aboveMin = prefixCompare(stats.maxBytes(k), p) >= 0
                val belowMax = prefixCompare(stats.minBytes(k), p) <= 0
                aboveMin && belowMax
              }
            }
          }
        }
      case _ => _ => true // Not / nested / unknown: never prune on these
    }

    /** Can some non-null value x among block b's owned lines satisfy
      * `x <mode> v`?  Per mode, with block bounds [min, max]:
      * Eq → min ≤ v ≤ max;  Gt → max > v;  Ge → max ≥ v;
      * Lt → min < v;  Le → min ≤ v.
      * String bounds may be 16-byte truncations: minBytes ≤ trueMin always
      * (a prefix sorts before its extension); when maxExact is false,
      * maxBytes is a strict prefix of trueMax, so trueMax > v is refutable
      * only when v's shared prefix is strictly above maxBytes.
      */
    def rangeTest(attr: String, v: Any, mode: Int): Int => Boolean = {
      val c = colOf(attr)
      if (c < 0) return _ => true
      status(c) match {
        case 1 => return _ => false // absent column: null satisfies no range
        case 2 => return _ => true
        case _ =>
      }
      val tag = stats.tags(c)
      tag match {
        case CsvPayload.TagString =>
          val vb = v match { case s: String => s.getBytes("UTF-8"); case _ => null }
          if (vb == null) return _ => true
          // string equality with a bloom: probe the xxhash64 of the value
          // bytes (what the writer inserted) after the bounds test
          val bloomOrd: Int =
            if (mode == ModeEq) blooms.map(_.ordOf(c)).getOrElse(-1) else -1
          val bloomKey: Long =
            if (bloomOrd >= 0) graft.format.FourMc.xxhash64(vb, 0, vb.length) else 0L
          blk => {
            val k = blk * nCols + c
            if (stats.lineCount(blk) - stats.nullCount(k) <= 0) false
            else if (stats.dictAt(k) != null) {
              // complete value dictionary (r14): ∃-membership answers every
              // comparison mode EXACTLY — keep iff some stored value
              // satisfies it (no bloom needed, no truncation subtleties)
              val dict = stats.dictAt(k)
              (mode: @scala.annotation.switch) match {
                case ModeEq => dict.exists(byteCompare(_, vb) == 0)
                case ModeGt => dict.exists(byteCompare(_, vb) > 0)
                case ModeGe => dict.exists(byteCompare(_, vb) >= 0)
                case ModeLt => dict.exists(byteCompare(_, vb) < 0)
                case _      => dict.exists(byteCompare(_, vb) <= 0)
              }
            }
            else if (!stats.hasBounds(k))
              bloomOrd < 0 || blooms.get.mayContain(blk, bloomOrd, bloomKey)
            else {
              val minB = stats.minBytes(k); val maxB = stats.maxBytes(k)
              def vAboveMax: Boolean = // v > trueMax provable?
                if (stats.maxExact(k)) byteCompare(vb, maxB) > 0
                else prefixCompare(vb, maxB) > 0
              def vBelowMin: Boolean = byteCompare(vb, minB) < 0 // ⇒ v < minBytes ≤ trueMin
              (mode: @scala.annotation.switch) match {
                case ModeEq => !(vBelowMin || vAboveMax) &&
                  (bloomOrd < 0 || blooms.get.mayContain(blk, bloomOrd, bloomKey))
                case ModeGt | ModeGe => // need trueMax > v (≥ v): refute when trueMax ≤/< v
                  if (stats.maxExact(k)) {
                    val d = byteCompare(maxB, vb)
                    if (mode == ModeGt) d > 0 else d >= 0
                  } else !(prefixCompare(vb, maxB) > 0) // refuted only if v > any maxBytes-extension
                case _ => // ModeLt / ModeLe: need trueMin < v (≤ v); trueMin ≥ minBytes
                  if (stats.minExact(k)) {
                    val d = byteCompare(minB, vb)
                    if (mode == ModeLt) d < 0 else d <= 0
                  } else byteCompare(minB, vb) < 0 // minBytes ≥ v ⇒ trueMin ≥ v (strict ext.) ⇒ refuted
              }
            }
          }
        case CsvPayload.TagDouble | CsvPayload.TagFloat =>
          val vd = toDoubleLit(v)
          if (vd.isEmpty) return _ => true
          val lit = vd.get
          // Spark orders NaN ABOVE every value (x < NaN is true for all
          // non-NaN x; NaN = NaN is true), but the primitive comparisons
          // below are all-false against NaN and would refute every block.
          // A NaN literal therefore never prunes. (NaN VALUES are already
          // safe: the writer poisons the block-col bounds — hasBounds=false.)
          if (java.lang.Double.isNaN(lit)) return _ => true
          blk => {
            val k = blk * nCols + c
            if (stats.lineCount(blk) - stats.nullCount(k) <= 0) false
            else if (!stats.hasBounds(k)) true
            else {
              val mn = java.lang.Double.longBitsToDouble(stats.minLong(k))
              val mx = java.lang.Double.longBitsToDouble(stats.maxLong(k))
              (mode: @scala.annotation.switch) match {
                case ModeEq => mn <= lit && lit <= mx
                case ModeGt => mx > lit
                case ModeGe => mx >= lit
                case ModeLt => mn < lit
                case _      => mn <= lit
              }
            }
          }
        case _ =>
          val vl = toLongLit(tag, CsvPayload.scaleOf(dataSchema.fields(c).dataType), v)
          if (vl.isEmpty) return _ => true
          val lit = vl.get
          // equality on an integer column with a bloom: zone range AND a
          // filter probe must both pass (either refutation is sound — only
          // non-null values were inserted, and null never equals)
          val bloomOrd: Int =
            if (mode == ModeEq) blooms.map(_.ordOf(c)).getOrElse(-1) else -1
          blk => {
            val k = blk * nCols + c
            if (stats.lineCount(blk) - stats.nullCount(k) <= 0) false
            else {
              val zoneOk =
                if (!stats.hasBounds(k)) true
                else {
                  val mn = stats.minLong(k); val mx = stats.maxLong(k)
                  (mode: @scala.annotation.switch) match {
                    case ModeEq => mn <= lit && lit <= mx
                    case ModeGt => mx > lit
                    case ModeGe => mx >= lit
                    case ModeLt => mn < lit
                    case _      => mn <= lit
                  }
                }
              zoneOk && (bloomOrd < 0 || blooms.get.mayContain(blk, bloomOrd, lit))
            }
          }
      }
    }

    val tests = filters.map(possible)
    val keep = new Array[Boolean](stats.nBlocks)
    var b = 0
    while (b < stats.nBlocks) {
      keep(b) = stats.lineCount(b) > 0 && tests.forall(_(b))
      b += 1
    }
    Some(keep)
  }

  /** certain(b): does EVERY owned line of block b satisfy ALL `filters`?
    * The dual of [[keepBlocks]]' may-match analysis, used to ELIDE per-row
    * pushed-filter evaluation on blocks whose zone maps fully satisfy the
    * predicates (a q1-style near-pass-all range filter spends ~24% of scan
    * CPU on per-row evaluation that keeps 98% of rows — JFR, round 14).
    * Sound because Spark's FileSourceStrategy re-evaluates data filters
    * above every FileFormat scan: the per-row pre-filter is an optimization
    * either way, so eliding it on provably-all-pass blocks only moves work
    * to the (vectorized, codegen'd) upstream filter — and on such blocks
    * that filter keeps everything.
    *
    * Conservative by construction: certainty needs EXACT bounds wherever
    * truncation weakens the test — a truncated string MAX is a strict
    * prefix below the true max, so Lt/Le/Eq demand maxExact; a truncated
    * MIN is still a valid lower bound (storedMin <= trueMin), so Gt/Ge
    * stay usable on truncated mins (r14 advice). Null-freedom is required
    * for null-rejecting predicates; any unsupported filter shape makes the
    * block not-certain, never wrong. Timestamp zone maps hold pattern-quantized micros — the
    * same values the text round-trip produces — so bound comparisons are
    * against the actual decoded domain. `None` when the stats don't apply.
    */
  def certainBlocks(
      filters: Seq[Filter],
      dataSchema: StructType,
      stats: McBlockStats
  ): Option[Array[Boolean]] = {
    val nCols = stats.nCols

    def colOf(attr: String): Int = dataSchema.fields.indexWhere(_.name == attr)
    def status(c: Int): Int = evolveStatus(stats, dataSchema, c)

    // every(f)(b): does every owned line of block b satisfy f?  false = unsure
    def every(f: Filter): Int => Boolean = f match {
      case And(a, b) =>
        val ea = every(a); val eb = every(b)
        blk => ea(blk) && eb(blk)
      case Or(a, b) =>
        // sufficient (not necessary): one side certain for the whole block
        val ea = every(a); val eb = every(b)
        blk => ea(blk) || eb(blk)
      case IsNull(attr) =>
        val c = colOf(attr)
        if (c < 0) _ => false
        else status(c) match {
          case 1 => _ => true // absent from this file: every row IS null
          case 2 => _ => false
          case _ => blk => stats.nullCount(blk * nCols + c) == stats.lineCount(blk)
        }
      case IsNotNull(attr) =>
        val c = colOf(attr)
        if (c < 0 || status(c) != 0) _ => false
        else blk => stats.nullCount(blk * nCols + c) == 0
      case EqualTo(attr, v)            => certainRange(attr, v, ModeEq)
      case GreaterThan(attr, v)        => certainRange(attr, v, ModeGt)
      case GreaterThanOrEqual(attr, v) => certainRange(attr, v, ModeGe)
      case LessThan(attr, v)           => certainRange(attr, v, ModeLt)
      case LessThanOrEqual(attr, v)    => certainRange(attr, v, ModeLe)
      case In(attr, vs) =>
        val c = colOf(attr)
        if (c < 0 || status(c) != 0 || vs == null || vs.isEmpty) _ => false
        else if (stats.tags(c) == CsvPayload.TagString) {
          val vbs = vs.flatMap {
            case s: String => Some(s.getBytes("UTF-8")); case _ => None
          }
          if (vbs.length != vs.length) _ => false
          else blk => {
            val k = blk * nCols + c
            val dict = stats.dictAt(k)
            stats.nullCount(k) == 0 && dict != null &&
              dict.forall(d => vbs.exists(byteCompare(d, _) == 0))
          }
        } else {
          // whole block equal to ONE member value
          val tests = vs.map(v => certainRange(attr, v, ModeEq))
          blk => tests.exists(_(blk))
        }
      case StringStartsWith(attr, prefix) =>
        val c = colOf(attr)
        if (c < 0 || status(c) != 0 || stats.tags(c) != CsvPayload.TagString ||
          prefix == null) _ => false
        else {
          val p = prefix.getBytes("UTF-8")
          def startsWith(v: Array[Byte]): Boolean =
            v.length >= p.length && java.util.Arrays.equals(
              java.util.Arrays.copyOf(v, p.length), p)
          blk => {
            val k = blk * nCols + c
            if (stats.nullCount(k) != 0) false
            else {
              val dict = stats.dictAt(k)
              if (dict != null) dict.forall(startsWith)
              // exact bounds both carrying the prefix ⇒ every value between
              // them does too (a prefix-sharing interval is prefix-closed:
              // anything below min or above max falls outside the bounds)
              else stats.hasBounds(k) && stats.minExact(k) && stats.maxExact(k) &&
                startsWith(stats.minBytes(k)) && startsWith(stats.maxBytes(k))
            }
          }
        }
      case _ => _ => false // Not / nested / unknown: never certain
    }

    /** Does every non-null value of block b satisfy `x <mode> v`, with no
      * nulls present?  (Range predicates reject null rows in SQL, so
      * certainty additionally demands nullCount == 0.)
      */
    def certainRange(attr: String, v: Any, mode: Int): Int => Boolean = {
      val c = colOf(attr)
      // absent column (status 1): all-null rows never satisfy a range —
      // not certain (the DUAL keepBlocks arm already refutes such blocks)
      if (c < 0 || status(c) != 0) return _ => false
      val tag = stats.tags(c)
      tag match {
        case CsvPayload.TagString =>
          val vb = v match { case s: String => s.getBytes("UTF-8"); case _ => null }
          if (vb == null) return _ => false
          blk => {
            val k = blk * nCols + c
            if (stats.nullCount(k) != 0) false
            else {
              val dict = stats.dictAt(k)
              if (dict != null) (mode: @scala.annotation.switch) match {
                case ModeEq => dict.forall(byteCompare(_, vb) == 0)
                case ModeGt => dict.forall(byteCompare(_, vb) > 0)
                case ModeGe => dict.forall(byteCompare(_, vb) >= 0)
                case ModeLt => dict.forall(byteCompare(_, vb) < 0)
                case _      => dict.forall(byteCompare(_, vb) <= 0)
              }
              else if (!stats.hasBounds(k)) false
              else {
                // Certainty needs an exact bound only where truncation
                // weakens the test's direction. A truncated MIN is a strict
                // prefix of the true min, so storedMin <= trueMin always
                // (the keepBlocks invariant) — storedMin > v already proves
                // every value > v, no minExact needed on the Gt/Ge arms. A
                // truncated MAX is a strict prefix BELOW the true max, so
                // storedMax <= v proves nothing about the tail: Lt/Le (and
                // Eq's max side) still demand maxExact.
                val minB = stats.minBytes(k); val maxB = stats.maxBytes(k)
                (mode: @scala.annotation.switch) match {
                  case ModeEq =>
                    stats.minExact(k) && stats.maxExact(k) &&
                      byteCompare(minB, vb) == 0 && byteCompare(maxB, vb) == 0
                  case ModeGt => byteCompare(minB, vb) > 0
                  case ModeGe => byteCompare(minB, vb) >= 0
                  case ModeLt => stats.maxExact(k) && byteCompare(maxB, vb) < 0
                  case _      => stats.maxExact(k) && byteCompare(maxB, vb) <= 0
                }
              }
            }
          }
        case CsvPayload.TagDouble | CsvPayload.TagFloat =>
          val vd = toDoubleLit(v)
          if (vd.isEmpty) return _ => false
          val lit = vd.get
          if (java.lang.Double.isNaN(lit)) return _ => false
          blk => {
            val k = blk * nCols + c
            if (stats.nullCount(k) != 0 || !stats.hasBounds(k)) false
            else {
              val mn = java.lang.Double.longBitsToDouble(stats.minLong(k))
              val mx = java.lang.Double.longBitsToDouble(stats.maxLong(k))
              (mode: @scala.annotation.switch) match {
                case ModeEq => mn == lit && mx == lit
                case ModeGt => mn > lit
                case ModeGe => mn >= lit
                case ModeLt => mx < lit
                case _      => mx <= lit
              }
            }
          }
        case _ =>
          val vl = toLongLit(tag, CsvPayload.scaleOf(dataSchema.fields(c).dataType), v)
          if (vl.isEmpty) return _ => false
          val lit = vl.get
          blk => {
            val k = blk * nCols + c
            if (stats.nullCount(k) != 0 || !stats.hasBounds(k)) false
            else {
              val mn = stats.minLong(k); val mx = stats.maxLong(k)
              (mode: @scala.annotation.switch) match {
                case ModeEq => mn == lit && mx == lit
                case ModeGt => mn > lit
                case ModeGe => mn >= lit
                case ModeLt => mx < lit
                case _      => mx <= lit
              }
            }
          }
      }
    }

    val tests = filters.map(every)
    val certain = new Array[Boolean](stats.nBlocks)
    var b = 0
    while (b < stats.nBlocks) {
      certain(b) = tests.forall(_(b)) // empty blocks are vacuously certain
      b += 1
    }
    Some(certain)
  }

  /** Join-driven pruning: keep(b) iff some key in `sortedKeys` falls inside
    * block b's [min, max] zone for `attr` — the zone-map probe for a
    * RUNTIME key set collected from a join's small (broadcast) side.
    *
    * A sorted key array is strictly stronger than a bloom filter here: zone
    * maps answer range questions, and "does any member key lie in [mn, mx]"
    * is one binary search (O(log |keys|) per block), which a bloom cannot
    * answer without enumerating the range. On a fact table SORT-CLUSTERED by
    * the join key each key's rows are contiguous, so the skip fraction
    * approaches 1 − |dim keys| / |fact keys| no matter how the dim keys are
    * spread — the layout, not key locality, does the work.
    *
    * Contract: callers assert downstream keeps only rows whose `attr` ∈ keys
    * (inner/semi equi-join). Under that contract all-null blocks are
    * refutable (a null never equi-joins), and pruning is a pure optimization
    * — kept blocks still emit every line, and the join re-checks each row.
    *
    * Returns None (scan unpruned) when the column is missing or not an
    * integer type — never wrong, only less effective.
    */
  /** Per-block probe budget for [[keepBlocksForKeys]]' bloom pass: probing
    * every candidate key against every block is O(|keys| × blocks), so a
    * block whose zone admits more than this many keys keeps the zone-map
    * verdict (sound — blooms only ever remove). Point-ish key sets (the
    * selective joins where bloom pruning pays) sit far under it.
    */
  final val BloomProbeCap = 4096

  /** Join-driven pruning for a STRING key column through a HASHED domain:
    * `sortedHashes` are xxhash64 values of the build side's distinct keys
    * (UTF-8 bytes — the same hash the bloom writer inserted). Hashes carry
    * no order, so zone maps can't narrow anything: pruning is membership.
    *
    * Two membership sources, strongest first (r16): a block carrying a
    * COMPLETE value dictionary ([[BlockStats.FlagHasDict]]) is kept iff
    * some entry's hash is in the key set — exact refutation with no bloom
    * false-positive floor, and it needs no bloom segment at all (dicts are
    * written unconditionally for low-cardinality columns). Dict-less
    * blocks fall back to the per-block bloom, budget-capped like the
    * integer path. `None` when the file has neither source for the column
    * (or it isn't a string) — the scan stays unpruned, never wrong.
    *
    * Same caller contract as [[keepBlocksForKeys]]: downstream keeps only
    * rows whose `attr` ∈ the original key set (inner/semi equi-join), so
    * all-null blocks are refutable and false positives only KEEP blocks.
    * (Hash collisions only ever ADD a kept block — two distinct strings
    * colliding means the entry's hash IS in the set, so the block stays.)
    */
  def keepBlocksForHashedKeys(
      attr: String,
      sortedHashes: Array[Long],
      dataSchema: StructType,
      stats: McBlockStats,
      blooms: Option[McBlockBlooms]
  ): Option[Array[Boolean]] = {
    if (stats.nCols != dataSchema.length) return None
    val c = dataSchema.fields.indexWhere(_.name == attr)
    if (c < 0 || stats.tags(c) != CsvPayload.TagString) return None
    val bloomOrd = blooms.map(_.ordOf(c)).getOrElse(-1)
    val anyDict = {
      var b = 0
      var found = false
      while (!found && b < stats.nBlocks) {
        found = stats.dictAt(b * stats.nCols + c) != null
        b += 1
      }
      found
    }
    if (bloomOrd < 0 && !anyDict) return None
    if (sortedHashes.isEmpty) return Some(new Array[Boolean](stats.nBlocks)) // ∅: drop all
    def inKeys(h: Long): Boolean =
      java.util.Arrays.binarySearch(sortedHashes, h) >= 0
    val keep = new Array[Boolean](stats.nBlocks)
    var b = 0
    while (b < stats.nBlocks) {
      val k = b * stats.nCols + c
      val dict = stats.dictAt(k)
      keep(b) =
        if (stats.lineCount(b) - stats.nullCount(k) <= 0) false
        else if (dict != null)
          // complete dictionary: exact membership (≤32 entries × one
          // binary search), no probe budget needed
          dict.exists(v => inKeys(FourMc.xxhash64(v, 0, v.length)))
        else if (bloomOrd < 0 || !blooms.get.present(b, bloomOrd)) true
        else if (sortedHashes.length > BloomProbeCap) true
        else {
          val bl = blooms.get
          var i = 0
          var hit = false
          while (!hit && i < sortedHashes.length) {
            hit = bl.mayContain(b, bloomOrd, sortedHashes(i)); i += 1
          }
          hit
        }
      b += 1
    }
    Some(keep)
  }

  def keepBlocksForKeys(
      attr: String,
      sortedKeys: Array[Long],
      dataSchema: StructType,
      stats: McBlockStats,
      blooms: Option[McBlockBlooms] = None
  ): Option[Array[Boolean]] = {
    val c = dataSchema.fields.indexWhere(_.name == attr)
    if (c < 0) return None
    // positional evolution: a join-key column absent from this file reads
    // all-null, and null never equals a key — drop every block
    evolveStatus(stats, dataSchema, c) match {
      case 1 => return Some(new Array[Boolean](stats.nBlocks))
      case 2 => return None
      case _ =>
    }
    if (stats.tags(c) != CsvPayload.TagLong && stats.tags(c) != CsvPayload.TagInt &&
      stats.tags(c) != CsvPayload.TagDate) return None
    if (sortedKeys.isEmpty) return Some(new Array[Boolean](stats.nBlocks)) // ∅ keys: drop all
    def lowerBound(mn: Long): Int = { // smallest index with key >= mn
      var lo = 0
      var hi = sortedKeys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sortedKeys(mid) >= mn) hi = mid else lo = mid + 1
      }
      lo
    }
    // zone pass, then (with a bloom segment) a capped membership pass: a
    // zone-kept block is refutable when EVERY candidate key in [mn, mx]
    // misses its bloom — the layout-independent skip for unsorted files
    val bloomOrd = blooms.map(_.ordOf(c)).getOrElse(-1)
    val keep = new Array[Boolean](stats.nBlocks)
    var b = 0
    while (b < stats.nBlocks) {
      val k = b * stats.nCols + c
      keep(b) =
        if (stats.lineCount(b) - stats.nullCount(k) <= 0) false
        else if (!stats.hasBounds(k)) {
          // no zone (shouldn't happen for integer cols): bloom alone decides
          if (bloomOrd < 0 || !blooms.get.present(b, bloomOrd)) true
          else {
            if (sortedKeys.length > BloomProbeCap) true
            else {
              var i = 0
              var hit = false
              while (!hit && i < sortedKeys.length) {
                hit = blooms.get.mayContain(b, bloomOrd, sortedKeys(i)); i += 1
              }
              hit
            }
          }
        } else {
          val mn = stats.minLong(k); val mx = stats.maxLong(k)
          val lo = lowerBound(mn)
          if (lo >= sortedKeys.length || sortedKeys(lo) > mx) false // zone refutes
          else if (bloomOrd < 0 || !blooms.get.present(b, bloomOrd)) true
          else {
            // probe each candidate key inside the zone, budget-capped
            var i = lo
            var hit = false
            var probes = 0
            while (!hit && i < sortedKeys.length && sortedKeys(i) <= mx && probes < BloomProbeCap) {
              hit = blooms.get.mayContain(b, bloomOrd, sortedKeys(i))
              i += 1
              probes += 1
            }
            hit || (i < sortedKeys.length && sortedKeys(i) <= mx && probes >= BloomProbeCap)
          }
        }
      b += 1
    }
    Some(keep)
  }
}
