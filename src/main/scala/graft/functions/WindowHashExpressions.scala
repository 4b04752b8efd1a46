package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** xxhash64 of every space-joined `k`-token window of a token array — the
  * fused twin of the repo's window-hash idiom
  *
  * {{{
  *   when(size(toks) < k, array(xxhash64(concat_ws(" ", toks))))
  *     .otherwise(transform(sequence(1, size(toks) - (k - 1)),
  *       i => xxhash64(concat_ws(" ", slice(toks, i, lit(k))))))
  * }}}
  *
  * which is the hot loop of span postings (k = 8), span hash arrays, and
  * 3-gram shingle postings: per WINDOW it allocates a k-element slice array
  * plus a joined UTF8String before hashing it, i.e. O(tokens × k) bytes of
  * garbage per document.
  *
  * This expression joins the tokens ONCE per row into a scratch buffer with
  * single-space separators and hashes each window as a contiguous slice of
  * that buffer — zero per-window allocation. Bit identity with the column
  * formulation: the joined document bytes between the start of token i and
  * the end of token i+k−1 are exactly `concat_ws(" ", slice(toks, i, k))`,
  * and the hash is the same `XXH64.hashUnsafeBytes(…, seed = 42)` Spark's
  * `xxhash64` applies to a string column (asserted in HashExprSpec).
  * The short-document convention (< k tokens ⇒ one whole-text window,
  * including 0 tokens ⇒ hash of "") is preserved. Null ELEMENTS take a slow
  * path replicating concat_ws's skip-nulls semantics (tokenizers here never
  * produce them; correctness is kept anyway); a null ARRAY is null.
  */
case class TokenWindowHashExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"window length must be positive, got $k")

  override def prettyName: String = "token_window_hash"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"token_window_hash expects array<string> tokens, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    TokenWindowHashExpr.hashWindows(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.TokenWindowHashExpr.hashWindows($a, $k);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokenWindowHashExpr {
  private val Seed = 42L // Spark's xxhash64 seed

  /** The space-joined `k`-token windows of a token array as slices of one
    * byte buffer: window i is `buf(off(i) until off(i) + len(i))`, the bytes
    * of `concat_ws(" ", slice(toks, i + 1, k))`; fewer than k tokens give one
    * whole-text window (0 tokens: the empty window). Without null elements
    * the tokens are joined once and the windows overlap in that buffer; null
    * elements follow concat_ws (skipped together with their separator), each
    * window joined on its own.
    */
  final class Windows(val buf: Array[Byte], val off: Array[Int], val len: Array[Int]) {
    def count: Int = off.length

    /** Spark's `xxhash64` of window i. */
    def xxhash64(i: Int): Long =
      XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET + off(i), len(i), Seed)

    def sameBytes(i: Int, j: Int): Boolean =
      java.util.Arrays.equals(buf, off(i), off(i) + len(i), buf, off(j), off(j) + len(j))
  }

  def windows(toks: ArrayData, k: Int): Windows = {
    val n = toks.numElements()
    var hasNull = false
    var total = 0L
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) hasNull = true
      else total += toks.getUTF8String(i).numBytes()
      i += 1
    }
    if (hasNull) return nullSkippingWindows(toks, k)
    val bufLen = total + math.max(0, n - 1)
    if (bufLen > Int.MaxValue - 16)
      throw new IllegalArgumentException(s"token window join overflows a byte buffer ($bufLen)")
    val buf = new Array[Byte](bufLen.toInt)
    val m = if (n < k) 1 else n - k + 1
    val off = new Array[Int](m)
    val len = new Array[Int](m)
    // window w opens with token w and closes with token w + k - 1
    var o = 0
    i = 0
    while (i < n) {
      if (i < m) off(i) = o
      val s = toks.getUTF8String(i)
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + o)
      o += s.numBytes()
      if (i >= k - 1) len(i - k + 1) = o - off(i - k + 1)
      if (i < n - 1) { buf(o) = ' '; o += 1 }
      i += 1
    }
    if (n < k) len(0) = o
    new Windows(buf, off, len)
  }

  private def nullSkippingWindows(toks: ArrayData, k: Int): Windows = {
    val n = toks.numElements()
    val m = if (n < k) 1 else n - k + 1
    val width = math.min(n, k)
    val off = new Array[Int](m)
    val len = new Array[Int](m)
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < m) {
      off(i) = out.size()
      var emitted = 0
      var j = i
      while (j < i + width) {
        if (!toks.isNullAt(j)) {
          if (emitted > 0) out.write(' ')
          val b = toks.getUTF8String(j).getBytes
          out.write(b, 0, b.length)
          emitted += 1
        }
        j += 1
      }
      len(i) = out.size() - off(i)
      i += 1
    }
    new Windows(out.toByteArray, off, len)
  }

  def hashWindows(toks: ArrayData, k: Int): ArrayData = {
    val w = windows(toks, k)
    val out = new Array[Long](w.count)
    var i = 0
    while (i < out.length) { out(i) = w.xxhash64(i); i += 1 }
    new GenericArrayData(out)
  }
}

/** The MinHash shingle kernel: the distinct space-joined `k`-token windows
  * of a token array, in first-occurrence order, as two aligned arrays — `hs`,
  * each window's md5 base hash (its first 15 hex digits mod `p`), and
  * `keys`, its xxhash64 — the fused twin of the column chain
  *
  * {{{
  *   shingles = array_distinct(
  *     when(size(toks) < k, array(concat_ws(" ", toks)))
  *       .otherwise(transform(sequence(1, size(toks) - (k - 1)),
  *         i => concat_ws(" ", slice(toks, i, lit(k))))))
  *   hs   = transform(shingles, s => md5_prefix_long(s, 15) % p)
  *   keys = transform(shingles, s => xxhash64(s))
  * }}}
  *
  * whose lambdas run interpreted, per shingle, over a freshly built string.
  * Here the tokens are joined once per row ([[TokenWindowHashExpr.windows]],
  * the same window and null-element rule), every window is hashed in place,
  * and the windows are deduped by their bytes in an open-addressing table
  * keyed by that hash (equal hashes compare bytes, so a 64-bit collision
  * keeps both windows, as array_distinct over the strings does). md5 runs
  * once per distinct window. A null array is null.
  */
case class ShingleHashesExpr(child: Expression, k: Int, p: Long) extends UnaryExpression {
  require(k >= 1, s"window length must be positive, got $k")
  require(p > 0, s"modulus must be positive, got $p")

  override def prettyName: String = "shingle_hashes"

  override def dataType: DataType = ShingleHashesExpr.Type

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"shingle_hashes expects array<string> tokens, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    ShingleHashesExpr.shingleHashes(v.asInstanceOf[ArrayData], k, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.ShingleHashesExpr.shingleHashes($a, $k, ${p}L);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ShingleHashesExpr {
  val Type: StructType = StructType(Seq(
    StructField("hs", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("keys", ArrayType(LongType, containsNull = false), nullable = false)))

  def shingleHashes(toks: ArrayData, k: Int, p: Long): InternalRow = {
    val w = TokenWindowHashExpr.windows(toks, k)
    val m = w.count
    // keys(d) and first(d): the hash and first window of distinct window d;
    // slots hold d + 1 (0 = empty) and are probed linearly from the hash
    val keys = new Array[Long](m)
    val first = new Array[Int](m)
    val slots = new Array[Int](Integer.highestOneBit(m) << 2)
    val mask = slots.length - 1
    var d = 0
    var i = 0
    while (i < m) {
      val h = w.xxhash64(i)
      var s = h.toInt & mask
      var seen = false
      while (!seen && slots(s) != 0) {
        val j = slots(s) - 1
        if (keys(j) == h && w.sameBytes(first(j), i)) seen = true
        else s = (s + 1) & mask
      }
      if (!seen) { slots(s) = d + 1; keys(d) = h; first(d) = i; d += 1 }
      i += 1
    }
    val hs = new Array[Long](d)
    i = 0
    while (i < d) {
      val f = first(i)
      hs(i) = Md5PrefixLongExpr.prefixOf(w.buf, w.off(f), w.len(f), 15) % p
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(hs),
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(keys, d))))
  }
}
