package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** First `nHex` hex digits of md5(input) as an unsigned long — the fused
  * twin of `conv(substring(md5(x), 1, nHex), 16, 10).cast(LongType)`, which
  * is the repo's md5-derived hash idiom (oracle-replayable bucketing /
  * MinHash base hashes / SimHash bit source / span anchor selection).
  *
  * Value identity with the column formulation: Spark's `md5` emits lowercase
  * hex, so hex digit j (1-based) is nibble j of the digest big-endian —
  * digits 1..nHex are the first ⌊nHex/2⌋ bytes plus, for odd nHex, the high
  * nibble of the next byte; `conv(_, 16, 10)` then reads them as one
  * unsigned base-16 number. `prefixOf` assembles exactly those nibbles into
  * a long (nHex ≤ 15 keeps it under 2⁶⁰, so signed/unsigned never diverge).
  * Asserted bit-for-bit against the column formulation in HashExprSpec.
  *
  * Why it exists (guide §"per-task work"): the column chain materializes a
  * 32-char hex UTF8String per call, substrings it, and re-parses it through
  * `conv`'s base-conversion loop — per FEATURE in the DSIR bucketing hot
  * loop and per SHINGLE in the MinHash signature pass, the two biggest
  * md5 consumers (measured: see OPTIMIZATION_r17.md). This expression runs
  * one thread-local digest and returns the long directly; whole-stage
  * codegen calls the static helper, same shape as [[SpanRunsExpr]].
  */
case class Md5PrefixLongExpr(child: Expression, nHex: Int) extends UnaryExpression {
  require(nHex >= 1 && nHex <= 15, s"nHex must be in [1, 15], got $nHex")

  override def prettyName: String = "md5_prefix_long"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"md5_prefix_long expects binary input (cast strings first), got $other")
  }

  override def nullSafeEval(v: Any): Any =
    Md5PrefixLongExpr.prefixOf(v.asInstanceOf[Array[Byte]], nHex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.Md5PrefixLongExpr.prefixOf($a, $nHex);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Md5PrefixLongExpr {
  // MessageDigest is stateful; one per thread amortizes getInstance() and
  // avoids the per-call allocation inside commons-codec's DigestUtils
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def prefixOf(bytes: Array[Byte], nHex: Int): Long = prefixOf(bytes, 0, bytes.length, nHex)

  /** [[prefixOf]] of `bytes(off until off + len)`. */
  def prefixOf(bytes: Array[Byte], off: Int, len: Int, nHex: Int): Long = {
    val d = md.get()
    d.reset()
    d.update(bytes, off, len)
    val dig = d.digest()
    val full = nHex >> 1
    var v = 0L
    var i = 0
    while (i < full) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    if ((nHex & 1) == 1) v = (v << 4) | ((dig(full) & 0xf0L) >>> 4)
    v
  }
}
