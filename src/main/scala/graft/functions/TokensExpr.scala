package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokens of a string, read off its UTF-8 bytes: the byte-level
  * twin of `split(trim(s), "\\s+")`, bit-identical to it (asserted in
  * HashExprSpec), without the `String` round trip and the regex per row.
  *
  *  - `trim` removes only the space byte 0x20 from both ends;
  *  - tokens are split on runs of the six ASCII bytes Java's `\s` matches
  *    (space, tab, LF, VT, FF, CR); no byte of a multi-byte UTF-8 sequence
  *    is one of them, so U+00A0, U+2003 and U+0085 stay inside tokens;
  *  - a run at the start or end leaves an empty first or last token, as
  *    Java's `split(regex, -1)` does, and an empty trimmed string is `[""]`.
  *
  * A string that is not valid UTF-8 takes Spark's own path, whose decoding
  * replaces malformed bytes. A null string is null.
  */
case class TokensExpr(child: Expression) extends UnaryExpression {

  override def prettyName: String = "tokens"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other      => TypeCheckResult.TypeCheckFailure(s"tokens expects a string, got $other")
  }

  override def nullSafeEval(v: Any): Any = TokensExpr.tokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.TokensExpr.tokens($s);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Whether a string holds a byte other than the six ASCII `\s` bytes: the
  * byte-level twin of `rlike(s, "\\S")`, read in place with no decoding.
  * Every other byte, malformed UTF-8 included, decodes to a character
  * `\S` matches. A null string is null.
  */
case class NonBlankExpr(child: Expression) extends UnaryExpression {

  override def prettyName: String = "non_blank"

  override def dataType: DataType = BooleanType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other      => TypeCheckResult.TypeCheckFailure(s"non_blank expects a string, got $other")
  }

  override def nullSafeEval(v: Any): Any = TokensExpr.nonBlank(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.TokensExpr.nonBlank($s);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokensExpr {
  private val Whitespace = UTF8String.fromString("\\s+")

  /** The bytes Java's `\s` matches: ' ', '\t', '\n', 0x0B, '\f', '\r'. */
  @inline private def space(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  def nonBlank(s: UTF8String): Boolean = {
    val (base, off) = (s.getBaseObject, s.getBaseOffset)
    var i = 0
    while (i < s.numBytes && space(Platform.getByte(base, off + i))) i += 1
    i < s.numBytes
  }

  def tokens(s: UTF8String): ArrayData = {
    // one copy of the string's bytes (its own buffer may be a reader's,
    // reused for the next row); every token is a view into the copy
    val bytes = new Array[Byte](s.numBytes)
    s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    var from = 0
    var to = bytes.length
    var high = false
    while (from < to && bytes(from) == ' ') from += 1
    while (to > from && bytes(to - 1) == ' ') to -= 1
    // the number of tokens: one more than the whitespace runs
    var n = 1
    var i = from
    while (i < to) {
      val b = bytes(i)
      if (space(b)) {
        n += 1
        i += 1
        while (i < to && space(bytes(i))) i += 1
      } else {
        if (b < 0) high = true
        i += 1
      }
    }
    if (high && !s.isValid) return legacy(s)
    val out = new Array[Any](n)
    var t = 0
    var start = from
    i = from
    while (i < to) {
      if (space(bytes(i))) {
        out(t) = UTF8String.fromBytes(bytes, start, i - start)
        t += 1
        i += 1
        while (i < to && space(bytes(i))) i += 1
        start = i
      } else i += 1
    }
    out(t) = UTF8String.fromBytes(bytes, start, to - start)
    new GenericArrayData(out)
  }

  /** `split(trim(s), "\\s+")` as Spark evaluates it. */
  private[graft] def legacy(s: UTF8String): ArrayData =
    new GenericArrayData(s.trim().split(Whitespace, -1).asInstanceOf[Array[Any]])
}
