package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Map-side island discovery for exact-substring span dedup
  * ([[graft.ops.Spans]]).
  *
  * Input: the per-document array of k-span hashes (`ws(i)` = hash of the
  * k-token window starting at position i+1). With the global hot-span key
  * set (spans seen in ≥ 2 distinct documents) broadcast as a sorted long
  * array, the duplicated start positions AND their interval union (islands)
  * are computable entirely inside the row — a 300-token verbatim quote
  * leaves this expression as ONE (s, e) run, not 300−k+1 start positions
  * riding a per-doc window exchange. This replaces the explode → broadcast
  * semi join → window(partitionBy doc) pipeline of the fixed-k path with
  * zero post-aggregation shuffle: the only exchanges left in the whole op
  * are the two hot-key aggregates.
  *
  * Island rule (identical to [[graft.ops.Spans.removeDupSpans]]): a
  * duplicated start p opens interval [p, p+k−1] (unclipped; the doc-end
  * clip happens downstream where n_tokens is in hand); a new island begins
  * when the next duplicated start leaves ≥ 1 uncovered token, i.e.
  * start > prevMaxStart + k.
  *
  * The hot set rides a Spark BROADCAST (not a closure/reference literal):
  * the generated code re-reads `bc.value()` so the task binary carries only
  * the broadcast handle, and every task on an executor shares one array.
  */
/** Semantically-identity optimizer fence: `deterministic = false` stops
  * predicate pushdown from substituting the fenced alias into a pushed
  * Filter (PushPredicateThroughNonJoin requires an all-deterministic
  * project list) and stops CollapseProject from inlining it. Spark's
  * pushdown substitutes aliases with NO cost model — pushing
  * `size(ivs) > 0` below the projection that materializes the kExt
  * hash-array column inlined the whole O(n) array expression into each
  * `element_at` probe of the composed seed hash, turning a linear scan
  * into O(n²) per document (measured: 10× the single-k wall at 100×
  * stress, vs the intended ~2.5×). Fencing the `ivs` alias keeps the
  * filter above the projection, so every expensive array is computed
  * exactly once per row. Evaluation and codegen delegate to the child —
  * values, nulls, and types are untouched.
  */
case class PushdownFence(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SpanRunsExpr(
    child: Expression,
    hotBc: Broadcast[Array[Long]],
    k: Int
) extends UnaryExpression {
  override def prettyName: String = "span_runs"

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("s", LongType, nullable = false),
      StructField("e", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"span_runs expects array<long> span hashes, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    SpanRunsExpr.findRuns(v.asInstanceOf[ArrayData], hotBc, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one static call keeps whole-stage codegen alive; the loop lives in a
    // plain JVM method (same shape the JIT compiles either way)
    val bcRef = ctx.addReferenceObj("hotBc", hotBc, classOf[Broadcast[Array[Long]]].getName)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.SpanRunsExpr.findRuns(
         |  $a, (org.apache.spark.broadcast.Broadcast) $bcRef, $k);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SpanRunsExpr {

  /** Open-addressing (linear probe) long hash set. At stress scale the hot
    * set reaches ~8M keys and the probe runs once per CORPUS POSITION:
    * binary search costs ~23 dependent cache misses per probe (measured:
    * 2.8× the whole op's wall time); one xor-shift hash + a short linear
    * probe is ~1 miss. Load factor ≤ 0.5; 0 is stored out-of-band.
    */
  final class LongSet(keys: Array[Long]) {
    private val cap = java.lang.Integer.highestOneBit(
      math.max(4, keys.length * 2 - 1)) << 1
    private val mask = cap - 1
    private val slots = new Array[Long](cap) // 0 = empty
    /** Dominant allocation of this table: the slot array. */
    def sizeBytes: Long = cap.toLong * 8L
    private var hasZero = false
    locally {
      var i = 0
      while (i < keys.length) {
        val w = keys(i)
        if (w == 0L) hasZero = true
        else {
          var p = idx(w)
          while (slots(p) != 0L && slots(p) != w) p = (p + 1) & mask
          slots(p) = w
        }
        i += 1
      }
    }
    @inline private def idx(w: Long): Int = {
      // finalizer from splitmix64: full avalanche so xxhash64 keys spread
      var z = w
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) & mask).toInt
    }
    /** A key the set does not hold: the stand-in for a null window, which
      * never matches.
      */
    lazy val absent: Long = {
      var w = Long.MinValue
      while (contains(w)) w += 1
      w
    }
    def contains(w: Long): Boolean =
      if (w == 0L) hasZero
      else {
        var p = idx(w)
        while (true) {
          val v = slots(p)
          if (v == w) return true
          if (v == 0L) return false
          p = (p + 1) & mask
        }
        false
      }
  }

  /** Executor-side memoized hash sets, one per broadcast id: the broadcast
    * ships the compact sorted array; each executor builds the probe table
    * once. Bounded by ESTIMATED BYTES, not entry count: one table at the
    * 12M-key hot-set cap allocates a ~256 MB slot array, so a count bound
    * of 8 could pin >2 GB per executor. The slot array is the dominant
    * allocation (cap longs = 16 bytes/key at load 0.5), so `sizeBytes`
    * tracks it exactly; the whole cache is cleared when a new entry would
    * push the total past the budget — rebuild-on-miss is cheap (one linear
    * insert pass over the broadcast array) relative to an executor OOM.
    */
  private val setCache = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, LongSet]()
  private val setCacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val SetCacheBudgetBytes = 512L << 20

  private def setFor(bc: Broadcast[Array[Long]]): LongSet = {
    val cached = setCache.get(bc.id)
    if (cached != null) return cached
    val fresh = new LongSet(bc.value)
    if (setCacheBytes.get() + fresh.sizeBytes > SetCacheBudgetBytes) {
      setCache.clear()
      setCacheBytes.set(0L)
    }
    val prev = setCache.putIfAbsent(bc.id, fresh)
    if (prev != null) prev
    else { setCacheBytes.addAndGet(fresh.sizeBytes); fresh }
  }

  /** Merged islands of duplicated starts: array of struct(s, e) rows.
    * Null entries are positions excluded up front (anchor sampling) — never
    * members, but they keep the index↔position alignment.
    */
  def findRuns(ws: ArrayData, hotBc: Broadcast[Array[Long]], k: Int): ArrayData = {
    val hot = setFor(hotBc)
    val n = ws.numElements()
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = if (ws.isNullAt(i)) hot.absent else ws.getLong(i); i += 1 }
    val buf = new java.util.ArrayList[InternalRow](1)
    islands(a, 0, n, hot, k)((s, e) => buf.add(InternalRow(s, e)))
    new GenericArrayData(buf.toArray)
  }

  /** The island rule, over the window hashes `ws(from until until)` (the
    * window at index i starts at position i − from + 1): every hot start p
    * opens the interval [p, p+k−1], and a new island begins when a hot
    * start leaves ≥ 1 uncovered token, i.e. p > prevMaxStart + k. Calls
    * `run(s, e)` per island, in position order, with its UNCLIPPED end
    * e = last start + k − 1 (the doc-end clip is the caller's, where
    * n_tokens is in hand). [[SpanRunsExpr]] and the driver path of
    * [[graft.ops.Spans.dupSpanCoverage]] both call it.
    */
  def islands(ws: Array[Long], from: Int, until: Int, hot: LongSet, k: Int)(run: (Long, Long) => Unit): Unit = {
    var runS = -1L
    var runMaxStart = -1L
    var i = from
    while (i < until) {
      if (hot.contains(ws(i))) {
        val p = i - from + 1L
        if (runS < 0) runS = p
        else if (p > runMaxStart + k) { run(runS, runMaxStart + (k - 1)); runS = p } // gap: close the island
        runMaxStart = p
      }
      i += 1
    }
    if (runS >= 0) run(runS, runMaxStart + (k - 1))
  }
}
