package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math (SURVEY §2 D3, §7
  * "custom Expression only where a UDF is measurably hot"). A Scala UDF would
  * deserialize each ArrayData into a Scala Seq per row; these read the packed
  * float array in place inside whole-stage codegen — the hot loop of
  * brute-force similarity search at 100 TB.
  */
abstract class FloatVecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<float> args, got ${left.dataType} / ${right.dataType}"
      )
  }
}

/** dot(a, b) accumulated in double, index order (deterministic). */
case class DotProductExpr(left: Expression, right: Expression) extends FloatVecBinary {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  acc += (double)$a.getFloat($i) * (double)$b.getFloat($i);
         |}
         |${ev.value} = acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (|a| * |b|), one fused pass over both arrays. */
case class CosineSimilarityExpr(left: Expression, right: Expression) extends FloatVecBinary {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double)$a.getFloat($i);
         |  double y = (double)$b.getFloat($i);
         |  dot += x * y; na += x * x; nb += y * y;
         |}
         |${ev.value} = (na == 0.0 || nb == 0.0) ? 0.0 : dot / (Math.sqrt(na) * Math.sqrt(nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All SRP-LSH table signatures in ONE pass over the embedding: the plane
  * matrix (tables × bits × dim) is precomputed on the driver and shipped as a
  * codegen reference object, so signature computation is a single fused loop
  * instead of tables×bits interpreted zip_with/aggregate traversals each
  * re-hashing plane components per row. Returns array<long> of length
  * `tables`.
  */
case class SrpSignaturesExpr(
    child: Expression,
    planes: Array[Double], // layout: ((t * bits + p) * dim + j)
    bits: Int,
    tables: Int,
    dim: Int
) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "srp_signatures"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"srp_signatures expects array<float>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var p = 0
      while (p < bits) {
        val base = (t * bits + p) * dim
        var dot = 0.0
        var j = 0
        while (j < n) { dot += a.getFloat(j).toDouble * planes(base + j); j += 1 }
        if (dot > 0) sig |= (1L << p)
        p += 1
      }
      out(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t"); val p = ctx.freshName("p"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      s"""
         |int $n = Math.min($a.numElements(), $dim);
         |long[] $out = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long sig = 0L;
         |  for (int $p = 0; $p < $bits; $p++) {
         |    int base = ($t * $bits + $p) * $dim;
         |    double dot = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      dot += (double)$a.getFloat($j) * $planesRef[base + $j];
         |    }
         |    if (dot > 0) sig |= (1L << $p);
         |  }
         |  $out[$t] = sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Nearest-centroid assignment in ONE map-only pass: the k×dim centroid
  * matrix (collected on the driver — k centroids is exactly the data IVF
  * keeps driver-side) ships as a codegen reference object, and each row's
  * argmax-cosine cell id is computed inline. Replaces a
  * crossJoin(broadcast(centroids)) + row_number window — which shuffled the
  * N×k cross product once per Lloyd iteration — with zero exchanges.
  *
  * Cosine math is bit-identical to [[CosineSimilarityExpr]] (same
  * accumulation order, zero-norm → 0.0) and ties break to the lowest cell
  * id (strict `>` keeps the first maximum; `cids` is sorted ascending), so
  * assignments match the old window formulation exactly.
  */
case class NearestCentroidExpr(
    child: Expression,
    cids: Array[Int],       // sorted ascending; parallel to matrix rows
    matrix: Array[Double],  // layout: (row * dim + j), row i is centroid cids(i)
    dim: Int
) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "nearest_centroid"
  override def dataType: DataType = IntegerType

  // r18 (guide §1.2 step 2, per-task work): the argmax loop used to
  // recompute the ROW norm once per centroid and each CENTROID norm once
  // per row — 6 flops per (centroid, element) where the argmax needs 2.
  // Centroid norms are a pure function of `matrix`: precompute their square
  // roots once per expression (same ascending-j summation order as the old
  // in-loop accumulation, then the same Math.sqrt — bit-identical sims).
  // The fast path below fires when the row has exactly `dim` elements (the
  // only shape the trainers accept); ragged rows keep the original loop.
  @transient private lazy val sqrtNorms: Array[Double] =
    VectorFunctions.sqrtRowNorms(matrix, dim)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid expects array<float>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    var best = Double.NegativeInfinity
    // all-NaN sims (NaN embedding element) never beat -Inf: fall back to the
    // lowest cell id, matching the old window formulation (NaN ordered
    // greatest, ties to cid asc) instead of emitting a -1 sentinel that would
    // silently drop the row from every cell
    var bestCid = if (cids.nonEmpty) cids(0) else -1
    if (n == dim) {
      val va = new Array[Double](dim)
      var na = 0.0
      var j = 0
      while (j < dim) { val x = a.getFloat(j).toDouble; va(j) = x; na += x * x; j += 1 }
      val sqna = math.sqrt(na)
      var c = 0
      while (c < cids.length) {
        val base = c * dim
        var dot = 0.0
        var j2 = 0
        while (j2 < dim) { dot += va(j2) * matrix(base + j2); j2 += 1 }
        val sqnb = sqrtNorms(c)
        val sim = if (na == 0.0 || sqnb == 0.0) 0.0 else dot / (sqna * sqnb)
        if (sim > best) { best = sim; bestCid = cids(c) }
        c += 1
      }
    } else {
      var c = 0
      while (c < cids.length) {
        val base = c * dim
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < n) {
          val x = a.getFloat(j).toDouble; val y = matrix(base + j)
          dot += x * y; na += x * x; nb += y * y
          j += 1
        }
        val sim = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        if (sim > best) { best = sim; bestCid = cids(c) }
        c += 1
      }
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
    val matRef = ctx.addReferenceObj("matrix", matrix, "double[]")
    val normsRef = ctx.addReferenceObj("sqrtNorms", sqrtNorms, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val c = ctx.freshName("c"); val j = ctx.freshName("j")
      val best = ctx.freshName("best"); val bestCid = ctx.freshName("bestCid")
      val va = ctx.freshName("va")
      s"""
         |int $n = Math.min($a.numElements(), $dim);
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestCid = ${if (cids.nonEmpty) cidsRef + "[0]" else "-1"};
         |if ($n == $dim) {
         |  double[] $va = new double[$dim];
         |  double na = 0.0;
         |  for (int $j = 0; $j < $dim; $j++) {
         |    double x = (double)$a.getFloat($j);
         |    $va[$j] = x; na += x * x;
         |  }
         |  double sqna = Math.sqrt(na);
         |  for (int $c = 0; $c < $cidsRef.length; $c++) {
         |    int base = $c * $dim;
         |    double dot = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      dot += $va[$j] * $matRef[base + $j];
         |    }
         |    double sqnb = $normsRef[$c];
         |    double sim = (na == 0.0 || sqnb == 0.0) ? 0.0 : dot / (sqna * sqnb);
         |    if (sim > $best) { $best = sim; $bestCid = $cidsRef[$c]; }
         |  }
         |} else {
         |  for (int $c = 0; $c < $cidsRef.length; $c++) {
         |    int base = $c * $dim;
         |    double dot = 0.0, na = 0.0, nb = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      double x = (double)$a.getFloat($j);
         |      double y = $matRef[base + $j];
         |      dot += x * y; na += x * x; nb += y * y;
         |    }
         |    double sim = (na == 0.0 || nb == 0.0) ? 0.0 : dot / (Math.sqrt(na) * Math.sqrt(nb));
         |    if (sim > $best) { $best = sim; $bestCid = $cidsRef[$c]; }
         |  }
         |}
         |${ev.value} = $bestCid;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Top-`nprobe` nearest centroids (argmax cosine, ties to lower cid) as an
  * array<int> — the probe-side companion of [[NearestCentroidExpr]]: a query
  * row explodes into its `nprobe` cells with zero joins. Insertion sort over
  * the running top-n is O(k·nprobe) with k ≤ a few hundred centroids.
  */
case class TopCentroidsExpr(
    child: Expression,
    cids: Array[Int],
    matrix: Array[Double],
    dim: Int,
    nprobe: Int
) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "top_centroids"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // same row/centroid norm hoist as [[NearestCentroidExpr]] (r18) — see the
  // bit-identity argument there
  @transient private lazy val sqrtNorms: Array[Double] =
    VectorFunctions.sqrtRowNorms(matrix, dim)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_centroids expects array<float>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    val bs = new Array[Double](nprobe)
    val bc = new Array[Int](nprobe)
    var filled = 0
    val fast = n == dim
    val va = if (fast) new Array[Double](dim) else null
    var naRow = 0.0
    if (fast) {
      var j = 0
      while (j < dim) { val x = a.getFloat(j).toDouble; va(j) = x; naRow += x * x; j += 1 }
    }
    val sqnaRow = math.sqrt(naRow)
    var c = 0
    while (c < cids.length) {
      val base = c * dim
      var sim = 0.0
      if (fast) {
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += va(j) * matrix(base + j); j += 1 }
        val sqnb = sqrtNorms(c)
        sim = if (naRow == 0.0 || sqnb == 0.0) 0.0 else dot / (sqnaRow * sqnb)
      } else {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < n) {
          val x = a.getFloat(j).toDouble; val y = matrix(base + j)
          dot += x * y; na += x * x; nb += y * y
          j += 1
        }
        sim = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      var pos = filled
      while (pos > 0 && sim > bs(pos - 1)) pos -= 1
      if (pos < nprobe) {
        var m = math.min(filled, nprobe - 1)
        while (m > pos) { bs(m) = bs(m - 1); bc(m) = bc(m - 1); m -= 1 }
        bs(pos) = sim; bc(pos) = cids(c)
        if (filled < nprobe) filled += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(java.util.Arrays.copyOf(bc, filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
    val matRef = ctx.addReferenceObj("matrix", matrix, "double[]")
    val normsRef = ctx.addReferenceObj("sqrtNorms", sqrtNorms, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val c = ctx.freshName("c"); val j = ctx.freshName("j")
      val bs = ctx.freshName("bs"); val bc = ctx.freshName("bc")
      val filled = ctx.freshName("filled")
      val va = ctx.freshName("va"); val fast = ctx.freshName("fast")
      val naRow = ctx.freshName("naRow"); val sqnaRow = ctx.freshName("sqnaRow")
      s"""
         |int $n = Math.min($a.numElements(), $dim);
         |double[] $bs = new double[$nprobe];
         |int[] $bc = new int[$nprobe];
         |int $filled = 0;
         |boolean $fast = $n == $dim;
         |double[] $va = $fast ? new double[$dim] : null;
         |double $naRow = 0.0;
         |if ($fast) {
         |  for (int $j = 0; $j < $dim; $j++) {
         |    double x = (double)$a.getFloat($j);
         |    $va[$j] = x; $naRow += x * x;
         |  }
         |}
         |double $sqnaRow = Math.sqrt($naRow);
         |for (int $c = 0; $c < $cidsRef.length; $c++) {
         |  int base = $c * $dim;
         |  double sim;
         |  if ($fast) {
         |    double dot = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      dot += $va[$j] * $matRef[base + $j];
         |    }
         |    double sqnb = $normsRef[$c];
         |    sim = (($naRow == 0.0) || sqnb == 0.0) ? 0.0 : dot / ($sqnaRow * sqnb);
         |  } else {
         |    double dot = 0.0, na = 0.0, nb = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      double x = (double)$a.getFloat($j);
         |      double y = $matRef[base + $j];
         |      dot += x * y; na += x * x; nb += y * y;
         |    }
         |    sim = (na == 0.0 || nb == 0.0) ? 0.0 : dot / (Math.sqrt(na) * Math.sqrt(nb));
         |  }
         |  int pos = $filled;
         |  while (pos > 0 && sim > $bs[pos - 1]) pos--;
         |  if (pos < $nprobe) {
         |    for (int m = Math.min($filled, $nprobe - 1); m > pos; m--) {
         |      $bs[m] = $bs[m - 1]; $bc[m] = $bc[m - 1];
         |    }
         |    $bs[pos] = sim; $bc[pos] = $cidsRef[$c];
         |    if ($filled < $nprobe) $filled++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($bc, $filled));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All MinHash permutation minima in ONE pass over the base-hash array:
  * min_i over elements h of (a_i·h + b_i) mod p for every permutation i —
  * replacing numHashes separate `transform` + `array_min` traversals (each a
  * lambda-interpreted pass allocating an intermediate array) with a single
  * fused loop over (element × permutation). Bit-identical to the column
  * formulation: coefficients are in [0, p) and base hashes are non-negative,
  * so Java % equals Spark's Remainder here. Empty input yields null minima,
  * matching `array_min` of an empty array.
  */
/** Product-quantization encoder in ONE fused pass: assign every contiguous
  * `dsub`-dim sub-vector to its nearest sub-centroid (argmax cosine — the
  * same spherical assignment as [[NearestCentroidExpr]], bit-identical
  * accumulation order, zero-norm → 0.0, ties to the first row) and emit the
  * GLOBAL code index. `codebooks` is the flat concatenation of all subspace
  * centroid rows (`row g` = doubles `[g*dsub, (g+1)*dsub)`); `offsets(s)` is
  * the first row of subspace `s`, `offsets.last` the total row count K.
  * Returns array<int> of length `offsets.length - 1` (= mSub).
  *
  * A per-subspace [[NearestCentroidExpr]] over `slice()` would be mSub
  * separate expressions — past ~16 subspaces the generated method exceeds
  * the JVM's 64 KB limit and whole-stage codegen falls back to interpreted
  * (measured). This fused loop is O(K·dsub) per row in one small method.
  */
case class PqEncodeExpr(
    child: Expression,
    codebooks: Array[Double],
    offsets: Array[Int],
    dsub: Int
) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // same hoist as [[NearestCentroidExpr]] (r18): sub-centroid norms are a
  // pure function of `codebooks` — precomputed once (ascending-j order, then
  // Math.sqrt: bit-identical); the per-row subspace norm moves out of the
  // per-candidate loop. The length guard already pins rows to mSub·dsub, so
  // there is no ragged fallback path here.
  @transient private lazy val sqrtNorms: Array[Double] =
    VectorFunctions.sqrtRowNorms(codebooks, dsub)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode expects array<float>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val mSub = offsets.length - 1
    // UnsafeArrayData.getFloat is unchecked: a short embedding would silently
    // read garbage and emit wrong codes — fail like the codebook trainer does
    if (a.numElements() != mSub * dsub)
      throw new IllegalArgumentException(
        s"embedding length ${a.numElements()} != ${mSub * dsub}: ragged embeddings are not supported")
    val out = new Array[Int](mSub)
    val va = new Array[Double](dsub)
    var s = 0
    while (s < mSub) {
      val lo = offsets(s); val hi = offsets(s + 1)
      var na = 0.0
      var j0 = 0
      while (j0 < dsub) {
        val x = a.getFloat(s * dsub + j0).toDouble
        va(j0) = x; na += x * x
        j0 += 1
      }
      val sqna = math.sqrt(na)
      var best = Double.NegativeInfinity
      var bestG = lo
      var g = lo
      while (g < hi) {
        var dot = 0.0
        var j = 0
        while (j < dsub) { dot += va(j) * codebooks(g * dsub + j); j += 1 }
        val sqnb = sqrtNorms(g)
        val sim = if (na == 0.0 || sqnb == 0.0) 0.0 else dot / (sqna * sqnb)
        if (sim > best) { best = sim; bestG = g }
        g += 1
      }
      out(s) = bestG
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", codebooks, "double[]")
    val offRef = ctx.addReferenceObj("offsets", offsets, "int[]")
    val normsRef = ctx.addReferenceObj("sqrtNorms", sqrtNorms, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val s = ctx.freshName("s"); val g = ctx.freshName("g"); val j = ctx.freshName("j")
      val va = ctx.freshName("va")
      s"""
         |if ($a.numElements() != ($offRef.length - 1) * $dsub) {
         |  throw new IllegalArgumentException("embedding length " + $a.numElements() +
         |    " != " + (($offRef.length - 1) * $dsub) + ": ragged embeddings are not supported");
         |}
         |int[] $out = new int[$offRef.length - 1];
         |double[] $va = new double[$dsub];
         |for (int $s = 0; $s < $out.length; $s++) {
         |  int lo = $offRef[$s], hi = $offRef[$s + 1];
         |  double na = 0.0;
         |  for (int $j = 0; $j < $dsub; $j++) {
         |    double x = (double)$a.getFloat($s * $dsub + $j);
         |    $va[$j] = x; na += x * x;
         |  }
         |  double sqna = Math.sqrt(na);
         |  double best = Double.NEGATIVE_INFINITY;
         |  int bestG = lo;
         |  for (int $g = lo; $g < hi; $g++) {
         |    double dot = 0.0;
         |    for (int $j = 0; $j < $dsub; $j++) {
         |      dot += $va[$j] * $cbRef[$g * $dsub + $j];
         |    }
         |    double sqnb = $normsRef[$g];
         |    double sim = (na == 0.0 || sqnb == 0.0) ? 0.0 : dot / (sqna * sqnb);
         |    if (sim > best) { best = sim; bestG = $g; }
         |  }
         |  $out[$s] = bestG;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The ADC lookup table for one query vector, in ONE fused pass:
  * lut[g] = dot(query sub-vector of g's subspace, codebook row g), for every
  * global code row g < offsets.last. Same flat layout as [[PqEncodeExpr]].
  * Runs once per QUERY row and is broadcast against the corpus codes, so
  * candidate scoring is `mSub` array lookups per pair instead of `dim`
  * multiplies. Returns array<double> of length K.
  */
case class PqLutExpr(
    child: Expression,
    codebooks: Array[Double],
    offsets: Array[Int],
    dsub: Int
) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "pq_lut"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_lut expects array<float>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val mSub = offsets.length - 1
    if (a.numElements() != mSub * dsub)
      throw new IllegalArgumentException(
        s"embedding length ${a.numElements()} != ${mSub * dsub}: ragged embeddings are not supported")
    val out = new Array[Double](offsets(mSub))
    var s = 0
    while (s < mSub) {
      var g = offsets(s)
      while (g < offsets(s + 1)) {
        var dot = 0.0
        var j = 0
        while (j < dsub) {
          dot += a.getFloat(s * dsub + j).toDouble * codebooks(g * dsub + j)
          j += 1
        }
        out(g) = dot
        g += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", codebooks, "double[]")
    val offRef = ctx.addReferenceObj("offsets", offsets, "int[]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val s = ctx.freshName("s"); val g = ctx.freshName("g"); val j = ctx.freshName("j")
      val mSub = ctx.freshName("mSub")
      s"""
         |int $mSub = $offRef.length - 1;
         |if ($a.numElements() != $mSub * $dsub) {
         |  throw new IllegalArgumentException("embedding length " + $a.numElements() +
         |    " != " + ($mSub * $dsub) + ": ragged embeddings are not supported");
         |}
         |double[] $out = new double[$offRef[$mSub]];
         |for (int $s = 0; $s < $mSub; $s++) {
         |  for (int $g = $offRef[$s]; $g < $offRef[$s + 1]; $g++) {
         |    double dot = 0.0;
         |    for (int $j = 0; $j < $dsub; $j++) {
         |      dot += (double)$a.getFloat($s * $dsub + $j) * $cbRef[$g * $dsub + $j];
         |    }
         |    $out[$g] = dot;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHashSignaturesExpr(
    child: Expression,
    coefA: Array[Long],
    coefB: Array[Long]
) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(coefA.length == coefB.length, "coefficient arrays must align")
  override def prettyName: String = "minhash_signatures"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signatures expects array<long>, got $other")
    }

  private def k: Int = coefA.length

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](k))
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = a.getLong(j)
      var i = 0
      while (i < k) {
        val x = (coefA(i) * h + coefB(i)) % MinHashSignaturesExpr.P
        if (x < mins(i)) mins(i) = x
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("coefA", coefA, "long[]")
    val bRef = ctx.addReferenceObj("coefB", coefB, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$k]);
         |} else {
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $j = 0; $j < $n; $j++) {
         |    long h = $a.getLong($j);
         |    for (int $i = 0; $i < $k; $i++) {
         |      long x = ($aRef[$i] * h + $bRef[$i]) % ${MinHashSignaturesExpr.P}L;
         |      if (x < $mins[$i]) $mins[$i] = x;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashSignaturesExpr {
  /** The modulus 2^31 - 1 of every permutation, a literal in both the
    * interpreted and the generated loop, so the JIT turns the division
    * into a multiply.
    */
  final val P = 2147483647L
}

object VectorFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** sqrt of each `rowLen`-wide row's squared norm of a flat matrix, summed
    * in ascending-j order — EXACTLY the accumulation the per-row loops used
    * to run inline, so hoisting it is bit-identical (r18).
    */
  private[functions] def sqrtRowNorms(flat: Array[Double], rowLen: Int): Array[Double] = {
    val rows = flat.length / rowLen
    val out = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      var nb = 0.0
      var j = 0
      while (j < rowLen) { val y = flat(r * rowLen + j); nb += y * y; j += 1 }
      out(r) = math.sqrt(nb)
      r += 1
    }
    out
  }

  /** Column API: dot product of two array<float> columns. */
  def vec_dot(a: Column, b: Column): Column =
    column(DotProductExpr(expression(a), expression(b)))

  /** Column API: cosine similarity of two array<float> columns. */
  def vec_cosine(a: Column, b: Column): Column =
    column(CosineSimilarityExpr(expression(a), expression(b)))

  /** Column API: argmax-cosine cell id against a driver-side centroid matrix. */
  def nearest_centroid(emb: Column, cids: Array[Int], matrix: Array[Double], dim: Int): Column =
    column(NearestCentroidExpr(expression(emb), cids, matrix, dim))

  /** Column API: the `nprobe` closest cell ids, similarity-descending. */
  def top_centroids(emb: Column, cids: Array[Int], matrix: Array[Double], dim: Int, nprobe: Int): Column =
    column(TopCentroidsExpr(expression(emb), cids, matrix, dim, nprobe))

  /** Column API: PQ global code array for an embedding. */
  def pq_encode(emb: Column, codebooks: Array[Double], offsets: Array[Int], dsub: Int): Column =
    column(PqEncodeExpr(expression(emb), codebooks, offsets, dsub))

  /** Column API: per-query ADC lookup table (array<double> of K rows). */
  def pq_lut(emb: Column, codebooks: Array[Double], offsets: Array[Int], dsub: Int): Column =
    column(PqLutExpr(expression(emb), codebooks, offsets, dsub))

  /** SQL registration: SELECT vec_cosine(a.embedding, b.embedding) ... */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => DotProductExpr(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_cosine", exprs => CosineSimilarityExpr(exprs.head, exprs(1)), "built-in")
  }
}
