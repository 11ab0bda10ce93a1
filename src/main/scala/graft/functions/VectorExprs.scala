package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DecimalType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression for the dense-vector dot product.
  *
  * Spark's built-in route for `Σ a[i]·b[i]` is
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` — two higher-order
  * functions, both `CodegenFallback`: they break the surrounding
  * whole-stage-codegen span and evaluate one boxed lambda call per
  * element. Profiled on the ANN verify path (round 3), that
  * interpreted inner loop — ~3 dots × 64 dims per candidate pair —
  * was the whole bottleneck: the stage ran 80–140 s where the join
  * around it took 4 s. This expression generates the obvious tight
  * Java loop instead (`doGenCode`), keeps the enclosing codegen span
  * intact, allocates nothing per row, and is used by every
  * similarity/ANN operator ([[graft.llm.Similarity]]).
  *
  * Null semantics: null array → null result (null-intolerant, like
  * arithmetic); null ELEMENTS contribute 0 (treat-as-missing), so a
  * sparse/padded vector cannot poison the sum. Lengths may differ —
  * the loop runs over the common prefix (shorter vector ⇒ implicit
  * zero-padding); length validation belongs to the caller's schema.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // declared as Seq[DataType] (public) — AbstractDataType is
  // private[sql]; covariance makes the override conform
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Exact decimal dot product: `Σ a[i]·b[i]` over `array<decimal(18,9)>`
  * with NO precision loss anywhere — each product carries exactly 18
  * fractional digits and the sum accumulates the 128-bit unscaled
  * value (hi/lo long pair, `Math.multiplyHigh`), converted to
  * decimal(38,18) once per row. Bit-identical to the SQL oracle's
  * `SUM(CAST(a AS DECIMAL(18,9)) * CAST(b AS DECIMAL(18,9)))` under
  * any partitioning (integer arithmetic is associative), and ~2
  * orders of magnitude faster than the `aggregate(zip_with(...))`
  * higher-order-function fold, which is interpreted per element and
  * repeatedly rescales through Spark's decimal widening rules.
  *
  * Range: |unscaled sum| < 2^127 requires Σ|a[i]·b[i]| < 1.7e20 —
  * holds for any realistic vector (coordinates O(1) ⇒ products ≤
  * ~1e18 unscaled, safe up to ~100 max-magnitude dims and far beyond
  * for unit-scale data). Null elements contribute 0.
  */
case class ArrayDecimalDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DecimalType(18, 9)), ArrayType(DecimalType(18, 9)))
  override def dataType: DataType = DecimalType(38, 18)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_decimal_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var hi = 0L; var lo = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val la = x.getDecimal(i, 18, 9).toUnscaledLong
        val lb = y.getDecimal(i, 18, 9).toUnscaledLong
        val pLo = la * lb
        val pHi = Math.multiplyHigh(la, lb)
        val s = lo + pLo
        // unsigned carry out of the low word
        val carry = ((lo & pLo) | ((lo | pLo) & ~s)) >>> 63
        hi += pHi + carry
        lo = s
      }
      i += 1
    }
    ArrayDecimalDotProduct.toDecimal(hi, lo)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val hi = ctx.freshName("hi"); val lo = ctx.freshName("lo")
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      val pHi = ctx.freshName("pHi"); val pLo = ctx.freshName("pLo")
      val s = ctx.freshName("s"); val carry = ctx.freshName("carry")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $hi = 0L; long $lo = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    long $la = $a.getDecimal($i, 18, 9).toUnscaledLong();
         |    long $lb = $b.getDecimal($i, 18, 9).toUnscaledLong();
         |    long $pLo = $la * $lb;
         |    long $pHi = java.lang.Math.multiplyHigh($la, $lb);
         |    long $s = $lo + $pLo;
         |    long $carry = (($lo & $pLo) | (($lo | $pLo) & ~$s)) >>> 63;
         |    $hi += $pHi + $carry;
         |    $lo = $s;
         |  }
         |}
         |${ev.value} = graft.functions.ArrayDecimalDotProduct.toDecimal($hi, $lo);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDecimalDotProduct =
    copy(left = newLeft, right = newRight)
}

object ArrayDecimalDotProduct {
  private val LongMask = java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)

  /** (hi, lo) two's-complement 128-bit unscaled value → decimal(38,18). */
  def toDecimal(hi: Long, lo: Long): org.apache.spark.sql.types.Decimal = {
    val unscaled = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(java.math.BigInteger.valueOf(lo).and(LongMask))
    org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(unscaled, 18), 38, 18)
  }
}

/** Argmax-dot against a FIXED centroid matrix embedded in the
  * expression — the IVF coarse-assignment step as one narrow,
  * codegen'd map: `result = argmax_c ⟨vec, m[c]⟩` with ties broken to
  * the smallest index (identical to the previous
  * `max_by(_c1, struct(_dot, -_c1))` over a crossJoin).
  *
  * Why an expression and not a join: the broadcast-nested-loop shape
  * materialized n×cells rows, each copying BOTH dim-length arrays into
  * the join output before the per-row dot — measured ~20 s CPU and
  * GC-bound at 2 000×179×512 on the round-7 profile, for what is
  * arithmetically ~0.2 s of multiplies. The matrix here is the
  * level-1 centroid table — the quantizer structure that is BY DESIGN
  * driver/broadcast-bounded (√cells × dims; see
  * [[graft.llm.Similarity.embedIvfTopK]]) — so embedding it as a
  * reference object is the same memory contract as broadcasting it,
  * minus the row explosion, the shuffle and the barrier.
  *
  * Null vector → null; null ELEMENTS contribute 0 (same treat-as-
  * missing contract as [[ArrayDotProduct]]). Empty matrix → -1.
  */
case class ArgmaxMatrixDot(child: Expression, matrix: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "argmax_matrix_dot"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var best = -1
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < matrix.length) {
      val row = matrix(c)
      val n = math.min(row.length, v.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) s += row(i) * v.getDouble(i)
        i += 1
      }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("mat", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val row = ctx.freshName("row")
      val best = ctx.freshName("best"); val bestDot = ctx.freshName("bestDot")
      s"""
         |int $best = -1;
         |double $bestDot = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $mat.length; $c++) {
         |  double[] $row = $mat[$c];
         |  int $n = java.lang.Math.min($row.length, $v.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$v.isNullAt($i)) $s += $row[$i] * $v.getDouble($i);
         |  }
         |  if ($s > $bestDot) { $bestDot = $s; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ArgmaxMatrixDot =
    copy(child = newChild)
}

/** Top-k rows of a FIXED matrix by dot product with the input vector,
  * returned as their indices in descending-dot order (ties → smaller
  * index first — matching a `_dot DESC, _c1 ASC` rank). The IVF
  * probe-selection step as one narrow codegen'd map; same rationale
  * and memory contract as [[ArgmaxMatrixDot]]. k is clamped to the
  * matrix size. O(cells·dims + cells·k) per row with k ≤ ~8.
  */
case class TopKMatrixDot(child: Expression, matrix: Array[Array[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "topk_matrix_dot"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TopKMatrixDot.topK(v, matrix, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("mat", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TopKMatrixDot.topK($v, $mat, $k));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): TopKMatrixDot =
    copy(child = newChild)
}

object TopKMatrixDot {
  /** Selection of the k best matrix rows by dot with `v`: repeated
    * strict-max scan over unpicked rows (k is tiny), ties to the
    * smallest index.
    */
  def topK(v: ArrayData, matrix: Array[Array[Double]], k: Int): Array[Int] = {
    val cells = matrix.length
    val dots = new Array[Double](cells)
    var c = 0
    while (c < cells) {
      val row = matrix(c)
      val n = math.min(row.length, v.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) s += row(i) * v.getDouble(i)
        i += 1
      }
      dots(c) = s
      c += 1
    }
    val kk = math.min(k, cells)
    val out = new Array[Int](kk)
    val used = new Array[Boolean](cells)
    var j = 0
    while (j < kk) {
      var best = -1
      var bestDot = Double.NegativeInfinity
      var c2 = 0
      while (c2 < cells) {
        if (!used(c2) && dots(c2) > bestDot) { bestDot = dots(c2); best = c2 }
        c2 += 1
      }
      used(best) = true
      out(j) = best
      j += 1
    }
    out
  }
}

/** All LSH sign-bucket codes for one vector in one pass: for each of
  * the `planes.length` tables, bucket = packed sign bits of the
  * vector's dots with that table's hyperplanes. Returns
  * array<long>(numTables), position = table id.
  *
  * Same design contract as [[ArgmaxMatrixDot]]: the plane tensor
  * (tables × bits × dims, e.g. 6×20×dims ≈ a few hundred KB) is the
  * structure the old code already broadcast as a table; embedding it
  * in the expression removes the n×(tables·bits) crossJoin row
  * explosion AND the groupBy(id, table) bit-assembly shuffle — banding
  * becomes one narrow codegen'd map. Per-copy independence also
  * sidesteps the duplicate-id bit-merge hazard entirely (each row is
  * banded on its own vector; nothing is summed across rows).
  */
case class SignBandsMatrix(child: Expression, planes: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_bands"

  override def nullSafeEval(a: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      SignBandsMatrix.bands(a.asInstanceOf[ArrayData], planes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("planes", planes, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.SignBandsMatrix.bands($v, $mat));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBandsMatrix =
    copy(child = newChild)
}

object SignBandsMatrix {
  /** bucket[t] = Σ_j (⟨v, planes[t][j]⟩ > 0 ? 1L<<j : 0); null
    * elements contribute 0 to the dot (treat-as-missing, as in
    * [[ArrayDotProduct]]).
    */
  def bands(v: ArrayData, planes: Array[Array[Array[Double]]]): Array[Long] = {
    val out = new Array[Long](planes.length)
    var t = 0
    while (t < planes.length) {
      val table = planes(t)
      var bucket = 0L
      var j = 0
      while (j < table.length) {
        val p = table(j)
        val n = math.min(p.length, v.numElements())
        var s = 0.0
        var i = 0
        while (i < n) {
          if (!v.isNullAt(i)) s += p(i) * v.getDouble(i)
          i += 1
        }
        if (s > 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }
}

/** Codegen'd mixed-precision dot product `Σ a[i]·q[i]` of a double
  * vector against an int8-quantized vector (`array<tinyint>`), the
  * serve-time rescoring core of a quantized IVF index: the stored
  * corpus vector stays int8 (4× smaller lists, 4× less scan
  * bandwidth) and the score is reconstructed in double as
  * `dot · scale / 127` WITHOUT materializing a dequantized array per
  * pair — the `transform(q, x -> x*scale/127)` route would be an
  * interpreted HOF allocating a fresh array per candidate.
  *
  * Null semantics match [[ArrayDotProduct]]: null array → null, null
  * elements contribute 0, common-prefix length.
  */
case class ArrayInt8DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_int8_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getByte(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getDouble($i) * $b.getByte($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayInt8DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd signature-agreement count: the number of positions where
  * two `array<bigint>` MinHash signatures hold the same value — the
  * estimator core of `est_jaccard = agree / numHashes`. The built-in
  * route, `aggregate(zip_with(a, b, (x,y) -> if(x=y,1,0)), 0, _+_)`,
  * is two CodegenFallback higher-order functions (one boxed lambda
  * call per signature position, whole-stage span broken) — the exact
  * interpreted-fold pattern [[ArrayDotProduct]] was built to replace
  * for dot products, here for the dedup verify path
  * ([[graft.llm.Dedup.minHashNearDup]] / `incrementalNearDup`).
  *
  * Null semantics match the HOF form for non-null elements; a null
  * at either position contributes 0 (`x === y` is null → otherwise 0
  * there, skipped here). Lengths may differ — the loop runs over the
  * common prefix; the dedup callers always pass equal-width
  * signatures.
  */
case class ArrayAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_agree"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)
         |      && $a.getLong($i) == $b.getLong($i)) {
         |    $c++;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayAgreeCount =
    copy(left = newLeft, right = newRight)
}

/** Per-row level-2 assignment against DRIVER-HELD per-cell child
  * matrices: `cells(c1)` is the (child × dims) centroid matrix of
  * level-1 cell `c1`, and the result is the argmax child by dot with
  * the input vector (ties → smaller child id, identical to the join
  * path's `max_by(struct(_dot, -_c2))`). −1 for a cell with no
  * children (cannot arise for a vector's OWN cell — it seeded one).
  *
  * Design contract (the hierarchy's [[ArgmaxMatrixDot]]): the round-7
  * rewrite made level-1 assignment a narrow expression but left
  * level-2 as a salted equi-join + shuffle aggregation, so every
  * training round and probe materialized |vectors|·l2n scored rows —
  * the sf10 profile measured that beam at 80M checkpointed rows and
  * ~500 s of aggregation CPU for q125. When the FULL level-2 table
  * fits the same driver/broadcast budget as a centroid matrix
  * (cells·dims doubles — `graft.ivf.maxDriverCellVecs`, default 8M ≈
  * 64 MB), shipping it inside the expression makes assignment
  * one narrow codegen'd map again. Beyond the budget the join path
  * remains (see [[graft.llm.Similarity]]) — identical results.
  */
case class GroupedArgmaxDot(vec: Expression, group: Expression,
                            cells: Array[Array[Array[Double]]])
    extends BinaryExpression with ImplicitCastInputTypes {

  override def left: Expression = vec
  override def right: Expression = group
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "grouped_argmax_dot"

  override def nullSafeEval(a: Any, g: Any): Any =
    GroupedArgmaxDot.argmax(a.asInstanceOf[ArrayData],
      g.asInstanceOf[Int], cells)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("cells", cells, "double[][][]")
    nullSafeCodeGen(ctx, ev, (v, g) =>
      s"${ev.value} = graft.functions.GroupedArgmaxDot.argmax($v, $g, $cs);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GroupedArgmaxDot =
    copy(vec = newLeft, group = newRight)
}

object GroupedArgmaxDot {
  def argmax(v: ArrayData, c1: Int,
             cells: Array[Array[Array[Double]]]): Int = {
    if (c1 < 0 || c1 >= cells.length) return -1
    val m = cells(c1)
    var best = -1
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < m.length) {
      val row = m(c)
      val n = math.min(row.length, v.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) s += row(i) * v.getDouble(i)
        i += 1
      }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }
}

/** The COMPLETE hierarchical IVF probe for one query vector as a
  * single narrow expression: level-1 beam (top-`pL1` cells by center
  * dot), level-2 scoring against the driver-held child matrices,
  * global top-`nProbe` (c1, c2) cells by (dot desc, (c1, c2) asc) —
  * bit-identical to the join path's `TopKAgg.perGroup` over
  * `cid = c1·l2n + c2` — UNIONED with the argmax child within each
  * beamed level-1 cell (the probe-your-own-home-cell guarantee; ties →
  * smaller c2, identical to `max_by(struct(_dot, -_c2))`), deduped,
  * emitted sorted by (c1, c2). Output:
  * `array<struct<_c1:int,_c2:int>>`, ≤ pL1 + nProbe entries.
  *
  * Replaces, per query: the |q|·pL1-row probe shuffle, the
  * |q|·pL1·l2n-row scored-beam checkpoint, both beam aggregations and
  * the union-distinct — the sf10 profile's ~115 s / 500 CPU-s of
  * probe cost for q125 — with one codegen'd map over the query frame.
  * Same driver budget and fallback contract as [[GroupedArgmaxDot]].
  */
case class HierProbeCells(child: Expression, l1m: Array[Array[Double]],
                          cells: Array[Array[Array[Double]]],
                          pL1: Int, nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(
    new org.apache.spark.sql.types.StructType()
      .add("_c1", IntegerType, nullable = false)
      .add("_c2", IntegerType, nullable = false),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hier_probe_cells"

  override def nullSafeEval(a: Any): Any =
    HierProbeCells.probe(a.asInstanceOf[ArrayData], l1m, cells, pL1, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m1 = ctx.addReferenceObj("l1m", l1m, "double[][]")
    val cs = ctx.addReferenceObj("cells", cells, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.functions.HierProbeCells.probe(
         |  $v, $m1, $cs, $pL1, $nProbe);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): HierProbeCells =
    copy(child = newChild)
}

object HierProbeCells {
  def probe(v: ArrayData, l1m: Array[Array[Double]],
            cells: Array[Array[Array[Double]]],
            pL1: Int, nProbe: Int): ArrayData = {
    val beam = TopKMatrixDot.topK(v, l1m, pL1)
    // per beamed c1: local top-min(nProbe, children) by (dot desc, c2
    // asc). Any global top-nProbe member is inside its own cell's local
    // top-nProbe, so the locals are a sufficient global candidate set.
    val maxLoc = beam.length * nProbe
    val candC1 = new Array[Int](maxLoc)
    val candC2 = new Array[Int](maxLoc)
    val candDot = new Array[Double](maxLoc)
    var nCand = 0
    // the argmax child of each beamed c1 (= its local top-1)
    val hierC1 = new Array[Int](beam.length)
    val hierC2 = new Array[Int](beam.length)
    var nHier = 0
    var b = 0
    while (b < beam.length) {
      val c1 = beam(b)
      val m = cells(c1)
      if (m.length > 0) {
        val dots = new Array[Double](m.length)
        var c = 0
        while (c < m.length) {
          val row = m(c)
          val n = math.min(row.length, v.numElements())
          var s = 0.0
          var i = 0
          while (i < n) {
            if (!v.isNullAt(i)) s += row(i) * v.getDouble(i)
            i += 1
          }
          dots(c) = s
          c += 1
        }
        val kk = math.min(nProbe, m.length)
        val used = new Array[Boolean](m.length)
        var j = 0
        while (j < kk) {
          var best = -1
          var bestDot = Double.NegativeInfinity
          var c2 = 0
          while (c2 < m.length) {
            if (!used(c2) && dots(c2) > bestDot) { bestDot = dots(c2); best = c2 }
            c2 += 1
          }
          used(best) = true
          if (j == 0) { hierC1(nHier) = c1; hierC2(nHier) = best; nHier += 1 }
          candC1(nCand) = c1; candC2(nCand) = best; candDot(nCand) = dots(best)
          nCand += 1
          j += 1
        }
      }
      b += 1
    }
    // global top-nProbe by (dot desc, (c1, c2) asc) — (c1, c2)
    // lexicographic IS cid = c1·l2n + c2 order, the join-path contract
    val out = new Array[Long](nProbe + nHier) // packed (c1 << 32 | c2)
    var nOut = 0
    val taken = new Array[Boolean](nCand)
    var j = 0
    while (j < math.min(nProbe, nCand)) {
      var best = -1
      var i = 0
      while (i < nCand) {
        if (!taken(i) && (best < 0 || candDot(i) > candDot(best) ||
            (candDot(i) == candDot(best) &&
              (candC1(i) < candC1(best) ||
                (candC1(i) == candC1(best) && candC2(i) < candC2(best)))))) {
          best = i
        }
        i += 1
      }
      taken(best) = true
      out(nOut) = (candC1(best).toLong << 32) | (candC2(best).toLong & 0xffffffffL)
      nOut += 1
      j += 1
    }
    var h = 0
    while (h < nHier) {
      val packed = (hierC1(h).toLong << 32) | (hierC2(h).toLong & 0xffffffffL)
      var dup = false
      var i = 0
      while (i < nOut) { if (out(i) == packed) dup = true; i += 1 }
      if (!dup) { out(nOut) = packed; nOut += 1 }
      h += 1
    }
    java.util.Arrays.sort(out, 0, nOut)
    val rows = new Array[Any](nOut)
    var i = 0
    while (i < nOut) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(
        (out(i) >>> 32).toInt, out(i).toInt)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

/** Fused IVF inverted-list scan: the exact-verify of ONE probed cell
  * for one query as a single codegen'd call — the Spark expression of
  * the classic block-scan over an inverted list. `members` is the
  * cell's collect_list'd corpus block (`struct<id, vec>` float layout
  * or `struct<id, qvec, scale>` int8 layout); the result is the
  * query's top-`k` members by `(round(dot, 4) desc, id asc)` — the
  * SAME rounded score and tie order as the pair-join path
  * ([[graft.llm.Similarity]] `rankIvfPairs`), so the downstream
  * per-query [[TopKPairsAgg]] merge is bit-identical.
  *
  * Why: the pair-join shape materializes one row PER CANDIDATE
  * (probe × occupancy) through the join, the scoring projection and
  * the aggregation update — the round-10 sf10 profile measured that
  * machinery at ~18 µs/candidate × 72.8M candidates = 1333 CPU-s, 85%
  * of q125. Scanning the cell block inside one expression touches the
  * join/agg row machinery once per (probe, cell) instead — ~33× fewer
  * rows at the occupancy-bounded cell sizing — while the dots run in
  * the same tight loops. Rounding parity: Spark's `Round` on doubles
  * is `BigDecimal.valueOf(x).setScale(4, HALF_UP)` with NaN/∞ passed
  * through; [[CellTopKScan.scan]] replicates exactly that (and NaN
  * ordering follows [[TopKPairsBuffer]] = Spark's double ordering).
  * Rounding before ranking (not after) is load-bearing: round is
  * monotone, but ties created by rounding break by id ASC — ranking
  * raw dots would pick a different member at a rounded-tie boundary.
  *
  * Null semantics: null query vector / members / id ⇒ row skipped
  * upstream (nullIntolerant); null vector ELEMENTS contribute 0,
  * matching [[ArrayDotProduct]]/[[ArrayInt8DotProduct]].
  */
case class CellTopKScan(q: Expression, members: Expression,
                        selfId: Expression, k: Int, excludeSelf: Boolean,
                        quantized: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = q
  override def second: Expression = members
  override def third: Expression = selfId
  override def dataType: DataType = ArrayType(
    new org.apache.spark.sql.types.StructType()
      .add("score", DoubleType, nullable = false)
      .add("id", LongType, nullable = false),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_topk_scan"

  override def nullSafeEval(a: Any, m: Any, s: Any): Any =
    CellTopKScan.scan(a.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData],
      s.asInstanceOf[Long], k, excludeSelf, quantized)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, m, s) =>
      s"""${ev.value} = graft.functions.CellTopKScan.scan(
         |  $a, $m, $s, $k, $excludeSelf, $quantized);""".stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CellTopKScan =
    copy(q = newFirst, members = newSecond, selfId = newThird)
}

object CellTopKScan {
  /** Spark `Round(_, 4)` parity on doubles: shortest-decimal
    * (`BigDecimal.valueOf`) HALF_UP, NaN/±∞ passed through.
    */
  private def round4(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  def scan(q: ArrayData, members: ArrayData, selfId: Long, k: Int,
           excludeSelf: Boolean, quantized: Boolean): ArrayData = {
    val m = members.numElements()
    val nFields = if (quantized) 3 else 2
    val buf = new TopKPairsBuffer(k)
    val nq = q.numElements()
    var i = 0
    while (i < m) {
      val row = members.getStruct(i, nFields)
      val id = row.getLong(0)
      if (!(excludeSelf && id == selfId)) {
        val vb = row.getArray(1)
        val n = math.min(nq, vb.numElements())
        var s = 0.0
        var j = 0
        if (quantized) {
          while (j < n) {
            if (!q.isNullAt(j) && !vb.isNullAt(j))
              s += q.getDouble(j) * vb.getByte(j)
            j += 1
          }
          s = s * row.getDouble(2) / 127.0
        } else {
          while (j < n) {
            if (!q.isNullAt(j) && !vb.isNullAt(j))
              s += q.getDouble(j) * vb.getDouble(j)
            j += 1
          }
        }
        buf.insert(round4(s), id)
      }
      i += 1
    }
    val out = new Array[Any](buf.n)
    var r = 0
    while (r < buf.n) {
      out(r) = org.apache.spark.sql.catalyst.InternalRow(
        buf.scores(r), buf.ids(r))
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** L2-normalize a vector in ONE codegen'd pass: `v / sqrt(Σ v[i]²)`.
  *
  * Why an expression and not `sqrt(dot)` + `transform(v, _ / nrm)`:
  * the hoisted-norm projection is UNSTABLE under Catalyst —
  * `CollapseProject` inlines a once-referenced `_nrm` column straight
  * back into the transform lambda, where the interpreted higher-order
  * eval re-computes the dims-element dot PER ELEMENT with boxed
  * arithmetic (dims² interpreted ops + dims² boxes per row; the
  * round-10 sf10 profile caught the corpus prep at 0.7–13 ms/row with
  * GC thrash, for what is one fused multiply-loop). The round-7
  * hoist fix treated the symptom; this removes the HOF from the path
  * entirely and keeps prep inside whole-stage codegen.
  *
  * Parity with the old shape: null elements contribute 0 to the norm
  * and stay null in the output; a zero-norm vector divides by 0.0 —
  * ±0.0 → NaN, nonzero → ±Infinity — exactly like the lambda did
  * (downstream recall gates treat NaN cosines per Spark double
  * ordering). Null array → null (nullIntolerant).
  */
case class UnitNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unit_normalize"

  override def nullSafeEval(a: Any): Any =
    UnitNormalize.normalize(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.UnitNormalize.normalize($a);")

  override protected def withNewChildInternal(
      newChild: Expression): UnitNormalize = copy(child = newChild)
}

object UnitNormalize {
  def normalize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) { val x = v.getDouble(i); s += x * x }
      i += 1
    }
    val nrm = math.sqrt(s)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (v.isNullAt(i)) null else java.lang.Double.valueOf(v.getDouble(i) / nrm)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Symmetric per-vector int8 quantization in ONE codegen'd pass:
  * `scale = max|v[i]|`, `q[i] = round_half_up(v[i]·127/scale)` as
  * tinyint, emitted as `struct<scale: double, qvec: array<tinyint>>`.
  *
  * Why an expression: the column form — `array_max(transform(abs))`
  * as the scale, referenced inside the quantize `transform` lambda —
  * re-evaluates the dims-element max PER ELEMENT once CollapseProject
  * inlines it (dims² interpreted boxed ops per row, the same
  * optimizer trap as [[UnitNormalize]]); on the corpus-sized
  * persisted-index write that was q168's measured single-task
  * hotspot. One pass here: max, then round-scale each element, no
  * boxing, whole-stage codegen intact.
  *
  * Parity with the column form (oracled by q73): rounding is Spark's
  * `Round(_, 0)` (shortest-decimal HALF_UP — away from zero on .5);
  * null elements don't count toward the scale and quantize to null;
  * scale == 0.0 (zero vector) → ALL elements 0 (the lambda ignored
  * the element, nulls included); empty/all-null vector → null scale
  * and all-null elements (`x · 127 / null` is null per element).
  */
case class Int8Quantize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = new org.apache.spark.sql.types.StructType()
    .add("scale", DoubleType, nullable = true)
    .add("qvec", ArrayType(ByteType, containsNull = true), nullable = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(a: Any): Any =
    Int8Quantize.quantize(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Int8Quantize.quantize($a);")

  override protected def withNewChildInternal(
      newChild: Expression): Int8Quantize = copy(child = newChild)
}

object Int8Quantize {
  def quantize(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var scale = java.lang.Double.NEGATIVE_INFINITY
    var seen = false
    var hasNaN = false
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = math.abs(v.getDouble(i))
        if (java.lang.Double.isNaN(a)) hasNaN = true
        else if (a > scale) scale = a
        seen = true
      }
      i += 1
    }
    // array_max parity: NaN orders largest in Spark
    if (hasNaN) scale = java.lang.Double.NaN
    val out = new Array[Any](n)
    if (!seen) {
      // no non-null elements: null scale, all-null qvec
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], null)
      return org.apache.spark.sql.catalyst.InternalRow(
        null, new org.apache.spark.sql.catalyst.util.GenericArrayData(out))
    }
    if (scale == 0.0) {
      i = 0
      while (i < n) { out(i) = java.lang.Byte.valueOf(0.toByte); i += 1 }
    } else {
      i = 0
      while (i < n) {
        out(i) =
          if (v.isNullAt(i)) null
          else {
            val x = v.getDouble(i) * 127.0 / scale
            // Spark Round(_, 0) parity: shortest-decimal HALF_UP;
            // Round passes NaN/∞ through and the non-ANSI tinyint
            // cast then takes (byte)(long) with NaN → 0
            java.lang.Byte.valueOf(
              if (java.lang.Double.isNaN(x)) 0.toByte
              else if (java.lang.Double.isInfinite(x)) x.toLong.toByte
              else java.math.BigDecimal.valueOf(x)
                .setScale(0, java.math.RoundingMode.HALF_UP).byteValue())
          }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(scale,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out))
  }
}

/** Fused threshold scan over one IVF cell block: every member whose
  * rounded cosine with the query is ≥ `minScore`, self excluded — the
  * block-scan form of the SemDeDup verify ([[graft.llm.Similarity]]
  * `semDedupPairs`). Same float block layout, dot loop and
  * `Round(_, 4)` parity as [[CellTopKScan]]; unlike top-k there is no
  * rank, so output order is block order (the caller orients and
  * `distinct()`s). Dedup-grade thresholds pass only a few members per
  * cell, so the join/agg machinery above this expression sees
  * ~selectivity·occupancy× fewer rows than the pair-join shape.
  * Output size is bounded by cell occupancy (occupancy-bounded by the
  * quantizer's sizing contract).
  */
case class CellRangeScan(q: Expression, members: Expression,
                         selfId: Expression, minScore: Double)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = q
  override def second: Expression = members
  override def third: Expression = selfId
  override def dataType: DataType = ArrayType(
    new org.apache.spark.sql.types.StructType()
      .add("score", DoubleType, nullable = false)
      .add("id", LongType, nullable = false),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_range_scan"

  override def nullSafeEval(a: Any, m: Any, s: Any): Any =
    CellRangeScan.scan(a.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData],
      s.asInstanceOf[Long], minScore)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, m, s) =>
      s"""${ev.value} = graft.functions.CellRangeScan.scan(
         |  $a, $m, $s, $minScore);""".stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CellRangeScan =
    copy(q = newFirst, members = newSecond, selfId = newThird)
}

object CellRangeScan {
  private def round4(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  def scan(q: ArrayData, members: ArrayData, selfId: Long,
           minScore: Double): ArrayData = {
    val m = members.numElements()
    val nq = q.numElements()
    val out = new java.util.ArrayList[Any](8)
    var i = 0
    while (i < m) {
      val row = members.getStruct(i, 2)
      val id = row.getLong(0)
      if (id != selfId) {
        val vb = row.getArray(1)
        val n = math.min(nq, vb.numElements())
        var s = 0.0
        var j = 0
        while (j < n) {
          if (!q.isNullAt(j) && !vb.isNullAt(j))
            s += q.getDouble(j) * vb.getDouble(j)
          j += 1
        }
        val r = round4(s)
        if (r >= minScore)
          out.add(org.apache.spark.sql.catalyst.InternalRow(r, id))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Deterministic ±1 random projection (the dense sign matrix of
  * Achlioptas 2003 / Johnson–Lindenstrauss): `y[j] = Σ_i s[j][i]·x[i]`
  * over `array<decimal(18,9))>` input with the sign matrix embedded in
  * the expression (same memory contract as [[ArgmaxMatrixDot]] — one
  * driver-held array referenced from generated code, never a crossJoin
  * or a per-dimension explode).
  *
  * EXACT by construction: a scale-9 decimal times ±1 is a negated
  * unscaled long, so each output coordinate is an integer sum of
  * unscaled longs — associative, partitioning-independent, and equal
  * bit-for-bit to the SQL oracle's
  * `SUM(CASE WHEN sign THEN vd ELSE -vd END)` over
  * `CAST(x AS DECIMAL(18,9))`. Range contract: `Σ_i |x[i]| < 10^9`
  * per row (any embedding-scale data; the unscaled sum must stay
  * inside decimal(18,9)).
  *
  * Null semantics follow [[ArrayDotProduct]]: null array → null row,
  * null elements contribute 0, the loop runs over the common prefix
  * of the vector and the sign rows.
  */
case class SignedProject(child: Expression, signs: Array[Array[Byte]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(DecimalType(18, 9), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "signed_project"

  override def nullSafeEval(a: Any): Any =
    SignedProject.project(a.asInstanceOf[ArrayData], signs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("signs", signs, "byte[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.SignedProject.project($v, $mat);")
  }

  override protected def withNewChildInternal(newChild: Expression): SignedProject =
    copy(child = newChild)
}

object SignedProject {
  def project(v: ArrayData, signs: Array[Array[Byte]])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    // the element conversion is LITERALLY Spark's double→decimal(18,9)
    // cast (Decimal(d) + changePrecision — the same code Cast runs),
    // pulled inside the expression so the query needs no interpreted
    // `transform(_.cast(...))` HOF around it; the input array<float>
    // widens to array<double> losslessly via the implicit input cast
    val n0 = v.numElements()
    val units = new Array[Long](n0)
    var i = 0
    while (i < n0) {
      if (!v.isNullAt(i)) {
        val dec = org.apache.spark.sql.types.Decimal(v.getDouble(i))
        // fail LOUDLY on elements outside decimal(18,9) — silently
        // using the unscaled long of an overflowed decimal would emit
        // a plausible-looking wrong projection for out-of-contract
        // input (Cast's ANSI overflow behavior, with the contract in
        // the message)
        if (!dec.changePrecision(18, 9))
          throw new ArithmeticException(
            s"signed_project: element ${v.getDouble(i)} overflows " +
              "decimal(18,9) — input vectors must satisfy |x[i]| < 1e9 " +
              "(embedding-scale data)")
        units(i) = dec.toUnscaledLong
      }
      i += 1
    }
    val out = new Array[Any](signs.length)
    var j = 0
    while (j < signs.length) {
      val row = signs(j)
      val n = math.min(row.length, n0)
      var s = 0L
      i = 0
      while (i < n) {
        s += (if (row(i) > 0) units(i) else -units(i))
        i += 1
      }
      out(j) = org.apache.spark.sql.types.Decimal(s, 18, 9)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Product-quantization ENCODE: map a dense vector to `m` one-byte
  * codes, one per contiguous subspace — code `j` is the index of the
  * nearest codebook centroid for subvector `j` (argmin L2, computed
  * as argmax of `dot − ½‖c‖²` over the per-centroid half-norms; ties
  * → the lowest code, a total order). The codebook
  * (`m × ≤256 × dims/m`, trained driver-side on a bounded sample —
  * see [[graft.llm.IvfStore.Pq]]) rides into codegen
  * as a reference object, exactly the [[ArgmaxMatrixDot]] memory
  * contract. Null/short input positions contribute 0, the
  * [[ArrayDotProduct]] semantics. One build-time pass per vector —
  * O(256·dims).
  */
case class PqEncode(child: Expression,
                    codebook: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  // ½‖c‖² per centroid, so per-subspace argmin-distance is a pure
  // dot-product scan (the vector's own norm is constant per argmin)
  @transient private lazy val halfNorms: Array[Array[Double]] =
    codebook.map(_.map(c => 0.5 * c.map(x => x * x).sum))

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    PqEncode.encode(v, codebook, halfNorms)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("cb", codebook, "double[][][]")
    val hn = ctx.addReferenceObj("hn", halfNorms, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqEncode.encode($v, $cb, $hn);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  def encode(v: ArrayData, cb: Array[Array[Array[Double]]],
             hn: Array[Array[Double]]): ArrayData = {
    val m = cb.length
    val out = new Array[Byte](m)
    val nv = v.numElements()
    var j = 0
    var off = 0
    while (j < m) {
      val cents = cb(j)
      val norms = hn(j)
      val sub = if (cents.length > 0) cents(0).length else 0
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var s = 0.0
        var i = 0
        while (i < sub) {
          val p = off + i
          if (p < nv && !v.isNullAt(p)) s += cent(i) * v.getDouble(p)
          i += 1
        }
        s -= norms(c)
        if (s > bestScore) { bestScore = s; best = c }
        c += 1
      }
      out(j) = (best & 0xFF).toByte
      off += sub
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Per-query ADC lookup table for PQ serving: `lut[j·256 + c] =
  * dot(query_sub_j, codebook[j][c])`, flattened at a FIXED stride of
  * 256 (codebook rows may hold fewer centroids; unreferenced slots
  * stay 0). Built ONCE per probe row — every candidate in the probed
  * cell then scores in `m` array lookups ([[PqAdcDot]]) instead of a
  * dims-length dot. O(256·dims) per probe row.
  */
case class PqLut(child: Expression,
                 codebook: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_lut"

  override def nullSafeEval(a: Any): Any =
    PqLut.lut(a.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("cb", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqLut.lut($v, $cb);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

object PqLut {
  val Stride = 256

  def lut(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val out = new Array[Double](m * Stride)
    val nv = v.numElements()
    var j = 0
    var off = 0
    while (j < m) {
      val cents = cb(j)
      val sub = if (cents.length > 0) cents(0).length else 0
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var s = 0.0
        var i = 0
        while (i < sub) {
          val p = off + i
          if (p < nv && !v.isNullAt(p)) s += cent(i) * v.getDouble(p)
          i += 1
        }
        out(j * Stride + c) = s
        c += 1
      }
      off += sub
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** The PQ asymmetric-distance dot: `Σ_j lut[j·256 + codes[j]]` — the
  * approximate `dot(query, reconstruct(codes))` in `m` lookups per
  * candidate (the serve-scan inner loop; the dims-length work moved
  * into the once-per-probe [[PqLut]]). Codes are unsigned bytes
  * (`& 0xFF`); an out-of-range lookup contributes 0 (cannot happen on
  * engine-built artifacts — codes index the codebook the lut came
  * from).
  */
case class PqAdcDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val n = lut.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      if (!codes.isNullAt(j)) {
        val idx = j * PqLut.Stride + (codes.getByte(j) & 0xFF)
        if (idx < n && !lut.isNullAt(idx)) s += lut.getDouble(idx)
      }
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val idx = ctx.freshName("idx")
      s"""
         |int $m = $b.numElements();
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  if (!$b.isNullAt($j)) {
         |    int $idx = $j * ${PqLut.Stride} + ($b.getByte($j) & 0xFF);
         |    if ($idx < $n && !$a.isNullAt($idx)) $s += $a.getDouble($idx);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDot =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** `Σ a[i]·b[i]` as a codegen'd column; inputs are cast to
    * array<double> (float vectors widen losslessly).
    */
  def dot(a: Column, b: Column): Column =
    Bridge.column(ArrayDotProduct(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  /** `Σ a[i]·q[i]` of a double vector against an int8 vector
    * ([[ArrayInt8DotProduct]]); the caller applies the `scale/127`
    * reconstruction factor.
    */
  def dotInt8(a: Column, q: Column): Column =
    Bridge.column(ArrayInt8DotProduct(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(q)))

  /** Equal-position count of two bigint signature arrays
    * ([[ArrayAgreeCount]]) as a codegen'd int column.
    */
  def agreeCount(a: Column, b: Column): Column =
    Bridge.column(ArrayAgreeCount(
      Bridge.expression(a.cast("array<bigint>")),
      Bridge.expression(b.cast("array<bigint>"))))

  /** Exact `Σ a[i]·b[i]` over decimal(18,9) arrays → decimal(38,18)
    * ([[ArrayDecimalDotProduct]]). Pass columns already cast to
    * `array<decimal(18,9))>` so the cast semantics stay visible at the
    * call site (they define the oracle contract).
    */
  def decimalDot(a: Column, b: Column): Column =
    Bridge.column(ArrayDecimalDotProduct(
      Bridge.expression(a), Bridge.expression(b)))

  /** Exact ±1 sign projection over a fixed sign matrix
    * ([[SignedProject]]); the double→decimal(18,9) element conversion
    * (the oracle contract) happens INSIDE the expression — pass the
    * raw float/double vector.
    */
  def signedProject(v: Column, signs: Array[Array[Byte]]): Column =
    Bridge.column(SignedProject(
      Bridge.expression(v.cast("array<double>")), signs))

  /** argmax over a fixed centroid matrix ([[ArgmaxMatrixDot]]). */
  def argmaxDot(v: Column, matrix: Array[Array[Double]]): Column =
    Bridge.column(ArgmaxMatrixDot(
      Bridge.expression(v.cast("array<double>")), matrix))

  /** top-k indices over a fixed centroid matrix ([[TopKMatrixDot]]). */
  def topKDot(v: Column, matrix: Array[Array[Double]], k: Int): Column =
    Bridge.column(TopKMatrixDot(
      Bridge.expression(v.cast("array<double>")), matrix, k))

  /** per-table LSH sign buckets over a fixed hyperplane tensor
    * ([[SignBandsMatrix]]).
    */
  def signBands(v: Column, planes: Array[Array[Array[Double]]]): Column =
    Bridge.column(SignBandsMatrix(
      Bridge.expression(v.cast("array<double>")), planes))

  /** argmax child within the row's own level-1 cell over driver-held
    * per-cell child matrices ([[GroupedArgmaxDot]]).
    */
  def groupedArgmaxDot(v: Column, group: Column,
                       cells: Array[Array[Array[Double]]]): Column =
    Bridge.column(GroupedArgmaxDot(
      Bridge.expression(v.cast("array<double>")),
      Bridge.expression(group.cast("int")), cells))

  /** one-pass symmetric int8 quantization ([[Int8Quantize]]):
    * struct<scale: double, qvec: array<tinyint>>, codegen'd.
    */
  def int8Quantize(v: Column): Column =
    Bridge.column(Int8Quantize(
      Bridge.expression(v.cast("array<double>"))))

  /** PQ encode ([[PqEncode]]): `m` one-byte centroid codes. */
  def pqEncode(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncode(
      Bridge.expression(v.cast("array<double>")), codebook))

  /** Per-query ADC lookup table ([[PqLut]]), stride-256 flat. */
  def pqLut(q: Column, codebook: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqLut(
      Bridge.expression(q.cast("array<double>")), codebook))

  /** ADC approximate dot ([[PqAdcDot]]): `m` lookups per candidate. */
  def pqAdcDot(lut: Column, codes: Column): Column =
    Bridge.column(PqAdcDot(
      Bridge.expression(lut), Bridge.expression(codes)))

  /** one-pass L2 normalize ([[UnitNormalize]]): `v / sqrt(Σ v[i]²)`,
    * codegen'd — no higher-order function, no re-evaluated norm.
    */
  def unitNormalize(v: Column): Column =
    Bridge.column(UnitNormalize(
      Bridge.expression(v.cast("array<double>"))))

  /** per-group element-wise mean of an array<double> column as one
    * bounded-buffer aggregate ([[ArrayAvgAgg]]) — the Lloyd-round
    * centroid mean without the `posexplode` row blow-up.
    */
  def arrayAvg(v: Column): Column =
    Bridge.column(ArrayAvgAgg(
      Bridge.expression(v.cast("array<double>"))).toAggregateExpression())

  /** fused per-cell threshold verify ([[CellRangeScan]]):
    * array<struct<score,id>> of members with round(dot,4) ≥ minScore,
    * self excluded.
    */
  def cellRangeScan(q: Column, members: Column, selfId: Column,
                    minScore: Double): Column =
    Bridge.column(CellRangeScan(
      Bridge.expression(q.cast("array<double>")),
      Bridge.expression(members),
      Bridge.expression(selfId.cast("long")), minScore))

  /** fused per-cell exact-verify top-k ([[CellTopKScan]]):
    * array<struct<score,id>>, (round(dot,4) desc, id asc).
    */
  def cellTopKScan(q: Column, members: Column, selfId: Column, k: Int,
                   excludeSelf: Boolean, quantized: Boolean): Column =
    Bridge.column(CellTopKScan(
      Bridge.expression(q.cast("array<double>")),
      Bridge.expression(members),
      Bridge.expression(selfId.cast("long")), k, excludeSelf, quantized))

  /** full hierarchical IVF probe set for one query
    * ([[HierProbeCells]]): array<struct<_c1,_c2>>.
    */
  def hierProbeCells(v: Column, l1m: Array[Array[Double]],
                     cells: Array[Array[Array[Double]]],
                     pL1: Int, nProbe: Int): Column =
    Bridge.column(HierProbeCells(
      Bridge.expression(v.cast("array<double>")), l1m, cells, pL1, nProbe))
}
