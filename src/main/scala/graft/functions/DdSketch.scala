package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

/** Mergeable relative-error quantile sketches (DDSketch-style
  * log-bucketed histogram — Masson/Rim/Lee, "DDSketch: a fast and
  * fully-mergeable quantile sketch with relative-error guarantees",
  * VLDB 2019).
  *
  * The quantile analogue of the HLL distinct sketches that q98/q121
  * take from Spark (`hll_sketch_agg`): exact rolling/rollup
  * percentiles cannot pre-aggregate (p95 of a union is not a function
  * of per-part p95s), so at 100 TB the sketch IS the product — tiny
  * per-day / per-partition histograms are written once and any later
  * rollup (p95 per week / per region / overall) is a vector add over
  * stored sketches, never a re-scan of raw data.
  *
  *  - [[sketchAgg]] — aggregate raw positive doubles into a sketch
  *  - [[mergeAgg]]  — aggregate sketches into one sketch
  *  - [[quantile]]  — sketch × q → estimate with |est/true − 1| ≤ α
  *  - [[total]]     — sketch → total count folded into it
  *
  * Representation: value x > 0 lands in bucket ⌈log_γ x⌉ with
  * γ = (1+α)/(1−α); the bucket's midpoint-in-log-space estimate
  * 2γ^i/(γ+1) is within relative error α of every value in the
  * bucket. Buckets are a FIXED Long[B] vector (packed little-endian
  * in an Array[Byte]): index 0 counts x ≤ 0, indices 1..B−1 cover
  * γ^(i−1+Offset) < x ≤ γ^(i+Offset). With α = 2 % and B = 2048 the
  * covered range is ~e^−20..e^61 (2e−9 .. 3e26) — values outside
  * clamp to the edge buckets (their error is then unbounded but the
  * sketch never drops data). 16 KB per sketch.
  *
  * Why a fixed vector and not the paper's growable/collapsing store:
  * merge becomes a plain vector add — commutative, associative, and
  * ORDER-INDEPENDENT, so sketch bytes are identical under any
  * partitioning and sketch(A ∪ B) == merge(sketch(A), sketch(B))
  * holds EXACTLY (DdSketchSpec asserts bit-equality). A collapsing
  * store compacts at order-dependent moments and loses that
  * determinism, which the driver's hash-level oracle would punish.
  *
  * Why not Spark's built-in `kll_sketch_agg_*`: KLL bounds RANK error,
  * while q133/q134 gate a 2 % relative-VALUE error; and its compactor
  * draws from `KllSketch.random`, a static unseeded `java.util.Random`,
  * so its estimate is not a constant of the data.
  */
object DdSketch {

  val Alpha: Double = 0.02
  val B: Int = 2048
  private val Gamma: Double = (1.0 + Alpha) / (1.0 - Alpha)
  private val LnGamma: Double = math.log(Gamma)
  /** log-bucket indices run Offset..Offset+B−2, pinned so the covered
    * value range brackets every realistic measurement domain.
    */
  private val Offset: Int = -500

  private def bytes: Array[Byte] = new Array[Byte](B * 8)

  @inline private def getL(a: Array[Byte], i: Int): Long = {
    val o = i * 8
    (a(o) & 0xFFL) | (a(o + 1) & 0xFFL) << 8 | (a(o + 2) & 0xFFL) << 16 |
      (a(o + 3) & 0xFFL) << 24 | (a(o + 4) & 0xFFL) << 32 |
      (a(o + 5) & 0xFFL) << 40 | (a(o + 6) & 0xFFL) << 48 |
      (a(o + 7) & 0xFFL) << 56
  }

  @inline private def putL(a: Array[Byte], i: Int, v: Long): Unit = {
    val o = i * 8
    a(o) = v.toByte; a(o + 1) = (v >> 8).toByte
    a(o + 2) = (v >> 16).toByte; a(o + 3) = (v >> 24).toByte
    a(o + 4) = (v >> 32).toByte; a(o + 5) = (v >> 40).toByte
    a(o + 6) = (v >> 48).toByte; a(o + 7) = (v >> 56).toByte
  }

  /** Bucket index of a value (0 = non-positive; clamped at the edges). */
  def bucketOf(x: Double): Int =
    if (!(x > 0.0)) 0
    else {
      val i = math.ceil(math.log(x) / LnGamma).toInt - Offset
      if (i < 1) 1 else if (i > B - 1) B - 1 else i
    }

  private def add(a: Array[Byte], x: Double): Array[Byte] = {
    val i = bucketOf(x)
    putL(a, i, getL(a, i) + 1L)
    a
  }

  private def addVec(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < B) { putL(a, i, getL(a, i) + getL(b, i)); i += 1 }
    a
  }

  /** Sketch → total count (static: codegen target of [[total]]). */
  def countAll(a: Array[Byte]): Long = {
    var n = 0L
    var i = 0
    while (i < B) { n += getL(a, i); i += 1 }
    n
  }

  /** Sketch × q → quantile estimate. Rank semantics: the value at
    * 1-based rank ⌈q·n⌉ (⌊q·(n−1)⌋+1 would differ by at most one
    * position — irrelevant under the α bound the gate asserts).
    * Non-positive values all estimate as 0.0.
    */
  def quantileOf(a: Array[Byte], q: Double): Double = {
    val n = countAll(a)
    if (n == 0L) return Double.NaN
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    var i = 0
    while (i < B) {
      cum += getL(a, i)
      if (cum >= target) {
        return if (i == 0) 0.0
        else 2.0 * math.pow(Gamma, (i + Offset).toDouble) / (Gamma + 1.0)
      }
      i += 1
    }
    Double.NaN // unreachable: cum == n >= target by construction
  }

  private val buildAggregator: Aggregator[java.lang.Double, Array[Byte], Array[Byte]] =
    new Aggregator[java.lang.Double, Array[Byte], Array[Byte]] {
      def zero: Array[Byte] = bytes
      // boxed input so a null measurement is absence, not a zero
      def reduce(b: Array[Byte], x: java.lang.Double): Array[Byte] =
        if (x == null) b else add(b, x.doubleValue())
      def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = addVec(a, b)
      def finish(r: Array[Byte]): Array[Byte] = r
      def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
      def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }

  private val mergeAggregator: Aggregator[Array[Byte], Array[Byte], Array[Byte]] =
    new Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
      def zero: Array[Byte] = bytes
      def reduce(b: Array[Byte], s: Array[Byte]): Array[Byte] = addVec(b, s)
      def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = addVec(a, b)
      def finish(r: Array[Byte]): Array[Byte] = r
      def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
      def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }

  /** Aggregate a numeric column into one quantile sketch per group.
    * Partial aggregation applies — the shuffle carries 16 KB
    * histograms, not rows.
    */
  def sketchAgg(c: Column): Column =
    udaf(buildAggregator, Encoders.DOUBLE).apply(c.cast("double"))

  /** Aggregate already-built sketches (daily rollup rows, window
    * frames) into one.
    */
  def mergeAgg(c: Column): Column =
    udaf(mergeAggregator, Encoders.BINARY).apply(c)

  /** Sketch column → quantile estimate. Native codegen'd expression:
    * static call on the raw byte[], no UDF boxing, whole-stage span
    * intact.
    */
  def quantile(c: Column, q: Double): Column =
    Bridge.column(DdQuantile(Bridge.expression(c), q))

  /** Sketch column → total folded count. */
  def total(c: Column): Column =
    Bridge.column(DdCount(Bridge.expression(c)))
}

/** `dd_quantile(sketch, q)` — [[DdSketch.quantileOf]] as a codegen'd
  * Catalyst expression. `q` is a literal parameter of the operator,
  * not a child: quantile points are chosen by the query author, never
  * computed per-row.
  */
case class DdQuantile(child: Expression, q: Double)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dd_quantile"

  override def nullSafeEval(regs: Any): Any =
    DdSketch.quantileOf(regs.asInstanceOf[Array[Byte]], q)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DdSketch.quantileOf($c, $q)")

  override protected def withNewChildInternal(newChild: Expression): DdQuantile =
    copy(child = newChild)
}

/** `dd_count(sketch)` — total count folded into the sketch. */
case class DdCount(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dd_count"

  override def nullSafeEval(regs: Any): Any =
    DdSketch.countAll(regs.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DdSketch.countAll($c)")

  override protected def withNewChildInternal(newChild: Expression): DdCount =
    copy(child = newChild)
}
