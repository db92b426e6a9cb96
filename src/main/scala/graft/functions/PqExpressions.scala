package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** A set of equal-length vectors: the IVF coarse centroids, or one product
  * quantization subspace's codebook. Kernels carry it as an argument, so
  * it has value equality over `rows` (plan canonicalization compares
  * kernels by their arguments) and prints its shape only — a plan shows
  * `Codebook[256×8]`, not 2048 literal doubles. |c|² and the norms are
  * computed once per instance.
  *
  * The two IVF rules live here, so the kernels and the driver (residual
  * codebooks) run the same code. Both score row d as the left-to-right
  * double dot v·c_d divided by sqrt(|c_d|²) (|v| is constant per vector)
  * and compare scores in Spark's SQL double order (−0.0 = 0.0, NaN
  * largest):
  *  - [[nearest]] (assignment): argmax, tie → lowest id;
  *  - [[probe]]: the n best by (score desc, id desc), tie → LARGER id.
  */
final case class Codebook(rows: Seq[Seq[Double]]) {
  def size: Int = rows.size
  def dim: Int = rows.headOption.fold(0)(_.size)
  override def toString: String = s"Codebook[$size×$dim]"

  @transient private[functions] lazy val vecs: Array[Array[Double]] =
    rows.map(_.toArray).toArray
  /** |c|² per row, accumulated left-to-right (the value
    * `list_dot_product(c, c)` gives). */
  @transient private[functions] lazy val sq: Array[Double] =
    vecs.map(c => Codebook.dot(c, 0, c, c.length))
  @transient private lazy val norms: Array[Double] = sq.map(math.sqrt)

  private def score(v: Array[Double], d: Int): Double =
    Codebook.dot(v, 0, vecs(d), v.length) / norms(d)

  private def checkDim(v: Array[Double]): Unit =
    require(v.length == dim, s"vector dim ${v.length} != codebook dim $dim")

  /** IVF assignment: argmax cosine over the rows, tie → lowest id. */
  def nearest(v: Array[Double]): Int = {
    checkDim(v)
    var best = 0
    var bestScore = score(v, 0)
    var d = 1
    while (d < size) {
      val s = score(v, d)
      if (Codebook.cmp(s, bestScore) > 0) { best = d; bestScore = s }
      d += 1
    }
    best
  }

  /** IVF probe: the `n` ids of highest cosine, ties → larger id first. */
  def probe(v: Array[Double], n: Int): Array[Int] = {
    checkDim(v)
    val s = Array.tabulate(size)(score(v, _))
    Array.range(0, size).sorted(Ordering.fromLessThan[Int] { (a, b) =>
      val c = Codebook.cmp(s(a), s(b))
      c > 0 || (c == 0 && a > b)
    }).take(n)
  }
}

object Codebook {
  /** Σ_t a(ai + t)·b(t) for t < n, accumulated strictly left-to-right. */
  private[functions] def dot(a: Array[Double], ai: Int, b: Array[Double], n: Int): Double = {
    var acc = 0.0
    var t = 0
    while (t < n) { acc += a(ai + t) * b(t); t += 1 }
    acc
  }

  /** Spark's SQL double order (`SQLOrderingUtil.compareDoubles`). */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
}

/** IVF and PQ kernels (Jégou et al. 2011: IVF coarse quantizer, product
  * quantization, asymmetric distance computation) as Catalyst expressions
  * over [[Codebook]] arguments.
  *
  * Why expressions and not column trees: at production codebook sizes
  * (ksub = 256) a struct-max column form would put m × ksub = 2048
  * dot-product subtrees (each against a distinct literal centroid) into
  * one projection — tens of thousands of expression nodes, minutes of
  * analysis/codegen and a certain fallback to interpreted evaluation
  * anyway; already at m = 8, ksub = 16 the fused stage overflowed janino's
  * 64 KB method limit. A kernel runs a tight JVM loop per row
  * ([[CodegenFallback]] — the loop body IS the hot path) and the plan
  * prints each codebook by shape.
  *
  * Determinism contract (the cross-engine hash gate): every float is
  * widened to double before use; dot products and squared norms accumulate
  * STRICTLY left-to-right (DuckDB's list_dot_product order); the PQ argmax
  * tie rule is lowest code (strict `>` keeps the earlier winner); ADC
  * entries are floored to integer micro-units BEFORE any sum, so scores
  * are exact integers on both engines. A null vector (or bucket) gives
  * null.
  */
private[graft] trait VectorKernel { self: Expression =>
  protected def isVector(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  protected def checkVector(name: String, e: Expression): TypeCheckResult =
    if (isVector(e)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name needs array<float|double>, got ${e.dataType.sql}")

  /** `value` (an array<float|double> of `e`) widened to doubles. */
  protected def widen(value: Any, e: Expression): Array[Double] = {
    val arr = value.asInstanceOf[ArrayData]
    e.dataType match {
      case ArrayType(FloatType, _) => Array.tabulate(arr.numElements())(arr.getFloat(_).toDouble)
      case _ => arr.toDoubleArray()
    }
  }
}

/** `ivf_assign(vec)` → int: the vector's IVF bucket, [[Codebook.nearest]]. */
case class IvfAssignExpr(vec: Expression, cents: Codebook)
  extends UnaryExpression with CodegenFallback with VectorKernel {

  override def child: Expression = vec
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = checkVector("ivf_assign", vec)
  override protected def nullSafeEval(v: Any): Any = cents.nearest(widen(v, vec))
  override protected def withNewChildInternal(c: Expression): Expression = copy(vec = c)
}

/** `ivf_probe(qvec)` → array<int>: the query's `nProbe` buckets,
  * [[Codebook.probe]]. */
case class IvfProbeExpr(vec: Expression, cents: Codebook, nProbe: Int)
  extends UnaryExpression with CodegenFallback with VectorKernel {

  override def child: Expression = vec
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = checkVector("ivf_probe", vec)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(cents.probe(widen(v, vec), nProbe))
  override protected def withNewChildInternal(c: Expression): Expression = copy(vec = c)
}

/** The PQ kernels' inputs: `children` = the vector, then its coarse bucket
  * iff `coarse` is set. The residual r = vector − coarse(bucket) (IVFADC);
  * with no coarse codebook r is the widened vector itself (flat PQ — IVFADC
  * without the coarse quantizer, Jégou et al. 2011 §IV). Subspace s is
  * r's s-th slice of r.length / m components. */
private[graft] trait PqKernel extends Expression with CodegenFallback with VectorKernel {
  def coarse: Option[Codebook]
  def books: Seq[Codebook]
  protected def name: String

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVector(children.head) &&
        children.tail.map(_.dataType) == coarse.map(_ => IntegerType).toSeq)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name needs (array<float|double>${if (coarse.isDefined) ", int" else ""}), got " +
        children.map(_.dataType.sql).mkString(", "))

  /** The residual of this row, or null when an input is null. */
  protected def residual(input: InternalRow): Array[Double] = {
    val e = children.head.eval(input)
    if (e == null) return null
    val r = widen(e, children.head)
    if (coarse.isEmpty) return r
    val b = children(1).eval(input)
    if (b == null) return null
    val cent = coarse.get.vecs(b.asInstanceOf[Int])
    require(r.length == cent.length, s"embedding dim ${r.length} != centroid dim ${cent.length}")
    var i = 0
    while (i < r.length) { r(i) -= cent(i); i += 1 }
    r
  }
}

/** `pq_residual_codes(vec[, bucket])` → array<int> of m PQ codes: code s =
  * argmax_j (2·r_s·c_{s,j} − |c_{s,j}|²) — the argmin-L2 assignment with
  * the |r_s|² row constant dropped, tie → lowest code. Zero shuffle; one
  * pass per row. */
case class PqResidualCodesExpr(children: Seq[Expression], coarse: Option[Codebook],
    books: Seq[Codebook]) extends PqKernel {

  override protected def name: String = "pq_residual_codes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def eval(input: InternalRow): Any = {
    val r = residual(input)
    if (r == null) return null
    val m = books.size
    val dsub = r.length / m
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val bk = books(s)
      var bestScore = Double.NegativeInfinity
      var bestJ = 0
      var j = 0
      while (j < bk.size) {
        val score = Codebook.dot(r, s * dsub, bk.vecs(j), dsub) * 2.0 - bk.sq(j)
        if (score > bestScore) { bestScore = score; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `pq_adc_lut(qvec[, bucket])` → array<struct<sub:int, code:int,
  * lut_u:long>> — the full m × ksub asymmetric-distance lookup table of the
  * query residual r_q, in one of two forms:
  *  - flat PQ (no coarse codebook), the MAX form
  *    lut_u(s, j) = floor((2·q_s·c_{s,j} − |c_{s,j}|²) · 1e6), no bias
  *    (Σ_s is rank-equivalent to −||q − x̂||², descending);
  *  - IVFADC, the MIN form
  *    lut_u(s, j) = floor((|c_{s,j}|² − 2·r_{q,s}·c_{s,j}) · 1e6)
  *    plus the per-(query, bucket) bias floor(|r_q|²·1e6) folded into every
  *    sub = 0 entry, so Σ_s lut_u(s, code_s) is the exact integer
  *    micro-unit estimate of ||r_q − r̂_x||² = ||q − x̂||² — comparable
  *    ACROSS probed buckets.
  * Evaluated once per query (per probed bucket); the result is the
  * broadcast side of the ADC join. */
case class PqAdcLutExpr(children: Seq[Expression], coarse: Option[Codebook],
    books: Seq[Codebook]) extends PqKernel {

  override protected def name: String = "pq_adc_lut"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("lut_u", LongType, nullable = false))), containsNull = false)

  override def eval(input: InternalRow): Any = {
    val r = residual(input)
    if (r == null) return null
    val flat = coarse.isEmpty
    val bias =
      if (flat) 0L else math.floor(Codebook.dot(r, 0, r, r.length) * 1000000.0).toLong
    val m = books.size
    val dsub = r.length / m
    val out = new Array[Any](books.map(_.size).sum)
    var idx = 0
    var s = 0
    while (s < m) {
      val bk = books(s)
      var j = 0
      while (j < bk.size) {
        val dot = Codebook.dot(r, s * dsub, bk.vecs(j), dsub)
        val lutU =
          if (flat) math.floor((dot * 2.0 - bk.sq(j)) * 1000000.0).toLong
          else math.floor((bk.sq(j) - dot * 2.0) * 1000000.0).toLong +
            (if (s == 0) bias else 0L)
        out(idx) = InternalRow(s, j, lutU)
        idx += 1
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object PqFunctions {
  def ivf_assign(vec: Column, cents: Codebook): Column =
    Bridge.column(IvfAssignExpr(Bridge.expression(vec), cents))

  def ivf_probe(qvec: Column, cents: Codebook, nProbe: Int): Column =
    Bridge.column(IvfProbeExpr(Bridge.expression(qvec), cents, nProbe))

  /** Flat PQ codes, or IVFADC residual codes with `coarse` = (bucket, centroids). */
  def pq_residual_codes(vec: Column, books: Seq[Codebook],
      coarse: Option[(Column, Codebook)] = None): Column =
    Bridge.column(PqResidualCodesExpr(kernelInputs(vec, coarse), coarse.map(_._2), books))

  /** The flat PQ lut, or the IVFADC lut with `coarse` = (bucket, centroids). */
  def pq_adc_lut(qvec: Column, books: Seq[Codebook],
      coarse: Option[(Column, Codebook)] = None): Column =
    Bridge.column(PqAdcLutExpr(kernelInputs(qvec, coarse), coarse.map(_._2), books))

  private def kernelInputs(vec: Column, coarse: Option[(Column, Codebook)]): Seq[Expression] =
    (vec +: coarse.map(_._1).toSeq).map(Bridge.expression)
}
