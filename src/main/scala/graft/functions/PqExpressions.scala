package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** IVFADC kernels (Jégou et al. 2011 §IV: IVF coarse quantizer + product
  * quantization of the RESIDUAL, scored by asymmetric distance): the two
  * compute-dense steps — per-vector residual code assignment and the
  * per-(query, probed-bucket) ADC lookup table — as dedicated Catalyst
  * expressions.
  *
  * Why expressions and not column trees: at production codebook sizes
  * (ksub = 256) the [[graft.operators.Similarity]] struct-max column form
  * would put m × ksub = 2048 dot-product subtrees (each against a distinct
  * literal centroid) into one projection — tens of thousands of expression
  * nodes, minutes of analysis/codegen and a certain fallback to
  * interpreted evaluation anyway. These expressions carry the codebooks as
  * plain arrays and run a tight JVM loop per row ([[CodegenFallback]] —
  * the loop body IS the hot path; whole-stage fusion of the surrounding
  * projection buys nothing at m·ksub·dsub ≈ 16k flops/row).
  *
  * Determinism contract (the cross-engine hash gate): every float is
  * widened to double before use; dot products and squared norms accumulate
  * STRICTLY left-to-right (DuckDB's list_dot_product order); the argmax
  * tie rule is lowest code (strict `>` keeps the earlier winner); ADC
  * entries are floored to integer micro-units BEFORE any sum, so scores
  * are exact integers on both engines.
  */
private[graft] trait PqKernel {
  def cents: Seq[Seq[Double]]
  def books: Seq[Seq[Seq[Double]]]

  @transient protected lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient protected lazy val bookArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  /** |c|² per codebook entry, accumulated left-to-right once (the same
    * value `c.map(x*x).sum` / list_dot_product(ce, ce) produce). */
  @transient protected lazy val c2Arr: Array[Array[Double]] =
    bookArr.map(_.map { c =>
      var a = 0.0; var i = 0
      while (i < c.length) { a += c(i) * c(i); i += 1 }
      a
    })

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** residual = widened(emb) − cents(bucket), exact IEEE subtraction. */
  protected def residualOf(arr: ArrayData, isFloat: Boolean, bucket: Int): Array[Double] = {
    val cent = centArr(bucket)
    val n = arr.numElements()
    require(n == cent.length, s"embedding dim $n != centroid dim ${cent.length}")
    val r = new Array[Double](n)
    var i = 0
    while (i < n) {
      r(i) = (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)) - cent(i)
      i += 1
    }
    r
  }

  protected def checkArrayArg(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
}

/** `pq_residual_codes(embedding, bucket)` → array<int> of m residual PQ
  * codes: code s = argmax_j (2·r_s·c_{s,j} − |c_{s,j}|²) over the residual
  * r = embedding − coarse_centroid(bucket) — the argmin-L2 assignment with
  * the |r_s|² row constant dropped. Zero shuffle; one pass per row. */
case class PqResidualCodesExpr(emb: Expression, bucket: Expression,
    cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]])
  extends Expression with CodegenFallback with PqKernel {

  override def children: Seq[Expression] = Seq(emb, bucket)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (checkArrayArg(emb) && bucket.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_residual_codes needs (array<float|double>, int), got " +
        s"${emb.dataType.sql}, ${bucket.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    val b = bucket.eval(input)
    if (e == null || b == null) return null
    val r = residualOf(e.asInstanceOf[ArrayData], elemIsFloat(emb), b.asInstanceOf[Int])
    val m = bookArr.length
    val dsub = r.length / m
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val bk = bookArr(s)
      val c2s = c2Arr(s)
      var bestScore = Double.NegativeInfinity
      var bestJ = 0
      var j = 0
      while (j < bk.length) {
        val c = bk(j)
        var dot = 0.0
        var t = 0
        while (t < dsub) { dot += r(s * dsub + t) * c(t); t += 1 }
        val score = dot * 2.0 - c2s(j)
        if (score > bestScore) { bestScore = score; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(emb = newChildren(0), bucket = newChildren(1))
}

/** `pq_adc_lut(qvec, bucket)` → array<struct<sub:int, code:int,
  * lut_u:long>> — the full m × ksub asymmetric-distance lookup table of
  * query residual r_q = qvec − coarse_centroid(bucket):
  *
  *   lut_u(s, j) = floor((|c_{s,j}|² − 2·r_{q,s}·c_{s,j}) · 1e6)
  *
  * plus the per-(query, bucket) bias floor(|r_q|²·1e6) folded into every
  * sub = 0 entry, so Σ_s lut_u(s, code_s) is the exact integer micro-unit
  * estimate of ||r_q − r̂_x||² = ||q − x̂||² — comparable ACROSS buckets
  * (dropping the bias would rank nProbe probes against each other with
  * per-bucket constants missing). Evaluated once per (query, probed
  * bucket); the result is the broadcast side of the ADC join. */
case class PqAdcLutExpr(qvec: Expression, bucket: Expression,
    cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]])
  extends Expression with CodegenFallback with PqKernel {

  override def children: Seq[Expression] = Seq(qvec, bucket)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("lut_u", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (checkArrayArg(qvec) && bucket.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adc_lut needs (array<float|double>, int), got " +
        s"${qvec.dataType.sql}, ${bucket.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val e = qvec.eval(input)
    val b = bucket.eval(input)
    if (e == null || b == null) return null
    val r = residualOf(e.asInstanceOf[ArrayData], elemIsFloat(qvec), b.asInstanceOf[Int])
    var rq2 = 0.0
    var i = 0
    while (i < r.length) { rq2 += r(i) * r(i); i += 1 }
    val bias = math.floor(rq2 * 1000000.0).toLong
    val m = bookArr.length
    val dsub = r.length / m
    val out = new Array[Any](m * (if (m == 0) 0 else bookArr(0).length))
    var idx = 0
    var s = 0
    while (s < m) {
      val bk = bookArr(s)
      val c2s = c2Arr(s)
      var j = 0
      while (j < bk.length) {
        val c = bk(j)
        var dot = 0.0
        var t = 0
        while (t < dsub) { dot += r(s * dsub + t) * c(t); t += 1 }
        val lut = c2s(j) - dot * 2.0
        val lutU = math.floor(lut * 1000000.0).toLong + (if (s == 0) bias else 0L)
        out(idx) = InternalRow(s, j, lutU)
        idx += 1
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(qvec = newChildren(0), bucket = newChildren(1))
}

/** `pq_codes(embedding)` → array<int> of m FLAT PQ codes: code s =
  * argmax_j (2·x_s·c_{s,j} − |c_{s,j}|²) over subspace s of the RAW vector
  * (no coarse quantizer) — bit-identical to the literal struct-max column
  * form it replaced in [[graft.operators.Similarity]]: the
  * same left-to-right double dot, the same driver-side |c|² literal, the
  * same strict-`>` lowest-code tie rule. The column form put m × ksub dot
  * subtrees into one projection; at m=8/ksub=16 that already overflows
  * janino's 64 KB method limit once fused with the surrounding
  * join/aggregate, so the WHOLE stage fell back to interpreted evaluation
  * (measured: pq_encode/pq_topk logged `Whole-stage codegen disabled`,
  * ~2 s of driver analysis + interpreted eval per run at sf0.1). As a
  * kernel the codebook rides plain arrays and the corpus stage keeps its
  * codegen. */
case class PqCodesExpr(emb: Expression, books: Seq[Seq[Seq[Double]]])
  extends Expression with CodegenFallback with PqKernel {

  override def cents: Seq[Seq[Double]] = Nil
  override def children: Seq[Expression] = Seq(emb)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (checkArrayArg(emb)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_codes needs array<float|double>, got ${emb.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    if (e == null) return null
    val arr = e.asInstanceOf[ArrayData]
    val isFloat = elemIsFloat(emb)
    val m = bookArr.length
    val dsub = arr.numElements() / m
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val bk = bookArr(s)
      val c2s = c2Arr(s)
      var bestScore = Double.NegativeInfinity
      var bestJ = 0
      var j = 0
      while (j < bk.length) {
        val c = bk(j)
        var dot = 0.0
        var t = 0
        while (t < dsub) {
          val x = if (isFloat) arr.getFloat(s * dsub + t).toDouble
                  else arr.getDouble(s * dsub + t)
          dot += x * c(t)
          t += 1
        }
        val score = dot * 2.0 - c2s(j)
        if (score > bestScore) { bestScore = score; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(emb = newChildren(0))
}

/** `pq_flat_lut(qvec)` → array<struct<sub:int, code:int, lut_u:long>> —
  * the flat-PQ ADC table in the MAX form [[graft.operators.Similarity.pqTopK]]
  * emits: lut_u(s, j) = floor((2·q_s·c_{s,j} − |c_{s,j}|²) · 1e6), no
  * residual, no per-bucket bias (score is rank-equivalent to −||q−x̂||²,
  * descending). Bit-identical to the literal-struct column form it
  * replaces (same IEEE tree `dot*2.0 − c2`, same `* 1e6` then floor), the
  * query-side twin of [[PqCodesExpr]] — tiny at runtime, but the literal
  * tree it replaces was the other half of the janino 64 KB overflow. */
case class PqFlatLutExpr(qvec: Expression, books: Seq[Seq[Seq[Double]]])
  extends Expression with CodegenFallback with PqKernel {

  override def cents: Seq[Seq[Double]] = Nil
  override def children: Seq[Expression] = Seq(qvec)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("lut_u", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (checkArrayArg(qvec)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_flat_lut needs array<float|double>, got ${qvec.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val e = qvec.eval(input)
    if (e == null) return null
    val arr = e.asInstanceOf[ArrayData]
    val isFloat = elemIsFloat(qvec)
    val m = bookArr.length
    val dsub = arr.numElements() / m
    val out = new Array[Any](m * (if (m == 0) 0 else bookArr(0).length))
    var idx = 0
    var s = 0
    while (s < m) {
      val bk = bookArr(s)
      val c2s = c2Arr(s)
      var j = 0
      while (j < bk.length) {
        val c = bk(j)
        var dot = 0.0
        var t = 0
        while (t < dsub) {
          val x = if (isFloat) arr.getFloat(s * dsub + t).toDouble
                  else arr.getDouble(s * dsub + t)
          dot += x * c(t)
          t += 1
        }
        val lutU = math.floor((dot * 2.0 - c2s(j)) * 1000000.0).toLong
        out(idx) = InternalRow(s, j, lutU)
        idx += 1
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(qvec = newChildren(0))
}

object PqFunctions {
  def pq_residual_codes(emb: Column, bucket: Column,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqResidualCodesExpr(
      Bridge.expression(emb), Bridge.expression(bucket), cents, books))

  def pq_adc_lut(qvec: Column, bucket: Column,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqAdcLutExpr(
      Bridge.expression(qvec), Bridge.expression(bucket), cents, books))

  def pq_codes(emb: Column, books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqCodesExpr(Bridge.expression(emb), books))

  def pq_flat_lut(qvec: Column, books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqFlatLutExpr(Bridge.expression(qvec), books))
}
