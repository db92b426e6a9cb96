package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.SparkSession

import graft.core.CellIndex

/** Native Catalyst expressions for the spatial cell index (SURVEY.md G6).
  * These run 10^12 times in the pages→tiles join, so they are full codegen
  * `Expression`s: `doGenCode` emits a single static call into
  * [[graft.core.CellIndex]] — branch-free bit interleaving, no boxing, and
  * the surrounding filter/join stays inside WholeStageCodegen. */
case class CellIdExpr(lat: Expression, lon: Expression, res: Expression)
    extends TernaryExpression {
  override def first: Expression = lat
  override def second: Expression = lon
  override def third: Expression = res
  override def dataType: DataType = LongType
  override def nullable: Boolean = lat.nullable || lon.nullable || res.nullable

  override protected def nullSafeEval(latV: Any, lonV: Any, resV: Any): Any =
    CellIndex.cellId(latV.asInstanceOf[Double], lonV.asInstanceOf[Double], resV.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo, r) => s"graft.core.CellIndex.cellId($la, $lo, $r)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(lat = f, lon = s, res = t)
}

/** Cells covering a lat/lon bbox — the tile/build side of the cell
  * equi-join. Evaluated once per tile (thousands of rows, not 10^12), so
  * CodegenFallback costs nothing; the probe side (CellIdExpr) is the one
  * that must stay in codegen. */
case class CellCoverExpr(minLat: Expression, minLon: Expression,
                         maxLat: Expression, maxLon: Expression, res: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(minLat, minLon, maxLat, maxLon, res)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    val Seq(a, b, c, d, r) = vs
    new GenericArrayData(CellIndex.cellCover(
      a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], r.asInstanceOf[Int]))
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cs(0), cs(1), cs(2), cs(3), cs(4))
}

/** Full k-disk of a cell (kNN ring expansion uses shells; this is the SQL
  * surface for neighborhood joins). */
case class KRingExpr(cell: Expression, k: Expression, res: Expression)
    extends TernaryExpression {
  override def first: Expression = cell
  override def second: Expression = k
  override def third: Expression = res
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)

  override protected def nullSafeEval(c: Any, kv: Any, r: Any): Any =
    new GenericArrayData(CellIndex.kRing(
      c.asInstanceOf[Long], kv.asInstanceOf[Int], r.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, kv, r) =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.core.CellIndex.kRing($c, $kv, $r));")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(cell = f, k = s, res = t)
}

/** Dense per-pixel counts of one tile: the flagship's density-chip
  * histogram as ONE aggregate keyed on the tile. `pix` is the row-major
  * pixel index inside the tile, in [0, area); the buffer is a dense `Int`
  * per pixel, `update` adds 1 at `pix` and `merge` adds element-wise, so a
  * task holds one `area`-sized array per tile it touches instead of one
  * hash-map entry per (tile, pixel). The result is the dense array.
  *
  * A partial ships as the smaller of two encodings: the dense array when
  * at least half the pixels are non-zero, else sorted (pix, count) pairs
  * — never more than min(8·nnz, 4·area) bytes plus a 4-byte header, so a
  * task touching many tiles with a few pages each stays cheap to shuffle. */
case class PixelCountsAgg(pix: Expression, area: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Int]] with UnaryLike[Expression] {
  override def child: Expression = pix
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): Array[Int] = new Array[Int](area)

  override def update(buffer: Array[Int], input: InternalRow): Array[Int] = {
    val v = pix.eval(input)
    if (v != null) buffer(v.asInstanceOf[Int]) += 1
    buffer
  }

  override def merge(buffer: Array[Int], input: Array[Int]): Array[Int] = {
    var k = 0
    while (k < area) { buffer(k) += input(k); k += 1 }
    buffer
  }

  override def eval(buffer: Array[Int]): Any = UnsafeArrayData.fromPrimitiveArray(buffer)

  /** Header `-1` then `area` counts (dense), or header `nnz` then nnz
    * ascending (pix, count) pairs (sparse). */
  override def serialize(buffer: Array[Int]): Array[Byte] = {
    var nnz = 0
    var k = 0
    while (k < area) { if (buffer(k) != 0) nnz += 1; k += 1 }
    if (2 * nnz >= area) {
      val out = java.nio.ByteBuffer.allocate(4 + 4 * area)
      out.putInt(-1)
      out.asIntBuffer().put(buffer)
      out.array()
    } else {
      val out = java.nio.ByteBuffer.allocate(4 + 8 * nnz)
      out.putInt(nnz)
      k = 0
      while (k < area) {
        if (buffer(k) != 0) out.putInt(k).putInt(buffer(k))
        k += 1
      }
      out.array()
    }
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val buffer = new Array[Int](area)
    val header = in.getInt()
    if (header < 0) in.asIntBuffer().get(buffer)
    else {
      var n = 0
      while (n < header) { val k = in.getInt(); buffer(k) = in.getInt(); n += 1 }
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): PixelCountsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): PixelCountsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): PixelCountsAgg = copy(pix = c)
  override def prettyName: String = "pixel_counts"
}

object CellFunctions {
  def cell_id(lat: Column, lon: Column, res: Column): Column =
    Bridge.column(CellIdExpr(expression(lat), expression(lon), expression(res)))
  def cell_cover(minLat: Column, minLon: Column, maxLat: Column, maxLon: Column, res: Column): Column =
    Bridge.column(CellCoverExpr(expression(minLat), expression(minLon),
      expression(maxLat), expression(maxLon), expression(res)))
  def k_ring(cell: Column, k: Column, res: Column): Column =
    Bridge.column(KRingExpr(expression(cell), expression(k), expression(res)))
  /** Dense per-pixel counts over a group ([[PixelCountsAgg]]); `pix` is an
    * int column in [0, area). */
  def pixel_counts(pix: Column, area: Int): Column =
    Bridge.column(PixelCountsAgg(expression(pix), area).toAggregateExpression())

  private def expression(c: Column): Expression = Bridge.expression(c)

  /** Register SQL-callable versions: cell_id(lat, lon, res) etc. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cell_id",
      es => CellIdExpr(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("cell_cover",
      es => CellCoverExpr(es(0), es(1), es(2), es(3), es(4)), "built-in")
    reg.createOrReplaceTempFunction("k_ring",
      es => KRingExpr(es(0), es(1), es(2)), "built-in")
  }
}
