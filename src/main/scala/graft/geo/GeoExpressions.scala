package graft.geo

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Catalyst expressions over the Spark-native ring encoding
  * `array<struct<x: double, y: double>>` (SURVEY.md §1.2: WKB or x/y
  * columns; a typed vertex array keeps the data columnar and prunable
  * instead of an opaque blob).
  *
  * Ring-taking expressions codegen to static kernel calls (the loop is
  * in compiled Scala; generated code just dispatches) — keeps the whole
  * stage inside WholeStageCodegen instead of a fallback boundary. The
  * CRS transform codegens through row-building bridges in [[Rings]].
  */
object Rings {
  def unpack(a: Any): (Array[Double], Array[Double]) = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      xs(i) = row.getDouble(0)
      ys(i) = row.getDouble(1)
      i += 1
    }
    (xs, ys)
  }

  def unpackRings(a: Any): (Array[Array[Double]], Array[Array[Double]]) = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val xss = new Array[Array[Double]](n)
    val yss = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val (xs, ys) = unpack(arr.getArray(i))
      xss(i) = xs
      yss(i) = ys
      i += 1
    }
    (xss, yss)
  }

  // static entry points for generated code
  def pointInRing(ring: ArrayData, px: Double, py: Double): Boolean = {
    val (xs, ys) = unpack(ring)
    GeoKernels.pointInRing(xs, ys, px, py)
  }
  def pointInRings(rings: ArrayData, px: Double, py: Double): Boolean = {
    val (xss, yss) = unpackRings(rings)
    GeoKernels.pointInRings(xss, yss, px, py)
  }
  def ringArea(ring: ArrayData): Double = {
    val (xs, ys) = unpack(ring)
    GeoKernels.area(xs, ys)
  }
  def ringsArea(rings: ArrayData): Double = {
    val (xss, yss) = unpackRings(rings)
    GeoKernels.ringsArea(xss, yss)
  }
  def circleClipArea(ring: ArrayData, cx: Double, cy: Double, r: Double): Double = {
    val (xs, ys) = unpack(ring)
    GeoKernels.circleIntersectionArea(xs, ys, cx, cy, r)
  }

  // static entry points for the CRS transform's generated code (the
  // struct result needs an InternalRow, which plain kernels don't know)
  def l72ToWgs84Row(x: Double, y: Double): InternalRow = {
    val (lon, lat) = GeoKernels.lambert72ToWgs84(x, y)
    InternalRow(lon, lat)
  }
  def wgs84ToL72Row(lon: Double, lat: Double): InternalRow = {
    val (x, y) = GeoKernels.wgs84ToLambert72(lon, lat)
    InternalRow(x, y)
  }

  /** All grid cells covered by the bbox of a ring set, packed as
    * (cellX << 32) | (cellY & 0xFFFFFFFF) — the polygon-side key of the
    * rewritten spatial equi-join ([[graft.rules.SpatialJoinRewrite]]). */
  def bboxCells(rings: ArrayData, cellSize: Double): ArrayData = {
    val (xss, yss) = unpackRings(rings)
    var minX = Double.PositiveInfinity; var maxX = Double.NegativeInfinity
    var minY = Double.PositiveInfinity; var maxY = Double.NegativeInfinity
    var r = 0
    while (r < xss.length) {
      val xs = xss(r); val ys = yss(r)
      var i = 0
      while (i < xs.length) {
        if (xs(i) < minX) minX = xs(i); if (xs(i) > maxX) maxX = xs(i)
        if (ys(i) < minY) minY = ys(i); if (ys(i) > maxY) maxY = ys(i)
        i += 1
      }
      r += 1
    }
    if (minX > maxX) return ArrayData.toArrayData(Array.empty[Long])
    val cx0 = math.floor(minX / cellSize).toLong
    val cx1 = math.floor(maxX / cellSize).toLong
    val cy0 = math.floor(minY / cellSize).toLong
    val cy1 = math.floor(maxY / cellSize).toLong
    // fail fast with an actionable message instead of Int overflow /
    // multi-GB allocation when one polygon's bbox dwarfs the cell size
    // (corrupt coordinates, or spark.graft.geo.cellSize far too small)
    val nCells = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
    if (nCells > (1 << 22))
      throw new IllegalArgumentException(
        s"bbox_cells: polygon bbox [$minX..$maxX]x[$minY..$maxY] covers " +
          s"$nCells cells at cellSize=$cellSize (max ${1 << 22}); raise " +
          "spark.graft.geo.cellSize or filter corrupt geometries")
    val out = new Array[Long](nCells.toInt)
    var k = 0
    var cx = cx0
    while (cx <= cx1) {
      var cy = cy0
      while (cy <= cy1) { out(k) = (cx << 32) | (cy & 0xFFFFFFFFL); k += 1; cy += 1 }
      cx += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** st_contains(ring, point): ray-casting point-in-polygon (J11). */
case class PointInRing(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_ring"

  override def nullSafeEval(ring: Any, px: Any, py: Any): Any =
    Rings.pointInRing(ring.asInstanceOf[ArrayData],
      px.asInstanceOf[Double], py.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, x, y) => s"graft.geo.Rings.pointInRing($r, $x, $y)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(first = a, second = b, third = c)
}

/** st_contains over a ring SET (polygon with holes / multipolygon):
  * even-odd rule across all rings (J11 against the reference's
  * multipolygon habitat map, check_observed_habitat_type.Rmd:99,148). */
case class PointInRings(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_rings"

  override def nullSafeEval(rings: Any, px: Any, py: Any): Any =
    Rings.pointInRings(rings.asInstanceOf[ArrayData],
      px.asInstanceOf[Double], py.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, x, y) => s"graft.geo.Rings.pointInRings($r, $x, $y)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(first = a, second = b, third = c)
}

/** bbox_cells(rings, cellSize) -> array<long> of packed covered grid
  * cells; polygon-side generator of the spatial equi-join rewrite. */
case class RingsBboxCells(child: Expression, cellSize: Double)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bbox_cells"

  override def nullSafeEval(rings: Any): Any =
    Rings.bboxCells(rings.asInstanceOf[ArrayData], cellSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, r => s"graft.geo.Rings.bboxCells($r, ${cellSize}D)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** st_area over a ring SET: exterior areas minus hole areas (depth-signed). */
case class RingsArea(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "rings_area"

  override def nullSafeEval(rings: Any): Any =
    Rings.ringsArea(rings.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, r => s"graft.geo.Rings.ringsArea($r)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** st_area(ring): shoelace polygon area. */
case class RingArea(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ring_area"

  override def nullSafeEval(ring: Any): Any =
    Rings.ringArea(ring.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, r => s"graft.geo.Rings.ringArea($r)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** st_area(st_intersection(ring, st_buffer(point, r))) fused into one
  * exact kernel (K1's a3-circle x segment overlay). Radius is a plan
  * constant (the reference's 9 m and 18 m plot circles). */
case class CircleClipArea(first: Expression, second: Expression, third: Expression,
                          radius: Double)
    extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "circle_clip_area"

  override def nullSafeEval(ring: Any, cx: Any, cy: Any): Any =
    Rings.circleClipArea(ring.asInstanceOf[ArrayData],
      cx.asInstanceOf[Double], cy.asInstanceOf[Double], radius)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (r, x, y) => s"graft.geo.Rings.circleClipArea($r, $x, $y, $radius)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(first = a, second = b, third = c)
}

/** st_transform between EPSG:31370 and EPSG:4326; returns
  * struct<lon double, lat double> or struct<x double, y double>. */
case class CrsTransform(left: Expression, right: Expression, toWgs84: Boolean)
    extends BinaryExpression {
  override def dataType: DataType =
    if (toWgs84) StructType(Seq(StructField("lon", DoubleType), StructField("lat", DoubleType)))
    else StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))
  override def prettyName: String = if (toWgs84) "lambert72_to_wgs84" else "wgs84_to_lambert72"

  private def bridge = if (toWgs84) "l72ToWgs84Row" else "wgs84ToL72Row"

  override def nullSafeEval(a: Any, b: Any): Any =
    if (toWgs84) Rings.l72ToWgs84Row(a.asInstanceOf[Double], b.asInstanceOf[Double])
    else Rings.wgs84ToL72Row(a.asInstanceOf[Double], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geo.Rings.$bridge($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object GeoFunctions {
  def pointInRing(ring: Column, px: Column, py: Column): Column =
    GraftBridge.column(PointInRing(
      GraftBridge.expression(ring), GraftBridge.expression(px), GraftBridge.expression(py)))

  def pointInRings(rings: Column, px: Column, py: Column): Column =
    GraftBridge.column(PointInRings(
      GraftBridge.expression(rings), GraftBridge.expression(px), GraftBridge.expression(py)))

  def ringArea(ring: Column): Column =
    GraftBridge.column(RingArea(GraftBridge.expression(ring)))

  def ringsArea(rings: Column): Column =
    GraftBridge.column(RingsArea(GraftBridge.expression(rings)))

  def circleClipArea(ring: Column, cx: Column, cy: Column, radius: Double): Column =
    GraftBridge.column(CircleClipArea(
      GraftBridge.expression(ring), GraftBridge.expression(cx),
      GraftBridge.expression(cy), radius))

  /** (x, y) EPSG:31370 -> struct(lon, lat) EPSG:4326. */
  def toWgs84(x: Column, y: Column): Column =
    GraftBridge.column(CrsTransform(
      GraftBridge.expression(x), GraftBridge.expression(y), toWgs84 = true))

  /** (lon, lat) EPSG:4326 -> struct(x, y) EPSG:31370. */
  def toLambert72(lon: Column, lat: Column): Column =
    GraftBridge.column(CrsTransform(
      GraftBridge.expression(lon), GraftBridge.expression(lat), toWgs84 = false))
}
