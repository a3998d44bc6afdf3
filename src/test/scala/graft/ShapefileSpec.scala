package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.geo.{GeoKernels, Shapefile, Wkb}
import org.apache.spark.sql.functions._

/** S6: shapefile ingestion — synthetic .shp/.dbf built byte-for-byte per
  * the ESRI + dBase III specs, then read back through [[Shapefile.read]]
  * and the existing WKB ring kernels. */
class ShapefileSpec extends SparkSuite {
  import spark.implicits._

  // --- byte-level writers (test-only) ------------------------------------

  private def shpFile(records: Seq[Array[Byte]]): Array[Byte] = {
    val content = records.zipWithIndex.flatMap { case (rec, i) =>
      val hdr = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      hdr.putInt(i + 1).putInt(rec.length / 2)
      hdr.array().toSeq ++ rec.toSeq
    }
    val buf = ByteBuffer.allocate(100 + content.length)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(9994)
    buf.position(24); buf.putInt((100 + content.length) / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.position(28); buf.putInt(1000); buf.putInt(5)
    buf.position(100); buf.put(content.toArray)
    buf.array()
  }

  private def polygonRecord(rings: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val nPts = rings.map(_.length).sum
    val buf = ByteBuffer.allocate(4 + 32 + 8 + rings.length * 4 + nPts * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(5)
    (0 until 4).foreach(_ => buf.putDouble(0.0)) // bbox, unread
    buf.putInt(rings.length).putInt(nPts)
    var off = 0
    rings.foreach { r => buf.putInt(off); off += r.length }
    rings.foreach(_.foreach { case (x, y) => buf.putDouble(x).putDouble(y) })
    buf.array()
  }

  private def pointRecord(x: Double, y: Double): Array[Byte] = {
    val buf = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(1).putDouble(x).putDouble(y)
    buf.array()
  }

  private def nullRecord: Array[Byte] = {
    val buf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(0)
    buf.array()
  }

  private def dbfFile(fields: Seq[(String, Char, Int, Int)],
                      rows: Seq[Seq[String]]): Array[Byte] = {
    val headerSize = 32 + fields.length * 32 + 1
    val recSize = 1 + fields.map(_._3).sum
    val buf = ByteBuffer.allocate(headerSize + rows.length * recSize + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0, 0x03.toByte)
    buf.putInt(4, rows.length)
    buf.putShort(8, headerSize.toShort)
    buf.putShort(10, recSize.toShort)
    var off = 32
    fields.foreach { case (name, typ, len, dec) =>
      val nb = name.getBytes("ASCII")
      (0 until math.min(nb.length, 10)).foreach(i => buf.put(off + i, nb(i)))
      buf.put(off + 11, typ.toByte)
      buf.put(off + 16, len.toByte)
      buf.put(off + 17, dec.toByte)
      off += 32
    }
    buf.put(off, 0x0D.toByte)
    rows.zipWithIndex.foreach { case (row, r) =>
      var o = headerSize + r * recSize
      buf.put(o, ' '.toByte) // live record
      o += 1
      row.zip(fields).foreach { case (v, (_, _, len, _)) =>
        val padded = v.padTo(len, ' ').take(len).getBytes("ISO-8859-1")
        padded.indices.foreach(i => buf.put(o + i, padded(i)))
        o += len
      }
    }
    buf.array()
  }

  private def writeLayer(records: Seq[Array[Byte]],
                         fields: Seq[(String, Char, Int, Int)],
                         rows: Seq[Seq[String]]): String = {
    val dir = Files.createTempDirectory("shp")
    val base = dir.resolve("layer").toString
    Files.write(Paths.get(base + ".shp"), shpFile(records))
    if (fields.nonEmpty) Files.write(Paths.get(base + ".dbf"), dbfFile(fields, rows))
    base
  }

  // outer = clockwise (negative shoelace), hole = counter-clockwise
  private val outerCw = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0))
  private val holeCcw = Seq((2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (2.0, 6.0), (2.0, 2.0))

  test("polygon with hole -> WKB polygon, hole excluded from containment") {
    val base = writeLayer(
      Seq(polygonRecord(Seq(outerCw, holeCcw))),
      Seq(("plot_id", 'N', 6, 0), ("sbp", 'C', 10, 0)),
      Seq(Seq("   101", "moeras")))
    val df = Shapefile.read(spark, base)
    assert(df.columns.toSeq === Seq("plot_id", "sbp", "geometry"))
    val row = df.head()
    assert(row.getLong(0) === 101L && row.getString(1) === "moeras")

    val (typ, rings) = Wkb.decodeTyped(row.getAs[Array[Byte]]("geometry"))
    assert(typ === 3 && rings.length === 2)
    val (xss, yss) = (rings.map(_._1), rings.map(_._2))
    assert(GeoKernels.pointInRings(xss, yss, 1.0, 1.0))   // in outer, outside hole
    assert(!GeoKernels.pointInRings(xss, yss, 4.0, 4.0))  // inside the hole
    assert(!GeoKernels.pointInRings(xss, yss, 11.0, 4.0)) // outside
  }

  test("two outer rings -> WKB multipolygon; winding groups holes to parts") {
    val outer2 = Seq((20.0, 0.0), (20.0, 5.0), (25.0, 5.0), (25.0, 0.0), (20.0, 0.0))
    val base = writeLayer(
      Seq(polygonRecord(Seq(outerCw, holeCcw, outer2))), Seq.empty, Seq.empty)
    val (typ, rings) = Wkb.decodeTyped(
      Shapefile.read(spark, base).head().getAs[Array[Byte]]("geometry"))
    assert(typ === 6 && rings.length === 3)
    val (xss, yss) = (rings.map(_._1), rings.map(_._2))
    assert(GeoKernels.pointInRings(xss, yss, 22.0, 2.0)) // second part
    assert(!GeoKernels.pointInRings(xss, yss, 4.0, 4.0)) // hole still a hole
  }

  test("no winding info (all rings CCW) falls back to one polygon per ring") {
    val ccw1 = Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val ccw2 = Seq((20.0, 0.0), (25.0, 0.0), (25.0, 5.0), (20.0, 5.0), (20.0, 0.0))
    val base = writeLayer(Seq(polygonRecord(Seq(ccw1, ccw2))), Seq.empty, Seq.empty)
    val (typ, rings) = Wkb.decodeTyped(
      Shapefile.read(spark, base).head().getAs[Array[Byte]]("geometry"))
    assert(typ === 6 && rings.length === 2) // two parts, no hole nesting
    val (xss, yss) = (rings.map(_._1), rings.map(_._2))
    assert(GeoKernels.pointInRings(xss, yss, 5.0, 5.0))
    assert(GeoKernels.pointInRings(xss, yss, 22.0, 2.0))
  }

  test("point, null shape, and dbf typing (N/dec, L, empties)") {
    val base = writeLayer(
      Seq(pointRecord(3.5, -1.25), nullRecord),
      Seq(("area_ha", 'N', 8, 2), ("valid", 'L', 1, 0), ("note", 'C', 5, 0)),
      Seq(Seq("   12.50", "T", "ok"), Seq("", "?", "")))
    val df = Shapefile.read(spark, base)
    val rows = df.collect()
    assert(rows.length === 2)
    assert(rows(0).getDouble(0) === 12.5 && rows(0).getBoolean(1) === true
      && rows(0).getString(2) === "ok")
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1) && rows(1).isNullAt(2)
      && rows(1).isNullAt(3)) // null shape -> null geometry
    val (x, y) = {
      val (t, r) = Wkb.decodeTyped(rows(0).getAs[Array[Byte]]("geometry"))
      assert(t === 1)
      (r(0)._1(0), r(0)._2(0))
    }
    assert(x === 3.5 && y === -1.25)
  }

  test("reads a REAL ESRI-produced shapefile from the reference snapshot") {
    // processed/3260_steekproefkader: PolyLine layer (255 stream
    // segments, incl. 11 multi-part arcs), N/F/C dbf fields with
    // scientific-notation floats. The layer self-validates: the
    // Shape_Leng attribute is the planar geometry length, so the
    // decoded WKB must reproduce it on every record.
    val base = "/root/reference/processed/3260_steekproefkader/" +
      "steekproefkader_3260_v1_7_strata"
    assumeFiles(s"$base.shp", s"$base.dbf")
    val df = Shapefile.read(spark, base)
    assert(df.count() === 255)
    assert(df.schema("objectid_1").dataType.typeName === "long")
    assert(df.schema("shape_leng").dataType.typeName === "double")
    val rows = df.select("shape_leng", "geometry").collect()
    var multi = 0
    rows.foreach { r =>
      val published = r.getDouble(0)
      val (t, parts) = Wkb.decodeTyped(r.getAs[Array[Byte]](1))
      assert(t === 2 || t === 5)
      if (t === 5) multi += 1
      val len = parts.map { case (xs, ys) =>
        (1 until xs.length).map(i =>
          math.hypot(xs(i) - xs(i - 1), ys(i) - ys(i - 1))).sum
      }.sum
      assert(math.abs(len - published) / published < 1e-9,
        s"length $len vs published $published")
    }
    assert(multi === 11)
    // stratum attribute reads through
    assert(df.where(col("sbz") === "buiten").count() > 0)
  }

  test("wkb_envelope: vertex-derived bbox across geometry types") {
    // LineString: bbox of the chain
    val ls = Wkb.encodeLineString(Array(3.0, -1.0, 2.5), Array(0.0, 4.0, -2.0))
    // MultiPolygon: bbox over all parts/rings
    val mp = Wkb.encodeMultiPolygon(Seq(
      Seq((Array(0.0, 2.0, 2.0, 0.0), Array(0.0, 0.0, 2.0, 2.0))),
      Seq((Array(5.0, 7.0, 7.0), Array(5.0, 5.0, 9.0)))))
    val rows = Seq((1, ls), (2, mp), (3, Array[Byte](9, 9)))
      .toDF("id", "wkb")
      .select(col("id"), graft.geo.WkbFunctions.wkbEnvelope(col("wkb")).as("e"))
      .orderBy("id")
      .select(col("id"), col("e.xmin"), col("e.ymin"), col("e.xmax"), col("e.ymax"))
      .collect()
    assert(rows(0).getDouble(1) === -1.0 && rows(0).getDouble(2) === -2.0 &&
      rows(0).getDouble(3) === 3.0 && rows(0).getDouble(4) === 4.0)
    assert(rows(1).getDouble(1) === 0.0 && rows(1).getDouble(2) === 0.0 &&
      rows(1).getDouble(3) === 7.0 && rows(1).getDouble(4) === 9.0)
    assert(rows(2).isNullAt(1)) // malformed -> NULL, never a task failure
  }

  test("shapefile feeds the distributed PIP join path end-to-end") {
    val base = writeLayer(
      Seq(polygonRecord(Seq(outerCw, holeCcw))),
      Seq(("zone_id", 'N', 4, 0)), Seq(Seq("   7")))
    val zones = Shapefile.read(spark, base)
      .withColumn("rings", graft.geo.WkbFunctions.wkbToRings(col("geometry")))
    val pts = Seq((1, 1.0, 1.0), (2, 4.0, 4.0), (3, 20.0, 20.0))
      .toDF("pt_id", "x", "y")
    val joined = graft.geo.GeoJoin.pointInMultiPolygonJoin(
      pts, zones, "x", "y", "rings", cellSize = 10.0)
    val hits = joined.select("pt_id", "zone_id").as[(Int, Long)].collect().toSet
    assert(hits === Set((1, 7L))) // hole point and far point excluded
  }
}
