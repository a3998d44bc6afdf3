package graft

import graft.geo.{GeoKernels, GeoPackage, Wkb}
import org.apache.spark.sql.functions._

/** S7: GeoPackage ingestion against a committed .gpkg fixture
  * (habitatmap-shaped feature table; 302 features including a
  * multi-page b-tree, an overflow-chain row, and a polygon with a
  * hole). */
class GeoPackageSpec extends SparkSuite {
  import spark.implicits._

  private val path = getClass.getResource("/habitatmap.gpkg").getPath

  test("gpkg_contents lists feature and attribute tables") {
    assert(GeoPackage.tables(path).toSet ===
      Set(("habitatmap", "features"), ("survey_info", "attributes")))
  }

  test("attribute (geometry-less) table reads with typed nulls") {
    val df = GeoPackage.read(spark, path, "survey_info")
    assert(df.columns.toSeq === Seq("id", "survey_name", "plots", "mean_area"))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows(1).getString(1) === "moerassen" && rows(1).getDouble(3) === 8.25)
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(3))
  }

  test("feature table: schema, rowid alias, nulls, scale of rows") {
    val df = GeoPackage.read(spark, path, "habitatmap")
    assert(df.columns.toSeq ===
      Seq("fid", "polygon_id", "eval", "phab", "shape_area", "geom"))
    assert(df.count() === 302)
    // fid is INTEGER PRIMARY KEY -> stored as rowid, must be re-filled
    assert(df.where($"fid" === 1000).select("polygon_id").as[String].head()
      === "poly_hole")
    val noGeom = df.where($"polygon_id" === "poly_nogeom").head()
    assert(noGeom.isNullAt(2) && noGeom.isNullAt(3) && noGeom.isNullAt(5))
    // overflow-chain payload survives reassembly
    assert(df.where($"fid" === 1000).select("eval").as[String].head()
      === "x" * 9000)
  }

  test("geometry blobs decode to bare WKB through the ring kernels") {
    val df = GeoPackage.read(spark, path, "habitatmap")
    // envelope-less and enveloped headers both strip to the same WKB shape
    val g0 = df.where($"polygon_id" === "poly_0000")
      .select("geom").as[Array[Byte]].head()
    val (t0, rings0) = Wkb.decodeTyped(g0)
    assert(t0 === 3 && rings0.length === 1 && rings0(0)._1.length === 5)
    val g1 = df.where($"polygon_id" === "poly_0001")
      .select("geom").as[Array[Byte]].head()
    assert(Wkb.decodeTyped(g1)._1 === 3)

    val hole = df.where($"polygon_id" === "poly_hole")
      .select("geom").as[Array[Byte]].head()
    val (_, rings) = Wkb.decodeTyped(hole)
    assert(rings.length === 2)
    val (xss, yss) = (rings.map(_._1), rings.map(_._2))
    assert(GeoKernels.pointInRings(xss, yss, 5.0, 5.0))
    assert(!GeoKernels.pointInRings(xss, yss, 15.0, 15.0)) // in the hole
  }

  test("reads a REAL GDAL-produced GeoPackage from the reference snapshot") {
    // processed/design_watersurfaces: OGR writer, RTree spatial-index
    // extension tables, gpkg_ogr_contents, a hyphenated table name,
    // MEDIUMINT/BOOLEAN/REAL columns, enveloped GP headers over
    // MULTIPOLYGON WKB in EPSG:31370
    val real = "/root/reference/processed/design_watersurfaces/" +
      "mhq_standingwater_cycle2_2024-04-17.gpkg"
    assumeFiles(real)
    val name = "mhq_standingwater_cycle2_2024-04-17"
    assert(GeoPackage.tables(real).map(_._1) === Seq(name))
    val df = GeoPackage.read(spark, real, name)
    assert(df.count() === 260)
    assert(df.columns.take(3).toSeq === Seq("fid", "geom", "polygon_id"))
    val r = df.where($"polygon_id" === "ANTANT0234").head()
    assert(r.getAs[Long]("grts_ranking") === 3113917L)
    assert(r.getAs[String]("area_class") === "1 ha < area <= 5 ha")
    assert(r.getAs[String]("type_all") === "3130_na")
    // every geometry decodes to multipolygon rings with Lambert-72
    // coordinates inside the Flanders window
    val stats = df.where($"geom".isNotNull)
      .withColumn("rings", graft.geo.WkbFunctions.wkbToRings($"geom"))
      .select(
        count(lit(1)).as("n"),
        min(expr("array_min(transform(flatten(rings), p -> p.x))")).as("xmin"),
        max(expr("array_max(transform(flatten(rings), p -> p.x))")).as("xmax"),
        min(expr("array_min(transform(flatten(rings), p -> p.y))")).as("ymin"),
        max(expr("array_max(transform(flatten(rings), p -> p.y))")).as("ymax"))
      .head()
    assert(stats.getAs[Long]("n") === 260)
    assert(stats.getAs[Double]("xmin") > 20000 &&
      stats.getAs[Double]("xmax") < 270000)
    assert(stats.getAs[Double]("ymin") > 150000 &&
      stats.getAs[Double]("ymax") < 250000)
  }

  test("distributed area over the whole layer matches the fixture") {
    val df = GeoPackage.read(spark, path, "habitatmap")
      .where($"geom".isNotNull)
      .withColumn("rings", graft.geo.WkbFunctions.wkbToRings($"geom"))
      .withColumn("area", graft.geo.GeoFunctions.ringsArea($"rings"))
    val areas = df.groupBy($"polygon_id" === "poly_hole")
      .agg(sum("area").as("a")).as[(Boolean, Double)].collect().toMap
    assert(math.abs(areas(false) - 300 * 16.0) < 1e-9)
    assert(math.abs(areas(true) - (2500.0 - 100.0)) < 1e-9)
  }
}
