package graft
package queries

import graft.ops.Reshape
import graft.queries.Shared._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fieldmap, INBOVEG, VBI and geo queries (SURVEY.md §3): dendrometry
  * and volume tariffs, heath structure, the HT3260 header prep, LOQ
  * parsing, external variables, the INBOVEG JDBC facade, spatial joins,
  * CRS transforms, plot-segment geometry and the shapefile/GeoPackage
  * reference-snapshot reads. Each query is declared once, next to its
  * DuckDB oracle SQL. */
object FieldworkQueries {

  lazy val all: Seq[Query] = Seq(

    // ---- spatial point-in-polygon join (J11) via grid-index prefilter.
    // Deterministic synthetic geometry derived from the driver tables:
    // rectangle rings, so DuckDB can oracle the join with interval
    // predicates while Spark runs the generic ray-casting path. ----
    Query("q61_pip_join", (s, dir) => {
      val pts = t(s, dir, "customer").select(
        col("c_custkey").as("pid"),
        ((col("c_custkey") * 7) % 97).cast("double").as("x"),
        ((col("c_custkey") * 13) % 89).cast("double").as("y"))
      val rect = t(s, dir, "nation").select(
        col("n_nationkey").as("poly_id"),
        (((col("n_nationkey") * 11) % 80).cast("double") - 0.5).as("x0"),
        (((col("n_nationkey") * 17) % 70).cast("double") - 0.5).as("y0"))
        .withColumn("x1", col("x0") + 15.0)
        .withColumn("y1", col("y0") + 20.0)
      val polys = rect.select(col("poly_id"), array(
        struct(col("x0").as("x"), col("y0").as("y")),
        struct(col("x1").as("x"), col("y0").as("y")),
        struct(col("x1").as("x"), col("y1").as("y")),
        struct(col("x0").as("x"), col("y1").as("y"))).as("ring"))
      graft.geo.GeoJoin.pointInPolygonJoin(pts, polys, "x", "y", "ring", cellSize = 16.0)
        .select("pid", "poly_id")
    }, Some(
      """SELECT c_custkey AS pid, n_nationkey AS poly_id
        |FROM customer, nation
        |WHERE CAST((c_custkey * 7) % 97 AS DOUBLE) > CAST((n_nationkey * 11) % 80 AS DOUBLE) - 0.5
        |  AND CAST((c_custkey * 7) % 97 AS DOUBLE) < CAST((n_nationkey * 11) % 80 AS DOUBLE) - 0.5 + 15.0
        |  AND CAST((c_custkey * 13) % 89 AS DOUBLE) > CAST((n_nationkey * 17) % 70 AS DOUBLE) - 0.5
        |  AND CAST((c_custkey * 13) % 89 AS DOUBLE) < CAST((n_nationkey * 17) % 70 AS DOUBLE) - 0.5 + 20.0""".stripMargin)),

    // ---- spatial PIP join against MULTIPOLYGONS WITH HOLES (J11 on the
    // habitat-map shape, check_observed_habitat_type.Rmd:99,148): part A
    // is a rectangle with a rectangular hole, part B a disjoint
    // rectangle; even-odd containment over all three rings. Rectangles
    // keep it DuckDB-oracle-expressible with interval predicates while
    // Spark runs the generic even-odd ray-casting path. ----
    Query("q76_pip_multipolygon", (s, dir) => {
      val pts = t(s, dir, "customer").select(
        col("c_custkey").as("pid"),
        ((col("c_custkey") * 7) % 97).cast("double").as("x"),
        ((col("c_custkey") * 13) % 89).cast("double").as("y"))
      val rect = t(s, dir, "nation").select(
        col("n_nationkey").as("poly_id"),
        (((col("n_nationkey") * 11) % 80).cast("double") - 0.5).as("x0"),
        (((col("n_nationkey") * 17) % 70).cast("double") - 0.5).as("y0"))
      def p(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        struct(x.as("x"), y.as("y"))
      def rectRing(ax: org.apache.spark.sql.Column, ay: org.apache.spark.sql.Column,
                   bx: org.apache.spark.sql.Column, by: org.apache.spark.sql.Column) =
        array(p(ax, ay), p(bx, ay), p(bx, by), p(ax, by))
      val polys = rect.select(col("poly_id"), array(
        rectRing(col("x0"), col("y0"), col("x0") + 15.0, col("y0") + 20.0),
        rectRing(col("x0") + 4.0, col("y0") + 5.0, col("x0") + 8.0, col("y0") + 12.0),
        rectRing(col("x0") + 18.0, col("y0"), col("x0") + 24.0, col("y0") + 8.0)
      ).as("rings"))
      graft.geo.GeoJoin.pointInMultiPolygonJoin(pts, polys, "x", "y", "rings",
          cellSize = 16.0)
        .select("pid", "poly_id")
    }, Some(
      """WITH pts AS (
        |  SELECT c_custkey AS pid,
        |    CAST((c_custkey * 7) % 97 AS DOUBLE) AS x,
        |    CAST((c_custkey * 13) % 89 AS DOUBLE) AS y
        |  FROM customer),
        |rects AS (
        |  SELECT n_nationkey AS poly_id,
        |    CAST((n_nationkey * 11) % 80 AS DOUBLE) - 0.5 AS x0,
        |    CAST((n_nationkey * 17) % 70 AS DOUBLE) - 0.5 AS y0
        |  FROM nation)
        |SELECT pid, poly_id
        |FROM pts, rects
        |WHERE (x > x0 AND x < x0 + 15.0 AND y > y0 AND y < y0 + 20.0
        |       AND NOT (x > x0 + 4.0 AND x < x0 + 8.0 AND y > y0 + 5.0 AND y < y0 + 12.0))
        |   OR (x > x0 + 18.0 AND x < x0 + 24.0 AND y > y0 AND y < y0 + 8.0)""".stripMargin)),

    // ---- K1 plot-segment geometry: exact circle-clip areas + weights.
    // Oracle-checked: the Green's-theorem edge decomposition
    // (GeoKernels.circleIntersectionArea) is deterministic arithmetic, so
    // the DuckDB oracle replays the same per-edge formula and the weights
    // use exact fixed-point micro-m² so the per-plot sum is
    // accumulation-order independent on both engines. ----
    Query("q62_plot_segment_areas", (s, dir) => {
      val segs = t(s, dir, "part").select(
        (col("p_partkey") % 500).as("plot_id"),
        (col("p_partkey") / 500).cast("int").as("segment_id"),
        (col("p_size") % 12 - 6).cast("double").as("x0"),
        (col("p_partkey") % 9 - 4).cast("double").as("y0"))
        .withColumn("x1", col("x0") + 8.0)
        .withColumn("y1", col("y0") + 7.0)
        .select(col("plot_id"), col("segment_id"), array(
          struct(col("x0").as("x"), col("y0").as("y")),
          struct(col("x1").as("x"), col("y0").as("y")),
          struct(col("x1").as("x"), col("y1").as("y")),
          struct(col("x0").as("x"), col("y1").as("y"))).as("ring"))
      val byPlot = Window.partitionBy("plot_id")
      graft.pipelines.PlotSegments.withAreas(segs)
        .withColumn("a3_u", floor(col("area_a3_m2") * lit(1e6) + lit(0.5)).cast("long"))
        .withColumn("plot_u", sum(col("a3_u")).over(byPlot))
        .select(col("plot_id"), col("segment_id"),
          round6(col("area_a3_m2")).as("area_a3_m2"),
          round6(col("area_a4_m2")).as("area_a4_m2"),
          when(col("plot_u") > 0,
            round6(col("a3_u").cast("double") / col("plot_u").cast("double")))
            .as("segment_weight_a3"))
    }, Some(
      // q62: DuckDB replay of the Green's-theorem circle∩polygon edge
      // decomposition (GeoKernels.circleIntersectionArea, r = 9 at the
      // origin) over the same 4-edge rectangle rings; weights from exact
      // micro-m² fixed point so the per-plot sum is order-independent.
      """WITH seg AS (
        |  SELECT p_partkey % 500 AS plot_id,
        |         CAST(p_partkey // 500 AS INTEGER) AS segment_id,
        |         CAST(p_size % 12 - 6 AS DOUBLE) AS x0,
        |         CAST(p_partkey % 9 - 4 AS DOUBLE) AS y0
        |  FROM part),
        |ring AS (SELECT *, x0 + 8.0 AS x1, y0 + 7.0 AS y1 FROM seg),
        |edges AS (
        |  SELECT plot_id, segment_id, x0, y0, x1, y1, x0 AS ax, y0 AS ay, x1 AS bx, y0 AS by FROM ring
        |  UNION ALL SELECT plot_id, segment_id, x0, y0, x1, y1, x1, y0, x1, y1 FROM ring
        |  UNION ALL SELECT plot_id, segment_id, x0, y0, x1, y1, x1, y1, x0, y1 FROM ring
        |  UNION ALL SELECT plot_id, segment_id, x0, y0, x1, y1, x0, y1, x0, y0 FROM ring),
        |e1 AS (
        |  SELECT *, 81.0 AS r2, bx - ax AS dx, by - ay AS dy,
        |    ax*ax + ay*ay AS na, bx*bx + by*by AS nb,
        |    ax*by - ay*bx AS crossab, ax*bx + ay*by AS dotab
        |  FROM edges),
        |e2 AS (
        |  SELECT *, dx*dx + dy*dy AS a, 2*(ax*dx + ay*dy) AS b, na - r2 AS c,
        |    (na <= r2 + 1e-12) AS in1, (nb <= r2 + 1e-12) AS in2
        |  FROM e1),
        |e3 AS (SELECT *, b*b - 4*a*c AS disc FROM e2),
        |e4 AS (
        |  SELECT *,
        |    CASE WHEN disc > 0 THEN (-b - sqrt(disc))/(2*a) END AS t1,
        |    CASE WHEN disc > 0 THEN (-b + sqrt(disc))/(2*a) END AS t2
        |  FROM e3),
        |e5 AS (
        |  SELECT *,
        |    CASE WHEN t1 > 0 AND t1 < 1 THEN t1 ELSE t2 END AS t_exit,
        |    CASE WHEN t2 > 0 AND t2 < 1 THEN t2 ELSE t1 END AS t_enter
        |  FROM e4),
        |e6 AS (
        |  SELECT *,
        |    ax + t_exit*dx AS xx, ay + t_exit*dy AS xy,
        |    ax + t_enter*dx AS ex, ay + t_enter*dy AS ey,
        |    ax + t1*dx AS p1x, ay + t1*dy AS p1y,
        |    ax + t2*dx AS p2x, ay + t2*dy AS p2y
        |  FROM e5),
        |contrib AS (
        |  SELECT plot_id, segment_id, x0, y0, x1, y1,
        |    CASE
        |      WHEN a < 1e-24 THEN 0.0
        |      WHEN in1 AND in2 THEN crossab/2.0
        |      WHEN disc <= 0 THEN 0.5*r2*atan2(crossab, dotab)
        |      WHEN in1 AND NOT in2 THEN
        |        (ax*xy - ay*xx)/2.0 + 0.5*r2*atan2(xx*by - xy*bx, xx*bx + xy*by)
        |      WHEN NOT in1 AND in2 THEN
        |        0.5*r2*atan2(ax*ey - ay*ex, ax*ex + ay*ey) + (ex*by - ey*bx)/2.0
        |      WHEN t1 > 0 AND t1 < 1 AND t2 > 0 AND t2 < 1 AND t2 > t1 THEN
        |        0.5*r2*atan2(ax*p1y - ay*p1x, ax*p1x + ay*p1y)
        |        + (p1x*p2y - p1y*p2x)/2.0
        |        + 0.5*r2*atan2(p2x*by - p2y*bx, p2x*bx + p2y*by)
        |      ELSE 0.5*r2*atan2(crossab, dotab)
        |    END AS contribution
        |  FROM e6),
        |areas AS (
        |  SELECT plot_id, segment_id,
        |    abs(sum(contribution)) AS a3,
        |    abs(((any_value(x0) + any_value(x0))*(any_value(y0) - any_value(y1))
        |       + (any_value(x1) + any_value(x1))*(any_value(y1) - any_value(y0)))/2.0) AS a4
        |  FROM contrib GROUP BY plot_id, segment_id),
        |fixedpt AS (
        |  SELECT *, CAST(floor(a3*1e6 + 0.5) AS BIGINT) AS a3_u FROM areas),
        |weighted AS (
        |  SELECT *, sum(a3_u) OVER (PARTITION BY plot_id) AS plot_u FROM fixedpt)
        |SELECT plot_id, segment_id,
        |  floor(a3*1e6 + 0.5)/1e6 AS area_a3_m2,
        |  floor(a4*1e6 + 0.5)/1e6 AS area_a4_m2,
        |  CASE WHEN plot_u > 0
        |       THEN floor((CAST(a3_u AS DOUBLE)/CAST(plot_u AS DOUBLE))*1e6 + 0.5)/1e6
        |  END AS segment_weight_a3
        |FROM weighted""".stripMargin)),

    // ---- CRS transform 31370 <-> 4326. Oracle-checked: the whole chain
    // (LCC-2SP inverse with its 16-step fixed iteration, ECEF, 7-param
    // Helmert, 20-step geodetic iteration, and back) is a fixed formula
    // sequence over EPSG registry constants, replayed verbatim in the
    // DuckDB oracle with recursive CTEs for the iterations. ----
    Query("q63_crs_roundtrip", (s, dir) => {
      val pts = t(s, dir, "supplier").select(
        col("s_suppkey"),
        (lit(140000.0) + col("s_suppkey") * 100).as("x"),
        (lit(160000.0) + col("s_suppkey") * 80).as("y"))
      pts.withColumn("wgs", graft.geo.GeoFunctions.toWgs84(col("x"), col("y")))
        .withColumn("back", graft.geo.GeoFunctions.toLambert72(
          col("wgs.lon"), col("wgs.lat")))
        .select(col("s_suppkey"),
          (floor(col("wgs.lon") * lit(1e7) + lit(0.5)) / lit(1e7)).as("lon"),
          (floor(col("wgs.lat") * lit(1e7) + lit(0.5)) / lit(1e7)).as("lat"),
          round6(abs(col("back.x") - col("x")) + abs(col("back.y") - col("y")))
            .as("roundtrip_err_m"))
    }, Some(
      // q63: DuckDB replay of the Lambert-72 <-> WGS84 chain
      // (GeoKernels.lambert72ToWgs84 / wgs84ToLambert72): same EPSG
      // constants, same fixed iteration counts (16 LCC / 20+20 geodetic)
      // via recursive CTEs, same Java toRadians/toDegrees multipliers.
      """WITH RECURSIVE const AS (
        |  SELECT 6378388.0 AS ai,
        |    2.0*(1.0/297.0) - (1.0/297.0)*(1.0/297.0) AS e2i,
        |    sqrt(2.0*(1.0/297.0) - (1.0/297.0)*(1.0/297.0)) AS ei,
        |    6378137.0 AS aw,
        |    2.0*(1.0/298.257223563) - (1.0/298.257223563)*(1.0/298.257223563) AS e2w,
        |    (49.0 + 50.0/60 + 0.00204/3600) * 0.017453292519943295 AS phi1,
        |    (51.0 + 10.0/60 + 0.00204/3600) * 0.017453292519943295 AS phi2,
        |    90.0 * 0.017453292519943295 AS phi0,
        |    (4.0 + 22.0/60 + 2.952/3600) * 0.017453292519943295 AS lam0,
        |    150000.013 AS xoff, 5400088.438 AS yoff,
        |    -106.8686 AS htx, 52.2978 AS hty, -103.7239 AS htz,
        |    (-0.3366/3600) * 0.017453292519943295 AS hrx,
        |    (0.457/3600) * 0.017453292519943295 AS hry,
        |    (-1.8422/3600) * 0.017453292519943295 AS hrz,
        |    1.0 + (-1.2747e-6) AS hs),
        |const2 AS (
        |  SELECT *,
        |    cos(phi1)/sqrt(1 - e2i*sin(phi1)*sin(phi1)) AS m1,
        |    cos(phi2)/sqrt(1 - e2i*sin(phi2)*sin(phi2)) AS m2,
        |    tan(pi()/4 - phi1/2) / pow((1 - ei*sin(phi1))/(1 + ei*sin(phi1)), ei/2) AS tf1,
        |    tan(pi()/4 - phi2/2) / pow((1 - ei*sin(phi2))/(1 + ei*sin(phi2)), ei/2) AS tf2,
        |    tan(pi()/4 - phi0/2) / pow((1 - ei*sin(phi0))/(1 + ei*sin(phi0)), ei/2) AS tf0
        |  FROM const),
        |const3 AS (SELECT *, (ln(m1) - ln(m2))/(ln(tf1) - ln(tf2)) AS n FROM const2),
        |const4 AS (SELECT *, m1/(n * pow(tf1, n)) AS ff FROM const3),
        |cc AS (SELECT *, CASE WHEN tf0 <= 0 THEN 0.0 ELSE ai*ff*pow(tf0, n) END AS rho0 FROM const4),
        |pts AS (
        |  SELECT s_suppkey, 140000.0 + s_suppkey*100 AS x, 160000.0 + s_suppkey*80 AS y
        |  FROM supplier),
        |prep AS (
        |  SELECT p.s_suppkey, p.x, p.y, c.*,
        |    p.x - c.xoff AS dx, c.rho0 - (p.y - c.yoff) AS dy
        |  FROM pts p CROSS JOIN cc c),
        |prep2 AS (
        |  SELECT *, sign(n)*sqrt(dx*dx + dy*dy) AS rho, atan2(dx, dy) AS theta FROM prep),
        |prep3 AS (SELECT *, pow(rho/(ai*ff), 1.0/n) AS tt FROM prep2),
        |inv(it, s_suppkey, phi) AS (
        |  SELECT 0, s_suppkey, pi()/2 - 2*atan(tt) FROM prep3
        |  UNION ALL
        |  SELECT i.it + 1, i.s_suppkey,
        |    pi()/2 - 2*atan(p.tt * pow((1 - p.ei*sin(i.phi))/(1 + p.ei*sin(i.phi)), p.ei/2))
        |  FROM inv i JOIN prep3 p ON i.s_suppkey = p.s_suppkey WHERE i.it < 16),
        |geo AS (
        |  SELECT p.*, i.phi AS phib, p.theta/p.n + p.lam0 AS lamb
        |  FROM prep3 p JOIN inv i ON i.s_suppkey = p.s_suppkey AND i.it = 16),
        |ecef1 AS (
        |  SELECT *, ai/sqrt(1 - e2i*sin(phib)*sin(phib)) AS nu1 FROM geo),
        |ecef2 AS (
        |  SELECT *,
        |    nu1*cos(phib)*cos(lamb) AS gx, nu1*cos(phib)*sin(lamb) AS gy,
        |    nu1*(1 - e2i)*sin(phib) AS gz
        |  FROM ecef1),
        |helm AS (
        |  SELECT *,
        |    htx + hs*(gx + hrz*gy - hry*gz) AS wx,
        |    hty + hs*(-hrz*gx + gy + hrx*gz) AS wy,
        |    htz + hs*(hry*gx - hrx*gy + gz) AS wz
        |  FROM ecef2),
        |g2 AS (
        |  SELECT *, atan2(wy, wx) AS lamw, sqrt(wx*wx + wy*wy) AS pw FROM helm),
        |wgs(it, s_suppkey, phi) AS (
        |  SELECT 0, s_suppkey, atan2(wz, pw*(1 - e2w)) FROM g2
        |  UNION ALL
        |  SELECT i.it + 1, i.s_suppkey,
        |    atan2(g.wz + g.e2w*(g.aw/sqrt(1 - g.e2w*sin(i.phi)*sin(i.phi)))*sin(i.phi), g.pw)
        |  FROM wgs i JOIN g2 g ON i.s_suppkey = g.s_suppkey WHERE i.it < 20),
        |fwd AS (
        |  SELECT g.*, w.phi AS phiw,
        |    g.lamw * 57.29577951308232 AS lon_deg,
        |    w.phi * 57.29577951308232 AS lat_deg
        |  FROM g2 g JOIN wgs w ON w.s_suppkey = g.s_suppkey AND w.it = 20),
        |back0 AS (
        |  SELECT *,
        |    lat_deg * 0.017453292519943295 AS phb,
        |    lon_deg * 0.017453292519943295 AS lmb
        |  FROM fwd),
        |back1 AS (
        |  SELECT *, aw/sqrt(1 - e2w*sin(phb)*sin(phb)) AS nu2 FROM back0),
        |back2 AS (
        |  SELECT *,
        |    nu2*cos(phb)*cos(lmb) AS cx, nu2*cos(phb)*sin(lmb) AS cy,
        |    nu2*(1 - e2w)*sin(phb) AS cz
        |  FROM back1),
        |back3 AS (
        |  SELECT *, (cx - htx)/hs AS xs, (cy - hty)/hs AS ys, (cz - htz)/hs AS zs FROM back2),
        |back4 AS (
        |  SELECT *,
        |    xs - hrz*ys + hry*zs AS ix, hrz*xs + ys - hrx*zs AS iy,
        |    -hry*xs + hrx*ys + zs AS iz
        |  FROM back3),
        |back5 AS (
        |  SELECT *, atan2(iy, ix) AS lami, sqrt(ix*ix + iy*iy) AS pi2 FROM back4),
        |intl(it, s_suppkey, phi) AS (
        |  SELECT 0, s_suppkey, atan2(iz, pi2*(1 - e2i)) FROM back5
        |  UNION ALL
        |  SELECT i.it + 1, i.s_suppkey,
        |    atan2(b.iz + b.e2i*(b.ai/sqrt(1 - b.e2i*sin(i.phi)*sin(i.phi)))*sin(i.phi), b.pi2)
        |  FROM intl i JOIN back5 b ON i.s_suppkey = b.s_suppkey WHERE i.it < 20),
        |back6 AS (
        |  SELECT b.*, n.phi AS phii
        |  FROM back5 b JOIN intl n ON n.s_suppkey = b.s_suppkey AND n.it = 20),
        |back7 AS (
        |  SELECT *,
        |    tan(pi()/4 - phii/2) / pow((1 - ei*sin(phii))/(1 + ei*sin(phii)), ei/2) AS tfi
        |  FROM back6),
        |back8 AS (
        |  SELECT *, ai*ff*pow(tfi, n) AS rhof, n*(atan2(iy, ix) - lam0) AS thetaf FROM back7),
        |back9 AS (
        |  SELECT *, xoff + rhof*sin(thetaf) AS bx, yoff + rho0 - rhof*cos(thetaf) AS byy FROM back8)
        |SELECT s_suppkey,
        |  floor(lon_deg*1e7 + 0.5)/1e7 AS lon,
        |  floor(lat_deg*1e7 + 0.5)/1e7 AS lat,
        |  floor((abs(bx - x) + abs(byy - y))*1e6 + 0.5)/1e6 AS roundtrip_err_m
        |FROM back9 ORDER BY s_suppkey""".stripMargin)),

    // ---- E2 LOQ/numeric/class parsing of raw qualifier strings:
    // decimal-comma numerics, "<"/">"-marked LOQ values, class codes —
    // value strings synthesized deterministically from lineitem ----
    Query("q68_loq_parsing", (s, dir) => {
      val raw = t(s, dir, "lineitem")
        .where(col("l_linenumber") === 1)
        .select(col("l_orderkey"),
          when(col("l_quantity") < 10, concat(lit("<"), translate(col("l_quantity").cast("string"), ".", ",")))
            .when(col("l_quantity") > 45, concat(lit("> "), translate(col("l_quantity").cast("string"), ".", ",")))
            .when(col("l_quantity") % 2 === 0, concat(lit("K"), (col("l_quantity") % 5).cast("int").cast("string")))
            .otherwise(translate(col("l_quantity").cast("string"), ".", ","))
            .as("value"))
      graft.pipelines.Inboveg.loqAdjusted(
          graft.pipelines.Inboveg.parseStructureValues(raw))
        .select(col("l_orderkey"), col("value"), col("is_below_LOQ"),
          col("is_above_LOQ"), col("is_numeric"), col("value_numeric"),
          col("value_adjusted"))
    }, Some(
      """WITH raw AS (
        |  SELECT l_orderkey,
        |    CASE WHEN l_quantity < 10 THEN '<' || replace(CAST(l_quantity AS VARCHAR), '.', ',')
        |         WHEN l_quantity > 45 THEN '> ' || replace(CAST(l_quantity AS VARCHAR), '.', ',')
        |         WHEN l_quantity % 2 = 0 THEN 'K' || CAST(CAST(l_quantity % 5 AS INTEGER) AS VARCHAR)
        |         ELSE replace(CAST(l_quantity AS VARCHAR), '.', ',') END AS value
        |  FROM lineitem WHERE l_linenumber = 1),
        |parsed AS (
        |  SELECT l_orderkey, value,
        |    starts_with(trim(value), '<') AS is_below_LOQ,
        |    starts_with(trim(value), '>') AS is_above_LOQ,
        |    replace(regexp_replace(trim(value), '^[<>]\s*', ''), ',', '.') AS stripped
        |  FROM raw)
        |SELECT l_orderkey, value, is_below_LOQ, is_above_LOQ,
        |  regexp_matches(stripped, '^[0-9]+(\.[0-9]+)?$') AS is_numeric,
        |  CASE WHEN regexp_matches(stripped, '^[0-9]+(\.[0-9]+)?$')
        |       THEN CAST(stripped AS DOUBLE) END AS value_numeric,
        |  CASE WHEN is_below_LOQ AND regexp_matches(stripped, '^[0-9]+(\.[0-9]+)?$')
        |       THEN CAST(stripped AS DOUBLE) / 2
        |       WHEN regexp_matches(stripped, '^[0-9]+(\.[0-9]+)?$')
        |       THEN CAST(stripped AS DOUBLE) END AS value_adjusted
        |FROM parsed""".stripMargin)),

    // ---- E4 external-variables pipeline (process_external_data.Rmd):
    // PIP join to the habitat map + broadcast cluster/type dictionary
    // joins (q123, the msa flow Rmd:117-126) and the paired-coordinate
    // QA distance (q124, Rmd:96-106). Same rectangle-ring harness as
    // q61: Spark runs the generic even-odd ray cast, the oracle
    // expresses containment as interval predicates (half-integer
    // edges, integer coordinates — no boundary ambiguity). ----
    Query("q123_extra_vars_msa", (s, dir) => {
      val pts = t(s, dir, "customer").select(
        col("c_custkey").as("plot_id"),
        (col("c_custkey") % 2 + 2).as("periode"),
        ((col("c_custkey") * 7) % 97).cast("double").as("x"),
        ((col("c_custkey") * 13) % 89).cast("double").as("y"))
      val polys = t(s, dir, "nation").select(
        col("n_nationkey").as("polygon_id"),
        (((col("n_nationkey") * 11) % 80).cast("double") - 0.5).as("x0"),
        (((col("n_nationkey") * 17) % 70).cast("double") - 0.5).as("y0"))
        .withColumn("x1", col("x0") + 15.0)
        .withColumn("y1", col("y0") + 20.0)
        .select(col("polygon_id"), array(
          struct(col("x0").as("x"), col("y0").as("y")),
          struct(col("x1").as("x"), col("y0").as("y")),
          struct(col("x1").as("x"), col("y1").as("y")),
          struct(col("x0").as("x"), col("y1").as("y"))).as("ring"))
      val clusters = t(s, dir, "nation").select(
        col("n_nationkey").as("polygon_id"),
        (col("n_nationkey") % 7).as("cluster_id"))
      val types = t(s, dir, "nation").where(col("n_nationkey") < 7).select(
        col("n_nationkey").as("cluster_id"),
        concat(lit("T"), col("n_nationkey") % 3).as("type"),
        ((col("n_nationkey") + 1).cast("double") * 1.5).as("msa_area_ha"))
      graft.pipelines.ExtraVars.msa(pts, polys, clusters, types,
        Seq("plot_id", "periode", "type", "msa_area_ha"), cellSize = 16.0)
    }, Some(
      // q123: extra-vars msa — rectangle PIP as interval predicates
      // (Spark side runs the generic even-odd ray cast), broadcast
      // cluster/type dictionary joins, distinct.
      """WITH pts AS (
        |  SELECT c_custkey AS plot_id, c_custkey % 2 + 2 AS periode,
        |    CAST((c_custkey * 7) % 97 AS DOUBLE) AS x,
        |    CAST((c_custkey * 13) % 89 AS DOUBLE) AS y
        |  FROM customer),
        |polys AS (
        |  SELECT n_nationkey AS polygon_id,
        |    CAST((n_nationkey * 11) % 80 AS DOUBLE) - 0.5 AS x0,
        |    CAST((n_nationkey * 17) % 70 AS DOUBLE) - 0.5 AS y0
        |  FROM nation),
        |hits AS (
        |  SELECT p.plot_id, p.periode, q.polygon_id
        |  FROM pts p JOIN polys q
        |    ON p.x > q.x0 AND p.x < q.x0 + 15.0
        |   AND p.y > q.y0 AND p.y < q.y0 + 20.0),
        |clus AS (
        |  SELECT n_nationkey AS polygon_id, n_nationkey % 7 AS cluster_id
        |  FROM nation),
        |typ AS (
        |  SELECT n_nationkey AS cluster_id,
        |    'T' || (n_nationkey % 3) AS type,
        |    CAST(n_nationkey + 1 AS DOUBLE) * 1.5 AS msa_area_ha
        |  FROM nation WHERE n_nationkey < 7)
        |SELECT DISTINCT plot_id, periode, type, msa_area_ha
        |FROM hits
        |LEFT JOIN clus USING (polygon_id)
        |LEFT JOIN typ USING (cluster_id)
        |WHERE msa_area_ha IS NOT NULL""".stripMargin)),

    Query("q124_coord_paired_check", (s, dir) => {
      val coords = t(s, dir, "customer").select(
        expr("c_custkey div 2").as("idplots"),
        (col("c_custkey") % 2 + 2).as("periode"),
        when(expr("c_custkey div 2") % 5 === 0, lit(null).cast("long"))
          .otherwise(expr("c_custkey div 2") % 13).as("idgroup"),
        concat(lit("ht"), col("c_custkey") % 4).as("type"),
        ((col("c_custkey") * 7) % 97).cast("double").as("x"),
        ((col("c_custkey") * 13) % 89).cast("double").as("y"))
      graft.pipelines.ExtraVars.pairedCoordinateDistance(coords, 2, 3)
    }, Some(
      // q124: paired-coordinate QA distance — single aggregation with
      // conditional-max cycle pivots, idgroup-carrying rows only feed
      // the pivots while the period count spans all rows.
      """WITH c AS (
        |  SELECT c_custkey // 2 AS idplots, c_custkey % 2 + 2 AS periode,
        |    CASE WHEN (c_custkey // 2) % 5 = 0 THEN NULL
        |         ELSE (c_custkey // 2) % 13 END AS idgroup,
        |    'ht' || (c_custkey % 4) AS type,
        |    CAST((c_custkey * 7) % 97 AS DOUBLE) AS x,
        |    CAST((c_custkey * 13) % 89 AS DOUBLE) AS y
        |  FROM customer),
        |k AS (SELECT * FROM c WHERE periode > 1),
        |agg AS (
        |  SELECT idplots, count(DISTINCT periode) AS nc,
        |    max(idgroup) AS idgroup,
        |    max(CASE WHEN periode = 2 AND idgroup IS NOT NULL THEN x END) AS x_2,
        |    max(CASE WHEN periode = 2 AND idgroup IS NOT NULL THEN y END) AS y_2,
        |    max(CASE WHEN periode = 2 AND idgroup IS NOT NULL THEN type END) AS type_2,
        |    max(CASE WHEN periode = 3 AND idgroup IS NOT NULL THEN x END) AS x_3,
        |    max(CASE WHEN periode = 3 AND idgroup IS NOT NULL THEN y END) AS y_3,
        |    max(CASE WHEN periode = 3 AND idgroup IS NOT NULL THEN type END) AS type_3
        |  FROM k GROUP BY idplots)
        |SELECT idplots, idgroup, x_2, y_2, type_2, x_3, y_3, type_3,
        |  sqrt(pow(x_2 - x_3, 2) + pow(y_2 - y_3, 2)) AS distance
        |FROM agg WHERE nc >= 2 AND idgroup IS NOT NULL""".stripMargin)),

    // ---- S3 oracle gate (q145): the INBOVEG survey facade driven
    // over real JDBC — survey/recording/classification entities loaded
    // into embedded Derby, registered as lowercase-normalized
    // JdbcTableSources, and extracted through
    // InbovegSource.classification (query_inboveg.Rmd:36-64; in
    // production the broadcast survey scoping pushes IN-filters into
    // the remote scan). The oracle replays the survey-scoped two-join
    // chain from raw parquet. ----
    Query("q145_inboveg_jdbc", (s, dir) => {
      val url = "jdbc:derby:memory:q145;create=true"
      val props = new java.util.Properties
      def lc(tbl: String) = graft.core.LowercaseSource(
        graft.core.JdbcTableSource(url, tbl))
      // the three fixture loads write to INDEPENDENT Derby tables —
      // run them on driver threads so the single-task JDBC insert
      // jobs overlap instead of serializing (guide §2.6, r22);
      // batchsize 10k cuts the executeBatch round trips ~10× on the
      // 60k-row classification table. Loaded tables are identical.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val loads = Seq(
        Future(t(s, dir, "region").select(
            col("r_regionkey").as("SURVEY_ID"),
            concat(lit("HT"), col("r_regionkey")).as("NAME"))
          .coalesce(1).write.mode("overwrite")
          .option("createTableColumnTypes", "NAME VARCHAR(32)")
          .option("batchsize", "10000")
          .jdbc(url, "inboveg_survey", props)),
        Future(t(s, dir, "customer").select(
            concat(lit("IV"), col("c_custkey")).as("RECORDING_GIVID"),
            (col("c_custkey") % 5).cast("int").as("SURVEY_ID"),
            col("c_name").as("USER_REFERENCE"))
          .coalesce(1).write.mode("overwrite")
          .option("createTableColumnTypes",
            "RECORDING_GIVID VARCHAR(32), USER_REFERENCE VARCHAR(64)")
          .option("batchsize", "10000")
          .jdbc(url, "inboveg_recording", props)),
        Future(t(s, dir, "orders").select(
            concat(lit("IV"), col("o_custkey")).as("RECORDING_GIVID"),
            when(col("o_orderkey") % 3 === 0, "3260").otherwise("gh").as("CLASSIF"),
            when(col("o_orderkey") % 2 === 0, "N2k").otherwise("BWK").as("ACTION_GROUP"),
            col("o_orderpriority").as("LIST_NAME"),
            (col("o_orderkey") % 100).cast("double").as("COVER"))
          .coalesce(1).write.mode("overwrite")
          .option("createTableColumnTypes",
            "RECORDING_GIVID VARCHAR(32), CLASSIF VARCHAR(8), " +
              "ACTION_GROUP VARCHAR(8), LIST_NAME VARCHAR(32)")
          .option("batchsize", "10000")
          .jdbc(url, "inboveg_classification", props)))
      loads.foreach(Await.result(_, Duration.Inf))
      val reg = graft.core.SourceRegistry(Map(
        "inboveg_survey" -> lc("inboveg_survey"),
        "inboveg_recording" -> lc("inboveg_recording"),
        "inboveg_classification" -> lc("inboveg_classification")))
      graft.core.InbovegSource(reg, Seq("HT1", "HT3")).classification(s)
    }, Some(
      // q145: the survey-scoped INBOVEG extract chain replayed from raw
      // parquet — survey dim from region, recordings from customer,
      // classifications from orders, scoped to surveys HT1/HT3.
      """SELECT 'IV' || o_custkey AS recording_givid,
        | 'HT' || r_regionkey AS survey,
        | CASE WHEN o_orderkey % 3 = 0 THEN '3260' ELSE 'gh' END AS type_observed,
        | CASE WHEN o_orderkey % 2 = 0 THEN 'N2k' ELSE 'BWK' END AS classif_type,
        | o_orderpriority AS classif_key,
        | CAST(o_orderkey % 100 AS DOUBLE) AS type_cover
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN region ON c_custkey % 5 = r_regionkey
        |WHERE r_regionkey IN (1, 3)""".stripMargin)),

    // ---- data-questions ROI overlay (data_heide_groot_schietveld.Rmd:
    // 31-46 + data_questions.Rmd:54-70): the LAST reference entry point
    // without an end-to-end gate — REAL shapefile read (S6, the 3260
    // sampling frame's 255 stream-segment polylines) → vertex-derived
    // envelope (WkbEnvelope) → rectangular ROI rings → st_join-style
    // PIP overlay of measurement points (grid-cell bucketed broadcast
    // join, the J11 path) with the link_mhq coalesce idiom → the
    // check_paired two-level visit summary plus per-stratum frame
    // totals (exact integer sums) and a sampling-intensity ratio.
    // The DuckDB oracle replays it over RoiFixture3260 — the SAME
    // shapefile parsed by an INDEPENDENT Python struct-unpacker — so a
    // reader bug (coordinate order, record skipping, dbf decode) is a
    // visible mismatch, not a replayed one. ----
    Query("q158_roi_overlay", (s, dir) => {
      val base = Steekproefkader3260.stripSuffix(".shp")
      val roi = graft.geo.Shapefile.read(s, base)
        .select(col("objectid_1").as("segment_id"), col("sbz"),
          col("shape_leng"),
          graft.geo.WkbFunctions.wkbEnvelope(col("geometry")).as("env"))
        .where(col("env").isNotNull)
        .select(col("segment_id"), col("sbz"), col("shape_leng"),
          col("env.xmin").as("x0"), col("env.ymin").as("y0"),
          col("env.xmax").as("x1"), col("env.ymax").as("y1"))
      val rings = roi.select(col("segment_id"), col("sbz"),
        array(struct(col("x0").as("x"), col("y0").as("y")),
          struct(col("x1").as("x"), col("y0").as("y")),
          struct(col("x1").as("x"), col("y1").as("y")),
          struct(col("x0").as("x"), col("y1").as("y"))).as("ring"))
      // refpoints: deterministic Lambert-72 coords inside the frame's
      // window; measurements: one row per order, visit date =
      // o_orderdate, link_mhq = the user_reference-else-db_ref idiom
      val refpoints = t(s, dir, "customer").select(
        col("c_custkey").as("plot_id"),
        (lit(33000.0) + (col("c_custkey") * 37 % 1009).cast("double")
          / lit(1009.0) * lit(224100.0)).as("x"),
        (lit(157400.0) + (col("c_custkey") * 61 % 997).cast("double")
          / lit(997.0) * lit(86100.0)).as("y"))
      val meas = t(s, dir, "orders").select(
          col("o_custkey").as("plot_id"),
          col("o_orderdate").as("date_assessment"),
          when(col("o_custkey") % 3 === 0,
            concat(lit("REF_"), col("o_custkey"))).as("user_reference"),
          concat(lit("DB_"), col("o_orderkey")).as("db_ref"))
        .withColumn("link_mhq",
          coalesce(col("user_reference"), col("db_ref")))
        .join(refpoints, "plot_id")
      val hits = graft.geo.GeoJoin.pointInPolygonJoin(
        meas, rings, "x", "y", "ring", cellSize = 4096.0)
      val perPlot = hits.groupBy(col("sbz"), col("plot_id"))
        .agg(count_distinct(col("date_assessment")).as("n_visits"),
          count_distinct(col("link_mhq")).as("n_links_plot"))
      val visits = perPlot.groupBy("sbz").agg(
        sum(col("n_visits")).as("n_records"),
        count(lit(1)).as("n_plots"),
        sum(when(col("n_visits") >= 2, 1L).otherwise(0L)).as("n_repeated_plots"),
        sum(col("n_links_plot")).as("n_links"))
      val frame = roi.groupBy("sbz").agg(
        count(lit(1)).as("n_segments"),
        sum(floor(col("shape_leng") * lit(1e6) + lit(0.5)).cast("long"))
          .as("length_micros"),
        sum(floor((col("x1") - col("x0")) * (col("y1") - col("y0"))
          * lit(100.0) + lit(0.5)).cast("long")).as("bbox_area_dm2"))
      frame.join(visits, Seq("sbz"), "left")
        .withColumn("points_per_km_micros",
          floor(col("n_records").cast("double")
            / (col("length_micros").cast("double") / lit(1.0e9))
            * lit(1e6) + lit(0.5)).cast("long"))
    }, Some(
      // q158: the ROI overlay replayed over the INDEPENDENTLY-parsed
      // shapefile fixture (strict-inequality interval PIP mirrors the
      // ray-cast for points never exactly on a boundary, the q61/q76
      // convention); same two-level visit summary and exact integer
      // frame sums, same left-join tail.
      s"""WITH roi AS (SELECT * FROM ${graft.geo.RoiFixture3260.valuesSql}),
         |pts AS (
         |  SELECT c_custkey AS plot_id,
         |    33000.0 + CAST((c_custkey * 37) % 1009 AS DOUBLE) / 1009.0 * 224100.0 AS x,
         |    157400.0 + CAST((c_custkey * 61) % 997 AS DOUBLE) / 997.0 * 86100.0 AS y
         |  FROM customer),
         |meas AS (
         |  SELECT o_custkey AS plot_id, o_orderdate AS date_assessment,
         |    COALESCE(CASE WHEN o_custkey % 3 = 0 THEN 'REF_' || o_custkey END,
         |             'DB_' || o_orderkey) AS link_mhq
         |  FROM orders),
         |hits AS (
         |  SELECT roi.sbz, m.plot_id, m.date_assessment, m.link_mhq
         |  FROM meas m JOIN pts USING (plot_id) JOIN roi
         |    ON pts.x > roi.xmin AND pts.x < roi.xmax
         |   AND pts.y > roi.ymin AND pts.y < roi.ymax),
         |per_plot AS (
         |  SELECT sbz, plot_id,
         |    CAST(count(DISTINCT date_assessment) AS BIGINT) AS n_visits,
         |    CAST(count(DISTINCT link_mhq) AS BIGINT) AS n_links_plot
         |  FROM hits GROUP BY 1, 2),
         |visits AS (
         |  SELECT sbz, CAST(sum(n_visits) AS BIGINT) AS n_records,
         |    CAST(count(*) AS BIGINT) AS n_plots,
         |    CAST(sum(CASE WHEN n_visits >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated_plots,
         |    CAST(sum(n_links_plot) AS BIGINT) AS n_links
         |  FROM per_plot GROUP BY 1),
         |frame AS (
         |  SELECT sbz, CAST(count(*) AS BIGINT) AS n_segments,
         |    CAST(sum(CAST(floor(shape_leng * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS length_micros,
         |    CAST(sum(CAST(floor((xmax - xmin) * (ymax - ymin) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS bbox_area_dm2
         |  FROM roi GROUP BY 1)
         |SELECT f.sbz, f.n_segments, f.length_micros, f.bbox_area_dm2,
         |  v.n_records, v.n_plots, v.n_repeated_plots, v.n_links,
         |  CAST(floor(CAST(v.n_records AS DOUBLE)
         |    / (CAST(f.length_micros AS DOUBLE) / 1000000000.0)
         |    * 1000000.0 + 0.5) AS BIGINT) AS points_per_km_micros
         |FROM frame f LEFT JOIN visits v ON f.sbz = v.sbz""".stripMargin),
      reference = Some(Steekproefkader3260)),

    // ---- S7 GeoPackage end-to-end gate: the REAL standing-water
    // cycle-2 design layer (design_watersurfaces/, the GDAL-produced
    // .gpkg the reference reads with st_read) through the pure-Scala
    // SQLite walk + GPKG-header strip + vertex-fold WkbEnvelope, then
    // the design summary per (area_class, sac): polygon counts, GRTS
    // rank sums, bbox areas, measured fraction, and the multi-type
    // split (R4 over 'a; b' type_all lists — bounded habitat-type
    // domain, so the distinct-flatten aggregate is k-sized). The
    // oracle replays against GpkgFixtureStandingWater, the same file
    // read by Python's sqlite3 with GDAL's own blob-header envelopes —
    // an independent parser AND an independent envelope source. ----
    Query("q163_gpkg_design", (s, dir) => {
      val w = graft.geo.GeoPackage
        .read(s, StandingWaterDesign,
          "mhq_standingwater_cycle2_2024-04-17")
        .select(col("grts_ranking"), col("area_class"), col("sac"),
          col("type_all"), col("biotic_measurement"),
          graft.geo.WkbFunctions.wkbEnvelope(col("geom")).as("env"))
      w.groupBy("area_class", "sac")
        .agg(
          count(lit(1)).as("n_polygons"),
          sum(col("grts_ranking")).as("rank_sum"),
          sum(floor((col("env.xmax") - col("env.xmin"))
            * (col("env.ymax") - col("env.ymin"))
            * lit(100.0) + lit(0.5)).cast("long")).as("bbox_area_dm2"),
          sum(when(col("biotic_measurement").isNotNull, 1L).otherwise(0L))
            .as("n_measured"),
          size(array_distinct(flatten(
            collect_list(split(col("type_all"), lit("; "))))))
            .cast("long").as("n_types"))
    }, Some(
      s"""WITH gpkg AS (SELECT * FROM ${graft.geo.GpkgFixtureStandingWater.valuesSql})
         |SELECT area_class, CAST(sac AS BIGINT) AS sac,
         |  count(*) AS n_polygons,
         |  CAST(sum(grts_ranking) AS BIGINT) AS rank_sum,
         |  CAST(sum(CAST(floor((xmax - xmin) * (ymax - ymin) * 100.0 + 0.5)
         |    AS BIGINT)) AS BIGINT) AS bbox_area_dm2,
         |  CAST(sum(CASE WHEN biotic IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_measured,
         |  CAST(len(list_distinct(flatten(list(string_split(type_all, '; ')))))
         |    AS BIGINT) AS n_types
         |FROM gpkg GROUP BY 1, 2""".stripMargin),
      reference = Some(StandingWaterDesign)),

    // ---- E1 heath structure variables (query_fieldmap.Rmd:417-431):
    // melt the BMS-scale class columns to long form (R5 exclusion melt),
    // separate the "CODE - description" dictionary (R4), patch KW->KB,
    // join cover_mean (K3 broadcast), and bind the directly-measured
    // shrub/tree cover rows (U1 schema-tolerant union). ----
    Query("q79_heath_structure", (s, dir) => {
      import s.implicits._
      val bmsCols = Seq("sphagnumlayer", "campylopus_introflexus", "lowshrublayer",
        "brushwood", "herbs", "calluna_phase_pioneer")
      val idCols = Seq(
        col("p_partkey").as("plot_id"),
        (col("p_partkey") % 4).as("segment_id"),
        (col("p_size") * 10).cast("double").as("area_m2"),
        ((col("p_partkey") * 3) % 101).cast("double").as("shrub_and_treelayer_18m"))
      val clsCols = bmsCols.zipWithIndex.map { case (c, i) =>
        ((col("p_partkey") * (i + 2)) % 7 + 1).cast("int").as(c)
      }
      val sv = t(s, dir, "part").select(idCols ++ clsCols: _*)
      val bms = Seq((1, "KB - kaal"), (2, "KW - kwijnend"), (3, "O - open"),
        (4, "F - frequent"), (5, "T - talrijk"), (6, "CD - codominant"),
        (7, "D - dominant")).toDF("class_id", "cover_description")
      val coverscales = Seq(("KB", 0.5), ("O", 5.0), ("F", 15.0), ("T", 35.0),
        ("CD", 62.5), ("D", 87.5)).toDF("class_code", "cover_mean")
      val bms2 = Reshape.separate(bms, "cover_description",
          Seq("class_code", "cover_description"), " - ")
        .withColumn("class_code",
          when(col("class_code") === "KW", "KB").otherwise(col("class_code")))
        .join(broadcast(coverscales), Seq("class_code"), "left")
        .select("class_id", "cover_description", "cover_mean")
      val melted = Reshape.melt(sv,
          Seq("plot_id", "segment_id", "area_m2"), bmsCols, "structure_var", "class_id")
        .withColumn("coverscale_name", lit("Beheermonitoringsschaal"))
        .join(broadcast(bms2), Seq("class_id"), "left")
        .select(col("plot_id"), col("segment_id"), col("area_m2"),
          lower(col("structure_var")).as("structure_var"), col("coverscale_name"),
          col("cover_description"), col("cover_mean"))
      val coverRows = sv.select(col("plot_id"), col("segment_id"), col("area_m2"),
        lit("shrub_treelayer").as("structure_var"),
        col("shrub_and_treelayer_18m").as("cover"))
      melted.unionByName(coverRows, allowMissingColumns = true)
    }, Some(
      """WITH sv AS (
        |  SELECT p_partkey AS plot_id, p_partkey % 4 AS segment_id,
        |    CAST(p_size * 10 AS DOUBLE) AS area_m2,
        |    CAST((p_partkey * 3) % 101 AS DOUBLE) AS shrub,
        |    CAST((p_partkey * 2) % 7 + 1 AS INTEGER) AS sphagnumlayer,
        |    CAST((p_partkey * 3) % 7 + 1 AS INTEGER) AS campylopus_introflexus,
        |    CAST((p_partkey * 4) % 7 + 1 AS INTEGER) AS lowshrublayer,
        |    CAST((p_partkey * 5) % 7 + 1 AS INTEGER) AS brushwood,
        |    CAST((p_partkey * 6) % 7 + 1 AS INTEGER) AS herbs,
        |    CAST((p_partkey * 7) % 7 + 1 AS INTEGER) AS calluna_phase_pioneer
        |  FROM part),
        |bms2(class_id, cover_description, cover_mean) AS (VALUES
        |  (1, 'kaal', 0.5), (2, 'kwijnend', 0.5), (3, 'open', 5.0),
        |  (4, 'frequent', 15.0), (5, 'talrijk', 35.0), (6, 'codominant', 62.5),
        |  (7, 'dominant', 87.5)),
        |melted AS (
        |  SELECT plot_id, segment_id, area_m2, 'sphagnumlayer' AS structure_var,
        |         sphagnumlayer AS class_id FROM sv
        |  UNION ALL SELECT plot_id, segment_id, area_m2, 'campylopus_introflexus',
        |         campylopus_introflexus FROM sv
        |  UNION ALL SELECT plot_id, segment_id, area_m2, 'lowshrublayer', lowshrublayer FROM sv
        |  UNION ALL SELECT plot_id, segment_id, area_m2, 'brushwood', brushwood FROM sv
        |  UNION ALL SELECT plot_id, segment_id, area_m2, 'herbs', herbs FROM sv
        |  UNION ALL SELECT plot_id, segment_id, area_m2, 'calluna_phase_pioneer',
        |         calluna_phase_pioneer FROM sv)
        |SELECT m.plot_id, m.segment_id, m.area_m2, m.structure_var,
        |  'Beheermonitoringsschaal' AS coverscale_name,
        |  b.cover_description, CAST(b.cover_mean AS DOUBLE) AS cover_mean,
        |  CAST(NULL AS DOUBLE) AS cover
        |FROM melted m LEFT JOIN bms2 b USING (class_id)
        |UNION ALL
        |SELECT plot_id, segment_id, area_m2, 'shrub_treelayer',
        |  NULL, NULL, NULL, shrub
        |FROM sv""".stripMargin)),

    // ---- E1 trees_a3a4: the full dendrometry export shape
    // (processed/fieldmap_mhq/trees_a3a4.yml) — tariff volumes (K4),
    // basal area, stem+total volumes, the date_assessment join the
    // reference applies to every fact table (query_fieldmap.Rmd:
    // 1855-1938) and the derived mon_cycle. ----
    Query("q80_trees_a3a4", (s, dir) => {
      import s.implicits._
      val trees = t(s, dir, "part").select(
          col("p_partkey").as("tree_id"),
          (col("p_partkey") % 500).as("plot_id"),
          (col("p_partkey") % 4 + 1).as("segment_id"),
          (col("p_partkey") % 20).as("tree_species_id"),
          (lit(50) + col("p_size") * 10).cast("int").as("perimeter_cm"),
          (lit(8) + col("p_partkey") % 15).cast("double").as("height_m"))
        .withColumn("dbh_mm", round(col("perimeter_cm") * 10 / lit(math.Pi)).cast("int"))
        .withColumn("name_nl", concat(lit("soort_"), col("tree_species_id")))
        .withColumn("name_sc", concat(lit("species_"), col("tree_species_id")))
        .withColumn("status_tree", when(col("tree_id") % 3 === 0, "alive")
          .when(col("tree_id") % 3 === 1, "dead standing").otherwise("lying"))
        .withColumn("coppice_individual",
          when(col("tree_id") % 5 === 0, "coppice").otherwise("individual"))
        .withColumn("intact_tree",
          when(col("tree_id") % 7 < 5, "intact").otherwise("broken"))
      val params = tariffParams.toDF(
        "tree_species_id", "a", "b", "c", "d", "e", "f", "formule_type")
      val dated = t(s, dir, "orders")
        .groupBy((col("o_custkey") % 500).as("plot_id"))
        .agg(max(col("o_orderdate")).as("date_assessment"))
      graft.pipelines.Vbi.treeVolume(graft.pipelines.Vbi.withTreeMetrics(trees), params)
        .join(dated, Seq("plot_id"), "left")
        .withColumn("mon_cycle",
          (floor((year(col("date_assessment")) - 1992) / lit(4.0)) + 1).cast("double"))
        .select(col("plot_id"), col("segment_id"), col("perimeter_cm"), col("dbh_mm"),
          col("height_m"), col("name_nl"), col("status_tree"), col("coppice_individual"),
          col("intact_tree"), col("tree_id"), col("date_assessment"),
          round6(col("basalarea_m2")).as("basalarea_m2"),
          round6(col("vol_m3")).as("vol_stem_m3"),
          round6(col("vol_m3") * (lit(1.0) + lit(1.0) / (col("tree_species_id") + 2)))
            .as("vol_tot_m3"),
          col("mon_cycle"), col("name_sc"), col("tree_species_id"))
    }, Some(
      s"""WITH trees AS (
        |  SELECT p_partkey AS tree_id, p_partkey % 500 AS plot_id,
        |    p_partkey % 4 + 1 AS segment_id, p_partkey % 20 AS tree_species_id,
        |    CAST(50 + p_size * 10 AS INTEGER) AS perimeter_cm,
        |    CAST(8 + p_partkey % 15 AS DOUBLE) AS height_m
        |  FROM part),
        |t2 AS (
        |  SELECT *, CAST(round(perimeter_cm * 10 / pi()) AS INTEGER) AS dbh_mm FROM trees),
        |params(tree_species_id, a, b, c, d, e, f, formule_type) AS (
        |  VALUES
        |   $tariffValuesSql),
        |vols AS (
        |  SELECT t2.*,
        |    pi() * (dbh_mm / 2000.0) * (dbh_mm / 2000.0) AS basalarea_m2,
        |    CASE
        |      WHEN formule_type = 1 THEN a + b*c150 + c*c150*c150 + d*c150*c150*c150
        |      WHEN formule_type = 2 THEN a + b*c150 + c*c150*c150 + d*h + e*c150*h + f*c150*c150*h
        |      WHEN formule_type = 3 THEN a + b*c150*c150 + c*c150*c150*h + d*h
        |    END AS vol_m3
        |  FROM (
        |    SELECT t2.*, CAST(p.formule_type AS INTEGER) AS formule_type,
        |      CAST(a AS DOUBLE) AS a, CAST(b AS DOUBLE) AS b, CAST(c AS DOUBLE) AS c,
        |      CAST(d AS DOUBLE) AS d, CAST(e AS DOUBLE) AS e, CAST(f AS DOUBLE) AS f,
        |      CAST(perimeter_cm AS DOUBLE) / 100.0 AS c150, height_m AS h
        |    FROM t2 LEFT JOIN params p ON t2.tree_species_id = p.tree_species_id) t2),
        |dated AS (
        |  SELECT o_custkey % 500 AS plot_id, max(o_orderdate) AS date_assessment
        |  FROM orders GROUP BY 1)
        |SELECT v.plot_id, v.segment_id, v.perimeter_cm, v.dbh_mm, v.height_m,
        |  'soort_' || v.tree_species_id AS name_nl,
        |  CASE v.tree_id % 3 WHEN 0 THEN 'alive' WHEN 1 THEN 'dead standing'
        |       ELSE 'lying' END AS status_tree,
        |  CASE WHEN v.tree_id % 5 = 0 THEN 'coppice' ELSE 'individual' END AS coppice_individual,
        |  CASE WHEN v.tree_id % 7 < 5 THEN 'intact' ELSE 'broken' END AS intact_tree,
        |  v.tree_id, d.date_assessment,
        |  floor(v.basalarea_m2*1e6 + 0.5)/1e6 AS basalarea_m2,
        |  floor(v.vol_m3*1e6 + 0.5)/1e6 AS vol_stem_m3,
        |  floor((v.vol_m3 * (1.0 + 1.0 / (v.tree_species_id + 2)))*1e6 + 0.5)/1e6 AS vol_tot_m3,
        |  CAST(floor((year(d.date_assessment) - 1992) / 4.0) + 1 AS DOUBLE) AS mon_cycle,
        |  'species_' || v.tree_species_id AS name_sc,
        |  v.tree_species_id
        |FROM vols v LEFT JOIN dated d ON v.plot_id = d.plot_id""".stripMargin)),

    // ---- E2 HT3260 header prep (`HT3260_data_preparation.Rmd:70-115,
    // 157-178`): sitequal spread to reliability / reason_no_survey with
    // prefix strip + recode, N2k factor recode, suitable_mhq and
    // measured flags from the three-extract completeness anti-joins.
    // INBOVEG-shaped inputs synthesized deterministically from customer. ----
    Query("q97_ht3260_header", (s, dir) => {
      val cust = t(s, dir, "customer")
      def recId = concat(lit("IV"), col("c_custkey")).as("recording_givid")
      val header = cust.select(recId, lit("HT3260").as("survey"),
        col("c_name").as("user_reference"), col("c_mktsegment").as("location"))
      val classif = cust.where(col("c_custkey") % 11 =!= 5).select(recId,
        when(col("c_custkey") % 3 === 0, "-9")
          .when(col("c_custkey") % 3 === 1, "0")
          .otherwise("3260").as("value_code"))
      val sitequal = cust.where(col("c_custkey") % 4 === 0).select(recId,
          concat(lit("Betrouwbaarheid opname: "),
            when(col("c_custkey") % 3 === 0, "hoog")
              .when(col("c_custkey") % 3 === 1, "matig")
              .otherwise("laag")).as("value"),
          lit(null).cast("string").as("comment"))
        .unionByName(cust.where(col("c_custkey") % 5 === 0).select(recId,
          when(col("c_custkey") % 2 === 0, "Geen opname: niet toegankelijk")
            .otherwise("Geen opname: drooggevallen").as("value"),
          when(col("c_custkey") % 10 === 0, "tijdelijk droog")
            .cast("string").as("comment")))
      val structure = cust.where(col("c_custkey") % 7 =!= 2).select(recId)
      val layerqual = cust.where(col("c_custkey") % 7 =!= 3).select(recId)
      val vegetation = cust.where(col("c_custkey") % 7 =!= 4).select(recId)
      graft.pipelines.Inboveg.ht3260Header(
        header, classif, sitequal, structure, layerqual, vegetation)
    }, Some(
      """WITH sq AS (
        |  SELECT 'IV' || c_custkey AS recording_givid,
        |    'Betrouwbaarheid opname: ' ||
        |      CASE WHEN c_custkey % 3 = 0 THEN 'hoog'
        |           WHEN c_custkey % 3 = 1 THEN 'matig' ELSE 'laag' END AS value,
        |    CAST(NULL AS VARCHAR) AS comment
        |  FROM customer WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT 'IV' || c_custkey,
        |    CASE WHEN c_custkey % 2 = 0 THEN 'Geen opname: niet toegankelijk'
        |         ELSE 'Geen opname: drooggevallen' END,
        |    CASE WHEN c_custkey % 10 = 0 THEN 'tijdelijk droog' END
        |  FROM customer WHERE c_custkey % 5 = 0),
        |spread AS (
        |  SELECT recording_givid,
        |    replace(min(CASE WHEN value LIKE '%Betrouwbaarheid opname:%' THEN value END),
        |            'Betrouwbaarheid opname: ', '') AS reliability,
        |    replace(replace(min(CASE WHEN value LIKE '%Geen opname:%' THEN value END),
        |            'Geen opname: ', ''), 'niet toegankelijk', 'ongeschikt') AS reason_no_survey,
        |    min(comment) AS comment
        |  FROM sq GROUP BY 1),
        |hdr AS (
        |  SELECT 'IV' || c_custkey AS recording_givid, 'HT3260' AS survey,
        |    c_name AS user_reference, c_mktsegment AS location,
        |    CASE WHEN c_custkey % 11 = 5 THEN NULL
        |         WHEN c_custkey % 3 = 0 THEN 'gh'
        |         WHEN c_custkey % 3 = 1 THEN 'unknown'
        |         ELSE '3260' END AS type_observed,
        |    (c_custkey % 7 NOT IN (2, 3, 4)) AS measured
        |  FROM customer)
        |SELECT h.recording_givid, h.survey, h.user_reference, h.location,
        |  h.type_observed, s.reliability, s.reason_no_survey,
        |  CASE WHEN s.comment IS NULL THEN s.reason_no_survey
        |       ELSE concat_ws('; ', s.reason_no_survey, s.comment) END AS comment_not_measured,
        |  (h.type_observed = '3260' AND s.reason_no_survey IS NULL) AS suitable_mhq,
        |  h.measured
        |FROM hdr h LEFT JOIN spread s USING (recording_givid)""".stripMargin)),

    // ---- K4 volume tariff polynomials (data-driven per formule_type) ----
    Query("q72_tree_volume", (s, dir) => {
      import s.implicits._
      val trees = t(s, dir, "part").select(
        col("p_partkey").as("tree_id"),
        (col("p_partkey") % 20).as("tree_species_id"),
        (lit(50) + col("p_size") * 10).cast("double").as("perimeter_cm"),
        (lit(8) + col("p_partkey") % 15).cast("double").as("height_m"))
      val params = tariffParams.toDF(
        "tree_species_id", "a", "b", "c", "d", "e", "f", "formule_type")
      graft.pipelines.Vbi.treeVolume(trees, params)
        .select(col("tree_id"), col("tree_species_id"), col("formule_type"),
          round6(col("vol_m3")).as("vol_m3"))
    }, Some(
      s"""WITH trees AS (
        |  SELECT p_partkey AS tree_id, p_partkey % 20 AS tree_species_id,
        |    CAST(50 + p_size * 10 AS DOUBLE) AS perimeter_cm,
        |    CAST(8 + p_partkey % 15 AS DOUBLE) AS height_m
        |  FROM part),
        |params(tree_species_id, a, b, c, d, e, f, formule_type) AS (
        |  VALUES
        |   $tariffValuesSql),
        |j AS (
        |  SELECT tree_id, t.tree_species_id, formule_type,
        |    CAST(a AS DOUBLE) AS a, CAST(b AS DOUBLE) AS b, CAST(c AS DOUBLE) AS c,
        |    CAST(d AS DOUBLE) AS d, CAST(e AS DOUBLE) AS e, CAST(f AS DOUBLE) AS f,
        |    perimeter_cm / 100.0 AS c150, height_m AS h
        |  FROM trees t LEFT JOIN params p ON t.tree_species_id = p.tree_species_id)
        |SELECT tree_id, tree_species_id, CAST(formule_type AS INTEGER) AS formule_type,
        |  floor((CASE
        |    WHEN formule_type = 1 THEN a + b*c150 + c*c150*c150 + d*c150*c150*c150
        |    WHEN formule_type = 2 THEN a + b*c150 + c*c150*c150 + d*h + e*c150*h + f*c150*c150*h
        |    WHEN formule_type = 3 THEN a + b*c150*c150 + c*c150*c150*h + d*h
        |  END)*1e6 + 0.5)/1e6 AS vol_m3
        |FROM j""".stripMargin)),

    // ---- dendrometry: per-tree basal area + per-plot stand totals ----
    Query("q73_tree_metrics", (s, dir) => {
      val trees = t(s, dir, "part").select(
        (col("p_partkey") % 500).as("plot_id"),
        col("p_partkey").as("tree_id"),
        (lit(100) + (col("p_size") * 17) % 500).as("dbh_mm"))
      graft.pipelines.Vbi.withTreeMetrics(trees)
        .groupBy("plot_id")
        .agg(
          count(lit(1)).as("n_trees"),
          round(sum(col("basalarea_m2")), 6).as("basal_area_m2"),
          round(max(col("basalarea_m2")), 6).as("max_tree_basal_m2"))
    }, Some(
      """SELECT plot_id, count(*) AS n_trees,
        | round(sum(pi() * (dbh_mm/2000.0) * (dbh_mm/2000.0)), 6) AS basal_area_m2,
        | round(max(pi() * (dbh_mm/2000.0) * (dbh_mm/2000.0)), 6) AS max_tree_basal_m2
        |FROM (SELECT p_partkey % 500 AS plot_id, p_partkey AS tree_id,
        |        100 + (p_size * 17) % 500 AS dbh_mm FROM part)
        |GROUP BY plot_id""".stripMargin)),

    // ---- deadwood line-intersect volume (Van Wagner) ----
    Query("q74_deadwood_volume", (s, dir) => {
      val lim = t(s, dir, "lineitem").select(
        col("l_suppkey").as("plot_id"),
        col("l_quantity").as("diameter_cm"),
        ((col("l_partkey") % 30)).cast("double").as("angle_degrees"))
      graft.pipelines.Vbi.deadwoodVolume(lim, "plot_id", lineLengthM = 100.0)
        .withColumn("vol_m3_ha", round(col("vol_m3_ha"), 6))
    }, Some(
      """SELECT plot_id, count(*) AS n_pieces,
        | round(pi() * pi() / (8 * 100.0) * 10000 *
        |   sum(pow(diameter_cm / 100.0, 2) / cos(radians(angle_degrees))), 6) AS vol_m3_ha
        |FROM (SELECT l_suppkey AS plot_id, l_quantity AS diameter_cm,
        |        CAST(l_partkey % 30 AS DOUBLE) AS angle_degrees FROM lineitem)
        |GROUP BY plot_id""".stripMargin))
  )

  /** The published reference-snapshot files q158 and q163 open. The
    * snapshot is not part of the repository, so these queries can be
    * planned only where it is present. */
  private val Steekproefkader3260 =
    "/root/reference/processed/3260_steekproefkader/" +
      "steekproefkader_3260_v1_7_strata.shp"
  private val StandingWaterDesign =
    "/root/reference/processed/design_watersurfaces/" +
      "mhq_standingwater_cycle2_2024-04-17.gpkg"

  /** K4 tariff parameters: power-of-two-scaled values so the Scala
    * doubles and the SQL literals parse to identical bits (exact float
    * parity between Spark and the oracle). */
  private val tariffParams: Seq[(Long, Double, Double, Double, Double, Double, Double, Int)] =
    (0L to 19L).map { sp =>
      (sp, (sp + 1) * 0.015625, (sp + 1) * 0.0078125, 0.00390625,
        0.001953125, 0.0009765625, 0.00048828125, (sp % 3 + 1).toInt)
    }

  private def tariffValuesSql: String =
    tariffParams.map { case (sp, a, b, c, d, e, f, ft) =>
      s"($sp, $a, $b, $c, $d, $e, $f, $ft)"
    }.mkString(",\n   ")
}
