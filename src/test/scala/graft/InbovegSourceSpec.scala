package graft

import java.nio.file.Files
import java.sql.DriverManager

import graft.core.{InbovegSource, JdbcTableSource, SourceRegistry}

/** S3: the five-extract INBOVEG facade against a real embedded-Derby
  * database — the same JDBC dispatch shape as the production SQL Server
  * path, with the survey filter pushed through the scan. */
class InbovegSourceSpec extends SparkSuite {
  import spark.implicits._

  private lazy val derbyUrl = {
    val dir = Files.createTempDirectory("derby-iv").toString
    val url = s"jdbc:derby:$dir/iv;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE survey (survey_id INT, name VARCHAR(60))")
    st.execute("""INSERT INTO survey VALUES
      (1, 'N2000meetnet_Grasland'), (2, 'HT3260'), (3, 'Andere_survey')""")
    st.execute("""CREATE TABLE recording (recording_givid VARCHAR(40),
      survey_id INT, user_reference VARCHAR(40), location_code VARCHAR(40),
      area DOUBLE, vague_date_begin DATE, vague_date_end DATE,
      latitude DOUBLE, longitude DOUBLE)""")
    st.execute("""INSERT INTO recording VALUES
      ('IV_A', 1, 'plot1', 'loc1', 9.0, DATE('2022-06-01'), DATE('2022-06-01'), 51.0, 4.5),
      ('IV_B', 2, 'plot2', 'loc2', 4.0, DATE('2022-07-01'), DATE('2022-07-02'), 51.1, 4.6),
      ('IV_C', 3, 'plot3', 'loc3', 1.0, DATE('2022-08-01'), DATE('2022-08-01'), 51.2, 4.7)""")
    st.execute("""CREATE TABLE classification (recording_givid VARCHAR(40),
      classif VARCHAR(20), action_group VARCHAR(10), list_name VARCHAR(40),
      cover VARCHAR(10))""")
    st.execute("""INSERT INTO classification VALUES
      ('IV_A', '6510_hu', 'N2k', 'N2000 habitattypes', '80'),
      ('IV_A', 'hu', 'BWK', 'BWK-lijst', NULL),
      ('IV_B', '3260', 'N2k', 'N2000 habitattypes', '100'),
      ('IV_C', '9999', 'N2k', 'N2000 habitattypes', NULL)""")
    st.execute("""CREATE TABLE species (recording_givid VARCHAR(40),
      layer_code VARCHAR(10), cover_code VARCHAR(10), original_name VARCHAR(60),
      scientific_name VARCHAR(60), phenology_code VARCHAR(10),
      coverage_code VARCHAR(10), pct_value DOUBLE, recording_scale VARCHAR(30))""")
    st.execute("""INSERT INTO species VALUES
      ('IV_A', 'K', '70', 'glanshaver', 'Arrhenatherum elatius', 'x', '5', 62.5, 'Londo'),
      ('IV_B', 'W', '10', 'sterrenkroos', 'Callitriche', 'x', '2', 10.0, 'Londo'),
      ('IV_C', 'K', '5', 'riet', 'Phragmites australis', 'x', '1', 5.0, 'Londo')""")
    st.execute("""CREATE TABLE layer (recording_givid VARCHAR(40),
      layer_code VARCHAR(10), layer_description VARCHAR(40),
      cover_code VARCHAR(10), percentage DOUBLE)""")
    st.execute("""INSERT INTO layer VALUES
      ('IV_A', 'K', 'kruidlaag', '9', 90.0), ('IV_B', 'W', 'waterlaag', '2', 15.0)""")
    st.execute("""CREATE TABLE qualifier (recording_givid VARCHAR(40),
      qualifier_type VARCHAR(5), q1_code VARCHAR(10), q1_description VARCHAR(40),
      q2_code VARCHAR(20), q2_description VARCHAR(60), q3_code VARCHAR(10),
      q3_description VARCHAR(40), elucidation VARCHAR(40))""")
    st.execute("""INSERT INTO qualifier VALUES
      ('IV_A', 'MQ', 'A', 'actueel', 'Verbossing', 'bedekking verbossing', '10', '10', NULL),
      ('IV_A', 'MQ', 'A', 'actueel', 'Strooisel', 'strooisellaag', 'ZS', NULL, NULL),
      ('IV_A', 'SQ', 'P1', 'plot 1', NULL, NULL, NULL, NULL, 'site opm'),
      ('IV_B', 'MQ', 'B', 'recent', 'Slib', 'slibdikte', '3', '2,5', 'cm')""")
    st.close(); conn.close()
    s"jdbc:derby:$dir/iv"
  }

  private lazy val registry = SourceRegistry(Map(
    "inboveg_survey" -> JdbcTableSource(derbyUrl, "survey"),
    "inboveg_recording" -> JdbcTableSource(derbyUrl, "recording"),
    "inboveg_classification" -> JdbcTableSource(derbyUrl, "classification"),
    "inboveg_species" -> JdbcTableSource(derbyUrl, "species"),
    "inboveg_layer" -> JdbcTableSource(derbyUrl, "layer"),
    "inboveg_qualifier" -> JdbcTableSource(derbyUrl, "qualifier")))

  private lazy val src = InbovegSource(registry,
    Seq("N2000meetnet_Grasland", "HT3260"))

  test("five extracts: contract columns, survey scoping, qualifier typing") {
    val ex = src.extracts(spark)

    assert(ex.header.columns.toSeq === Seq("recording_givid", "survey",
      "user_reference", "location", "area", "vague_date_begin",
      "vague_date_end", "latitude", "longitude"))
    // IV_C's survey is not selected -> scoped out everywhere
    assert(ex.header.select("recording_givid").as[String].collect().sorted
      === Array("IV_A", "IV_B"))

    assert(ex.classification.columns.toSeq === Seq("recording_givid",
      "survey", "type_observed", "classif_type", "classif_key", "type_cover"))
    val n2k = ex.classification.where($"classif_type" === "N2k")
    assert(n2k.count() === 2) // IV_C's N2k row excluded by survey scope
    assert(ex.classification.where($"recording_givid" === "IV_A").count() === 2)

    assert(ex.recording.columns.toSeq === Seq("survey", "recording_givid",
      "layer_code", "layer_cover", "name_original", "name_scientific",
      "phenology_code", "species_cover_code", "species_cover", "scale"))
    assert(ex.recording.where($"name_scientific" === "Phragmites australis")
      .count() === 0)

    assert(ex.layerCover.columns.toSeq === Seq("survey", "recording_givid",
      "user_reference", "layer_code", "layer_description", "layer_cover",
      "percentage"))
    assert(ex.layerCover.count() === 2)

    // MQ default: SQ rows excluded; both IV_A MQ rows + IV_B's survive
    assert(ex.qualifier.select("q2_code").as[String].collect().sorted
      === Array("Slib", "Strooisel", "Verbossing"))
    val sq = src.qualifier(spark, "SQ")
    assert(sq.select("q1_code").as[String].collect() === Array("P1"))
  }

  test("structureCover: numeric description wins, ZS code means 0.5") {
    val got = src.qualifier(spark, "MQ")
      .withColumn("cover",
        InbovegSource.structureCover($"q3_description", $"q3_code"))
      .select("q2_code", "cover").as[(String, Option[Double])]
      .collect().toMap
    assert(got("Verbossing") === Some(10.0))
    assert(got("Strooisel") === Some(0.5)) // ZS fallback
    assert(got("Slib") === Some(2.5))      // decimal comma
  }

  test("survey IN-filter reaches the JDBC scan") {
    val plan = src.header(spark).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("name"),
      s"expected pushed survey filter in:\n$plan")
  }
}
