package graft

import java.nio.file.Files
import java.sql.DriverManager

import graft.core.{JdbcTableSource, SourceRegistry}
import graft.pipelines.InbovegAquaticJob

/** The aquatic chain end-to-end against embedded Derby: JDBC extract ->
  * prep -> Versie-3 LSVI verdicts, with hand-computed expectations. */
class InbovegAquaticJobSpec extends SparkSuite {
  import spark.implicits._

  private lazy val derbyUrl = {
    val dir = Files.createTempDirectory("derby-aq").toString
    val url = s"jdbc:derby:$dir/aq;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE survey (survey_id INT, name VARCHAR(60))")
    st.execute("""INSERT INTO survey VALUES
      (1, 'HT31xx_Plassen'), (2, 'Niet_aquatisch')""")
    st.execute("""CREATE TABLE recording (recording_givid VARCHAR(40),
      survey_id INT, user_reference VARCHAR(40), location_code VARCHAR(40),
      area DOUBLE, vague_date_begin DATE, vague_date_end DATE,
      latitude DOUBLE, longitude DOUBLE)""")
    st.execute("""INSERT INTO recording VALUES
      ('AQ_A', 1, 'plas1', 'l1', 1.0, DATE('2023-07-01'), DATE('2023-07-01'), 51.0, 4.5),
      ('AQ_B', 1, 'plas2', 'l2', 2.0, DATE('2023-07-02'), DATE('2023-07-02'), 51.1, 4.6),
      ('AQ_X', 2, 'elders', 'l9', 1.0, DATE('2023-07-03'), DATE('2023-07-03'), 51.2, 4.7)""")
    st.execute("""CREATE TABLE classification (recording_givid VARCHAR(40),
      classif VARCHAR(20), action_group VARCHAR(10), list_name VARCHAR(40),
      cover VARCHAR(10))""")
    st.execute("""INSERT INTO classification VALUES
      ('AQ_A', '3130', 'N2k', 'N2000 habitattypes', '100'),
      ('AQ_B', '3140', 'N2k', 'N2000 habitattypes', '100'),
      ('AQ_X', '3130', 'N2k', 'N2000 habitattypes', '100')""")
    st.execute("""CREATE TABLE species (recording_givid VARCHAR(40),
      layer_code VARCHAR(10), cover_code VARCHAR(10), original_name VARCHAR(60),
      scientific_name VARCHAR(60), phenology_code VARCHAR(10),
      coverage_code VARCHAR(10), pct_value DOUBLE, recording_scale VARCHAR(30))""")
    // Tansley codes: Littorella (key sp for 3130) 'a'=35; Chara hispida
    // canonicalizes to Chara major (key for 3140) 'd'=75; Elodea (not a
    // key species) 'o'=5 dilutes AQ_A's share to 35/40 = 87.5 >= 50
    st.execute("""INSERT INTO species VALUES
      ('AQ_A', 'W', 'a', 'oeverkruid', 'Littorella uniflora', 'x', 'a', 35.0, 'TANSLEY MEREN'),
      ('AQ_A', 'W', 'o', 'waterpest', 'Elodea canadensis', 'x', 'o', 5.0, 'TANSLEY MEREN'),
      ('AQ_B', 'W', 'd', 'kranswier', 'Chara hispida L.', 'x', 'd', 75.0, 'TANSLEY MEREN')""")
    st.execute("""CREATE TABLE layer (recording_givid VARCHAR(40),
      layer_code VARCHAR(10), layer_description VARCHAR(40),
      cover_code VARCHAR(10), percentage DOUBLE)""")
    st.execute("""CREATE TABLE qualifier (recording_givid VARCHAR(40),
      qualifier_type VARCHAR(5), q1_code VARCHAR(10), q1_description VARCHAR(40),
      q2_code VARCHAR(20), q2_description VARCHAR(60), q3_code VARCHAR(10),
      q3_description VARCHAR(40), elucidation VARCHAR(40))""")
    // AQ_A (3130): Subm 30 >= 25 ok; Invas 5 <= 10 ok; Eutro 20 > 10 FAILS (zb)
    // AQ_B (3140): Chara 60 >= 50 ok; horst class g10m2 -> 15.005 >= 10 ok
    // winter observation (Q1=C) and an NA row must be dropped
    st.execute("""INSERT INTO qualifier VALUES
      ('AQ_A', 'MQ', 'A', 'actueel', 'Subm', 'Submerse vegetatie', '30', '30', '30'),
      ('AQ_A', 'MQ', 'A', 'actueel', 'Invas', 'Invasieve exoten', '5', '5', '5'),
      ('AQ_A', 'MQ', 'B', 'recent', 'Eutro', 'Eutrofiering', '20', '20', '20'),
      ('AQ_A', 'MQ', 'C', 'winter', 'Helo', 'Helofyten', '90', '90', '90'),
      ('AQ_B', 'MQ', 'A', 'actueel', 'Chara', 'Kranswieren', '60', '60', '60'),
      ('AQ_B', 'MQ', 'A', 'actueel', 'horst', 'Grootste vegetatievlek', 'g10m2', NULL, 'g10m²'),
      ('AQ_B', 'MQ', 'A', 'actueel', 'Vzuur', 'Verzuring', NULL, NULL, 'NA')""")
    st.close(); conn.close()
    s"jdbc:derby:$dir/aq"
  }

  private lazy val registry = SourceRegistry(Map(
    "inboveg_survey" -> JdbcTableSource(derbyUrl, "survey"),
    "inboveg_recording" -> JdbcTableSource(derbyUrl, "recording"),
    "inboveg_classification" -> JdbcTableSource(derbyUrl, "classification"),
    "inboveg_species" -> JdbcTableSource(derbyUrl, "species"),
    "inboveg_layer" -> JdbcTableSource(derbyUrl, "layer"),
    "inboveg_qualifier" -> JdbcTableSource(derbyUrl, "qualifier")))

  test("extract -> prep -> Versie-3 verdicts match hand-computed LSVI") {
    val out = InbovegAquaticJob.run(spark, registry, Seq("HT31xx_Plassen"))

    // survey scoping: AQ_X (other survey) never appears
    assert(out.header.select("recording_givid").as[String].collect().sorted
      === Array("AQ_A", "AQ_B"))

    // winter (Q1=C) and NA-string rows dropped before typing
    val vars = out.detail.select("id", "voorwaarde")
      .as[(String, String)].collect().toSet
    assert(!vars.exists(_._2 == "bedekking helofyten"))
    assert(!vars.exists(_._2 == "bedekking verzuring"))

    val verdicts = out.detail
      .select("id", "voorwaarde", "voldoet").as[(String, String, Boolean)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(verdicts(("AQ_A", "bedekking submerse vegetatie")))
    assert(verdicts(("AQ_A", "bedekking invasieve exoten")))
    assert(!verdicts(("AQ_A", "bedekking eutrofiëring"))) // 20 > 10
    assert(verdicts(("AQ_A", "aandeel sleutelsoorten")))  // 87.5 >= 50
    assert(verdicts(("AQ_B", "bedekking kranswieren")))
    assert(verdicts(("AQ_B", "grootste vegetatievlek in m²"))) // class -> 15.005
    assert(verdicts(("AQ_B", "aandeel sleutelsoorten")))  // canonicalized Chara

    // globaal: AQ_A fails on the zb eutrofiëring breach; AQ_B gunstig
    val lsvi = out.globaal.select("id", "lsvi").as[(String, String)]
      .collect().toMap
    assert(lsvi === Map("AQ_A" -> "ongunstig", "AQ_B" -> "gunstig"))

    // prep checks stay empty on consistent data
    assert(out.checks("check_dup_recording").count() === 0)
  }
}
