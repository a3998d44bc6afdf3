package graft

import graft.lsvi.{LsviForest, Versie3Dunes, Versie3Forests, Versie3Moneos}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fidelity of the coastal-dunes and moneos Versie-3 rule content
  * against the reference's published result tables — the fourth and
  * fifth habitat groups through the unchanged [[LsviForest]] engine.
  * Each level is fed the published rows of the level below, isolating
  * the semantics under test; known published anomalies (see the
  * [[Versie3Dunes]] / [[Versie3Moneos]] scaladoc) are gated instead of
  * silently tolerated.
  */
class DunesMoneosSpec extends SparkSuite {

  private def pubPath(dir: String, name: String): String =
    s"/root/reference/processed/lsvi_mhq/$dir/result/$name"

  private def readTsv(dir: String, name: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(pubPath(dir, name))

  private def assumePublished(dir: String, names: String*): Unit =
    assumeFiles(names.map(pubPath(dir, _)): _*)

  private val numRe = "^-?[0-9]+(\\.[0-9]+)?$"

  private def measurementsOf(pubDetail: DataFrame): DataFrame =
    pubDetail.select(
      col("id"), col("type_analysis"), col("voorwaarde"), col("waarde"),
      col("plot_type"),
      when(col("waarde").rlike(numRe), col("waarde").cast("double"))
        .as("value_numeric"),
      when(!col("waarde").rlike(numRe), col("waarde")).as("value_category"))
      .distinct()

  private def plotsOf(pubDetail: DataFrame): DataFrame =
    pubDetail.select("id", "type_analysis", "survey", "record_id_square",
      "record_id_circle", "type_observed").distinct()

  private def checkDetail(pubDetail: DataFrame, rules: DataFrame,
                          maxVsBad: Long): Unit = {
    val mine = LsviForest.detail(plotsOf(pubDetail), measurementsOf(pubDetail), rules)
    val joined = mine.alias("m").join(pubDetail.alias("p"),
      Seq("id", "type_analysis", "voorwaarde"))
    assert(joined.count() === pubDetail.count())
    val statusBad = joined.where(
      !(col("m.status_voorwaarde").cast("int") <=> col("p.status_voorwaarde").cast("int"))).count()
    assert(statusBad === 0L)
    // categorical rows score from unpublished continuous covers -> only
    // numeric-valued rows are vs-checkable
    val vsBad = joined.where(col("p.waarde").rlike(numRe) &&
      !(col("m.verschilscore").isNull && col("p.verschilscore").isNull) &&
        (col("m.verschilscore").isNull || col("p.verschilscore").isNull ||
          abs(col("m.verschilscore") - col("p.verschilscore").cast("double")) > 1.5e-4)).count()
    assert(vsBad <= maxVsBad, s"verschilscore off on $vsBad rows")
  }

  private def pubDetailAsEngine(pubDetail: DataFrame, rules: DataFrame): DataFrame =
    pubDetail
      .join(broadcast(rules
          .select(col("habitattype").as("type_analysis"), col("voorwaarde"),
            col("role"), col("aggregate"))),
        Seq("type_analysis", "voorwaarde"))
      .select(col("id"), col("type_analysis"), col("criterium"), col("indicator"),
        col("belang"), col("status_voorwaarde").cast("boolean").as("status_voorwaarde"),
        col("verschilscore").cast("double").as("verschilscore"),
        col("role"), col("aggregate"))

  private def checkIndicator(pubDetail: DataFrame, pubInd: DataFrame,
                             rules: DataFrame, noAgg: Set[String],
                             maxVsBad: Long): DataFrame = {
    val mine = LsviForest.indicator(pubDetailAsEngine(pubDetail, rules))
    val joined = mine.alias("m").join(pubInd.alias("p"),
      Seq("id", "type_analysis", "criterium", "indicator", "belang"))
    assert(joined.count() === pubInd
      .where(!col("indicator").isin(noAgg.toSeq: _*)).count())
    val statusBad = joined.where(
      !(col("m.status_indicator").cast("int") <=> col("p.status_indicator").cast("int"))).count()
    assert(statusBad === 0L)
    val vsBad = joined.where(
      !(col("m.verschilscore").isNull && col("p.verschilscore").isNull) &&
        (col("m.verschilscore").isNull || col("p.verschilscore").isNull ||
          abs(col("m.verschilscore") - col("p.verschilscore").cast("double")) > 1.5e-4)).count()
    assert(vsBad <= maxVsBad, s"indicator verschilscore off on $vsBad rows")
    mine
  }

  private def engineInd(pubInd: DataFrame): DataFrame =
    pubInd
      .where(!col("indicator").isin(Versie3Forests.noAggregateIndicators.toSeq: _*))
      .select(col("id"), col("type_analysis"), col("criterium"), col("indicator"),
        col("belang"), col("status_indicator").cast("boolean").as("status_indicator"),
        col("verschilscore").cast("double").as("verschilscore"))

  private def checkAggLevels(pubInd: DataFrame, pubCrit: DataFrame,
                             pubGlob: DataFrame, maxImcBad: Long): Unit = {
    val ind = engineInd(pubInd)
    val crit = LsviForest.criterium(ind)
    val cj = crit.alias("m").join(pubCrit.alias("p"),
      Seq("id", "type_analysis", "criterium"))
    assert(cj.count() === pubCrit.count())
    val critNumBad = Seq("aandeel_gunstig", "index_mean_ind", "doelbereik_mean_ind")
      .map(c => !(col(s"m.$c").isNull && col(s"p.$c").isNull) &&
        (col(s"m.$c").isNull || col(s"p.$c").isNull ||
          abs(col(s"m.$c") - col(s"p.$c").cast("double")) > 1.5e-4)).reduce(_ || _)
    assert(cj.where(
      !(col("m.status_criterium").cast("int") <=> col("p.status_criterium").cast("int")) ||
        col("m.n_zb_ongunstig") =!= col("p.n_zb_ongunstig").cast("long") ||
        critNumBad).count() === 0L)
    val glob = LsviForest.globaal(ind)
    val gj = glob.alias("m").join(pubGlob.alias("p"), Seq("id", "type_analysis"))
    assert(gj.count() === pubGlob.count())
    val globNumBad = Seq("aandeel_gunstig", "index_mean_ind", "doelbereik_mean_ind")
      .map(c => !(col(s"m.$c").isNull && col(s"p.$c").isNull) &&
        (col(s"m.$c").isNull || col(s"p.$c").isNull ||
          abs(col(s"m.$c") - col(s"p.$c").cast("double")) > 1.5e-4)).reduce(_ || _)
    assert(gj.where(
      !(col("m.status").cast("int") <=> col("p.status").cast("int")) ||
        col("m.n_zb_ongunstig") =!= col("p.n_zb_ongunstig").cast("long") ||
        globNumBad).count() === 0L)
    val imcBad = gj.where(
      abs(col("m.index_mean_crit") - col("p.index_mean_crit").cast("double")) > 1.5e-4).count()
    assert(imcBad <= maxImcBad, s"index_mean_crit off on $imcBad rows")
  }

  // ---- coastal dunes ----

  private lazy val cdDetail = readTsv("coastal_dunes", "lsvi_detail_cd.tsv").cache()
  private lazy val cdRules = Versie3Dunes.rulesDf(spark)

  test("dunes: rule table matches the published tuples") {
    assumePublished("coastal_dunes", "lsvi_detail_cd.tsv")
    import spark.implicits._
    val published = cdDetail
      .select(col("type_analysis"), col("criterium"), col("indicator"), col("belang"),
        col("voorwaarde"), col("referentiewaarde"),
        col("theoretischmaximum").cast("double"))
      .distinct().as[(String, String, String, String, String, String, Double)]
      .collect().toSet
    assert(Versie3Dunes.rules.toSet === published)
  }

  test("dunes: detail statuses exact; scores exact bar the 2 rijshout scale rows") {
    assumePublished("coastal_dunes", "lsvi_detail_cd.tsv")
    checkDetail(cdDetail, cdRules, maxVsBad = 2L)
  }

  test("dunes: indicator rows all match (per-type sleutelsoorten OR/AND)") {
    assumePublished("coastal_dunes", "lsvi_detail_cd.tsv",
      "lsvi_indicator_cd.tsv")
    checkIndicator(cdDetail, readTsv("coastal_dunes", "lsvi_indicator_cd.tsv"),
      cdRules, noAgg = Set.empty, maxVsBad = 0L)
  }

  test("dunes: criterium exact; globaal exact bar 20 anomalous index_mean_crit") {
    assumePublished("coastal_dunes", "lsvi_indicator_cd.tsv",
      "lsvi_criterium_cd.tsv", "lsvi_globaal_cd.tsv")
    checkAggLevels(readTsv("coastal_dunes", "lsvi_indicator_cd.tsv"),
      readTsv("coastal_dunes", "lsvi_criterium_cd.tsv"),
      readTsv("coastal_dunes", "lsvi_globaal_cd.tsv"), maxImcBad = 20L)
  }

  // ---- moneos ----

  private lazy val moDetail = readTsv("moneos", "lsvi_detail_moneos.tsv").cache()
  private lazy val moRules = Versie3Moneos.rulesDf(spark)

  test("moneos: rule table matches the published tuples (91E0_sf shared with forests)") {
    assumePublished("moneos", "lsvi_detail_moneos.tsv")
    import spark.implicits._
    val published = moDetail
      .select(col("type_analysis"), col("criterium"), col("indicator"), col("belang"),
        col("voorwaarde"), col("referentiewaarde"),
        col("theoretischmaximum").cast("double"))
      .distinct().as[(String, String, String, String, String, String, Double)]
      .collect().toSet
    assert(Versie3Moneos.rules.toSet === published)
  }

  test("moneos: detail statuses and numeric scores exact") {
    assumePublished("moneos", "lsvi_detail_moneos.tsv")
    checkDetail(moDetail, moRules, maxVsBad = 0L)
  }

  test("moneos: indicator statuses exact; scores gated on the pooled-count rows") {
    assumePublished("moneos", "lsvi_detail_moneos.tsv",
      "lsvi_indicator_moneos.tsv")
    // 57 published 1330_da sleutelsoorten scores imply a pooled species
    // count absent from the detail table (Versie3Moneos scaladoc)
    checkIndicator(moDetail, readTsv("moneos", "lsvi_indicator_moneos.tsv"),
      moRules, noAgg = Versie3Forests.noAggregateIndicators, maxVsBad = 60L)
  }

  test("moneos: criterium and globaal exact (forest exclusions applied)") {
    assumePublished("moneos", "lsvi_indicator_moneos.tsv",
      "lsvi_criterium_moneos.tsv", "lsvi_globaal_moneos.tsv")
    checkAggLevels(readTsv("moneos", "lsvi_indicator_moneos.tsv"),
      readTsv("moneos", "lsvi_criterium_moneos.tsv"),
      readTsv("moneos", "lsvi_globaal_moneos.tsv"), maxImcBad = 0L)
  }
}
