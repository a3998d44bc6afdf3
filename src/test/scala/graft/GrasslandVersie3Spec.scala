package graft

import graft.lsvi.{LsviForest, Versie3Grasslands}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fidelity of the grassland/marsh Versie-3 rule content against the
  * reference's published result tables — the sixth and final habitat
  * group with a published detail table, through the unchanged
  * [[LsviForest]] engine. The two voorwaarden with the reference's
  * mixed recording scales are gated EXACTLY (anomalies must stay inside
  * those voorwaarden and under the measured count); everything else is
  * exact. See the [[Versie3Grasslands]] scaladoc.
  */
class GrasslandVersie3Spec extends SparkSuite {
  import spark.implicits._

  private val refDir = "/root/reference/processed/lsvi_mhq/grassland_marsh/result"

  private def readTsv(name: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$refDir/$name")

  private def assumePublished(names: String*): Unit =
    assumeFiles(names.map(n => s"$refDir/$n"): _*)

  private val numRe = "^-?[0-9]+(\\.[0-9]+)?$"
  private val scaleAnomalyVws =
    Seq("bedekking strooisellaag", "bedekking structuurschade")

  private lazy val pubDetail = readTsv("lsvi_detail_gr_bm.tsv").cache()

  private lazy val measurements =
    pubDetail.select(
      col("id"), col("type_analysis"), col("voorwaarde"), col("waarde"),
      col("plot_type"),
      when(col("waarde").rlike(numRe), col("waarde").cast("double"))
        .as("value_numeric"),
      when(!col("waarde").rlike(numRe), col("waarde")).as("value_category"),
      when(col("voorwaarde") === Versie3Grasslands.dynamicVoorwaarde,
        col("referentiewaarde").cast("double")).as("ref_override"))
      .distinct()

  private lazy val plots =
    pubDetail.select("id", "type_analysis", "survey", "record_id_square",
      "record_id_circle", "type_observed").distinct()

  private lazy val myDetail = LsviForest.detail(plots, measurements,
    Versie3Grasslands.rulesDf(spark)).cache()

  test("rule table matches the published tuples (dynamic ref collapsed)") {
    assumePublished("lsvi_detail_gr_bm.tsv")
    val published = pubDetail
      .select(col("type_analysis"), col("criterium"), col("indicator"), col("belang"),
        col("voorwaarde"),
        when(col("voorwaarde") === Versie3Grasslands.dynamicVoorwaarde, "dynamisch")
          .otherwise(col("referentiewaarde")).as("referentiewaarde"),
        col("theoretischmaximum").cast("double"))
      .distinct().as[(String, String, String, String, String, String, Double)]
      .collect().toSet
    assert(Versie3Grasslands.rules.toSet === published)
    assert(Versie3Grasslands.rules.size === 141)
  }

  test("detail: exact outside the two mixed-scale voorwaarden; those stay gated") {
    assumePublished("lsvi_detail_gr_bm.tsv")
    val joined = myDetail.alias("m").join(pubDetail.alias("p"),
      Seq("id", "type_analysis", "voorwaarde")).cache()
    assert(joined.count() === pubDetail.count())
    val bad =
      !(col("m.status_voorwaarde").cast("int") <=> col("p.status_voorwaarde").cast("int")) ||
        (col("p.waarde").rlike(numRe) &&
          !(col("m.verschilscore").isNull && col("p.verschilscore").isNull) &&
          (col("m.verschilscore").isNull || col("p.verschilscore").isNull ||
            abs(col("m.verschilscore") - col("p.verschilscore").cast("double")) > 1.5e-4))
    // zero tolerance everywhere except the documented mixed-scale rows
    assert(joined.where(bad &&
      !col("voorwaarde").isin(scaleAnomalyVws: _*)).count() === 0L)
    val anomalies = joined.where(bad &&
      col("voorwaarde").isin(scaleAnomalyVws: _*)).count()
    assert(anomalies <= 333L, s"mixed-scale anomalies grew: $anomalies")
  }

  test("indicator/criterium/globaal: aggregation exact from published inputs") {
    assumePublished("lsvi_detail_gr_bm.tsv", "lsvi_indicator_gr_bm.tsv",
      "lsvi_criterium_gr_bm.tsv", "lsvi_globaal_gr_bm.tsv")
    // feed each level the published rows of the level below, isolating
    // the aggregation semantics from the mixed-scale detail rows
    val engineDetail = pubDetail.select(col("id"), col("type_analysis"),
      col("criterium"), col("indicator"), col("belang"),
      col("status_voorwaarde").cast("boolean").as("status_voorwaarde"),
      col("verschilscore").cast("double").as("verschilscore"),
      lit("and").as("role"), lit(true).as("aggregate"))
    val myInd = LsviForest.indicator(engineDetail).cache()
    val pubInd = readTsv("lsvi_indicator_gr_bm.tsv")
    val ij = myInd.alias("m").join(pubInd.alias("p"),
      Seq("id", "type_analysis", "criterium", "indicator", "belang"))
    assert(ij.count() === pubInd.count())
    assert(ij.where(
      !(col("m.status_indicator").cast("int") <=> col("p.status_indicator").cast("int")) ||
        (!(col("m.verschilscore").isNull && col("p.verschilscore").isNull) &&
          (col("m.verschilscore").isNull || col("p.verschilscore").isNull ||
            abs(col("m.verschilscore") - col("p.verschilscore").cast("double")) > 1.5e-4))).count() === 0L)

    val engineInd = pubInd.select(col("id"), col("type_analysis"), col("criterium"),
      col("indicator"), col("belang"),
      col("status_indicator").cast("boolean").as("status_indicator"),
      col("verschilscore").cast("double").as("verschilscore"))
    val crit = LsviForest.criterium(engineInd)
    val pubCrit = readTsv("lsvi_criterium_gr_bm.tsv")
    val cj = crit.alias("m").join(pubCrit.alias("p"),
      Seq("id", "type_analysis", "criterium"))
    assert(cj.count() === pubCrit.count())
    def numBad(cols: Seq[String]) = cols.map(c =>
      !(col(s"m.$c").isNull && col(s"p.$c").isNull) &&
        (col(s"m.$c").isNull || col(s"p.$c").isNull ||
          abs(col(s"m.$c") - col(s"p.$c").cast("double")) > 1.5e-4)).reduce(_ || _)
    assert(cj.where(
      !(col("m.status_criterium").cast("int") <=> col("p.status_criterium").cast("int")) ||
        col("m.n_zb_ongunstig") =!= col("p.n_zb_ongunstig").cast("long") ||
        numBad(Seq("aandeel_gunstig", "index_mean_ind", "doelbereik_mean_ind"))).count() === 0L)

    val glob = LsviForest.globaal(engineInd)
    val pubGlob = readTsv("lsvi_globaal_gr_bm.tsv")
    val gj = glob.alias("m").join(pubGlob.alias("p"), Seq("id", "type_analysis")).cache()
    assert(gj.count() === pubGlob.count())
    assert(gj.where(
      !(col("m.status").cast("int") <=> col("p.status").cast("int")) ||
        col("m.n_zb_ongunstig") =!= col("p.n_zb_ongunstig").cast("long") ||
        numBad(Seq("aandeel_gunstig", "index_mean_ind", "doelbereik_mean_ind"))).count() === 0L)
    // the published index_mean_crit anomaly (Versie3Grasslands scaladoc)
    val imcBad = gj.where(
      abs(col("m.index_mean_crit") - col("p.index_mean_crit").cast("double")) > 1.5e-4).count()
    assert(imcBad <= 126L, s"index_mean_crit off on $imcBad rows")
  }
}
