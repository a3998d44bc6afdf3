package graft

import graft.lsvi.{LsviForest, Versie3Forests}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fidelity of the forest Versie-3 rule content and engine against the
  * reference's PUBLISHED result tables
  * (`/root/reference/processed/lsvi_mhq/forests/result/`): the published
  * detail rows are replayed through [[LsviForest]] and every level
  * (detail verdicts, indicator, criterium, globaal) is compared to the
  * published values. Tolerance 1.5e-4 absorbs the reference's 4-decimal
  * display rounding; the chain is otherwise exact.
  */
class ForestVersie3Spec extends SparkSuite {
  import spark.implicits._

  private val refDir = "/root/reference/processed/lsvi_mhq/forests/result"

  private def readTsv(name: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$refDir/$name")

  private def assumePublished(names: String*): Unit =
    assumeFiles(names.map(n => s"$refDir/$n"): _*)

  private lazy val pubDetail = readTsv("lsvi_detail_fs.tsv").cache()

  /** Published measurements fed back as engine input: the continuous
    * value is `waarde` (full precision — `waarde_numeric` is its
    * 4-decimal rendering); categorical rows carry the class in
    * `waarde` and NO continuous value (the reference derives their
    * verschilscore from unpublished species covers, so only the class
    * verdict is checkable). */
  private lazy val measurements =
    pubDetail.select(
      col("id"), col("voorwaarde"), col("waarde"),
      when(col("waarde_numeric").isNotNull, col("waarde").cast("double"))
        .as("value_numeric"),
      when(col("waarde_numeric").isNull, col("waarde")).as("value_category"))

  private lazy val plots =
    pubDetail.select("id", "type_analysis", "survey", "record_id_square",
      "record_id_circle", "type_observed", "plot_type").distinct()

  private lazy val myDetail =
    LsviForest.detail(plots, measurements, Versie3Forests.rulesDf(spark)).cache()

  test("rule table matches the published rule tuples exactly") {
    assumePublished("lsvi_detail_fs.tsv")
    val published = pubDetail
      .select(col("type_analysis"), col("criterium"), col("indicator"), col("belang"),
        col("voorwaarde"), col("referentiewaarde"),
        col("theoretischmaximum").cast("double"))
      .distinct().as[(String, String, String, String, String, String, Double)]
      .collect().toSet
    assert(Versie3Forests.rules.toSet === published)
    assert(Versie3Forests.rules.size === 203)
  }

  test("detail: status_voorwaarde matches on every published row") {
    assumePublished("lsvi_detail_fs.tsv")
    val joined = myDetail.alias("m").join(
      pubDetail.alias("p"),
      Seq("id", "type_analysis", "voorwaarde"))
    val total = joined.count()
    assert(total === pubDetail.count()) // skeleton reproduces exactly the published rows
    val statusBad = joined.where(
      !(col("m.status_voorwaarde").cast("int") <=> col("p.status_voorwaarde").cast("int"))).count()
    assert(statusBad === 0L)
  }

  test("detail: verschilscore exact at the published 4-decimal half-ULP (numeric rows)") {
    assumePublished("lsvi_detail_fs.tsv")
    val joined = myDetail.alias("m").join(
        pubDetail.alias("p"), Seq("id", "type_analysis", "voorwaarde"))
      .where(col("p.waarde_numeric").isNotNull) // categorical scores need unpublished covers
    val evaluable = joined.where(col("p.verschilscore").isNotNull).count()
    assert(evaluable > 20000L)
    // 5.1e-5: the published score is rendered at 4 decimals, so an exact
    // formula shows at most 5.0e-5 of display rounding — and does
    val bad = joined.where(
      !(col("m.verschilscore").isNull && col("p.verschilscore").isNull) &&
        (col("m.verschilscore").isNull || col("p.verschilscore").isNull ||
          abs(col("m.verschilscore") - col("p.verschilscore").cast("double")) > 5.1e-5)).count()
    assert(bad === 0L)
  }

  /** For the aggregation levels the published detail verdicts/scores are
    * fed in directly (categorical scores are unpublishable from class
    * alone), isolating the aggregation semantics under test. */
  private lazy val pubDetailAsEngine =
    pubDetail
      .join(broadcast(Versie3Forests.rulesDf(spark)
          .select(col("habitattype").as("type_analysis"), col("voorwaarde"),
            col("role"), col("aggregate"))),
        Seq("type_analysis", "voorwaarde"))
      .select(col("id"), col("type_analysis"), col("criterium"), col("indicator"),
        col("belang"), col("status_voorwaarde").cast("boolean").as("status_voorwaarde"),
        col("verschilscore").cast("double").as("verschilscore"),
        col("role"), col("aggregate"))

  private lazy val myIndicator = LsviForest.indicator(pubDetailAsEngine).cache()

  test("indicator: status + verschilscore match all published rows") {
    assumePublished("lsvi_detail_fs.tsv", "lsvi_indicator_fs.tsv")
    val pub = readTsv("lsvi_indicator_fs.tsv")
    val joined = myIndicator.alias("m").join(pub.alias("p"),
      Seq("id", "type_analysis", "criterium", "indicator", "belang"))
    assert(joined.count() === pub.count())
    // the two no-aggregate indicators must NOT appear
    assert(myIndicator.where(
      col("indicator").isin(Versie3Forests.noAggregateIndicators.toSeq: _*)).count() === 0L)
    val bad = joined.where(
      !(col("m.status_indicator").cast("int") <=> col("p.status_indicator").cast("int")) ||
        (!(col("m.verschilscore").isNull && col("p.verschilscore").isNull) &&
          (col("m.verschilscore").isNull || col("p.verschilscore").isNull ||
            abs(col("m.verschilscore") - col("p.verschilscore").cast("double")) > 1.5e-4))).count()
    assert(bad === 0L)
  }

  private def checkAgg(mine: DataFrame, pub: DataFrame, keys: Seq[String],
                       statusCol: String, numCols: Seq[String]): Unit = {
    val joined = mine.alias("m").join(pub.alias("p"), keys)
    assert(joined.count() === pub.count())
    val numBad = numCols.map(c =>
      !(col(s"m.$c").isNull && col(s"p.$c").isNull) &&
        (col(s"m.$c").isNull || col(s"p.$c").isNull ||
          abs(col(s"m.$c") - col(s"p.$c").cast("double")) > 1.5e-4))
      .reduce(_ || _)
    val bad = joined.where(
      !(col(s"m.$statusCol").cast("int") <=> col(s"p.$statusCol").cast("int")) ||
        col("m.n_zb_ongunstig") =!= col("p.n_zb_ongunstig").cast("long") || numBad).count()
    assert(bad === 0L)
  }

  test("criterium: every published row matches") {
    assumePublished("lsvi_detail_fs.tsv", "lsvi_criterium_fs.tsv")
    checkAgg(LsviForest.criterium(myIndicator), readTsv("lsvi_criterium_fs.tsv"),
      Seq("id", "type_analysis", "criterium"), "status_criterium",
      Seq("aandeel_gunstig", "index_mean_ind", "doelbereik_mean_ind"))
  }

  test("plot report: published lsvi_plot_fs rows are globaal + metadata (q108 shape)") {
    assumePublished("lsvi_plot_fs.tsv", "lsvi_globaal_fs.tsv")
    // every published plot-report row must equal its globaal row with
    // the gunstig/ongunstig label — the derivation q108 implements
    val plot = readTsv("lsvi_plot_fs.tsv")
    val glob = readTsv("lsvi_globaal_fs.tsv")
    val joined = plot.alias("p").join(glob.alias("g"), Seq("id"))
    assert(joined.count() === plot.count())
    val bad = joined.where(
      col("p.lsvi") =!= when(col("g.status") === "1", "gunstig").otherwise("ongunstig") ||
        col("p.n_zb_ongunstig") =!= col("g.n_zb_ongunstig") ||
        col("p.habitatsubtype") =!= col("g.type_analysis") ||
        abs(col("p.aandeel_gunstig").cast("double") -
          col("g.aandeel_gunstig").cast("double")) > 1e-9 ||
        abs(col("p.index_mean_ind").cast("double") -
          col("g.index_mean_ind").cast("double")) > 1e-9 ||
        abs(col("p.doelbereik_mean_ind").cast("double") -
          col("g.doelbereik_mean_ind").cast("double")) > 1e-9).count()
    assert(bad === 0L)
  }

  test("globaal: every published row matches") {
    assumePublished("lsvi_detail_fs.tsv", "lsvi_globaal_fs.tsv")
    checkAgg(LsviForest.globaal(myIndicator), readTsv("lsvi_globaal_fs.tsv"),
      Seq("id", "type_analysis"), "status",
      Seq("aandeel_gunstig", "index_mean_ind", "index_mean_crit", "doelbereik_mean_ind"))
  }
}
