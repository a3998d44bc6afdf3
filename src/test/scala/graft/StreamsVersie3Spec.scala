package graft

import graft.lsvi.{LsviForest, Versie3Streams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fidelity of the streams (3260) Versie-3 rule content and engine
  * against the reference's PUBLISHED chain: detail verdicts + scores
  * (`HT3260_ResDetail.tsv`, 984 rows), indicator combination
  * (`HT3260_ResInd.tsv`, 820 rows — the OR-combined sleutelsoorten
  * pair), the plot-level report
  * (`lsvi_mhq/streams/result/lsvi_plot_rw.tsv`, 164 rows), the
  * stratified indicator status table (`status_indicatoren_rw.tsv`),
  * and the HT3260_LSVI.Rmd:96-119 multi-growth-form max-cover prep
  * against the raw `HT3260_vegetation.tsv`.
  *
  * The reference publishes RAW (unclamped) verschilscores at the
  * detail and indicator levels and clamps to [-1, 1] only in the
  * plot-level aggregation; the engine clamps at the detail level.
  * Clamping commutes with the min/max indicator combination, so the
  * comparisons below clamp the published values — with that, every
  * level is exact (tolerance 1e-9 for full-precision columns, 5e-7
  * for the 6-decimal plot table).
  */
class StreamsVersie3Spec extends SparkSuite {
  import spark.implicits._

  private val aqDir = "/root/reference/processed/inboveg_mhq_aq"
  private val rwDir = "/root/reference/processed/lsvi_mhq/streams/result"

  private def readTsv(path: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(path)

  private val detailFile = s"$aqDir/HT3260_ResDetail.tsv"
  private val indFile = s"$aqDir/HT3260_ResInd.tsv"
  private val plotFile = s"$rwDir/lsvi_plot_rw.tsv"

  private lazy val pubDetail = readTsv(detailFile).cache()
  private lazy val pubInd = readTsv(indFile).cache()
  private lazy val pubPlot = readTsv(plotFile).cache()

  private def clamp(c: org.apache.spark.sql.Column) =
    greatest(lit(-1.0), least(lit(1.0), c.cast("double")))

  /** Published measurements fed back as engine input; the one
    * Tansley-class value converts to its midpoint on the prep side
    * (Versie3Streams.tansleyMidpoints), as the Rmd's cover prep does. */
  private lazy val measurements = {
    val mids = typedLit(Versie3Streams.tansleyMidpoints)
    pubDetail.select(
      col("ID").as("id"), col("Voorwaarde").as("voorwaarde"),
      col("Waarde").as("waarde"),
      when(col("Waarde").rlike("^-?[0-9.]+$"), col("Waarde").cast("double"))
        .otherwise(element_at(mids, col("Waarde"))).as("value_numeric"),
      when(!col("Waarde").rlike("^-?[0-9.]+$"), col("Waarde"))
        .as("value_category"))
      .where(col("waarde").isNotNull)
  }

  private lazy val plots =
    pubDetail.select(col("ID").as("id"), col("Habitattype").as("type_analysis"),
        col("survey"), lit(null).cast("string").as("record_id_square"),
        lit(null).cast("string").as("record_id_circle"),
        col("Habitattype").as("type_observed"))
      .distinct()

  private lazy val myDetail =
    LsviForest.detail(plots, measurements, Versie3Streams.rulesDf(spark)).cache()

  private lazy val myInd = LsviForest.indicator(myDetail).cache()

  test("rule table matches the published rule tuples") {
    assumeFiles(detailFile)
    val published = pubDetail
      .select(col("Habitattype"), col("Criterium"), col("Indicator"),
        col("Belang"), col("Voorwaarde"), col("Referentiewaarde"))
      .distinct()
      .as[(String, String, String, String, String, String)].collect().toSet
    assert(published ===
      Versie3Streams.rules.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet)
    assert(Versie3Streams.rules.size === 6)
    // TheoretischMaximum: the dominant published value per rule matches
    // (one single exoten row publishes TM = 1 yet its own verschilscore
    // proves the 100 scale — the score_max = 100 encoding is validated
    // by the exact detail-score replay below)
    val tm = pubDetail.groupBy("Voorwaarde", "TheoretischMaximum").count()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("Voorwaarde").orderBy(col("count").desc)))
      .where(col("rk") === 1)
      .select(col("Voorwaarde"), col("TheoretischMaximum").cast("double"))
      .as[(String, Double)].collect().toMap
    Versie3Streams.rules.foreach { case (_, _, _, _, vw, _, tmax) =>
      assert(tm(vw) === tmax, s"TheoretischMaximum mismatch for $vw")
    }
  }

  test("detail: status and clamped verschilscore exact on all 984 published rows") {
    assumeFiles(detailFile)
    val joined = myDetail.alias("m")
      .join(pubDetail.alias("p"),
        col("m.id") === col("p.ID") && col("m.voorwaarde") === col("p.Voorwaarde"))
    assert(joined.count() === 984L) // 164 plots x 6 rules, skeleton exact
    val statusBad = joined.where(
      !(col("m.status_voorwaarde").cast("int") <=>
        col("p.Status_voorwaarde").cast("int"))).count()
    assert(statusBad === 0L)
    val scoreBad = joined.where(
      !(col("m.verschilscore").isNull && col("p.Verschilscore").isNull) &&
        (col("m.verschilscore").isNull || col("p.Verschilscore").isNull ||
          abs(col("m.verschilscore") - clamp(col("p.Verschilscore"))) > 1e-9)).count()
    assert(scoreBad === 0L)
  }

  test("indicator: OR pair and AND singletons exact on all 820 published rows") {
    assumeFiles(detailFile, indFile)
    val joined = myInd.alias("m")
      .join(pubInd.alias("p"),
        col("m.id") === col("p.ID") && col("m.indicator") === col("p.Indicator"))
    assert(joined.count() === pubInd.count())
    val statusBad = joined.where(
      !(col("m.status_indicator").cast("int") <=>
        col("p.Status_indicator").cast("int"))).count()
    assert(statusBad === 0L)
    val scoreBad = joined.where(
      !(col("m.verschilscore").isNull && col("p.Verschilscore").isNull) &&
        (col("m.verschilscore").isNull || col("p.Verschilscore").isNull ||
          abs(col("m.verschilscore") - clamp(col("p.Verschilscore"))) > 1e-9)).count()
    assert(scoreBad === 0L)
  }

  test("plot level: lsvi / n_zb_ongunstig / aandeel_gunstig / index_mean_ind exact on all 164 rows") {
    assumeFiles(detailFile, plotFile)
    val mine = LsviForest.globaal(myInd)
    val joined = mine.alias("m").join(pubPlot.alias("p"), col("m.id") === col("p.id"))
    assert(joined.count() === 164L)
    val bad = joined.where(
      when(col("m.status"), "gunstig").otherwise("ongunstig") =!= col("p.lsvi") ||
        col("m.n_zb_ongunstig") =!= col("p.n_zb_ongunstig").cast("long") ||
        abs(col("m.aandeel_gunstig") - col("p.aandeel_gunstig").cast("double")) > 1e-9 ||
        abs(col("m.index_mean_ind") - col("p.index_mean_ind").cast("double")) > 5e-7)
      .count()
    assert(bad === 0L)
    assert(pubPlot.select("aggregatiemethode").distinct().as[String].collect()
      === Array("RapportageHR"))
  }

  test("max-cover prep: ladder matches and the Rmd collapse reproduces on the raw vegetation table") {
    assumeFiles(s"$aqDir/HT3260_vegetation.tsv")
    val veg0 = readTsv(s"$aqDir/HT3260_vegetation.tsv")
    // the recording ladder is exactly the published (code, cover) pairs
    val ladder = veg0.select(col("species_cover_code"),
        col("species_cover").cast("double"))
      .distinct().as[(String, Double)].collect().toSet
    assert(ladder === Versie3Streams.speciesCoverLadder.toSet)
    val veg = veg0.select(col("recording_givid").as("id"), col("name"),
      col("species_cover_code").as("class_code"))
    val prepped = Versie3Streams.prepSpecies(veg).cache()
    // one row per (recording, species)
    assert(prepped.count() === veg.select("id", "name").distinct().count())
    // the winner is the max effective cover, and the back-join recovers
    // a class whose effective cover IS the winner (unique by the r->0.1
    // remap — with r and o both recorded at species_cover 1, a plain
    // max over the raw ladder could not reproduce this)
    val eff = typedLit(Versie3Streams.effectiveCover)
    val expected = veg
      .withColumn("c", element_at(eff, col("class_code")))
      .groupBy("id", "name").agg(max(col("c")).as("c"))
    val bad = prepped.join(expected, Seq("id", "name"))
      .where(col("cover") =!= col("c") ||
        element_at(eff, col("class_code")) =!= col("cover"))
      .count()
    assert(bad === 0L)
    // the multi-growth-form workaround is genuinely exercised
    val multi = veg.groupBy("id", "name")
      .agg(countDistinct("class_code").as("n")).where(col("n") > 1).count()
    assert(multi === 81L)
  }

  test("status_indicatoren_rw: strata are plain proportions pooled 2/3 Binnen + 1/3 Buiten") {
    assumeFiles(s"$rwDir/status_indicatoren_rw.tsv")
    val rows = readTsv(s"$rwDir/status_indicatoren_rw.tsv")
      .select(col("sbzh"), col("indicator"), col("n_obs").cast("int"),
        col("aandeel_gunstig").cast("double"))
      .as[(String, String, Int, Double)].collect()
    val binnen = rows.filter(_._1 == "Binnen").map(r => r._2 -> r).toMap
    val buiten = rows.filter(_._1 == "Buiten").map(r => r._2 -> r).toMap
    val pooled = rows.filter(_._1 == "Binnen & Buiten")
    assert(binnen.size === 5 && buiten.size === 5 && pooled.length === 5)
    // Binnen (n=76) and Buiten (n=21) rows are exact k/n proportions
    (binnen.values ++ buiten.values).foreach { case (sbzh, ind, n, a) =>
      assert(n === (if (sbzh == "Binnen") 76 else 21))
      val k = math.round(a * n / 100.0)
      assert(math.abs(100.0 * k / n - a) <= 0.005, s"$sbzh/$ind not k/$n: $a")
    }
    // every pooled row is the ~2/3 : 1/3 SAC-stratum mix of the exact
    // stratum proportions. Gate derivation (r10): the published value
    // is 2-decimal (±0.005); with exact integer stratum k the
    // exact-mix prediction lands within 0.0101 of every published
    // value (max on `sleutelsoorten`), i.e. ≤0.0051pp of genuine
    // within-stratum weight variation remains (the per-plot design
    // weights are drawn in the reference's analysis repo, outside
    // this snapshot) — 0.011 is the tightest snapshot-derivable gate;
    // ≤0.005 would need the unpublished per-plot weights themselves.
    // The same mix replayed through the weighted ENGINE estimator is
    // gated in WeightedStatusSpec.
    pooled.foreach { case (_, ind, n, a) =>
      assert(n === 97)
      val (_, _, nb, ab) = binnen(ind)
      val (_, _, nu, au) = buiten(ind)
      val kb = math.round(ab * nb / 100.0)
      val ku = math.round(au * nu / 100.0)
      val exp = (2.0 / 3.0) * 100.0 * kb / nb + (1.0 / 3.0) * 100.0 * ku / nu
      assert(math.abs(exp - a) <= 0.011, s"pooled $ind: $a vs $exp")
      assert(a >= math.min(ab, au) - 0.005 && a <= math.max(ab, au) + 0.005,
        s"pooled $ind outside stratum hull")
    }
  }
}
