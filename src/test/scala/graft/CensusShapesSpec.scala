package graft

import graft.lsvi.LsviStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Engine-level replay of the reference's special-case published
  * tables — the census habitats and the continuous dead-wood shapes
  * (`/root/reference/processed/lsvi_mhq/...`):
  *
  *   - `status_dikdoodhout` / `trend_dikdoodhout` (forests): the
  *     analysis SET replays exactly — strata are latest visit / pair
  *     per (point, habitatsubtype) over the POOLED forest + moneos
  *     plots (91E0_sf draws 47 of its 51 points from the estuary
  *     scheme), the 91E0 habitattype roll-up sums its subtype strata
  *     (354 over 306 distinct points), and interval columns are NULL
  *     below 5 pairs exactly where the published rows carry NA. The
  *     measured value (thick-dead-wood stems/ha from the tree-level
  *     inventory) is NOT in the reference snapshot, so value columns
  *     are shape-level only.
  *   - `status_habitat_2110` / `status_indicatoren_2110` /
  *     `status_*_5130`: reconstructing the per-stratum polygons from
  *     the published areas and running [[LsviStatus.statusAreaCensus]]
  *     round-trips every published row — area sums, the pessimistic/
  *     optimistic/midpoint shares, and the 75% beoordeling.
  *   - `trend_habitat_2110` / `trend_indicatoren_2110`: two
  *     reconstructed censuses through [[LsviStatus.trendAreaCensus]]
  *     reproduce the published difference, the factor-index klasse
  *     (point-estimate [[LsviStatus.effectKlasse]]), the year span
  *     and the NA row for the indicator missing a cycle.
  */
class CensusShapesSpec extends SparkSuite {

  private val base = "/root/reference/processed/lsvi_mhq"

  private def readTsv(path: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(path)

  /** The published files [[pooledPlots]] reads. */
  private val pooledPlotFiles = Seq(
    s"$base/forests/result/lsvi_plot_fs.tsv",
    s"$base/moneos/result/lsvi_globaal_moneos.tsv")

  /** Pooled forest + moneos(91E0_sf) plot visits with a constant fake
    * value (only the analysis set is validated — see class doc). */
  private lazy val pooledPlots: DataFrame = {
    val fs = readTsv(pooledPlotFiles(0)).select(
      col("id"),
      year(date_add(to_date(lit("1970-01-01")),
        col("date").cast("int"))).as("date"),
      col("point_code"), col("habitattype"), col("habitatsubtype"))
    val mo = readTsv(pooledPlotFiles(1))
      .where(col("type_analysis") === "91E0_sf")
      .select(col("id"),
        year(to_date(substring_index(col("id"), "_", -1))).as("date"),
        substring_index(col("id"), "_", 1).as("point_code"),
        lit("91E0").as("habitattype"),
        lit("91E0_sf").as("habitatsubtype"))
    fs.unionByName(mo).withColumn("value", lit(1.0))
  }

  private val subSet =
    concat_ws("; ", sort_array(split(col("habitatsubtype"), "; ")))

  test("status_dikdoodhout: the analysis set replays on all published rows") {
    assumeFiles(pooledPlotFiles :+
      s"$base/forests/result/status_dikdoodhout.tsv": _*)
    val got = LsviStatus.statusContinuous(pooledPlots,
      "hoeveelheid dik dood hout", "aantal exemplaren dik dood hout per ha")
      .withColumn("sub_set", subSet).drop("habitatsubtype")
    val pub = readTsv(s"$base/forests/result/status_dikdoodhout.tsv")
      .select(col("type_resultaat"), col("habitattype"),
        subSet.as("sub_set"),
        col("n_obs").cast("long").as("pub_n"))
    val j = pub.join(got, Seq("type_resultaat", "habitattype", "sub_set"),
      "left").cache()
    assert(j.count() === 11, "published row count")
    assert(j.where(col("n_obs").isNull).count() === 0, "missing engine rows")
    assert(j.where(col("n_obs") =!= col("pub_n")).count() === 0, "n_obs")
    // roll-up = sum of the published subtype strata, not distinct points
    assert(j.where(col("type_resultaat") === "Habitattype" &&
      col("habitattype") === "91E0" && col("pub_n") === 354).count() === 1)
  }

  test("trend_dikdoodhout: paired set and the interval-NA rule replay") {
    assumeFiles(pooledPlotFiles :+
      s"$base/forests/result/trend_dikdoodhout.tsv": _*)
    val got = LsviStatus.trendContinuous(pooledPlots,
      "hoeveelheid dik dood hout", "aantal exemplaren dik dood hout per ha")
      .withColumn("sub_set", subSet).drop("habitatsubtype")
    val pub = readTsv(s"$base/forests/result/trend_dikdoodhout.tsv")
      .select(col("type_resultaat"), col("habitattype"),
        subSet.as("sub_set"),
        col("n_obs").cast("long").as("pub_n"),
        col("verschil_llci").isNull.as("pub_na"))
    val j = pub.join(got, Seq("type_resultaat", "habitattype", "sub_set"),
      "left").cache()
    assert(j.count() === 11, "published row count")
    assert(j.where(col("n_obs").isNull).count() === 0, "missing engine rows")
    assert(j.where(col("n_obs") =!= col("pub_n")).count() === 0, "n_obs")
    // published NA bounds exactly where the engine nulls them (n < 5)
    assert(j.where(col("pub_na") =!= col("verschil_llci").isNull)
      .count() === 0, "interval NA rule")
  }

  test("weighted continuous overloads reduce exactly to unweighted at unit weights") {
    assumeFiles(pooledPlotFiles: _*)
    // Kish n_eff = n at w = 1, and the weighted interval algebra
    // collapses to z·sd/√n — the same closed form the unweighted shape
    // computes through its fixed-point path, so the two overloads must
    // agree to float noise on every row
    val in = pooledPlots
      .withColumn("value", (abs(hash(col("id"))) % 400).cast("double") / 16.0)
      .withColumn("w", lit(1.0))
    for ((uw, w) <- Seq(
        (LsviStatus.statusContinuous(in, "i", "v"),
         LsviStatus.statusContinuous(in, "i", "v", Some("w"))),
        (LsviStatus.trendContinuous(in, "i", "v"),
         LsviStatus.trendContinuous(in, "i", "v", Some("w"))))) {
      val meanCol = uw.columns.find(c => c == "gemiddelde" || c == "verschil").get
      val keys = Seq("type_resultaat", "habitattype", "habitatsubtype")
      val j = uw.alias("u").join(w.alias("w"), keys).cache()
      assert(j.count() === uw.count() && uw.count() === w.count())
      assert(j.where(col("u.n_obs") =!= col("w.n_obs")).count() === 0)
      for (c <- Seq(meanCol, s"${meanCol}_llci", s"${meanCol}_ulci")) {
        val bad = j.where(
          !(col(s"u.$c") <=> col(s"w.$c")) &&
            abs(col(s"u.$c") - col(s"w.$c")) > 1e-9).count()
        assert(bad === 0, s"$meanCol/$c diverges at unit weights")
      }
    }
  }

  /** See [[CensusFixtures.polysFrom]] (shared with the publication
    * composition spec). */
  private def polysFrom(pub: DataFrame, detail: Seq[String]): DataFrame =
    CensusFixtures.polysFrom(pub, detail)

  private def checkCensus(file: String, detail: Seq[String],
      aandeelTol: Double): Unit = {
    val pub = readTsv(s"$base/$file").cache()
    val got = LsviStatus.statusAreaCensus(polysFrom(pub, detail), detail)
    val keys = Seq("type_resultaat", "habitattype", "sbzh") ++ detail
    val pubAandeel = if (pub.columns.contains("aandeel_gunstig"))
      col("aandeel_gunstig") else
      (col("aandeel_gunstig_min").cast("double") +
        col("aandeel_gunstig_max").cast("double")) / 2.0
    val p = pub.select((keys.map(col) :+
      pubAandeel.cast("double").as("pub_aandeel") :+
      col("beoordeling").as("pub_beoordeling") :+
      col("opp_gunstig_ha").cast("double").as("pub_g")): _*)
    val j = p.join(got, keys, "left").cache()
    assert(j.count() === pub.count(), s"$file: joined row count")
    assert(j.where(col("aandeel_gunstig").isNull).count() === 0,
      s"$file: missing engine rows")
    assert(j.where(abs(col("opp_gunstig_ha") - col("pub_g")) > 1e-6)
      .count() === 0, s"$file: area round-trip")
    assert(j.where(abs(col("aandeel_gunstig") - col("pub_aandeel")) >
      aandeelTol).count() === 0, s"$file: aandeel_gunstig")
    assert(j.where(col("beoordeling") =!= col("pub_beoordeling"))
      .count() === 0, s"$file: beoordeling")
  }

  test("status 2110/5130: census shares, bounds and verdicts round-trip") {
    assumeFiles(Seq("coastal_dunes/result/status_habitat_2110.tsv",
      "coastal_dunes/result/status_indicatoren_2110.tsv",
      "heath_inland_dunes/result/status_habitat_5130.tsv",
      "heath_inland_dunes/result/status_indicatoren_5130.tsv")
      .map(f => s"$base/$f"): _*)
    // 2110 publishes 4+-digit shares; 5130 rounds areas to 2 decimals,
    // so recomputed shares can move in the second decimal
    checkCensus("coastal_dunes/result/status_habitat_2110.tsv", Nil, 1e-3)
    checkCensus("coastal_dunes/result/status_indicatoren_2110.tsv",
      Seq("criterium", "indicator", "belang"), 1e-2)
    checkCensus("heath_inland_dunes/result/status_habitat_5130.tsv", Nil, 0.03)
    checkCensus("heath_inland_dunes/result/status_indicatoren_5130.tsv",
      Seq("criterium", "indicator", "belang"), 0.03)
    // the optimistic/pessimistic allocation reproduces the published
    // 5130 bounds: llci = g/tot, ulci = (g+u)/tot, aandeel = midpoint
    val pub = readTsv(
      s"$base/heath_inland_dunes/result/status_indicatoren_5130.tsv")
      .select(col("aandeel_gunstig").cast("double").as("mid"),
        col("aandeel_gunstig_llci").cast("double").as("lo"),
        col("aandeel_gunstig_ulci").cast("double").as("hi"))
    assert(pub.where(abs((col("lo") + col("hi")) / 2 - col("mid")) > 5e-3)
      .count() === 0, "midpoint identity on published rows")
  }

  test("trend 2110: difference, factor-index klasse and year span replay") {
    assumeFiles(Seq("trend_habitat_2110.tsv", "status_habitat_2110.tsv",
      "trend_indicatoren_2110.tsv", "status_indicatoren_2110.tsv")
      .map(f => s"$base/coastal_dunes/result/$f"): _*)
    Seq(
      ("coastal_dunes/result/trend_habitat_2110.tsv",
        "coastal_dunes/result/status_habitat_2110.tsv", Seq.empty[String]),
      ("coastal_dunes/result/trend_indicatoren_2110.tsv",
        "coastal_dunes/result/status_indicatoren_2110.tsv",
        Seq("criterium", "indicator", "belang"))
    ).foreach { case (trendFile, statusFile, detail) =>
      val keys = Seq("type_resultaat", "habitattype", "sbzh") ++ detail
      val dkeys = Seq("habitattype") ++ detail
      val status = readTsv(s"$base/$statusFile")
      val trend = readTsv(s"$base/$trendFile").cache()
      val d = trend.select((keys.map(col) :+
        col("mean").cast("double").as("pub_d") :+
        col("klasse").as("pub_klasse") :+
        col("verschil_jaar").cast("int").as("pub_vj")): _*).cache()
      // cycle 2 = the published census (2023); cycle 1 carries each
      // stratum's share shifted back by the published difference, on
      // the TRUE Binnen/Buiten area split so the pooled Habitattype
      // share lands on its own published shift
      val c2 = polysFrom(status, detail).withColumn("date", lit(2023))
      val a2 = LsviStatus.statusAreaCensus(c2, detail)
        .select((keys.map(col) :+ col("aandeel_gunstig").as("a2")): _*)
      val back = a2.join(d.where(col("pub_d").isNotNull), keys, "inner")
        .withColumn("a1", col("a2") - col("pub_d"))
      val tots = c2.groupBy(dkeys.head, dkeys.tail: _*).agg(
        sum(when(col("in_sac") === 1, col("area_ha")).otherwise(0.0))
          .as("bin_tot"),
        sum(when(col("in_sac") === 0, col("area_ha")).otherwise(0.0))
          .as("bui_tot"))
      val b1 = back.where(col("type_resultaat") === "SBZH" &&
          col("sbzh") === "Binnen")
        .select((col("habitattype") +: col("a1").as("b1") +:
          detail.map(col)): _*)
      val h1 = back.where(col("type_resultaat") === "Habitattype")
        .select((col("habitattype") +: col("a1").as("h1") +:
          detail.map(col)): _*)
      val x1 = h1.join(b1, dkeys, "left").join(tots, dkeys, "left")
        .withColumn("b1", coalesce(col("b1"), col("h1")))
        .withColumn("x", when(col("bui_tot") > 0,
          (col("h1") * (col("bin_tot") + col("bui_tot")) -
            col("b1") * col("bin_tot")) / col("bui_tot")))
      val c1 = x1.select((col("habitattype") +:
          explode(array(
            struct(lit(1).as("in_sac"), lit("gunstig").as("verdict"),
              (col("bin_tot") * col("b1") / 100.0).as("area_ha")),
            struct(lit(1).as("in_sac"), lit("ongunstig").as("verdict"),
              (col("bin_tot") * (lit(100.0) - col("b1")) / 100.0)
                .as("area_ha")),
            struct(lit(0).as("in_sac"), lit("gunstig").as("verdict"),
              (col("bui_tot") * coalesce(col("x"), lit(0.0)) / 100.0)
                .as("area_ha")),
            struct(lit(0).as("in_sac"), lit("ongunstig").as("verdict"),
              (col("bui_tot") *
                (lit(100.0) - coalesce(col("x"), lit(0.0))) / 100.0)
                .as("area_ha")))).as("p") +: detail.map(col)): _*)
        .select((col("habitattype") +: col("p.in_sac").as("in_sac") +:
          col("p.verdict").as("verdict") +:
          col("p.area_ha").as("area_ha") +: detail.map(col)): _*)
        .where(col("area_ha") > 0)
        .withColumn("date", lit(2017))
      val got = LsviStatus.trendAreaCensus(c1, c2, detail)
      val j = d.join(got, keys, "left").cache()
      assert(j.count() === trend.count(), s"$trendFile: row count")
      val known = j.where(col("pub_d").isNotNull)
      assert(known.where(col("mean").isNull).count() === 0,
        s"$trendFile: missing engine rows")
      assert(known.where(abs(col("mean") - col("pub_d")) > 0.05)
        .count() === 0, s"$trendFile: mean difference")
      assert(known.where(col("klasse") =!= col("pub_klasse")).count() === 0,
        s"$trendFile: klasse")
      assert(known.where(col("jaar_min") =!= 2017 ||
        col("jaar_max") =!= 2023 || col("verschil_jaar") =!= col("pub_vj"))
        .count() === 0, s"$trendFile: years")
      // the indicator missing a cycle publishes NA and stays NA
      assert(j.where(col("pub_d").isNull && col("mean").isNotNull)
        .count() === 0, s"$trendFile: NA rows stay NA")
    }
  }
}
