package graft

import graft.lsvi.LsviStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fidelity of the design-level status/trend shapes ([[LsviStatus]])
  * against the reference's PUBLISHED forest tables
  * (`/root/reference/processed/lsvi_mhq/forests/result/`) and the
  * streams status table:
  *
  *   - `status_indicatoren_fs`: with the latest-cycle-per-point
  *     selection, n_obs and aandeel_gunstig are EXACT on all 100
  *     single-subtype Binnen/Buiten rows (the published stratum
  *     estimates are plain proportions); pooled rows carry design
  *     weights and are gated n_obs-exact + convex-hull;
  *   - `beoordeling`: the Goed / Niet goed / Onbekend verdict at 75%
  *     reproduces EVERY published class from the published bounds
  *     (the integer codes are git2rdata factor indices — fs maps
  *     Goed=1/Niet goed=2/Onbekend=3, rw maps 4/5/3);
  *   - [[LsviStatus.logitTCi]] tracks the published design-weighted
  *     bounds within 2pp on the stratum rows;
  *   - `index_hq_fs`: n_obs exact, means within 0.007 and z bounds
  *     within 0.007 of the published design-weighted values,
  *     single-plot groups NA as published;
  *   - `mc_nemar_fs`: pair counts per transition EXACT from the
  *     two-cycle points, and the no-continuity chi-square on the
  *     published weighted discordant counts reproduces every
  *     published p-value via [[LsviStatus.mcNemarP]].
  */
class StatusShapesSpec extends SparkSuite {
  import spark.implicits._

  private val fsDir = "/root/reference/processed/lsvi_mhq/forests/result"
  private val rwDir = "/root/reference/processed/lsvi_mhq/streams/result"

  private def readTsv(path: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(path)

  private def fs(names: String*): Seq[String] = names.map(n => s"$fsDir/$n")

  /** The published files [[plotMeta]] reads. */
  private val plotMetaFiles = fs("lsvi_plot_fs.tsv", "lsvi_globaal_fs.tsv")

  /** (id, habitattype = full type_analysis, point_code, date, in_sac) —
    * plot metadata joined to the globaal table for the untruncated
    * type code (the plot table renders 9130_end as 9130). */
  private lazy val plotMeta =
    readTsv(plotMetaFiles(0)).alias("p")
      .join(readTsv(plotMetaFiles(1)).alias("g"),
        col("p.id") === col("g.id"))
      .select(col("p.id").as("id"), col("g.type_analysis").as("habitattype"),
        col("p.point_code"), col("p.date").cast("int").as("date"),
        col("p.in_sac").cast("int").as("in_sac"),
        col("p.index_mean_ind").cast("double").as("index_mean_ind"),
        col("p.lsvi"), lit(1.0).as("weight"))
      .cache()

  private lazy val pubStatus = readTsv(s"$fsDir/status_indicatoren_fs.tsv")
    .where(!col("habitatsubtype").contains(";")).cache()

  test("status_indicatoren: stratum rows are exact plain proportions over latest-per-point") {
    assumeFiles(plotMetaFiles ++ fs("lsvi_indicator_fs.tsv",
      "status_indicatoren_fs.tsv"): _*)
    val ind = readTsv(s"$fsDir/lsvi_indicator_fs.tsv")
      .select(col("id"), col("type_analysis"), col("criterium"), col("indicator"),
        col("belang"), (col("status_indicator").cast("int") === 1)
          .as("status_indicator"))
    val mine = LsviStatus.statusIndicatoren(ind, plotMeta)
    val strat = mine.alias("m").join(pubStatus.alias("p"),
      col("m.habitattype") === col("p.habitatsubtype") &&
        col("m.sbzh") === col("p.sbzh") &&
        col("m.criterium") === col("p.criterium") &&
        col("m.indicator") === col("p.indicator"))
    val stratum = strat.where(col("p.sbzh").isin("Binnen", "Buiten"))
    assert(stratum.count() === 100L)
    val bad = stratum.where(
      col("m.n_obs") =!= col("p.n_obs").cast("long") ||
        abs(col("m.aandeel_gunstig") - col("p.aandeel_gunstig").cast("double")) > 0.005)
      .select(col("m.habitattype"), col("m.sbzh"), col("m.indicator"),
        col("m.n_obs"), col("p.n_obs"), col("m.aandeel_gunstig"),
        col("p.aandeel_gunstig"))
      .collect()
    assert(bad.isEmpty, bad.mkString("; "))
    // pooled rows: n_obs exact (= Binnen + Buiten) for the plain
    // habitat types; the 91E0 subtype rows additionally carry the
    // reference's subtype-share weighting (its analysis repo, outside
    // this snapshot) and are excluded here
    val pooled = strat.where(col("p.sbzh") === "Binnen & Buiten" &&
      !col("m.habitattype").startsWith("91E0"))
    val pooledBadN = pooled.where(
      col("m.n_obs") =!= col("p.n_obs").cast("long"))
      .select(col("m.habitattype"), col("m.indicator"), col("m.n_obs"),
        col("p.n_obs"))
      .collect()
    assert(pooledBadN.isEmpty, pooledBadN.mkString("; "))
  }

  test("beoordeling: the 75% CI verdict reproduces every published class") {
    assumeFiles(s"$fsDir/status_indicatoren_fs.tsv",
      s"$rwDir/status_indicatoren_rw.tsv")
    // fs codes: Goed=1, Niet goed=2, Onbekend=3; rw codes: 4/5/3
    def classes(df: DataFrame, m: Map[String, String]): Long = {
      val mm = typedLit(m)
      df.select(col("beoordeling"),
          col("aandeel_gunstig_llci").cast("double").as("lo"),
          col("aandeel_gunstig_ulci").cast("double").as("hi"))
        .where(col("lo").isNotNull && col("hi").isNotNull)
        .withColumn("mine", element_at(mm,
          when(col("lo") >= 75.0, "Goed")
            .when(col("hi") < 75.0, "Niet goed").otherwise("Onbekend")))
        .where(col("mine") =!= col("beoordeling"))
        .count()
    }
    val fsMap = Map("Goed" -> "1", "Niet goed" -> "2", "Onbekend" -> "3")
    val rwMap = Map("Goed" -> "4", "Niet goed" -> "5", "Onbekend" -> "3")
    assert(classes(readTsv(s"$fsDir/status_indicatoren_fs.tsv"), fsMap) === 0L)
    assert(classes(readTsv(s"$rwDir/status_indicatoren_rw.tsv"), rwMap) === 0L)
  }

  test("logitTCi tracks the published stratum bounds within 2pp; t quantiles match the tables") {
    assumeFiles(s"$fsDir/status_indicatoren_fs.tsv")
    // Student-t 97.5% quantiles against the standard printed table
    val expected = Map(1 -> 12.706, 2 -> 4.303, 5 -> 2.571, 10 -> 2.228,
      30 -> 2.042, 100 -> 1.984)
    expected.foreach { case (df, t) =>
      val mine = new org.apache.commons.math3.distribution.TDistribution(df)
        .inverseCumulativeProbability(0.975)
      assert(math.abs(mine - t) < 5e-4, s"t(0.975, $df)")
    }
    // 10 of the 100 stratum rows publish NA bounds (n=1 groups)
    val rows = pubStatus
      .where(col("sbzh").isin("Binnen", "Buiten") &&
        col("aandeel_gunstig_llci").isNotNull)
      .select(col("n_obs").cast("long"),
        col("aandeel_gunstig").cast("double"),
        col("aandeel_gunstig_llci").cast("double"),
        col("aandeel_gunstig_ulci").cast("double"))
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.length === 90)
    rows.foreach { case (n, a, pl, pu) =>
      val k = math.round(a * n / 100.0)
      val (lo, hi) = LsviStatus.logitTCi(k, n)
      assert(math.abs(lo - pl) <= 2.0 && math.abs(hi - pu) <= 2.0,
        s"n=$n k=$k: ($lo, $hi) vs ($pl, $pu)")
      if (k == 0 || k == n) assert(lo === pl && hi === pu) // degenerate exact
    }
  }

  test("index_hq: n_obs exact, means and z bounds track published within 0.007") {
    assumeFiles(plotMetaFiles ++ fs("index_hq_fs.tsv"): _*)
    val mine = LsviStatus.indexHq(plotMeta).cache()
    val pub = readTsv(s"$fsDir/index_hq_fs.tsv")
      .where(col("habitattype").isin("9110", "9120", "9130_end", "9160", "9190"))
    val joined = mine.alias("m").join(pub.alias("p"),
      col("m.habitattype") === col("p.habitattype") &&
        col("m.type_resultaat") === col("p.type_resultaat") &&
        col("m.sbzh") === col("p.sbzh"))
    assert(joined.count() === pub.count())
    val bad = joined.where(
      col("m.n_obs") =!= col("p.n_obs").cast("long") ||
        abs(col("m.index_hq_mean") - col("p.index_hq_mean").cast("double")) > 0.007 ||
        !(col("m.index_hq_llci").isNull && col("p.`index_hq_llci_0.95`").isNull ||
          abs(col("m.index_hq_llci") - col("p.`index_hq_llci_0.95`").cast("double")) <= 0.007) ||
        !(col("m.index_hq_ulci").isNull && col("p.`index_hq_ulci_0.95`").isNull ||
          abs(col("m.index_hq_ulci") - col("p.`index_hq_ulci_0.95`").cast("double")) <= 0.007))
      .count()
    assert(bad === 0L)
  }

  test("trend_indicatoren: n_obs exact, equal-weight means track published (median <=1.5pp, max <=9pp)") {
    assumeFiles(plotMetaFiles ++ fs("lsvi_indicator_fs.tsv",
      "trend_indicatoren_fs.tsv"): _*)
    val ind = readTsv(s"$fsDir/lsvi_indicator_fs.tsv")
      .select(col("id"), col("type_analysis"), col("criterium"), col("indicator"),
        col("belang"), (col("status_indicator").cast("int") === 1)
          .as("status_indicator"))
    val mine = LsviStatus.trendIndicatoren(ind, plotMeta).cache()
    val pub = readTsv(s"$fsDir/trend_indicatoren_fs.tsv")
      .where(!coalesce(col("habitatsubtype"), lit("")).contains(";") &&
        col("parameter").isin("aandeel_gunstig", "verschil_aandeel_gunstig_abs"))
      .withColumn("ht",
        coalesce(col("habitatsubtype"), col("habitattype")))
    val joined = mine.alias("m").join(pub.alias("p"),
      col("m.habitattype") === col("p.ht") &&
        col("m.periode") === col("p.periode") &&
        col("m.criterium") === col("p.criterium") &&
        col("m.indicator") === col("p.indicator") &&
        col("m.parameter") === col("p.parameter"))
    assert(joined.count() === pub.count())
    val badN = joined.where(
      col("m.n_obs") =!= col("p.n_obs").cast("long")).count()
    assert(badN === 0L)
    // the published means are design-weighted: the equal-weight
    // estimate matches closely in the large groups and drifts up to
    // ~8.5pp in the smallest (n=18) where plot weights vary most
    val diffs = joined
      .select(abs(col("m.mean") - col("p.mean").cast("double")).as("d"))
      .where(col("d").isNotNull).as[Double].collect().sorted
    assert(diffs.nonEmpty)
    assert(diffs(diffs.length / 2) <= 1.5, s"median ${diffs(diffs.length / 2)}")
    assert(diffs.last <= 9.0, s"max ${diffs.last}")
  }

  test("status_habitat: stratum rows are exact plain proportions of the plot verdict") {
    assumeFiles(plotMetaFiles ++ fs("status_habitat_fs.tsv"): _*)
    val mine = LsviStatus.statusHabitat(plotMeta)
    val pub = readTsv(s"$fsDir/status_habitat_fs.tsv")
      .withColumn("ht", coalesce(col("habitatsubtype"), col("habitattype")))
      .where(!col("ht").contains(";"))
    val joined = mine.alias("m").join(pub.alias("p"),
      col("m.habitattype") === col("p.ht") && col("m.sbzh") === col("p.sbzh"))
    val stratum = joined.where(col("p.sbzh").isin("Binnen", "Buiten"))
    assert(stratum.count() === 10L) // the five plain types x 2 strata
    val bad = stratum.where(
      col("m.n_obs") =!= col("p.n_obs").cast("long") ||
        abs(col("m.aandeel_gunstig") - col("p.aandeel_gunstig").cast("double")) > 0.005)
      .count()
    assert(bad === 0L)
    // pooled rows (excluding the 91E0_sf subtype-share case): n exact
    val pooledBad = joined.where(col("p.sbzh") === "Binnen & Buiten" &&
        col("m.habitattype") =!= "91E0_sf" &&
        col("m.n_obs") =!= col("p.n_obs").cast("long")).count()
    assert(pooledBad === 0L)
  }

  test("index_ind: n_obs exact, stratum means exact, pooled/bounds track published") {
    assumeFiles(plotMetaFiles ++ fs("lsvi_indicator_fs.tsv", "index_ind_fs.tsv"): _*)
    val ind = readTsv(s"$fsDir/lsvi_indicator_fs.tsv")
      .select(col("id"), col("type_analysis"), col("criterium"), col("indicator"),
        col("belang"),
        greatest(lit(-1.0), least(lit(1.0), col("verschilscore").cast("double")))
          .as("verschilscore"))
    val mine = LsviStatus.indexInd(ind, plotMeta).cache()
    // the published table lists the 9130_end analysis twice — as TYPE
    // 9130 (type_resultaat Habitattype) and as subtype 9130_end
    // (type_resultaat Habitatsubtype), same plot set both times
    val pub = readTsv(s"$fsDir/index_ind_fs.tsv")
      .where(!col("habitattype").startsWith("91E0"))
      .withColumn("ht", when(col("habitattype") === "9130", "9130_end")
        .otherwise(col("habitattype")))
      .withColumn("type_resultaat",
        when(col("type_resultaat") === "Habitatsubtype", "Habitattype")
          .otherwise(col("type_resultaat")))
    val joined = mine.alias("m").join(pub.alias("p"),
      col("m.habitattype") === col("p.ht") &&
        col("m.type_resultaat") === col("p.type_resultaat") &&
        col("m.sbzh") === col("p.sbzh") &&
        col("m.criterium") === col("p.criterium") &&
        col("m.indicator") === col("p.indicator"))
    assert(joined.count() === pub.count())
    val badN = joined.where(
      col("m.n_obs") =!= col("p.n_obs").cast("long")).count()
    assert(badN === 0L)
    // stratum means are plain (exact up to 4-decimal display rounding);
    // pooled means carry design weights; bounds are the z interval vs
    // the reference's t/design one
    val badStratum = joined.where(col("p.sbzh").isin("Binnen", "Buiten") &&
      abs(col("m.index_ind_mean") - col("p.index_ind_mean").cast("double")) > 1e-4)
      .count()
    assert(badStratum === 0L)
    val badPooled = joined.where(col("p.sbzh") === "Binnen & Buiten" &&
      abs(col("m.index_ind_mean") - col("p.index_ind_mean").cast("double")) > 0.05)
      .count()
    assert(badPooled === 0L)
    val badBounds = joined.where(
      col("p.`index_ind_llci_0.95`").isNotNull && col("m.index_ind_llci").isNotNull &&
        (abs(col("m.index_ind_llci") - col("p.`index_ind_llci_0.95`").cast("double")) > 0.1 ||
          abs(col("m.index_ind_ulci") - col("p.`index_ind_ulci_0.95`").cast("double")) > 0.1))
      .count()
    assert(badBounds === 0L)
  }

  test("trend_index_hq: stratum rows exact (mean AND bounds — the published interval IS this z interval)") {
    assumeFiles(plotMetaFiles ++ fs("trend_index_hq_fs.tsv"): _*)
    val mine = LsviStatus.trendIndexHq(plotMeta)
    val pub = readTsv(s"$fsDir/trend_index_hq_fs.tsv")
      .where(!col("habitattype").startsWith("91E0") &&
        col("type_resultaat") =!= "Habitatsubtype")
      .withColumn("ht", when(col("habitattype") === "9130", "9130_end")
        .otherwise(col("habitattype")))
    val joined = mine.alias("m").join(pub.alias("p"),
      col("m.habitattype") === col("p.ht") &&
        col("m.type_resultaat") === col("p.type_resultaat") &&
        col("m.sbzh") === col("p.sbzh"))
    assert(joined.count() === pub.count())
    // 5e-6: the published values carry their own ~1e-6 rendering on
    // top of the plot table's 4-decimal index (measured worst 1.5e-6)
    val badStratum = joined.where(col("p.sbzh").isin("Binnen", "Buiten") &&
        (abs(col("m.index_diff_mean") - col("p.index_diff_mean").cast("double")) > 5e-6 ||
          abs(col("m.index_diff_llci") - col("p.`index_diff_llci_0.95`").cast("double")) > 5e-6 ||
          abs(col("m.index_diff_ulci") - col("p.`index_diff_ulci_0.95`").cast("double")) > 5e-6))
      .count()
    assert(badStratum === 0L)
    val badPooled = joined.where(col("p.sbzh") === "Binnen & Buiten" &&
        abs(col("m.index_diff_mean") - col("p.index_diff_mean").cast("double")) > 0.005)
      .count()
    assert(badPooled === 0L)
    // relative change: published at 3 decimals, stratum rows plain
    val badRel = joined.where(col("p.sbzh").isin("Binnen", "Buiten") &&
        col("p.index_diff_rel").isNotNull &&
        abs(col("m.index_diff_rel") - col("p.index_diff_rel").cast("double")) > 5e-3)
      .count()
    assert(badRel === 0L)
  }

  test("trend_index_ind: stratum rows exact, pooled within design-weight tolerance") {
    assumeFiles(plotMetaFiles ++ fs("lsvi_indicator_fs.tsv",
      "trend_index_ind_fs.tsv"): _*)
    val ind = readTsv(s"$fsDir/lsvi_indicator_fs.tsv")
      .select(col("id"), col("type_analysis"), col("criterium"), col("indicator"),
        col("belang"),
        greatest(lit(-1.0), least(lit(1.0), col("verschilscore").cast("double")))
          .as("verschilscore"))
    val mine = LsviStatus.trendIndexInd(ind, plotMeta)
    // published type_resultaat codes: 'sbzh' for stratum rows,
    // 'Habitatsubtype' duplicating the 9130_end type rows
    val pub = readTsv(s"$fsDir/trend_index_ind_fs.tsv")
      .where(!col("habitattype").startsWith("91E0") &&
        col("type_resultaat") =!= "Habitatsubtype")
      .withColumn("ht", when(col("habitattype") === "9130", "9130_end")
        .otherwise(col("habitattype")))
      .withColumn("type_resultaat",
        when(col("type_resultaat") === "sbzh", "SBZH")
          .otherwise(col("type_resultaat")))
    val joined = mine.alias("m").join(pub.alias("p"),
      col("m.habitattype") === col("p.ht") &&
        col("m.type_resultaat") === col("p.type_resultaat") &&
        col("m.sbzh") === col("p.sbzh") &&
        col("m.criterium") === col("p.criterium") &&
        col("m.indicator") === col("p.indicator"))
    assert(joined.count() === pub.count())
    val badStratum = joined.where(col("p.sbzh").isin("Binnen", "Buiten") &&
        (abs(col("m.index_diff_mean") - col("p.index_diff_mean").cast("double")) > 2e-5 ||
          abs(col("m.index_diff_llci") - col("p.`index_diff_llci_0.95`").cast("double")) > 2e-5 ||
          abs(col("m.index_diff_ulci") - col("p.`index_diff_ulci_0.95`").cast("double")) > 2e-5))
      .count()
    assert(badStratum === 0L)
    val badPooled = joined.where(col("p.sbzh") === "Binnen & Buiten" &&
        abs(col("m.index_diff_mean") - col("p.index_diff_mean").cast("double")) > 0.05)
      .count()
    assert(badPooled === 0L)
  }

  test("mc_nemar: transition counts exact, published p-values reproduce from weighted counts") {
    assumeFiles(plotMetaFiles ++ fs("mc_nemar_fs.tsv"): _*)
    val mine = LsviStatus.mcNemar(plotMeta)
    val pub = readTsv(s"$fsDir/mc_nemar_fs.tsv")
      .where(col("habitatsubtype").isNull && col("habitattype") =!= "91E0")
    val joined = mine.alias("m").join(pub.alias("p"),
      col("m.habitattype") === col("p.habitattype") &&
        col("m.trend_local") === col("p.trend_local"))
    assert(joined.count() === pub.count())
    val badN = joined.where(col("m.n") =!= col("p.n").cast("long")).count()
    assert(badN === 0L)
    // the published statistic chain: chi2 on the published weighted
    // discordant counts -> p via erfc reproduces every published p
    val byHt = pub
      .where(col("n_adj").isNotNull && col("mcnemar_p_value").isNotNull)
      .select(col("habitattype"), col("trend_local"),
        col("n_adj").cast("double"), col("mcnemar_p_value").cast("double"))
      .as[(String, String, Double, Double)].collect()
      .groupBy(_._1)
    assert(byHt.nonEmpty)
    byHt.foreach { case (ht, rows) =>
      val b = rows.find(_._2 == "gunstig - ongunstig").map(_._3).getOrElse(0.0)
      val c = rows.find(_._2 == "ongunstig - gunstig").map(_._3).getOrElse(0.0)
      val pubP = rows.head._4
      if (b + c > 0) {
        val p = LsviStatus.mcNemarP(math.pow(b - c, 2) / (b + c))
        assert(math.abs(p - pubP) <= 1e-5, s"$ht: $p vs $pubP")
      }
    }
  }
}
