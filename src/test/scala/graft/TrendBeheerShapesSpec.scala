package graft

import graft.lsvi.LsviStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fidelity of the `trend_habitat` effect classification and the
  * `status_beheer` test semantics against the reference's PUBLISHED
  * tables across ALL SEVEN habitat groups
  * (`/root/reference/processed/lsvi_mhq/<group>/result/`):
  *
  *   - `klasse`: [[LsviStatus.effectKlasse]] with thresholds +-12
  *     percentage points (absolute change) and +-25% (relative
  *     change) against reference 0 reproduces EVERY published bounded
  *     klasse; rows with no interval (zero-variance pairs, the
  *     reduced-schema 2110 table) classify on the point estimate, as
  *     published. The factor index map is uniform across groups
  *     (1..10 = ++ / + / +~ / ~ / -~ / - / -- / ?+ / ?- / ?).
  *   - undefined relative change (no favourable plots in cycle 1,
  *     published mean/bounds all NA): klasse is `++` exactly when the
  *     companion absolute row's lower bound clears 0, else `?`.
  *   - `status_beheer`: the published `effect_beheer` label flips at
  *     p = 0.05; both management rows of a habitattype carry the same
  *     p; and p is published ONLY when the habitattype has both
  *     groups with n_obs >= 5 (smallest tested group is 9 plots,
  *     largest untested is 3 — the engine's gate sits in that gap at
  *     the chi-square rule-of-thumb 5).
  */
class TrendBeheerShapesSpec extends SparkSuite {

  private val base = "/root/reference/processed/lsvi_mhq"
  private val labels =
    Seq("++", "+", "+~", "~", "-~", "-", "--", "?+", "?-", "?")

  private def readTsv(path: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(path)

  private val trendFiles = Seq(
    "coastal_dunes/result/trend_habitat_cd.tsv",
    "coastal_dunes/result/trend_habitat_2110.tsv",
    "forests/result/trend_habitat_fs.tsv",
    "grassland_marsh/result/trend_habitat_gr_bm.tsv",
    "heath_inland_dunes/result/trend_habitat_hs_id.tsv",
    "standing_water/result/trend_habitat_sw.tsv",
    "streams/result/trend_habitat_rw.tsv")

  private lazy val published: DataFrame = trendFiles.map { f =>
    val df = readTsv(s"$base/$f")
    val withCi = Seq("llci_0.95", "ulci_0.95", "habitatsubtype")
      .foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast("string")))
    withCi.select(lit(f).as("src"), col("type_resultaat"),
      col("habitattype"), col("sbzh"),
      coalesce(col("habitatsubtype"), lit("")).as("habitatsubtype"),
      col("parameter"),
      col("mean").cast("double").as("mean"),
      col("`llci_0.95`").cast("double").as("llci"),
      col("`ulci_0.95`").cast("double").as("ulci"),
      col("klasse").cast("int").as("klasse"))
  }.reduce(_ unionByName _).cache()

  test("trend_habitat: effectKlasse reproduces every published klasse") {
    assumeFiles(trendFiles.map(f => s"$base/$f"): _*)
    val lab = typedLit(labels)
    val key = Seq("src", "type_resultaat", "habitattype", "sbzh",
      "habitatsubtype")
    val abs = published
      .where(col("parameter") === "verschil_aandeel_gunstig_abs")
    val rel = published
      .where(col("parameter") === "verschil_aandeel_gunstig_rel")
      .join(abs.select((key.map(col) :+ col("llci").as("abs_llci")): _*),
        key, "left")

    val absChecked = abs.withColumn("got",
      LsviStatus.effectKlasse(col("mean"), col("llci"), col("ulci"), 12.0, 12.0))
    val relChecked = rel.withColumn("got",
      when(col("mean").isNotNull,
        LsviStatus.effectKlasse(col("mean"), col("llci"), col("ulci"), 25.0, 25.0))
        .otherwise(when(col("abs_llci") > 0.0, "++").otherwise("?")))

    Seq(("abs", absChecked), ("rel", relChecked)).foreach { case (name, df) =>
      val checked = df.where(col("klasse").isNotNull)
        .withColumn("expected", element_at(lab, col("klasse")))
      val n = checked.count()
      val bad = checked.where(col("got") =!= col("expected") ||
        col("got").isNull)
      val badRows = bad.collect()
      assert(badRows.isEmpty,
        s"$name: ${badRows.length}/$n mismatches: ${badRows.take(5).mkString("; ")}")
      assert(n > 60, s"$name: expected the full published set, saw $n")
    }
  }

  test("trend_habitat engine replays published n_obs and years across groups") {
    // run the ENGINE on the published per-plot tables and match every
    // published Habitattype/SBZH row: pair counts, per-cycle and
    // pooled year spans, and the mean revisit interval. (Means and
    // bounds are design-weighted/resampled in the reference and are
    // gated at mapping level above. Streams publishes a different
    // plot schema — segment_id, coded types — and is validated by its
    // own StreamsVersie3Spec.)
    // grassland/marsh is the one scheme whose cycle windows overlap in
    // calendar years across strata (1330_da 2013-18/2019-24 vs
    // 1330_hpr & 6230 2015-20/2021-26), so it pairs via assignCycles;
    // the other schemes pair every revisited point (no same-cycle
    // revisits exist there) — see LsviStatus.trendHabitat's scaladoc
    val groups = Seq(
      ("forests", "lsvi_plot_fs.tsv", "trend_habitat_fs.tsv", 60L, false),
      ("heath_inland_dunes", "lsvi_plot_hs_id.tsv", "trend_habitat_hs_id.tsv", 32L, false),
      ("coastal_dunes", "lsvi_plot_cd.tsv", "trend_habitat_cd.tsv", 24L, false),
      ("grassland_marsh", "lsvi_plot_gr_bm.tsv", "trend_habitat_gr_bm.tsv", 52L, true))
    val key = Seq("periode", "type_resultaat", "habitattype", "sbzh", "parameter")
    assumeFiles(groups.flatMap { case (g, plotFile, trendFile, _, _) =>
      Seq(s"$base/$g/result/$plotFile", s"$base/$g/result/$trendFile")
    }: _*)
    groups.foreach { case (g, plotFile, trendFile, nPub, useCycles) =>
      val dir = s"$base/$g/result"
      val plots = readTsv(s"$dir/$plotFile").select(
        col("id"),
        year(date_add(to_date(lit("1970-01-01")),
          col("date").cast("int"))).as("date"),
        col("point_code"), col("in_sac").cast("int").as("in_sac"),
        col("habitattype"), col("habitatsubtype"), col("lsvi"))
      val got = LsviStatus.trendHabitat(
        if (useCycles) LsviStatus.assignCycles(plots) else plots)
      val pub = readTsv(s"$dir/$trendFile")
        .where(col("type_resultaat").isin("Habitattype", "SBZH"))
        .select(col("periode"), col("type_resultaat"), col("habitattype"),
          col("sbzh"), col("parameter"),
          col("n_obs").cast("long").as("pub_n"),
          col("jaar_min").cast("int").as("pub_jmin"),
          col("jaar_max").cast("int").as("pub_jmax"),
          col("verschil_jaar").cast("double").as("pub_vj"))
      val j = pub.join(got, key, "left").cache()
      assert(j.count() === nPub, s"$g: published row count")
      assert(j.where(col("n_obs").isNull).count() === 0,
        s"$g: missing engine rows")
      assert(j.where(col("n_obs") =!= col("pub_n")).count() === 0,
        s"$g: n_obs")
      assert(j.where(col("jaar_min") =!= col("pub_jmin") ||
        col("jaar_max") =!= col("pub_jmax")).count() === 0, s"$g: years")
      // verschil_jaar is EXACT on every published row of all four
      // groups — including the half-even cases 4.25 -> 4.2 (coastal
      // dunes 2120-Binnen) and 6.25 -> 6.2 (grassland 6510-Buiten)
      // that pin the reference's R-style rounding
      assert(j.where(col("pub_vj").isNotNull &&
        abs(col("verschil_jaar") - col("pub_vj")) > 1e-9).count() === 0,
        s"$g: verschil_jaar")
    }
  }

  private val beheerFiles = Seq(
    "forests/result/status_beheer_fs.tsv",
    "heath_inland_dunes/result/status_beheer_hs_id.tsv",
    "coastal_dunes/result/status_beheer_cd.tsv",
    "grassland_marsh/result/status_beheer_gr_bm.tsv")

  private lazy val beheer: DataFrame = beheerFiles.map { f =>
    readTsv(s"$base/$f").select(lit(f).as("src"), col("habitattype"),
      col("n_obs").cast("int").as("n_obs"),
      col("p_waarde_beheer").cast("double").as("p"),
      col("effect_beheer"))
  }.reduce(_ unionByName _).cache()

  test("status_beheer: significance label flips at p = 0.05 and rows pair up") {
    assumeFiles(beheerFiles.map(f => s"$base/$f"): _*)
    val withP = beheer.where(col("p").isNotNull)
    assert(withP.count() > 15)
    assert(withP.where((col("p") < 0.05) =!=
      (col("effect_beheer") === "significant")).count() === 0)
    // both rows of a habitattype carry the same p
    val multi = beheer.groupBy("src", "habitattype")
      .agg(countDistinct(col("p")).as("np"))
    assert(multi.where(col("np") > 1).count() === 0)
  }

  test("status_beheer: p is published only with both groups at n >= 5") {
    assumeFiles(beheerFiles.map(f => s"$base/$f"): _*)
    val gate = beheer.groupBy("src", "habitattype").agg(
      count(lit(1)).as("n_groups"), min(col("n_obs")).as("n_min"),
      count(col("p")).as("n_p"))
    val bad = gate.where(
      ((col("n_groups") === 2 && col("n_min") >= 5) && col("n_p") === 0) ||
      ((col("n_groups") < 2 || col("n_min") < 5) && col("n_p") > 0))
    assert(bad.collect().isEmpty)
  }

  test("status_beheer engine: chi-square matches the closed form and gates") {
    import spark.implicits._
    // 9120-style table: ja 195/64, nee 159/13 -> chi2 = 31.79..., p ~ 1.7e-8
    val plots = (1 to 195).map(i => (s"ja_$i", s"p_ja_$i", 2020, "9120",
        if (i <= 64) "gunstig" else "ongunstig", "ja", 1)) ++
      (1 to 159).map(i => (s"nee_$i", s"p_nee_$i", 2020, "9120",
        if (i <= 13) "gunstig" else "ongunstig", "nee", 0)) ++
      (1 to 6).map(i => (s"s_$i", s"p_s_$i", 2020, "9110",
        if (i <= 3) "gunstig" else "ongunstig", "ja", 1)) :+
      (("s_x", "p_x", 2020, "9110", "gunstig", "nee", 0))
    val df = plots.toDF("id", "point_code", "date", "habitattype",
      "lsvi", "passend_beheer", "in_sac")
    val out = LsviStatus.statusBeheer(df).collect()
      .map(r => (r.getAs[String]("habitattype"),
        r.getAs[String]("passend_beheer")) -> r).toMap
    val r9120 = out(("9120", "ja"))
    val chi2 = r9120.getAs[Double]("chi2_beheer")
    // Pearson 2x2 on (195,64)/(159,13)
    assert(math.abs(chi2 - 31.2537) < 0.001, chi2)
    assert(r9120.getAs[String]("effect_beheer") == "significant")
    assert(LsviStatus.mcNemarP(chi2) < 1e-6)
    assert(out(("9120", "nee")).getAs[Double]("chi2_beheer") == chi2)
    // 9110: nee group n=1 -> gated, no test
    assert(out(("9110", "ja")).getAs[java.lang.Double]("chi2_beheer") == null)
    assert(out(("9110", "ja")).getAs[String]("effect_beheer") == null)
  }

  test("assignCycles: an explicit start-year override neutralizes a dirty early visit") {
    import spark.implicits._
    // a 2015-start 6-year scheme: five points paired across cycles
    // 2015-20 / 2021-26
    def row(id: String, pt: String, y: Int) =
      (id, y, pt, 1, "6230", "6230_hn", if (y % 2 == 0) "gunstig" else "ongunstig")
    val clean = (0 until 5).flatMap { i =>
      Seq(row(s"a_$i", s"p_$i", 2015 + i), row(s"b_$i", s"p_$i", 2021 + i))
    }
    // one mistyped 2013 visit: min(date) derivation shifts the WHOLE
    // stratum's grid to 2013-18 / 2019-24 — p_4's 2019 visit slides
    // into cycle 1 and its real 2025 revisit into cycle 2, so a real
    // pair silently disappears
    val dirty = clean :+ row("z_err", "p_err", 2013)
    val cols = Seq("id", "date", "point_code", "in_sac", "habitattype",
      "habitatsubtype", "lsvi")
    def pairsOf(df: org.apache.spark.sql.DataFrame,
                starts: Map[String, Int]) =
      LsviStatus.trendHabitat(
          LsviStatus.assignCycles(df, startYears = starts))
        .where(col("type_resultaat") === "Habitattype" &&
          col("parameter") === "verschil_aandeel_gunstig_abs")
        .select(col("n_obs")).as[Long].collect().toSeq
    val cleanPairs = pairsOf(clean.toDF(cols: _*), Map.empty)
    assert(cleanPairs === Seq(5L))
    // derivation alone: the outlier costs a pair
    assert(pairsOf(dirty.toDF(cols: _*), Map.empty) === Seq(4L))
    // the override pins the scheme start; the outlier visit lands in
    // cycle -1 and is excluded from pairing, the real pairs survive
    assert(pairsOf(dirty.toDF(cols: _*), Map("6230_hn" -> 2015)) === Seq(5L))
  }
}
