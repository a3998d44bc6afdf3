package graft

import graft.lsvi.LsviStatus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Validation of the design-weighted estimator overloads
  * ([[LsviStatus]] `weightCol` variants) against the reference's
  * PUBLISHED design-weighted pooled rows.
  *
  * The published per-stratum (Binnen / Buiten) rows are plain
  * proportions/means (StatusShapesSpec), but every pooled
  * "Binnen & Buiten" row carries survey-design weights drawn in the
  * reference's analysis repo (outside this snapshot). The weights are
  * uniform WITHIN each (habitattype × SAC) stratum for forests, so the
  * whole design reduces to one weight ratio r = w_Binnen / w_Buiten
  * per habitattype — solved here from the pooled `status_habitat_fs`
  * row (one equation, one unknown). The validation is CROSS-TABLE:
  * the r solved from status_habitat must reproduce the pooled rows of
  * the OTHER published tables through the engine's weighted
  * aggregation path:
  *
  *   - `status_indicatoren_fs`: all 50 single-subtype pooled rows
  *     within 0.02pp (observed max 0.017 — residual = 2-decimal
  *     display rounding of the inputs the ratio is solved from);
  *   - `index_hq_fs`: all 5 single-subtype pooled means within 2e-4
  *     (observed max 6.3e-5) — the means are NOT used in solving r,
  *     so this is a genuinely independent reproduction;
  *
  * and for streams the ratio is not solved at all: the sampling frame
  * publishes a 2/3 : 1/3 SAC area share, so w_B/w_U =
  * (2/3·21)/(1/3·76) = 42/76 a priori, and the engine reproduces the
  * `_rw` pooled rows within 0.011 (derivation of the gate at the
  * test).
  *
  * Unit-weight reduction: every weighted overload collapses to its
  * unweighted sibling's algebra when w ≡ 1 (n_eff = n, effective
  * counts = counts) — checked row-for-row on the real forest tables
  * for all six shapes.
  */
class WeightedStatusSpec extends SparkSuite {
  import spark.implicits._

  private val fsDir = "/root/reference/processed/lsvi_mhq/forests/result"

  private def readTsv(path: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(path)

  private def fs(names: String*): Seq[String] = names.map(n => s"$fsDir/$n")

  /** The published files [[plotMeta]] reads. */
  private val plotMetaFiles = fs("lsvi_plot_fs.tsv", "lsvi_globaal_fs.tsv")

  /** Real forest plot metadata with the untruncated type code (like
    * StatusShapesSpec) and a unit weight column. */
  private lazy val plotMeta =
    readTsv(plotMetaFiles(0)).alias("p")
      .join(readTsv(plotMetaFiles(1)).alias("g"),
        col("p.id") === col("g.id"))
      .select(col("p.id").as("id"), col("g.type_analysis").as("habitattype"),
        col("p.point_code"), col("p.date").cast("int").as("date"),
        col("p.in_sac").cast("int").as("in_sac"),
        col("p.index_mean_ind").cast("double").as("index_mean_ind"),
        col("p.lsvi"), lit(1.0).as("one"))
      .cache()

  private lazy val indicatorTbl = readTsv(s"$fsDir/lsvi_indicator_fs.tsv")
    .select(col("id"), col("type_analysis"), col("criterium"),
      col("indicator"), col("belang"),
      (col("status_indicator").cast("int") === 1).as("status_indicator"),
      col("verschilscore").cast("double").as("verschilscore"))
    .cache()

  /** One stratum weight ratio per single-subtype habitattype, solved
    * from the published pooled status_habitat row:
    * p = (r·kB + kU) / (r·nB + nU)  =>  r = (kU − p·nU)/(p·nB − kB),
    * with the stratum k reconstructed as exact integers (the stratum
    * rows are plain k/n proportions — StatusShapesSpec). */
  private lazy val solvedRatios: Map[String, Double] = {
    val pub = readTsv(s"$fsDir/status_habitat_fs.tsv")
      .where(!col("habitatsubtype").contains(";"))
      .select(col("habitatsubtype"), col("sbzh"),
        col("n_obs").cast("int"), col("aandeel_gunstig").cast("double"))
      .as[(String, String, Int, Double)].collect()
    pub.groupBy(_._1).flatMap { case (ht, rows) =>
      val m = rows.map(r => r._2 -> r).toMap
      for {
        (_, _, nB, pB) <- m.get("Binnen")
        (_, _, nU, pU) <- m.get("Buiten")
        (_, _, _, pT) <- m.get("Binnen & Buiten")
      } yield {
        val kB = math.round(pB * nB / 100.0).toDouble
        val kU = math.round(pU * nU / 100.0).toDouble
        val p = pT / 100.0
        ht -> (kU - p * nU) / (p * nB - kB)
      }
    }.toMap
  }

  /** Forest plots restricted to the solved types, with the stratum
    * design weight (r for Binnen, 1 for Buiten). */
  private lazy val weightedMeta = {
    val rmap = typedLit(solvedRatios)
    plotMeta
      .where(col("habitattype").isInCollection(solvedRatios.keys.toSeq))
      .withColumn("weight",
        when(col("in_sac") === 1, element_at(rmap, col("habitattype")))
          .otherwise(lit(1.0)))
      .cache()
  }

  // ---- published design-weighted pooled rows reproduce ----

  test("solved stratum ratios: 5 single-subtype types, near-uniform design") {
    assumeFiles(fs("status_habitat_fs.tsv"): _*)
    assert(solvedRatios.keySet ===
      Set("9110", "9120", "9130_end", "9160", "9190"))
    // the design oversamples neither stratum by more than ~2x
    solvedRatios.values.foreach(r => assert(r > 0.4 && r < 2.5, r))
  }

  test("weighted statusHabitat reproduces the pooled status_habitat_fs rows") {
    assumeFiles(plotMetaFiles ++ fs("status_habitat_fs.tsv"): _*)
    val mine = LsviStatus.statusHabitat(weightedMeta, Some("weight"))
      .where(col("sbzh") === "Binnen & Buiten")
      .select(col("habitattype"), col("n_obs"), col("aandeel_gunstig"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    val pub = readTsv(s"$fsDir/status_habitat_fs.tsv")
      .where(col("habitatsubtype").isInCollection(solvedRatios.keys.toSeq) &&
        col("sbzh") === "Binnen & Buiten")
      .select(col("habitatsubtype"), col("n_obs").cast("long"),
        col("aandeel_gunstig").cast("double"))
      .as[(String, Long, Double)].collect()
    assert(pub.length === 5)
    pub.foreach { case (ht, n, p) =>
      val (_, mn, mp) = mine(ht)
      assert(mn === n, s"$ht n_obs")
      // r was solved from this row: closing the loop bounds the
      // integer-k reconstruction + display rounding at 0.01
      assert(math.abs(mp - p) <= 0.01, s"$ht: $mp vs $p")
    }
  }

  test("weighted statusIndicatoren reproduces all 50 pooled status_indicatoren_fs rows within 0.02pp") {
    assumeFiles(plotMetaFiles ++ fs("status_habitat_fs.tsv",
      "lsvi_indicator_fs.tsv", "status_indicatoren_fs.tsv"): _*)
    val mine = LsviStatus.statusIndicatoren(indicatorTbl, weightedMeta, Some("weight"))
    val pub = readTsv(s"$fsDir/status_indicatoren_fs.tsv")
      .where(!col("habitatsubtype").contains(";"))
    val pooled = mine.alias("m")
      .where(col("m.sbzh") === "Binnen & Buiten")
      .join(pub.alias("p"),
        col("m.habitattype") === col("p.habitatsubtype") &&
          col("p.sbzh") === "Binnen & Buiten" &&
          col("m.criterium") === col("p.criterium") &&
          col("m.indicator") === col("p.indicator"))
    assert(pooled.count() === 50L)
    val bad = pooled.where(
      col("m.n_obs") =!= col("p.n_obs").cast("long") ||
        abs(col("m.aandeel_gunstig") - col("p.aandeel_gunstig").cast("double")) > 0.02)
      .select(col("m.habitattype"), col("m.indicator"), col("m.n_obs"),
        col("p.n_obs"), col("m.aandeel_gunstig"), col("p.aandeel_gunstig"))
      .collect()
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("weighted indexHq reproduces the pooled index_hq_fs means within 2e-4 (independent of the solve)") {
    assumeFiles(plotMetaFiles ++ fs("status_habitat_fs.tsv", "index_hq_fs.tsv"): _*)
    val mine = LsviStatus.indexHq(weightedMeta, Some("weight"))
      .where(col("type_resultaat") === "Habitattype")
      .select(col("habitattype"), col("n_obs"), col("index_hq_mean"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    val code2sub = Map("9110" -> "9110", "9120" -> "9120",
      "9130" -> "9130_end", "9160" -> "9160", "9190" -> "9190")
    val pub = readTsv(s"$fsDir/index_hq_fs.tsv")
      .where(col("type_resultaat") === "Habitattype" &&
        col("habitattype").isInCollection(code2sub.keys.toSeq))
      .select(col("habitattype"), col("n_obs").cast("long"),
        col("index_hq_mean").cast("double"))
      .as[(String, Long, Double)].collect()
    assert(pub.length === 5)
    pub.foreach { case (code, n, m) =>
      val (_, mn, mm) = mine(code2sub(code))
      assert(mn === n, s"$code n_obs")
      assert(math.abs(mm - m) <= 2e-4, s"$code: $mm vs $m")
    }
  }

  // ---- streams: a-priori 2/3 : 1/3 frame mix, no solving ----

  test("weighted statusIndicatoren replays the streams _rw pooled rows under the frame's 2:1 SAC mix") {
    val rwDir = "/root/reference/processed/lsvi_mhq/streams/result"
    assumeFiles(s"$rwDir/status_indicatoren_rw.tsv")
    val pub = readTsv(s"$rwDir/status_indicatoren_rw.tsv")
      .select(col("sbzh"), col("criterium"), col("indicator"),
        col("n_obs").cast("int"), col("aandeel_gunstig").cast("double"))
      .as[(String, String, String, Int, Double)].collect()
    val strata = pub.filter(r => r._1 == "Binnen" || r._1 == "Buiten")
    // synthesize the 97-plot analysis set from the exact stratum
    // proportions: plot i of a stratum is favourable for indicator j
    // iff i < k_j — per-plot weights w_B = 42, w_U = 76 give the
    // frame's published SAC area mix 2/3 : 1/3
    // (w_B·76 : w_U·21 = 3192 : 1596 = 2 : 1), so NOTHING is fitted
    val plots = (0 until 76).map(i => (s"b_$i", 1, 42.0)) ++
      (0 until 21).map(i => (s"u_$i", 0, 76.0))
    val meta = plots.toDF("id", "in_sac", "weight")
      .withColumn("habitattype", lit("3260"))
      .withColumn("point_code", col("id"))
      .withColumn("date", lit(1))
    val ind = strata.map { case (sbzh, crit, indn, n, a) =>
      val k = math.round(a * n / 100.0).toInt
      (sbzh, crit, indn, k)
    }.flatMap { case (sbzh, crit, indn, k) =>
      val ids = if (sbzh == "Binnen") (0 until 76).map(i => (s"b_$i", i < k))
                else (0 until 21).map(i => (s"u_$i", i < k))
      ids.map { case (id, st) => (id, "3260", crit, indn, "zb", st) }
    }
    val indDf = ind.toSeq.toDF("id", "type_analysis", "criterium", "indicator",
      "belang", "status_indicator")
    val mine = LsviStatus.statusIndicatoren(indDf, meta, Some("weight"))
      .select(col("sbzh"), col("indicator"), col("n_obs"),
        col("aandeel_gunstig"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // stratum rows: exact plain proportions back out (engine sanity)
    strata.foreach { case (sbzh, _, indn, n, a) =>
      val (_, _, mn, mp) = mine((sbzh, indn))
      assert(mn === n.toLong)
      assert(math.abs(mp - a) <= 0.005, s"$sbzh/$indn: $mp vs $a")
    }
    // pooled rows: gate 0.011 — the published value is 2-decimal
    // (±0.005) and the reference's per-plot weights vary slightly
    // WITHIN the strata (drawn in its analysis repo, outside this
    // snapshot): the residual beyond rounding is ≤0.0051pp, observed
    // max |pred − pub| = 0.0101 on `sleutelsoorten`. 0.005 is NOT
    // reachable from the snapshot — that would need the unpublished
    // per-plot weights themselves.
    pub.filter(_._1 == "Binnen & Buiten").foreach { case (_, _, indn, n, a) =>
      val (_, _, mn, mp) = mine(("Binnen & Buiten", indn))
      assert(mn === n.toLong)
      assert(math.abs(mp - a) <= 0.011, s"pooled $indn: $mp vs $a")
    }
  }

  test("weighted indexHq replays the streams index_hq_rw pooled mean under the frame mix") {
    val rwDir = "/root/reference/processed/lsvi_mhq/streams/result"
    assumeFiles(s"$rwDir/index_hq_rw.tsv")
    val pub = readTsv(s"$rwDir/index_hq_rw.tsv")
      .where(col("type_resultaat").isin("Habitattype", "SBZH"))
      .select(col("sbzh"), col("n_obs").cast("int"),
        col("index_hq_mean").cast("double"))
      .as[(String, Int, Double)].collect().map(r => r._1 -> r).toMap
    val (_, nB, mB) = pub("Binnen")
    val (_, nU, mU) = pub("Buiten")
    val (_, nT, mT) = pub("Binnen & Buiten")
    assert(nB === 76 && nU === 21 && nT === 97)
    // plots carrying their stratum's published mean: the pooled
    // weighted mean depends only on Σw·x / Σw, so the synthetic
    // per-plot spread is irrelevant to the point estimate
    val plots = (0 until nB).map(i => (s"b_$i", 1, 42.0, mB)) ++
      (0 until nU).map(i => (s"u_$i", 0, 76.0, mU))
    val meta = plots.toDF("id", "in_sac", "weight", "index_mean_ind")
      .withColumn("habitattype", lit("3260"))
      .withColumn("point_code", col("id"))
      .withColumn("date", lit(1))
    val mine = LsviStatus.indexHq(meta, Some("weight"))
      .where(col("type_resultaat") === "Habitattype")
      .select(col("n_obs"), col("index_hq_mean"))
      .as[(Long, Double)].collect()
    assert(mine.length === 1)
    assert(mine.head._1 === 97L)
    assert(math.abs(mine.head._2 - mT) <= 1e-4,
      s"${mine.head._2} vs $mT")
  }

  // ---- unit-weight reduction: w ≡ 1 collapses to the unweighted
  // shapes on the real forest tables ----

  /** Compare two same-schema frames: key on the non-double columns,
    * doubles within tol (the weighted path aggregates doubles where
    * the unweighted path uses integer counts / fixed point — equal to
    * floating-point noise, not bit-identical). */
  private def assertClose(a: DataFrame, b: DataFrame, tol: Double): Unit = {
    val cols = a.columns.toSeq.sorted
    assert(cols === b.columns.toSeq.sorted, s"schemas differ: $cols vs ${b.columns.toSeq.sorted}")
    val isD = cols.map(c => a.schema(c).dataType.typeName == "double")
    def rows(df: DataFrame) = df.select(cols.map(col): _*).collect()
      .map(_.toSeq)
      .sortBy(r => r.zip(isD).collect { case (v, false) => String.valueOf(v) }
        .mkString("|"))
    val (ra, rb) = (rows(a), rows(b))
    assert(ra.length === rb.length, s"${ra.length} vs ${rb.length} rows")
    ra.zip(rb).foreach { case (x, y) =>
      x.zip(y).zip(isD).foreach {
        case ((u, v), true) =>
          val ok = (u == null && v == null) ||
            (u != null && v != null &&
              math.abs(u.asInstanceOf[Double] - v.asInstanceOf[Double]) <= tol)
          assert(ok, s"$u vs $v in $x / $y")
        case ((u, v), false) => assert(u === v, s"$u vs $v in $x / $y")
      }
    }
  }

  test("trendIndicatoren tolerates a cycle with no known statuses (ANSI zero-division guard)") {
    // ind_dead is only ever scored on the second visit: n1 = 0 and
    // np = 0 at level 2. The r11 single-chain tail computes every
    // output struct BEFORE the n_obs filter, so unguarded zero
    // denominators would THROW under ANSI (Spark 4 default) — the
    // when(n > 0, n) guards must null-propagate instead and emit only
    // the c_2 aandeel row.
    val meta = Seq(
      ("p1a", "HT", "pt1", 2010, 1, "gunstig", 1.0),
      ("p1b", "HT", "pt1", 2020, 1, "ongunstig", 1.0),
      ("p2a", "HT", "pt2", 2010, 0, "gunstig", 1.0),
      ("p2b", "HT", "pt2", 2020, 0, "gunstig", 1.0))
      .toDF("id", "habitattype", "point_code", "date", "in_sac", "lsvi", "one")
    val ind = Seq(
      ("p1a", "HT", "c", "ind_dead", "b", None: Option[Boolean]),
      ("p1b", "HT", "c", "ind_dead", "b", Some(true)),
      ("p2a", "HT", "c", "ind_dead", "b", None: Option[Boolean]),
      ("p2b", "HT", "c", "ind_dead", "b", Some(false)))
      .toDF("id", "type_analysis", "criterium", "indicator", "belang",
        "status_indicator")
    val un = LsviStatus.trendIndicatoren(ind, meta).collect()
    assert(un.length == 1 && un.head.getAs[String]("periode") == "c_2")
    assert(un.head.getAs[Double]("mean") == 50.0)
    val w = LsviStatus.trendIndicatoren(ind, meta, Some("one")).collect()
    assert(w.length == 1 && w.head.getAs[String]("periode") == "c_2")
    assert(w.head.getAs[Double]("mean") == 50.0)
  }

  /** One visit of the in-memory estimator fixture. */
  private case class FxVisit(id: String, point: String, date: Int, sac: Int,
      lsvi: String, index: Double, sub: String, value: Double, w: Double)

  /** Eight points visited in 2010 and 2020 — five inside the SAC, three
    * outside, two subtypes — with a non-uniform design weight `w` that
    * varies within every stratum. */
  private val fxVisits = for (p <- 1 to 8; y <- Seq(2010, 2020)) yield {
    val i = 2 * p + (if (y == 2020) 1 else 0)
    FxVisit(s"v$i", s"pt$p", y, if (p <= 5) 1 else 0,
      if (i % 3 == 0) "gunstig" else "ongunstig",
      ((i * 37) % 201 - 100) / 100.0, if (p <= 5) "HT_a" else "HT_b",
      ((i * 13) % 40) / 4.0, 0.5 + (i % 4) * 0.75)
  }

  /** Two indicators per visit: ind_0 always scored, ind_1 unknown on
    * every fifth visit (its Buiten latest share is degenerate, 2 of 2). */
  private val fxIndicators = fxVisits.flatMap { v =>
    val i = v.id.tail.toInt
    Seq(("ind_0", Some(i % 4 != 1), Some(((i * 11) % 21 - 10) / 10.0)),
      ("ind_1", if (i % 5 == 0) None else Some(i > 4),
        if (i % 5 == 0) None else Some(((i * 3) % 17 - 8) / 8.0)))
      .map { case (ind, st, vs) => (v.id, "HT", "crit", ind, "b", st, vs) }
  }

  private lazy val fxMeta = fxVisits
    .map(v => (v.id, "HT", v.point, v.date, v.sac, v.lsvi, v.index, v.sub,
      v.value, 1.0, v.w))
    .toDF("id", "habitattype", "point_code", "date", "in_sac", "lsvi",
      "index_mean_ind", "habitatsubtype", "value", "one", "w")

  private lazy val fxInd = fxIndicators.toDF("id", "type_analysis",
    "criterium", "indicator", "belang", "status_indicator", "verschilscore")

  /** Largest absolute difference between the double columns of two
    * frames of one shape, rows matched on their string labels (the
    * verdict labels left out: a weight may move them); a value null on
    * one side only counts as infinite. */
  private def maxDiff(a: DataFrame, b: DataFrame): Double = {
    val labels = a.schema.fields.collect {
      case f if f.dataType.typeName == "string" &&
        !Set("klasse", "beoordeling")(f.name) => f.name
    }.toSeq
    val doubles = a.schema.fields.collect {
      case f if f.dataType.typeName == "double" => f.name
    }.toSeq
    def rows(df: DataFrame) = df.collect().map { r =>
      labels.map(c => String.valueOf(r.getAs[Any](c))).mkString("|") ->
        doubles.map(c => Option(r.getAs[java.lang.Double](c)).map(_.doubleValue))
    }.toMap
    val (ra, rb) = (rows(a), rows(b))
    assert(ra.keySet === rb.keySet, s"row labels differ: ${ra.keySet} vs ${rb.keySet}")
    ra.keys.flatMap(k => ra(k).zip(rb(k)).map {
      case (Some(x), Some(y)) => math.abs(x - y)
      case (None, None) => 0.0
      case _ => Double.PositiveInfinity
    }).max
  }

  test("one function per statistic: closed-form proportions, unit weights, non-uniform weights") {
    // (a) the proportion estimators without a weight: n_obs, the plain
    // share and the z-based Wilson bounds are this Scala closed form
    // over the latest visit per point, to the bit
    val z = LsviStatus.z975
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def closedForm(k: Long, n: Long): (Long, Double, Double, Double) = {
      val p = k.toDouble / n
      val z2 = z * z
      val den = 1.0 + z2 / n
      val center = (p + z2 / (2.0 * n)) / den
      val half = (z / den) * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
      val degen = k == 0 || k == n
      (n, r6(100.0 * k / n),
        r6(if (degen) 100.0 * p else 100.0 * math.max(0.0, center - half)),
        r6(if (degen) 100.0 * p else 100.0 * math.min(1.0, center + half)))
    }
    def strata(sac: Int) = Seq(if (sac == 1) "Binnen" else "Buiten", "Binnen & Buiten")
    def expected(obs: Seq[(String, Boolean)]) = obs.groupBy(_._1).map {
      case (key, xs) => key -> closedForm(xs.count(_._2).toLong, xs.size.toLong)
    }
    def engine(df: DataFrame, key: Row => String) = df.collect().map { r =>
      key(r) -> ((r.getAs[Long]("n_obs"), r.getAs[Double]("aandeel_gunstig"),
        r.getAs[Double]("aandeel_gunstig_llci"),
        r.getAs[Double]("aandeel_gunstig_ulci")))
    }.toMap
    val latest = fxVisits.groupBy(_.point).values.map(_.maxBy(_.date)).toSeq
    val habitat = expected(latest.flatMap(v =>
      strata(v.sac).map(s => (s, v.lsvi == "gunstig"))))
    assert(engine(LsviStatus.statusHabitat(fxMeta),
      _.getAs[String]("sbzh")) === habitat)
    val indicatoren = expected(for {
      v <- latest
      (id, _, _, ind, _, Some(st), _) <- fxIndicators if id == v.id
      s <- strata(v.sac)
    } yield (s"$s/$ind", st))
    assert(engine(LsviStatus.statusIndicatoren(fxInd, fxMeta),
      r => r.getAs[String]("sbzh") + "/" + r.getAs[String]("indicator")) ===
      indicatoren)
    assert(habitat.values.exists(c => c._3 != c._2 && c._4 != c._2),
      "fixture needs a non-degenerate interval")
    assert(indicatoren.values.exists(c => c._2 == 100.0),
      "fixture needs a degenerate interval")

    // (b) unit weights reproduce the unweighted form of every statistic;
    // (c) the non-uniform weight moves each of them
    val shapes: Seq[(String, Option[String] => DataFrame, Double)] = Seq(
      ("statusHabitat", LsviStatus.statusHabitat(fxMeta, _), 1e-6),
      ("statusIndicatoren", LsviStatus.statusIndicatoren(fxInd, fxMeta, _), 1e-6),
      ("indexHq", LsviStatus.indexHq(fxMeta, _), 1e-6),
      ("indexInd", LsviStatus.indexInd(fxInd, fxMeta, _), 1e-6),
      ("trendIndexHq", LsviStatus.trendIndexHq(fxMeta, _), 2e-6),
      ("trendIndexInd", LsviStatus.trendIndexInd(fxInd, fxMeta, _), 2e-6),
      ("trendIndicatoren", LsviStatus.trendIndicatoren(fxInd, fxMeta, _), 1e-6),
      ("trendHabitat", LsviStatus.trendHabitat(fxMeta, _), 1e-6),
      ("statusContinuous", LsviStatus.statusContinuous(fxMeta, "i", "v", _), 1e-6),
      ("trendContinuous", LsviStatus.trendContinuous(fxMeta, "i", "v", _), 1e-6))
    for ((name, f, tol) <- shapes) {
      val un = f(None)
      withClue(s"$name at unit weights: ") { assertClose(f(Some("one")), un, tol) }
      assert(maxDiff(f(Some("w")), un) > 1e-3,
        s"$name ignores a non-uniform weight")
    }
  }

  test("unit weights reduce every weighted overload to its unweighted sibling") {
    assumeFiles(plotMetaFiles ++ fs("lsvi_indicator_fs.tsv"): _*)
    assertClose(LsviStatus.statusHabitat(plotMeta, Some("one")),
      LsviStatus.statusHabitat(plotMeta), 1e-6)
    assertClose(LsviStatus.statusIndicatoren(indicatorTbl, plotMeta, Some("one")),
      LsviStatus.statusIndicatoren(indicatorTbl, plotMeta), 1e-6)
    assertClose(LsviStatus.indexHq(plotMeta, Some("one")),
      LsviStatus.indexHq(plotMeta), 1e-6)
    assertClose(LsviStatus.indexInd(indicatorTbl, plotMeta, Some("one")),
      LsviStatus.indexInd(indicatorTbl, plotMeta), 1e-6)
    assertClose(LsviStatus.trendHabitat(plotMeta, Some("one")),
      LsviStatus.trendHabitat(plotMeta), 1e-6)
    assertClose(LsviStatus.trendIndicatoren(indicatorTbl, plotMeta, Some("one")),
      LsviStatus.trendIndicatoren(indicatorTbl, plotMeta), 1e-6)
    // r11: the paired index-difference shapes — same algebra, but the
    // unweighted siblings aggregate 1e-6 fixed-point integers while
    // the weighted path sums doubles, so a mean sitting within one ulp
    // of a .5e-6 boundary can round the 6th decimal differently
    // (observed once in the 91E0_vm aandeel-dood-hout row: 0.043662 vs
    // 0.043663); 2e-6 admits exactly that one-digit flip and nothing
    // larger
    assertClose(LsviStatus.trendIndexHq(plotMeta, Some("one")),
      LsviStatus.trendIndexHq(plotMeta), 2e-6)
    assertClose(LsviStatus.trendIndexInd(indicatorTbl, plotMeta, Some("one")),
      LsviStatus.trendIndexInd(indicatorTbl, plotMeta), 2e-6)
  }
}
