package graft.lsvi

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Design-level status and trend reporting over the per-plot LSVI
  * results — the reference's `status_indicatoren_*`, `index_hq_*` and
  * `mc_nemar_*` shapes (`/root/reference/processed/lsvi_mhq/forests/
  * result/status_indicatoren_fs.yml`, `index_hq_fs.yml`,
  * `mc_nemar_fs.yml`; same shapes under `streams/result/` as `_rw`).
  *
  * Selection and aggregation semantics validated against the published
  * forest tables (`StatusShapesSpec`):
  *   - the analysis set is the LATEST measurement per
  *     (habitattype, point_code) — with that selection the published
  *     per-stratum n_obs and aandeel_gunstig are PLAIN proportions,
  *     exact on all 100 single-subtype Binnen/Buiten rows of
  *     `status_indicatoren_fs.tsv`;
  *   - the pooled "Binnen & Buiten" rows and the published confidence
  *     bounds carry the reference's survey-design weights (drawn in
  *     its analysis repo, outside this snapshot), so they are gated at
  *     shape level: the published interval tracks the equal-weight
  *     [[logitTCi]] within ~2pp on stratum rows (median 0.23pp);
  *   - `beoordeling` is the three-way Goed / Niet goed / Onbekend
  *     verdict of the interval against the 75% favourability
  *     threshold (the published integer codes are git2rdata factor
  *     indices for exactly those labels — `status_indicatoren_fs.yml`
  *     maps 1/2/3, `status_indicatoren_rw.yml` 4/5/3) — the mapping
  *     reproduces every published class from the published bounds;
  *   - McNemar: the chi-square statistic is computed WITHOUT
  *     continuity correction on the design-WEIGHTED discordant pair
  *     counts — (b-c)^2/(b+c) on the published `n_adj` values
  *     reproduces every published `mcnemar_p_value` (e.g. forests
  *     9120: (5.23263-3.48842)^2/8.72105 -> p=0.554769; streams:
  *     0.876836 -> p=0.34907).
  *
  * Each statistic is ONE function with an optional design weight
  * column: without one it is the equal-weight estimator (the
  * oracle-backed q113-q129), with one the Hájek/Kish design-weighted
  * estimator (q130-q141) — one row builder, and an aggregate and
  * interval tail per estimator (see "one row builder, two tails"
  * below). The intervals are CLOSED-FORM and z-based (Wilson score;
  * normal mean interval) so every column replays exactly in DuckDB;
  * the reference-style Student-t
  * variants ([[logitTCi]], [[meanTCi]], [[mcNemarP]]) are the engine's
  * driver-side reporting functions, spec-validated against the
  * published tables. All plot-level aggregation is distributed (two
  * hash aggregations); the t/erfc transforms run on the aggregated
  * result, whose size is bounded by #habitattypes x #indicators x 3
  * strata — never by plot count.
  */
object LsviStatus {

  val z975: Double = 1.959963984540054

  /** Latest measurement per (habitattype, point_code) — the reference's
    * status analysis set (one row per sampling point, newest cycle
    * wins). Ties on date are broken by id to stay deterministic. */
  def latestPerPoint(plotMeta: DataFrame): DataFrame = {
    val payload = struct(
      plotMeta.columns.filterNot(Seq("habitattype", "point_code").contains)
        .map(col).toIndexedSeq: _*)
    plotMeta
      .groupBy("habitattype", "point_code")
      .agg(max_by(payload, struct(col("date"), col("id"))).as("r"))
      .select(Seq(col("habitattype"), col("point_code"), col("r.*")): _*)
  }

  // ---- one row builder, two tails ----------------------------------------
  //
  // Every statistic below is ONE function with an optional design
  // weight column (`weightCol`). Its selection (latest visit per point,
  // or the first/last pairing), cycle pivot and stratum rows are built
  // once and carry the weight as column `w`; only the aggregate and the
  // interval tail depend on whether a weight is given, because the two
  // tails are different published estimators:
  //
  //   - no weight: the equal-weight shapes the oracle-backed queries
  //     q113-q129 replay — counts, and means in 1e-6 (index) or 1e-4
  //     (continuous) fixed point, whose integer sums are bit-identical
  //     under any aggregation order;
  //   - a weight: the published pooled "Binnen & Buiten" rows carry
  //     survey-design weights drawn in the reference's analysis repo.
  //     The weighted tail computes Hájek-ratio estimates with
  //     design-effect-adjusted intervals (q130-q141):
  //
  //       share / mean:  Σw·x / Σw
  //       n_eff        = (Σw)² / Σw²        (Kish effective sample size)
  //       every count X in a closed-form interval becomes its effective
  //       count n_eff · (Σw·1[X] / Σw) — with unit weights that is X
  //       itself, so each weighted formula reduces to the unweighted
  //       algebra (not bit for bit: the weighted sums are doubles).
  //
  // The proportion estimators ([[statusHabitat]], [[statusIndicatoren]])
  // have the weighted tail only: at w = 1, Σw and Σw·1[g] are the exact
  // counts and n_eff = n·n/n is exactly n (n² < 2^53), so their shares
  // and Wilson bounds are the plain proportion's operation for operation.
  //
  // Validation against the snapshot (WeightedStatusSpec): one weight
  // ratio per (habitattype × SAC) stratum solved from the pooled
  // `status_habitat_fs` row reproduces the published design-weighted
  // pooled rows of BOTH `index_hq_fs.tsv` (≤1e-4 on all 6 types) and
  // `status_indicatoren_fs.tsv` (≤0.02pp on every single-subtype
  // pooled row) — i.e. the reference's weights are uniform within
  // forest strata and its pooled estimator is this Σw·x/Σw. The
  // weighted sums are plain doubles (one hash aggregation like the
  // unweighted path); the oracle parity of the weighted queries relies
  // on binary-fraction weights and values keeping every distributed
  // sum exact (order-independent), as PLANS.md documents for the
  // fixed-point chains.

  /** A plot's SBZH stratum: Binnen inside the SAC, Buiten outside. */
  private val stratum: Column =
    when(col("in_sac") === 1, "Binnen").otherwise("Buiten")

  /** The reporting strata of the mean and trend shapes. */
  private val strataKeys = Seq("type_resultaat", "habitattype", "sbzh")

  /** The indicator grain below a habitattype. */
  private val indicatorKeys = Seq("criterium", "indicator", "belang")

  /** `w` when a design weight is given: the name the row builders carry. */
  private def wCol(weightCol: Option[String]): Seq[String] =
    weightCol.map(_ => "w").toSeq

  /** The design weight as column `w`, when one is given. */
  private def weightOf(weightCol: Option[String]): Seq[Column] =
    weightCol.map(c => col(c).cast("double").as("w")).toSeq

  /** The latest visit's design weight (arg-max by `key`) as `w`. */
  private def latestWeight(weightCol: Option[String], key: Column): Seq[Column] =
    weightCol.map(c => max_by(col(c).cast("double"), key).as("w")).toSeq

  /** The value a mean estimator aggregates: 1e-6 fixed point for the
    * unweighted tail's integer sums, the raw double for the weighted
    * one (fractional weights make integer accumulation impossible, so
    * exact-replay fixtures feed binary-fraction values). */
  private def meanValue(x: Column, weightCol: Option[String]): Column =
    if (weightCol.isEmpty) floor(x * 1e6 + 0.5).cast("long") else x

  /** Latest measurement per point: id, its SBZH `stratum` and weight. */
  private def latestStrata(plotMeta: DataFrame,
      weightCol: Option[String]): DataFrame =
    latestPerPoint(plotMeta)
      .select(col("id") +: stratum.as("stratum") +: weightOf(weightCol): _*)

  /** Every row once under its SBZH stratum `sbzh` (type_resultaat
    * SBZH) and once under the pooled Habitattype row (Binnen &
    * Buiten); `cols` (habitattype first) ride along. */
  private def byStratum(rows: DataFrame, sbzh: Column,
      cols: Seq[String]): DataFrame =
    rows.select(cols.map(col) :+ explode(array(
        struct(lit("SBZH").as("type_resultaat"), sbzh.as("sbzh")),
        struct(lit("Habitattype").as("type_resultaat"),
          lit("Binnen & Buiten").as("sbzh")))).as("g"): _*)
      .select(Seq(col("habitattype"), col("g.type_resultaat"), col("g.sbzh")) ++
        cols.tail.map(col): _*)

  /** The two visits of every point seen on more than one date — the
    * first (c_1) and the latest (c_2) by (date, id) — as one
    * (point_code, id, periode) row each, carrying the latest visit's
    * `in_sac` when `withSac` and its design weight `w` when one is
    * given. */
  private def cycleIds(plotMeta: DataFrame, weightCol: Option[String],
      withSac: Boolean): DataFrame = {
    val key = struct(col("date"), col("id"))
    val sac = if (withSac) Seq("in_sac") else Nil
    val pairs = plotMeta.groupBy("habitattype", "point_code")
      .agg(min_by(col("id"), key).as("id_1"),
        (Seq(max_by(col("id"), key).as("id_2")) ++
          sac.map(c => max_by(col(c), key).as(c)) ++
          latestWeight(weightCol, key) :+
          countDistinct(col("date")).as("nc")): _*)
      .where(col("nc") > 1)
    val carried = col("point_code") +: (sac ++ wCol(weightCol)).map(col)
    pairs.select(carried :+ explode(array(
        struct(col("id_1").as("id"), lit("c_1").as("periode")),
        struct(col("id_2").as("id"), lit("c_2").as("periode")))).as("e"): _*)
      .select(carried ++ Seq(col("e.id"), col("e.periode")): _*)
  }

  /** Wilson score interval on [0, 100], z-based, from effective
    * counts: p = Σw·1[g]/Σw, n_eff = (Σw)²/Σw². Equal-weight callers
    * pass (k, n, n): then n_eff = n·n/n is exactly n and every
    * operation is the plain Wilson interval's. At p in {0, 1} it
    * renders the reference's degenerate bounds (the published tables
    * show (100, 100) / (0, 0) there). Closed form — replays in DuckDB. */
  private def wilsonEff(swk: Column, sw: Column, sw2: Column): (Column, Column) = {
    // zero-total-weight groups (degenerate input) null-propagate
    // instead of throwing under ANSI division; identical otherwise
    val swS = when(sw =!= 0.0, sw)
    val sw2S = when(sw2 =!= 0.0, sw2)
    val neff = sw * sw / sw2S
    val p = swk / swS
    val z2 = lit(z975 * z975)
    val den = lit(1.0) + z2 / neff
    val center = (p + z2 / (lit(2.0) * neff)) / den
    val half = (lit(z975) / den) *
      sqrt(p * (lit(1.0) - p) / neff + z2 / (lit(4.0) * neff * neff))
    val degen = swk === lit(0.0) || swk === sw
    val lo = when(degen, lit(100.0) * p)
      .otherwise(lit(100.0) * greatest(lit(0.0), center - half))
    val hi = when(degen, lit(100.0) * p)
      .otherwise(lit(100.0) * least(lit(1.0), center + half))
    (lo, hi)
  }

  /** Goed / Niet goed / Onbekend against the 75% favourability
    * threshold on the interval. */
  private def beoordeling(lo: Column, hi: Column): Column =
    when(lo >= 75.0, "Goed")
      .when(hi < 75.0, "Niet goed")
      .otherwise("Onbekend")

  /** Share of favourable rows per `keys` group over rows carrying a
    * weight `w`: n_obs (plot count, like the published tables), the
    * Hájek share Σw·1[fav]/Σw with its effective-count Wilson 95%
    * bounds, and the verdict. One aggregation. */
  private def proportionStatus(rows: DataFrame, keys: Seq[String],
      fav: Column): DataFrame = {
    val agg = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(when(fav, col("w")).otherwise(0.0)).as("swk"))
    val (lo, hi) = wilsonEff(col("swk"), col("sw"), col("sw2"))
    agg
      .withColumn("aandeel_gunstig",
        round(lit(100.0) * col("swk") / col("sw"), 6))
      .withColumn("aandeel_gunstig_llci", round(lo, 6))
      .withColumn("aandeel_gunstig_ulci", round(hi, 6))
      .withColumn("beoordeling",
        beoordeling(col("aandeel_gunstig_llci"), col("aandeel_gunstig_ulci")))
      .drop("sw", "sw2", "swk")
  }

  /** `status_indicatoren` shape: per (habitattype, sbzh, criterium,
    * indicator, belang) over the latest-per-point plots — n_obs,
    * aandeel_gunstig (plain proportion; the Hájek share under
    * `weightCol`, which rides the plot table and joins to the
    * indicator rows by id), Wilson 95% bounds, verdict. `sbzh` takes
    * Binnen / Buiten from the plot's `in_sac` plus the pooled
    * "Binnen & Buiten" row. One shuffle on the group key after the
    * broadcast-sized latest-per-point join. */
  def statusIndicatoren(indicator: DataFrame, plotMeta: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val rows = indicator
      .join(latestStrata(plotMeta, weightCol), Seq("id"))
      .where(col("status_indicator").isNotNull)
      .select(col("type_analysis").as("habitattype"), col("criterium"),
        col("indicator"), col("belang"), col("status_indicator"),
        weightCol.fold(lit(1.0))(_ => col("w")).as("w"),
        explode(array(col("stratum"), lit("Binnen & Buiten"))).as("sbzh"))
    proportionStatus(rows, Seq("habitattype", "sbzh") ++ indicatorKeys,
      col("status_indicator"))
  }

  /** `status_habitat` shape: favourability of the plot-level lsvi
    * verdict per (habitattype, sbzh) over the latest-per-point plots —
    * the same Wilson + verdict machinery as [[statusIndicatoren]], one
    * aggregation. Validated: every published single-subtype stratum
    * row of `status_habitat_fs.tsv` is this exact plain proportion.
    * `weightCol` is the per-plot design weight (any positive scale —
    * ratios are scale-free); `n_obs` stays the raw plot count. */
  def statusHabitat(plotLsvi: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val rows = latestPerPoint(plotLsvi)
      .where(col("lsvi").isNotNull)
      .select(col("habitattype"), (col("lsvi") === "gunstig").as("g"),
        weightCol.fold(lit(1.0))(c => col(c).cast("double")).as("w"),
        explode(array(stratum, lit("Binnen & Buiten"))).as("sbzh"))
    proportionStatus(rows, Seq("habitattype", "sbzh"), col("g"))
  }

  /** Mean of `x` per `keys` group with its 95% normal interval, as
    * `${base}_mean` / `_llci` / `_ulci` (NULL bounds for single-plot
    * groups, as the reference publishes for 9110 Buiten); `rel` names
    * a first-cycle column whose sum divides the summed differences
    * into `${base}_rel`.
    *
    * Unweighted, `x` is 1e-6 fixed point: the distributed integer sums
    * are order-independent (bit-identical to the DuckDB oracle) and the
    * variance is the exact integer identity (n·Σx² − (Σx)²) /
    * (n·(n−1)). Weighted, the Hájek mean Σw·x/Σw with the design-
    * effect interval mean ± z·sqrt(v_pop / (n_eff − 1)), v_pop the
    * weighted population variance — with unit weights algebraically
    * the unweighted z·s/√n. */
  private def meanEstimate(rows: DataFrame, keys: Seq[String], base: String,
      weighted: Boolean, rel: Option[String] = None): DataFrame = {
    val grouped = rows.groupBy(keys.map(col): _*)
    val (x, n) = (col("x"), col("n_obs"))
    def bounds(df: DataFrame, m: Column, h: Column): DataFrame = df
      .withColumn(s"${base}_mean", round(m, 6))
      .withColumn(s"${base}_llci", when(n > 1, round(m - h, 6)))
      .withColumn(s"${base}_ulci", when(n > 1, round(m + h, 6)))
    if (!weighted) {
      val agg = grouped.agg(count(lit(1)).as("n_obs"),
        (Seq(sum(x).as("sx"), sum(x * x).as("sxx")) ++
          rel.map(r => sum(col(r)).as("sr"))): _*)
      val mean = col("sx").cast("double") / n / 1e6
      val sd = sqrt((n * col("sxx") - col("sx") * col("sx"))
          .cast("double") / (n * (n - lit(1L)))) / 1e6
      val half = lit(z975) * sd / sqrt(n.cast("double"))
      val out = bounds(agg, mean, half)
      rel.fold(out)(_ => out.withColumn(s"${base}_rel",
          when(col("sr") =!= 0L,
            round(col("sx").cast("double") / col("sr").cast("double"), 6))))
        .drop("sx", "sxx", "sr")
    } else {
      val w = col("w")
      val agg0 = grouped.agg(count(lit(1)).as("n_obs"),
        (Seq(sum(w).as("sw"), sum(w * w).as("sw2"), sum(w * x).as("swx"),
          sum(w * x * x).as("swx2")) ++
          rel.map(r => sum(w * col(r)).as("swr"))): _*)
      val agg = rel.fold(agg0)(_ => agg0.withColumn(s"${base}_rel",
        when(col("swr") =!= 0.0, round(col("swx") / col("swr"), 6))))
      // null-guard the denominators: zero total weight (degenerate
      // input) and n_eff == 1 (a single effective observation, e.g. all
      // weight on one row) would THROW under ANSI division; the guarded
      // expressions null-propagate — mean/interval become NULL — and are
      // identical for every non-degenerate group
      val swS = when(col("sw") =!= 0.0, col("sw"))
      val sw2S = when(col("sw2") =!= 0.0, col("sw2"))
      val neff = col("sw") * col("sw") / sw2S
      val m = col("swx") / swS
      val vpop = greatest(col("swx2") / swS - m * m, lit(0.0))
      val h = lit(z975) * sqrt(vpop / when(neff =!= 1.0, neff - lit(1.0)))
      bounds(agg, m, h).drop("sw", "sw2", "swx", "swx2", "swr")
    }
  }

  /** `index_ind` shape: mean (clamped) indicator verschilscore + 95%
    * normal interval per (type_resultaat, habitattype, sbzh,
    * criterium, indicator, belang) over the latest-per-point plots —
    * the [[indexHq]] machinery at indicator grain. Validated: published
    * single-subtype stratum means are exact (display-rounding only) on
    * `index_ind_fs.tsv`. */
  def indexInd(indicator: DataFrame, plotMeta: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val rows = indicator
      .join(latestStrata(plotMeta, weightCol), Seq("id"))
      .where(col("verschilscore").isNotNull)
      .select(Seq(col("type_analysis").as("habitattype"), col("criterium"),
        col("indicator"), col("belang"), col("stratum"),
        meanValue(col("verschilscore"), weightCol).as("x")) ++
        wCol(weightCol).map(col): _*)
    meanEstimate(
      byStratum(rows, col("stratum"),
        ("habitattype" +: indicatorKeys :+ "x") ++ wCol(weightCol)),
      strataKeys ++ indicatorKeys, "index_ind", weightCol.isDefined)
  }

  /** `index_hq` shape: mean habitat-quality index (the globaal
    * `index_mean_ind`) + 95% normal interval per (type_resultaat,
    * habitattype, sbzh) over the latest-per-point plots; `Habitattype`
    * rows pool both strata, `SBZH` rows split them — exactly the
    * published grouping. See [[meanEstimate]] for the two tails. */
  def indexHq(plotIndex: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val rows = latestPerPoint(plotIndex)
      .where(col("index_mean_ind").isNotNull)
      .select(Seq(col("habitattype"), col("in_sac"),
        meanValue(col("index_mean_ind"), weightCol).as("x")) ++
        weightOf(weightCol): _*)
    meanEstimate(byStratum(rows, stratum, Seq("habitattype", "x") ++ wCol(weightCol)),
      strataKeys, "index_hq", weightCol.isDefined)
  }

  /** `trend_index_hq` shape: paired two-cycle change of the plot-level
    * habitat-quality index per (type_resultaat, habitattype, sbzh) —
    * mean within-point difference (latest minus earliest), 95% normal
    * interval, and the relative change (mean difference over the
    * first-cycle mean, = sum(d)/sum(x1) under equal weights, Σw·d/Σw·x₁
    * under a design weight, which is the pair's latest-visit weight).
    * Unweighted all in 1e-6 fixed point: the within-point difference of
    * two fixed-point values is an exact integer, so the distributed
    * sums replay bit-identically in the oracle. Validated: the
    * published SBZH stratum rows of `trend_index_hq_fs.tsv` reproduce
    * EXACTLY (mean and both bounds — the reference's interval is this
    * z interval); pooled rows carry design weights (within 0.005). */
  def trendIndexHq(plotIndex: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val key = struct(col("date"), col("id"))
    val pairs = plotIndex.where(col("index_mean_ind").isNotNull)
      .withColumn("x", meanValue(col("index_mean_ind"), weightCol))
      .groupBy("habitattype", "point_code")
      .agg(min_by(col("x"), key).as("x1"),
        (Seq(max_by(col("x"), key).as("x2"),
          max_by(col("in_sac"), key).as("in_sac")) ++
          latestWeight(weightCol, key) :+
          countDistinct(col("date")).as("nc")): _*)
      .where(col("nc") > 1)
      .withColumn("x", col("x2") - col("x1"))
    meanEstimate(
      byStratum(pairs, stratum, Seq("habitattype", "x", "x1") ++ wCol(weightCol)),
      strataKeys, "index_diff", weightCol.isDefined, rel = Some("x1"))
  }

  /** `trend_index_ind` shape: the [[trendIndexHq]] paired-difference
    * machinery at indicator grain (clamped indicator verschilscores,
    * both cycles known). Published SBZH stratum rows reproduce exactly
    * (1.4e-5, display rounding). */
  def trendIndexInd(indicator: DataFrame, plotMeta: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    // single-chain like [[trendIndicatoren]]: cycle pivot by conditional
    // aggregation instead of an s1 ⋈ s2 self-join (which planned the
    // pairing subtree twice)
    val rows = indicator.where(col("verschilscore").isNotNull)
      .withColumn("x", meanValue(col("verschilscore"), weightCol))
      .join(cycleIds(plotMeta, weightCol, withSac = true), Seq("id"))
      .groupBy(col("type_analysis").as("habitattype"), col("point_code"),
        col("in_sac"), col("criterium"), col("indicator"), col("belang"))
      .agg(max(when(col("periode") === "c_1", col("x"))).as("x1"),
        (max(when(col("periode") === "c_2", col("x"))).as("x2") +:
          wCol(weightCol).map(c => max(col(c)).as(c))): _*)
      .where(col("x1").isNotNull && col("x2").isNotNull)
      .withColumn("x", col("x2") - col("x1"))
    meanEstimate(
      byStratum(rows, stratum,
        ("habitattype" +: indicatorKeys :+ "x") ++ wCol(weightCol)),
      strataKeys ++ indicatorKeys, "index_diff", weightCol.isDefined)
  }

  /** Chi-square df=1 critical value at alpha 0.05 — the published
    * `effect_beheer` labels flip exactly at p = 0.05. */
  val chi2Crit05: Double = 3.841458820694124

  /** Ten-class effect classification of a change estimate against
    * reference 0 with thresholds (-tl, +th) — the reference's `klasse`
    * factor (labels ++/+/+~/~/-~/-/--/?+/?-/? in
    * `trend_habitat_fs.yml`). Closed-form CASE chain; when the bounds
    * are null the point estimate classifies alone (the published
    * zero-variance rows carry klasse `~`). Validated in
    * `TrendBeheerShapesSpec`: with tl=th=12 for the absolute change
    * and 25 for the relative change this mapping reproduces EVERY
    * published bounded `klasse` across all seven groups' trend_habitat
    * tables (135/135 rows). */
  def effectKlasse(mean: Column, lo0: Column, hi0: Column,
                   tl: Double, th: Double): Column = {
    val lo = coalesce(lo0, mean)
    val hi = coalesce(hi0, mean)
    when(lo.isNull || hi.isNull, lit(null).cast("string"))
      .when(lo > th, "++")
      .when(hi < -tl, "--")
      .when(lo > 0.0, when(hi > th, "+").otherwise("+~"))
      .when(hi < 0.0, when(lo < -tl, "-").otherwise("-~"))
      .when(lo >= -tl && hi <= th, "~")
      .when(lo >= -tl, "?+")
      .when(hi <= th, "?-")
      .otherwise("?")
  }

  /** `trend_habitat` shape: paired two-cycle trend of the plot-level
    * habitat verdict per (type_resultaat, habitattype, sbzh) — long
    * form like the published table (`trend_habitat_fs.tsv`): an
    * `aandeel_gunstig` row per periode over the PAIRED points (the
    * published per-cycle n_obs are identical across cycles — the
    * analysis set is the points with both cycles known), the paired
    * absolute difference (`verschil_aandeel_gunstig_abs`, Wald
    * interval from the discordant counts) classified by
    * [[effectKlasse]] at the +-12 percentage-point threshold, and the
    * relative change (`verschil_aandeel_gunstig_rel`) with a paired
    * log-ratio delta interval (SE(ln(p2/p1)) = sqrt((b+c)/(k1*k2)))
    * classified at the +-25% threshold. The published relative MEANS
    * are resampling-based in the reference's analysis repo (outside
    * this snapshot; they are not derivable from the published cycle
    * shares — e.g. forests 9120 rel -6.09 vs abs/share -11.33), so
    * the engine publishes the deterministic point estimate; the
    * klasse mapping itself is validated on the published bounds.
    * When the first cycle has zero favourable plots the relative
    * change is undefined: klasse is `++` if the absolute change's
    * lower bound clears 0, `?` otherwise — the published all-NA rel
    * rows follow exactly this rule (12/12). Year columns: jaar_min /
    * jaar_max span the contributing cycle(s); verschil_jaar is the
    * mean revisit interval rounded to 1 decimal, as published.
    *
    * Pairing: by default any point with more than one visit date is a
    * pair (first vs last visit) — this matches the forest, heath and
    * coastal-dune schemes, whose fieldwork windows never revisit a
    * point within a cycle. Schemes whose cycle windows overlap in
    * calendar years across strata (grassland/marsh: 1330_da runs
    * 2013-18/2019-24 while 1330_hpr and 6230 run 2015-20/2021-26)
    * must pass an integer `cycle` column (see [[assignCycles]]): then
    * only points observed in BOTH cycle 0 and cycle 1 pair up, and
    * same-cycle re-visits are excluded — the published
    * `trend_habitat_gr_bm` drops exactly those points.
    *
    * Under `weightCol` (the pair's latest-visit weight) the shares are
    * Hájek shares, the Wilson, Wald and log-ratio intervals use
    * effective counts, and the year columns stay descriptive. */
  def trendHabitat(plotLsvi: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val hasCycle = plotLsvi.columns.contains("cycle")
    val in0 = plotLsvi.where(col("lsvi").isNotNull)
    val in1 = if (hasCycle) in0.where(col("cycle").isin(0, 1)) else in0
    val key = struct(col("date"), col("id"))
    val visit = struct((col("lsvi") === "gunstig").as("g"), col("date").as("j"))
    val pairs = in1
      .groupBy("habitattype", "point_code")
      .agg(min_by(visit, key).as("r1"),
        (Seq(max_by(visit, key).as("r2"), max_by(col("in_sac"), key).as("in_sac")) ++
          latestWeight(weightCol, key) :+
          (if (hasCycle) countDistinct(col("cycle"))
           else countDistinct(col("date"))).as("nc")): _*)
      .where(if (hasCycle) col("nc") === 2 else col("nc") > 1)
      .select(Seq(col("habitattype"), col("in_sac"),
        col("r1.g").as("g1"), col("r2.g").as("g2"),
        col("r1.j").as("j1"), col("r2.j").as("j2")) ++
        wCol(weightCol).map(col): _*)
    val rows = byStratum(pairs, stratum,
      Seq("habitattype", "g1", "g2", "j1", "j2") ++ wCol(weightCol))
    val (g1, g2) = (col("g1"), col("g2"))
    // year columns stay descriptive (unweighted) under a design weight
    val years = Seq(min(col("j1")).as("jmin1"), max(col("j1")).as("jmax1"),
      min(col("j2")).as("jmin2"), max(col("j2")).as("jmax2"),
      sum(col("j2") - col("j1")).as("sdj"))
    val grouped = rows.groupBy(strataKeys.map(col): _*)
    // per tail: the aggregate, the favourable totals x1/x2 over `tot`
    // pairs, both cycles' Wilson bounds, the paired absolute difference
    // with its Wald SE, and the SE of the paired log-ratio
    // Var(ln(p2/p1)) = (b + c) / (k1 * k2) for matched pairs
    val (agg, tot, x1, x2, ci1, ci2, dAbs, seAbs, seLn) = weightCol match {
      case None =>
        val agg = grouped.agg(count(lit(1)).as("n_obs"), (Seq(
          count(when(g1, 1)).as("k1"), count(when(g2, 1)).as("k2"),
          count(when(g1 && !g2, 1)).as("b"),
          count(when(!g1 && g2, 1)).as("c")) ++ years): _*)
        val nd = col("n_obs").cast("double")
        val k1d = col("k1").cast("double")
        val k2d = col("k2").cast("double")
        val bd = col("b").cast("double")
        val cd = col("c").cast("double")
        (agg, nd, k1d, k2d,
          wilsonEff(col("k1"), col("n_obs"), col("n_obs")),
          wilsonEff(col("k2"), col("n_obs"), col("n_obs")),
          lit(100.0) * (k2d - k1d) / nd,
          lit(100.0) * sqrt(bd + cd - pow(bd - cd, 2) / nd) / nd,
          sqrt((bd + cd) / (k1d * k2d)))
      case Some(_) =>
        val w = col("w")
        val agg = grouped.agg(count(lit(1)).as("n_obs"), (Seq(
          sum(w).as("sw"), sum(w * w).as("sw2"),
          sum(when(g1, w).otherwise(0.0)).as("swk1"),
          sum(when(g2, w).otherwise(0.0)).as("swk2"),
          sum(when(g1 && !g2, w).otherwise(0.0)).as("swb"),
          sum(when(!g1 && g2, w).otherwise(0.0)).as("swc")) ++ years): _*)
        val sw = col("sw")
        val neff = sw * sw / col("sw2")
        val md = (col("swk2") - col("swk1")) / sw
        val vpop = greatest((col("swb") + col("swc")) / sw - md * md, lit(0.0))
        // effective counts for the paired log-ratio interval
        val k1e = neff * (col("swk1") / sw)
        val k2e = neff * (col("swk2") / sw)
        val bce = neff * ((col("swb") + col("swc")) / sw)
        (agg, sw, col("swk1"), col("swk2"),
          wilsonEff(col("swk1"), sw, col("sw2")),
          wilsonEff(col("swk2"), sw, col("sw2")),
          lit(100.0) * md, lit(100.0) * sqrt(vpop / neff),
          sqrt(bce / (k1e * k2e)))
    }
    val absLo = round(dAbs - lit(z975) * seAbs, 6)
    val absHi = round(dAbs + lit(z975) * seAbs, 6)
    val relMean = when(x1 > 0.0, round(lit(100.0) * (x2 - x1) / x1, 6))
    val relDef = x1 > 0.0 && x2 > 0.0
    val relLo = when(relDef,
      round(lit(100.0) * (exp(log(x2 / x1) - lit(z975) * seLn) - lit(1.0)), 6))
    val relHi = when(relDef,
      round(lit(100.0) * (exp(log(x2 / x1) + lit(z975) * seLn) - lit(1.0)), 6))
    val relKlasse = when(x1 > 0.0,
        effectKlasse(relMean, relLo, relHi, 25.0, 25.0))
      .otherwise(when(absLo > 0.0, "++").otherwise("?"))
    // half-even like R's round(): the published tables carry 4.25 ->
    // 4.2 (coastal dunes 2120-Binnen) and 6.25 -> 6.2 (grassland
    // 6510-Buiten), which HALF_UP would print as 4.3 / 6.3
    val vj = bround(col("sdj").cast("double") / col("n_obs").cast("double"), 1)
    def share(i: Int, x: Column, ci: (Column, Column)) =
      struct(lit(s"c_$i").as("periode"), lit("aandeel_gunstig").as("parameter"),
        round(lit(100.0) * x / tot, 6).as("mean"),
        round(ci._1, 6).as("llci"), round(ci._2, 6).as("ulci"),
        lit(null).cast("string").as("klasse"),
        lit(null).cast("string").as("periode_ref"),
        col(s"jmin$i").as("jaar_min"), col(s"jmax$i").as("jaar_max"),
        lit(null).cast("double").as("verschil_jaar"))
    def change(parameter: String, mean: Column, lo: Column, hi: Column,
        klasse: Column) =
      struct(lit("c_2").as("periode"), lit(parameter).as("parameter"),
        mean.as("mean"), lo.as("llci"), hi.as("ulci"), klasse.as("klasse"),
        lit("c_1").as("periode_ref"),
        least(col("jmin1"), col("jmin2")).as("jaar_min"),
        greatest(col("jmax1"), col("jmax2")).as("jaar_max"),
        vj.as("verschil_jaar"))
    val out = agg.select(col("type_resultaat"), col("habitattype"),
      col("sbzh"), col("n_obs"),
      explode(array(
        share(1, x1, ci1),
        share(2, x2, ci2),
        change("verschil_aandeel_gunstig_abs", round(dAbs, 6), absLo, absHi,
          effectKlasse(round(dAbs, 6), absLo, absHi, 12.0, 12.0)),
        change("verschil_aandeel_gunstig_rel", relMean, relLo, relHi,
          relKlasse))).as("r"))
    out.select(col("r.periode").as("periode"), col("type_resultaat"),
      col("habitattype"), col("sbzh"), col("n_obs"),
      col("r.parameter").as("parameter"), col("r.mean").as("mean"),
      col("r.llci").as("llci"), col("r.ulci").as("ulci"),
      col("r.klasse").as("klasse"), col("r.periode_ref").as("periode_ref"),
      col("r.jaar_min").as("jaar_min"), col("r.jaar_max").as("jaar_max"),
      col("r.verschil_jaar").as("verschil_jaar"))
  }

  /** Assign monitoring-cycle indexes for [[trendHabitat]] pairing:
    * `cycle = floor((date - start) / cycleYears)` with the scheme
    * start taken as the first visit year of the plot's stratum
    * (habitatsubtype). The grassland/marsh scheme runs 6-year cycles
    * whose calendar windows differ per stratum — 1330_da from 2013
    * (cycles 2013-18 / 2019-24), 1330_hpr and the 6230 subtypes from
    * 2015 (2015-20 / 2021-26) — which this derivation reproduces
    * exactly against the published `trend_habitat_gr_bm` year spans.
    * The stratum dictionary is tiny, so the start-year join is a
    * broadcast; at any scale this is a map-side annotation.
    *
    * The min-date derivation is correct for the published schemes but
    * fragile against dirty data: ONE mistyped early visit shifts the
    * whole stratum's cycle grid silently (every later visit lands one
    * cycle too high, so real pairs stop pairing). `startYears` pins
    * known scheme starts explicitly — a stratum present in the map
    * uses its declared start year and the derivation only covers the
    * rest. */
  def assignCycles(plots: DataFrame, subtypeCol: String = "habitatsubtype",
      cycleYears: Int = 6,
      startYears: Map[String, Int] = Map.empty): DataFrame = {
    val starts = plots.groupBy(subtypeCol)
      .agg(min(col("date")).as("derived_start"))
    val start =
      if (startYears.isEmpty) col("derived_start")
      else coalesce(element_at(typedLit(startYears), col(subtypeCol)),
        col("derived_start"))
    plots.join(broadcast(starts), Seq(subtypeCol), "left")
      .withColumn("cycle",
        floor((col("date") - start) / cycleYears).cast("int"))
      .drop("derived_start")
  }

  /** `status_beheer` shape: favourability of the plot-level habitat
    * verdict split by appropriate management per (habitattype,
    * passend_beheer) over the latest-per-point plots
    * (`status_beheer_fs.tsv`) — n_obs, plain proportion + Wilson
    * bounds + Goed/Niet goed/Onbekend verdict, plus the two-proportion
    * Pearson chi-square comparing the ja/nee groups (`chi2_beheer`,
    * shared by both rows of a habitattype) and its significance class
    * at alpha 0.05 (`effect_beheer` — the published label flips at
    * p = 0.05: 0.01319 -> significant, 0.1403 -> niet significant).
    * The test runs only when the habitattype has BOTH groups with
    * n_obs >= 5 and a non-degenerate 2x2 table (the published tables
    * carry NA below that: nee-groups of 1 and 3 plots are NA, 9 is
    * tested); the p-value itself needs erfc (neither Spark nor the
    * SQL oracle has it) and is the driver-side [[mcNemarP]] of the
    * published statistic. Published proportions/bounds are
    * design-weighted (gated at shape level like
    * [[statusIndicatoren]]). Single aggregation to the
    * habitattype x beheer grain, then window transforms over the
    * group-count-bounded result — no second pass over plots. */
  def statusBeheer(plotLsvi: DataFrame): DataFrame = {
    val latest = latestPerPoint(plotLsvi)
      .where(col("lsvi").isNotNull && col("passend_beheer").isNotNull)
    val agg = latest.groupBy("habitattype", "passend_beheer")
      .agg(count(lit(1)).as("n_obs"),
        count(when(col("lsvi") === "gunstig", 1)).as("k"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("habitattype")
    val groups = count(lit(1)).over(w)
    val nTot = sum(col("n_obs")).over(w)
    val kTot = sum(col("k")).over(w)
    val nMin = min(col("n_obs")).over(w)
    val nd = col("n_obs").cast("double")
    val nT = col("n_tot").cast("double")
    val kT = col("k_tot").cast("double")
    // Pearson 2x2: chi2 = N*(k*N - K*n)^2 / (n*(N-n)*K*(N-K)); the
    // cross term k*n2 - k2*n collapses to k*N - K*n, so both rows
    // compute the identical statistic from their own (n, k) plus the
    // window totals
    val num = col("k").cast("double") * nT - kT * nd
    val chi2 = when(col("n_groups") === 2 && col("n_min") >= 5 &&
        col("k_tot") > 0 && col("k_tot") < col("n_tot"),
      round(nT * num * num / (nd * (nT - nd) * kT * (nT - kT)), 6))
    val (lo, hi) = wilsonEff(col("k"), col("n_obs"), col("n_obs"))
    agg
      .withColumn("n_groups", groups)
      .withColumn("n_tot", nTot)
      .withColumn("k_tot", kTot)
      .withColumn("n_min", nMin)
      .withColumn("type_resultaat", lit("Passend beheer"))
      .withColumn("sbzh", lit("Binnen & Buiten"))
      .withColumn("aandeel_gunstig",
        round(lit(100.0) * col("k").cast("double") / col("n_obs"), 6))
      .withColumn("aandeel_gunstig_llci", round(lo, 6))
      .withColumn("aandeel_gunstig_ulci", round(hi, 6))
      .withColumn("beoordeling",
        beoordeling(col("aandeel_gunstig_llci"), col("aandeel_gunstig_ulci")))
      .withColumn("chi2_beheer", chi2)
      .withColumn("effect_beheer",
        when(col("chi2_beheer").isNotNull,
          when(col("chi2_beheer") > chi2Crit05, "significant")
            .otherwise("niet significant")))
      .select("type_resultaat", "habitattype", "sbzh", "passend_beheer",
        "n_obs", "aandeel_gunstig", "aandeel_gunstig_llci",
        "aandeel_gunstig_ulci", "beoordeling", "chi2_beheer", "effect_beheer")
  }

  /** `mc_nemar` shape: two-cycle paired habitat-status trend. Input is
    * plot metadata with the per-plot lsvi verdict and a design weight;
    * a pair is a point with more than one measured cycle (earliest vs
    * latest by date). Output: one row per observed transition per
    * habitattype — n (pair count), n_adj (weighted, 1e-6-rounded) —
    * plus the habitattype's McNemar chi-square WITHOUT continuity
    * correction on the WEIGHTED discordant counts, the reference's
    * statistic (validated: it reproduces every published p-value).
    * The per-transition table is one aggregation; the statistic join
    * is against the habitattype-count-sized side (broadcast). */
  def mcNemar(plotLsvi: DataFrame): DataFrame = {
    val pairs = plotLsvi
      .where(col("lsvi").isNotNull)
      .groupBy("habitattype", "point_code")
      .agg(
        min_by(col("lsvi"), struct(col("date"), col("id"))).as("lsvi_1"),
        max_by(col("lsvi"), struct(col("date"), col("id"))).as("lsvi_2"),
        max_by(col("weight"), struct(col("date"), col("id"))).as("w"),
        countDistinct(col("date")).as("n_cycles"))
      .where(col("n_cycles") > 1)
      .withColumn("trend_local",
        concat(col("lsvi_1"), lit(" - "), col("lsvi_2")))
    // single-chain: the discordant sums come from a window over the
    // transition-count aggregate (habitattype-count-sized) instead of a
    // second aggregation branch over the pairs — the earlier
    // counts ⋈ broadcast(disc) shape planned the pairing subtree twice
    val counts = pairs.groupBy("habitattype", "trend_local")
      .agg(count(lit(1)).as("n"), round(sum(col("w")), 6).as("n_adj"),
        sum(col("w")).as("w_sum"))
    val byHt = org.apache.spark.sql.expressions.Window.partitionBy("habitattype")
    val b = sum(when(col("trend_local") === "gunstig - ongunstig",
      col("w_sum")).otherwise(0.0)).over(byHt)
    val c = sum(when(col("trend_local") === "ongunstig - gunstig",
      col("w_sum")).otherwise(0.0)).over(byHt)
    counts
      .withColumn("mcnemar_chi2",
        when(b + c > 0.0, round(pow(b - c, 2) / (b + c), 6)))
      .drop("w_sum")
  }

  /** `trend_indicatoren` shape: paired two-cycle indicator trend over
    * the points with more than one measured cycle (earliest = c_1,
    * latest = c_2). Long form like the published table: per
    * (habitattype, criterium, indicator, belang) an `aandeel_gunstig`
    * row per periode (plain proportion + Wilson bounds over that
    * cycle's known statuses) and, under c_2, the paired difference —
    * `verschil_aandeel_gunstig_abs` with the classic paired Wald
    * interval from the discordant counts (SE = 100*sqrt(b + c -
    * (b-c)^2/n)/n) and `verschil_aandeel_gunstig_rel` as a point
    * estimate (the reference's interval for the relative change is
    * resampling-based in its analysis repo, outside this snapshot).
    * Published n_obs reproduces exactly (all 40 forest verschil rows
    * and every aandeel row); the published means carry design weights
    * and sit within ~3pp of these equal-weight estimates. Under
    * `weightCol` (the pair's latest-visit weight) the same rows carry
    * Hájek shares with effective-count Wilson bounds and the weighted
    * paired Wald difference; the relative change stays a point
    * estimate. */
  def trendIndicatoren(indicator: DataFrame, plotMeta: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    // single-chain: pairs -> per-(point, indicator) cycle pivot -> one
    // group-level aggregation that yields BOTH per-cycle counts and the
    // paired discordants — the earlier per-cycle aggregation + s1 ⋈ s2
    // self-join planned the pairing subtree three times (no
    // cross-branch reuse), tripling the upstream scans
    val known = indicator.where(col("status_indicator").isNotNull)
    // one row per (point, indicator, cycle) by the engine contract
    // (one indicator row per id), so max(when(...)) is the cycle pivot
    val level1 = known.join(cycleIds(plotMeta, weightCol, withSac = false), Seq("id"))
      .groupBy(col("type_analysis").as("habitattype"), col("point_code"),
        col("criterium"), col("indicator"), col("belang"))
      .agg(
        max(when(col("periode") === "c_1", col("status_indicator"))).as("s1"),
        (max(when(col("periode") === "c_2", col("status_indicator"))).as("s2") +:
          wCol(weightCol).map(c => max(col(c)).as(c))): _*)
    val (s1, s2) = (col("s1"), col("s2"))
    val both = s1.isNotNull && s2.isNotNull
    val grouped = level1.groupBy(("habitattype" +: indicatorKeys).map(col): _*)
    val counts = Seq(count(s1).as("n1"), count(s2).as("n2"),
      count(when(both, 1)).as("np"))
    // single-chain tail (r11): the earlier aandeel ∪ verschil union
    // re-planned the whole pairing subtree per branch (4 scans /
    // 8 shuffles at sf0.1); emitting all four output rows from ONE
    // explode over the level-2 aggregate — final values computed
    // inside the structs with the SAME expressions, rows without
    // observations filtered on n_obs — halves the plan. Denominators
    // are null-guarded (`when(n > 0, n)`): the structs are computed
    // BEFORE the n_obs filter drops empty cells, and under ANSI mode
    // (Spark 4 default) an unguarded zero division THROWS even for
    // doubles; a null denominator propagates null instead, and the
    // guarded value is identical for every surviving row.
    val (has1, has2, hasP) = (col("n1") > 0, col("n2") > 0, col("np") > 0)
    // per tail: the aggregate, each cycle's (favourable, total, squared
    // total) for its share and Wilson bounds, and the paired difference
    // of the within-point change d ∈ {-1, 0, 1} with its Wald SE and
    // relative change
    val (level2, cyc1, cyc2, d, se, rel) = weightCol match {
      case None =>
        val agg = grouped.agg(counts.head, (counts.tail ++ Seq(
          count(when(s1, 1)).as("k1c"), count(when(s2, 1)).as("k2c"),
          count(when(both && s1, 1)).as("k1"),
          count(when(both && s1 && !s2, 1)).as("b"),
          count(when(both && !s1 && s2, 1)).as("c"))): _*)
        val n1s = when(has1, col("n1"))
        val n2s = when(has2, col("n2"))
        val nd = when(hasP, col("np")).cast("double")
        val bd = col("b").cast("double")
        val cd = col("c").cast("double")
        val a1 = lit(100.0) * col("k1").cast("double") / nd
        (agg, (col("k1c").cast("double"), n1s, n1s),
          (col("k2c").cast("double"), n2s, n2s),
          lit(100.0) * (cd - bd) / nd,
          lit(100.0) * sqrt(bd + cd - pow(bd - cd, 2) / nd) / nd,
          when(a1 > 0.0, round(lit(100.0) * (cd - bd) / nd / a1 * 100.0, 6)))
      case Some(_) =>
        // the pair's latest-visit weight; mean_d = (Σw·c − Σw·b)/Σw,
        // SE = sqrt(v_pop(d)/n_eff) — with unit weights exactly the
        // classic 100·sqrt(b+c−(b−c)²/n)/n Wald SE
        val w = col("w")
        def sw(c: Column) = sum(when(c, w).otherwise(0.0))
        def sw2(c: Column) = sum(when(c, w * w).otherwise(0.0))
        val agg = grouped.agg(counts.head, (counts.tail ++ Seq(
          sw(s1.isNotNull).as("sw1"), sw2(s1.isNotNull).as("sw1sq"),
          sw(s1).as("swk1c"),
          sw(s2.isNotNull).as("sw2"), sw2(s2.isNotNull).as("sw2sq"),
          sw(s2).as("swk2c"),
          sw(both).as("swp"), sw2(both).as("swpsq"),
          sw(both && s1).as("swk1"),
          sw(both && s1 && !s2).as("swb"),
          sw(both && !s1 && s2).as("swc"))): _*)
        val swpS = when(hasP, col("swp"))
        val neff = swpS * swpS / when(hasP, col("swpsq"))
        val md = (col("swc") - col("swb")) / swpS
        val vpop = greatest((col("swb") + col("swc")) / swpS - md * md, lit(0.0))
        val p1 = col("swk1") / swpS
        (agg,
          (col("swk1c"), when(has1, col("sw1")), when(has1, col("sw1sq"))),
          (col("swk2c"), when(has2, col("sw2")), when(has2, col("sw2sq"))),
          lit(100.0) * md, lit(100.0) * sqrt(vpop / neff),
          when(p1 > 0.0, round(md / p1 * 100.0, 6)))
    }
    def outRow(periode: String, parameter: String, nObs: Column,
        mean: Column, llci: Column, ulci: Column) =
      struct(lit(periode).as("periode"), lit(parameter).as("parameter"),
        nObs.as("n_obs"), mean.cast("double").as("mean"),
        llci.cast("double").as("llci"), ulci.cast("double").as("ulci"))
    def share(periode: String, nObs: Column, c: (Column, Column, Column)) = {
      val (lo, hi) = wilsonEff(c._1, c._2, c._3)
      outRow(periode, "aandeel_gunstig", nObs,
        round(lit(100.0) * c._1 / c._2, 6), round(lo, 6), round(hi, 6))
    }
    val rows = array(
      share("c_1", col("n1"), cyc1),
      share("c_2", col("n2"), cyc2),
      outRow("c_2", "verschil_aandeel_gunstig_abs", col("np"),
        round(d, 6), round(d - lit(z975) * se, 6),
        round(d + lit(z975) * se, 6)),
      outRow("c_2", "verschil_aandeel_gunstig_rel", col("np"), rel,
        lit(null).cast("double"), lit(null).cast("double")))
    level2.select(col("habitattype"), col("criterium"), col("indicator"),
        col("belang"),
        explode(filter(rows, r => r.getField("n_obs") > 0)).as("e"))
      .select(col("habitattype"), col("e.periode").as("periode"),
        col("criterium"), col("indicator"), col("belang"),
        col("e.n_obs").as("n_obs"), col("e.parameter").as("parameter"),
        col("e.mean").as("mean"), col("e.llci").as("llci"),
        col("e.ulci").as("ulci"))
  }

  // ---- reference-style Student-t reporting variants (driver-side
  // transforms over the aggregated tables; spec-validated against the
  // published forest rows) ----

  private def t975(df: Int): Double =
    new org.apache.commons.math3.distribution.TDistribution(df.toDouble)
      .inverseCumulativeProbability(0.975)

  /** Survey-style logit-transformed 95% interval for a proportion
    * under equal weights: SE = sqrt(p(1-p)/(n-1)), t quantile at
    * df = n-1, transformed back from the logit scale; degenerate at
    * p in {0, 1} like the published tables. Tracks the published
    * design-weighted bounds within ~2pp (median 0.23pp) on the
    * single-subtype stratum rows of `status_indicatoren_fs.tsv`. */
  def logitTCi(k: Long, n: Long): (Double, Double) = {
    require(n > 0 && k >= 0 && k <= n)
    val p = k.toDouble / n
    if (k == 0L || k == n) (100.0 * p, 100.0 * p)
    else {
      val t = t975((n - 1).toInt)
      val se = math.sqrt(p * (1 - p) / (n - 1))
      val l = math.log(p / (1 - p))
      val s = se / (p * (1 - p))
      (100.0 / (1 + math.exp(-(l - t * s))), 100.0 / (1 + math.exp(-(l + t * s))))
    }
  }

  /** Student-t 95% interval for a mean (df = n-1). */
  def meanTCi(n: Long, mean: Double, sd: Double): (Double, Double) = {
    require(n > 1)
    val h = t975((n - 1).toInt) * sd / math.sqrt(n.toDouble)
    (mean - h, mean + h)
  }

  // ---- continuous-variable status/trend (the `status_dikdoodhout` /
  // `trend_dikdoodhout` family: a measured quantity per plot instead
  // of a verdict; `reference/processed/lsvi_mhq/forests/result/
  // status_dikdoodhout.tsv`) ----

  /** Shared body of [[statusContinuous]]/[[trendContinuous]]: given
    * (habitattype, habitatsubtype, v) rows of a 1e-4 fixed-point value
    * (plus the design weight `w` when `weighted`), emit per-subtype
    * rows plus a habitattype roll-up for multi-subtype types, with a
    * 95% interval; bounds are NULL below `minN` plots, like the
    * published NA rows (trend n = 1, 2, 4 are NA; n = 14+ carry
    * bounds).
    *
    * Unweighted: the mean of the integer sums (s1, s2) with the normal
    * z interval — the published tables use design-weighted/t bounds
    * (see [[meanTCi]] for the t variant; the producing inputs are
    * outside the reference snapshot), so the oracle-backed shape
    * carries the z interval; fixed point keeps the engine/oracle hashes
    * equal under any aggregation order (see PLANS.md). Weighted:
    * mean = Σw·v/Σw, population variance from the weighted moments,
    * Kish n_eff = (Σw)²/Σw² in the z interval. Its denominator
    * null-guards (zero Σw, n_eff = 1) are ANSI-safe and identity for
    * positive weights — with w > 0 and n > 1, n_eff > 1 strictly, so
    * the oracle SQL needs no matching guard. Quarter-step weights ×
    * integer fixed-point values keep every weighted double sum exact,
    * so the distributed aggregation is order-independent and the
    * oracle compare hash-stable. */
  private def continuousShape(rows: DataFrame, meanName: String,
      minN: Int, weighted: Boolean): DataFrame = {
    val (v, w) = (col("v"), col("w"))
    val moments =
      if (weighted) Seq("sw" -> w, "sw2" -> w * w, "swv" -> w * v, "swv2" -> w * v * v)
      else Seq("s1" -> v, "s2" -> v * v)
    val perSub = rows.groupBy("habitattype", "habitatsubtype")
      .agg(count(lit(1)).as("n"), moments.map { case (m, e) => sum(e).as(m) }: _*)
    // Single chain: each per-subtype aggregate contributes itself AND a
    // roll-up shard (explode), so the upstream is planned and scanned
    // ONCE — a union of a subtype branch and a groupBy-rollup branch
    // would re-plan the whole scan chain per branch (no cross-branch
    // exchange reuse in local mode; see PLANS.md). Everything after
    // perSub is dictionary-sized.
    val sums = "n" +: moments.map(_._1)
    val shards = perSub.select(
      (Seq("habitattype", "habitatsubtype") ++ sums).map(col) :+
        explode(array(lit("sub"), lit("roll"))).as("role"): _*)
    val agg = shards.groupBy(col("habitattype"), col("role"),
        when(col("role") === "sub", col("habitatsubtype")).otherwise("")
          .as("subkey"))
      .agg(sum(col("n")).as("n"), (sums.tail.map(m => sum(col(m)).as(m)) ++
        Seq(count(lit(1)).as("cnt"),
          concat_ws("; ", sort_array(collect_set(col("habitatsubtype"))))
            .as("subs"))): _*)
    val byType = org.apache.spark.sql.expressions.Window.partitionBy("habitattype")
    val typed = agg
      .withColumn("nsub", max(when(col("role") === "roll", col("cnt"))).over(byType))
      .where(col("role") === "sub" || col("nsub") > 1)
    val (mean, h) =
      if (weighted) {
        val swS = when(col("sw") =!= 0.0, col("sw"))
        val sw2S = when(col("sw2") =!= 0.0, col("sw2"))
        val neff = col("sw") * col("sw") / sw2S
        val m = col("swv") / swS / lit(10000.0)
        val vpop = greatest(col("swv2") / swS / lit(1.0e8) - m * m, lit(0.0))
        (m, lit(z975) * sqrt(vpop / when(neff =!= 1.0, neff - lit(1.0))))
      } else {
        val nd = col("n").cast("double")
        // sample variance of the fixed-point values; the s1*s1 product
        // is evaluated in doubles with the SAME shape as the oracle SQL,
        // so any rounding is bit-identical on both sides
        val va = greatest(
          (col("s2").cast("double") - col("s1").cast("double") * col("s1") / nd) /
            (nd - 1.0), lit(0.0))
        (col("s1").cast("double") / nd / lit(10000.0),
          lit(z975) * (sqrt(va) / lit(10000.0)) / sqrt(nd))
      }
    val ok = col("n") >= minN && col("n") > 1
    typed.select(
      when(col("role") === "roll" || col("nsub") === 1, "Habitattype")
        .otherwise("Habitatsubtype").as("type_resultaat"),
      col("habitattype"), col("subs").as("habitatsubtype"),
      lit("Binnen & Buiten").as("sbzh"), col("n").as("n_obs"),
      round(mean, 6).as(meanName),
      when(ok, round(mean - h, 6)).as(s"${meanName}_llci"),
      when(ok, round(mean + h, 6)).as(s"${meanName}_ulci"))
  }

  /** `status_dikdoodhout` shape: mean of a measured per-plot quantity
    * over the latest visit per (point, habitatsubtype) — a point
    * whose subtype changed between visits counts in each subtype
    * stratum, which is exactly how the published 91E0 roll-up reaches
    * 354 over 306 distinct points. Validated against the published
    * table at n_obs level for all 11 rows (the value column — thick
    *-dead-wood stems/ha from the tree-level inventory — is not in the
    * reference snapshot). Input: id, date, point_code, habitattype,
    * habitatsubtype, value. The published values are design-weighted
    * means: under `weightCol` the weight rides the latest visit
    * (arg-max by (date, id), like the value). */
  def statusContinuous(plots: DataFrame, indicator: String,
      voorwaarde: String, weightCol: Option[String] = None): DataFrame = {
    val key = struct(col("date"), col("id"))
    val latest = plots.where(col("value").isNotNull)
      .withColumn("v4", floor(col("value") * 10000.0 + 0.5).cast("long"))
      .groupBy("point_code", "habitatsubtype")
      .agg(max_by(col("v4"), key).as("v"), (latestWeight(weightCol, key) :+
        max_by(col("habitattype"), key).as("habitattype")): _*)
    continuousShape(latest, "gemiddelde", 2, weightCol.isDefined)
      .withColumn("indicator", lit(indicator))
      .withColumn("voorwaarde", lit(voorwaarde))
  }

  /** `trend_dikdoodhout` shape: paired first-vs-last difference of a
    * measured per-plot quantity per (point, habitatsubtype) — pairs
    * require both visits in the SAME subtype (the published 91E0
    * subtype pairs sum to exactly the habitattype's 70 paired
    * points), and interval columns are NULL below 5 pairs like the
    * published NA rows. n_obs validated on all 11 published rows.
    * Under `weightCol` each difference is weighted by the pair's
    * LATEST-visit weight (the [[trendIndicatoren]] convention). */
  def trendContinuous(plots: DataFrame, indicator: String,
      voorwaarde: String, weightCol: Option[String] = None): DataFrame = {
    val key = struct(col("date"), col("id"))
    val pairs = plots.where(col("value").isNotNull)
      .withColumn("v4", floor(col("value") * 10000.0 + 0.5).cast("long"))
      .groupBy("point_code", "habitatsubtype")
      .agg(min_by(col("v4"), key).as("v1"), (Seq(max_by(col("v4"), key).as("v2")) ++
        latestWeight(weightCol, key) ++ Seq(
          max_by(col("habitattype"), key).as("habitattype"),
          countDistinct(col("date")).as("nc"))): _*)
      .where(col("nc") > 1)
      .withColumn("v", col("v2") - col("v1"))
    continuousShape(pairs, "verschil", 5, weightCol.isDefined)
      .withColumn("indicator", lit(indicator))
      .withColumn("voorwaarde", lit(voorwaarde))
  }

  // ---- area-weighted census status/trend (the fully-mapped habitats
  // 2110 embryonic dunes and 5130 juniper scrub: every polygon is
  // assessed, so shares are area ratios, not sample estimates —
  // `status_habitat_2110.tsv`, `status_indicatoren_5130.tsv`) ----

  /** `status_habitat_2110` / `status_indicatoren_5130` shape: given
    * one row per assessed polygon (habitattype, in_sac, verdict in
    * {gunstig, ongunstig, onbekend}, area_ha, plus optional detail
    * columns such as criterium/indicator/belang), sum the area per
    * verdict for the Habitattype stratum and each SBZH stratum.
    * `aandeel_gunstig_llci` allocates the unknown area pessimistically
    * (g / (g+o+u)), `_ulci` optimistically ((g+u) / (g+o+u)), and
    * `aandeel_gunstig` is their midpoint — the published 5130 rows
    * reproduce this exactly (sexratio 99.28/100 -> 99.64, verjonging
    * 54.92/61.92 -> 58.42); with no unknown area all three collapse
    * to g/(g+o) (every 2110 row). `beoordeling` classifies the
    * interval against 75%: Goed when even the pessimistic share
    * clears it, Niet goed when even the optimistic share misses it,
    * and Onbekend when the unknown area straddles the threshold (the
    * published 5130 verruiging-Binnen row: 69.71-87.37 -> Onbekend).
    * One aggregation after the stratum explode; census inputs are
    * polygon dictionaries, trivially partition-parallel at scale. */
  /** Stratum explode + per-verdict area sums shared by
    * [[statusAreaCensus]] and [[trendAreaCensus]]; `withYear` also
    * carries min(date) per stratum so the trend's campaign year rides
    * the SAME scan instead of a second pass over the polygons. */
  private def censusAgg(polys: DataFrame, detail: Seq[String],
      withYear: Boolean): DataFrame = {
    val extra = if (withYear) Seq(col("date")) else Nil
    val strata = polys.select(
      (explode(array(
        struct(lit("Habitattype").as("type_resultaat"),
          lit("Binnen & Buiten").as("sbzh")),
        struct(lit("SBZH").as("type_resultaat"),
          when(col("in_sac") === 1, "Binnen").otherwise("Buiten")
            .as("sbzh")))).as("s") +:
        col("habitattype") +: col("verdict") +: col("area_ha") +:
        (detail.map(col) ++ extra)): _*)
      .select((col("s.type_resultaat").as("type_resultaat") +:
        col("s.sbzh").as("sbzh") +:
        col("habitattype") +: col("verdict") +: col("area_ha") +:
        (detail.map(col) ++ extra)): _*)
    val keys = Seq("type_resultaat", "habitattype", "sbzh") ++ detail
    val aggs = Seq(
      sum(when(col("verdict") === "gunstig", col("area_ha"))
        .otherwise(0.0)).as("opp_gunstig_ha"),
      sum(when(col("verdict") === "ongunstig", col("area_ha"))
        .otherwise(0.0)).as("opp_ongunstig_ha"),
      sum(when(col("verdict") === "onbekend", col("area_ha"))
        .otherwise(0.0)).as("opp_onbekend_ha")) ++
      (if (withYear) Seq(min(col("date")).as("y_strat")) else Nil)
    strata.groupBy(keys.head, keys.tail: _*).agg(aggs.head, aggs.tail: _*)
  }

  def statusAreaCensus(polys: DataFrame,
      detail: Seq[String] = Nil): DataFrame = {
    val keys = Seq("type_resultaat", "habitattype", "sbzh") ++ detail
    val agg = censusAgg(polys, detail, withYear = false)
    val tot = col("opp_gunstig_ha") + col("opp_ongunstig_ha") +
      col("opp_onbekend_ha")
    val lo = lit(100.0) * col("opp_gunstig_ha") / tot
    val hi = lit(100.0) * (col("opp_gunstig_ha") + col("opp_onbekend_ha")) / tot
    val mid = (lo + hi) / 2.0
    agg.select(keys.map(col) :+
      round(col("opp_gunstig_ha"), 6).as("opp_gunstig_ha") :+
      round(col("opp_ongunstig_ha"), 6).as("opp_ongunstig_ha") :+
      round(col("opp_onbekend_ha"), 6).as("opp_onbekend_ha") :+
      round(mid, 6).as("aandeel_gunstig") :+
      round(lo, 6).as("aandeel_gunstig_llci") :+
      round(hi, 6).as("aandeel_gunstig_ulci") :+
      when(lo >= 75.0, "Goed").when(hi < 75.0, "Niet goed")
        .otherwise("Onbekend").as("beoordeling"): _*)
  }

  /** `trend_habitat_2110` / `trend_indicatoren_2110` shape: the
    * change in the census share between two full mappings. Both
    * cycles aggregate like [[statusAreaCensus]]; the published rows
    * carry the absolute difference of `aandeel_gunstig`, the year
    * span and revisit interval, and the klasse as the 1-based factor
    * index of the shared [[effectKlasse]] labels — a census has no
    * sampling interval, so the point estimate classifies alone
    * (0.74 -> "+~" -> 3, -1.11 -> "-~" -> 5, -20.55 -> "--" -> 7 in
    * the published rows). Rows missing either cycle publish NA
    * mean/klasse but keep the year columns, like the
    * structuurvormende-sleutelsoorten row. */
  def trendAreaCensus(c1: DataFrame, c2: DataFrame,
      detail: Seq[String] = Nil): DataFrame = {
    val keys = Seq("type_resultaat", "habitattype", "sbzh") ++ detail
    def cyc(df: DataFrame, tag: String): DataFrame = {
      // campaign year: a census mapping is one fieldwork campaign —
      // the global min rides the SAME aggregation as the areas (one
      // scan per cycle) and collapses via a window over the
      // dictionary-sized stratum aggregate
      val agg = censusAgg(df, detail, withYear = true)
      val tot = col("opp_gunstig_ha") + col("opp_ongunstig_ha") +
        col("opp_onbekend_ha")
      val lo = lit(100.0) * col("opp_gunstig_ha") / tot
      val hi = lit(100.0) *
        (col("opp_gunstig_ha") + col("opp_onbekend_ha")) / tot
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      agg.select(keys.map(col) :+
        round((lo + hi) / 2.0, 6).as(s"a_$tag") :+
        min(col("y_strat")).over(w).cast("int").as(s"jaar_$tag"): _*)
    }
    val j = cyc(c1, "1").join(cyc(c2, "2"), keys, "full")
    val d = round(col("a_2") - col("a_1"), 2)
    val known = col("a_1").isNotNull && col("a_2").isNotNull
    val idx = typedLit(Map("++" -> "1", "+" -> "2", "+~" -> "3",
      "~" -> "4", "-~" -> "5", "-" -> "6", "--" -> "7",
      "?+" -> "8", "?-" -> "9", "?" -> "10"))
    j.select(keys.map(col) :+
      lit("verschil_aandeel_gunstig_abs").as("parameter") :+
      when(known, d).as("mean") :+
      when(known,
        element_at(idx, effectKlasse(d, d, d, 12.0, 12.0))).as("klasse") :+
      least(col("jaar_1"), col("jaar_2")).as("jaar_min") :+
      greatest(col("jaar_1"), col("jaar_2")).as("jaar_max") :+
      (greatest(col("jaar_1"), col("jaar_2")) -
        least(col("jaar_1"), col("jaar_2"))).as("verschil_jaar"): _*)
  }

  /** McNemar p-value for the df=1 chi-square statistic:
    * P(X > chi2) = erfc(sqrt(chi2 / 2)). */
  def mcNemarP(chi2: Double): Double =
    org.apache.commons.math3.special.Erf.erfc(math.sqrt(chi2 / 2.0))
}
