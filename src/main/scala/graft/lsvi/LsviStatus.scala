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
  * The oracle-backed queries (q113-q115) use the CLOSED-FORM z-based
  * intervals below (Wilson score; normal mean interval) so every
  * column replays exactly in DuckDB; the reference-style Student-t
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

  /** Wilson score interval on [0, 100], z-based, with the reference's
    * degenerate rendering at p in {0, 1} (the published tables show
    * (100, 100) / (0, 0) there). Closed form — replays in DuckDB. */
  private def wilson(k: Column, n: Column): (Column, Column) = {
    val p = k.cast("double") / n.cast("double")
    val z2 = lit(z975 * z975)
    val den = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / den
    val half = (lit(z975) / den) *
      sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    val lo = when(k === 0 || k === n, lit(100.0) * p)
      .otherwise(lit(100.0) * greatest(lit(0.0), center - half))
    val hi = when(k === 0 || k === n, lit(100.0) * p)
      .otherwise(lit(100.0) * least(lit(1.0), center + half))
    (lo, hi)
  }

  /** Goed / Niet goed / Onbekend against the 75% favourability
    * threshold on the interval. */
  private def beoordeling(lo: Column, hi: Column): Column =
    when(lo >= 75.0, "Goed")
      .when(hi < 75.0, "Niet goed")
      .otherwise("Onbekend")

  /** `status_indicatoren` shape: per (habitattype, sbzh, criterium,
    * indicator, belang) over the latest-per-point plots — n_obs,
    * aandeel_gunstig (plain proportion), Wilson 95% bounds, verdict.
    * `sbzh` takes Binnen / Buiten from the plot's `in_sac` plus the
    * pooled "Binnen & Buiten" row. One shuffle on the group key after
    * the broadcast-sized latest-per-point join. */
  def statusIndicatoren(indicator: DataFrame, plotMeta: DataFrame): DataFrame = {
    val latest = latestPerPoint(plotMeta)
      .select(col("id"), when(col("in_sac") === 1, "Binnen").otherwise("Buiten")
        .as("stratum"))
    val rows = indicator
      .join(latest, Seq("id"))
      .where(col("status_indicator").isNotNull)
      .select(col("type_analysis").as("habitattype"), col("criterium"),
        col("indicator"), col("belang"), col("status_indicator"),
        explode(array(col("stratum"), lit("Binnen & Buiten"))).as("sbzh"))
    val agg = rows.groupBy("habitattype", "sbzh", "criterium", "indicator", "belang")
      .agg(count(lit(1)).as("n_obs"),
        count(when(col("status_indicator"), 1)).as("n_gunstig"))
    val (lo, hi) = wilson(col("n_gunstig"), col("n_obs"))
    agg
      .withColumn("aandeel_gunstig",
        round(lit(100.0) * col("n_gunstig").cast("double") / col("n_obs"), 6))
      .withColumn("aandeel_gunstig_llci", round(lo, 6))
      .withColumn("aandeel_gunstig_ulci", round(hi, 6))
      .withColumn("beoordeling",
        beoordeling(col("aandeel_gunstig_llci"), col("aandeel_gunstig_ulci")))
      .drop("n_gunstig")
  }

  /** `status_habitat` shape: favourability of the plot-level lsvi
    * verdict per (habitattype, sbzh) over the latest-per-point plots —
    * the same Wilson + verdict machinery as [[statusIndicatoren]], one
    * aggregation. Validated: every published single-subtype stratum
    * row of `status_habitat_fs.tsv` is this exact plain proportion. */
  def statusHabitat(plotLsvi: DataFrame): DataFrame = {
    val rows = latestPerPoint(plotLsvi)
      .where(col("lsvi").isNotNull)
      .select(col("habitattype"), (col("lsvi") === "gunstig").as("g"),
        explode(array(
          when(col("in_sac") === 1, "Binnen").otherwise("Buiten"),
          lit("Binnen & Buiten"))).as("sbzh"))
    val agg = rows.groupBy("habitattype", "sbzh")
      .agg(count(lit(1)).as("n_obs"), count(when(col("g"), 1)).as("n_gunstig"))
    val (lo, hi) = wilson(col("n_gunstig"), col("n_obs"))
    agg
      .withColumn("aandeel_gunstig",
        round(lit(100.0) * col("n_gunstig").cast("double") / col("n_obs"), 6))
      .withColumn("aandeel_gunstig_llci", round(lo, 6))
      .withColumn("aandeel_gunstig_ulci", round(hi, 6))
      .withColumn("beoordeling",
        beoordeling(col("aandeel_gunstig_llci"), col("aandeel_gunstig_ulci")))
      .drop("n_gunstig")
  }

  /** `index_ind` shape: mean (clamped) indicator verschilscore + 95%
    * normal interval per (type_resultaat, habitattype, sbzh,
    * criterium, indicator, belang) over the latest-per-point plots —
    * the [[indexHq]] fixed-point machinery at indicator grain.
    * Validated: published single-subtype stratum means are exact
    * (display-rounding only) on `index_ind_fs.tsv`. */
  def indexInd(indicator: DataFrame, plotMeta: DataFrame): DataFrame = {
    val latest = latestPerPoint(plotMeta)
      .select(col("id"), when(col("in_sac") === 1, "Binnen").otherwise("Buiten")
        .as("stratum"))
    val rows = indicator
      .join(latest, Seq("id"))
      .where(col("verschilscore").isNotNull)
      .withColumn("x6", floor(col("verschilscore") * 1e6 + 0.5).cast("long"))
      .select(col("type_analysis").as("habitattype"), col("criterium"),
        col("indicator"), col("belang"), col("x6"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"), col("stratum").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("g"))
      .select(col("habitattype"), col("g.type_resultaat"), col("g.sbzh"),
        col("criterium"), col("indicator"), col("belang"), col("x6"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh",
        "criterium", "indicator", "belang")
      .agg(count(lit(1)).as("n_obs"), sum(col("x6")).as("s6"),
        sum(col("x6") * col("x6")).as("ss6"))
    val mean = col("s6").cast("double") / col("n_obs") / 1e6
    val sd = sqrt((col("n_obs") * col("ss6") - col("s6") * col("s6"))
        .cast("double") / (col("n_obs") * (col("n_obs") - lit(1L)))) / 1e6
    val half = lit(z975) * sd / sqrt(col("n_obs").cast("double"))
    agg
      .withColumn("index_ind_mean", round(mean, 6))
      .withColumn("index_ind_llci",
        when(col("n_obs") > 1, round(mean - half, 6)))
      .withColumn("index_ind_ulci",
        when(col("n_obs") > 1, round(mean + half, 6)))
      .drop("s6", "ss6")
  }

  /** `index_hq` shape: mean habitat-quality index (the globaal
    * `index_mean_ind`) + 95% normal interval per (type_resultaat,
    * habitattype, sbzh) over the latest-per-point plots; `Habitattype`
    * rows pool both strata, `SBZH` rows split them — exactly the
    * published grouping. The index enters as 1e-6 fixed point so the
    * distributed sums are order-independent (bit-identical to the
    * DuckDB oracle); variance uses the exact integer identity
    * (n*sum(x^2) - sum(x)^2) / (n*(n-1)). Single-plot groups publish
    * NA bounds, as the reference does (9110 Buiten). */
  def indexHq(plotIndex: DataFrame): DataFrame = {
    val x6 = floor(col("index_mean_ind") * 1e6 + 0.5).cast("long")
    val rows = latestPerPoint(plotIndex)
      .where(col("index_mean_ind").isNotNull)
      .withColumn("x6", x6)
      .select(col("habitattype"), col("x6"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"),
            when(col("in_sac") === 1, "Binnen").otherwise("Buiten").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("g"))
      .select(col("habitattype"), col("g.type_resultaat"), col("g.sbzh"), col("x6"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh")
      .agg(count(lit(1)).as("n_obs"), sum(col("x6")).as("s6"),
        sum(col("x6") * col("x6")).as("ss6"))
    val mean = col("s6").cast("double") / col("n_obs") / 1e6
    val sd = sqrt((col("n_obs") * col("ss6") - col("s6") * col("s6"))
        .cast("double") / (col("n_obs") * (col("n_obs") - lit(1L)))) / 1e6
    val half = lit(z975) * sd / sqrt(col("n_obs").cast("double"))
    agg
      .withColumn("index_hq_mean", round(mean, 6))
      .withColumn("index_hq_llci",
        when(col("n_obs") > 1, round(mean - half, 6)))
      .withColumn("index_hq_ulci",
        when(col("n_obs") > 1, round(mean + half, 6)))
      .drop("s6", "ss6")
  }

  /** `trend_index_hq` shape: paired two-cycle change of the plot-level
    * habitat-quality index per (type_resultaat, habitattype, sbzh) —
    * mean within-point difference (latest minus earliest), 95% normal
    * interval, and the relative change (mean difference over the
    * first-cycle mean, = sum(d)/sum(x1) under equal weights). All in
    * 1e-6 fixed point: the within-point difference of two fixed-point
    * values is an exact integer, so the distributed sums replay
    * bit-identically in the oracle. Validated: the published SBZH
    * stratum rows of `trend_index_hq_fs.tsv` reproduce EXACTLY (mean
    * and both bounds — the reference's interval is this z interval);
    * pooled rows carry design weights (within 0.005). */
  def trendIndexHq(plotIndex: DataFrame): DataFrame = {
    val p = plotIndex.where(col("index_mean_ind").isNotNull)
      .withColumn("x6", floor(col("index_mean_ind") * 1e6 + 0.5).cast("long"))
    val pairs = p.groupBy("habitattype", "point_code").agg(
        min_by(col("x6"), struct(col("date"), col("id"))).as("x16"),
        max_by(col("x6"), struct(col("date"), col("id"))).as("x26"),
        max_by(col("in_sac"), struct(col("date"), col("id"))).as("in_sac"),
        countDistinct(col("date")).as("nc"))
      .where(col("nc") > 1)
      .withColumn("d6", col("x26") - col("x16"))
    val rows = pairs.select(col("habitattype"), col("d6"), col("x16"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"),
            when(col("in_sac") === 1, "Binnen").otherwise("Buiten").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("g"))
      .select(col("habitattype"), col("g.type_resultaat"), col("g.sbzh"),
        col("d6"), col("x16"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh")
      .agg(count(lit(1)).as("n_obs"), sum(col("d6")).as("sd6"),
        sum(col("d6") * col("d6")).as("ssd6"), sum(col("x16")).as("s16"))
    val mean = col("sd6").cast("double") / col("n_obs") / 1e6
    val sd = sqrt((col("n_obs") * col("ssd6") - col("sd6") * col("sd6"))
        .cast("double") / (col("n_obs") * (col("n_obs") - lit(1L)))) / 1e6
    val half = lit(z975) * sd / sqrt(col("n_obs").cast("double"))
    agg
      .withColumn("index_diff_mean", round(mean, 6))
      .withColumn("index_diff_llci",
        when(col("n_obs") > 1, round(mean - half, 6)))
      .withColumn("index_diff_ulci",
        when(col("n_obs") > 1, round(mean + half, 6)))
      .withColumn("index_diff_rel",
        when(col("s16") =!= 0L,
          round(col("sd6").cast("double") / col("s16").cast("double"), 6)))
      .drop("sd6", "ssd6", "s16")
  }

  /** `trend_index_ind` shape: the [[trendIndexHq]] paired-difference
    * machinery at indicator grain (clamped indicator verschilscores,
    * both cycles known). Published SBZH stratum rows reproduce exactly
    * (1.4e-5, display rounding). */
  def trendIndexInd(indicator: DataFrame, plotMeta: DataFrame): DataFrame = {
    // single-chain like [[trendIndicatoren]]: cycle pivot by conditional
    // aggregation instead of an s1 ⋈ s2 self-join (which planned the
    // pairing subtree twice)
    val pr = plotMeta.groupBy("habitattype", "point_code").agg(
        min_by(col("id"), struct(col("date"), col("id"))).as("id_1"),
        max_by(col("id"), struct(col("date"), col("id"))).as("id_2"),
        max_by(col("in_sac"), struct(col("date"), col("id"))).as("in_sac"),
        countDistinct(col("date")).as("nc"))
      .where(col("nc") > 1)
    val cyc = pr.select(col("point_code"), col("in_sac"), explode(array(
        struct(col("id_1").as("id"), lit("c_1").as("periode")),
        struct(col("id_2").as("id"), lit("c_2").as("periode")))).as("e"))
      .select(col("point_code"), col("in_sac"), col("e.id"), col("e.periode"))
    val k = indicator.where(col("verschilscore").isNotNull)
      .withColumn("x6", floor(col("verschilscore") * 1e6 + 0.5).cast("long"))
    val rows = k.join(cyc, Seq("id"))
      .groupBy(col("type_analysis").as("habitattype"), col("point_code"),
        col("in_sac"), col("criterium"), col("indicator"), col("belang"))
      .agg(
        max(when(col("periode") === "c_1", col("x6"))).as("x16"),
        max(when(col("periode") === "c_2", col("x6"))).as("x26"))
      .where(col("x16").isNotNull && col("x26").isNotNull)
      .withColumn("d6", col("x26") - col("x16"))
      .select(col("habitattype"), col("criterium"), col("indicator"),
        col("belang"), col("d6"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"),
            when(col("in_sac") === 1, "Binnen").otherwise("Buiten").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("g"))
      .select(col("habitattype"), col("g.type_resultaat"), col("g.sbzh"),
        col("criterium"), col("indicator"), col("belang"), col("d6"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh",
        "criterium", "indicator", "belang")
      .agg(count(lit(1)).as("n_obs"), sum(col("d6")).as("sd6"),
        sum(col("d6") * col("d6")).as("ssd6"))
    val mean = col("sd6").cast("double") / col("n_obs") / 1e6
    val sd = sqrt((col("n_obs") * col("ssd6") - col("sd6") * col("sd6"))
        .cast("double") / (col("n_obs") * (col("n_obs") - lit(1L)))) / 1e6
    val half = lit(z975) * sd / sqrt(col("n_obs").cast("double"))
    agg
      .withColumn("index_diff_mean", round(mean, 6))
      .withColumn("index_diff_llci",
        when(col("n_obs") > 1, round(mean - half, 6)))
      .withColumn("index_diff_ulci",
        when(col("n_obs") > 1, round(mean + half, 6)))
      .drop("sd6", "ssd6")
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
    * `trend_habitat_gr_bm` drops exactly those points. */
  def trendHabitat(plotLsvi: DataFrame): DataFrame = {
    val hasCycle = plotLsvi.columns.contains("cycle")
    val in0 = plotLsvi.where(col("lsvi").isNotNull)
    val in1 = if (hasCycle) in0.where(col("cycle").isin(0, 1)) else in0
    val pairs = in1
      .groupBy("habitattype", "point_code")
      .agg(
        min_by(struct((col("lsvi") === "gunstig").as("g"),
          col("date").as("j")), struct(col("date"), col("id"))).as("r1"),
        max_by(struct((col("lsvi") === "gunstig").as("g"),
          col("date").as("j")), struct(col("date"), col("id"))).as("r2"),
        max_by(col("in_sac"), struct(col("date"), col("id"))).as("in_sac"),
        (if (hasCycle) countDistinct(col("cycle"))
         else countDistinct(col("date"))).as("nc"))
      .where(if (hasCycle) col("nc") === 2 else col("nc") > 1)
    val rows = pairs.select(col("habitattype"),
        col("r1.g").as("g1"), col("r2.g").as("g2"),
        col("r1.j").as("j1"), col("r2.j").as("j2"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"),
            when(col("in_sac") === 1, "Binnen").otherwise("Buiten").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("s"))
      .select(col("habitattype"), col("s.type_resultaat"), col("s.sbzh"),
        col("g1"), col("g2"), col("j1"), col("j2"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh")
      .agg(count(lit(1)).as("n_obs"),
        count(when(col("g1"), 1)).as("k1"),
        count(when(col("g2"), 1)).as("k2"),
        count(when(col("g1") && !col("g2"), 1)).as("b"),
        count(when(!col("g1") && col("g2"), 1)).as("c"),
        min(col("j1")).as("jmin1"), max(col("j1")).as("jmax1"),
        min(col("j2")).as("jmin2"), max(col("j2")).as("jmax2"),
        sum(col("j2") - col("j1")).as("sdj"))
    val nd = col("n_obs").cast("double")
    val k1d = col("k1").cast("double")
    val k2d = col("k2").cast("double")
    val bd = col("b").cast("double")
    val cd = col("c").cast("double")
    val (lo1, hi1) = wilson(col("k1"), col("n_obs"))
    val (lo2, hi2) = wilson(col("k2"), col("n_obs"))
    val dAbs = lit(100.0) * (k2d - k1d) / nd
    val seAbs = lit(100.0) * sqrt(bd + cd - pow(bd - cd, 2) / nd) / nd
    val absLo = round(dAbs - lit(z975) * seAbs, 6)
    val absHi = round(dAbs + lit(z975) * seAbs, 6)
    // paired log-ratio delta interval for the relative change:
    // Var(ln(p2/p1)) = (b + c) / (k1 * k2) for matched pairs
    val relMean = when(col("k1") > 0,
      round(lit(100.0) * (k2d - k1d) / k1d, 6))
    val seLn = sqrt((bd + cd) / (k1d * k2d))
    val relDef = col("k1") > 0 && col("k2") > 0
    val relLo = when(relDef,
      round(lit(100.0) * (exp(log(k2d / k1d) - lit(z975) * seLn) - lit(1.0)), 6))
    val relHi = when(relDef,
      round(lit(100.0) * (exp(log(k2d / k1d) + lit(z975) * seLn) - lit(1.0)), 6))
    val relKlasse = when(col("k1") > 0,
        effectKlasse(relMean, relLo, relHi, 25.0, 25.0))
      .otherwise(when(absLo > 0.0, "++").otherwise("?"))
    // half-even like R's round(): the published tables carry 4.25 ->
    // 4.2 (coastal dunes 2120-Binnen) and 6.25 -> 6.2 (grassland
    // 6510-Buiten), which HALF_UP would print as 4.3 / 6.3
    val vj = bround(col("sdj").cast("double") / nd, 1)
    val out = agg.select(col("type_resultaat"), col("habitattype"),
      col("sbzh"), col("n_obs"),
      explode(array(
        struct(lit("c_1").as("periode"), lit("aandeel_gunstig").as("parameter"),
          round(lit(100.0) * k1d / nd, 6).as("mean"),
          round(lo1, 6).as("llci"), round(hi1, 6).as("ulci"),
          lit(null).cast("string").as("klasse"),
          lit(null).cast("string").as("periode_ref"),
          col("jmin1").as("jaar_min"), col("jmax1").as("jaar_max"),
          lit(null).cast("double").as("verschil_jaar")),
        struct(lit("c_2").as("periode"), lit("aandeel_gunstig").as("parameter"),
          round(lit(100.0) * k2d / nd, 6).as("mean"),
          round(lo2, 6).as("llci"), round(hi2, 6).as("ulci"),
          lit(null).cast("string").as("klasse"),
          lit(null).cast("string").as("periode_ref"),
          col("jmin2").as("jaar_min"), col("jmax2").as("jaar_max"),
          lit(null).cast("double").as("verschil_jaar")),
        struct(lit("c_2").as("periode"),
          lit("verschil_aandeel_gunstig_abs").as("parameter"),
          round(dAbs, 6).as("mean"), absLo.as("llci"), absHi.as("ulci"),
          effectKlasse(round(dAbs, 6), absLo, absHi, 12.0, 12.0).as("klasse"),
          lit("c_1").as("periode_ref"),
          least(col("jmin1"), col("jmin2")).as("jaar_min"),
          greatest(col("jmax1"), col("jmax2")).as("jaar_max"),
          vj.as("verschil_jaar")),
        struct(lit("c_2").as("periode"),
          lit("verschil_aandeel_gunstig_rel").as("parameter"),
          relMean.as("mean"), relLo.as("llci"), relHi.as("ulci"),
          relKlasse.as("klasse"), lit("c_1").as("periode_ref"),
          least(col("jmin1"), col("jmin2")).as("jaar_min"),
          greatest(col("jmax1"), col("jmax2")).as("jaar_max"),
          vj.as("verschil_jaar")))).as("r"))
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
    val (lo, hi) = wilson(col("k"), col("n_obs"))
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
    * and sit within ~3pp of these equal-weight estimates. */
  def trendIndicatoren(indicator: DataFrame, plotMeta: DataFrame): DataFrame = {
    // single-chain: pairs -> per-(point, indicator) cycle pivot -> one
    // group-level aggregation that yields BOTH per-cycle counts and the
    // paired discordants — the earlier per-cycle aggregation + s1 ⋈ s2
    // self-join planned the pairing subtree three times (no
    // cross-branch reuse), tripling the upstream scans
    val pairs = plotMeta
      .groupBy("habitattype", "point_code")
      .agg(
        min_by(col("id"), struct(col("date"), col("id"))).as("id_1"),
        max_by(col("id"), struct(col("date"), col("id"))).as("id_2"),
        countDistinct(col("date")).as("nc"))
      .where(col("nc") > 1)
    val cyc = pairs.select(col("point_code"), explode(array(
        struct(col("id_1").as("id"), lit("c_1").as("periode")),
        struct(col("id_2").as("id"), lit("c_2").as("periode")))).as("e"))
      .select(col("point_code"), col("e.id"), col("e.periode"))
    val known = indicator.where(col("status_indicator").isNotNull)
    // one row per (point, indicator, cycle) by the engine contract
    // (one indicator row per id), so max(when(...)) is the cycle pivot
    val level1 = known.join(cyc, Seq("id"))
      .groupBy(col("type_analysis").as("habitattype"), col("point_code"),
        col("criterium"), col("indicator"), col("belang"))
      .agg(
        max(when(col("periode") === "c_1", col("status_indicator"))).as("s1"),
        max(when(col("periode") === "c_2", col("status_indicator"))).as("s2"))
    val both = col("s1").isNotNull && col("s2").isNotNull
    val level2 = level1.groupBy("habitattype", "criterium", "indicator", "belang")
      .agg(
        count(col("s1")).as("n1"), count(when(col("s1"), 1)).as("k1c"),
        count(col("s2")).as("n2"), count(when(col("s2"), 1)).as("k2c"),
        count(when(both, 1)).as("np"),
        count(when(both && col("s1"), 1)).as("k1"),
        count(when(both && col("s1") && !col("s2"), 1)).as("b"),
        count(when(both && !col("s1") && col("s2"), 1)).as("c"))
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
    val n1s = when(col("n1") > 0, col("n1"))
    val n2s = when(col("n2") > 0, col("n2"))
    val (alo1, ahi1) = wilson(col("k1c"), n1s)
    val (alo2, ahi2) = wilson(col("k2c"), n2s)
    val nd = when(col("np") > 0, col("np")).cast("double")
    val bd = col("b").cast("double")
    val cd = col("c").cast("double")
    val d = lit(100.0) * (cd - bd) / nd
    val se = lit(100.0) * sqrt(bd + cd - pow(bd - cd, 2) / nd) / nd
    val a1 = lit(100.0) * col("k1").cast("double") / nd
    def outRow(periode: String, parameter: String, nObs: Column,
        mean: Column, llci: Column, ulci: Column) =
      struct(lit(periode).as("periode"), lit(parameter).as("parameter"),
        nObs.as("n_obs"), mean.cast("double").as("mean"),
        llci.cast("double").as("llci"), ulci.cast("double").as("ulci"))
    val rows = array(
      outRow("c_1", "aandeel_gunstig", col("n1"),
        round(lit(100.0) * col("k1c").cast("double") / n1s, 6),
        round(alo1, 6), round(ahi1, 6)),
      outRow("c_2", "aandeel_gunstig", col("n2"),
        round(lit(100.0) * col("k2c").cast("double") / n2s, 6),
        round(alo2, 6), round(ahi2, 6)),
      outRow("c_2", "verschil_aandeel_gunstig_abs", col("np"),
        round(d, 6), round(d - lit(z975) * se, 6),
        round(d + lit(z975) * se, 6)),
      outRow("c_2", "verschil_aandeel_gunstig_rel", col("np"),
        when(a1 > 0.0, round(lit(100.0) * (cd - bd) / nd / a1 * 100.0, 6)),
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

  /** Shared tail for [[statusContinuous]]/[[trendContinuous]]: given
    * per-(subtype) aggregates of a 1e-4 fixed-point value (n, s1,
    * s2 = integer sum and sum-of-squares), emit per-subtype rows plus
    * a habitattype roll-up for multi-subtype types, with a normal 95%
    * interval. The published tables use design-weighted/t bounds (see
    * [[meanTCi]] for the t variant; the producing inputs are outside
    * the reference snapshot), so the oracle-backed shape carries the
    * z interval; bounds are NULL below `minN` plots, like the
    * published NA rows (trend n = 1, 2, 4 are NA; n = 14+ carry
    * bounds). Fixed point keeps the engine/oracle hashes equal under
    * any aggregation order (see PLANS.md). */
  private def continuousShape(perSub: DataFrame, meanName: String,
      minN: Int): DataFrame = {
    // perSub: habitattype, habitatsubtype, n, s1, s2. Single chain:
    // each per-subtype aggregate contributes itself AND a roll-up
    // shard (explode), so the upstream is planned and scanned ONCE —
    // a union of a subtype branch and a groupBy-rollup branch would
    // re-plan the whole scan chain per branch (no cross-branch
    // exchange reuse in local mode; see PLANS.md). Everything after
    // perSub is dictionary-sized.
    val rows = perSub.select(col("habitattype"), col("habitatsubtype"),
      col("n"), col("s1"), col("s2"),
      explode(array(lit("sub"), lit("roll"))).as("role"))
    val agg = rows.groupBy(col("habitattype"), col("role"),
        when(col("role") === "sub", col("habitatsubtype")).otherwise("")
          .as("subkey"))
      .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
        sum(col("s2")).as("s2"), count(lit(1)).as("cnt"),
        concat_ws("; ", sort_array(collect_set(col("habitatsubtype"))))
          .as("subs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("habitattype")
    val typed = agg
      .withColumn("nsub", max(when(col("role") === "roll", col("cnt"))).over(w))
      .where(col("role") === "sub" || col("nsub") > 1)
    val all = typed.select(
      when(col("role") === "roll" || col("nsub") === 1, "Habitattype")
        .otherwise("Habitatsubtype").as("type_resultaat"),
      col("habitattype"), col("subs").as("habitatsubtype"),
      col("n"), col("s1"), col("s2"))
    val nd = col("n").cast("double")
    val mean = col("s1").cast("double") / nd / lit(10000.0)
    // sample variance of the fixed-point values; the s1*s1 product is
    // evaluated in doubles with the SAME shape as the oracle SQL, so
    // any rounding is bit-identical on both sides
    val va = greatest(
      (col("s2").cast("double") - col("s1").cast("double") * col("s1") / nd) /
        (nd - 1.0), lit(0.0))
    val sd = sqrt(va) / lit(10000.0)
    val h = lit(z975) * sd / sqrt(nd)
    val ok = col("n") >= minN && col("n") > 1
    all.select(col("type_resultaat"), col("habitattype"),
      col("habitatsubtype"), lit("Binnen & Buiten").as("sbzh"),
      col("n").as("n_obs"),
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
    * habitatsubtype, value. */
  def statusContinuous(plots: DataFrame, indicator: String,
      voorwaarde: String): DataFrame = {
    val v4 = floor(col("value") * 10000.0 + 0.5).cast("long")
    val latest = plots.where(col("value").isNotNull)
      .withColumn("v4", v4)
      .groupBy("point_code", "habitatsubtype")
      .agg(max_by(col("v4"), struct(col("date"), col("id"))).as("v"),
        max_by(col("habitattype"), struct(col("date"), col("id")))
          .as("habitattype"))
    val perSub = latest.groupBy("habitattype", "habitatsubtype")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
    continuousShape(perSub, "gemiddelde", 2)
      .withColumn("indicator", lit(indicator))
      .withColumn("voorwaarde", lit(voorwaarde))
  }

  /** Design-weighted [[statusContinuous]]: the published dikdoodhout
    * values are design-weighted means (the unweighted overload is the
    * equal-weight z shape). The weighted sums (Σw, Σw², Σw·v, Σw·v²)
    * ride the SAME latest-visit + per-subtype aggregation and the
    * habitattype roll-up sums the weighted partials, so the plan shape
    * is unchanged — one scan, exploded roll-up shard, dictionary tail.
    * The weight rides the latest visit (arg-max by (date, id), like
    * the value). Interval: Kish n_eff z bounds — at unit weights
    * n_eff = n and the algebra reduces EXACTLY to the unweighted
    * z·sd/√n (pinned by `CensusShapesSpec`). */
  def statusContinuous(plots: DataFrame, indicator: String,
      voorwaarde: String, weightCol: String): DataFrame = {
    val v4 = floor(col("value") * 10000.0 + 0.5).cast("long")
    val latest = plots.where(col("value").isNotNull)
      .withColumn("v4", v4)
      .groupBy("point_code", "habitatsubtype")
      .agg(max_by(col("v4"), struct(col("date"), col("id"))).as("v"),
        max_by(col(weightCol).cast("double"), struct(col("date"), col("id")))
          .as("w"),
        max_by(col("habitattype"), struct(col("date"), col("id")))
          .as("habitattype"))
    continuousShapeWeighted(weightedPerSub(latest, col("v")), "gemiddelde", 2)
      .withColumn("indicator", lit(indicator))
      .withColumn("voorwaarde", lit(voorwaarde))
  }

  /** Design-weighted [[trendContinuous]]: paired differences weighted
    * by the pair's LATEST-visit weight (the trendIndicatoren
    * convention), same single-chain shape as the unweighted overload. */
  def trendContinuous(plots: DataFrame, indicator: String,
      voorwaarde: String, weightCol: String): DataFrame = {
    val v4 = floor(col("value") * 10000.0 + 0.5).cast("long")
    val pairs = plots.where(col("value").isNotNull)
      .withColumn("v4", v4)
      .groupBy("point_code", "habitatsubtype")
      .agg(min_by(col("v4"), struct(col("date"), col("id"))).as("v1"),
        max_by(col("v4"), struct(col("date"), col("id"))).as("v2"),
        max_by(col(weightCol).cast("double"), struct(col("date"), col("id")))
          .as("w"),
        max_by(col("habitattype"), struct(col("date"), col("id")))
          .as("habitattype"),
        countDistinct(col("date")).as("nc"))
      .where(col("nc") > 1)
      .withColumn("d", col("v2") - col("v1"))
    continuousShapeWeighted(weightedPerSub(pairs, col("d")), "verschil", 5)
      .withColumn("indicator", lit(indicator))
      .withColumn("voorwaarde", lit(voorwaarde))
  }

  /** Per-subtype weighted sums over a fixed-point value column. */
  private def weightedPerSub(rows: DataFrame, v: Column): DataFrame =
    rows.groupBy("habitattype", "habitatsubtype")
      .agg(count(lit(1)).as("n"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(col("w") * v).as("swv"),
        sum(col("w") * v * v).as("swv2"))

  /** Weighted twin of [[continuousShape]]: same exploded roll-up single
    * chain over (n, Σw, Σw², Σw·v, Σw·v²); mean = Σw·v/Σw (1e-4 fixed
    * point), population variance from the weighted moments, Kish
    * n_eff = (Σw)²/Σw² in the z interval. Denominator null-guards
    * (zero Σw, n_eff = 1) are ANSI-safe and identity for positive
    * weights — with w > 0 and n > 1, n_eff > 1 strictly, so the
    * oracle SQL needs no matching guard. Bounds NULL below `minN`
    * like the published NA rows. Fixture exactness: quarter-step
    * weights × integer fixed-point values keep every weighted double
    * sum exact, so the distributed aggregation is order-independent
    * and the oracle compare hash-stable. */
  private def continuousShapeWeighted(perSub: DataFrame, meanName: String,
      minN: Int): DataFrame = {
    val rows = perSub.select(col("habitattype"), col("habitatsubtype"),
      col("n"), col("sw"), col("sw2"), col("swv"), col("swv2"),
      explode(array(lit("sub"), lit("roll"))).as("role"))
    val agg = rows.groupBy(col("habitattype"), col("role"),
        when(col("role") === "sub", col("habitatsubtype")).otherwise("")
          .as("subkey"))
      .agg(sum(col("n")).as("n"), sum(col("sw")).as("sw"),
        sum(col("sw2")).as("sw2"), sum(col("swv")).as("swv"),
        sum(col("swv2")).as("swv2"), count(lit(1)).as("cnt"),
        concat_ws("; ", sort_array(collect_set(col("habitatsubtype"))))
          .as("subs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("habitattype")
    val typed = agg
      .withColumn("nsub", max(when(col("role") === "roll", col("cnt"))).over(w))
      .where(col("role") === "sub" || col("nsub") > 1)
    val swS = when(col("sw") =!= 0.0, col("sw"))
    val sw2S = when(col("sw2") =!= 0.0, col("sw2"))
    val neff = col("sw") * col("sw") / sw2S
    val m = col("swv") / swS / lit(10000.0)
    val vpop = greatest(col("swv2") / swS / lit(1.0e8) - m * m, lit(0.0))
    val h = lit(z975) * sqrt(vpop / when(neff =!= 1.0, neff - lit(1.0)))
    val ok = col("n") >= minN && col("n") > 1
    typed.select(
      when(col("role") === "roll" || col("nsub") === 1, "Habitattype")
        .otherwise("Habitatsubtype").as("type_resultaat"),
      col("habitattype"), col("subs").as("habitatsubtype"),
      lit("Binnen & Buiten").as("sbzh"), col("n").as("n_obs"),
      round(m, 6).as(meanName),
      when(ok, round(m - h, 6)).as(s"${meanName}_llci"),
      when(ok, round(m + h, 6)).as(s"${meanName}_ulci"))
  }

  /** `trend_dikdoodhout` shape: paired first-vs-last difference of a
    * measured per-plot quantity per (point, habitatsubtype) — pairs
    * require both visits in the SAME subtype (the published 91E0
    * subtype pairs sum to exactly the habitattype's 70 paired
    * points), and interval columns are NULL below 5 pairs like the
    * published NA rows. n_obs validated on all 11 published rows. */
  def trendContinuous(plots: DataFrame, indicator: String,
      voorwaarde: String): DataFrame = {
    val v4 = floor(col("value") * 10000.0 + 0.5).cast("long")
    val pairs = plots.where(col("value").isNotNull)
      .withColumn("v4", v4)
      .groupBy("point_code", "habitatsubtype")
      .agg(min_by(col("v4"), struct(col("date"), col("id"))).as("v1"),
        max_by(col("v4"), struct(col("date"), col("id"))).as("v2"),
        max_by(col("habitattype"), struct(col("date"), col("id")))
          .as("habitattype"),
        countDistinct(col("date")).as("nc"))
      .where(col("nc") > 1)
      .withColumn("d", col("v2") - col("v1"))
    val perSub = pairs.groupBy("habitattype", "habitatsubtype")
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
        sum(col("d") * col("d")).as("s2"))
    continuousShape(perSub, "verschil", 5)
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

  // ---- design-weighted variants ----------------------------------------
  //
  // The published pooled "Binnen & Buiten" rows carry survey-design
  // weights drawn in the reference's analysis repo. These overloads
  // accept an explicit per-plot weight column and compute
  // Hájek-ratio estimates with design-effect-adjusted intervals:
  //
  //   share / mean:  Σw·x / Σw
  //   n_eff        = (Σw)² / Σw²        (Kish effective sample size)
  //   every count X in a closed-form interval becomes its effective
  //   count n_eff · (Σw·1[X] / Σw)  — with unit weights that is X
  //   itself, so each weighted formula reduces EXACTLY to its
  //   unweighted sibling's algebra (validated in WeightedStatusSpec).
  //
  // Validation against the snapshot (WeightedStatusSpec): one weight
  // ratio per (habitattype × SAC) stratum solved from the pooled
  // `status_habitat_fs` row reproduces the published design-weighted
  // pooled rows of BOTH `index_hq_fs.tsv` (≤1e-4 on all 6 types) and
  // `status_indicatoren_fs.tsv` (≤0.02pp on every single-subtype
  // pooled row) — i.e. the reference's weights are uniform within
  // forest strata and its pooled estimator is this Σw·x/Σw.
  //
  // The weighted path aggregates plain double sums (Σw, Σw², Σw·x,
  // Σw·x²) — at any scale these are one hash aggregation like the
  // unweighted path; the q130/q131 oracle parity relies on the
  // harness's binary-fraction weights and 1e-3-step values keeping
  // every distributed sum exact (order-independent), as PLANS.md
  // documents for the fixed-point chains.

  /** Weighted Wilson interval on [0, 100] via effective counts; the
    * degenerate all-gunstig / none-gunstig rendering follows the
    * unweighted [[wilson]]. */
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

  /** Design-weighted [[statusHabitat]]: `weightCol` is the per-plot
    * design weight on the plot table (any positive scale — ratios are
    * scale-free). `n_obs` stays the raw plot count like the published
    * tables; shares and bounds are weighted. */
  def statusHabitat(plotLsvi: DataFrame, weightCol: String): DataFrame = {
    val rows = latestPerPoint(plotLsvi)
      .where(col("lsvi").isNotNull)
      .select(col("habitattype"), (col("lsvi") === "gunstig").as("g"),
        col(weightCol).cast("double").as("w"),
        explode(array(
          when(col("in_sac") === 1, "Binnen").otherwise("Buiten"),
          lit("Binnen & Buiten"))).as("sbzh"))
    val agg = rows.groupBy("habitattype", "sbzh")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(when(col("g"), col("w")).otherwise(0.0)).as("swk"))
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

  /** Design-weighted [[statusIndicatoren]] — the weight rides the
    * plot table and joins to the indicator rows by id. */
  def statusIndicatoren(indicator: DataFrame, plotMeta: DataFrame,
      weightCol: String): DataFrame = {
    val latest = latestPerPoint(plotMeta)
      .select(col("id"), when(col("in_sac") === 1, "Binnen").otherwise("Buiten")
        .as("stratum"), col(weightCol).cast("double").as("w"))
    val rows = indicator
      .join(latest, Seq("id"))
      .where(col("status_indicator").isNotNull)
      .select(col("type_analysis").as("habitattype"), col("criterium"),
        col("indicator"), col("belang"), col("status_indicator"), col("w"),
        explode(array(col("stratum"), lit("Binnen & Buiten"))).as("sbzh"))
    val agg = rows.groupBy("habitattype", "sbzh", "criterium", "indicator", "belang")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(when(col("status_indicator"), col("w")).otherwise(0.0)).as("swk"))
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

  /** Shared weighted-mean tail: from (Σw, Σw², Σw·x, Σw·x²) to the
    * Hájek mean and its design-effect z interval. The interval is
    * mean ± z·sqrt(v_pop / (n_eff − 1)) with v_pop the weighted
    * population variance — with unit weights that is algebraically the
    * unweighted z interval (z·s/√n with the sample sd). */
  private def weightedMeanCols(agg: DataFrame, base: String): DataFrame = {
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
    agg
      .withColumn(s"${base}_mean", round(m, 6))
      .withColumn(s"${base}_llci",
        when(col("n_obs") > 1, round(m - h, 6)))
      .withColumn(s"${base}_ulci",
        when(col("n_obs") > 1, round(m + h, 6)))
      .drop("sw", "sw2", "swx", "swx2")
  }

  /** Design-weighted [[indexHq]]. */
  def indexHq(plotIndex: DataFrame, weightCol: String): DataFrame = {
    val rows = latestPerPoint(plotIndex)
      .where(col("index_mean_ind").isNotNull)
      .select(col("habitattype"), col("index_mean_ind").as("x"),
        col(weightCol).cast("double").as("w"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"),
            when(col("in_sac") === 1, "Binnen").otherwise("Buiten").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("g"))
      .select(col("habitattype"), col("g.type_resultaat"), col("g.sbzh"),
        col("x"), col("w"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(col("w") * col("x")).as("swx"),
        sum(col("w") * col("x") * col("x")).as("swx2"))
    weightedMeanCols(agg, "index_hq")
  }

  /** Design-weighted [[indexInd]]. */
  def indexInd(indicator: DataFrame, plotMeta: DataFrame,
      weightCol: String): DataFrame = {
    val latest = latestPerPoint(plotMeta)
      .select(col("id"), when(col("in_sac") === 1, "Binnen").otherwise("Buiten")
        .as("stratum"), col(weightCol).cast("double").as("w"))
    val rows = indicator
      .join(latest, Seq("id"))
      .where(col("verschilscore").isNotNull)
      .select(col("type_analysis").as("habitattype"), col("criterium"),
        col("indicator"), col("belang"),
        col("verschilscore").as("x"), col("w"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"), col("stratum").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("g"))
      .select(col("habitattype"), col("g.type_resultaat"), col("g.sbzh"),
        col("criterium"), col("indicator"), col("belang"), col("x"), col("w"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh",
        "criterium", "indicator", "belang")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(col("w") * col("x")).as("swx"),
        sum(col("w") * col("x") * col("x")).as("swx2"))
    weightedMeanCols(agg, "index_ind")
  }

  /** Design-weighted [[trendIndicatoren]]: per-cycle shares and the
    * paired Wald difference via effective counts. The relative-change
    * interval stays a point estimate like the unweighted shape. */
  def trendIndicatoren(indicator: DataFrame, plotMeta: DataFrame,
      weightCol: String): DataFrame = {
    val pairs = plotMeta
      .groupBy("habitattype", "point_code")
      .agg(
        min_by(col("id"), struct(col("date"), col("id"))).as("id_1"),
        max_by(col("id"), struct(col("date"), col("id"))).as("id_2"),
        max_by(col(weightCol).cast("double"), struct(col("date"), col("id")))
          .as("w"),
        countDistinct(col("date")).as("nc"))
      .where(col("nc") > 1)
    val cyc = pairs.select(col("point_code"), col("w"), explode(array(
        struct(col("id_1").as("id"), lit("c_1").as("periode")),
        struct(col("id_2").as("id"), lit("c_2").as("periode")))).as("e"))
      .select(col("point_code"), col("w"), col("e.id"), col("e.periode"))
    val known = indicator.where(col("status_indicator").isNotNull)
    val level1 = known.join(cyc, Seq("id"))
      .groupBy(col("type_analysis").as("habitattype"), col("point_code"),
        col("criterium"), col("indicator"), col("belang"))
      .agg(
        max(when(col("periode") === "c_1", col("status_indicator"))).as("s1"),
        max(when(col("periode") === "c_2", col("status_indicator"))).as("s2"),
        max(col("w")).as("w"))
    val both = col("s1").isNotNull && col("s2").isNotNull
    val w = col("w")
    val level2 = level1.groupBy("habitattype", "criterium", "indicator", "belang")
      .agg(
        count(col("s1")).as("n1"),
        sum(when(col("s1").isNotNull, w).otherwise(0.0)).as("sw1"),
        sum(when(col("s1").isNotNull, w * w).otherwise(0.0)).as("sw1sq"),
        sum(when(col("s1"), w).otherwise(0.0)).as("swk1c"),
        count(col("s2")).as("n2"),
        sum(when(col("s2").isNotNull, w).otherwise(0.0)).as("sw2_"),
        sum(when(col("s2").isNotNull, w * w).otherwise(0.0)).as("sw2sq"),
        sum(when(col("s2"), w).otherwise(0.0)).as("swk2c"),
        count(when(both, 1)).as("np"),
        sum(when(both, w).otherwise(0.0)).as("swp"),
        sum(when(both, w * w).otherwise(0.0)).as("swpsq"),
        sum(when(both && col("s1"), w).otherwise(0.0)).as("swk1"),
        sum(when(both && col("s2"), w).otherwise(0.0)).as("swk2"),
        sum(when(both && col("s1") && !col("s2"), w).otherwise(0.0)).as("swb"),
        sum(when(both && !col("s1") && col("s2"), w).otherwise(0.0)).as("swc"))
    // single-chain tail (r11, same rationale as the unweighted shape):
    // all four output rows from ONE explode over the level-2 aggregate,
    // identical expressions, n_obs filter drops empty cells. Weighted
    // denominators carry the same null guards (`when(n > 0, sum)`) —
    // computed pre-filter, an empty cell's zero sums would otherwise
    // THROW under ANSI division.
    val sw1s = when(col("n1") > 0, col("sw1"))
    val sw1sqS = when(col("n1") > 0, col("sw1sq"))
    val sw2s = when(col("n2") > 0, col("sw2_"))
    val sw2sqS = when(col("n2") > 0, col("sw2sq"))
    val (alo1, ahi1) = wilsonEff(col("swk1c"), sw1s, sw1sqS)
    val (alo2, ahi2) = wilsonEff(col("swk2c"), sw2s, sw2sqS)
    // paired difference of the within-point change d ∈ {-1, 0, 1}:
    // mean_d = (Σw·c − Σw·b)/Σw, SE = sqrt(v_pop(d)/n_eff) — with unit
    // weights exactly the classic 100·sqrt(b+c−(b−c)²/n)/n Wald SE
    val swpS = when(col("np") > 0, col("swp"))
    val swpsqS = when(col("np") > 0, col("swpsq"))
    val neff = swpS * swpS / swpsqS
    val md = (col("swc") - col("swb")) / swpS
    val vpop = greatest(
      (col("swb") + col("swc")) / swpS - md * md, lit(0.0))
    val d = lit(100.0) * md
    val se = lit(100.0) * sqrt(vpop / neff)
    val p1 = col("swk1") / swpS
    def outRow(periode: String, parameter: String, nObs: Column,
        mean: Column, llci: Column, ulci: Column) =
      struct(lit(periode).as("periode"), lit(parameter).as("parameter"),
        nObs.as("n_obs"), mean.cast("double").as("mean"),
        llci.cast("double").as("llci"), ulci.cast("double").as("ulci"))
    val rows = array(
      outRow("c_1", "aandeel_gunstig", col("n1"),
        round(lit(100.0) * col("swk1c") / sw1s, 6),
        round(alo1, 6), round(ahi1, 6)),
      outRow("c_2", "aandeel_gunstig", col("n2"),
        round(lit(100.0) * col("swk2c") / sw2s, 6),
        round(alo2, 6), round(ahi2, 6)),
      outRow("c_2", "verschil_aandeel_gunstig_abs", col("np"),
        round(d, 6), round(d - lit(z975) * se, 6),
        round(d + lit(z975) * se, 6)),
      outRow("c_2", "verschil_aandeel_gunstig_rel", col("np"),
        when(p1 > 0.0, round(md / p1 * 100.0, 6)),
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

  /** Design-weighted [[trendIndexHq]]: paired habitat-quality index
    * differences with the latest-visit design weight — Hájek mean
    * Σw·d/Σw, Kish-n_eff z interval (the [[weightedMeanCols]] tail),
    * and the weighted relative difference Σw·d / Σw·x₁ (the weighted
    * analogue of the unweighted shape's Σd / Σx₁). Unlike the
    * unweighted shape there is no 1e-6 integer fixed point: fractional
    * weights make integer accumulation impossible, so exact-replay
    * fixtures should feed binary-fraction values (see q136). */
  def trendIndexHq(plotIndex: DataFrame, weightCol: String): DataFrame = {
    val key = struct(col("date"), col("id"))
    val pairs = plotIndex.where(col("index_mean_ind").isNotNull)
      .groupBy("habitattype", "point_code").agg(
        min_by(col("index_mean_ind"), key).as("x1"),
        max_by(col("index_mean_ind"), key).as("x2"),
        max_by(col("in_sac"), key).as("in_sac"),
        max_by(col(weightCol).cast("double"), key).as("w"),
        countDistinct(col("date")).as("nc"))
      .where(col("nc") > 1)
      .withColumn("d", col("x2") - col("x1"))
    val rows = pairs.select(col("habitattype"), col("d"), col("x1"), col("w"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"),
            when(col("in_sac") === 1, "Binnen").otherwise("Buiten").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("g"))
      .select(col("habitattype"), col("g.type_resultaat"), col("g.sbzh"),
        col("d"), col("x1"), col("w"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(col("w") * col("d")).as("swx"),
        sum(col("w") * col("d") * col("d")).as("swx2"),
        sum(col("w") * col("x1")).as("swx1"))
      .withColumn("index_diff_rel",
        when(col("swx1") =!= 0.0, round(col("swx") / col("swx1"), 6)))
      .drop("swx1")
    weightedMeanCols(agg, "index_diff")
  }

  /** Design-weighted [[trendIndexInd]]: the same single-chain cycle
    * pivot with the latest-visit pair weight and the Hájek/Kish mean
    * interval at indicator grain. */
  def trendIndexInd(indicator: DataFrame, plotMeta: DataFrame,
      weightCol: String): DataFrame = {
    val key = struct(col("date"), col("id"))
    val pr = plotMeta.groupBy("habitattype", "point_code").agg(
        min_by(col("id"), key).as("id_1"),
        max_by(col("id"), key).as("id_2"),
        max_by(col("in_sac"), key).as("in_sac"),
        max_by(col(weightCol).cast("double"), key).as("w"),
        countDistinct(col("date")).as("nc"))
      .where(col("nc") > 1)
    val cyc = pr.select(col("point_code"), col("in_sac"), col("w"),
        explode(array(
          struct(col("id_1").as("id"), lit("c_1").as("periode")),
          struct(col("id_2").as("id"), lit("c_2").as("periode")))).as("e"))
      .select(col("point_code"), col("in_sac"), col("w"), col("e.id"),
        col("e.periode"))
    val rows = indicator.where(col("verschilscore").isNotNull)
      .join(cyc, Seq("id"))
      .groupBy(col("type_analysis").as("habitattype"), col("point_code"),
        col("in_sac"), col("criterium"), col("indicator"), col("belang"))
      .agg(
        max(when(col("periode") === "c_1", col("verschilscore"))).as("x1"),
        max(when(col("periode") === "c_2", col("verschilscore"))).as("x2"),
        max(col("w")).as("w"))
      .where(col("x1").isNotNull && col("x2").isNotNull)
      .withColumn("d", col("x2") - col("x1"))
      .select(col("habitattype"), col("criterium"), col("indicator"),
        col("belang"), col("d"), col("w"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"),
            when(col("in_sac") === 1, "Binnen").otherwise("Buiten").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("g"))
      .select(col("habitattype"), col("g.type_resultaat"), col("g.sbzh"),
        col("criterium"), col("indicator"), col("belang"), col("d"), col("w"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh",
        "criterium", "indicator", "belang")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(col("w") * col("d")).as("swx"),
        sum(col("w") * col("d") * col("d")).as("swx2"))
    weightedMeanCols(agg, "index_diff")
  }

  /** Design-weighted [[trendHabitat]]: the same long-form output with
    * weighted shares, effective-count Wilson and Wald intervals, and
    * the log-ratio interval on effective counts. Year columns stay
    * descriptive (unweighted min/max/mean interval). Supports the
    * same optional `cycle` column as the unweighted shape. */
  def trendHabitat(plotLsvi: DataFrame, weightCol: String): DataFrame = {
    val hasCycle = plotLsvi.columns.contains("cycle")
    val in0 = plotLsvi.where(col("lsvi").isNotNull)
    val in1 = if (hasCycle) in0.where(col("cycle").isin(0, 1)) else in0
    val pairs = in1
      .groupBy("habitattype", "point_code")
      .agg(
        min_by(struct((col("lsvi") === "gunstig").as("g"),
          col("date").as("j")), struct(col("date"), col("id"))).as("r1"),
        max_by(struct((col("lsvi") === "gunstig").as("g"),
          col("date").as("j")), struct(col("date"), col("id"))).as("r2"),
        max_by(col("in_sac"), struct(col("date"), col("id"))).as("in_sac"),
        max_by(col(weightCol).cast("double"), struct(col("date"), col("id")))
          .as("w"),
        (if (hasCycle) countDistinct(col("cycle"))
         else countDistinct(col("date"))).as("nc"))
      .where(if (hasCycle) col("nc") === 2 else col("nc") > 1)
    val rows = pairs.select(col("habitattype"),
        col("r1.g").as("g1"), col("r2.g").as("g2"),
        col("r1.j").as("j1"), col("r2.j").as("j2"), col("w"),
        explode(array(
          struct(lit("SBZH").as("type_resultaat"),
            when(col("in_sac") === 1, "Binnen").otherwise("Buiten").as("sbzh")),
          struct(lit("Habitattype").as("type_resultaat"),
            lit("Binnen & Buiten").as("sbzh")))).as("s"))
      .select(col("habitattype"), col("s.type_resultaat"), col("s.sbzh"),
        col("g1"), col("g2"), col("j1"), col("j2"), col("w"))
    val agg = rows.groupBy("type_resultaat", "habitattype", "sbzh")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        sum(when(col("g1"), col("w")).otherwise(0.0)).as("swk1"),
        sum(when(col("g2"), col("w")).otherwise(0.0)).as("swk2"),
        sum(when(col("g1") && !col("g2"), col("w")).otherwise(0.0)).as("swb"),
        sum(when(!col("g1") && col("g2"), col("w")).otherwise(0.0)).as("swc"),
        min(col("j1")).as("jmin1"), max(col("j1")).as("jmax1"),
        min(col("j2")).as("jmin2"), max(col("j2")).as("jmax2"),
        sum(col("j2") - col("j1")).as("sdj"))
    val neff = col("sw") * col("sw") / col("sw2")
    val (lo1, hi1) = wilsonEff(col("swk1"), col("sw"), col("sw2"))
    val (lo2, hi2) = wilsonEff(col("swk2"), col("sw"), col("sw2"))
    val md = (col("swk2") - col("swk1")) / col("sw")
    val dAbs = lit(100.0) * md
    val vpop = greatest(
      (col("swb") + col("swc")) / col("sw") - md * md, lit(0.0))
    val seAbs = lit(100.0) * sqrt(vpop / neff)
    val absLo = round(dAbs - lit(z975) * seAbs, 6)
    val absHi = round(dAbs + lit(z975) * seAbs, 6)
    // effective counts for the paired log-ratio interval
    val k1e = neff * (col("swk1") / col("sw"))
    val k2e = neff * (col("swk2") / col("sw"))
    val bce = neff * ((col("swb") + col("swc")) / col("sw"))
    val relMean = when(col("swk1") > 0.0,
      round(lit(100.0) * (col("swk2") - col("swk1")) / col("swk1"), 6))
    val seLn = sqrt(bce / (k1e * k2e))
    val relDef = col("swk1") > 0.0 && col("swk2") > 0.0
    val relLo = when(relDef,
      round(lit(100.0) *
        (exp(log(col("swk2") / col("swk1")) - lit(z975) * seLn) - lit(1.0)), 6))
    val relHi = when(relDef,
      round(lit(100.0) *
        (exp(log(col("swk2") / col("swk1")) + lit(z975) * seLn) - lit(1.0)), 6))
    val relKlasse = when(col("swk1") > 0.0,
        effectKlasse(relMean, relLo, relHi, 25.0, 25.0))
      .otherwise(when(absLo > 0.0, "++").otherwise("?"))
    val nd = col("n_obs").cast("double")
    val vj = bround(col("sdj").cast("double") / nd, 1)
    val out = agg.select(col("type_resultaat"), col("habitattype"),
      col("sbzh"), col("n_obs"),
      explode(array(
        struct(lit("c_1").as("periode"), lit("aandeel_gunstig").as("parameter"),
          round(lit(100.0) * col("swk1") / col("sw"), 6).as("mean"),
          round(lo1, 6).as("llci"), round(hi1, 6).as("ulci"),
          lit(null).cast("string").as("klasse"),
          lit(null).cast("string").as("periode_ref"),
          col("jmin1").as("jaar_min"), col("jmax1").as("jaar_max"),
          lit(null).cast("double").as("verschil_jaar")),
        struct(lit("c_2").as("periode"), lit("aandeel_gunstig").as("parameter"),
          round(lit(100.0) * col("swk2") / col("sw"), 6).as("mean"),
          round(lo2, 6).as("llci"), round(hi2, 6).as("ulci"),
          lit(null).cast("string").as("klasse"),
          lit(null).cast("string").as("periode_ref"),
          col("jmin2").as("jaar_min"), col("jmax2").as("jaar_max"),
          lit(null).cast("double").as("verschil_jaar")),
        struct(lit("c_2").as("periode"),
          lit("verschil_aandeel_gunstig_abs").as("parameter"),
          round(dAbs, 6).as("mean"), absLo.as("llci"), absHi.as("ulci"),
          effectKlasse(round(dAbs, 6), absLo, absHi, 12.0, 12.0).as("klasse"),
          lit("c_1").as("periode_ref"),
          least(col("jmin1"), col("jmin2")).as("jaar_min"),
          greatest(col("jmax1"), col("jmax2")).as("jaar_max"),
          vj.as("verschil_jaar")),
        struct(lit("c_2").as("periode"),
          lit("verschil_aandeel_gunstig_rel").as("parameter"),
          relMean.as("mean"), relLo.as("llci"), relHi.as("ulci"),
          relKlasse.as("klasse"), lit("c_1").as("periode_ref"),
          least(col("jmin1"), col("jmin2")).as("jaar_min"),
          greatest(col("jmax1"), col("jmax2")).as("jaar_max"),
          vj.as("verschil_jaar")))).as("r"))
    out.select(col("r.periode").as("periode"), col("type_resultaat"),
      col("habitattype"), col("sbzh"), col("n_obs"),
      col("r.parameter").as("parameter"), col("r.mean").as("mean"),
      col("r.llci").as("llci"), col("r.ulci").as("ulci"),
      col("r.klasse").as("klasse"), col("r.periode_ref").as("periode_ref"),
      col("r.jaar_min").as("jaar_min"), col("r.jaar_max").as("jaar_max"),
      col("r.verschil_jaar").as("verschil_jaar"))
  }
}
