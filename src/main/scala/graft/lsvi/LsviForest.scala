package graft.lsvi

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The forest-LSVI scoring engine: evaluates the [[Versie3Forests]]
  * rule content against plot measurements and aggregates to the four
  * published result shapes (`lsvi_detail_fs`, `lsvi_indicator_fs`,
  * `lsvi_criterium_fs`, `lsvi_globaal_fs` under
  * `/root/reference/processed/lsvi_mhq/forests/result/`).
  *
  * All semantics were validated against the published tables — see the
  * [[Versie3Forests]] scaladoc for the exact fit counts. Plan shape:
  * the rule table broadcasts (203 rows), measurements stream; the
  * skeleton is rules ⋈ plots so unmeasured conditions surface as NA
  * rows exactly as the reference reports them; each aggregation level
  * is one groupBy on the streaming side — no shuffle is wider than
  * (plots × rules-per-type), safe at any plot count.
  */
object LsviForest {

  // zero numerator with zero denominator is "exactly at the reference"
  // -> 0, not NULL (observed in the published heath rows with a zero
  // dynamic reference)
  private def div(n: Column, d: Column): Column =
    when(d =!= 0.0, n / d).otherwise(when(n === 0.0, lit(0.0)))

  /** Verschilscore on the continuous value: distance from the reference
    * rescaled to [-1, 1] (see Versie3Forests scaladoc for validation).
    * The formula branch follows the VALUE against the score reference,
    * not the verdict: a condition can be met by class while the
    * continuous value sits below the score reference (heath
    * `bedekking dwergstruiken` 11.7 under reference B publishes the
    * below-reference branch, score -0.22, with status TRUE). */
  private def verschilscore(met: Column, v: Column, ref: Column,
                            scoreMax: Column, up: Column): Column = {
    val raw =
      when(up,
        when(v >= ref, when(scoreMax === ref, lit(1.0))
            .otherwise(div(v - ref, scoreMax - ref)))
          .otherwise(div(v - ref, ref)))
        .otherwise(
          // a zero reference on a downward condition means "absent is
          // the optimum": v == 0 == ref publishes 1.0 in the coastal
          // dunes tables, not the 0/0 fallback
          when(v <= ref, when(ref === 0.0, lit(1.0)).otherwise(div(ref - v, ref)))
            .otherwise(div(ref - v, scoreMax - ref)))
    when(met.isNull || v.isNull, lit(null).cast("double"))
      .otherwise(greatest(lit(-1.0), least(lit(1.0), raw)))
  }

  /** Detail table (lsvi_detail_fs shape + the engine's internal
    * columns `role` / `aggregate` for the aggregation levels).
    *
    * `plots`: (id, type_analysis, survey, record_id_square,
    * record_id_circle, type_observed, plot_type);
    * `measurements`: (id, voorwaarde, waarde, value_numeric,
    * value_category); `rules`: [[Versie3Forests.rulesDf]].
    *
    * The skeleton is plots ⋈ rules on type_analysis LEFT JOIN
    * measurements, so every rule of the plot's type yields a row —
    * unmeasured conditions appear with NA verdicts, as published.
    * `waarde_numeric` is emitted unrounded (the reference renders it at
    * 4 decimals on write; rounding is presentation, not semantics). */
  def detail(plots: DataFrame, measurements: DataFrame, rules: DataFrame): DataFrame = {
    // measurements may carry a per-plot dynamic reference (the heath
    // "éénjarigen > meerjarigen" rule publishes the other measurement
    // as its referentiewaarde); absent column -> static rule refs
    val meas0 =
      if (measurements.columns.contains("ref_override")) measurements
      else measurements.withColumn("ref_override", lit(null).cast("double"))
    // plot_type may be a measurement-protocol property (heath records
    // different conditions on circle vs square subplots) or a constant
    // of the plot (forests: vbi) — measurement-side wins when present
    val meas =
      if (meas0.columns.contains("plot_type"))
        meas0.withColumnRenamed("plot_type", "__pt_meas")
      else meas0.withColumn("__pt_meas", lit(null).cast("string"))
    val plotsN =
      if (plots.columns.contains("plot_type"))
        plots.withColumnRenamed("plot_type", "__pt_plot")
      else plots.withColumn("__pt_plot", lit(null).cast("string"))
    // type-specific variables (key-species counts score differently per
    // habitat type) carry a type_analysis column and join on it too
    val measKeys =
      if (meas.columns.contains("type_analysis")) Seq("id", "voorwaarde", "type_analysis")
      else Seq("id", "voorwaarde")
    val joined = plotsN
      .join(broadcast(rules.withColumnRenamed("habitattype", "type_analysis")),
        Seq("type_analysis"))
      .join(meas, measKeys, "left_outer")
      .withColumn("plot_type", coalesce(col("__pt_meas"), col("__pt_plot")))
    val isCat = col("ref_categories").isNotNull
    // status threshold: the dynamic per-plot reference if present, else
    // the rule's status_ref (which may differ from the score reference —
    // heath dwergstruiken B verdicts at 10 but scores against 15)
    val sref = coalesce(col("ref_override"), col("status_ref"))
    val met =
      when(isCat,
        when(col("value_category").isNotNull,
          array_contains(col("ref_categories"), col("value_category"))))
        .otherwise(
          when(col("op") === ">=", col("value_numeric") >= sref)
            .when(col("op") === ">", col("value_numeric") > sref)
            .when(col("op") === "<=", col("value_numeric") <= sref)
            .when(col("op") === "<", col("value_numeric") < sref))
    joined
      .withColumn("status_voorwaarde", met)
      .withColumn("verschilscore",
        verschilscore(col("status_voorwaarde"), col("value_numeric"),
          coalesce(col("ref_override"), col("ref_numeric")), col("score_max"),
          col("op").isin(">=", ">")))
      .select(col("id"), col("survey"), col("record_id_square"), col("record_id_circle"),
        col("type_observed"), col("type_analysis"), col("criterium"), col("indicator"),
        col("belang"), col("voorwaarde"), col("plot_type"), col("waarde"),
        // categorical rows publish waarde_numeric as NA (the continuous
        // cover feeds the score but is not displayed), as in the reference
        when(col("ref_categories").isNull, col("value_numeric")).as("waarde_numeric"),
        col("referentiewaarde"),
        col("status_voorwaarde"), col("theoretischmaximum"), col("verschilscore"),
        col("role"), col("aggregate"))
  }

  /** Indicator table: statuses combine as ALL(AND-group) AND
    * ANY(OR-group), verschilscores as min(AND-group ∪ {max(OR-group)}),
    * NULLs skipped at both levels; indicators outside the published
    * aggregation (`aggregate` = false) are dropped here. */
  def indicator(detail: DataFrame): DataFrame = {
    val andRole = col("role") === "and"
    val orRole = col("role") === "or"
    val andKnown = count(when(andRole && col("status_voorwaarde").isNotNull, 1))
    val andBad = count(when(andRole && !col("status_voorwaarde"), 1))
    val orKnown = count(when(orRole && col("status_voorwaarde").isNotNull, 1))
    val orTrue = count(when(orRole && col("status_voorwaarde"), 1))
    detail.where(col("aggregate"))
      .groupBy("id", "type_analysis", "criterium", "indicator", "belang")
      .agg(
        andKnown.as("and_known"), andBad.as("and_bad"),
        orKnown.as("or_known"), orTrue.as("or_true"),
        least(
          min(when(andRole, col("verschilscore"))),
          max(when(orRole, col("verschilscore")))).as("verschilscore"))
      .withColumn("status_indicator",
        when(col("and_known") + col("or_known") === 0, lit(null).cast("boolean"))
          .otherwise(
            (col("and_known") === 0 || col("and_bad") === 0) &&
              (col("or_known") === 0 || col("or_true") > 0)))
      .select("id", "type_analysis", "criterium", "indicator", "belang",
        "status_indicator", "verschilscore")
  }

  private def rapportageHr(grouped: DataFrame): DataFrame =
    grouped
      .withColumn("aandeel_gunstig",
        when(col("n_known") > 0, lit(100.0) * col("n_gunstig") / col("n_known")))
      .withColumn("status_agg",
        when(col("n_known") > 0,
          col("aandeel_gunstig") > 50.0 && col("n_zb_ongunstig") === 0))
      .withColumn("aggregatiemethode", lit("RapportageHR"))

  /** Shared criterium-grain partials — counts plus (Σ verschilscore,
    * n) and the doelbereik partial sum. ONE aggregation of the
    * indicator grain that both [[criterium]] and [[globaal]] consume:
    * globaal's plot rollup is a second, criterium-count-sized
    * aggregation of these partials instead of a re-aggregation of the
    * whole indicator subtree (the earlier perPlot ⋈ critMean join
    * re-planned the rules/measurement chain twice — no cross-branch
    * exchange reuse in local mode; same rationale as the fixed-point
    * twin in LsviQueries, applied to the engine's double path;
    * dev-measured q139 3.16s → 2.82s). Dividing Σ by count at the end
    * is bit-identical to Spark's avg aggregate (same partial sums,
    * same final division). */
  private def critPartials(indicator: DataFrame): DataFrame =
    indicator.groupBy("id", "type_analysis", "criterium")
      .agg(
        count(when(col("status_indicator").isNotNull, 1)).as("n_known"),
        count(when(col("status_indicator"), 1)).as("n_gunstig"),
        count(when(col("belang") === "zb" && !col("status_indicator"), 1))
          .as("n_zb_ongunstig"),
        sum(col("verschilscore")).as("svs"),
        count(col("verschilscore")).as("nvs"),
        sum(when(col("verschilscore").isNotNull,
            lit(1.0) + least(col("verschilscore"), lit(0.0)))).as("sdb"))

  /** Criterium table (lsvi_criterium_fs shape; means unrounded). */
  def criterium(indicator: DataFrame): DataFrame =
    rapportageHr(critPartials(indicator)
      .withColumn("index_mean_ind",
        when(col("nvs") > 0, col("svs") / col("nvs")))
      .withColumn("doelbereik_mean_ind",
        when(col("nvs") > 0, col("sdb") / col("nvs"))))
      .select(col("id"), col("type_analysis"), col("criterium"),
        col("status_agg").as("status_criterium"), col("aggregatiemethode"),
        col("n_zb_ongunstig"), col("aandeel_gunstig"), col("index_mean_ind"),
        col("doelbereik_mean_ind"))

  /** Globaal table (lsvi_globaal_fs shape): RapportageHR over all
    * aggregated indicators plus the mean of the criterium means —
    * both grains out of ONE chained aggregation over [[critPartials]]
    * (every indicator row belongs to exactly one criterium, so the
    * plot counts are sums of the criterium partials, and the
    * mean-of-means rides the same pass, keyed by (id, type_analysis):
    * a plot scored as two subtypes — the heath 2330 / dune 2130 pairs
    * share one id — must not pool its criterium means across types). */
  def globaal(indicator: DataFrame): DataFrame =
    rapportageHr(critPartials(indicator)
      .groupBy("id", "type_analysis")
      .agg(
        sum(col("n_known")).as("n_known"),
        sum(col("n_gunstig")).as("n_gunstig"),
        sum(col("n_zb_ongunstig")).as("n_zb_ongunstig"),
        sum(col("svs")).as("svs"), sum(col("nvs")).as("n_vs"),
        sum(col("sdb")).as("sdb"),
        sum(when(col("nvs") > 0, col("svs") / col("nvs"))).as("scm"),
        count(when(col("nvs") > 0, 1)).as("n_crit")))
      .select(col("id"), col("type_analysis"), col("status_agg").as("status"),
        col("aggregatiemethode"), col("n_zb_ongunstig"), col("aandeel_gunstig"),
        when(col("n_vs") > 0, col("svs") / col("n_vs")).as("index_mean_ind"),
        when(col("n_crit") > 0, col("scm") / col("n_crit"))
          .as("index_mean_crit"),
        when(col("n_vs") > 0, col("sdb") / col("n_vs"))
          .as("doelbereik_mean_ind"))

  /** Full chain: (detail, indicator, criterium, globaal). */
  def score(plots: DataFrame, measurements: DataFrame, rules: DataFrame):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val d = detail(plots, measurements, rules)
    val i = indicator(d)
    (d, i, criterium(i), globaal(i))
  }
}
