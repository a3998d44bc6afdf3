package graft
package queries

import graft.lsvi.Lsvi
import graft.ops.Reshape
import graft.queries.Shared._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LSVI queries (SURVEY.md §3, the INBOVEG→LSVI lifecycle): the rules
  * engine over the Versie-3 rule content per habitat group, the detail
  * and globaal reports, the design-level status/trend estimators
  * (unweighted and weighted, continuous and census), the ROI selection
  * report and the report publish round trip. Each query is declared
  * once, next to its DuckDB oracle SQL. */
object LsviQueries {

  lazy val all: Seq[Query] = Seq(

    // ---- K2 LSVI rules engine: data-driven verdicts (detail table) ----
    Query("q70_lsvi_detail", (s, dir) =>
      Lsvi.detail(lsviMeasurements(s, dir), lsviRules(s))
        .withColumn("value_numeric", round(col("value_numeric"), 6)),
      Some((lsviOracleCtes +
      """SELECT id, criterium, indicator, voorwaarde, belang,
        | round(value_numeric, 6) AS value_numeric, value_category, op,
        | ref_numeric, voldoet
        |FROM d""".stripMargin))),

    // ---- K2 LSVI rules engine: RapportageHR global aggregation ----
    Query("q71_lsvi_globaal", (s, dir) =>
      Lsvi.globaal(Lsvi.indicator(Lsvi.detail(lsviMeasurements(s, dir), lsviRules(s)))),
      Some((lsviOracleCtes.stripSuffix("\n") +
      """, i AS (
        |  SELECT id, criterium, indicator, belang,
        |    (count(CASE WHEN voldoet = false THEN 1 END) = 0 AND
        |     count(CASE WHEN voldoet IS NULL THEN 1 END) = 0) AS gunstig,
        |    count(CASE WHEN voldoet = true THEN 1 END)
        |      / greatest(count(CASE WHEN voldoet IS NOT NULL THEN 1 END), 1) AS score
        |  FROM d GROUP BY 1, 2, 3, 4)
        |SELECT id, count(*) AS n_ind,
        | count(CASE WHEN gunstig THEN 1 END) AS n_gunstig,
        | count(CASE WHEN belang = 'zb' AND NOT gunstig THEN 1 END) AS n_zb_ongunstig,
        | round(100.0 * count(CASE WHEN gunstig THEN 1 END) / count(*), 6) AS aandeel_gunstig,
        | round(sum(score) / count(*), 6) AS index_mean_ind,
        | (count(CASE WHEN belang = 'zb' AND NOT gunstig THEN 1 END) = 0 AND
        |  count(CASE WHEN gunstig THEN 1 END) * 2 > count(*)) AS status,
        | CASE WHEN count(CASE WHEN belang = 'zb' AND NOT gunstig THEN 1 END) = 0 AND
        |           count(CASE WHEN gunstig THEN 1 END) * 2 > count(*)
        |      THEN 'gunstig' ELSE 'ongunstig' END AS lsvi
        |FROM i GROUP BY id""".stripMargin))),

    // ---- K2 forest-detail report shape (`data_lsvi_forests.R:32`,
    // `lsvi_detail_fs.yml`): verschilscore / theoretischmaximum /
    // status_voorwaarde per condition, plus the plot_type and
    // type_observed passthroughs. `waarde` is the measurement's
    // character form (category, or the 6-decimal fixed-point print of
    // the numeric value — printf semantics identical on both engines
    // once the value is floor-rounded). ----
    Query("q96_lsvi_detail_report", (s, dir) => {
      val meas = lsviMeasurements(s, dir)
        .withColumn("type_observed",
          when(col("id") % 2 === 0, "9120").otherwise("9130"))
        .withColumn("plot_type",
          when(col("voorwaarde").isin("avg_qty", "avg_price"), "square")
            .otherwise("circle"))
        .withColumn("waarde", coalesce(col("value_category"),
          when(col("value_numeric").isNotNull,
            format_string("%.6f", round6(col("value_numeric"))))))
      Lsvi.detailReport(meas, lsviRules(s))
        .withColumn("waarde_numeric", round6(col("waarde_numeric")))
        .withColumn("verschilscore", round6(col("verschilscore")))
    }, Some(
      (lsviOracleCtes.stripSuffix("\n") +
      s""", r2(voorwaarde, referentiewaarde, theoretischmaximum) AS (
        |  VALUES
        |   ('avg_discount', '0.05', 0.1),
        |   ('return_rate', '0.336', 1.0),
        |   ('avg_qty', '25.3', 50.0),
        |   ('avg_price', '53000', 100000.0),
        |   ('regio', '${lsviRegions.mkString(", ")}', CAST(NULL AS DOUBLE))),
        |rep AS (
        |  SELECT d.*, r2.referentiewaarde, r2.theoretischmaximum,
        |    CASE WHEN d.id % 2 = 0 THEN '9120' ELSE '9130' END AS type_observed,
        |    CASE WHEN d.voorwaarde IN ('avg_qty', 'avg_price') THEN 'square'
        |         ELSE 'circle' END AS plot_type,
        |    floor(d.value_numeric*1e6 + 0.5)/1e6 AS v6
        |  FROM d JOIN r2 USING (voorwaarde)),
        |scored AS (
        |  SELECT *,
        |    CASE
        |      WHEN voldoet IS NULL THEN CAST(NULL AS DOUBLE)
        |      WHEN op IN ('>=', '>') THEN
        |        CASE WHEN voldoet THEN
        |               CASE WHEN theoretischmaximum - ref_numeric <> 0
        |                    THEN (value_numeric - ref_numeric)/(theoretischmaximum - ref_numeric) END
        |             ELSE
        |               CASE WHEN ref_numeric <> 0
        |                    THEN (value_numeric - ref_numeric)/ref_numeric END END
        |      WHEN op IN ('<=', '<') THEN
        |        CASE WHEN voldoet THEN
        |               CASE WHEN ref_numeric <> 0
        |                    THEN (ref_numeric - value_numeric)/ref_numeric END
        |             ELSE
        |               CASE WHEN theoretischmaximum - ref_numeric <> 0
        |                    THEN (ref_numeric - value_numeric)/(theoretischmaximum - ref_numeric) END END
        |      ELSE CASE WHEN voldoet THEN 1.0 ELSE -1.0 END
        |    END AS verschilscore
        |  FROM rep)
        |SELECT id, type_observed, criterium, indicator, belang, voorwaarde, plot_type,
        |  CASE WHEN value_category IS NOT NULL THEN value_category
        |       WHEN value_numeric IS NOT NULL THEN printf('%.6f', v6) END AS waarde,
        |  floor(value_numeric*1e6 + 0.5)/1e6 AS waarde_numeric,
        |  referentiewaarde, voldoet AS status_voorwaarde, theoretischmaximum,
        |  floor(verschilscore*1e6 + 0.5)/1e6 AS verschilscore
        |FROM scored""".stripMargin))),

    // ---- K2 with the REAL Versie-3 rule content (graft.lsvi.Versie3,
    // HT31xx_LSVI.Rmd:68-185): INBOVEG-shaped synthetic inputs exercise
    // the full preparation path — LOQ parse + halving, class->value
    // mapping, the VZuSS/Vzuur 3160 substitution, taxon
    // canonicalization, TANSLEY sleutelsoorten aggregation — against the
    // per-habitattype rule table, all mirrored in the DuckDB oracle. ----
    Query("q77_lsvi_v3_detail", (s, dir) => {
      val (hab, sc, veg) = v3Inputs(s, dir)
      graft.lsvi.Versie3.score(hab, sc, veg)._1
        .withColumn("value_numeric", round(col("value_numeric"), 6))
        .select("id", "habitattype", "criterium", "indicator", "voorwaarde",
          "belang", "value_numeric", "op", "ref_numeric", "voldoet")
    }, Some(
      (v3OracleCtes +
      """SELECT id, habitattype, criterium, indicator, voorwaarde, belang,
        | round(value_numeric, 6) AS value_numeric, op, ref_numeric, voldoet
        |FROM d""".stripMargin))),

    Query("q78_lsvi_v3_globaal", (s, dir) => {
      val (hab, sc, veg) = v3Inputs(s, dir)
      graft.lsvi.Versie3.score(hab, sc, veg)._4
    }, Some(
      (v3OracleCtes.stripSuffix("\n") +
      """, i AS (
        |  SELECT id, criterium, indicator, belang,
        |    (count(CASE WHEN voldoet = false THEN 1 END) = 0 AND
        |     count(CASE WHEN voldoet IS NULL THEN 1 END) = 0) AS gunstig,
        |    count(CASE WHEN voldoet = true THEN 1 END)
        |      / greatest(count(CASE WHEN voldoet IS NOT NULL THEN 1 END), 1) AS score
        |  FROM d GROUP BY 1, 2, 3, 4)
        |SELECT id, count(*) AS n_ind,
        | count(CASE WHEN gunstig THEN 1 END) AS n_gunstig,
        | count(CASE WHEN belang = 'zb' AND NOT gunstig THEN 1 END) AS n_zb_ongunstig,
        | round(100.0 * count(CASE WHEN gunstig THEN 1 END) / count(*), 6) AS aandeel_gunstig,
        | round(sum(score) / count(*), 6) AS index_mean_ind,
        | (count(CASE WHEN belang = 'zb' AND NOT gunstig THEN 1 END) = 0 AND
        |  count(CASE WHEN gunstig THEN 1 END) * 2 > count(*)) AS status,
        | CASE WHEN count(CASE WHEN belang = 'zb' AND NOT gunstig THEN 1 END) = 0 AND
        |           count(CASE WHEN gunstig THEN 1 END) * 2 > count(*)
        |      THEN 'gunstig' ELSE 'ongunstig' END AS lsvi
        |FROM i GROUP BY id""".stripMargin))),

    // ---- K2 FOREST Versie-3 rule content (graft.lsvi.Versie3Forests —
    // the 203 published rule rows of lsvi_detail_fs.tsv) on synthetic
    // forest plots: q102 reproduces the 17-column lsvi_detail_fs shape
    // (skeleton left-join, NA rows kept, class-membership verdicts,
    // validated verschilscore formula), q103 the lsvi_globaal_fs shape
    // (RapportageHR + index/doelbereik means). ----
    Query("q102_lsvi_forest_detail", (s, dir) => {
      val (plots, m) = forestInputs(s, dir)
      graft.lsvi.LsviForest.detail(plots, m, graft.lsvi.Versie3Forests.rulesDf(s))
        .drop("role", "aggregate")
    }, Some(
      (forestOracleCtes +
      """SELECT id, survey, record_id_square, record_id_circle, type_observed,
        | type_analysis, criterium, indicator, belang, voorwaarde, plot_type,
        | waarde, waarde_numeric, referentiewaarde, status_voorwaarde,
        | theoretischmaximum, verschilscore
        |FROM d2""".stripMargin))),

    // The means are computed in 1e-6 fixed point (quantize each
    // indicator verschilscore once, then integer sums all the way up):
    // integer addition is order-independent, so Spark's partial
    // aggregation and DuckDB's sequential scan produce bit-identical
    // doubles — a float avg() of 3 criterium means straddles 6-decimal
    // rounding boundaries between engines (observed at sf0.01).
    Query("q103_lsvi_forest_globaal", (s, dir) => forestGlobaal(s, dir),
      Some(forestGlobaalOracleSql)),

    // ---- lsvi_plot_fs shape: the plot-level deliverable is the globaal
    // report joined with plot metadata + the gunstig/ongunstig label
    // (verified against the reference: all 1,174 published lsvi_plot_fs
    // rows are exactly their lsvi_globaal_fs row + metadata) ----
    Query("q108_lsvi_plot_report", (s, dir) => {
      val meta = t(s, dir, "customer").select(
        concat(lit("FP_"), col("c_custkey")).as("id"),
        (lit(14610) + col("c_custkey") % 3650).cast("long").as("date"),
        concat(lit("vbi_"), col("c_custkey")).as("point_code"),
        (lit(150000) + (col("c_custkey") * 97) % 100000).cast("double").as("x"),
        (lit(150000) + (col("c_custkey") * 53) % 100000).cast("double").as("y"),
        (col("c_custkey") % 2).cast("int").as("in_sac"))
      forestGlobaal(s, dir).join(meta, Seq("id"))
        .select(col("id"), col("date"), col("point_code"), col("x"), col("y"),
          col("in_sac"),
          when(col("type_analysis").startsWith("91E0"), "91E0")
            .when(col("type_analysis") === "9130_end", "9130")
            .otherwise(col("type_analysis")).as("habitattype"),
          col("type_analysis").as("habitatsubtype"),
          when(col("status"), "gunstig").otherwise("ongunstig").as("lsvi"),
          col("aggregatiemethode"), col("n_zb_ongunstig"), col("aandeel_gunstig"),
          col("index_mean_ind"), col("doelbereik_mean_ind"))
    }, Some {
      val globaalSql = forestOracleCtes.stripSuffix("\n") + lsviGlobaalSqlTail
      s"""SELECT g.id, m.date, m.point_code, m.x, m.y, m.in_sac,
         | CASE WHEN g.type_analysis LIKE '91E0%' THEN '91E0'
         |      WHEN g.type_analysis = '9130_end' THEN '9130'
         |      ELSE g.type_analysis END AS habitattype,
         | g.type_analysis AS habitatsubtype,
         | CASE WHEN g.status THEN 'gunstig' ELSE 'ongunstig' END AS lsvi,
         | g.aggregatiemethode, g.n_zb_ongunstig, g.aandeel_gunstig,
         | g.index_mean_ind, g.doelbereik_mean_ind
         |FROM (
         |$globaalSql
         |) g
         |JOIN (SELECT 'FP_' || c_custkey AS id,
         |        CAST(14610 + c_custkey % 3650 AS BIGINT) AS date,
         |        'vbi_' || c_custkey AS point_code,
         |        CAST(150000 + (c_custkey * 97) % 100000 AS DOUBLE) AS x,
         |        CAST(150000 + (c_custkey * 53) % 100000 AS DOUBLE) AS y,
         |        CAST(c_custkey % 2 AS INTEGER) AS in_sac
         |      FROM customer) m ON g.id = m.id""".stripMargin
    }),

    // ---- K2 HEATH/INLAND-DUNES Versie-3 rule content
    // (graft.lsvi.Versie3Heath — lsvi_detail_hs_id.tsv): same engine,
    // second rule set, exercising the strict-> dynamic per-plot
    // reference and the split status/score references. ----
    Query("q107_lsvi_heath_globaal", (s, dir) => {
      val (plots, m) = heathInputs(s, dir)
      lsviGlobaalFixedPoint(graft.lsvi.LsviForest.indicator(
        graft.lsvi.LsviForest.detail(plots, m, graft.lsvi.Versie3Heath.rulesDf(s))))
    }, Some(
      (heathOracleCtes.stripSuffix("\n") +
      lsviGlobaalSqlTail))),

    // ---- K2 COASTAL-DUNES and MONEOS Versie-3 rule content
    // (graft.lsvi.Versie3Dunes / Versie3Moneos): fourth and fifth rule
    // sets through the same engine — WT class-membership verdicts,
    // split WT status/score references, zero-reference optimum. ----
    Query("q109_lsvi_dunes_globaal", (s, dir) => {
      val v3d = graft.lsvi.Versie3Dunes
      val (plots, m) = wtGroupInputs(s, dir, "DP_", v3d.habitattypes,
        v3d.rules, v3d.wtCategorical.keySet)
      lsviGlobaalFixedPoint(graft.lsvi.LsviForest.indicator(
        graft.lsvi.LsviForest.detail(plots, m, v3d.rulesDf(s))))
    }, Some {
      val v3d = graft.lsvi.Versie3Dunes
      wtGroupOracleCtes("DP_", v3d.habitattypes, v3d.rules,
        v3d.downVoorwaarden, v3d.orVoorwaarden, Set.empty,
        v3d.wtCategorical.keySet).stripSuffix("\n") + lsviGlobaalSqlTail
    }),

    Query("q110_lsvi_moneos_globaal", (s, dir) => {
      val v3m = graft.lsvi.Versie3Moneos
      val catVws = graft.lsvi.Versie3Dunes.wtCategorical.keySet ++
        graft.lsvi.Versie3Forests.categorical.keySet
      val (plots, m) = wtGroupInputs(s, dir, "MP_", v3m.habitattypes,
        v3m.rules, catVws)
      lsviGlobaalFixedPoint(graft.lsvi.LsviForest.indicator(
        graft.lsvi.LsviForest.detail(plots, m, v3m.rulesDf(s))))
    }, Some {
      val v3m = graft.lsvi.Versie3Moneos
      val catVws = graft.lsvi.Versie3Dunes.wtCategorical.keySet ++
        graft.lsvi.Versie3Forests.categorical.keySet
      wtGroupOracleCtes("MP_", v3m.habitattypes, v3m.rules,
        v3m.downVoorwaarden, v3m.orVoorwaarden,
        graft.lsvi.Versie3Forests.noAggregateIndicators,
        catVws).stripSuffix("\n") + lsviGlobaalSqlTail
    }),

    // ---- K2 GRASSLAND/MARSH Versie-3 rule content
    // (graft.lsvi.Versie3Grasslands): the sixth rule set — strict-<
    // verdicts, a per-plot dynamic reference (rbbzil), and the T
    // class/value references. ----
    Query("q111_lsvi_grassland_globaal", (s, dir) => {
      val v3g = graft.lsvi.Versie3Grasslands
      val (plots, m) = wtGroupInputs(s, dir, "GP_", v3g.habitattypes,
        v3g.rules, v3g.tCategorical.keySet, Some(v3g.dynamicVoorwaarde))
      lsviGlobaalFixedPoint(graft.lsvi.LsviForest.indicator(
        graft.lsvi.LsviForest.detail(plots, m, v3g.rulesDf(s))))
    }, Some {
      val v3g = graft.lsvi.Versie3Grasslands
      // mirrors Versie3Grasslands.rulesDf rule-for-rule
      val meta = (vw: String, ref: String, tm: Double, _: String) => {
        val isT = ref == "T"
        val isCat = isT && !v3g.tNumeric(vw)
        val op =
          if (v3g.strictVoorwaarden(vw)) "<"
          else if (v3g.downVoorwaarden(vw)) "<=" else ">="
        val scoreRef: Option[Double] =
          if (isT) Some(v3g.tScoreRef)
          else if (ref == "dynamisch") None
          else Some(ref.toDouble)
        val statusRef = if (isT && !isCat) Some(v3g.tStatusUp) else scoreRef
        val met = if (isCat) Some(v3g.tCategorical(vw)) else None
        (op, statusRef, scoreRef, if (isT) 100.0 else tm, met, "and", true)
      }
      wtGroupOracleCtes("GP_", v3g.habitattypes, v3g.rules,
        v3g.downVoorwaarden, Set.empty, Set.empty, v3g.tCategorical.keySet,
        Some(v3g.dynamicVoorwaarde), Some(meta)).stripSuffix("\n") +
        lsviGlobaalSqlTail
    }),

    // ---- K2 STREAMS (3260) Versie-3 rule content
    // (graft.lsvi.Versie3Streams): the seventh and final rule set — an
    // OR-combined sleutelsoorten pair, a Tansley-class split reference
    // (status 0.1 / score 0.05), and the HT3260_LSVI.Rmd:96-119
    // multi-growth-form max-cover species prep feeding the key-species
    // counts. ----
    Query("q112_lsvi_streams_globaal", (s, dir) => {
      val (plots, m) = streamsInputs(s, dir)
      lsviGlobaalFixedPoint(graft.lsvi.LsviForest.indicator(
        graft.lsvi.LsviForest.detail(plots, m, graft.lsvi.Versie3Streams.rulesDf(s))))
    }, Some(
      (streamsOracleCtes.stripSuffix("\n") +
      lsviGlobaalSqlTail))),

    // ---- Design-level status/trend shapes over the per-plot LSVI
    // results (graft.lsvi.LsviStatus): latest-cycle-per-point
    // selection, stratified favourability with Wilson bounds and the
    // Goed/Niet goed/Onbekend verdict (q113), the mean
    // habitat-quality index with a normal interval (q114), and the
    // McNemar paired two-cycle trend on weighted discordant pairs
    // (q115) — the reference's status_indicatoren_fs / index_hq_fs /
    // mc_nemar_fs shapes. ----
    Query("q113_status_indicatoren", (s, dir) => {
      val (meta, ind) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.statusIndicatoren(ind, meta)
    }, Some {
      // q113: status_indicatoren — latest-cycle-per-point selection,
      // Binnen/Buiten/pooled strata, plain proportions, Wilson z bounds
      // (same closed form on both sides), Goed/Niet goed/Onbekend at 75%.
      val z = graft.lsvi.LsviStatus.z975
      val z2 = z * z
      statusOracleCtes.stripSuffix("\n") +
        s""", ind AS (
           |  SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
           |    'ind_' || j.j AS indicator,
           |    CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
           |    CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
           |         ELSE ((p.ck * (j.j + 2)) % 5) % 2 = 1 END AS status
           |  FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
           |rows_ AS (
           |  SELECT i.habitattype,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN l.in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    i.criterium, i.indicator, i.belang, i.status
           |  FROM ind i JOIN latest l ON i.id = l.id
           |  CROSS JOIN (VALUES (0),(1)) g(g)
           |  WHERE i.status IS NOT NULL),
           |agg AS (
           |  SELECT habitattype, sbzh, criterium, indicator, belang,
           |    count(*) AS n_obs, count(CASE WHEN status THEN 1 END) AS k
           |  FROM rows_ GROUP BY 1, 2, 3, 4, 5),
           |wil AS (
           |  SELECT *, CAST(k AS DOUBLE) / CAST(n_obs AS DOUBLE) AS p,
           |    1.0 + $z2 / n_obs AS den
           |  FROM agg),
           |wil2 AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * n_obs)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / n_obs + $z2 / (4.0 * n_obs * n_obs)) AS half
           |  FROM wil),
           |fin AS (
           |  SELECT habitattype, sbzh, criterium, indicator, belang, n_obs,
           |    round(100.0 * CAST(k AS DOUBLE) / n_obs, 6) AS aandeel_gunstig,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6)
           |      AS aandeel_gunstig_llci,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6)
           |      AS aandeel_gunstig_ulci
           |  FROM wil2)
           |SELECT *, CASE WHEN aandeel_gunstig_llci >= 75 THEN 'Goed'
           |               WHEN aandeel_gunstig_ulci < 75 THEN 'Niet goed'
           |               ELSE 'Onbekend' END AS beoordeling
           |FROM fin""".stripMargin
    }),

    Query("q114_index_hq", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.indexHq(meta)
    }, Some {
      // q114: index_hq — mean habitat-quality index per stratum/pooled
      // group; 1e-6 fixed-point sums for order-independent distributed
      // aggregation, exact integer variance identity, z interval.
      val z = graft.lsvi.LsviStatus.z975
      statusOracleCtes.stripSuffix("\n") +
        s""", g AS (
           |  SELECT l.habitattype,
           |    CASE WHEN gg.g = 0 THEN 'SBZH' ELSE 'Habitattype' END AS type_resultaat,
           |    CASE WHEN gg.g = 1 THEN 'Binnen & Buiten'
           |         WHEN l.in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    CAST(floor(l.idx * 1000000.0 + 0.5) AS BIGINT) AS x6
           |  FROM latest l CROSS JOIN (VALUES (0),(1)) gg(g)
           |  WHERE l.idx IS NOT NULL),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, count(*) AS n_obs,
           |    CAST(sum(x6) AS BIGINT) AS s6, CAST(sum(x6 * x6) AS BIGINT) AS ss6
           |  FROM g GROUP BY 1, 2, 3),
           |f AS (
           |  SELECT *, CAST(s6 AS DOUBLE) / n_obs / 1000000.0 AS m,
           |    sqrt(CAST(n_obs * ss6 - s6 * s6 AS DOUBLE)
           |         / (n_obs * (n_obs - 1))) / 1000000.0 AS sd
           |  FROM agg)
           |SELECT type_resultaat, habitattype, sbzh, n_obs,
           |  round(m, 6) AS index_hq_mean,
           |  CASE WHEN n_obs > 1
           |       THEN round(m - $z * sd / sqrt(CAST(n_obs AS DOUBLE)), 6) END
           |    AS index_hq_llci,
           |  CASE WHEN n_obs > 1
           |       THEN round(m + $z * sd / sqrt(CAST(n_obs AS DOUBLE)), 6) END
           |    AS index_hq_ulci
           |FROM f""".stripMargin
    }),

    Query("q115_mc_nemar", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.mcNemar(meta)
    }, Some(
      // q115: mc_nemar — paired two-cycle transitions per point, n +
      // weighted n_adj per transition, chi-square without continuity
      // correction on the weighted discordant counts (quarter-step
      // weights are exact in binary: distributed sums replay bit-equal).
      (statusOracleCtes.stripSuffix("\n") +
      """, pairs AS (
        |  SELECT habitattype, point_code,
        |    arg_min(lsvi, mdate || '|' || id) AS l1, arg_max(lsvi, mdate || '|' || id) AS l2,
        |    arg_max(w, mdate || '|' || id) AS w, count(DISTINCT mdate) AS nc
        |  FROM plots GROUP BY 1, 2),
        |p2 AS (
        |  SELECT habitattype, l1 || ' - ' || l2 AS trend_local, w
        |  FROM pairs WHERE nc > 1),
        |counts AS (
        |  SELECT habitattype, trend_local, count(*) AS n,
        |    round(sum(w), 6) AS n_adj
        |  FROM p2 GROUP BY 1, 2),
        |disc AS (
        |  SELECT habitattype,
        |    sum(CASE WHEN trend_local = 'gunstig - ongunstig' THEN w ELSE 0.0 END) AS b,
        |    sum(CASE WHEN trend_local = 'ongunstig - gunstig' THEN w ELSE 0.0 END) AS c
        |  FROM p2 GROUP BY 1)
        |SELECT c.habitattype, c.trend_local, c.n, c.n_adj,
        |  CASE WHEN d.b + d.c > 0.0
        |       THEN round(pow(d.b - d.c, 2) / (d.b + d.c), 6) END AS mcnemar_chi2
        |FROM counts c JOIN disc d ON c.habitattype = d.habitattype""".stripMargin))),

    Query("q116_trend_indicatoren", (s, dir) => {
      val (meta, ind) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.trendIndicatoren(ind, meta)
    }, Some {
      // q116: trend_indicatoren — per-cycle paired proportions with
      // Wilson bounds, paired-Wald difference interval from the
      // discordant counts, relative change as a point estimate.
      val z = graft.lsvi.LsviStatus.z975
      val z2 = z * z
      statusOracleCtes.stripSuffix("\n") +
        s""", pairsAll AS (
           |  SELECT habitattype, point_code,
           |    arg_min(id, mdate || '|' || id) AS id_1, arg_max(id, mdate || '|' || id) AS id_2,
           |    count(DISTINCT mdate) AS nc
           |  FROM plots GROUP BY 1, 2),
           |prs AS (SELECT * FROM pairsAll WHERE nc > 1),
           |ind AS (
           |  SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
           |    'ind_' || j.j AS indicator,
           |    CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
           |    CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
           |         ELSE ((p.ck * (j.j + 2)) % 5) % 2 = 1 END AS status
           |  FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
           |known AS (SELECT * FROM ind WHERE status IS NOT NULL),
           |cyc AS (
           |  SELECT id_1 AS id, 'c_1' AS periode FROM prs
           |  UNION ALL
           |  SELECT id_2 AS id, 'c_2' AS periode FROM prs),
           |pc AS (
           |  SELECT k.habitattype, c.periode, k.criterium, k.indicator, k.belang,
           |    count(*) AS n_obs, count(CASE WHEN k.status THEN 1 END) AS k
           |  FROM known k JOIN cyc c ON k.id = c.id
           |  GROUP BY 1, 2, 3, 4, 5),
           |wil AS (
           |  SELECT *, CAST(k AS DOUBLE) / CAST(n_obs AS DOUBLE) AS p,
           |    1.0 + $z2 / n_obs AS den
           |  FROM pc),
           |wil2 AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * n_obs)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / n_obs + $z2 / (4.0 * n_obs * n_obs)) AS half
           |  FROM wil),
           |aandeel AS (
           |  SELECT habitattype, periode, criterium, indicator, belang, n_obs,
           |    'aandeel_gunstig' AS parameter,
           |    round(100.0 * CAST(k AS DOUBLE) / n_obs, 6) AS mean,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6) AS llci,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6) AS ulci
           |  FROM wil2),
           |s1 AS (
           |  SELECT p.habitattype, p.point_code, k.criterium, k.indicator,
           |    k.belang, k.status AS st1
           |  FROM known k JOIN prs p ON k.id = p.id_1),
           |s2 AS (
           |  SELECT p.habitattype, p.point_code, k.criterium, k.indicator,
           |    k.status AS st2
           |  FROM known k JOIN prs p ON k.id = p.id_2),
           |pr AS (
           |  SELECT s1.habitattype, s1.criterium, s1.indicator, s1.belang,
           |    count(*) AS n_obs,
           |    count(CASE WHEN st1 THEN 1 END) AS k1,
           |    count(CASE WHEN st1 AND NOT st2 THEN 1 END) AS b,
           |    count(CASE WHEN NOT st1 AND st2 THEN 1 END) AS c
           |  FROM s1 JOIN s2 ON s1.habitattype = s2.habitattype
           |    AND s1.point_code = s2.point_code
           |    AND s1.criterium = s2.criterium AND s1.indicator = s2.indicator
           |  GROUP BY 1, 2, 3, 4),
           |vr AS (
           |  SELECT *,
           |    100.0 * (CAST(c AS DOUBLE) - CAST(b AS DOUBLE))
           |      / CAST(n_obs AS DOUBLE) AS d,
           |    100.0 * sqrt(CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
           |        - pow(CAST(b AS DOUBLE) - CAST(c AS DOUBLE), 2)
           |          / CAST(n_obs AS DOUBLE))
           |      / CAST(n_obs AS DOUBLE) AS se,
           |    100.0 * CAST(k1 AS DOUBLE) / CAST(n_obs AS DOUBLE) AS a1
           |  FROM pr)
           |SELECT * FROM aandeel
           |UNION ALL
           |SELECT habitattype, 'c_2' AS periode, criterium, indicator, belang,
           |  n_obs, 'verschil_aandeel_gunstig_abs' AS parameter,
           |  round(d, 6) AS mean,
           |  round(d - $z * se, 6) AS llci,
           |  round(d + $z * se, 6) AS ulci
           |FROM vr
           |UNION ALL
           |SELECT habitattype, 'c_2' AS periode, criterium, indicator, belang,
           |  n_obs, 'verschil_aandeel_gunstig_rel' AS parameter,
           |  CASE WHEN a1 > 0.0
           |       THEN round(100.0 * (CAST(c AS DOUBLE) - CAST(b AS DOUBLE))
           |                  / CAST(n_obs AS DOUBLE) / a1 * 100.0, 6) END AS mean,
           |  CAST(NULL AS DOUBLE) AS llci,
           |  CAST(NULL AS DOUBLE) AS ulci
           |FROM vr""".stripMargin
    }),

    Query("q117_status_habitat", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.statusHabitat(meta)
    }, Some {
      // q117: status_habitat — the q113 Wilson machinery on the
      // plot-level lsvi verdict.
      val z = graft.lsvi.LsviStatus.z975
      val z2 = z * z
      statusOracleCtes.stripSuffix("\n") +
        s""", rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    (lsvi = 'gunstig') AS gn
           |  FROM latest CROSS JOIN (VALUES (0),(1)) g(g)
           |  WHERE lsvi IS NOT NULL),
           |agg AS (
           |  SELECT habitattype, sbzh, count(*) AS n_obs,
           |    count(CASE WHEN gn THEN 1 END) AS k
           |  FROM rows_ GROUP BY 1, 2),
           |wil AS (
           |  SELECT *, CAST(k AS DOUBLE) / CAST(n_obs AS DOUBLE) AS p,
           |    1.0 + $z2 / n_obs AS den
           |  FROM agg),
           |wil2 AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * n_obs)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / n_obs + $z2 / (4.0 * n_obs * n_obs)) AS half
           |  FROM wil),
           |fin AS (
           |  SELECT habitattype, sbzh, n_obs,
           |    round(100.0 * CAST(k AS DOUBLE) / n_obs, 6) AS aandeel_gunstig,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6)
           |      AS aandeel_gunstig_llci,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6)
           |      AS aandeel_gunstig_ulci
           |  FROM wil2)
           |SELECT *, CASE WHEN aandeel_gunstig_llci >= 75 THEN 'Goed'
           |               WHEN aandeel_gunstig_ulci < 75 THEN 'Niet goed'
           |               ELSE 'Onbekend' END AS beoordeling
           |FROM fin""".stripMargin
    }),

    Query("q118_index_ind", (s, dir) => {
      val (meta, ind) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.indexInd(ind, meta)
    }, Some {
      // q118: index_ind — the q114 fixed-point mean machinery at
      // indicator grain.
      val z = graft.lsvi.LsviStatus.z975
      statusOracleCtes.stripSuffix("\n") +
        s""", ind AS (
           |  SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
           |    'ind_' || j.j AS indicator,
           |    CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
           |    CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
           |         ELSE CAST((p.ck * (j.j + 4)) % 2001 - 1000 AS DOUBLE) / 1000.0
           |         END AS vs
           |  FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
           |rows_ AS (
           |  SELECT i.habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN l.in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    i.criterium, i.indicator, i.belang,
           |    CAST(floor(i.vs * 1000000.0 + 0.5) AS BIGINT) AS x6
           |  FROM ind i JOIN latest l ON i.id = l.id
           |  CROSS JOIN (VALUES (0),(1)) g(g)
           |  WHERE i.vs IS NOT NULL),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, criterium, indicator,
           |    belang, count(*) AS n_obs,
           |    CAST(sum(x6) AS BIGINT) AS s6, CAST(sum(x6 * x6) AS BIGINT) AS ss6
           |  FROM rows_ GROUP BY 1, 2, 3, 4, 5, 6),
           |f AS (
           |  SELECT *, CAST(s6 AS DOUBLE) / n_obs / 1000000.0 AS m,
           |    sqrt(CAST(n_obs * ss6 - s6 * s6 AS DOUBLE)
           |         / (n_obs * (n_obs - 1))) / 1000000.0 AS sd
           |  FROM agg)
           |SELECT type_resultaat, habitattype, sbzh, criterium, indicator,
           |  belang, n_obs,
           |  round(m, 6) AS index_ind_mean,
           |  CASE WHEN n_obs > 1
           |       THEN round(m - $z * sd / sqrt(CAST(n_obs AS DOUBLE)), 6) END
           |    AS index_ind_llci,
           |  CASE WHEN n_obs > 1
           |       THEN round(m + $z * sd / sqrt(CAST(n_obs AS DOUBLE)), 6) END
           |    AS index_ind_ulci
           |FROM f""".stripMargin
    }),

    Query("q119_trend_index_hq", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.trendIndexHq(meta)
    }, Some {
      // q119: trend_index_hq — exact fixed-point paired differences of
      // the plot index, z interval, relative change = sum(d)/sum(x1).
      val z = graft.lsvi.LsviStatus.z975
      statusOracleCtes.stripSuffix("\n") +
        s""", px AS (
           |  SELECT habitattype, point_code, id, mdate, in_sac,
           |    CAST(floor(idx * 1000000.0 + 0.5) AS BIGINT) AS x6
           |  FROM plots WHERE idx IS NOT NULL),
           |pairs AS (
           |  SELECT habitattype, point_code,
           |    arg_min(x6, mdate || '|' || id) AS x16, arg_max(x6, mdate || '|' || id) AS x26,
           |    arg_max(in_sac, mdate || '|' || id) AS in_sac,
           |    count(DISTINCT mdate) AS nc
           |  FROM px GROUP BY 1, 2),
           |d AS (
           |  SELECT habitattype, x26 - x16 AS d6, x16, in_sac
           |  FROM pairs WHERE nc > 1),
           |rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    d6, x16
           |  FROM d CROSS JOIN (VALUES (0),(1)) g(g)),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, count(*) AS n_obs,
           |    CAST(sum(d6) AS BIGINT) AS sd6,
           |    CAST(sum(d6 * d6) AS BIGINT) AS ssd6,
           |    CAST(sum(x16) AS BIGINT) AS s16
           |  FROM rows_ GROUP BY 1, 2, 3),
           |f AS (
           |  SELECT *, CAST(sd6 AS DOUBLE) / n_obs / 1000000.0 AS m,
           |    sqrt(CAST(n_obs * ssd6 - sd6 * sd6 AS DOUBLE)
           |         / (n_obs * (n_obs - 1))) / 1000000.0 AS sd
           |  FROM agg)
           |SELECT type_resultaat, habitattype, sbzh, n_obs,
           |  round(m, 6) AS index_diff_mean,
           |  CASE WHEN n_obs > 1
           |       THEN round(m - $z * sd / sqrt(CAST(n_obs AS DOUBLE)), 6) END
           |    AS index_diff_llci,
           |  CASE WHEN n_obs > 1
           |       THEN round(m + $z * sd / sqrt(CAST(n_obs AS DOUBLE)), 6) END
           |    AS index_diff_ulci,
           |  CASE WHEN s16 <> 0
           |       THEN round(CAST(sd6 AS DOUBLE) / CAST(s16 AS DOUBLE), 6) END
           |    AS index_diff_rel
           |FROM f""".stripMargin
    }),

    Query("q120_trend_index_ind", (s, dir) => {
      val (meta, ind) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.trendIndexInd(ind, meta)
    }, Some {
      // q120: trend_index_ind — the q119 machinery at indicator grain.
      val z = graft.lsvi.LsviStatus.z975
      statusOracleCtes.stripSuffix("\n") +
        s""", pairs AS (
           |  SELECT habitattype, point_code,
           |    arg_min(id, mdate || '|' || id) AS id_1, arg_max(id, mdate || '|' || id) AS id_2,
           |    arg_max(in_sac, mdate || '|' || id) AS in_sac,
           |    count(DISTINCT mdate) AS nc
           |  FROM plots GROUP BY 1, 2),
           |prs AS (SELECT * FROM pairs WHERE nc > 1),
           |ind AS (
           |  SELECT p.id, 'crit_' || (j.j % 2) AS criterium,
           |    'ind_' || j.j AS indicator,
           |    CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
           |    CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
           |         ELSE CAST(floor(CAST((p.ck * (j.j + 4)) % 2001 - 1000 AS DOUBLE)
           |                         / 1000.0 * 1000000.0 + 0.5) AS BIGINT)
           |         END AS x6
           |  FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
           |known AS (SELECT * FROM ind WHERE x6 IS NOT NULL),
           |s1 AS (
           |  SELECT p.habitattype, p.point_code, p.in_sac, k.criterium,
           |    k.indicator, k.belang, k.x6 AS x16
           |  FROM known k JOIN prs p ON k.id = p.id_1),
           |s2 AS (
           |  SELECT p.habitattype, p.point_code, k.criterium, k.indicator,
           |    k.x6 AS x26
           |  FROM known k JOIN prs p ON k.id = p.id_2),
           |d AS (
           |  SELECT s1.habitattype, s1.criterium, s1.indicator, s1.belang,
           |    s1.in_sac, s2.x26 - s1.x16 AS d6
           |  FROM s1 JOIN s2 ON s1.habitattype = s2.habitattype
           |    AND s1.point_code = s2.point_code
           |    AND s1.criterium = s2.criterium AND s1.indicator = s2.indicator),
           |rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    criterium, indicator, belang, d6
           |  FROM d CROSS JOIN (VALUES (0),(1)) g(g)),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, criterium, indicator,
           |    belang, count(*) AS n_obs,
           |    CAST(sum(d6) AS BIGINT) AS sd6,
           |    CAST(sum(d6 * d6) AS BIGINT) AS ssd6
           |  FROM rows_ GROUP BY 1, 2, 3, 4, 5, 6),
           |f AS (
           |  SELECT *, CAST(sd6 AS DOUBLE) / n_obs / 1000000.0 AS m,
           |    sqrt(CAST(n_obs * ssd6 - sd6 * sd6 AS DOUBLE)
           |         / (n_obs * (n_obs - 1))) / 1000000.0 AS sd
           |  FROM agg)
           |SELECT type_resultaat, habitattype, sbzh, criterium, indicator,
           |  belang, n_obs,
           |  round(m, 6) AS index_diff_mean,
           |  CASE WHEN n_obs > 1
           |       THEN round(m - $z * sd / sqrt(CAST(n_obs AS DOUBLE)), 6) END
           |    AS index_diff_llci,
           |  CASE WHEN n_obs > 1
           |       THEN round(m + $z * sd / sqrt(CAST(n_obs AS DOUBLE)), 6) END
           |    AS index_diff_ulci
           |FROM f""".stripMargin
    }),

    // q121/q122 complete the published status/trend shape catalogue:
    // the paired two-cycle habitat trend with the ten-class effect
    // classification (trend_habitat_*.tsv — klasse thresholds +-12pp
    // absolute / +-25% relative, validated 147/147 on the published
    // rows in TrendBeheerShapesSpec) and the management split with the
    // two-proportion chi-square (status_beheer_*.tsv).
    Query("q121_trend_habitat", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.trendHabitat(meta)
    }, Some(
      // q121: trend_habitat — per-cycle paired proportions with Wilson
      // bounds, paired-Wald absolute difference and log-ratio-delta
      // relative change, both classified by the ten-class effect CASE
      // (thresholds +-12pp abs / +-25% rel), year spans and the mean
      // revisit interval.
      (
      statusOracleCtes.stripSuffix("\n") +
        s""", pairs AS (
           |  SELECT habitattype, point_code,
           |    arg_min(lsvi, mdate || '|' || id) = 'gunstig' AS g1,
           |    arg_max(lsvi, mdate || '|' || id) = 'gunstig' AS g2,
           |    arg_max(in_sac, mdate || '|' || id) AS in_sac,
           |    min(mdate) AS j1, max(mdate) AS j2,
           |    count(DISTINCT mdate) AS nc
           |  FROM plots GROUP BY 1, 2),
           |""".stripMargin + trendHabitatOracleTail("nc > 1")))),

    Query("q122_status_beheer", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.statusBeheer(meta)
    }, Some {
      // q122: status_beheer — latest-per-point favourability split by
      // management with Wilson bounds and the two-proportion Pearson
      // chi-square (both rows of a habitattype carry the statistic; the
      // test needs both groups with n >= 5 and a non-degenerate table).
      val z = graft.lsvi.LsviStatus.z975
      val z2 = z * z
      val crit = graft.lsvi.LsviStatus.chi2Crit05
      statusOracleCtes.stripSuffix("\n") +
        s""", agg AS (
           |  SELECT habitattype, beheer AS passend_beheer, count(*) AS n_obs,
           |    count(CASE WHEN lsvi = 'gunstig' THEN 1 END) AS k
           |  FROM latest GROUP BY 1, 2),
           |tot AS (
           |  SELECT *,
           |    count(*) OVER (PARTITION BY habitattype) AS n_groups,
           |    sum(n_obs) OVER (PARTITION BY habitattype) AS n_tot,
           |    sum(k) OVER (PARTITION BY habitattype) AS k_tot,
           |    min(n_obs) OVER (PARTITION BY habitattype) AS n_min
           |  FROM agg),
           |chi AS (
           |  SELECT *,
           |    CASE WHEN n_groups = 2 AND n_min >= 5
           |              AND k_tot > 0 AND k_tot < n_tot
           |         THEN round(n_tot * pow(CAST(k AS DOUBLE) * n_tot
           |                  - CAST(k_tot AS DOUBLE) * n_obs, 2)
           |              / (CAST(n_obs AS DOUBLE) * (n_tot - n_obs) * k_tot
           |                 * (n_tot - k_tot)), 6)
           |         END AS chi2_beheer,
           |    CAST(k AS DOUBLE) / CAST(n_obs AS DOUBLE) AS p,
           |    1.0 + $z2 / n_obs AS den
           |  FROM tot),
           |wil AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * n_obs)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / n_obs + $z2 / (4.0 * n_obs * n_obs)) AS half
           |  FROM chi),
           |fin AS (
           |  SELECT 'Passend beheer' AS type_resultaat, habitattype,
           |    'Binnen & Buiten' AS sbzh, passend_beheer, n_obs,
           |    round(100.0 * p, 6) AS aandeel_gunstig,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6)
           |      AS aandeel_gunstig_llci,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6)
           |      AS aandeel_gunstig_ulci,
           |    chi2_beheer
           |  FROM wil)
           |SELECT type_resultaat, habitattype, sbzh, passend_beheer, n_obs,
           |  aandeel_gunstig, aandeel_gunstig_llci, aandeel_gunstig_ulci,
           |  CASE WHEN aandeel_gunstig_llci >= 75 THEN 'Goed'
           |       WHEN aandeel_gunstig_ulci < 75 THEN 'Niet goed'
           |       ELSE 'Onbekend' END AS beoordeling,
           |  chi2_beheer,
           |  CASE WHEN chi2_beheer IS NOT NULL THEN
           |    CASE WHEN chi2_beheer > $crit THEN 'significant'
           |         ELSE 'niet significant' END END AS effect_beheer
           |FROM fin""".stripMargin
    }),

    // ---- census / continuous published shapes (status_dikdoodhout,
    // trend_dikdoodhout, status_habitat_2110, trend_habitat_2110):
    // q125/q126 mean + normal interval of a measured per-plot value
    // over latest-per-(point, subtype) strata with habitattype
    // roll-ups for multi-subtype types; q127/q128 area-weighted
    // census shares with pessimistic/optimistic unknown-area bounds
    // and the factor-index trend klasse. ----
    Query("q125_status_continuous", (s, dir) =>
      graft.lsvi.LsviStatus.statusContinuous(continuousInputs(s, dir),
        "hoeveelheid dik dood hout",
        "aantal exemplaren dik dood hout per ha"),
      Some {
      // q125/q126: continuous status/trend — the same 1e-4 fixed-point
      // sums and double formula shapes as the engine, so values are
      // bit-identical under any aggregation order; roll-up rows union
      // in for multi-subtype types.
      val z = graft.lsvi.LsviStatus.z975
      continuousOracleCtes +
      s"""persub AS (
         |  SELECT habitattype, habitatsubtype, count(*) AS n,
         |    CAST(sum(v) AS BIGINT) AS s1,
         |    CAST(sum(v * v) AS BIGINT) AS s2
         |  FROM latest GROUP BY 1, 2),
         |$continuousRollupSql
         |SELECT type_resultaat, habitattype, habitatsubtype,
         |  'Binnen & Buiten' AS sbzh, n AS n_obs,
         |  round(CAST(s1 AS DOUBLE) / n / 10000.0, 6) AS gemiddelde,
         |  CASE WHEN n >= 2 THEN round(CAST(s1 AS DOUBLE) / n / 10000.0 -
         |    $z * (sqrt(greatest((CAST(s2 AS DOUBLE) -
         |      CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 0.0)) / 10000.0) /
         |    sqrt(n), 6) END AS gemiddelde_llci,
         |  CASE WHEN n >= 2 THEN round(CAST(s1 AS DOUBLE) / n / 10000.0 +
         |    $z * (sqrt(greatest((CAST(s2 AS DOUBLE) -
         |      CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 0.0)) / 10000.0) /
         |    sqrt(n), 6) END AS gemiddelde_ulci,
         |  'hoeveelheid dik dood hout' AS indicator,
         |  'aantal exemplaren dik dood hout per ha' AS voorwaarde
         |FROM allr""".stripMargin
    }),

    Query("q126_trend_continuous", (s, dir) =>
      graft.lsvi.LsviStatus.trendContinuous(continuousInputs(s, dir),
        "hoeveelheid dik dood hout",
        "aantal exemplaren dik dood hout per ha"),
      Some {
      val z = graft.lsvi.LsviStatus.z975
      continuousOracleCtes +
      s"""pairs AS (
         |  SELECT point_code, habitatsubtype,
         |    arg_min(v4, mdate || '|' || id) AS v1, arg_max(v4, mdate || '|' || id) AS v2,
         |    arg_max(habitattype, mdate || '|' || id) AS habitattype,
         |    count(DISTINCT mdate) AS ncd
         |  FROM m GROUP BY 1, 2),
         |pd AS (
         |  SELECT habitattype, habitatsubtype, v2 - v1 AS d
         |  FROM pairs WHERE ncd > 1),
         |persub AS (
         |  SELECT habitattype, habitatsubtype, count(*) AS n,
         |    CAST(sum(d) AS BIGINT) AS s1,
         |    CAST(sum(d * d) AS BIGINT) AS s2
         |  FROM pd GROUP BY 1, 2),
         |$continuousRollupSql
         |SELECT type_resultaat, habitattype, habitatsubtype,
         |  'Binnen & Buiten' AS sbzh, n AS n_obs,
         |  round(CAST(s1 AS DOUBLE) / n / 10000.0, 6) AS verschil,
         |  CASE WHEN n >= 5 THEN round(CAST(s1 AS DOUBLE) / n / 10000.0 -
         |    $z * (sqrt(greatest((CAST(s2 AS DOUBLE) -
         |      CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 0.0)) / 10000.0) /
         |    sqrt(n), 6) END AS verschil_llci,
         |  CASE WHEN n >= 5 THEN round(CAST(s1 AS DOUBLE) / n / 10000.0 +
         |    $z * (sqrt(greatest((CAST(s2 AS DOUBLE) -
         |      CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 0.0)) / 10000.0) /
         |    sqrt(n), 6) END AS verschil_ulci,
         |  'hoeveelheid dik dood hout' AS indicator,
         |  'aantal exemplaren dik dood hout per ha' AS voorwaarde
         |FROM allr""".stripMargin
    }),

    // q140/q141: the design-weighted continuous estimators — the
    // published dikdoodhout values are design-weighted, completing the
    // weighted family (q130-q137) for the continuous shapes. Same
    // single-chain plan; Σw-moments ride the same aggregations.
    Query("q140_status_continuous_weighted", (s, dir) =>
      graft.lsvi.LsviStatus.statusContinuous(continuousInputs(s, dir),
        "hoeveelheid dik dood hout",
        "aantal exemplaren dik dood hout per ha", Some("weight")),
      // q140/q141: the design-weighted continuous estimators — the
      // latest-visit/pair selection carries the visit weight (arg_max by
      // (date, id)), the roll-up sums the weighted partials, and the
      // interval is the family's Kish-n_eff z form with the exact engine
      // float shape. Quarter-step weights × fixed-point values keep all
      // sums exact on both engines.
      Some((continuousOracleCtes +
        s"""latestw AS (
           |  SELECT point_code, habitatsubtype,
           |    arg_max(v4, mdate || '|' || id) AS v,
           |    arg_max(w, mdate || '|' || id) AS w,
           |    arg_max(habitattype, mdate || '|' || id) AS habitattype
           |  FROM m GROUP BY 1, 2),
           |persubw AS (
           |  SELECT habitattype, habitatsubtype, count(*) AS n,
           |    sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(w * v) AS swv, sum(w * v * v) AS swv2
           |  FROM latestw GROUP BY 1, 2),
           |$continuousRollupWeightedSql
           |${continuousWeightedSelectSql("gemiddelde", 2)}""".stripMargin))),

    Query("q141_trend_continuous_weighted", (s, dir) =>
      graft.lsvi.LsviStatus.trendContinuous(continuousInputs(s, dir),
        "hoeveelheid dik dood hout",
        "aantal exemplaren dik dood hout per ha", Some("weight")),
      Some((continuousOracleCtes +
        s"""pairsw AS (
           |  SELECT point_code, habitatsubtype,
           |    arg_min(v4, mdate || '|' || id) AS v1,
           |    arg_max(v4, mdate || '|' || id) AS v2,
           |    arg_max(w, mdate || '|' || id) AS w,
           |    arg_max(habitattype, mdate || '|' || id) AS habitattype,
           |    count(DISTINCT mdate) AS ncd
           |  FROM m GROUP BY 1, 2),
           |pdw AS (
           |  SELECT habitattype, habitatsubtype, w, v2 - v1 AS d
           |  FROM pairsw WHERE ncd > 1),
           |persubw AS (
           |  SELECT habitattype, habitatsubtype, count(*) AS n,
           |    sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(w * d) AS swv, sum(w * d * d) AS swv2
           |  FROM pdw GROUP BY 1, 2),
           |$continuousRollupWeightedSql
           |${continuousWeightedSelectSql("verschil", 5)}""".stripMargin))),

    Query("q127_status_area_census", (s, dir) =>
      graft.lsvi.LsviStatus.statusAreaCensus(censusPolys(s, dir, 1),
        Seq("indicator")),
      // q127/q128: area-weighted census shares — exact binary-fraction
      // areas sum identically in both engines; the klasse CASE mirrors
      // the point-estimate effectKlasse factor indexes.
      Some(s"""${censusOracleCte(1)}
         |SELECT type_resultaat, habitattype, sbzh, indicator,
         |  round(g, 6) AS opp_gunstig_ha, round(o, 6) AS opp_ongunstig_ha,
         |  round(u, 6) AS opp_onbekend_ha,
         |  round((100.0 * g / (g + o + u) +
         |    100.0 * (g + u) / (g + o + u)) / 2.0, 6) AS aandeel_gunstig,
         |  round(100.0 * g / (g + o + u), 6) AS aandeel_gunstig_llci,
         |  round(100.0 * (g + u) / (g + o + u), 6) AS aandeel_gunstig_ulci,
         |  CASE WHEN 100.0 * g / (g + o + u) >= 75.0 THEN 'Goed'
         |       WHEN 100.0 * (g + u) / (g + o + u) < 75.0 THEN 'Niet goed'
         |       ELSE 'Onbekend' END AS beoordeling
         |FROM agg1""".stripMargin)),

    Query("q128_trend_area_census", (s, dir) =>
      graft.lsvi.LsviStatus.trendAreaCensus(
        censusPolys(s, dir, 1).withColumn("date", lit(2017)),
        censusPolys(s, dir, 2).withColumn("date", lit(2023)),
        Seq("indicator")),
      Some(s"""${censusOracleCte(1)},
         |${censusOracleCte(2).replaceFirst("^WITH ", "")},
         |a1 AS (
         |  SELECT type_resultaat, habitattype, sbzh, indicator,
         |    (100.0 * g / (g + o + u) +
         |      100.0 * (g + u) / (g + o + u)) / 2.0 AS a
         |  FROM agg1),
         |a2 AS (
         |  SELECT type_resultaat, habitattype, sbzh, indicator,
         |    (100.0 * g / (g + o + u) +
         |      100.0 * (g + u) / (g + o + u)) / 2.0 AS a
         |  FROM agg2),
         |j AS (
         |  SELECT coalesce(a1.type_resultaat, a2.type_resultaat)
         |      AS type_resultaat,
         |    coalesce(a1.habitattype, a2.habitattype) AS habitattype,
         |    coalesce(a1.sbzh, a2.sbzh) AS sbzh,
         |    coalesce(a1.indicator, a2.indicator) AS indicator,
         |    a1.a AS av1, a2.a AS av2,
         |    -- + 0.0 normalizes IEEE -0.0 (round of the midpoints'
         |    -- division noise, e.g. -1e-14 -> -0.0 in DuckDB) to +0.0,
         |    -- matching Spark's BigDecimal round which has no signed
         |    -- zero; identity for every other value
         |    round(a2.a - a1.a, 2) + 0.0 AS d
         |  FROM a1 FULL JOIN a2 USING (type_resultaat, habitattype,
         |    sbzh, indicator))
         |SELECT type_resultaat, habitattype, sbzh, indicator,
         |  'verschil_aandeel_gunstig_abs' AS parameter,
         |  CASE WHEN av1 IS NOT NULL AND av2 IS NOT NULL THEN d END AS mean,
         |  CASE WHEN av1 IS NOT NULL AND av2 IS NOT NULL THEN
         |    CASE WHEN d > 12.0 THEN '1' WHEN d < -12.0 THEN '7'
         |         WHEN d > 0.0 THEN '3' WHEN d < 0.0 THEN '5'
         |         ELSE '4' END END AS klasse,
         |  2017 AS jaar_min, 2023 AS jaar_max, 6 AS verschil_jaar
         |FROM j""".stripMargin)),

    // cycle-based pairing (the grassland/marsh scheme: overlapping
    // per-stratum 6-year windows — see LsviStatus.assignCycles): only
    // points seen in BOTH cycle 0 and 1 pair; same-cycle revisits and
    // cycle-2 visits drop out
    Query("q129_trend_habitat_cycles", (s, dir) =>
      graft.lsvi.LsviStatus.trendHabitat(
        graft.lsvi.LsviStatus.assignCycles(cycleTrendInputs(s, dir))),
      Some {
      // q129: cycle-based pairing — the same trend tail over pairs that
      // require one visit in each of cycles 0 and 1, with the cycle
      // derived from each habitatsubtype's first visit year like
      // assignCycles (6-year windows).
      val typeList = graft.lsvi.Versie3Forests.habitattypes
        .map(sqlStr).mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT c_custkey AS ck, c_custkey // 2 AS pt
         |  FROM customer WHERE (c_custkey * 3) % 7 <> 0),
         |plots0 AS (
         |  SELECT 'CY_' || ck AS id,
         |    $typeList[CAST(pt % 11 AS INTEGER) + 1] AS habitattype,
         |    $typeList[CAST(pt % 11 AS INTEGER) + 1] || '_s' || (pt % 3)
         |      AS habitatsubtype,
         |    'pt_' || pt AS point_code,
         |    2010 + 3 * (ck % 5) AS mdate,
         |    CASE WHEN pt % 3 < 2 THEN 1 ELSE 0 END AS in_sac,
         |    CASE WHEN (ck * 5) % 3 = 0 THEN 'gunstig' ELSE 'ongunstig' END
         |      AS lsvi
         |  FROM base),
         |y0 AS (
         |  SELECT habitatsubtype, min(mdate) AS ys FROM plots0 GROUP BY 1),
         |cycplots AS (
         |  SELECT p.*, CAST(floor((p.mdate - y.ys) / 6) AS INTEGER) AS cyc
         |  FROM plots0 p JOIN y0 y USING (habitatsubtype)),
         |pairs AS (
         |  SELECT habitattype, point_code,
         |    arg_min(lsvi, mdate || '|' || id) = 'gunstig' AS g1,
         |    arg_max(lsvi, mdate || '|' || id) = 'gunstig' AS g2,
         |    arg_max(in_sac, mdate || '|' || id) AS in_sac,
         |    min(mdate) AS j1, max(mdate) AS j2,
         |    count(DISTINCT cyc) AS nc
         |  FROM cycplots WHERE cyc IN (0, 1) GROUP BY 1, 2),
         |""".stripMargin + trendHabitatOracleTail("nc = 2")
    }),

    // ---- design-weighted status estimators (LsviStatus under a
    // weight column): Hájek shares/means Σw·x/Σw with Kish-n_eff Wilson /
    // z intervals — the machinery that reproduces the reference's
    // design-weighted pooled rows (WeightedStatusSpec replays
    // status_indicatoren_fs / index_hq_fs pooled rows from solved
    // stratum weights). q130 weights the habitat-status shape, q131
    // the habitat-quality mean (over the binary-fraction index twin —
    // see statusInputs). ----
    Query("q130_status_habitat_weighted", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.statusHabitat(meta, Some("weight"))
    }, Some {
      // q130: design-weighted status_habitat — Hájek share Σw·g/Σw with
      // the Kish-n_eff Wilson interval. Quarter-step weights keep every
      // distributed double sum exact, so the engine/oracle hashes agree
      // under any aggregation order.
      val z = graft.lsvi.LsviStatus.z975
      val z2 = z * z
      statusOracleCtes.stripSuffix("\n") +
        s""", rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    lsvi = 'gunstig' AS gg, w
           |  FROM latest CROSS JOIN (VALUES (0),(1)) g(g)
           |  WHERE lsvi IS NOT NULL),
           |agg AS (
           |  SELECT habitattype, sbzh, count(*) AS n_obs,
           |    sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(CASE WHEN gg THEN w ELSE 0.0 END) AS swk
           |  FROM rows_ GROUP BY 1, 2),
           |e1 AS (
           |  SELECT *, sw * sw / sw2 AS neff, swk / sw AS p FROM agg),
           |e2 AS (SELECT *, 1.0 + $z2 / neff AS den FROM e1),
           |e3 AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * neff)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / neff
           |      + $z2 / (4.0 * neff * neff)) AS half
           |  FROM e2),
           |fin AS (
           |  SELECT habitattype, sbzh, n_obs,
           |    round(100.0 * swk / sw, 6) AS aandeel_gunstig,
           |    round(CASE WHEN swk = 0.0 OR swk = sw THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6)
           |      AS aandeel_gunstig_llci,
           |    round(CASE WHEN swk = 0.0 OR swk = sw THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6)
           |      AS aandeel_gunstig_ulci
           |  FROM e3)
           |SELECT *, CASE WHEN aandeel_gunstig_llci >= 75 THEN 'Goed'
           |               WHEN aandeel_gunstig_ulci < 75 THEN 'Niet goed'
           |               ELSE 'Onbekend' END AS beoordeling
           |FROM fin""".stripMargin
    }),

    Query("q131_index_hq_weighted", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.indexHq(
        meta.drop("index_mean_ind")
          .withColumnRenamed("index_b", "index_mean_ind"), Some("weight"))
    }, Some {
      // q131: design-weighted index_hq over the binary-fraction index
      // twin — weighted mean Σw·x/Σw, design-effect z interval
      // mean ± z·sqrt(v_pop/(n_eff − 1)).
      val z = graft.lsvi.LsviStatus.z975
      statusOracleCtes.stripSuffix("\n") +
        s""", rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END
           |      AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    idx_b AS x, w
           |  FROM latest CROSS JOIN (VALUES (0),(1)) g(g)
           |  WHERE idx_b IS NOT NULL),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, count(*) AS n_obs,
           |    sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(w * x) AS swx, sum(w * x * x) AS swx2
           |  FROM rows_ GROUP BY 1, 2, 3),
           |f AS (
           |  SELECT *, sw * sw / sw2 AS neff, swx / sw AS m FROM agg),
           |f2 AS (
           |  SELECT *, greatest(swx2 / sw - m * m, 0.0) AS vpop FROM f)
           |SELECT type_resultaat, habitattype, sbzh, n_obs,
           |  round(m, 6) AS index_hq_mean,
           |  CASE WHEN n_obs > 1
           |       THEN round(m - $z * sqrt(vpop / (neff - 1.0)), 6) END
           |    AS index_hq_llci,
           |  CASE WHEN n_obs > 1
           |       THEN round(m + $z * sqrt(vpop / (neff - 1.0)), 6) END
           |    AS index_hq_ulci
           |FROM f2""".stripMargin
    }),

    // ---- remaining weighted estimators, oracle-backed (q132-q135):
    // trend_habitat / status_indicatoren / index_ind /
    // trend_indicatoren with design weights. q132/q135 perturb the
    // weight on the 2020 visit (+0.125, a binary fraction) so the
    // latest-visit weight the pairing selects is distinguishable from
    // the first visit's. q134 snaps verschilscore to its nearest
    // 1/1024 step so every weighted double sum is exact and
    // order-independent (same rationale as q131's binary-fraction
    // index twin; weights are quarter steps, so w·x and w·x² are
    // 2^-12 / 2^-22 multiples). ----
    Query("q132_trend_habitat_weighted", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.trendHabitat(
        meta.withColumn("weight",
          col("weight") + when(col("date") === 2020, 0.125).otherwise(0.0)),
        Some("weight"))
    }, Some(
      // q132: design-weighted trend_habitat — the q121 pairing with the
      // latest-visit weight (2020 visits carry +0.125), weighted shares,
      // effective-count Wilson/Wald/log-ratio intervals, both klasse
      // ladders. Every weighted sum is a binary-fraction multiple, so
      // the distributed aggregation is order-independent on both sides.
      (
      statusOracleCtes.stripSuffix("\n") +
        s""", pairs AS (
           |  SELECT habitattype, point_code,
           |    arg_min(lsvi, mdate || '|' || id) = 'gunstig' AS g1,
           |    arg_max(lsvi, mdate || '|' || id) = 'gunstig' AS g2,
           |    arg_max(in_sac, mdate || '|' || id) AS in_sac,
           |    arg_max(w + CASE WHEN mdate = 2020 THEN 0.125 ELSE 0.0 END,
           |            mdate || '|' || id) AS w,
           |    min(mdate) AS j1, max(mdate) AS j2,
           |    count(DISTINCT mdate) AS nc
           |  FROM plots GROUP BY 1, 2),
           |""".stripMargin + trendHabitatWeightedOracleTail))),

    Query("q133_status_indicatoren_weighted", (s, dir) => {
      val (meta, ind) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.statusIndicatoren(ind, meta, Some("weight"))
    }, Some {
      // q133: design-weighted status_indicatoren — q113 with Hájek
      // shares and the Kish-n_eff Wilson interval (the q130 formula
      // shape at indicator grain).
      val z = graft.lsvi.LsviStatus.z975
      val z2 = z * z
      statusOracleCtes.stripSuffix("\n") +
        s""", ind AS (
           |  SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
           |    'ind_' || j.j AS indicator,
           |    CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
           |    CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
           |         ELSE ((p.ck * (j.j + 2)) % 5) % 2 = 1 END AS status
           |  FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
           |rows_ AS (
           |  SELECT i.habitattype,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN l.in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    i.criterium, i.indicator, i.belang, i.status, l.w
           |  FROM ind i JOIN latest l ON i.id = l.id
           |  CROSS JOIN (VALUES (0),(1)) g(g)
           |  WHERE i.status IS NOT NULL),
           |agg AS (
           |  SELECT habitattype, sbzh, criterium, indicator, belang,
           |    count(*) AS n_obs, sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(CASE WHEN status THEN w ELSE 0.0 END) AS swk
           |  FROM rows_ GROUP BY 1, 2, 3, 4, 5),
           |e1 AS (
           |  SELECT *, sw * sw / sw2 AS neff, swk / sw AS p FROM agg),
           |e2 AS (SELECT *, 1.0 + $z2 / neff AS den FROM e1),
           |e3 AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * neff)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / neff
           |      + $z2 / (4.0 * neff * neff)) AS half
           |  FROM e2),
           |fin AS (
           |  SELECT habitattype, sbzh, criterium, indicator, belang, n_obs,
           |    round(100.0 * swk / sw, 6) AS aandeel_gunstig,
           |    round(CASE WHEN swk = 0.0 OR swk = sw THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6)
           |      AS aandeel_gunstig_llci,
           |    round(CASE WHEN swk = 0.0 OR swk = sw THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6)
           |      AS aandeel_gunstig_ulci
           |  FROM e3)
           |SELECT *, CASE WHEN aandeel_gunstig_llci >= 75 THEN 'Goed'
           |               WHEN aandeel_gunstig_ulci < 75 THEN 'Niet goed'
           |               ELSE 'Onbekend' END AS beoordeling
           |FROM fin""".stripMargin
    }),

    Query("q134_index_ind_weighted", (s, dir) => {
      val (meta, ind) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.indexInd(
        ind.withColumn("verschilscore",
          round(col("verschilscore") * 1024) / 1024.0), meta, Some("weight"))
    }, Some {
      // q134: design-weighted index_ind over the 1/1024-snapped
      // verschilscore — Hájek mean, design-effect z interval (the q131
      // weighted-mean tail at indicator grain).
      val z = graft.lsvi.LsviStatus.z975
      statusOracleCtes.stripSuffix("\n") +
        s""", ind AS (
           |  SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
           |    'ind_' || j.j AS indicator,
           |    CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
           |    CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
           |         ELSE round((CAST((p.ck * (j.j + 4)) % 2001 - 1000 AS DOUBLE)
           |                     / 1000.0) * 1024) / 1024.0
           |         END AS x
           |  FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
           |rows_ AS (
           |  SELECT i.habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END
           |      AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN l.in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    i.criterium, i.indicator, i.belang, i.x, l.w
           |  FROM ind i JOIN latest l ON i.id = l.id
           |  CROSS JOIN (VALUES (0),(1)) g(g)
           |  WHERE i.x IS NOT NULL),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, criterium, indicator,
           |    belang, count(*) AS n_obs,
           |    sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(w * x) AS swx, sum(w * x * x) AS swx2
           |  FROM rows_ GROUP BY 1, 2, 3, 4, 5, 6),
           |f AS (
           |  SELECT *, sw * sw / sw2 AS neff, swx / sw AS m FROM agg),
           |f2 AS (
           |  SELECT *, greatest(swx2 / sw - m * m, 0.0) AS vpop FROM f)
           |SELECT type_resultaat, habitattype, sbzh, criterium, indicator,
           |  belang, n_obs,
           |  round(m, 6) AS index_ind_mean,
           |  CASE WHEN n_obs > 1
           |       THEN round(m - $z * sqrt(vpop / (neff - 1.0)), 6) END
           |    AS index_ind_llci,
           |  CASE WHEN n_obs > 1
           |       THEN round(m + $z * sqrt(vpop / (neff - 1.0)), 6) END
           |    AS index_ind_ulci
           |FROM f2""".stripMargin
    }),

    Query("q135_trend_indicatoren_weighted", (s, dir) => {
      val (meta, ind) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.trendIndicatoren(ind,
        meta.withColumn("weight",
          col("weight") + when(col("date") === 2020, 0.125).otherwise(0.0)),
        Some("weight"))
    }, Some {
      // q135: design-weighted trend_indicatoren — the q116 pairing with
      // the latest-visit pair weight, per-cycle Hájek shares with
      // effective-count Wilson bounds, and the paired Wald difference on
      // the weighted within-point change (n_eff from the paired set).
      val z = graft.lsvi.LsviStatus.z975
      val z2 = z * z
      statusOracleCtes.stripSuffix("\n") +
        s""", pairsAll AS (
           |  SELECT habitattype, point_code,
           |    arg_min(id, mdate || '|' || id) AS id_1,
           |    arg_max(id, mdate || '|' || id) AS id_2,
           |    arg_max(w + CASE WHEN mdate = 2020 THEN 0.125 ELSE 0.0 END,
           |            mdate || '|' || id) AS w,
           |    count(DISTINCT mdate) AS nc
           |  FROM plots GROUP BY 1, 2),
           |prs AS (SELECT * FROM pairsAll WHERE nc > 1),
           |ind AS (
           |  SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
           |    'ind_' || j.j AS indicator,
           |    CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
           |    CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
           |         ELSE ((p.ck * (j.j + 2)) % 5) % 2 = 1 END AS status
           |  FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
           |known AS (SELECT * FROM ind WHERE status IS NOT NULL),
           |cyc AS (
           |  SELECT point_code, w, id_1 AS id, 'c_1' AS periode FROM prs
           |  UNION ALL
           |  SELECT point_code, w, id_2, 'c_2' FROM prs),
           |lvl1 AS (
           |  SELECT k.habitattype, c.point_code, k.criterium, k.indicator,
           |    k.belang,
           |    max(CASE WHEN c.periode = 'c_1' THEN k.status END) AS s1,
           |    max(CASE WHEN c.periode = 'c_2' THEN k.status END) AS s2,
           |    max(c.w) AS w
           |  FROM known k JOIN cyc c ON k.id = c.id
           |  GROUP BY 1, 2, 3, 4, 5),
           |lvl2 AS (
           |  SELECT habitattype, criterium, indicator, belang,
           |    count(s1) AS n1,
           |    sum(CASE WHEN s1 IS NOT NULL THEN w ELSE 0.0 END) AS sw1,
           |    sum(CASE WHEN s1 IS NOT NULL THEN w * w ELSE 0.0 END) AS sw1sq,
           |    sum(CASE WHEN s1 THEN w ELSE 0.0 END) AS swk1c,
           |    count(s2) AS n2,
           |    sum(CASE WHEN s2 IS NOT NULL THEN w ELSE 0.0 END) AS sw2_,
           |    sum(CASE WHEN s2 IS NOT NULL THEN w * w ELSE 0.0 END) AS sw2sq,
           |    sum(CASE WHEN s2 THEN w ELSE 0.0 END) AS swk2c,
           |    count(CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL THEN 1 END)
           |      AS np,
           |    sum(CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL
           |             THEN w ELSE 0.0 END) AS swp,
           |    sum(CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL
           |             THEN w * w ELSE 0.0 END) AS swpsq,
           |    sum(CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL AND s1
           |             THEN w ELSE 0.0 END) AS swk1,
           |    sum(CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL AND s1
           |             AND NOT s2 THEN w ELSE 0.0 END) AS swb,
           |    sum(CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL AND NOT s1
           |             AND s2 THEN w ELSE 0.0 END) AS swc
           |  FROM lvl1 GROUP BY 1, 2, 3, 4),
           |acyc AS (
           |  SELECT habitattype, 'c_1' AS periode, criterium, indicator,
           |    belang, n1 AS n_obs, sw1 AS sw, sw1sq AS sw2, swk1c AS swk
           |  FROM lvl2
           |  UNION ALL
           |  SELECT habitattype, 'c_2', criterium, indicator, belang,
           |    n2, sw2_, sw2sq, swk2c FROM lvl2),
           |wil AS (
           |  SELECT *, sw * sw / sw2 AS neff, swk / sw AS p
           |  FROM acyc WHERE n_obs > 0),
           |wil2 AS (SELECT *, 1.0 + $z2 / neff AS den FROM wil),
           |wil3 AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * neff)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / neff
           |      + $z2 / (4.0 * neff * neff)) AS half
           |  FROM wil2),
           |aandeel AS (
           |  SELECT habitattype, periode, criterium, indicator, belang, n_obs,
           |    'aandeel_gunstig' AS parameter,
           |    round(100.0 * swk / sw, 6) AS mean,
           |    round(CASE WHEN swk = 0.0 OR swk = sw THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6)
           |      AS llci,
           |    round(CASE WHEN swk = 0.0 OR swk = sw THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6)
           |      AS ulci
           |  FROM wil3),
           |vr AS (
           |  SELECT *, swp * swp / swpsq AS neff,
           |    (swc - swb) / swp AS md, swk1 / swp AS p1
           |  FROM lvl2 WHERE np > 0),
           |vr2 AS (
           |  SELECT *, 100.0 * md AS d,
           |    greatest((swb + swc) / swp - md * md, 0.0) AS vpop
           |  FROM vr),
           |vr3 AS (SELECT *, 100.0 * sqrt(vpop / neff) AS se FROM vr2)
           |SELECT * FROM aandeel
           |UNION ALL
           |SELECT habitattype, 'c_2' AS periode, criterium, indicator, belang,
           |  np AS n_obs, 'verschil_aandeel_gunstig_abs' AS parameter,
           |  round(d, 6) AS mean,
           |  round(d - $z * se, 6) AS llci,
           |  round(d + $z * se, 6) AS ulci
           |FROM vr3
           |UNION ALL
           |SELECT habitattype, 'c_2' AS periode, criterium, indicator, belang,
           |  np AS n_obs, 'verschil_aandeel_gunstig_rel' AS parameter,
           |  CASE WHEN p1 > 0.0 THEN round(md / p1 * 100.0, 6) END AS mean,
           |  CAST(NULL AS DOUBLE) AS llci,
           |  CAST(NULL AS DOUBLE) AS ulci
           |FROM vr3""".stripMargin
    }),

    // q136/q137: weighted paired index-difference shapes over the
    // binary-fraction twins (index_b / 1/1024-snapped verschilscore —
    // paired differences and their squares stay exact binary-fraction
    // multiples, so the weighted double sums are order-independent).
    // Same +0.125-on-the-2020-visit weight perturbation as q132/q135:
    // it makes the pairing's LATEST-visit weight selection observable
    // (a regression to the first visit's weight breaks the hash).
    Query("q136_trend_index_hq_weighted", (s, dir) => {
      val (meta, _) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.trendIndexHq(
        meta.drop("index_mean_ind")
          .withColumnRenamed("index_b", "index_mean_ind")
          .withColumn("weight",
            col("weight") + when(col("date") === 2020, 0.125).otherwise(0.0)),
        Some("weight"))
    }, Some {
      // q136: weighted trend_index_hq — paired index_b differences with
      // the latest-visit weight; Hájek mean + Kish-n_eff z interval +
      // weighted relative difference Σw·d / Σw·x1.
      val z = graft.lsvi.LsviStatus.z975
      statusOracleCtes.stripSuffix("\n") +
        s""", pairs AS (
           |  SELECT habitattype, point_code,
           |    arg_min(idx_b, mdate || '|' || id) AS x1,
           |    arg_max(idx_b, mdate || '|' || id) AS x2,
           |    arg_max(in_sac, mdate || '|' || id) AS in_sac,
           |    arg_max(w + CASE WHEN mdate = 2020 THEN 0.125 ELSE 0.0 END,
           |            mdate || '|' || id) AS w,
           |    count(DISTINCT mdate) AS nc
           |  FROM plots GROUP BY 1, 2),
           |prs AS (SELECT *, x2 - x1 AS d FROM pairs WHERE nc > 1),
           |rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END
           |      AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    d, x1, w
           |  FROM prs CROSS JOIN (VALUES (0),(1)) g(g)),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, count(*) AS n_obs,
           |    sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(w * d) AS swx, sum(w * d * d) AS swx2,
           |    sum(w * x1) AS swx1
           |  FROM rows_ GROUP BY 1, 2, 3),
           |f AS (
           |  SELECT *, sw * sw / sw2 AS neff, swx / sw AS m FROM agg),
           |f2 AS (
           |  SELECT *, greatest(swx2 / sw - m * m, 0.0) AS vpop FROM f)
           |SELECT type_resultaat, habitattype, sbzh, n_obs,
           |  CASE WHEN swx1 <> 0.0 THEN round(swx / swx1, 6) END
           |    AS index_diff_rel,
           |  round(m, 6) AS index_diff_mean,
           |  CASE WHEN n_obs > 1
           |       THEN round(m - $z * sqrt(vpop / (neff - 1.0)), 6) END
           |    AS index_diff_llci,
           |  CASE WHEN n_obs > 1
           |       THEN round(m + $z * sqrt(vpop / (neff - 1.0)), 6) END
           |    AS index_diff_ulci
           |FROM f2""".stripMargin
    }),

    Query("q137_trend_index_ind_weighted", (s, dir) => {
      val (meta, ind) = statusInputs(s, dir)
      graft.lsvi.LsviStatus.trendIndexInd(
        ind.withColumn("verschilscore",
          round(col("verschilscore") * 1024) / 1024.0),
        meta.withColumn("weight",
          col("weight") + when(col("date") === 2020, 0.125).otherwise(0.0)),
        Some("weight"))
    }, Some {
      // q137: weighted trend_index_ind — the q135 pairing joined to the
      // 1/1024-snapped verschilscore, paired differences per indicator,
      // Hájek mean + Kish-n_eff z interval.
      val z = graft.lsvi.LsviStatus.z975
      statusOracleCtes.stripSuffix("\n") +
        s""", pairsAll AS (
           |  SELECT habitattype, point_code,
           |    arg_min(id, mdate || '|' || id) AS id_1,
           |    arg_max(id, mdate || '|' || id) AS id_2,
           |    arg_max(in_sac, mdate || '|' || id) AS in_sac,
           |    arg_max(w + CASE WHEN mdate = 2020 THEN 0.125 ELSE 0.0 END,
           |            mdate || '|' || id) AS w,
           |    count(DISTINCT mdate) AS nc
           |  FROM plots GROUP BY 1, 2),
           |prs AS (SELECT * FROM pairsAll WHERE nc > 1),
           |ind AS (
           |  SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
           |    'ind_' || j.j AS indicator,
           |    CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
           |    CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
           |         ELSE round((CAST((p.ck * (j.j + 4)) % 2001 - 1000 AS DOUBLE)
           |                     / 1000.0) * 1024) / 1024.0
           |         END AS x
           |  FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
           |known AS (SELECT * FROM ind WHERE x IS NOT NULL),
           |cyc AS (
           |  SELECT point_code, in_sac, w, id_1 AS id, 'c_1' AS periode FROM prs
           |  UNION ALL
           |  SELECT point_code, in_sac, w, id_2, 'c_2' FROM prs),
           |lvl1 AS (
           |  SELECT k.habitattype, c.point_code, c.in_sac, k.criterium,
           |    k.indicator, k.belang,
           |    max(CASE WHEN c.periode = 'c_1' THEN k.x END) AS x1,
           |    max(CASE WHEN c.periode = 'c_2' THEN k.x END) AS x2,
           |    max(c.w) AS w
           |  FROM known k JOIN cyc c ON k.id = c.id
           |  GROUP BY 1, 2, 3, 4, 5, 6),
           |prd AS (
           |  SELECT *, x2 - x1 AS d FROM lvl1
           |  WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
           |rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END
           |      AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    criterium, indicator, belang, d, w
           |  FROM prd CROSS JOIN (VALUES (0),(1)) g(g)),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, criterium, indicator,
           |    belang, count(*) AS n_obs,
           |    sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(w * d) AS swx, sum(w * d * d) AS swx2
           |  FROM rows_ GROUP BY 1, 2, 3, 4, 5, 6),
           |f AS (
           |  SELECT *, sw * sw / sw2 AS neff, swx / sw AS m FROM agg),
           |f2 AS (
           |  SELECT *, greatest(swx2 / sw - m * m, 0.0) AS vpop FROM f)
           |SELECT type_resultaat, habitattype, sbzh, criterium, indicator,
           |  belang, n_obs,
           |  round(m, 6) AS index_diff_mean,
           |  CASE WHEN n_obs > 1
           |       THEN round(m - $z * sqrt(vpop / (neff - 1.0)), 6) END
           |    AS index_diff_llci,
           |  CASE WHEN n_obs > 1
           |       THEN round(m + $z * sqrt(vpop / (neff - 1.0)), 6) END
           |    AS index_diff_ulci
           |FROM f2""".stripMargin
    }),

    // q138: cycle-based pairing × design weights composed — the q129
    // overlapping-window scheme through the WEIGHTED trend estimator
    // (per-visit weights, the pairing keeps the latest cycle-1 visit's)
    Query("q138_trend_habitat_cycles_weighted", (s, dir) =>
      graft.lsvi.LsviStatus.trendHabitat(
        graft.lsvi.LsviStatus.assignCycles(
          cycleTrendInputs(s, dir).withColumn("weight",
            (expr("(date - 2010) div 3") + 1) * lit(0.25))),
        Some("weight")),
      Some {
      // q138: the q129 cycle-derived pairing CTEs with a per-visit
      // weight, feeding the weighted trend tail.
      val typeList = graft.lsvi.Versie3Forests.habitattypes
        .map(sqlStr).mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT c_custkey AS ck, c_custkey // 2 AS pt
         |  FROM customer WHERE (c_custkey * 3) % 7 <> 0),
         |plots0 AS (
         |  SELECT 'CY_' || ck AS id,
         |    $typeList[CAST(pt % 11 AS INTEGER) + 1] AS habitattype,
         |    $typeList[CAST(pt % 11 AS INTEGER) + 1] || '_s' || (pt % 3)
         |      AS habitatsubtype,
         |    'pt_' || pt AS point_code,
         |    2010 + 3 * (ck % 5) AS mdate,
         |    CASE WHEN pt % 3 < 2 THEN 1 ELSE 0 END AS in_sac,
         |    CASE WHEN (ck * 5) % 3 = 0 THEN 'gunstig' ELSE 'ongunstig' END
         |      AS lsvi,
         |    ((2010 + 3 * (ck % 5) - 2010) // 3 + 1) * 0.25 AS w
         |  FROM base),
         |y0 AS (
         |  SELECT habitatsubtype, min(mdate) AS ys FROM plots0 GROUP BY 1),
         |cycplots AS (
         |  SELECT p.*, CAST(floor((p.mdate - y.ys) / 6) AS INTEGER) AS cyc
         |  FROM plots0 p JOIN y0 y USING (habitatsubtype)),
         |pairs AS (
         |  SELECT habitattype, point_code,
         |    arg_min(lsvi, mdate || '|' || id) = 'gunstig' AS g1,
         |    arg_max(lsvi, mdate || '|' || id) = 'gunstig' AS g2,
         |    arg_max(in_sac, mdate || '|' || id) AS in_sac,
         |    arg_max(w, mdate || '|' || id) AS w,
         |    min(mdate) AS j1, max(mdate) AS j2,
         |    count(DISTINCT cyc) AS nc
         |  FROM cycplots WHERE cyc IN (0, 1) GROUP BY 1, 2),
         |""".stripMargin + trendHabitatWeightedOracleTail("nc = 2")
    }),

    // ---- E2 publish round trip (q139): the LAST-MILE composition the
    // per-shape queries cannot see — forest chain -> LsviReportJob ->
    // Vc sorted-TSV write (yml sidecar, data_hash) -> Vc verified read.
    // The read-back globaal subset is the hash-deterministic column
    // set (verdict, counts, count-ratio aandeel); the verschilscore
    // means stay in the written file but out of the compare (double
    // avg is aggregation-order dependent — q103 pins those via its
    // fixed-point twin). Oracle: q103's chain SQL wrapped in a column
    // subset — any corruption in sort, sidecar, escaping or type
    // restore breaks the hash. ----
    Query("q139_report_publish_roundtrip", (s, dir) => {
      val (plots, m) = forestInputs(s, dir)
      val meta = t(s, dir, "customer").select(
        concat(lit("FP_"), col("c_custkey")).as("id"),
        (lit(14610) + col("c_custkey") % 3650).cast("long").as("date"),
        concat(lit("vbi_"), expr("c_custkey div 2")).as("point_code"),
        lit(0.0).as("x"), lit(0.0).as("y"),
        (col("c_custkey") % 2).cast("int").as("in_sac"))
      val out = tempResultDir("graft-q139")
      graft.pipelines.LsviReportJob.run(plots, m,
        graft.lsvi.Versie3Forests.rulesDf(s), meta, out,
        graft.pipelines.LsviReportJob.Config(suffix = "fs",
          tables = Some(Set("lsvi_globaal"))))
      graft.io.Vc.read(s, s"$out/lsvi_globaal_fs")
        .select("id", "type_analysis", "status", "aggregatiemethode",
          "n_zb_ongunstig", "aandeel_gunstig")
    }, Some(
      // q139: the q103 chain SQL restricted to the hash-deterministic
      // globaal columns — the Spark side produced them through the
      // publish job's write -> verified-read round trip, so equality
      // here gates the whole Vc TSV/sidecar/type-restore path.
      ("SELECT id, type_analysis, status, aggregatiemethode, " +
        "n_zb_ongunstig, aandeel_gunstig FROM (" +
        forestGlobaalOracleSql + ") roundtrip"))),

    // ---- ROI selection report (data_heide_groot_schietveld.Rmd:32-117):
    // ROI polygons -> type filter -> PIP spatial join of measurement
    // points -> membership flag against the LSVI global results (the
    // report's `lsvi_data = id %in% lsvi_detail$id` check). Rectangles
    // with half-unit offsets keep the oracle interval-expressible while
    // Spark runs the generic grid-indexed ray-cast path. ----
    Query("q101_roi_selection", (s, dir) => {
      val meas = t(s, dir, "customer").select(
          col("c_custkey").as("id"),
          concat(lit("P"), col("c_custkey")).as("point_code"),
          when(col("c_custkey") % 4 === 0, "4010")
            .when(col("c_custkey") % 4 === 1, "4030")
            .when(col("c_custkey") % 4 === 2, "7140_oli")
            .otherwise("2310").as("type"),
          ((col("c_custkey") * 7) % 97).cast("double").as("x"),
          ((col("c_custkey") * 13) % 89).cast("double").as("y"))
        .where(col("type").isin("4010", "4030", "7140_oli"))
      val roi = t(s, dir, "region").select(
          concat(lit("md_"), col("r_regionkey")).as("code_md"),
          (((col("r_regionkey") * 19) % 60).cast("double") - 0.5).as("x0"),
          (((col("r_regionkey") * 23) % 50).cast("double") - 0.5).as("y0"))
        .withColumn("x1", col("x0") + 25.0)
        .withColumn("y1", col("y0") + 30.0)
      val polys = roi.select(col("code_md"), array(
        struct(col("x0").as("x"), col("y0").as("y")),
        struct(col("x1").as("x"), col("y0").as("y")),
        struct(col("x1").as("x"), col("y1").as("y")),
        struct(col("x0").as("x"), col("y1").as("y"))).as("ring"))
      val inRoi = graft.geo.GeoJoin.pointInPolygonJoin(
        meas, polys, "x", "y", "ring", cellSize = 16.0)
      val glob = Lsvi.globaal(Lsvi.indicator(
        Lsvi.detail(lsviMeasurements(s, dir), lsviRules(s))))
      inRoi
        .join(glob.select(col("id"), lit(true).as("__has")), Seq("id"), "left")
        .select(col("id"), col("point_code"), col("type"), col("x"), col("y"),
          col("code_md"), coalesce(col("__has"), lit(false)).as("lsvi_data"))
    }, Some(
      // q101: ROI selection replay — rectangle containment as interval
      // predicates (the half-unit offsets guarantee integer-derived
      // points never sit on an edge), LSVI membership via the shared
      // globaal CTEs.
      (lsviOracleCtes.stripSuffix("\n") +
      """, i AS (
        |  SELECT id, criterium, indicator, belang,
        |    (count(CASE WHEN voldoet = false THEN 1 END) = 0 AND
        |     count(CASE WHEN voldoet IS NULL THEN 1 END) = 0) AS gunstig
        |  FROM d GROUP BY 1, 2, 3, 4),
        |g AS (SELECT id FROM i GROUP BY id),
        |meas AS (
        |  SELECT c_custkey AS id, 'P' || c_custkey AS point_code,
        |    CASE WHEN c_custkey % 4 = 0 THEN '4010'
        |         WHEN c_custkey % 4 = 1 THEN '4030'
        |         WHEN c_custkey % 4 = 2 THEN '7140_oli'
        |         ELSE '2310' END AS type,
        |    CAST((c_custkey * 7) % 97 AS DOUBLE) AS x,
        |    CAST((c_custkey * 13) % 89 AS DOUBLE) AS y
        |  FROM customer
        |  WHERE c_custkey % 4 IN (0, 1, 2)),
        |roi AS (
        |  SELECT 'md_' || r_regionkey AS code_md,
        |    CAST((r_regionkey * 19) % 60 AS DOUBLE) - 0.5 AS x0,
        |    CAST((r_regionkey * 23) % 50 AS DOUBLE) - 0.5 AS y0
        |  FROM region)
        |SELECT m.id, m.point_code, m.type, m.x, m.y, r.code_md,
        |  m.id IN (SELECT id FROM g) AS lsvi_data
        |FROM meas m JOIN roi r
        |  ON m.x > r.x0 AND m.x < r.x0 + 25.0
        | AND m.y > r.y0 AND m.y < r.y0 + 30.0""".stripMargin))),

    // ---- K2 forest plot-level report (`data_lsvi_forests.R:35-41`,
    // the lsvi_globaal_boshabitat.csv shape): RapportageHR globaal
    // results joined to point metadata, scheme detected from the
    // point code (vbi vs mhq), observed subtype passthrough. ----
    Query("q98_lsvi_plot_report", (s, dir) => {
      val glob = Lsvi.globaal(Lsvi.indicator(
        Lsvi.detail(lsviMeasurements(s, dir), lsviRules(s))))
      val pts = t(s, dir, "supplier").select(
        col("s_suppkey").as("id"),
        when(col("s_suppkey") % 3 === 0, concat(lit("vbi_"), col("s_suppkey")))
          .otherwise(concat(lit("mhq_"), col("s_suppkey"))).as("point_code"),
        date_add(lit("2022-01-01").cast("date"),
          (col("s_suppkey") % 365).cast("int")).as("date"),
        (lit(140000.0) + col("s_suppkey") * 100).as("x"),
        (lit(160000.0) + col("s_suppkey") * 80).as("y"),
        when(col("s_suppkey") % 2 === 0, "9120").otherwise("9130")
          .as("habitatsubtype"))
      glob.join(pts, Seq("id"))
        .select(
          when(col("point_code").contains("vbi"), "vbi").otherwise("mhq")
            .as("scheme"),
          col("id"), col("date"), col("point_code"), col("x"), col("y"),
          col("habitatsubtype").as("type_observed"), col("lsvi"),
          lit("RapportageHR").as("aggregatiemethode"),
          col("aandeel_gunstig"), col("index_mean_ind"))
    }, Some(
      (lsviOracleCtes.stripSuffix("\n") +
      """, i AS (
        |  SELECT id, criterium, indicator, belang,
        |    (count(CASE WHEN voldoet = false THEN 1 END) = 0 AND
        |     count(CASE WHEN voldoet IS NULL THEN 1 END) = 0) AS gunstig,
        |    count(CASE WHEN voldoet = true THEN 1 END)
        |      / greatest(count(CASE WHEN voldoet IS NOT NULL THEN 1 END), 1) AS score
        |  FROM d GROUP BY 1, 2, 3, 4),
        |g AS (
        |  SELECT id,
        |    round(100.0 * count(CASE WHEN gunstig THEN 1 END) / count(*), 6) AS aandeel_gunstig,
        |    round(sum(score) / count(*), 6) AS index_mean_ind,
        |    CASE WHEN count(CASE WHEN belang = 'zb' AND NOT gunstig THEN 1 END) = 0 AND
        |              count(CASE WHEN gunstig THEN 1 END) * 2 > count(*)
        |         THEN 'gunstig' ELSE 'ongunstig' END AS lsvi
        |  FROM i GROUP BY id),
        |pts AS (
        |  SELECT s_suppkey AS id,
        |    CASE WHEN s_suppkey % 3 = 0 THEN 'vbi_' || s_suppkey
        |         ELSE 'mhq_' || s_suppkey END AS point_code,
        |    CAST('2022-01-01' AS DATE) + CAST(s_suppkey % 365 AS INTEGER) AS "date",
        |    CAST(140000.0 + s_suppkey*100 AS DOUBLE) AS x,
        |    CAST(160000.0 + s_suppkey*80 AS DOUBLE) AS y,
        |    CASE WHEN s_suppkey % 2 = 0 THEN '9120' ELSE '9130' END AS habitatsubtype
        |  FROM supplier)
        |SELECT CASE WHEN point_code LIKE '%vbi%' THEN 'vbi' ELSE 'mhq' END AS scheme,
        |  id, "date", point_code, x, y,
        |  habitatsubtype AS type_observed, lsvi,
        |  'RapportageHR' AS aggregatiemethode, aandeel_gunstig, index_mean_ind
        |FROM g JOIN pts USING (id)""".stripMargin)))
  )

  /** LSVI demo inputs derived from the harness tables: scale-free
    * per-supplier metrics as "measurements", plus a categorical region
    * condition — the same contract shapes as the reference's
    * data_voorwaarden / data_soortenkenmerken (`HT31xx_LSVI.Rmd:84-185`). */
  private def lsviMeasurements(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    val base = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey").as("id"))
      .agg(
        (sum(cents(col("l_discount"), 2)) / count(lit(1)) / 100.0).as("avg_discount"),
        (count(when(col("l_returnflag") === "R", 1)) / count(lit(1))).as("return_rate"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sum(cents(col("l_extendedprice"), 2)) / count(lit(1)) / 100.0).as("avg_price"))
    val numeric = Reshape.melt(base, ids = Seq("id"),
        values = Seq("avg_discount", "return_rate", "avg_qty", "avg_price"),
        varName = "voorwaarde", valName = "value_numeric")
      .withColumn("value_category", lit(null).cast("string"))
    val categorical = sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("id"), lit("regio").as("voorwaarde"),
        lit(null).cast("double").as("value_numeric"), col("n_name").as("value_category"))
    numeric.unionByName(categorical)
  }

  private val lsviRegions: Seq[String] = (0 to 12).map(i => s"NATION_$i")

  // ---- Versie-3 LSVI synthetic INBOVEG-shaped inputs (q77/q78) ----
  private val v3NumVars = Seq("Subm", "Chara", "Helo", "HabVl", "BooOv",
    "MonoR", "Boom", "Eutro", "Invas", "Vzuur", "VZuSS")

  private val v3Species = Seq("Chara hispida L.", "Warnstorfia fluitans (Hedw.) Loeske",
    "Littorella uniflora", "Juncus bulbosus", "Stratiotes aloides",
    "Sphagnum cuspidatum", "Samolus valerandi", "Elodea canadensis")

  /** (habitat, site_characteristics, vegetation) shaped like the INBOVEG
    * extracts the Versie-3 pipeline consumes: decimal-comma numerics
    * with LOQ markers, class-coded horst/7140o/verst/chara values, a
    * VZuSS twin for the 3160 substitution, and TANSLEY-coded species
    * covers including the two canonicalization source names. */
  private def v3Inputs(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val hab0 = t(s, dir, "customer").select(
      concat(lit("REC_"), col("c_custkey")).as("id"),
      element_at(typedLit(graft.lsvi.Versie3.habitattypes),
        (col("c_custkey") % 6 + 1).cast("int")).as("habitattype"),
      col("c_custkey").as("ck"))
    val numStructs = v3NumVars.zipWithIndex.map { case (v, p) =>
      struct(lit(v).as("var_code"),
        concat(
          when(col("ck") % 13 === 0, "<").when(col("ck") % 29 === 0, ">").otherwise(""),
          ((col("ck") * (p + 3)) % 100).cast("string"), lit(","),
          (col("ck") % 10).cast("string")).as("value"))
    }
    val clsStructs = Seq(
      struct(lit("horst").as("var_code"),
        when((col("ck") % 7) % 3 === 0, "g10m²")
          .when((col("ck") % 7) % 3 === 1, "10m2").otherwise("1m2").as("value")),
      struct(lit("7140o").as("var_code"),
        when(col("ck") % 7 < 4, "ja").otherwise("nee").as("value")),
      struct(lit("verst").as("var_code"),
        when(col("ck") % 11 < 6, "gisoe").otherwise("kisoe").as("value")),
      struct(lit("chara").as("var_code"),
        when(col("ck") % 9 < 5, "51ss").otherwise("49ss").as("value")))
    val sc = hab0.select(col("id"),
        explode(array(numStructs ++ clsStructs: _*)).as("m"))
      .select(col("id"), col("m.var_code").as("var_code"), col("m.value").as("value"))
    val veg = hab0.select(col("id"),
        explode(array((0 to 2).map(i => struct(
          element_at(typedLit(v3Species),
            ((col("ck") + i * 5) % 8 + 1).cast("int")).as("name"),
          element_at(typedLit(graft.lsvi.Versie3.tansleyCover.map(_._1)),
            ((col("ck") * 3 + i) % 6 + 1).cast("int")).as("cover_code"))): _*)).as("v"))
      .select(col("id"), col("v.name").as("name"), col("v.cover_code").as("cover_code"))
    (hab0.select("id", "habitattype"), sc, veg)
  }

  /** Shared CTE prefix for the Versie-3 oracle SQL: synthesizes the same
    * inputs as [[v3Inputs]] and replays the preparation + rule join in
    * DuckDB, with the rule/dictionary VALUES generated from the SAME
    * [[graft.lsvi.Versie3]] constants (single source of truth). */
  private def v3OracleCtes: String = {
    val v3 = graft.lsvi.Versie3
    val htList = v3.habitattypes.map(sqlStr).mkString("[", ", ", "]")
    val numVarValues = v3NumVars.zipWithIndex
      .map { case (v, p) => s"(${sqlStr(v)}, $p)" }.mkString(", ")
    val vereisten = v3.invoervereistenJoin
      .map { case (vc, _, _, vw, _) => s"(${sqlStr(vc)}, ${sqlStr(vw)})" }.mkString(",\n   ")
    val classMap = v3.classValueMap
      .map { case (vc, cv, _, mn) => s"(${sqlStr(vc)}, ${sqlStr(cv)}, $mn)" }.mkString(",\n   ")
    val tansley = v3.tansleyCover
      .map { case (c, p) => s"(${sqlStr(c)}, $p)" }.mkString(", ")
    val lijst = v3.soortenlijst
      .map { case (ht, sp) => s"(${sqlStr(ht)}, ${sqlStr(sp)})" }.mkString(",\n   ")
    val speciesList = v3Species.map(sqlStr).mkString("[", ", ", "]")
    val rules = v3.rules
      .map { case (ht, cr, ind, vw, b, op, ref) =>
        s"(${sqlStr(ht)}, ${sqlStr(cr)}, ${sqlStr(ind)}, ${sqlStr(vw)}, ${sqlStr(b)}, ${sqlStr(op)}, $ref)"
      }.mkString(",\n   ")
    s"""WITH hab AS (
       |  SELECT 'REC_' || c_custkey AS id,
       |    $htList[CAST(c_custkey % 6 AS INTEGER) + 1] AS habitattype,
       |    c_custkey AS ck
       |  FROM customer),
       |raw_num AS (
       |  SELECT id, habitattype, ck, v.var_code,
       |    (CASE WHEN ck % 13 = 0 THEN '<' WHEN ck % 29 = 0 THEN '>' ELSE '' END)
       |      || CAST((ck * (v.p + 3)) % 100 AS VARCHAR) || ',' || CAST(ck % 10 AS VARCHAR) AS value
       |  FROM hab CROSS JOIN (VALUES $numVarValues) v(var_code, p)),
       |raw_cls AS (
       |  SELECT id, habitattype, ck, 'horst' AS var_code,
       |    CASE (ck % 7) % 3 WHEN 0 THEN 'g10m²' WHEN 1 THEN '10m2' ELSE '1m2' END AS value FROM hab
       |  UNION ALL SELECT id, habitattype, ck, '7140o',
       |    CASE WHEN ck % 7 < 4 THEN 'ja' ELSE 'nee' END FROM hab
       |  UNION ALL SELECT id, habitattype, ck, 'verst',
       |    CASE WHEN ck % 11 < 6 THEN 'gisoe' ELSE 'kisoe' END FROM hab
       |  UNION ALL SELECT id, habitattype, ck, 'chara',
       |    CASE WHEN ck % 9 < 5 THEN '51ss' ELSE '49ss' END FROM hab),
       |swapped AS (
       |  SELECT id, habitattype,
       |    CASE WHEN var_code = 'VZuSS' AND habitattype = '3160' THEN 'Vzuur'
       |         ELSE var_code END AS var_code,
       |    value
       |  FROM (SELECT id, habitattype, var_code, value FROM raw_num
       |        UNION ALL SELECT id, habitattype, var_code, value FROM raw_cls)
       |  WHERE NOT (var_code = 'Vzuur' AND habitattype = '3160')
       |    AND NOT (var_code = 'VZuSS' AND habitattype <> '3160')),
       |parsed AS (
       |  SELECT id, habitattype, var_code, value,
       |    replace(regexp_replace(trim(value), '^[<>]\\s*', ''), ',', '.') AS stripped,
       |    starts_with(trim(value), '<') AS below
       |  FROM swapped),
       |meas_num AS (
       |  SELECT p.id, p.habitattype, iv.voorwaarde,
       |    CASE WHEN below THEN CAST(stripped AS DOUBLE) / 2
       |         ELSE CAST(stripped AS DOUBLE) END AS value_numeric
       |  FROM parsed p
       |  JOIN (VALUES
       |   $vereisten) iv(var_code, voorwaarde) ON p.var_code = iv.var_code
       |  WHERE regexp_matches(stripped, '^[0-9]+(\\.[0-9]+)?$$')),
       |meas_cls AS (
       |  SELECT p.id, p.habitattype, iv.voorwaarde,
       |    CAST(cm.mapped_numeric AS DOUBLE) AS value_numeric
       |  FROM parsed p
       |  JOIN (VALUES
       |   $classMap) cm(var_code, class_value, mapped_numeric)
       |    ON p.var_code = cm.var_code AND trim(p.value) = cm.class_value
       |  JOIN (VALUES
       |   $vereisten) iv(var_code, voorwaarde) ON p.var_code = iv.var_code
       |  WHERE NOT regexp_matches(stripped, '^[0-9]+(\\.[0-9]+)?$$')),
       |veg AS (
       |  SELECT id, habitattype,
       |    $speciesList[CAST((ck + i * 5) % 8 AS INTEGER) + 1] AS name,
       |    ${v3.tansleyCover.map(_._1).map(sqlStr).mkString("[", ", ", "]")}[CAST((ck * 3 + i) % 6 AS INTEGER) + 1] AS waarde
       |  FROM hab CROSS JOIN (VALUES (0), (1), (2)) t(i)),
       |kenm AS (
       |  SELECT id, habitattype,
       |    CASE name WHEN 'Chara hispida L.' THEN 'Chara major'
       |              WHEN 'Warnstorfia fluitans (Hedw.) Loeske' THEN 'Warnstorfia fluitans groep'
       |              ELSE name END AS kenmerk,
       |    waarde FROM veg),
       |sleutel AS (
       |  SELECT k.id, k.habitattype, 'aandeel sleutelsoorten' AS voorwaarde,
       |    round(100.0 * sum(CASE WHEN sl.kenmerk IS NOT NULL THEN tc.pct ELSE 0 END)
       |          / sum(tc.pct), 6) AS value_numeric
       |  FROM kenm k
       |  JOIN (VALUES $tansley) tc(waarde, pct) ON k.waarde = tc.waarde
       |  LEFT JOIN (VALUES
       |   $lijst) sl(habitattype, kenmerk)
       |    ON k.habitattype = sl.habitattype AND k.kenmerk = sl.kenmerk
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT * FROM meas_num
       |  UNION ALL SELECT * FROM meas_cls
       |  UNION ALL SELECT * FROM sleutel),
       |r(habitattype, criterium, indicator, voorwaarde, belang, op, ref_numeric) AS (
       |  VALUES
       |   $rules),
       |d AS (
       |  SELECT m.id, m.habitattype, r.criterium, r.indicator, m.voorwaarde, r.belang,
       |    m.value_numeric, r.op, CAST(r.ref_numeric AS DOUBLE) AS ref_numeric,
       |    CASE r.op WHEN '>=' THEN m.value_numeric >= CAST(r.ref_numeric AS DOUBLE)
       |              WHEN '<=' THEN m.value_numeric <= CAST(r.ref_numeric AS DOUBLE)
       |              WHEN '=' THEN m.value_numeric = CAST(r.ref_numeric AS DOUBLE) END AS voldoet
       |  FROM m JOIN r ON m.habitattype = r.habitattype AND m.voorwaarde = r.voorwaarde)
       |""".stripMargin
  }

  /** Shared CTE prefix for the LSVI oracle SQL (measurements + rules +
    * detail verdicts) — mirrors lsviMeasurements/lsviRules/Lsvi.detail. */
  private def lsviOracleCtes: String = {
    val regions = lsviRegions.map("'" + _ + "'").mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT s_suppkey AS id,
       |    CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT)/count(*)/100.0 AS avg_discount,
       |    count(CASE WHEN l_returnflag = 'R' THEN 1 END)/count(*) AS return_rate,
       |    sum(l_quantity)/count(*) AS avg_qty,
       |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/count(*)/100.0 AS avg_price
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1),
       |m AS (
       |  SELECT id, 'avg_discount' AS voorwaarde, avg_discount AS value_numeric,
       |         CAST(NULL AS VARCHAR) AS value_category FROM base
       |  UNION ALL SELECT id, 'return_rate', return_rate, NULL FROM base
       |  UNION ALL SELECT id, 'avg_qty', avg_qty, NULL FROM base
       |  UNION ALL SELECT id, 'avg_price', avg_price, NULL FROM base
       |  UNION ALL SELECT s_suppkey, 'regio', CAST(NULL AS DOUBLE), n_name
       |    FROM supplier JOIN nation ON s_nationkey = n_nationkey),
       |r(criterium, indicator, voorwaarde, belang, op, ref_numeric, ref_categories) AS (
       |  VALUES
       |   ('verstoring', 'prijsdruk', 'avg_discount', 'b', '<=', 0.05, CAST(NULL AS VARCHAR[])),
       |   ('verstoring', 'retour', 'return_rate', 'zb', '<', 0.336, CAST(NULL AS VARCHAR[])),
       |   ('structuur', 'kwantiteit', 'avg_qty', 'b', '>=', 25.3, CAST(NULL AS VARCHAR[])),
       |   ('structuur', 'waarde', 'avg_price', 'b', '>=', 53000.0, CAST(NULL AS VARCHAR[])),
       |   ('context', 'herkomst', 'regio', 'b', 'in', CAST(NULL AS DOUBLE), $regions)),
       |d AS (
       |  SELECT id, criterium, indicator, voorwaarde, belang, value_numeric,
       |    value_category, op, ref_numeric,
       |    CASE WHEN op = '>=' THEN value_numeric >= ref_numeric
       |         WHEN op = '<=' THEN value_numeric <= ref_numeric
       |         WHEN op = '>'  THEN value_numeric > ref_numeric
       |         WHEN op = '<'  THEN value_numeric < ref_numeric
       |         WHEN op = '='  THEN value_numeric = ref_numeric
       |         WHEN op = '!=' THEN value_numeric <> ref_numeric
       |         WHEN op = 'in' THEN list_contains(ref_categories, value_category)
       |         WHEN op = 'not_in' THEN NOT list_contains(ref_categories, value_category)
       |    END AS voldoet
       |  FROM m JOIN r USING (voorwaarde))
       |""".stripMargin
  }

  // ---- forest Versie-3 synthetic inputs (q102/q103): deterministic
  // integer-derived measurements so Spark and the DuckDB oracle compute
  // bit-identical doubles; ~14% of (plot, voorwaarde) pairs are left
  // unmeasured to exercise the published NA skeleton rows. ----

  /** Numeric voorwaarden as (name, index, modulo span); span = twice the
    * largest theoretisch maximum over types so values land on both sides
    * of every per-type reference. */
  private lazy val forestNumVars: Seq[(String, Int, Int)] = {
    val cat = graft.lsvi.Versie3Forests.categorical.keySet
    graft.lsvi.Versie3Forests.rules
      .collect { case (_, _, _, _, vw, _, tm) if !cat(vw) => (vw, tm) }
      .groupBy(_._1).map { case (vw, xs) => (vw, xs.map(_._2).max) }
      .toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((vw, tmMax), p) => (vw, p, 2 * tmMax.toInt + 1) }
  }

  /** Categorical voorwaarden as (name, index) — indices continue after
    * the numeric ones so every voorwaarde has a distinct stream. */
  private lazy val forestCatVars: Seq[(String, Int)] =
    graft.lsvi.Versie3Forests.categorical.keySet.toSeq.sorted
      .zipWithIndex.map { case (vw, i) => (vw, forestNumVars.size + i) }

  /** (plots, measurements) in the [[graft.lsvi.LsviForest.detail]]
    * input contract, derived from the customer table. */
  private def forestInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v3f = graft.lsvi.Versie3Forests
    val base = t(s, dir, "customer").select(
        concat(lit("FP_"), col("c_custkey")).as("id"),
        element_at(typedLit(v3f.habitattypes),
          (col("c_custkey") % 11 + 1).cast("int")).as("type_analysis"),
        col("c_custkey").as("ck"))
      .withColumn("type_observed",
        when(col("type_analysis").startsWith("91E0"), "91E0")
          .when(col("type_analysis") === "9130_end", "9130")
          .otherwise(col("type_analysis")))
      .withColumn("survey", when(col("ck") % 2 === 0, "anb").otherwise("vbi"))
      .withColumn("record_id_square", concat(lit("SQ_"), col("ck")))
      .withColumn("record_id_circle", concat(lit("CI_"), col("ck")))
      .withColumn("plot_type", lit("vbi"))
    val numStructs = forestNumVars.map { case (vw, p, span) =>
      struct(lit(vw).as("voorwaarde"), lit(p).as("p"),
        ((col("ck") * (2 * p + 3)) % span).as("v"),
        lit(null).cast("string").as("cls"),
        lit(null).cast("double").as("vd"))
    }
    // the class and its continuous cover move together (midpoint per
    // class), as in the field data — the class verdict and the
    // value-branched score must not contradict each other
    val catStructs = forestCatVars.map { case (vw, p) =>
      val clsIdx = ((col("ck") * (p + 2)) % 9 + 1).cast("int")
      struct(lit(vw).as("voorwaarde"), lit(p).as("p"),
        lit(null).cast("long").as("v"),
        element_at(typedLit(v3f.coverClasses), clsIdx).as("cls"),
        element_at(typedLit(v3f.coverMidpoints), clsIdx).as("vd"))
    }
    val m = base.select(col("id"), col("ck"),
        explode(array(numStructs ++ catStructs: _*)).as("s"))
      .where((col("ck") + col("s.p") * 3) % 7 =!= 0)
      .select(col("id"), col("s.voorwaarde").as("voorwaarde"),
        coalesce(col("s.cls"), col("s.v").cast("string")).as("waarde"),
        coalesce(col("s.vd"), col("s.v").cast("double")).as("value_numeric"),
        col("s.cls").as("value_category"))
    (base.select("id", "type_analysis", "survey", "record_id_square",
      "record_id_circle", "type_observed", "plot_type"), m)
  }

  /** Globaal report in 1e-6 fixed point (see q103's comment: integer
    * sums are order-independent, so Spark's partial aggregation and the
    * DuckDB oracle produce bit-identical doubles). Shared by the forest
    * (q103) and heath (q107) globaal queries.
    *
    * ONE chained aggregation path (indicator -> criterium -> plot):
    * the plot-level counts are sums of the criterium-level partials
    * (every indicator row belongs to exactly one criterium), so the
    * criterium mean-of-means and the plot rollup come out of the same
    * pass — the earlier perPlot ⋈ critMean self-join evaluated the
    * whole upstream (rules join, measurement prep) twice because
    * Spark does not reuse the common subplan across the two grouping
    * branches (measured: q112's species prep ran double, 3.1s -> this
    * shape). Values are bit-identical; the oracle SQL is unchanged. */
  private def lsviGlobaalFixedPoint(indicator0: DataFrame): DataFrame = {
    val ind = indicator0
      .withColumn("vs6", floor(col("verschilscore") * 1e6 + 0.5).cast("long"))
    val crit = ind.groupBy("id", "type_analysis", "criterium").agg(
      count(when(col("status_indicator").isNotNull, 1)).as("nk"),
      count(when(col("status_indicator"), 1)).as("ng"),
      count(when(col("belang") === "zb" && !col("status_indicator"), 1))
        .as("nzb"),
      sum(col("vs6")).as("cs6"), count(col("vs6")).as("cn"),
      // guard: Spark's least() skips nulls, so an unguarded
      // least(vs6, 0)+1e6 would count unknown indicators as 1.0
      sum(when(col("vs6").isNotNull, least(col("vs6"), lit(0L)) + lit(1000000L)))
        .as("cd6"))
    val perPlot = crit.groupBy("id", "type_analysis").agg(
      sum(col("nk")).as("n_known"),
      sum(col("ng")).as("n_gunstig"),
      sum(col("nzb")).as("n_zb_ongunstig"),
      sum(col("cs6")).as("s6"), sum(col("cn")).as("n_vs"),
      sum(col("cd6")).as("d6"),
      sum(when(col("cn") > 0,
        floor(col("cs6").cast("double") / col("cn") + 0.5).cast("long")))
        .as("mc6"),
      count(when(col("cn") > 0, 1)).as("n_crit"))
    perPlot
      .select(col("id"), col("type_analysis"),
        when(col("n_known") > 0,
          lit(100.0) * col("n_gunstig") / col("n_known") > 50.0 &&
            col("n_zb_ongunstig") === 0).as("status"),
        lit("RapportageHR").as("aggregatiemethode"),
        col("n_zb_ongunstig"),
        when(col("n_known") > 0, lit(100.0) * col("n_gunstig") / col("n_known"))
          .as("aandeel_gunstig"),
        when(col("n_vs") > 0, col("s6").cast("double") / col("n_vs") / lit(1e6))
          .as("index_mean_ind"),
        when(col("n_crit") > 0,
          col("mc6").cast("double") / col("n_crit") / lit(1e6))
          .as("index_mean_crit"),
        when(col("n_vs") > 0, col("d6").cast("double") / col("n_vs") / lit(1e6))
          .as("doelbereik_mean_ind"))
  }

  /** q103's oracle SQL (the forest chain replay through the fixed-point
    * globaal tail); q139 wraps it in a column subset. */
  private lazy val forestGlobaalOracleSql: String =
    forestOracleCtes.stripSuffix("\n") + lsviGlobaalSqlTail

  /** Forest globaal report (q103's body; q108 joins plot metadata). */
  private def forestGlobaal(s: SparkSession, dir: String): DataFrame = {
    val (plots, m) = forestInputs(s, dir)
    lsviGlobaalFixedPoint(graft.lsvi.LsviForest.indicator(
      graft.lsvi.LsviForest.detail(plots, m, graft.lsvi.Versie3Forests.rulesDf(s))))
  }

  /** Heath voorwaarden as (name, index, modulo span); the dynamic rule
    * additionally gets a per-plot reference stream. */
  private lazy val heathVars: Seq[(String, Int, Int)] =
    graft.lsvi.Versie3Heath.rules.map { case (_, _, _, _, vw, _, tm) => (vw, tm) }
      .groupBy(_._1).map { case (vw, xs) => (vw, xs.map(_._2).max) }
      .toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((vw, tmMax), p) => (vw, p, 2 * tmMax.toInt + 1) }

  /** (plots, measurements) for the heath rule set: all-numeric values,
    * a ref_override stream for the dynamic éénjarigen rule, plot_type
    * on the measurement side (subplot protocol). */
  private def heathInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v3h = graft.lsvi.Versie3Heath
    val base = t(s, dir, "customer").select(
        concat(lit("HP_"), col("c_custkey")).as("id"),
        element_at(typedLit(v3h.habitattypes),
          (col("c_custkey") % 5 + 1).cast("int")).as("type_analysis"),
        col("c_custkey").as("ck"))
      .withColumn("type_observed",
        when(col("type_analysis").startsWith("2330"), "2330")
          .otherwise(col("type_analysis")))
      .withColumn("survey", when(col("ck") % 2 === 0, "anb").otherwise("inbo"))
      .withColumn("record_id_square", concat(lit("SQ_"), col("ck")))
      .withColumn("record_id_circle", concat(lit("CI_"), col("ck")))
    val structs = heathVars.map { case (vw, p, span) =>
      struct(lit(vw).as("voorwaarde"), lit(p).as("p"),
        ((col("ck") * (2 * p + 3)) % span).as("v"),
        (if (vw == v3h.dynamicVoorwaarde) ((col("ck") * (p + 11)) % 101).cast("double")
         else lit(null).cast("double")).as("refo"))
    }
    val m = base.select(col("id"), col("ck"),
        explode(array(structs: _*)).as("s"))
      .where((col("ck") + col("s.p") * 3) % 7 =!= 0)
      .select(col("id"), col("s.voorwaarde").as("voorwaarde"),
        col("s.v").cast("string").as("waarde"),
        lit("square").as("plot_type"),
        col("s.v").cast("double").as("value_numeric"),
        lit(null).cast("string").as("value_category"),
        col("s.refo").as("ref_override"))
    (base.select("id", "type_analysis", "survey", "record_id_square",
      "record_id_circle", "type_observed"), m)
  }

  /** Shared CTE prefix for the heath oracle SQL: replays [[heathInputs]]
    * and the op/status_ref/ref_override detail semantics in DuckDB from
    * the SAME [[graft.lsvi.Versie3Heath]] constants. */
  private def heathOracleCtes: String = {
    val v3h = graft.lsvi.Versie3Heath
    val htList = v3h.habitattypes.map(sqlStr).mkString("[", ", ", "]")
    val varVals = heathVars.map { case (vw, p, span) =>
      val dyn = if (vw == v3h.dynamicVoorwaarde) "TRUE" else "FALSE"
      s"(${sqlStr(vw)}, $p, $span, $dyn)"
    }.mkString(",\n   ")
    val ruleVals = v3h.rules.map { case (ht, cr, ind, b, vw, ref, tm) =>
      val op =
        if (vw == v3h.dynamicVoorwaarde) ">"
        else if (v3h.downVoorwaarden(vw)) "<=" else ">="
      val split = v3h.splitRefs.get((vw, ref))
      val sref = split.map(_._1.toString).getOrElse(
        if (ref == "dynamisch") "CAST(NULL AS DOUBLE)" else ref)
      val cref = split.map(_._2.toString).getOrElse(
        if (ref == "dynamisch") "CAST(NULL AS DOUBLE)" else ref)
      s"(${sqlStr(ht)}, ${sqlStr(cr)}, ${sqlStr(ind)}, ${sqlStr(b)}, ${sqlStr(vw)}, " +
        s"'$op', $sref, $cref, $tm)"
    }.mkString(",\n   ")
    s"""WITH plots AS (
       |  SELECT 'HP_' || c_custkey AS id,
       |    $htList[CAST(c_custkey % 5 AS INTEGER) + 1] AS type_analysis,
       |    c_custkey AS ck
       |  FROM customer),
       |m AS (
       |  SELECT id, v.voorwaarde,
       |    CAST((ck * (2*v.p + 3)) % v.span AS DOUBLE) AS value_numeric,
       |    CASE WHEN v.dyn THEN CAST((ck * (v.p + 11)) % 101 AS DOUBLE) END AS ref_override
       |  FROM plots CROSS JOIN (VALUES
       |   $varVals) v(voorwaarde, p, span, dyn)
       |  WHERE (ck + 3*v.p) % 7 <> 0),
       |r(habitattype, criterium, indicator, belang, voorwaarde, op, status_ref,
       |  score_ref, score_max) AS (
       |  VALUES
       |   $ruleVals),
       |d AS (
       |  SELECT p.id, p.type_analysis, r.criterium, r.indicator, r.belang,
       |    r.voorwaarde, 'and' AS role, TRUE AS aggregate,
       |    m.value_numeric AS v,
       |    COALESCE(m.ref_override, r.status_ref) AS sref,
       |    COALESCE(m.ref_override, r.score_ref) AS cref,
       |    r.score_max, r.op
       |  FROM plots p
       |  JOIN r ON p.type_analysis = r.habitattype
       |  LEFT JOIN m ON m.id = p.id AND m.voorwaarde = r.voorwaarde),
       |d2 AS (
       |  SELECT id, type_analysis, criterium, indicator, belang, voorwaarde,
       |    role, aggregate,
       |    CASE WHEN op = '>=' THEN v >= sref
       |         WHEN op = '>'  THEN v > sref
       |         WHEN op = '<=' THEN v <= sref
       |         ELSE v < sref END AS status_voorwaarde,
       |    CASE WHEN v IS NULL OR sref IS NULL THEN NULL
       |         ELSE greatest(-1.0, least(1.0,
       |           CASE WHEN op IN ('>=', '>') THEN
       |                  CASE WHEN v >= cref THEN
       |                         (CASE WHEN score_max = cref THEN 1.0
       |                               ELSE (v - cref) / (score_max - cref) END)
       |                       WHEN cref <> 0 THEN (v - cref) / cref
       |                       WHEN v = cref THEN 0.0 END
       |                ELSE
       |                  CASE WHEN v <= cref THEN
       |                         (CASE WHEN cref = 0 THEN 1.0
       |                               ELSE (cref - v) / cref END)
       |                       ELSE (cref - v) / (score_max - cref) END
       |           END)) END AS verschilscore
       |  FROM d)
       |""".stripMargin
  }

  /** Synthetic (plots, measurements) for the streams (3260) rule set,
    * exercising the HT3260_LSVI.Rmd:96-119 prep: a per-plot species
    * stream in which one species may be recorded under two growth
    * forms, collapsed by [[graft.lsvi.Versie3Streams.prepSpecies]]
    * (max effective cover + dictionary back-join), then counted into
    * the two key-species voorwaarden; the four directly-measured
    * voorwaarden are numeric modular streams, with the invasieve-
    * exoten one sometimes a Tansley class converted to its midpoint
    * on the prep side (the published `o` row's path). */
  private def streamsInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v3s = graft.lsvi.Versie3Streams
    val base = t(s, dir, "customer").select(
        concat(lit("RW_"), col("c_custkey")).as("id"),
        lit("3260").as("type_analysis"),
        col("c_custkey").as("ck"))
      .withColumn("type_observed", lit("3260"))
      .withColumn("survey", when(col("ck") % 2 === 0, "anb").otherwise("inbo"))
      .withColumn("record_id_square", concat(lit("SQ_"), col("ck")))
      .withColumn("record_id_circle", concat(lit("CI_"), col("ck")))
    // species stream: 10 recording slots over a 12-species pool (the
    // first 6 are key species); slot collisions on one species model
    // the multi-growth-form double recording the Rmd works around
    val ladder = v3s.speciesCoverLadder.map(_._1)
    val slots = (0 until 10).map { j =>
      struct(
        concat(lit("sp_"), ((col("ck") * (j + 3)) % 12).cast("int")).as("name"),
        element_at(typedLit(ladder),
          (((col("ck") * (2 * j + 5)) % 7) + 1).cast("int")).as("class_code"),
        lit(j).as("j"))
    }
    val veg = base.select(col("id"), col("ck"), explode(array(slots: _*)).as("sp"))
      .where((col("ck") * (col("sp.j") + 7)) % 5 =!= 0)
      .select(col("id"), col("sp.name").as("name"),
        col("sp.class_code").as("class_code"))
    // counts over key species only: "frequent" = class f or higher
    // (effective cover >= 2.5), "laag-abundant" = la or higher (>= 15)
    val counts = v3s.prepSpecies(veg)
      .where(substring(col("name"), 4, 8).cast("int") < 6)
      .groupBy("id")
      .agg(
        count(when(col("cover") >= 2.5, 1)).cast("double").as("n_freq"),
        count(when(col("cover") >= 15.0, 1)).cast("double").as("n_la"))
    val countM = counts.select(col("id"), explode(array(
        struct(lit("aantal sleutelsoorten frequent").as("voorwaarde"),
          col("n_freq").as("v")),
        struct(lit("aantal sleutelsoorten laag-abundant").as("voorwaarde"),
          col("n_la").as("v")))).as("s"))
      .select(col("id"), col("s.voorwaarde").as("voorwaarde"),
        col("s.v").cast("string").as("waarde"),
        col("s.v").as("value_numeric"),
        lit(null).cast("string").as("value_category"))
    val mids = typedLit(v3s.tansleyMidpoints)
    val exoCls = when(col("ck") % 2 === 0, "r").otherwise("o")
    val directs = Seq(
      ("grootste vegetatievlek in m²", 0,
        ((col("ck") * 3) % 61).cast("double"), lit(null).cast("string")),
      ("bedekking helofyten", 1,
        ((col("ck") * 5) % 201).cast("double") * 0.5, lit(null).cast("string")),
      ("bedekking eutrofiëring", 2,
        ((col("ck") * 7) % 201).cast("double") * 0.5, lit(null).cast("string")),
      ("bedekking invasieve exoten", 3,
        when(col("ck") % 5 === 0, element_at(mids, exoCls))
          .otherwise((col("ck") % 41).cast("double") * 0.025),
        when(col("ck") % 5 === 0, exoCls)))
    val structsD = directs.map { case (vw, p, v, cls) =>
      struct(lit(vw).as("voorwaarde"), lit(p).as("p"), v.as("v"), cls.as("cls"))
    }
    val directM = base.select(col("id"), col("ck"),
        explode(array(structsD: _*)).as("s"))
      .where((col("ck") + col("s.p") * 3) % 7 =!= 0)
      .select(col("id"), col("s.voorwaarde").as("voorwaarde"),
        coalesce(col("s.cls"), col("s.v").cast("string")).as("waarde"),
        col("s.v").as("value_numeric"),
        col("s.cls").as("value_category"))
    (base.select("id", "type_analysis", "survey", "record_id_square",
      "record_id_circle", "type_observed"),
      directM.unionByName(countM))
  }

  /** Oracle CTE prefix for q112: replays [[streamsInputs]] (species
    * synthesis, max-cover prep, key-species counts, direct streams)
    * and the streams detail semantics in DuckDB from the SAME
    * [[graft.lsvi.Versie3Streams]] constants. */
  private def streamsOracleCtes: String = {
    val v3s = graft.lsvi.Versie3Streams
    val ladderCls = v3s.speciesCoverLadder.map(p => sqlStr(p._1))
      .mkString("[", ", ", "]")
    val coverCase = v3s.speciesCoverLadder.map { case (c, _) =>
      s"WHEN ${sqlStr(c)} THEN ${v3s.effectiveCover(c)}"
    }.mkString(" ")
    val slotVals = (0 until 10).map(j => s"($j)").mkString(",")
    val ruleVals = v3s.rules.map { case (ht, cr, ind, b, vw, ref, tm) =>
      val isT = vw == v3s.tansleyVoorwaarde
      val op =
        if (v3s.strictVoorwaarden(vw)) ">"
        else if (v3s.downVoorwaarden(vw)) "<=" else ">="
      val sref = if (isT) v3s.tansleyStatusRef.toString else ref
      val cref = if (isT) v3s.tansleyScoreRef.toString else ref
      val role = if (v3s.orVoorwaarden(vw)) "or" else "and"
      s"(${sqlStr(ht)}, ${sqlStr(cr)}, ${sqlStr(ind)}, ${sqlStr(b)}, ${sqlStr(vw)}, " +
        s"'$op', $sref, $cref, $tm, '$role')"
    }.mkString(",\n   ")
    val exoR = v3s.tansleyMidpoints("r")
    val exoO = v3s.tansleyMidpoints("o")
    s"""WITH plots AS (
       |  SELECT 'RW_' || c_custkey AS id, '3260' AS type_analysis,
       |    c_custkey AS ck
       |  FROM customer),
       |veg AS (
       |  SELECT id, ck,
       |    'sp_' || CAST((ck * (s.j + 3)) % 12 AS INTEGER) AS name,
       |    $ladderCls[CAST((ck * (2*s.j + 5)) % 7 AS INTEGER) + 1] AS class_code
       |  FROM plots CROSS JOIN (VALUES $slotVals) s(j)
       |  WHERE (ck * (s.j + 7)) % 5 <> 0),
       |veg2 AS (
       |  SELECT id, name,
       |    max(CASE class_code $coverCase END) AS cover
       |  FROM veg GROUP BY 1, 2),
       |counts AS (
       |  SELECT id,
       |    CAST(count(CASE WHEN cover >= 2.5 THEN 1 END) AS DOUBLE) AS n_freq,
       |    CAST(count(CASE WHEN cover >= 15.0 THEN 1 END) AS DOUBLE) AS n_la
       |  FROM veg2 WHERE CAST(substr(name, 4) AS INTEGER) < 6 GROUP BY 1),
       |m AS (
       |  SELECT id, v.voorwaarde,
       |    CASE v.p
       |      WHEN 0 THEN CAST((ck * 3) % 61 AS DOUBLE)
       |      WHEN 1 THEN CAST((ck * 5) % 201 AS DOUBLE) * 0.5
       |      WHEN 2 THEN CAST((ck * 7) % 201 AS DOUBLE) * 0.5
       |      ELSE CASE WHEN ck % 5 = 0
       |                THEN CASE WHEN ck % 2 = 0 THEN $exoR ELSE $exoO END
       |                ELSE CAST(ck % 41 AS DOUBLE) * 0.025 END
       |    END AS value_numeric
       |  FROM plots CROSS JOIN (VALUES
       |    ('grootste vegetatievlek in m²', 0),
       |    ('bedekking helofyten', 1),
       |    ('bedekking eutrofiëring', 2),
       |    ('bedekking invasieve exoten', 3)) v(voorwaarde, p)
       |  WHERE (ck + 3*v.p) % 7 <> 0
       |  UNION ALL
       |  SELECT id, 'aantal sleutelsoorten frequent', n_freq FROM counts
       |  UNION ALL
       |  SELECT id, 'aantal sleutelsoorten laag-abundant', n_la FROM counts),
       |r(habitattype, criterium, indicator, belang, voorwaarde, op, status_ref,
       |  score_ref, score_max, role) AS (
       |  VALUES
       |   $ruleVals),
       |d AS (
       |  SELECT p.id, p.type_analysis, r.criterium, r.indicator, r.belang,
       |    r.voorwaarde, r.role, TRUE AS aggregate,
       |    m.value_numeric AS v, r.status_ref AS sref, r.score_ref AS cref,
       |    r.score_max, r.op
       |  FROM plots p
       |  JOIN r ON p.type_analysis = r.habitattype
       |  LEFT JOIN m ON m.id = p.id AND m.voorwaarde = r.voorwaarde),
       |d2 AS (
       |  SELECT id, type_analysis, criterium, indicator, belang, voorwaarde,
       |    role, aggregate,
       |    CASE WHEN op = '>=' THEN v >= sref
       |         WHEN op = '>'  THEN v > sref
       |         WHEN op = '<=' THEN v <= sref
       |         ELSE v < sref END AS status_voorwaarde,
       |    CASE WHEN v IS NULL OR sref IS NULL THEN NULL
       |         ELSE greatest(-1.0, least(1.0,
       |           CASE WHEN op IN ('>=', '>') THEN
       |                  CASE WHEN v >= cref THEN
       |                         (CASE WHEN score_max = cref THEN 1.0
       |                               ELSE (v - cref) / (score_max - cref) END)
       |                       WHEN cref <> 0 THEN (v - cref) / cref
       |                       WHEN v = cref THEN 0.0 END
       |                ELSE
       |                  CASE WHEN v <= cref THEN
       |                         (CASE WHEN cref <> 0 THEN (cref - v) / cref
       |                               WHEN v = cref THEN 1.0 END)
       |                       ELSE (cref - v) / (score_max - cref) END
       |           END)) END AS verschilscore
       |  FROM d)
       |""".stripMargin
  }

  /** Synthetic (plotMeta, indicatorRows) for the status/trend shapes
    * (q113-q115): two measurement cycles per sampling point (some
    * points dropping to one or zero), forest habitat types, an SAC
    * stratum flag, a quarter-step design weight (exact in binary, so
    * distributed double sums stay order-independent), a per-plot lsvi
    * verdict and habitat-quality index, and five tri-state indicator
    * statuses per plot. */
  private def statusInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val types = graft.lsvi.Versie3Forests.habitattypes
    val base = t(s, dir, "customer")
      .select(col("c_custkey").as("ck"), expr("c_custkey div 2").as("pt"))
      .where((col("ck") * 3) % 7 =!= 0)
    val meta = base.select(
      concat(lit("ST_"), col("ck")).as("id"),
      col("ck"),
      element_at(typedLit(types), (col("pt") % 11 + 1).cast("int"))
        .as("habitattype"),
      concat(lit("pt_"), col("pt")).as("point_code"),
      (lit(2010) + lit(10) * (col("ck") % 2)).as("date"),
      when(col("pt") % 3 < 2, 1).otherwise(0).as("in_sac"),
      when((col("ck") * 5) % 3 === 0, "gunstig").otherwise("ongunstig").as("lsvi"),
      when((col("pt") * 7) % 5 < 3, "ja").otherwise("nee").as("passend_beheer"),
      ((col("pt") % 7 + 1).cast("double") * 0.25).as("weight"),
      (((col("ck") * 11) % 2001 - 1000).cast("double") / 1000.0)
        .as("index_mean_ind"),
      // binary-fraction twin of the index for the WEIGHTED mean shape
      // (q131): 1/1024 steps make every Σw·x / Σw·x² double sum exact,
      // so the distributed aggregation is order-independent without
      // the unweighted path's integer fixed point (quarter-step
      // weights × 2^-10 values: products are 2^-12 multiples, sums
      // stay far below 2^53 in step units)
      (((col("ck") * 7) % 2049 - 1024).cast("double") / 1024.0)
        .as("index_b"))
    val indStructs = (0 until 5).map { j =>
      val m = (col("ck") * (j + 2)) % 5
      struct(
        lit(s"crit_${j % 2}").as("criterium"), lit(s"ind_$j").as("indicator"),
        lit(if (j < 2) "zb" else "b").as("belang"),
        when(m === 0, lit(null).cast("boolean")).otherwise(m % 2 === 1)
          .as("status_indicator"),
        when(m === 0, lit(null).cast("double"))
          .otherwise(((col("ck") * (j + 4)) % 2001 - 1000).cast("double") / 1000.0)
          .as("verschilscore"))
    }
    val ind = meta.select(col("id"), col("habitattype").as("type_analysis"),
        col("ck"), explode(array(indStructs: _*)).as("i"))
      .select(col("id"), col("type_analysis"), col("i.criterium"),
        col("i.indicator"), col("i.belang"), col("i.status_indicator"),
        col("i.verschilscore"))
    (meta.drop("ck"), ind)
  }

  /** Synthetic per-visit measured values for q125/q126: two visits
    * per point (2010/2020), a habitatsubtype that shifts between
    * visits on every fifth row (so multi-subtype roll-ups and
    * unpaired strata both occur), and 2-decimal values — exact at
    * the engine's 1e-4 fixed point, so the oracle compare is
    * hash-stable under any aggregation order. */
  private def continuousInputs(s: SparkSession, dir: String): DataFrame = {
    val types = graft.lsvi.Versie3Forests.habitattypes
    val base = t(s, dir, "customer")
      .select(col("c_custkey").as("ck"), expr("c_custkey div 2").as("pt"))
      .where((col("ck") * 3) % 7 =!= 0)
    val ht = element_at(typedLit(types), (col("pt") % 11 + 1).cast("int"))
    val sub = concat(ht, lit("_s"),
      when(col("ck") % 5 === 0, (col("pt") + 1) % 3).otherwise(col("pt") % 3))
    base.select(
      concat(lit("CT_"), col("ck")).as("id"),
      ht.as("habitattype"),
      sub.as("habitatsubtype"),
      concat(lit("pt_"), col("pt")).as("point_code"),
      (lit(2010) + lit(10) * (col("ck") % 2)).as("date"),
      (((col("ck") * 13) % 4001).cast("double") / 100.0).as("value"),
      // quarter-step per-visit design weight for the weighted
      // estimators (q140/q141): products with the 1e-4 fixed-point
      // values stay exact doubles, so the weighted sums are
      // order-independent (ignored by the unweighted q125/q126)
      (((col("ck") * 3) % 7 + 1).cast("double") * 0.25).as("weight"))
  }

  /** Synthetic visits for q129: 3-year-stepped dates (2010..2022)
    * against 6-year cycles make every pairing path occur — cross-cycle
    * pairs, same-cycle revisits (excluded), and cycle-2 visits
    * (dropped before pairing). Subtype is stable per point, so
    * [[graft.lsvi.LsviStatus.assignCycles]]'s per-stratum start years
    * drive the windows. */
  private def cycleTrendInputs(s: SparkSession, dir: String): DataFrame = {
    val types = graft.lsvi.Versie3Forests.habitattypes
    val base = t(s, dir, "customer")
      .select(col("c_custkey").as("ck"), expr("c_custkey div 2").as("pt"))
      .where((col("ck") * 3) % 7 =!= 0)
    val ht = element_at(typedLit(types), (col("pt") % 11 + 1).cast("int"))
    base.select(
      concat(lit("CY_"), col("ck")).as("id"),
      ht.as("habitattype"),
      concat(ht, lit("_s"), col("pt") % 3).as("habitatsubtype"),
      concat(lit("pt_"), col("pt")).as("point_code"),
      (lit(2010) + lit(3) * (col("ck") % 5)).as("date"),
      when(col("pt") % 3 < 2, 1).otherwise(0).as("in_sac"),
      when((col("ck") * 5) % 3 === 0, "gunstig").otherwise("ongunstig")
        .as("lsvi"))
  }

  /** Synthetic assessed polygons for q127/q128: the verdict mix
    * varies with the cycle tag so the trend has signal; areas are
    * exact binary fractions (k/64 ha), keeping distributed double
    * sums order-independent and the oracle compare hash-exact. */
  private def censusPolys(s: SparkSession, dir: String,
      cycle: Int): DataFrame = {
    val types = graft.lsvi.Versie3Forests.habitattypes
    t(s, dir, "part")
      .select(col("p_partkey").as("pk"))
      .select(
        element_at(typedLit(types), (col("pk") % 7 + 1).cast("int"))
          .as("habitattype"),
        when(col("pk") % 3 < 2, 1).otherwise(0).as("in_sac"),
        when((col("pk") * cycle) % 5 < 2, "gunstig")
          .when((col("pk") * cycle) % 5 === 4, "onbekend")
          .otherwise("ongunstig").as("verdict"),
        (((col("pk") * 17) % 997).cast("double") / 64.0).as("area_ha"),
        concat(lit("ind_"), col("pk") % 4).as("indicator"))
  }

  /** Shared oracle CTE prefix for q125/q126: replays
    * [[continuousInputs]] with the engine's 1e-4 fixed-point value
    * (the trailing `latest` CTE is unused by q126 — harmless). */
  private def continuousOracleCtes: String = {
    val typeList = graft.lsvi.Versie3Forests.habitattypes
      .map(sqlStr).mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT c_custkey AS ck, c_custkey // 2 AS pt
       |  FROM customer WHERE (c_custkey * 3) % 7 <> 0),
       |m AS (
       |  SELECT 'CT_' || ck AS id,
       |    $typeList[CAST(pt % 11 AS INTEGER) + 1] AS habitattype,
       |    $typeList[CAST(pt % 11 AS INTEGER) + 1] || '_s' ||
       |      (CASE WHEN ck % 5 = 0 THEN (pt + 1) % 3 ELSE pt % 3 END)
       |      AS habitatsubtype,
       |    'pt_' || pt AS point_code,
       |    2010 + 10 * (ck % 2) AS mdate,
       |    CAST(floor(CAST((ck * 13) % 4001 AS DOUBLE) / 100.0 * 10000.0
       |      + 0.5) AS BIGINT) AS v4,
       |    CAST((ck * 3) % 7 + 1 AS DOUBLE) * 0.25 AS w
       |  FROM base),
       |latest AS (
       |  SELECT point_code, habitatsubtype,
       |    arg_max(v4, mdate || '|' || id) AS v,
       |    arg_max(habitattype, mdate || '|' || id) AS habitattype
       |  FROM m GROUP BY 1, 2),
       |""".stripMargin
  }

  /** Shared oracle tail for q125/q126: habitattype roll-up rows for
    * multi-subtype types over a `persub` CTE, like the engine's
    * `continuousShape`. */
  private val continuousRollupSql: String =
    """multi AS (
      |  SELECT habitattype, count(*) AS nsub,
      |    CAST(sum(n) AS BIGINT) AS rn, CAST(sum(s1) AS BIGINT) AS rs1,
      |    CAST(sum(s2) AS BIGINT) AS rs2,
      |    string_agg(habitatsubtype, '; ' ORDER BY habitatsubtype) AS subs
      |  FROM persub GROUP BY 1),
      |allr AS (
      |  SELECT CASE WHEN m2.nsub > 1 THEN 'Habitatsubtype'
      |           ELSE 'Habitattype' END AS type_resultaat,
      |    p.habitattype, p.habitatsubtype, p.n, p.s1, p.s2
      |  FROM persub p JOIN multi m2 USING (habitattype)
      |  UNION ALL
      |  SELECT 'Habitattype', habitattype, subs, rn, rs1, rs2
      |  FROM multi WHERE nsub > 1)""".stripMargin

  /** Weighted twin of [[continuousRollupSql]] over a `persubw` CTE
    * carrying (n, Σw, Σw², Σw·v, Σw·v²); used by q140/q141. */
  private val continuousRollupWeightedSql: String =
    """multi AS (
      |  SELECT habitattype, count(*) AS nsub,
      |    CAST(sum(n) AS BIGINT) AS rn, sum(sw) AS rsw, sum(sw2) AS rsw2,
      |    sum(swv) AS rswv, sum(swv2) AS rswv2,
      |    string_agg(habitatsubtype, '; ' ORDER BY habitatsubtype) AS subs
      |  FROM persubw GROUP BY 1),
      |allr AS (
      |  SELECT CASE WHEN m2.nsub > 1 THEN 'Habitatsubtype'
      |           ELSE 'Habitattype' END AS type_resultaat,
      |    p.habitattype, p.habitatsubtype, p.n, p.sw, p.sw2, p.swv, p.swv2
      |  FROM persubw p JOIN multi m2 USING (habitattype)
      |  UNION ALL
      |  SELECT 'Habitattype', habitattype, subs, rn, rsw, rsw2, rswv, rswv2
      |  FROM multi WHERE nsub > 1)""".stripMargin

  /** Shared q140/q141 oracle tail: the Kish-n_eff z interval with the
    * EXACT float shape of `LsviStatus.continuousShape`'s weighted tail
    * (m = swv/sw/1e4; vpop = greatest(swv2/sw/1e8 − m², 0);
    * h = z·sqrt(vpop/(n_eff − 1))). Positive fixture weights with
    * n > 1 give n_eff > 1 strictly, so no zero-division guard is
    * needed on either side. */
  private def continuousWeightedSelectSql(meanCol: String, minN: Int): String = {
    val z = graft.lsvi.LsviStatus.z975
    val m = "swv / sw / 10000.0"
    val h = s"$z * sqrt(greatest(swv2 / sw / 1.0e8 - ($m) * ($m), 0.0) / " +
      "(sw * sw / sw2 - 1.0))"
    s"""SELECT type_resultaat, habitattype, habitatsubtype,
       |  'Binnen & Buiten' AS sbzh, n AS n_obs,
       |  round($m, 6) AS $meanCol,
       |  CASE WHEN n >= $minN THEN round($m - $h, 6) END AS ${meanCol}_llci,
       |  CASE WHEN n >= $minN THEN round($m + $h, 6) END AS ${meanCol}_ulci,
       |  'hoeveelheid dik dood hout' AS indicator,
       |  'aantal exemplaren dik dood hout per ha' AS voorwaarde
       |FROM allr""".stripMargin
  }

  /** One census cycle for the q127/q128 oracles: polygons, the
    * stratum explode and the per-verdict area sums, suffixed by the
    * cycle tag (no trailing comma — callers chain with ",\n"). */
  private def censusOracleCte(cycle: Int): String = {
    val typeList = graft.lsvi.Versie3Forests.habitattypes
      .map(sqlStr).mkString("[", ", ", "]")
    s"""WITH p$cycle AS (
       |  SELECT $typeList[CAST(p_partkey % 7 AS INTEGER) + 1] AS habitattype,
       |    CASE WHEN p_partkey % 3 < 2 THEN 1 ELSE 0 END AS in_sac,
       |    CASE WHEN (p_partkey * $cycle) % 5 < 2 THEN 'gunstig'
       |         WHEN (p_partkey * $cycle) % 5 = 4 THEN 'onbekend'
       |         ELSE 'ongunstig' END AS verdict,
       |    CAST((p_partkey * 17) % 997 AS DOUBLE) / 64.0 AS area_ha,
       |    'ind_' || (p_partkey % 4) AS indicator
       |  FROM part),
       |strata$cycle AS (
       |  SELECT 'Habitattype' AS type_resultaat, 'Binnen & Buiten' AS sbzh,
       |    habitattype, verdict, area_ha, indicator FROM p$cycle
       |  UNION ALL
       |  SELECT 'SBZH', CASE WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END,
       |    habitattype, verdict, area_ha, indicator FROM p$cycle),
       |agg$cycle AS (
       |  SELECT type_resultaat, habitattype, sbzh, indicator,
       |    sum(CASE WHEN verdict = 'gunstig' THEN area_ha ELSE 0.0 END) AS g,
       |    sum(CASE WHEN verdict = 'ongunstig' THEN area_ha ELSE 0.0 END) AS o,
       |    sum(CASE WHEN verdict = 'onbekend' THEN area_ha ELSE 0.0 END) AS u
       |  FROM strata$cycle GROUP BY 1, 2, 3, 4)""".stripMargin
  }

  /** Shared oracle tail for q121/q129 (`trend_habitat`): from the
    * paired flags to the four published row families; `ncPred` is the
    * pairing filter (`nc > 1` visit-based, `nc = 2` cycle-based). */
  /** SQL rendering of [[graft.lsvi.LsviStatus.effectKlasse]] (the
    * ten-class trend-effect ladder) over rounded mean/llci/ulci
    * columns — shared by the unweighted and weighted trend oracle
    * tails so the ladder cannot drift between them. */
  private def klasseSql(tl: Double, th: Double): String =
    s"""CASE WHEN coalesce(llci, mean) IS NULL THEN NULL
       |     WHEN coalesce(llci, mean) > $th THEN '++'
       |     WHEN coalesce(ulci, mean) < -$tl THEN '--'
       |     WHEN coalesce(llci, mean) > 0.0 THEN
       |       CASE WHEN coalesce(ulci, mean) > $th THEN '+' ELSE '+~' END
       |     WHEN coalesce(ulci, mean) < 0.0 THEN
       |       CASE WHEN coalesce(llci, mean) < -$tl THEN '-' ELSE '-~' END
       |     WHEN coalesce(llci, mean) >= -$tl AND coalesce(ulci, mean) <= $th
       |       THEN '~'
       |     WHEN coalesce(llci, mean) >= -$tl THEN '?+'
       |     WHEN coalesce(ulci, mean) <= $th THEN '?-'
       |     ELSE '?' END""".stripMargin.replace("\n", " ").replaceAll(" +", " ")

  private def trendHabitatOracleTail(ncPred: String): String = {
    val z = graft.lsvi.LsviStatus.z975
    val z2 = z * z
    s"""rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    g1, g2, j1, j2
           |  FROM pairs CROSS JOIN (VALUES (0),(1)) g(g) WHERE $ncPred),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, count(*) AS n_obs,
           |    count(CASE WHEN g1 THEN 1 END) AS k1,
           |    count(CASE WHEN g2 THEN 1 END) AS k2,
           |    count(CASE WHEN g1 AND NOT g2 THEN 1 END) AS b,
           |    count(CASE WHEN NOT g1 AND g2 THEN 1 END) AS c,
           |    min(j1) AS jmin1, max(j1) AS jmax1,
           |    min(j2) AS jmin2, max(j2) AS jmax2,
           |    sum(j2 - j1) AS sdj
           |  FROM rows_ GROUP BY 1, 2, 3),
           |acyc AS (
           |  SELECT 'c_1' AS periode, type_resultaat, habitattype, sbzh, n_obs,
           |    k1 AS k, jmin1 AS jaar_min, jmax1 AS jaar_max FROM agg
           |  UNION ALL
           |  SELECT 'c_2', type_resultaat, habitattype, sbzh, n_obs,
           |    k2, jmin2, jmax2 FROM agg),
           |wil AS (
           |  SELECT *, CAST(k AS DOUBLE) / CAST(n_obs AS DOUBLE) AS p,
           |    1.0 + $z2 / n_obs AS den
           |  FROM acyc),
           |wil2 AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * n_obs)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / n_obs + $z2 / (4.0 * n_obs * n_obs)) AS half
           |  FROM wil),
           |aand AS (
           |  SELECT periode, type_resultaat, habitattype, sbzh, n_obs,
           |    'aandeel_gunstig' AS parameter,
           |    round(100.0 * p, 6) AS mean,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6) AS llci,
           |    round(CASE WHEN k = 0 OR k = n_obs THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6) AS ulci,
           |    CAST(NULL AS VARCHAR) AS klasse, CAST(NULL AS VARCHAR) AS periode_ref,
           |    jaar_min, jaar_max, CAST(NULL AS DOUBLE) AS verschil_jaar
           |  FROM wil2),
           |vboth AS (
           |  SELECT *,
           |    100.0 * (CAST(k2 AS DOUBLE) - k1) / n_obs AS d,
           |    100.0 * sqrt(b + c - pow(CAST(b AS DOUBLE) - c, 2) / n_obs) / n_obs AS se,
           |    least(jmin1, jmin2) AS jaar_min, greatest(jmax1, jmax2) AS jaar_max,
           |    -- half-even to 1 decimal like the engine's bround (DuckDB
           |    -- round() is half-away-from-zero on doubles): integer
           |    -- half-even of the exact rational sdj*10/n_obs, which the
           |    -- correctly-rounded IEEE division makes identical to
           |    -- Spark's decimal-string HALF_EVEN (sdj >= 0 by pairing)
           |    CAST(CASE
           |      WHEN 2 * ((sdj * 10) % n_obs) > n_obs THEN (sdj * 10) // n_obs + 1
           |      WHEN 2 * ((sdj * 10) % n_obs) < n_obs THEN (sdj * 10) // n_obs
           |      ELSE (sdj * 10) // n_obs + ((sdj * 10) // n_obs) % 2
           |    END AS DOUBLE) / 10 AS vj
           |  FROM agg),
           |vabs AS (
           |  SELECT 'c_2' AS periode, type_resultaat, habitattype, sbzh, n_obs,
           |    'verschil_aandeel_gunstig_abs' AS parameter,
           |    round(d, 6) AS mean, round(d - $z * se, 6) AS llci,
           |    round(d + $z * se, 6) AS ulci,
           |    CAST(NULL AS VARCHAR) AS klasse, 'c_1' AS periode_ref,
           |    jaar_min, jaar_max, vj AS verschil_jaar
           |  FROM vboth),
           |vabs2 AS (
           |  SELECT periode, type_resultaat, habitattype, sbzh, n_obs, parameter,
           |    mean, llci, ulci, ${klasseSql(12.0, 12.0)} AS klasse,
           |    periode_ref, jaar_min, jaar_max, verschil_jaar
           |  FROM vabs),
           |vrel AS (
           |  SELECT 'c_2' AS periode, type_resultaat, habitattype, sbzh, n_obs,
           |    'verschil_aandeel_gunstig_rel' AS parameter,
           |    CASE WHEN k1 > 0
           |         THEN round(100.0 * (CAST(k2 AS DOUBLE) - k1) / k1, 6) END AS mean,
           |    CASE WHEN k1 > 0 AND k2 > 0
           |         THEN round(100.0 * (exp(ln(CAST(k2 AS DOUBLE) / k1)
           |                - $z * sqrt((b + c) / (CAST(k1 AS DOUBLE) * k2))) - 1.0), 6)
           |         END AS llci,
           |    CASE WHEN k1 > 0 AND k2 > 0
           |         THEN round(100.0 * (exp(ln(CAST(k2 AS DOUBLE) / k1)
           |                + $z * sqrt((b + c) / (CAST(k1 AS DOUBLE) * k2))) - 1.0), 6)
           |         END AS ulci,
           |    k1, round(d - $z * se, 6) AS abs_llci,
           |    jaar_min, jaar_max, vj
           |  FROM vboth),
           |vrel2 AS (
           |  SELECT periode, type_resultaat, habitattype, sbzh, n_obs, parameter,
           |    mean, llci, ulci,
           |    CASE WHEN k1 > 0 THEN ${klasseSql(25.0, 25.0)}
           |         WHEN abs_llci > 0.0 THEN '++' ELSE '?' END AS klasse,
           |    'c_1' AS periode_ref, jaar_min, jaar_max, vj AS verschil_jaar
           |  FROM vrel)
           |SELECT * FROM aand UNION ALL SELECT * FROM vabs2
           |UNION ALL SELECT * FROM vrel2""".stripMargin
  }

  /** Weighted twin of [[trendHabitatOracleTail]]: expects a `pairs` CTE
    * that also carries the latest-visit design weight `w`. Mirrors
    * [[graft.lsvi.LsviStatus.trendHabitat]] under a weight:
    * Hájek shares, Kish-n_eff Wilson/Wald intervals, effective-count
    * log-ratio interval, both klasse ladders, unweighted year columns. */
  private def trendHabitatWeightedOracleTail: String =
    trendHabitatWeightedOracleTail("nc > 1")

  private def trendHabitatWeightedOracleTail(ncPred: String): String = {
    val z = graft.lsvi.LsviStatus.z975
    val z2 = z * z
    s"""rows_ AS (
           |  SELECT habitattype,
           |    CASE WHEN g.g = 0 THEN 'SBZH' ELSE 'Habitattype' END AS type_resultaat,
           |    CASE WHEN g.g = 1 THEN 'Binnen & Buiten'
           |         WHEN in_sac = 1 THEN 'Binnen' ELSE 'Buiten' END AS sbzh,
           |    g1, g2, j1, j2, w
           |  FROM pairs CROSS JOIN (VALUES (0),(1)) g(g) WHERE $ncPred),
           |agg AS (
           |  SELECT type_resultaat, habitattype, sbzh, count(*) AS n_obs,
           |    sum(w) AS sw, sum(w * w) AS sw2,
           |    sum(CASE WHEN g1 THEN w ELSE 0.0 END) AS swk1,
           |    sum(CASE WHEN g2 THEN w ELSE 0.0 END) AS swk2,
           |    sum(CASE WHEN g1 AND NOT g2 THEN w ELSE 0.0 END) AS swb,
           |    sum(CASE WHEN NOT g1 AND g2 THEN w ELSE 0.0 END) AS swc,
           |    min(j1) AS jmin1, max(j1) AS jmax1,
           |    min(j2) AS jmin2, max(j2) AS jmax2,
           |    sum(j2 - j1) AS sdj
           |  FROM rows_ GROUP BY 1, 2, 3),
           |acyc AS (
           |  SELECT 'c_1' AS periode, type_resultaat, habitattype, sbzh, n_obs,
           |    sw, sw2, swk1 AS swk, jmin1 AS jaar_min, jmax1 AS jaar_max
           |  FROM agg
           |  UNION ALL
           |  SELECT 'c_2', type_resultaat, habitattype, sbzh, n_obs,
           |    sw, sw2, swk2, jmin2, jmax2 FROM agg),
           |wil AS (
           |  SELECT *, sw * sw / sw2 AS neff, swk / sw AS p FROM acyc),
           |wil2 AS (SELECT *, 1.0 + $z2 / neff AS den FROM wil),
           |wil3 AS (
           |  SELECT *,
           |    (p + $z2 / (2.0 * neff)) / den AS center,
           |    ($z / den) * sqrt(p * (1.0 - p) / neff
           |      + $z2 / (4.0 * neff * neff)) AS half
           |  FROM wil2),
           |aand AS (
           |  SELECT periode, type_resultaat, habitattype, sbzh, n_obs,
           |    'aandeel_gunstig' AS parameter,
           |    round(100.0 * swk / sw, 6) AS mean,
           |    round(CASE WHEN swk = 0.0 OR swk = sw THEN 100.0 * p
           |               ELSE 100.0 * greatest(0.0, center - half) END, 6) AS llci,
           |    round(CASE WHEN swk = 0.0 OR swk = sw THEN 100.0 * p
           |               ELSE 100.0 * least(1.0, center + half) END, 6) AS ulci,
           |    CAST(NULL AS VARCHAR) AS klasse, CAST(NULL AS VARCHAR) AS periode_ref,
           |    jaar_min, jaar_max, CAST(NULL AS DOUBLE) AS verschil_jaar
           |  FROM wil3),
           |vb0 AS (
           |  SELECT *, sw * sw / sw2 AS neff, (swk2 - swk1) / sw AS md FROM agg),
           |vb1 AS (
           |  SELECT *, 100.0 * md AS d,
           |    greatest((swb + swc) / sw - md * md, 0.0) AS vpop,
           |    neff * (swk1 / sw) AS k1e, neff * (swk2 / sw) AS k2e,
           |    neff * ((swb + swc) / sw) AS bce,
           |    least(jmin1, jmin2) AS jaar_min, greatest(jmax1, jmax2) AS jaar_max,
           |    CAST(CASE
           |      WHEN 2 * ((sdj * 10) % n_obs) > n_obs THEN (sdj * 10) // n_obs + 1
           |      WHEN 2 * ((sdj * 10) % n_obs) < n_obs THEN (sdj * 10) // n_obs
           |      ELSE (sdj * 10) // n_obs + ((sdj * 10) // n_obs) % 2
           |    END AS DOUBLE) / 10 AS vj
           |  FROM vb0),
           |vboth AS (
           |  SELECT *, 100.0 * sqrt(vpop / neff) AS se,
           |    sqrt(bce / (k1e * k2e)) AS se_ln
           |  FROM vb1),
           |vabs AS (
           |  SELECT 'c_2' AS periode, type_resultaat, habitattype, sbzh, n_obs,
           |    'verschil_aandeel_gunstig_abs' AS parameter,
           |    round(d, 6) AS mean, round(d - $z * se, 6) AS llci,
           |    round(d + $z * se, 6) AS ulci,
           |    CAST(NULL AS VARCHAR) AS klasse, 'c_1' AS periode_ref,
           |    jaar_min, jaar_max, vj AS verschil_jaar
           |  FROM vboth),
           |vabs2 AS (
           |  SELECT periode, type_resultaat, habitattype, sbzh, n_obs, parameter,
           |    mean, llci, ulci, ${klasseSql(12.0, 12.0)} AS klasse,
           |    periode_ref, jaar_min, jaar_max, verschil_jaar
           |  FROM vabs),
           |vrel AS (
           |  SELECT 'c_2' AS periode, type_resultaat, habitattype, sbzh, n_obs,
           |    'verschil_aandeel_gunstig_rel' AS parameter,
           |    CASE WHEN swk1 > 0.0
           |         THEN round(100.0 * (swk2 - swk1) / swk1, 6) END AS mean,
           |    CASE WHEN swk1 > 0.0 AND swk2 > 0.0
           |         THEN round(100.0 * (exp(ln(swk2 / swk1)
           |                - $z * se_ln) - 1.0), 6) END AS llci,
           |    CASE WHEN swk1 > 0.0 AND swk2 > 0.0
           |         THEN round(100.0 * (exp(ln(swk2 / swk1)
           |                + $z * se_ln) - 1.0), 6) END AS ulci,
           |    swk1, round(d - $z * se, 6) AS abs_llci,
           |    jaar_min, jaar_max, vj
           |  FROM vboth),
           |vrel2 AS (
           |  SELECT periode, type_resultaat, habitattype, sbzh, n_obs, parameter,
           |    mean, llci, ulci,
           |    CASE WHEN swk1 > 0.0 THEN ${klasseSql(25.0, 25.0)}
           |         WHEN abs_llci > 0.0 THEN '++' ELSE '?' END AS klasse,
           |    'c_1' AS periode_ref, jaar_min, jaar_max, vj AS verschil_jaar
           |  FROM vrel)
           |SELECT * FROM aand UNION ALL SELECT * FROM vabs2
           |UNION ALL SELECT * FROM vrel2""".stripMargin
  }

  /** Shared oracle CTE prefix for q113-q115: replays [[statusInputs]]
    * and the latest-cycle-per-point selection in DuckDB (`mdate`, not
    * `date` — reserved word). Every arg_min/arg_max orders by
    * `mdate || '|' || id` — with fixed-width 4-digit years that string
    * key sorts exactly like the engine's `struct(date, id)`, so
    * same-date revisits break ties identically on both sides. */
  private def statusOracleCtes: String = {
    val typeList = graft.lsvi.Versie3Forests.habitattypes
      .map(sqlStr).mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT c_custkey AS ck, c_custkey // 2 AS pt
       |  FROM customer WHERE (c_custkey * 3) % 7 <> 0),
       |plots AS (
       |  SELECT 'ST_' || ck AS id, ck, pt,
       |    $typeList[CAST(pt % 11 AS INTEGER) + 1] AS habitattype,
       |    'pt_' || pt AS point_code,
       |    2010 + 10 * (ck % 2) AS mdate,
       |    CASE WHEN pt % 3 < 2 THEN 1 ELSE 0 END AS in_sac,
       |    CASE WHEN (ck * 5) % 3 = 0 THEN 'gunstig' ELSE 'ongunstig' END AS lsvi,
       |    CASE WHEN (pt * 7) % 5 < 3 THEN 'ja' ELSE 'nee' END AS beheer,
       |    CAST((pt % 7 + 1) AS DOUBLE) * 0.25 AS w,
       |    CAST((ck * 11) % 2001 - 1000 AS DOUBLE) / 1000.0 AS idx,
       |    CAST((ck * 7) % 2049 - 1024 AS DOUBLE) / 1024.0 AS idx_b
       |  FROM base),
       |latest AS (
       |  SELECT habitattype, point_code, arg_max(id, mdate || '|' || id) AS id,
       |    arg_max(in_sac, mdate || '|' || id) AS in_sac, arg_max(idx, mdate || '|' || id) AS idx,
       |    arg_max(idx_b, mdate || '|' || id) AS idx_b, arg_max(w, mdate || '|' || id) AS w,
       |    arg_max(lsvi, mdate || '|' || id) AS lsvi, arg_max(beheer, mdate || '|' || id) AS beheer
       |  FROM plots GROUP BY 1, 2)
       |""".stripMargin
  }

  /** Per-rule engine metadata for the WT-bearing groups (dunes/moneos),
    * derived from the SAME constants as the group's `rulesDf`:
    * (op, status_ref, score_ref, score_max, met_classes, role, agg). */
  private def wtRuleMeta(vw: String, ref: String, tm: Double,
                         down: Set[String], or: Set[String], noAgg: Set[String],
                         ind: String):
      (String, Option[Double], Option[Double], Double, Option[Seq[String]], String, Boolean) = {
    val v3d = graft.lsvi.Versie3Dunes
    val isWt = ref == "WT"
    val isFCat = ref == "B" || ref == "ZS"
    val isCat = (isWt && !v3d.wtNumeric(vw)) || isFCat
    val op = if (down(vw)) "<=" else ">="
    val scoreRef: Option[Double] =
      if (isWt) Some(v3d.wtScoreRef)
      else if (isFCat) Some(graft.lsvi.Versie3Forests.categorical(vw)._2)
      else Some(ref.toDouble)
    val statusRef: Option[Double] =
      if (isWt && !isCat) Some(if (down(vw)) v3d.wtStatusDown else v3d.wtStatusUp)
      else scoreRef
    val met: Option[Seq[String]] =
      if (isCat)
        Some(if (isWt) v3d.wtCategorical(vw)
          else graft.lsvi.Versie3Forests.categorical(vw)._1)
      else None
    val scoreMax = if (isWt || isFCat) 100.0 else tm
    (op, statusRef, scoreRef, scoreMax, met,
      if (or(vw)) "or" else "and", !noAgg(ind))
  }

  /** Synthetic (plots, measurements) for a WT-bearing group: numeric
    * streams per voorwaarde; class-coded voorwaarden draw a cover class
    * and its midpoint together. */
  private def wtGroupInputs(s: SparkSession, dir: String, idPrefix: String,
      types: Seq[String],
      rules: Seq[(String, String, String, String, String, String, Double)],
      catVws: Set[String],
      dynamicVw: Option[String] = None): (DataFrame, DataFrame) = {
    val v3f = graft.lsvi.Versie3Forests
    val vars = rules.map { case (_, _, _, _, vw, _, tm) => (vw, tm) }
      .groupBy(_._1).map { case (vw, xs) => (vw, xs.map(_._2).max) }
      .toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((vw, tmMax), p) => (vw, p, 2 * tmMax.toInt + 1) }
    val n = types.size
    val base = t(s, dir, "customer").select(
        concat(lit(idPrefix), col("c_custkey")).as("id"),
        element_at(typedLit(types), (col("c_custkey") % n + 1).cast("int"))
          .as("type_analysis"),
        col("c_custkey").as("ck"))
      .withColumn("type_observed", substring_index(col("type_analysis"), "_", 1))
      .withColumn("survey", when(col("ck") % 2 === 0, "anb").otherwise("inbo"))
      .withColumn("record_id_square", concat(lit("SQ_"), col("ck")))
      .withColumn("record_id_circle", concat(lit("CI_"), col("ck")))
    val structs = vars.map { case (vw, p, span) =>
      val refo =
        if (dynamicVw.contains(vw)) ((col("ck") * (p + 11)) % 101).cast("double")
        else lit(null).cast("double")
      if (catVws(vw)) {
        val clsIdx = ((col("ck") * (p + 2)) % 9 + 1).cast("int")
        struct(lit(vw).as("voorwaarde"), lit(p).as("p"),
          element_at(typedLit(v3f.coverMidpoints), clsIdx).as("v"),
          element_at(typedLit(v3f.coverClasses), clsIdx).as("cls"),
          refo.as("refo"))
      } else
        struct(lit(vw).as("voorwaarde"), lit(p).as("p"),
          ((col("ck") * (2 * p + 3)) % span).cast("double").as("v"),
          lit(null).cast("string").as("cls"),
          refo.as("refo"))
    }
    val m = base.select(col("id"), col("ck"), explode(array(structs: _*)).as("s"))
      .where((col("ck") + col("s.p") * 3) % 7 =!= 0)
      .select(col("id"), col("s.voorwaarde").as("voorwaarde"),
        coalesce(col("s.cls"), col("s.v").cast("string")).as("waarde"),
        lit("square").as("plot_type"),
        col("s.v").as("value_numeric"),
        col("s.cls").as("value_category"),
        col("s.refo").as("ref_override"))
    (base.select("id", "type_analysis", "survey", "record_id_square",
      "record_id_circle", "type_observed"), m)
  }

  /** Oracle CTE prefix for a WT-bearing group: replays [[wtGroupInputs]]
    * plus the op/status_ref/class-membership/value-branch detail
    * semantics in DuckDB from the same constants. */
  private def wtGroupOracleCtes(idPrefix: String, types: Seq[String],
      rules: Seq[(String, String, String, String, String, String, Double)],
      down: Set[String], or: Set[String], noAgg: Set[String],
      catVws: Set[String],
      dynamicVw: Option[String] = None,
      metaFn: Option[(String, String, Double, String) =>
        (String, Option[Double], Option[Double], Double, Option[Seq[String]], String, Boolean)] = None):
      String = {
    val v3f = graft.lsvi.Versie3Forests
    val typeList = types.map(sqlStr).mkString("[", ", ", "]")
    val clsList = v3f.coverClasses.map(sqlStr).mkString("[", ", ", "]")
    val midList = v3f.coverMidpoints
      .map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
    val vars = rules.map { case (_, _, _, _, vw, _, tm) => (vw, tm) }
      .groupBy(_._1).map { case (vw, xs) => (vw, xs.map(_._2).max) }
      .toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((vw, tmMax), p) => (vw, p, 2 * tmMax.toInt + 1) }
    val varVals = vars.map { case (vw, p, span) =>
      s"(${sqlStr(vw)}, $p, $span, ${catVws(vw).toString.toUpperCase}, " +
        s"${dynamicVw.contains(vw).toString.toUpperCase})"
    }.mkString(",\n   ")
    val meta = metaFn.getOrElse(wtRuleMeta(_, _, _, down, or, noAgg, _))
    val ruleVals = rules.map { case (ht, cr, ind, b, vw, ref, tm) =>
      val (op, sref, cref, smax, met, role, agg) = meta(vw, ref, tm, ind)
      val metSql = met.map(_.map(sqlStr).mkString("[", ", ", "]"))
        .getOrElse("CAST(NULL AS VARCHAR[])")
      val srefSql = sref.map(_.toString).getOrElse("CAST(NULL AS DOUBLE)")
      val crefSql = cref.map(_.toString).getOrElse("CAST(NULL AS DOUBLE)")
      s"(${sqlStr(ht)}, ${sqlStr(cr)}, ${sqlStr(ind)}, ${sqlStr(b)}, ${sqlStr(vw)}, " +
        s"'$op', $srefSql, $crefSql, $smax, $metSql, '$role', $agg)"
    }.mkString(",\n   ")
    s"""WITH plots AS (
       |  SELECT '$idPrefix' || c_custkey AS id,
       |    $typeList[CAST(c_custkey % ${types.size} AS INTEGER) + 1] AS type_analysis,
       |    c_custkey AS ck
       |  FROM customer),
       |m AS (
       |  SELECT id,
       |    v.voorwaarde,
       |    CASE WHEN v.is_cat
       |         THEN $midList[CAST((ck * (v.p + 2)) % 9 AS INTEGER) + 1]
       |         ELSE CAST((ck * (2*v.p + 3)) % v.span AS DOUBLE) END AS value_numeric,
       |    CASE WHEN v.is_cat
       |         THEN $clsList[CAST((ck * (v.p + 2)) % 9 AS INTEGER) + 1] END AS value_category,
       |    CASE WHEN v.dyn THEN CAST((ck * (v.p + 11)) % 101 AS DOUBLE) END AS ref_override
       |  FROM plots CROSS JOIN (VALUES
       |   $varVals) v(voorwaarde, p, span, is_cat, dyn)
       |  WHERE (ck + 3*v.p) % 7 <> 0),
       |r(habitattype, criterium, indicator, belang, voorwaarde, op, status_ref,
       |  score_ref, score_max, met_classes, role, aggregate) AS (
       |  VALUES
       |   $ruleVals),
       |d AS (
       |  SELECT p.id, p.type_analysis, r.criterium, r.indicator, r.belang,
       |    r.voorwaarde, r.role, r.aggregate,
       |    m.value_numeric AS v, m.value_category AS cls,
       |    COALESCE(m.ref_override, r.status_ref) AS sref,
       |    COALESCE(m.ref_override, r.score_ref) AS cref,
       |    r.score_max, r.op, r.met_classes
       |  FROM plots p
       |  JOIN r ON p.type_analysis = r.habitattype
       |  LEFT JOIN m ON m.id = p.id AND m.voorwaarde = r.voorwaarde),
       |d2 AS (
       |  SELECT id, type_analysis, criterium, indicator, belang, voorwaarde,
       |    role, aggregate,
       |    CASE WHEN met_classes IS NOT NULL THEN
       |           (CASE WHEN cls IS NOT NULL THEN list_contains(met_classes, cls) END)
       |         WHEN op = '>=' THEN v >= sref
       |         WHEN op = '>'  THEN v > sref
       |         WHEN op = '<=' THEN v <= sref
       |         ELSE v < sref END AS status_voorwaarde,
       |    CASE WHEN v IS NULL OR cref IS NULL OR
       |              (met_classes IS NOT NULL AND cls IS NULL) THEN NULL
       |         ELSE greatest(-1.0, least(1.0,
       |           CASE WHEN op IN ('>=', '>') THEN
       |                  CASE WHEN v >= cref THEN
       |                         (CASE WHEN score_max = cref THEN 1.0
       |                               ELSE (v - cref) / (score_max - cref) END)
       |                       WHEN cref <> 0 THEN (v - cref) / cref
       |                       WHEN v = cref THEN 0.0 END
       |                ELSE
       |                  CASE WHEN v <= cref THEN
       |                         (CASE WHEN cref = 0 THEN 1.0
       |                               ELSE (cref - v) / cref END)
       |                       ELSE (cref - v) / (score_max - cref) END
       |           END)) END AS verschilscore
       |  FROM d)
       |""".stripMargin
  }

  /** Shared CTE prefix for the forest oracle SQL: replays
    * [[forestInputs]] and the [[graft.lsvi.LsviForest]] detail semantics
    * in DuckDB, with all dictionary VALUES generated from the SAME
    * [[graft.lsvi.Versie3Forests]] constants (single source of truth). */
  private def forestOracleCtes: String = {
    val v3f = graft.lsvi.Versie3Forests
    val htList = v3f.habitattypes.map(sqlStr).mkString("[", ", ", "]")
    val clsList = v3f.coverClasses.map(sqlStr).mkString("[", ", ", "]")
    val midList = v3f.coverMidpoints
      .map(m => s"CAST($m AS DOUBLE)").mkString("[", ", ", "]")
    val numVals = forestNumVars
      .map { case (vw, p, span) => s"(${sqlStr(vw)}, $p, $span)" }.mkString(",\n   ")
    val catVals = forestCatVars
      .map { case (vw, p) => s"(${sqlStr(vw)}, $p)" }.mkString(",\n   ")
    val ruleVals = v3f.rules.map { case (ht, cr, ind, b, vw, ref, tm) =>
      val catOpt = v3f.categorical.get(vw)
      val met = catOpt
        .map { case (cls, _) => cls.map(sqlStr).mkString("[", ", ", "]") }
        .getOrElse("CAST(NULL AS VARCHAR[])")
      val refNum = catOpt.map(_._2).getOrElse(ref.toDouble)
      val scoreMax = if (catOpt.isDefined) 100.0 else tm
      val dir = if (v3f.downVoorwaarden(vw)) "down" else "up"
      val role = if (v3f.orVoorwaarden(vw)) "or" else "and"
      val agg = !v3f.noAggregateIndicators(ind)
      s"(${sqlStr(ht)}, ${sqlStr(cr)}, ${sqlStr(ind)}, ${sqlStr(b)}, ${sqlStr(vw)}, " +
        s"${sqlStr(ref)}, $tm, '$dir', $refNum, $scoreMax, $met, '$role', $agg)"
    }.mkString(",\n   ")
    s"""WITH plots AS (
       |  SELECT 'FP_' || c_custkey AS id,
       |    $htList[CAST(c_custkey % 11 AS INTEGER) + 1] AS type_analysis,
       |    c_custkey AS ck
       |  FROM customer),
       |plots2 AS (
       |  SELECT id, type_analysis, ck,
       |    CASE WHEN type_analysis LIKE '91E0%' THEN '91E0'
       |         WHEN type_analysis = '9130_end' THEN '9130'
       |         ELSE type_analysis END AS type_observed,
       |    CASE WHEN ck % 2 = 0 THEN 'anb' ELSE 'vbi' END AS survey,
       |    'SQ_' || ck AS record_id_square, 'CI_' || ck AS record_id_circle,
       |    'vbi' AS plot_type
       |  FROM plots),
       |mnum AS (
       |  SELECT id, v.voorwaarde,
       |    CAST((ck * (2*v.p + 3)) % v.span AS VARCHAR) AS waarde,
       |    CAST((ck * (2*v.p + 3)) % v.span AS DOUBLE) AS value_numeric,
       |    CAST(NULL AS VARCHAR) AS value_category
       |  FROM plots2 CROSS JOIN (VALUES
       |   $numVals) v(voorwaarde, p, span)
       |  WHERE (ck + 3*v.p) % 7 <> 0),
       |mcat AS (
       |  SELECT id, v.voorwaarde,
       |    $clsList[CAST((ck * (v.p + 2)) % 9 AS INTEGER) + 1] AS waarde,
       |    $midList[CAST((ck * (v.p + 2)) % 9 AS INTEGER) + 1] AS value_numeric,
       |    $clsList[CAST((ck * (v.p + 2)) % 9 AS INTEGER) + 1] AS value_category
       |  FROM plots2 CROSS JOIN (VALUES
       |   $catVals) v(voorwaarde, p)
       |  WHERE (ck + 3*v.p) % 7 <> 0),
       |m AS (SELECT * FROM mnum UNION ALL SELECT * FROM mcat),
       |r(habitattype, criterium, indicator, belang, voorwaarde, referentiewaarde,
       |  theoretischmaximum, direction, ref_numeric, score_max, met_classes,
       |  role, aggregate) AS (
       |  VALUES
       |   $ruleVals),
       |d AS (
       |  SELECT p.id, p.survey, p.record_id_square, p.record_id_circle,
       |    p.type_observed, p.type_analysis, r.criterium, r.indicator, r.belang,
       |    r.voorwaarde, p.plot_type, m.waarde,
       |    CASE WHEN r.met_classes IS NULL THEN m.value_numeric END AS waarde_numeric,
       |    r.referentiewaarde,
       |    CASE WHEN r.met_classes IS NOT NULL THEN
       |           (CASE WHEN m.value_category IS NOT NULL
       |                 THEN list_contains(r.met_classes, m.value_category) END)
       |         WHEN r.direction = 'up' THEN m.value_numeric >= r.ref_numeric
       |         ELSE m.value_numeric <= r.ref_numeric END AS status_voorwaarde,
       |    CAST(r.theoretischmaximum AS DOUBLE) AS theoretischmaximum,
       |    r.role, r.aggregate,
       |    m.value_numeric AS score_value, r.direction, r.ref_numeric, r.score_max
       |  FROM plots2 p
       |  JOIN r ON p.type_analysis = r.habitattype
       |  LEFT JOIN m ON m.id = p.id AND m.voorwaarde = r.voorwaarde),
       |d2 AS (
       |  SELECT *,
       |    CASE WHEN status_voorwaarde IS NULL OR score_value IS NULL THEN NULL
       |         ELSE greatest(-1.0, least(1.0,
       |           CASE WHEN direction = 'up' THEN
       |                  CASE WHEN status_voorwaarde THEN
       |                         (CASE WHEN score_max = ref_numeric THEN 1.0
       |                               ELSE (score_value - ref_numeric)
       |                                    / (score_max - ref_numeric) END)
       |                       ELSE (score_value - ref_numeric) / ref_numeric END
       |                ELSE
       |                  CASE WHEN status_voorwaarde THEN
       |                         (ref_numeric - score_value) / ref_numeric
       |                       ELSE (ref_numeric - score_value)
       |                            / (score_max - ref_numeric) END
       |           END)) END AS verschilscore
       |  FROM d)
       |""".stripMargin
  }

  private def lsviRules(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("verstoring", "prijsdruk", "avg_discount", "b", "<=", Option(0.05), Option.empty[Seq[String]],
        "0.05", Option(0.1)),
      ("verstoring", "retour", "return_rate", "zb", "<", Option(0.336), Option.empty[Seq[String]],
        "0.336", Option(1.0)),
      ("structuur", "kwantiteit", "avg_qty", "b", ">=", Option(25.3), Option.empty[Seq[String]],
        "25.3", Option(50.0)),
      ("structuur", "waarde", "avg_price", "b", ">=", Option(53000.0), Option.empty[Seq[String]],
        "53000", Option(100000.0)),
      ("context", "herkomst", "regio", "b", "in", Option.empty[Double], Option(lsviRegions),
        lsviRegions.mkString(", "), Option.empty[Double]))
      .toDF("criterium", "indicator", "voorwaarde", "belang", "op",
        "ref_numeric", "ref_categories", "referentiewaarde", "theoretisch_maximum")
  }

  /** Fixed-point globaal aggregation SQL on top of a `d2` detail CTE
    * (mirrors [[lsviGlobaalFixedPoint]]); shared by q103 and q107. */
  private val lsviGlobaalSqlTail: String =
    """, ind AS (
        |  SELECT id, type_analysis, criterium, indicator, belang,
        |    count(CASE WHEN role = 'and' AND status_voorwaarde IS NOT NULL THEN 1 END) AS and_known,
        |    count(CASE WHEN role = 'and' AND NOT status_voorwaarde THEN 1 END) AS and_bad,
        |    count(CASE WHEN role = 'or' AND status_voorwaarde IS NOT NULL THEN 1 END) AS or_known,
        |    count(CASE WHEN role = 'or' AND status_voorwaarde THEN 1 END) AS or_true,
        |    min(CASE WHEN role = 'and' THEN verschilscore END) AS vs_and,
        |    max(CASE WHEN role = 'or' THEN verschilscore END) AS vs_or
        |  FROM d2 WHERE aggregate GROUP BY 1, 2, 3, 4, 5),
        |ind2 AS (
        |  SELECT id, type_analysis, criterium, belang,
        |    CASE WHEN and_known + or_known = 0 THEN NULL
        |         ELSE (and_known = 0 OR and_bad = 0) AND
        |              (or_known = 0 OR or_true > 0) END AS status_indicator,
        |    CASE WHEN vs_and IS NULL THEN vs_or
        |         WHEN vs_or IS NULL THEN vs_and
        |         WHEN vs_and < vs_or THEN vs_and ELSE vs_or END AS verschilscore
        |  FROM ind),
        |ind3 AS (
        |  SELECT *, CAST(floor(verschilscore * 1000000.0 + 0.5) AS BIGINT) AS vs6
        |  FROM ind2),
        |crit AS (
        |  SELECT id, type_analysis, criterium,
        |    CAST(sum(vs6) AS BIGINT) AS cs6, count(vs6) AS cn
        |  FROM ind3 GROUP BY 1, 2, 3),
        |critmean AS (
        |  SELECT id, type_analysis,
        |    CAST(sum(CAST(floor(CAST(cs6 AS DOUBLE) / cn + 0.5) AS BIGINT)) AS BIGINT) AS mc6,
        |    count(*) AS n_crit
        |  FROM crit WHERE cn > 0 GROUP BY 1, 2),
        |gl AS (
        |  SELECT id, type_analysis,
        |    count(CASE WHEN status_indicator IS NOT NULL THEN 1 END) AS n_known,
        |    count(CASE WHEN status_indicator THEN 1 END) AS n_gunstig,
        |    count(CASE WHEN belang = 'zb' AND NOT status_indicator THEN 1 END) AS n_zb_ongunstig,
        |    CAST(sum(vs6) AS BIGINT) AS s6, count(vs6) AS n_vs,
        |    CAST(sum(CASE WHEN vs6 IS NOT NULL THEN
        |          (CASE WHEN vs6 < 0 THEN vs6 ELSE 0 END) + 1000000 END) AS BIGINT) AS d6
        |  FROM ind3 GROUP BY 1, 2)
        |SELECT g.id, g.type_analysis,
        | CASE WHEN g.n_known > 0 THEN
        |   100.0 * g.n_gunstig / g.n_known > 50.0 AND g.n_zb_ongunstig = 0 END AS status,
        | 'RapportageHR' AS aggregatiemethode, g.n_zb_ongunstig,
        | CASE WHEN g.n_known > 0 THEN 100.0 * g.n_gunstig / g.n_known END AS aandeel_gunstig,
        | CASE WHEN g.n_vs > 0 THEN CAST(g.s6 AS DOUBLE) / g.n_vs / 1000000.0 END AS index_mean_ind,
        | CAST(cm.mc6 AS DOUBLE) / cm.n_crit / 1000000.0 AS index_mean_crit,
        | CASE WHEN g.n_vs > 0 THEN CAST(g.d6 AS DOUBLE) / g.n_vs / 1000000.0 END AS doelbereik_mean_ind
        |FROM gl g LEFT JOIN critmean cm
        |  ON g.id = cm.id AND g.type_analysis = cm.type_analysis""".stripMargin
}
