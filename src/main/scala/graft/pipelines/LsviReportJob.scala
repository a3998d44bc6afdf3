package graft.pipelines

import graft.io.{Csv2, Vc}
import graft.lsvi.{LsviForest, LsviStatus}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** E2's last mile: compose the per-plot LSVI chain and the full
  * design-level status/trend reporting family into one versioned
  * result directory laid out like the reference's
  * `processed/lsvi_mhq/<group>/result/` (e.g. `forests/result/`:
  * `lsvi_{detail,indicator,criterium,globaal,plot}_fs`,
  * `status_{indicatoren,habitat,beheer}_fs`, `index_{hq,ind}_fs`,
  * `mc_nemar_fs`, `trend_{indicatoren,habitat,index_hq,index_ind}_fs`
  * — each a sorted TSV with a git2rdata-style yml sidecar).
  *
  * The engine functions already exist individually
  * ([[graft.lsvi.LsviForest]], [[graft.lsvi.LsviStatus]]); this job is
  * the publish composition: one LSVI chain pass, the ten reporting
  * shapes over its plot/indicator grains, and [[graft.io.Vc]] writes
  * with the PUBLISHED sort keys (read off the reference yml sidecars,
  * filtered to each frame's columns like the reference's write_vc
  * calls).
  *
  * Scale: the LSVI chain and every status shape are the same
  * hash-aggregation pipelines the oracle-backed queries plan (one scan
  * per grain, dictionary-sized results); only the final sorted
  * single-file TSV writes collapse to one partition — the S8/S9 output
  * contract, applied to result tables whose size is bounded by
  * habitattype × indicator counts, never by plot count. */
object LsviReportJob {

  /** @param suffix    published file suffix (forests "fs", streams "rw")
    * @param versie    rule version label column (published `versie`)
    * @param schaal    reporting scale label column (published `schaal`)
    * @param weightCol optional design-weight column on `meta` — when
    *                  set, the status/index estimators use the
    *                  design-weighted estimators (and `mc_nemar` the
    *                  weighted discordants); when absent, equal
    *                  weights (and unit-weight mc_nemar)
    * @param tables    optional selection of base names to publish —
    *                  groups publish different subsets (forests: the
    *                  full chain + shapes; streams: `lsvi_plot` + the
    *                  nine reporting shapes only); None = everything
    * @param plotTable published name AND grain of the plot table —
    *                  `lsvi_plot` (point grain: point_code/x/y) or
    *                  `lsvi_watersurface` (the standing-water group's
    *                  watersurface grain: `code_watersurfaces`, no
    *                  coordinates, no doelbereik column —
    *                  `standing_water/result/lsvi_watersurface_sw.yml`)
    * @param partitionBy opt-in 100×-scale routing: base table names
    *                  mapped to partition columns publish through
    *                  [[graft.io.Vc.writePartitioned]] (hive layout +
    *                  order-independent digest + pruning-capable
    *                  sidecar) instead of the single-file contract.
    *                  The reference's own directories are single-file
    *                  by contract, so the default is empty; a
    *                  plot-grain table that outgrows one file (the
    *                  lsvi_plot family is the only one that scales
    *                  with plot count) is the intended customer. */
  case class Config(suffix: String, versie: String = "Versie 3",
                    schaal: String = "Vlaanderen",
                    weightCol: Option[String] = None,
                    tables: Option[Set[String]] = None,
                    plotTable: String = "lsvi_plot",
                    partitionBy: Map[String, Seq[String]] = Map.empty)

  /** A continuous per-visit measurement series published alongside the
    * group (forests: the thick-dead-wood inventory behind
    * `status_dikdoodhout` / `trend_dikdoodhout`). The frame is the
    * FULL pooled analysis input (id, date, point_code, habitattype,
    * habitatsubtype, value) rather than a chain join: the reference
    * pools plots across schemes here (91E0_sf draws 47 of its 51
    * points from the moneos estuary scheme, outside the forests
    * chain), so the caller supplies the pooled set. */
  case class Continuous(plots: DataFrame, indicator: String, voorwaarde: String)

  /** A fully-mapped (census) habitat published as habitattype-suffixed
    * side tables NEXT TO the group set — coastal dunes publish
    * `{status,trend}_{habitat,indicatoren}_2110` beside the `_cd`
    * family, heath `status_{habitat,indicatoren}_5130` beside `_hs_id`
    * (`processed/lsvi_mhq/{coastal_dunes,heath_inland_dunes}/result/`).
    * Every polygon is assessed, so shares are area ratios
    * ([[graft.lsvi.LsviStatus.statusAreaCensus]]/[[graft.lsvi.LsviStatus.trendAreaCensus]]),
    * not sample estimates, and the file name carries the habitattype
    * instead of the group suffix.
    *
    * Inputs are per-grain polygon frames (habitattype, in_sac,
    * verdict ∈ {gunstig, ongunstig, onbekend}, area_ha[, date for
    * trend]; the indicatoren grain adds criterium/indicator/belang);
    * trend slots carry (earlier mapping, later mapping). Absent slots
    * publish nothing — heath has no 5130 trend tables. */
  case class Census(habitattype: String,
                    statusHabitat: Option[DataFrame] = None,
                    statusIndicatoren: Option[DataFrame] = None,
                    trendHabitat: Option[(DataFrame, DataFrame)] = None,
                    trendIndicatoren: Option[(DataFrame, DataFrame)] = None)

  /** The two continuous tables publish SUFFIX-LESS with a `write_csv2`
    * CSV twin (`forests/result/status_dikdoodhout.{tsv,yml,csv}`),
    * unlike every other table in the directory. */
  private val continuousTables = Set("status_dikdoodhout", "trend_dikdoodhout")

  /** The streams `_rw` publication subset
    * (`processed/lsvi_mhq/streams/result/`): the plot table plus the
    * nine design-weighted reporting shapes — no chain tables, no
    * status_beheer. */
  val streamsTables: Set[String] = Set("lsvi_plot", "status_indicatoren",
    "status_habitat", "index_hq", "index_ind", "mc_nemar",
    "trend_indicatoren", "trend_habitat", "trend_index_hq",
    "trend_index_ind")

  /** The standing-water `_sw` publication subset
    * (`processed/lsvi_mhq/standing_water/result/`): the
    * watersurface-grain plot table plus the ten reporting shapes — no
    * chain tables. */
  val standingWaterTables: Set[String] = Set("lsvi_watersurface",
    "status_indicatoren", "status_habitat", "status_beheer", "index_hq",
    "index_ind", "mc_nemar", "trend_indicatoren", "trend_habitat",
    "trend_index_hq", "trend_index_ind")

  /** Run the full chain and write the result directory.
    *
    * @param plots        LSVI plot skeleton (id, type_analysis, survey,
    *                     record_id_square, record_id_circle,
    *                     type_observed[, plot_type])
    * @param measurements prepared measurements (id, voorwaarde, waarde,
    *                     value_numeric, value_category)
    * @param rules        the group's rule table (a `Versie3*.rulesDf`)
    * @param meta         plot metadata: id, date, point_code, x, y,
    *                     in_sac[, passend_beheer][, weight]
    * @return the written frames by published base name (suffix-free),
    *         for inspection and testing */
  def run(plots: DataFrame, measurements: DataFrame, rules: DataFrame,
          meta: DataFrame, outDir: String, cfg: Config,
          continuous: Option[Continuous] = None,
          census: Seq[Census] = Nil): Map[String, DataFrame] = {
    val detail = LsviForest.detail(plots, measurements, rules)
    val indicator = LsviForest.indicator(detail)
    val criterium = LsviForest.criterium(indicator)
    val globaal = LsviForest.globaal(indicator)

    // subtype -> reporting-type rollup (91E0_vc -> 91E0, 9130_end ->
    // 9130, 2190_a -> 2190, 3130_aom -> 3130): the published pairs are
    // uniformly "text before the first underscore"
    val reportingType =
      substring_index(col("type_analysis"), "_", 1).as("habitattype")

    // the published plot table: globaal ⋈ metadata. Point grain
    // publishes point_code/x/y + doelbereik; the standing-water
    // watersurface grain publishes code_watersurfaces and stops at
    // index_mean_ind (lsvi_watersurface_sw.yml column order).
    val plot =
      if (cfg.plotTable == "lsvi_watersurface")
        globaal.join(meta, Seq("id"))
          .select(Seq(col("id"), col("date"), col("code_watersurfaces"),
            col("in_sac"), reportingType,
            col("type_analysis").as("habitatsubtype"),
            when(col("status"), "gunstig").otherwise("ongunstig").as("lsvi"),
            col("aggregatiemethode"), col("n_zb_ongunstig"),
            col("aandeel_gunstig"), col("index_mean_ind")) ++
            cfg.weightCol.map(col): _*)
      else
        globaal.join(meta, Seq("id"))
          .select(Seq(col("id"), col("date"), col("point_code"), col("x"),
            col("y"), col("in_sac"), reportingType,
            col("type_analysis").as("habitatsubtype"),
            when(col("status"), "gunstig").otherwise("ongunstig").as("lsvi"),
            col("aggregatiemethode"), col("n_zb_ongunstig"),
            col("aandeel_gunstig"), col("index_mean_ind"),
            col("doelbereik_mean_ind")) ++
            cfg.weightCol.map(col): _*)

    // LsviStatus input grain: one row per (plot, analysis type) with
    // the verdict, quality index and design metadata; habitattype is
    // the full analysis type like the published status strata. The
    // watersurface grain's code doubles as the pairing key the
    // estimators partition on (the reference revisits watersurfaces
    // the way other groups revisit points).
    val pointCode =
      if (cfg.plotTable == "lsvi_watersurface")
        col("code_watersurfaces").as("point_code")
      else col("point_code")
    val statusMeta = globaal.join(meta, Seq("id"))
      .select(Seq(col("id"), col("type_analysis").as("habitattype"),
        pointCode, col("date"), col("in_sac"),
        when(col("status"), "gunstig").otherwise("ongunstig").as("lsvi"),
        col("index_mean_ind")) ++
        (if (meta.columns.contains("passend_beheer"))
           Seq(col("passend_beheer")) else Nil) ++
        cfg.weightCol.map(col): _*)

    val w = cfg.weightCol
    // census tables publish habitattype-suffixed (never group-suffixed)
    val censusMaps = census.map(censusShapes)
    val censusNames: Set[String] = censusMaps.flatMap(_.keys).toSet
    // thunked: a cfg.tables subset run (streams mode, the q139
    // round-trip gate) only plans the shapes it will write
    val shapes: Map[String, () => DataFrame] = Map(
      // role/aggregate are engine plumbing, not published columns
      "lsvi_detail" -> (() => detail.drop("role", "aggregate")),
      "lsvi_indicator" -> (() => indicator),
      "lsvi_criterium" -> (() => criterium),
      "lsvi_globaal" -> (() => globaal),
      cfg.plotTable -> (() => plot),
      "status_indicatoren" -> (() =>
        LsviStatus.statusIndicatoren(indicator, statusMeta, w)),
      "status_habitat" -> (() => LsviStatus.statusHabitat(statusMeta, w)),
      "index_hq" -> (() => LsviStatus.indexHq(statusMeta, w)),
      "index_ind" -> (() => LsviStatus.indexInd(indicator, statusMeta, w)),
      "mc_nemar" -> (() => LsviStatus.mcNemar(
        statusMeta.withColumn("weight",
          w.map(col).getOrElse(lit(1.0)).cast("double")))),
      "trend_indicatoren" -> (() =>
        LsviStatus.trendIndicatoren(indicator, statusMeta, w)),
      "trend_habitat" -> (() => LsviStatus.trendHabitat(statusMeta, w)),
      "trend_index_hq" -> (() => LsviStatus.trendIndexHq(statusMeta, w)),
      "trend_index_ind" -> (() =>
        LsviStatus.trendIndexInd(indicator, statusMeta, w))) ++
      (if (meta.columns.contains("passend_beheer"))
         Map("status_beheer" -> (() => LsviStatus.statusBeheer(statusMeta)))
       else Map.empty[String, () => DataFrame]) ++
      continuous.map { c =>
        // the continuous input carries its own per-visit weights (it
        // pools schemes outside the chain); cfg.weightCol switches
        // these shapes to the weighted estimators when that column is
        // present on the pooled frame — the published dikdoodhout
        // values are design-weighted (weights unpublished)
        val cw = w.filter(c.plots.columns.contains)
        Map(
          "status_dikdoodhout" -> (() =>
            LsviStatus.statusContinuous(c.plots, c.indicator, c.voorwaarde, cw)),
          "trend_dikdoodhout" -> (() =>
            LsviStatus.trendContinuous(c.plots, c.indicator, c.voorwaarde, cw)))
      }.getOrElse(Map.empty[String, () => DataFrame]) ++
      censusMaps.flatten.toMap

    val selected = cfg.tables
      .map(t => shapes.filter { case (name, _) => t(name) })
      .getOrElse(shapes)
      .map { case (name, thunk) => name -> thunk() }
    val labelled = selected.map { case (name, df) =>
      name -> (
        if (name.startsWith("lsvi_")) df // chain tables publish bare
        else if (continuousTables(name))
          // the continuous tables publish a different column order
          // (versie, type_resultaat, schaal, indicator, voorwaarde, …)
          // and the published trend table labels "Versie 3.0" where
          // the status table says "Versie 3" — reference quirk, kept
          {
            val m = if (name == "status_dikdoodhout") "gemiddelde" else "verschil"
            df.select(
              lit(if (name == "trend_dikdoodhout") s"${cfg.versie}.0"
                  else cfg.versie).as("versie"),
              col("type_resultaat"), lit(cfg.schaal).as("schaal"),
              col("indicator"), col("voorwaarde"), col("habitattype"),
              col("habitatsubtype"), col("sbzh"), col("n_obs"),
              col(m), col(s"${m}_llci"), col(s"${m}_ulci"))
          }
        // the other reporting tables lead with versie/schaal labels
        else df.select(lit(cfg.versie).as("versie") +:
          lit(cfg.schaal).as("schaal") +: df.columns.toIndexedSeq.map(col): _*))
    }

    labelled.foreach { case (name, df) =>
      val keys = sortKeys(name).filter(df.columns.contains)
      // continuous + census tables publish suffix-less / habitattype-
      // suffixed (the habitattype IS the suffix: status_habitat_2110)
      val target =
        if (continuousTables(name) || censusNames(name)) s"$outDir/$name"
        else s"$outDir/${name}_${cfg.suffix}"
      cfg.partitionBy.get(name) match {
        case Some(pcols) =>
          Vc.writePartitioned(df, target, pcols,
            sortKeys = keys.filterNot(pcols.contains))
        case None => Vc.write(df, target, keys)
      }
      if (continuousTables(name))
        // plus the write_csv2 twin the reference publishes — sorted
        // inside the single-file partition (the Vc.write r22 shape:
        // a global orderBy would re-evaluate the chain for range
        // sampling before Csv2's coalesce(1) collapses it anyway)
        Csv2.writeFile(df.coalesce(1)
          .sortWithinPartitions(keys.map(col): _*), s"$outDir/$name.csv")
    }
    labelled
  }

  /** The published census side tables of one fully-mapped habitat,
    * keyed by their habitattype-suffixed names. Column layouts follow
    * the published files exactly — the reference's two census habitats
    * publish DIFFERENT selections of the same estimator output (2110
    * leads with the midpoint share; 5130's habitat table renames the
    * pessimistic/optimistic bounds to `aandeel_gunstig_min/_max` and
    * its indicatoren table appends the full share+bounds triple) —
    * so the layout dispatches on habitattype, new census habitats
    * defaulting to the 2110 layout. */
  private def censusShapes(c: Census): Map[String, () => DataFrame] = {
    val det = Seq("criterium", "indicator", "belang")
    val keys = Seq("type_resultaat", "habitattype", "sbzh").map(col)
    val opp = Seq("opp_gunstig_ha", "opp_ongunstig_ha", "opp_onbekend_ha")
      .map(col)
    def statusHabitatLayout(df: DataFrame): DataFrame = c.habitattype match {
      case "5130" => df.select(keys ++
        Seq(col("aandeel_gunstig_llci").as("aandeel_gunstig_min"),
          col("aandeel_gunstig_ulci").as("aandeel_gunstig_max"),
          col("beoordeling")) ++ opp: _*)
      case _ => df.select(keys ++ (col("beoordeling") +: opp) :+
        col("aandeel_gunstig"): _*)
    }
    def statusIndLayout(df: DataFrame): DataFrame = c.habitattype match {
      case "5130" => df.select(keys ++
        Seq(col("criterium"), col("indicator"), col("beoordeling")) ++ opp ++
        Seq(col("belang"), col("aandeel_gunstig"),
          col("aandeel_gunstig_llci"), col("aandeel_gunstig_ulci")): _*)
      case _ => df.select(keys ++
        Seq(col("criterium"), col("indicator"), col("aandeel_gunstig"),
          col("beoordeling")) ++ opp :+ col("belang"): _*)
    }
    // trendAreaCensus already emits the published habitat-grain order;
    // the indicatoren grain moves belang to the end
    def trendIndLayout(df: DataFrame): DataFrame =
      df.select(keys ++
        Seq(col("criterium"), col("indicator"), col("parameter"),
          col("mean"), col("klasse"), col("jaar_min"), col("jaar_max"),
          col("verschil_jaar"), col("belang")): _*)
    Seq(
      c.statusHabitat.map(p => s"status_habitat_${c.habitattype}" ->
        (() => statusHabitatLayout(LsviStatus.statusAreaCensus(p)))),
      c.statusIndicatoren.map(p => s"status_indicatoren_${c.habitattype}" ->
        (() => statusIndLayout(LsviStatus.statusAreaCensus(p, det)))),
      c.trendHabitat.map { case (c1, c2) =>
        s"trend_habitat_${c.habitattype}" ->
          (() => LsviStatus.trendAreaCensus(c1, c2)) },
      c.trendIndicatoren.map { case (c1, c2) =>
        s"trend_indicatoren_${c.habitattype}" ->
          (() => trendIndLayout(LsviStatus.trendAreaCensus(c1, c2, det))) }
    ).flatten.toMap
  }

  /** Published sort keys per base name (from the reference yml
    * sidecars, e.g. `status_indicatoren_fs.yml` `sorting:`); filtered
    * to the frame's columns at write time. */
  def sortKeys(name: String): Seq[String] = name match {
    case "lsvi_detail" => Seq("id", "type_analysis", "voorwaarde")
    case "lsvi_indicator" => Seq("id", "type_analysis", "indicator")
    case "lsvi_criterium" => Seq("id", "type_analysis", "criterium")
    case "lsvi_globaal" => Seq("id", "type_analysis")
    case "lsvi_plot" => Seq("habitattype", "habitatsubtype", "date", "point_code")
    case "lsvi_watersurface" =>
      // lsvi_watersurface_sw.yml `sorting:`
      Seq("habitattype", "habitatsubtype", "date", "code_watersurfaces")
    // census side tables (sorting: from status_habitat_2110.yml etc.)
    case n if n.matches("(status|trend)_habitat_\\d+.*") => Seq("type_resultaat")
    case n if n.matches("(status|trend)_indicatoren_\\d+.*") =>
      Seq("type_resultaat", "indicator")
    case "status_indicatoren" =>
      Seq("habitattype", "type_resultaat", "sbzh", "habitatsubtype",
        "criterium", "indicator")
    case "status_habitat" | "index_hq" | "trend_index_hq" | "mc_nemar" =>
      Seq("habitattype", "type_resultaat", "sbzh", "habitatsubtype")
    case "status_beheer" => Seq("habitattype", "passend_beheer")
    case "index_ind" | "trend_index_ind" =>
      Seq("habitattype", "type_resultaat", "sbzh", "habitatsubtype", "indicator")
    case "trend_indicatoren" =>
      Seq("periode", "habitattype", "type_resultaat", "sbzh",
        "habitatsubtype", "criterium", "indicator")
    case "trend_habitat" =>
      Seq("periode", "habitattype", "type_resultaat", "sbzh",
        "habitatsubtype", "parameter")
    case "status_dikdoodhout" | "trend_dikdoodhout" =>
      // from status_dikdoodhout.yml / trend_dikdoodhout.yml `sorting:`
      Seq("habitattype", "type_resultaat", "sbzh", "habitatsubtype",
        "indicator")
    case other =>
      throw new IllegalArgumentException(s"no published sort keys for '$other'")
  }
}
