package graft.lsvi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The REAL LSVI Versie-3 rule content for the FOREST habitat types
  * (9110, 9120, 9130_end, 9160, 9190 and the six 91E0 subtypes),
  * shipped as data — read off the published result tables under
  * `/root/reference/processed/lsvi_mhq/forests/result/` exactly as
  * [[Versie3]] did for the aquatic standing-water types.
  *
  * Everything here was derived from, and validated against, the
  * published tables (no package internals were available):
  *
  *   - the 203 per-habitattype rule rows (criterium, indicator, belang,
  *     voorwaarde, referentiewaarde, theoretisch maximum) are the
  *     distinct rule tuples of `lsvi_detail_fs.tsv`;
  *   - the verschilscore formula — met upward: (v-ref)/(max-ref) (1
  *     when max==ref), unmet upward: (v-ref)/ref, mirrored for
  *     downward conditions, clamped to [-1, 1] — reproduces the
  *     published `verschilscore` on ALL 20,685 evaluable numeric rows
  *     EXACTLY: fed the full-precision `waarde` column, the largest
  *     |computed - published| is 5.0e-5, i.e. precisely the half-ULP
  *     of the reference's 4-decimal rendering of the score (the spec
  *     gates 5.1e-5; an earlier 2-row residual claim was an artifact
  *     of feeding the 4-decimal `waarde_numeric` rendering instead);
  *   - categorical conditions (referentiewaarde `B` / `ZS`) verdict by
  *     cover-class membership: `B` is met by the "bedekkend" classes
  *     {kb, hb, b, d}, `ZS` by {Afwezig, zs} — 100% of published
  *     status values; their verschilscore uses the underlying
  *     continuous cover with score reference 50 (B) / 0.8 (ZS) on a
  *     0-100 scale (validated: Afwezig -> 1.0 and zs -> 0.375 under ZS
  *     exactly as published);
  *   - indicator combination: AND (= min of verschilscores, all
  *     statuses must hold) by default; the groeiklassen voorwaarden
  *     combine as OR (= max, any status); `sleutelsoorten van de
  *     kruidlaag` combines as (aandeel OF bedekking) EN aantal — the
  *     only structure that reproduces ALL 1,205 evaluable published
  *     indicator rows (plain min fits 887, median 738);
  *   - `hoeveelheid dik dood hout` and `horizontale structuur -
  *     natuurlijke mozaiekstructuur` appear in the detail table but are
  *     EXCLUDED from the published indicator/criterium/globaal
  *     aggregation (the reference reports them separately, cf.
  *     `status_dikdoodhout.tsv`);
  *   - criterium/globaal aggregation (RapportageHR): favorable iff
  *     &gt;50% of known indicators favorable AND no very-important (zb)
  *     indicator unfavorable; `index_mean_ind` = mean verschilscore,
  *     `doelbereik_mean_ind` = mean of 1+min(verschilscore, 0),
  *     `index_mean_crit` = mean of the criterium means. Validated
  *     exactly (0 mismatches) on all 12,575 indicator, 3,774 criterium
  *     and 1,258 globaal published rows.
  */
object Versie3Forests {

  val habitattypes: Seq[String] = Seq("9110", "9120", "9130_end", "9160", "9190",
    "91E0_sf", "91E0_va", "91E0_vc", "91E0_vm", "91E0_vn", "91E0_vo")

  /** Downward conditions (lower observed value is better). Everything
    * else is upward. `schaalgrootte ingrepen (ha)` is never evaluated
    * in the published data (always NA); it is encoded downward
    * (interventions should stay small) as the documented assumption. */
  val downVoorwaarden: Set[String] = Set(
    "bedekking invasieve exoten boom- en struiklaag",
    "bedekking invasieve exoten kruidlaag",
    "bedekking verruiging totaal",
    "bedekking verruiging-bramen, Riet- en Liesgras",
    "bedekking verruiging-bramen, ruderalen, vermesting",
    "bedekking verruiging-ruderalen, bodemverdichting",
    "bedekking verruiging-subgroep Pijpenstrootje",
    "bedekking verruiging-subgroep bodemverdichting",
    "bedekking verruiging-subgroep bramen",
    "bedekking verruiging-subgroep ruderalisering",
    "bedekking verruiging-subgroep vermesting",
    "maximum bedekking verruiging-bodemverdichting",
    "schaalgrootte ingrepen (ha)")

  /** Voorwaarden that sit in their indicator's OR-group: the indicator
    * verschilscore is min(AND-group ∪ {max(OR-group)}) and the status
    * is ALL(AND-group) AND ANY(OR-group), skipping NULLs. */
  val orVoorwaarden: Set[String] = Set(
    "aantal groeiklassen aanwezig",
    "groeiklasse 7 aanwezig",
    "groeiklasse 5 6 of 7 aanwezig",
    "aandeel sleutelsoorten kruidlaag",
    "aandeel sleutelsoorten kruid- en moslaag",
    "bedekking sleutelsoorten kruidlaag",
    "bedekking sleutelsoorten kruid- en moslaag")

  /** The ordered cover-class scale observed in the published data. */
  val coverClasses: Seq[String] = Seq("Afwezig", "zs", "s", "wt", "t", "kb", "hb", "b", "d")

  /** Representative continuous cover per class (index-aligned with
    * [[coverClasses]]): used by synthetic inputs so the class verdict
    * and the continuous score stay consistent, as they are in the
    * reference's field data (Afwezig/zs sit under the ZS reference 0.8;
    * kb..d sit above the B score reference 50). */
  val coverMidpoints: Seq[Double] = Seq(0.0, 0.5, 3.0, 6.0, 15.0, 62.5, 75.0, 85.0, 95.0)

  /** Categorical conditions: met-class set + continuous score reference
    * (on the 0-100 cover scale; score maximum is always 100). */
  val categorical: Map[String, (Seq[String], Double)] = Map(
    "bedekking sleutelsoorten kruidlaag" -> (Seq("kb", "hb", "b", "d"), 50.0),
    "bedekking sleutelsoorten kruid- en moslaag" -> (Seq("kb", "hb", "b", "d"), 50.0),
    "bedekking invasieve exoten kruidlaag" -> (Seq("Afwezig", "zs"), 0.8),
    "bedekking verruiging-ruderalen, bodemverdichting" -> (Seq("Afwezig", "zs"), 0.8),
    "maximum bedekking verruiging-bodemverdichting" -> (Seq("Afwezig", "zs"), 0.8))

  /** Indicators published in the detail table but excluded from the
    * indicator/criterium/globaal aggregation. */
  val noAggregateIndicators: Set[String] = Set(
    "hoeveelheid dik dood hout",
    "horizontale structuur - natuurlijke mozaiekstructuur")

  // 203 rule rows read off processed/lsvi_mhq/forests/result/lsvi_detail_fs.tsv
  val rules: Seq[(String, String, String, String, String, String, Double)] = Seq(
    ("9110", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("9110", "Structuur", "bosconstantie", "zb", "bosconstantie", "100", 250.0),
    ("9110", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("9110", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("9110", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("9110", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("9110", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("9110", "Structuur", "minimum structuurareaal", "zb", "MSA", "40", 120.0),
    ("9110", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("9110", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("9110", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("9110", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "7", 13.0),
    ("9110", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("9110", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("9110", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("9110", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "50", 100.0),
    ("9110", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bodemverdichting", "10", 100.0),
    ("9110", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bramen", "50", 100.0),
    ("9110", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep ruderalisering", "10", 100.0),
    ("9110", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep vermesting", "10", 100.0),
    ("9120", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("9120", "Structuur", "bosconstantie", "zb", "bosconstantie", "100", 250.0),
    ("9120", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("9120", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("9120", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("9120", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("9120", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("9120", "Structuur", "minimum structuurareaal", "zb", "MSA", "40", 120.0),
    ("9120", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("9120", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("9120", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("9120", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "7", 13.0),
    ("9120", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("9120", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("9120", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("9120", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "50", 100.0),
    ("9120", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bodemverdichting", "10", 100.0),
    ("9120", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bramen", "50", 100.0),
    ("9120", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep ruderalisering", "10", 100.0),
    ("9120", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep vermesting", "10", 100.0),
    ("9130_end", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("9130_end", "Structuur", "bosconstantie", "zb", "bosconstantie", "100", 250.0),
    ("9130_end", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("9130_end", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("9130_end", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("9130_end", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("9130_end", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("9130_end", "Structuur", "minimum structuurareaal", "zb", "MSA", "20", 60.0),
    ("9130_end", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("9130_end", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("9130_end", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("9130_end", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "7", 21.0),
    ("9130_end", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("9130_end", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("9130_end", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("9130_end", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "50", 100.0),
    ("9130_end", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bodemverdichting", "10", 100.0),
    ("9130_end", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bramen", "50", 100.0),
    ("9130_end", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep ruderalisering", "10", 100.0),
    ("9130_end", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep vermesting", "10", 100.0),
    ("9160", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("9160", "Structuur", "bosconstantie", "zb", "bosconstantie", "100", 250.0),
    ("9160", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("9160", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("9160", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("9160", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("9160", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("9160", "Structuur", "minimum structuurareaal", "zb", "MSA", "15", 45.0),
    ("9160", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("9160", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("9160", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("9160", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "7", 21.0),
    ("9160", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("9160", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("9160", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("9160", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "50", 100.0),
    ("9160", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bodemverdichting", "10", 100.0),
    ("9160", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bramen", "50", 100.0),
    ("9160", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep ruderalisering", "10", 100.0),
    ("9160", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep vermesting", "10", 100.0),
    ("9190", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("9190", "Structuur", "bosconstantie", "zb", "bosconstantie", "100", 250.0),
    ("9190", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("9190", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("9190", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("9190", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("9190", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("9190", "Structuur", "minimum structuurareaal", "zb", "MSA", "50", 150.0),
    ("9190", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("9190", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("9190", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("9190", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "3", 9.0),
    ("9190", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("9190", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("9190", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("9190", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "30", 100.0),
    ("9190", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bodemverdichting", "10", 100.0),
    ("9190", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bramen", "30", 100.0),
    ("9190", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep ruderalisering", "10", 100.0),
    ("9190", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep vermesting", "10", 100.0),
    ("91E0_sf", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("91E0_sf", "Structuur", "bosconstantie", "zb", "bosconstantie", "30", 90.0),
    ("91E0_sf", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("91E0_sf", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("91E0_sf", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 5 6 of 7 aanwezig", "1", 3.0),
    ("91E0_sf", "Structuur", "minimum structuurareaal", "zb", "MSA", "25", 75.0),
    ("91E0_sf", "Structuur", "overstromingsregime", "zb", "aandeel overstromende vloeden", "40", 100.0),
    ("91E0_sf", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("91E0_sf", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("91E0_sf", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "7", 12.0),
    ("91E0_sf", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("91E0_sf", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("91E0_sf", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "50", 100.0),
    ("91E0_va", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("91E0_va", "Structuur", "bosconstantie", "zb", "bosconstantie", "75", 225.0),
    ("91E0_va", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("91E0_va", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("91E0_va", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("91E0_va", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("91E0_va", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("91E0_va", "Structuur", "minimum structuurareaal", "zb", "MSA", "10", 30.0),
    ("91E0_va", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("91E0_va", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("91E0_va", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("91E0_va", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "7", 16.0),
    ("91E0_va", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("91E0_va", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("91E0_va", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("91E0_va", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "30", 100.0),
    ("91E0_va", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bodemverdichting", "10", 100.0),
    ("91E0_va", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bramen", "10", 100.0),
    ("91E0_va", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep ruderalisering", "30", 100.0),
    ("91E0_vc", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("91E0_vc", "Structuur", "bosconstantie", "zb", "bosconstantie", "75", 225.0),
    ("91E0_vc", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("91E0_vc", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("91E0_vc", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("91E0_vc", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("91E0_vc", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("91E0_vc", "Structuur", "minimum structuurareaal", "zb", "MSA", "10", 30.0),
    ("91E0_vc", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("91E0_vc", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("91E0_vc", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "2", 6.0),
    ("91E0_vc", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("91E0_vc", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("91E0_vc", "Verstoring", "verruiging", "zb", "bedekking verruiging-bramen, ruderalen, vermesting", "10", 100.0),
    ("91E0_vc", "Verstoring", "verruiging", "zb", "maximum bedekking verruiging-bodemverdichting", "ZS", 1.0),
    ("91E0_vm", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("91E0_vm", "Structuur", "bosconstantie", "zb", "bosconstantie", "30", 90.0),
    ("91E0_vm", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("91E0_vm", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("91E0_vm", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("91E0_vm", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("91E0_vm", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("91E0_vm", "Structuur", "minimum structuurareaal", "zb", "MSA", "20", 60.0),
    ("91E0_vm", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("91E0_vm", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("91E0_vm", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("91E0_vm", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "7", 18.0),
    ("91E0_vm", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("91E0_vm", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("91E0_vm", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("91E0_vm", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "30", 100.0),
    ("91E0_vm", "Verstoring", "verruiging", "zb", "bedekking verruiging-bramen, Riet- en Liesgras", "10", 100.0),
    ("91E0_vm", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bodemverdichting", "10", 100.0),
    ("91E0_vm", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep ruderalisering", "30", 100.0),
    ("91E0_vn", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("91E0_vn", "Structuur", "bosconstantie", "zb", "bosconstantie", "30", 90.0),
    ("91E0_vn", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("91E0_vn", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("91E0_vn", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 7 aanwezig", "1", 1.0),
    ("91E0_vn", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "natuurlijke mozaïekstructuur", "1", 1.0),
    ("91E0_vn", "Structuur", "horizontale structuur - natuurlijke mozaiekstructuur", "b", "schaalgrootte ingrepen (ha)", "1", 3.0),
    ("91E0_vn", "Structuur", "minimum structuurareaal", "zb", "MSA", "20", 60.0),
    ("91E0_vn", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("91E0_vn", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("91E0_vn", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruidlaag", "30", 100.0),
    ("91E0_vn", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruidlaag", "10", 15.0),
    ("91E0_vn", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruidlaag", "B", 1.0),
    ("91E0_vn", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("91E0_vn", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("91E0_vn", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "30", 100.0),
    ("91E0_vn", "Verstoring", "verruiging", "zb", "bedekking verruiging-bramen, Riet- en Liesgras", "10", 100.0),
    ("91E0_vn", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep bodemverdichting", "10", 100.0),
    ("91E0_vn", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep ruderalisering", "30", 100.0),
    ("91E0_vo", "Structuur", "aandeel dood hout", "b", "aandeel dood hout", "4", 100.0),
    ("91E0_vo", "Structuur", "bosconstantie", "zb", "bosconstantie", "30", 90.0),
    ("91E0_vo", "Structuur", "hoeveelheid dik dood hout", "zb", "aantal exemplaren dik dood hout per ha", "1", 3.0),
    ("91E0_vo", "Structuur", "horizontale structuur - groeiklassen", "b", "aantal groeiklassen aanwezig", "3", 7.0),
    ("91E0_vo", "Structuur", "horizontale structuur - groeiklassen", "b", "groeiklasse 5 6 of 7 aanwezig", "1", 3.0),
    ("91E0_vo", "Structuur", "minimum structuurareaal", "zb", "MSA", "20", 60.0),
    ("91E0_vo", "Structuur", "verticale structuur", "b", "aantal vegetatielagen talrijk aanwezig", "3", 3.0),
    ("91E0_vo", "Vegetatie", "sleutelsoorten van de boom- en struiklaag", "b", "grondvlak sleutelsoorten boom- en struiklaag", "70", 100.0),
    ("91E0_vo", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aandeel sleutelsoorten kruid- en moslaag", "30", 100.0),
    ("91E0_vo", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "aantal sleutelsoorten kruid- en moslaag", "3", 9.0),
    ("91E0_vo", "Vegetatie", "sleutelsoorten van de kruidlaag", "b", "bedekking sleutelsoorten kruid- en moslaag", "B", 1.0),
    ("91E0_vo", "Verstoring", "invasieve exoten van de boom- en struiklaag", "b", "bedekking invasieve exoten boom- en struiklaag", "10", 100.0),
    ("91E0_vo", "Verstoring", "invasieve exoten van de kruidlaag", "zb", "bedekking invasieve exoten kruidlaag", "ZS", 1.0),
    ("91E0_vo", "Verstoring", "verruiging", "zb", "bedekking verruiging totaal", "30", 100.0),
    ("91E0_vo", "Verstoring", "verruiging", "zb", "bedekking verruiging-bramen, Riet- en Liesgras", "10", 100.0),
    ("91E0_vo", "Verstoring", "verruiging", "zb", "bedekking verruiging-ruderalen, bodemverdichting", "ZS", 1.0),
    ("91E0_vo", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep Pijpenstrootje", "50", 100.0),
    ("91E0_vo", "Verstoring", "verruiging", "zb", "bedekking verruiging-subgroep vermesting", "10", 100.0)
  )

  /** Rule table as a broadcastable DataFrame with the evaluation
    * coordinates the engine needs:
    * (habitattype, criterium, indicator, belang, voorwaarde,
    *  referentiewaarde, theoretischmaximum — the two display forms —
    *  direction up|down, ref_numeric + score_max — the scoring params —
    *  ref_categories for class-membership verdicts, role and|or,
    *  aggregate). */
  def rulesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = rules.toDF("habitattype", "criterium", "indicator", "belang",
      "voorwaarde", "referentiewaarde", "theoretischmaximum")
    val catMet = typedLit(categorical.map { case (k, (met, _)) => k -> met })
    val catRef = typedLit(categorical.map { case (k, (_, ref)) => k -> ref })
    val isCat = col("referentiewaarde").isin("B", "ZS")
    base
      .withColumn("op",
        when(col("voorwaarde").isin(downVoorwaarden.toSeq: _*), "<=").otherwise(">="))
      // guarded by the reference, not the voorwaarde alone: a future
      // rule reusing one of these voorwaarden with a numeric reference
      // must not silently become class-coded (the dunes expansion keys
      // per-row the same way)
      .withColumn("ref_categories",
        when(isCat, element_at(catMet, col("voorwaarde"))))
      .withColumn("ref_numeric",
        when(isCat, element_at(catRef, col("voorwaarde")))
          .otherwise(col("referentiewaarde").cast("double")))
      .withColumn("status_ref", col("ref_numeric"))
      .withColumn("score_max",
        when(isCat, lit(100.0)).otherwise(col("theoretischmaximum")))
      .withColumn("role",
        when(col("voorwaarde").isin(orVoorwaarden.toSeq: _*), "or").otherwise("and"))
      .withColumn("aggregate",
        !col("indicator").isin(noAggregateIndicators.toSeq: _*))
  }
}
