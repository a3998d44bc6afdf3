package graft.pipelines

import graft.core.Checks
import graft.ops.{Relational, Reshape}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E1 fieldmap-export building blocks (SURVEY.md §3 E1, §7.2 minimal
  * slice): the operators the reference chains in
  * `/root/reference/src/export_from_fieldmap/query_fieldmap.Rmd`.
  */
object Fieldmap {

  /** §7.2: melt wide veg-layer covers to tidy long form (R1,
    * `query_fieldmap.Rmd:717-722`) — `layers` are the wide class-id
    * columns (licheneslayer, sphagnumlayer, ...). NA rows kept. */
  def meltVegLayers(vegpq: DataFrame, ids: Seq[String], layers: Seq[String]): DataFrame =
    Reshape.melt(vegpq, ids, layers, varName = "layer", valName = "class_id")

  /** K3 cover-scale dictionary join (J2 composite key,
    * `query_fieldmap.Rmd:354,720`): broadcast — the dictionary is
    * dozens of rows; never let this shuffle the fact side. */
  def joinCoverScale(long: DataFrame, coverScales: DataFrame): DataFrame =
    long.join(broadcast(coverScales), Seq("coverscale_name", "class_id"), "left")

  /** Square-vs-circle observed-type resolution
    * (`query_fieldmap.Rmd:1560-1595`): full-join both observation
    * sources per plot (J5), prefer the square-plot type, fall back to
    * the circle type (P15), and flag plots whose segments disagree
    * (W7 mixed-type probe -> review table, not silent drop). */
  def resolveTypeObserved(square: DataFrame, circle: DataFrame): DataFrame = {
    val sq = square.select(col("plot_id"), col("type_observed_square"))
    val ci = circle.select(col("plot_id"), col("segment_id"), col("type_observed_circle"))
    val joined = ci.join(sq, Seq("plot_id"), "full")
      .withColumn("type_observed",
        coalesce(col("type_observed_square"), col("type_observed_circle")))
    Relational.withGroupDistinctCount(joined, Seq("plot_id"),
        col("type_observed_circle"), "n_types_circle")
      .withColumn("is_mixed", col("n_types_circle") > 1)
  }

  /** The reference's duplicate-key probes for the assembled tables
    * (§5.1) — returns the (expected-empty) violation frames instead of
    * failing, mirroring the check_* review-table style. */
  def checkFrames(coverLong: DataFrame): Map[String, DataFrame] = Map(
    "check_duplicate_cover" ->
      Checks.duplicateKeys(coverLong, Seq("plot_id", "layer")),
    "check_unmatched_scale" ->
      coverLong.where(col("class_id").isNotNull && col("cover_mean").isNull))
}

/** S10 incremental append of a fieldwork batch onto a versioned table
  * (`query_fieldmap_update_fieldwork2022.Rmd:945-1076`): read the old
  * table, assert the new batch does not overlap on the key (or replace
  * deliberately), union by name, re-check key uniqueness, rewrite
  * sorted. Idempotent batch MERGE semantics — the Delta-style upgrade
  * path documented in SURVEY.md §2.9.
  */
object IncrementalUpdate {

  /** Pure-DataFrame merge (storage-agnostic core). `replace = false`
    * fails on key overlap like the reference's guarded append;
    * `replace = true` upserts (patch semantics, P9).
    *
    * STRICTER SINCE r7 (deliberate): replace mode now rejects duplicate
    * keys WITHIN either side up front. Previously uniqueness was only
    * checked on the post-patch result, so an existing table with a
    * historically duplicated key slipped through whenever the incoming
    * batch happened to patch that key; such tables now fail loudly with
    * a keyed sample — fix the table (dedup) rather than the check.
    *
    * Both invariants — no cross-batch overlap (append mode) and key
    * uniqueness within each side — come out of ONE slim groupBy over
    * the key columns tagged by origin, instead of a semi-join overlap
    * probe plus a second groupBy over the full merged frame. At scale
    * that's one shuffle of (keys, count) with map-side partial
    * aggregation, and the wide payload columns never enter the check. */
  def merge(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
            replace: Boolean = false): DataFrame = {
    val kc = keys.map(col)
    val tagged = existing.select(kc :+ lit(0).as("__side"): _*)
      .unionByName(incoming.select(kc :+ lit(1).as("__side"): _*))
    val counts = tagged.groupBy(kc: _*).agg(
      count(when(col("__side") === 0, 1)).as("__n_old"),
      count(when(col("__side") === 1, 1)).as("__n_new"))
    // upsert mode allows a key on both sides (that IS the patch);
    // duplicates within one side are invalid in either mode
    val badPred =
      if (replace) col("__n_old") > 1 || col("__n_new") > 1
      else col("__n_old") + col("__n_new") > 1
    val bad = counts.where(badPred).limit(5).collect()
    if (bad.nonEmpty) {
      val overlaps = bad.filter(r =>
        r.getAs[Long]("__n_old") > 0 && r.getAs[Long]("__n_new") > 0)
      val sample = (r: org.apache.spark.sql.Row) =>
        keys.map(k => s"$k=${r.getAs[Any](k)}").mkString("[", ",", "]")
      if (!replace && overlaps.nonEmpty)
        throw Checks.CheckFailed(
          s"incoming batch overlaps existing on (${keys.mkString(",")}): " +
            overlaps.map(sample).mkString("; "))
      throw Checks.CheckFailed(
        s"duplicate keys on (${keys.mkString(",")}): sample " +
          bad.map(sample).mkString("; "))
    }
    if (replace) Relational.applyPatches(existing, incoming, keys)
    else existing.unionByName(incoming, allowMissingColumns = true)
  }

  /** Versioned-table form: read `<base>.tsv`, merge, rewrite sorted —
    * the full S10 contract against graft.io.Vc storage. */
  def applyToVc(spark: SparkSession, base: String, incoming: DataFrame,
                keys: Seq[String], sortKeys: Seq[String],
                replace: Boolean = false): Unit = {
    val existing = graft.io.Vc.read(spark, base)
    val merged = merge(existing, incoming, keys, replace)
    graft.io.Vc.write(merged, base, sortKeys)
  }
}
