package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-level / windowed operator library covering SURVEY.md §2.2, §2.3
  * (J10), §2.5 (W1-W8) and §2.8 (U1-U3).
  *
  * All helpers stay fully declarative (Catalyst windows / joins), so the
  * physical plan is a single shuffle on the partition keys — no
  * driver-side loops, safe at 100 TB provided the window keys are not
  * pathologically skewed (whole-group windows shuffle once on the key).
  */
object Relational {

  /** W2/W3 "keep latest record per key" — reference filters
    * `date_status == max(date_status)` per group
    * (`query_fieldmap.Rmd:1376-1379`) and `slice_min/slice_max`
    * (`check_observed_habitat_type.Rmd:89-90`).
    *
    * One row per key, deterministic: `orderCols` must be a total order
    * within each key (add a unique id as the last tiebreaker).
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** W3 with ties kept (dplyr `slice_min` default `with_ties = TRUE`):
    * uses rank() so equal order-values all survive. */
  def slicePerKeyWithTies(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rk", rank().over(w))
      .where(col("__rk") === 1)
      .drop("__rk")
  }

  /** W1: annotate each row with its group size (duplicate detection keeps
    * the offending rows, not just the keys). */
  def withGroupCount(df: DataFrame, keys: Seq[String], as: String = "n"): DataFrame =
    df.withColumn(as, count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))

  /** W6: fill nulls with the group max
    * (`export_from_vbidwh.Rmd:147-148`). */
  def fillWithGroupMax(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.withColumn(
      valueCol,
      coalesce(col(valueCol), max(col(valueCol)).over(Window.partitionBy(keys.map(col): _*))))

  /** W7: per-group distinct count kept on rows. Spark has no
    * countDistinct-over-window; `size(collect_set)` is the standard
    * rewrite (set stays tiny per group — it is a distinct-values set,
    * not the row set). */
  def withGroupDistinctCount(df: DataFrame, keys: Seq[String], value: Column, as: String): DataFrame =
    df.withColumn(as, size(collect_set(value).over(Window.partitionBy(keys.map(col): _*))))

  /** W4/W8: group-wise boolean flag kept on rows (`any(cond)` per group). */
  def withGroupAny(df: DataFrame, keys: Seq[String], cond: Column, as: String): DataFrame =
    df.withColumn(as, max(cond.cast("int")).over(Window.partitionBy(keys.map(col): _*)) === 1)

  /** J10 membership flag ("semi-join as boolean",
    * `query_fieldmap.Rmd:1350-1351,1655-1661`). Implemented as a left
    * join against the distinct key set — broadcastable when `lookup` is
    * a dimension; never a driver-side collect. */
  def withMembershipFlag(df: DataFrame, dfKey: String, lookup: DataFrame,
                         lookupKey: String, as: String): DataFrame = {
    val marks = lookup.select(col(lookupKey).as(dfKey)).distinct()
      .withColumn("__hit", lit(1))
    df.join(marks, Seq(dfKey), "left")
      .withColumn(as, col("__hit").isNotNull)
      .drop("__hit")
  }

  /** U1 `bind_rows`: n-ary union by name, schema-tolerant (missing
    * columns become NULL) — `query_fieldmap.Rmd:351,429-430,1485-1501`. */
  def unionByNameTolerant(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Union of per-cycle extracts with a tag column (E1 step 3:
    * `query_fieldmap.Rmd:1314-1366`). */
  def unionCycles(tagged: Seq[(Int, DataFrame)], tagCol: String = "mon_cycle"): DataFrame =
    unionByNameTolerant(tagged.map { case (cycle, df) => df.withColumn(tagCol, lit(cycle)) })

  /** P9 record-level hand patches, kept as a reviewable patch table
    * (SURVEY.md §7.4 risk 6): rows in `patches` replace rows in `df`
    * that share the key; patch rows with no match are appended. */
  def applyPatches(df: DataFrame, patches: DataFrame, keys: Seq[String]): DataFrame =
    df.join(patches.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(patches, allowMissingColumns = true)

  /** Versioned-snapshot DIFF — "what changed between published version
    * A and version B" (the audit question every reference publish
    * round answers by eye; the engine answers it as a query). Each
    * side collapses MAP-SIDE to (key, row-fingerprint) — fingerprint =
    * md5 over a \u0001-joined string render of `valueCols` with a
    * \u0002 null sentinel (oracle-replayable; concat_ws alone would
    * conflate NULL with empty) — so the full outer join shuffles
    * 16-byte digests, never the row payloads. Classification:
    *
    *   - `added`     key only in `newDf`
    *   - `removed`   key only in `oldDf`
    *   - `changed`   key in both, fingerprints differ
    *   - `unchanged` key in both, fingerprints equal
    *
    * Callers filter `unchanged` out for the publish-audit report; the
    * classifier keeps it so counts reconcile to both inputs. Keys must
    * be unique per side (the versioned tables' own contract — Vc sorts
    * and hash-verifies on write). One shuffle per side on the keys.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
                   valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && valueCols.nonEmpty,
      "snapshotDiff needs at least one key and one value column")
    def fingerprinted(df: DataFrame, fpName: String): DataFrame =
      df.select(keyCols.map(col) :+
        md5(concat_ws("\u0001",
          valueCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*))
          .as(fpName): _*)
    val o = fingerprinted(oldDf, "__fp_old")
    val n = fingerprinted(newDf, "__fp_new")
    o.join(n, keyCols, "full_outer")
      .withColumn("change",
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") =!= col("__fp_new"), lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("__fp_old", "__fp_new")
  }

  /** CDC CHANGE FEED — [[snapshotDiff]] with payloads, i.e. the batch
    * another system needs to go from version A to version B: one row
    * per touched key, `change` ∈ added/changed/removed, value columns
    * carrying the NEW payload for upserts and NULL for removals.
    * Payloads join back only for the TOUCHED keys (the diff itself
    * still moves digests only), so the feed's cost is proportional to
    * the change set, not the table. */
  def changeFeed(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
                 valueCols: Seq[String]): DataFrame =
    // one chain, no union: a LEFT join against the new side gives
    // upserts their payload and removals their NULLs in the same pass
    // (a removed key is absent from newDf by definition), so the diff
    // subtree plans exactly once
    snapshotDiff(oldDf, newDf, keyCols, valueCols)
      .where(col("change") =!= "unchanged")
      .join(newDf.select((keyCols ++ valueCols).map(col): _*), keyCols, "left")
      .select(keyCols.map(col) ++ Seq(col("change")) ++
        valueCols.map(col): _*)

  /** Apply a [[changeFeed]] batch to version A, reconstructing version
    * B exactly: untouched keys keep their old rows (anti-join against
    * the feed's keys), upsert rows come from the feed verbatim,
    * removals simply never re-enter. q224 gates the round-trip
    * identity `applyChangeFeed(A, changeFeed(A, B)) = B`. */
  def applyChangeFeed(oldDf: DataFrame, feed: DataFrame,
                      keyCols: Seq[String]): DataFrame =
    oldDf.join(feed.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(
        feed.where(col("change").isin("added", "changed")).drop("change"))
}
