package graft.pipelines

import graft.dedup.Dedup
import graft.text.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the canonical training-data cleaning
  * flow composed as ONE declarative plan (no intermediate
  * materialization, Catalyst fuses the stages):
  *
  *   1. exact dedup      — keep only canonical documents (min doc id
  *                         per content fingerprint);
  *   2. length gate      — drop documents under `minTokens`;
  *   3. quality select   — keep the best `keepFraction` per language
  *                         by the composite quality score
  *                         (percent_rank window, id tiebreak);
  *   4. (optional)       — near-dup pruning via md5 MinHash-LSH, applied
  *                         as an anti-join against the id_b side of
  *                         detected pairs (keeps the lower id).
  *
  * At 100 TB: stages 1-3 are two window shuffles (fingerprint, lang)
  * over slim projections; stage 4 reuses the Dedup module's
  * signature-only shuffle design.
  */
object Curation {

  /** Deterministic curation verdicts per document. */
  def curate(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
             langCol: String = "lang", minTokens: Int = 20,
             keepFraction: Double = 0.7): DataFrame = {
    val fp = Text.fingerprint(col(textCol))
    val byFp = Window.partitionBy("fingerprint")
    val byLang = Window.partitionBy(langCol)
      .orderBy(col("quality").desc, col(idCol).asc)
    docs
      .withColumn("fingerprint", fp)
      .withColumn("canonical_id", min(col(idCol)).over(byFp))
      .withColumn("n_tokens", Text.tokenCount(col(textCol)))
      .withColumn("quality", Text.qualityScore(col(textCol)))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
      .withColumn("long_enough", col("n_tokens") >= minTokens)
      .withColumn("quality_rank", percent_rank().over(byLang))
      .withColumn("keep",
        col("is_canonical") && col("long_enough") && col("quality_rank") <= keepFraction)
  }

  /** Kept documents only (the curated corpus). */
  def curatedIds(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                 langCol: String = "lang", minTokens: Int = 20,
                 keepFraction: Double = 0.7): DataFrame =
    curate(docs, textCol, idCol, langCol, minTokens, keepFraction)
      .where(col("keep"))
      .select(col(idCol), col(langCol), col("n_tokens"), col("quality"))

  /** Stage 4: additionally drop near-duplicates — every doc whose
    * canonical id differs from its own (i.e. the non-representative
    * members of each near-dup cluster). Uses the O(n) canonical-id
    * output of the md5 MinHash-LSH path, NOT the O(n^2) pair list: on a
    * degenerate corpus a single cluster of m near-identical docs would
    * otherwise shuffle m(m-1)/2 pairs just to learn "drop m-1 ids".
    * `tauMicros` is the Jaccard threshold in 1e-6 fixed point, as in
    * q45; the exact integer verify inside
    * [[Dedup.minhashCanonicalIdsMd5]] keeps it deterministic. */
  def withNearDupPruning(docs: DataFrame, curated: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         tauMicros: Long = 950000L): DataFrame = {
    val canon = Dedup.minhashCanonicalIdsMd5(docs, textCol, idCol, tauMicros)
    val drops = canon.where(col("canonical_id") =!= col(idCol)).select(col(idCol))
    curated.join(drops, Seq(idCol), "left_anti")
  }
}
