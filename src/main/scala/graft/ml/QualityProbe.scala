package graft.ml

import graft.text.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** fastText-style text quality/domain classifier (Joulin et al. 2016,
  * "Bag of Tricks for Efficient Text Classification",
  * arXiv:1607.01759): word-bigram features HASHED into `k` buckets
  * (the fastText hashing trick — the model dimension is fixed by the
  * bucket count, not the vocabulary), trained with the deterministic
  * linear probe ([[LinearProbe]] — rational-sigmoid GD, the q149
  * cross-engine recipe). This is the CCNet/LLaMA-pipeline quality
  * filter shape: a cheap linear scorer over hashed n-grams that one
  * corpus scan per GD iteration can train at 100 TB.
  *
  * Buckets use the md5-prefix idiom shared with the hash-split/
  * Bernoulli machinery (first 8 hex digits mod k) so the DuckDB
  * oracle reproduces them exactly; bucket-COUNT features are integers
  * (the probe's 2^-20 snap is the identity), keeping the whole
  * trajectory hash-exact.
  *
  * Scale shape: featurization is map-only — one md5 per bigram, then
  * the native [[graft.functions.IntCounts]] histogram kernel (one
  * fused pass over the bucket map; the earlier k-wide count lambda
  * ran interpreted and, after projection collapse, re-hashed the
  * bigrams once per bucket — q172 measured 19s/run at sf0.1).
  * Training is [[LinearProbe]]'s checkpoint-once-then-iterate: the
  * k+1-wide feature table materializes a single time and the GD
  * collects + final scoring read it, never the text. */
object QualityProbe {

  /** Hashed-bigram featurize + train `iters` GD steps on
    * y = labelCol % 2 + score every document. Features are RELATIVE
    * bucket frequencies (count_b / n_bigrams — raw counts saturate the
    * sigmoid on long documents and collapse every prediction to the
    * bias sign); documents with no bigrams get the zero vector. The
    * division of two exact integers is one IEEE op both engines share,
    * and the probe's 2^-20 input snap makes the trajectory hash-exact
    * regardless. Returns one row per doc: (vec_id, label,
    * score_micros, pred) — [[LinearProbe.scored]]'s contract over the
    * k-dim hashed features. */
  def scored(docs: DataFrame, textCol: String, idCol: String,
             labelCol: String, k: Int, iters: Int, lr: Double): DataFrame = {
    require(k >= 2, s"need at least 2 hash buckets, got $k")
    // int_counts is the native histogram kernel: the previous
    // transform(sequence, b -> size(filter(bmap, =b))) re-evaluated
    // the md5 featurization once PER BUCKET per row (interpreted
    // lambdas + projection collapse — the q161 trap; q172 measured
    // 19s/run at sf0.1 before, sub-second after)
    // the fused md5_bigram_buckets kernel replaces the declarative
    // transform(bigrams, g => bucket(g, k)): zip_with and transform
    // are CodegenFallback, so that form concatenated a bigram String
    // and ran an interpreted md5 + hex render + re-parse per pair
    // (value-identical; the same move as int_counts below)
    val feat = docs
      .select(col(idCol), col(labelCol),
        graft.functions.HashFunctions.md5BigramBuckets(
          Text.tokens(col(textCol)), k).as("bmap"))
      .withColumn("fv", transform(
        graft.functions.HashFunctions.intCounts(col("bmap"), k),
        c => c.cast("double") / greatest(size(col("bmap")), lit(1)).cast("double")))
    LinearProbe.scored(feat, "fv", idCol, labelCol, iters, lr)
  }
}
