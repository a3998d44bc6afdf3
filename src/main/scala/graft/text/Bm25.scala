package graft.text

import graft.core.Materialize.StableOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval — Robertson & Zaragoza 2009 ("The
  * Probabilistic Relevance Framework: BM25 and Beyond", the Lucene
  * idf variant): for query terms t in document d,
  *
  *   score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
  *   idf(t) = ln( (N − df + 0.5)/(df + 0.5) + 1 )
  *
  * — the sparse-retrieval baseline every dense/ANN stack is measured
  * against (the lexical half of hybrid retrieval).
  *
  * Determinism: tf/df/|d|/N are exact integers off ONE checkpointed
  * (doc, term, tf) inverted index (avgdl and N collected as driver
  * literals — two scalars); the idf ln and each term's contribution
  * snap to 1e-6, contributions fold per (query, doc) in term order
  * (the q92 recipe), and the final rank ties on doc_id → hash-exact.
  *
  * Scale shape: the corpus collapses to the inverted index once;
  * scoring joins the (tiny, broadcast) query-term set INTO the index
  * — only postings of query terms survive the join, the classic
  * term-at-a-time plan — then one (query, doc) aggregation and a
  * per-query rank window over candidates only. The corpus text never
  * shuffles. */
object Bm25 {

  private val round6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Top-`topK` documents per keyword query. `queries` needs
    * (queryIdCol, queryTextCol); k1 = 1.2, b = 0.75. */
  def searchTopK(docs: DataFrame, queries: DataFrame, idCol: String,
                 textCol: String, queryIdCol: String, queryTextCol: String,
                 topK: Int): DataFrame = {
    require(topK >= 1, s"need a positive topK, got $topK")
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .stable()
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val probe = dl.agg(count(lit(1)).as("nd"), sum("dl").as("tot")).head()
    val nDocs = probe.getLong(0)
    val avgdl = probe.getLong(1).toDouble / nDocs.toDouble

    val qterms = queries
      .select(col(queryIdCol).as("query_id"),
        explode(Text.tokens(col(queryTextCol))).as("term"))
      .distinct()

    val idf = round6(log(
      (lit(nDocs).cast("double") - col("df").cast("double") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
    val contrib = round6(col("idf") *
      (col("tf").cast("double") * lit(2.2))
      / (col("tf").cast("double") +
        lit(1.2) * (lit(1.0) - lit(0.75) +
          lit(0.75) * (col("dl").cast("double") / lit(avgdl)))))

    tf.join(broadcast(qterms), "term")
      .join(broadcast(df_.withColumn("idf", idf).select("term", "idf")), "term")
      // broadcast dl so the query-term sliver never shuffles by doc_id
      // (r22; the size estimate off the aggregate was too pessimistic
      // for the planner to pick this up itself). Unlike df_ (one row
      // per vocabulary term), dl has one row per DOCUMENT, so this
      // broadcast grows with the corpus.
      .join(broadcast(dl), "doc_id")
      .withColumn("contrib", contrib)
      .groupBy("query_id", "doc_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("contrib")))),
        lit(0.0), (acc, x) => acc + x.getField("contrib")).as("s"))
      .select(col("query_id"), col("doc_id"), round6(col("s")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id").asc)))
      .where(col("rank") <= topK)
  }
}
