package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev microbench: times individual map-side kernels over the sf
  * documents table with the noop sink (guide §1.4), so a multi-stage
  * query's cost can be attributed to the kernel level — `Inspect jobs`
  * stops at job granularity and the heavy queries run their whole
  * chain inside one job.
  *
  *   sbt "runMain graft.tools.KernelBench [sfDir]"
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    docs.count() // warm the scan

    def timeRaw(name: String)(body: => Unit): Unit = {
      body // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-32s median ${ts.sorted.apply(1)}%6.3f s  (${ts.map(t => f"$t%.3f").mkString(", ")})")
    }
    def time(name: String)(df: => DataFrame): Unit =
      timeRaw(name)(df.write.format("noop").mode("overwrite").save())

    val text = col("text")
    val toks = graft.text.Text.tokens(text)
    time("scan only")(docs.select(col("doc_id")))
    time("tokens")(docs.select(toks.as("t")))
    time("tokenCount")(docs.select(graft.text.Text.tokenCount(text).as("n")))
    // the one-pass text_stats kernel alone, then q42's four columns
    // over it (one kernel call per row after subexpression elimination)
    time("textStats")(docs.select(graft.functions.TextFunctions
      .textStats(text, graft.text.Text.EnglishStop).as("st")))
    time("q42 projection")(docs.select(
      graft.text.Text.tokenCount(text).as("n_tokens"),
      round(graft.text.Text.punctRatio(text), 6).as("punct_ratio"),
      round(graft.text.Text.stopwordRatio(text, graft.text.Text.EnglishStop), 6)
        .as("stop_ratio"),
      graft.text.Text.qualityScore(text).as("quality")))
    time("normalized")(docs.select(graft.text.Text.normalized(text).as("n")))
    time("md5TokenIds")(docs.select(
      graft.functions.HashFunctions.md5TokenIds(toks, 4096).as("ids")))
    time("fingerprint")(docs.select(graft.text.Text.fingerprint(col("text")).as("f")))
    time("shingles3")(docs.select(graft.text.Text.shingles(toks, 3).as("s")))
    time("md5MinhashSig(k=8)")(docs.select(
      graft.functions.HashFunctions.md5MinhashSig(
        graft.text.Text.shingles(toks, 3), 8).as("ms")))

    // q219 write-chain decomposition
    def chunks = graft.io.TokenShards.packChunks(docs, "doc_id", "text",
      vocab = 4096, seqLen = 64, seqsPerShard = 16, nBuckets = 8)
    time("packChunks (noop)")(chunks)
    time("packChunks+exchange+sort")(chunks
      .select(col("shard_id").cast("long"), col("gpos0").cast("long"), col("ids"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("gpos0")))
    // reaped at JVM exit with the queries' own temp results
    val base = graft.queries.Shared.tempResultDir("graft-kb")
    var i = 0
    timeRaw("TokenShards.write (full)") {
      i += 1; graft.io.TokenShards.write(chunks, s"$base/w$i/shards"); ()
    }
    spark.stop()
  }
}
