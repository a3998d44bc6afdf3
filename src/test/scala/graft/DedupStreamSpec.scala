package graft

import graft.streaming.DedupStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming near-dup dedup: per-bucket signature state carries across
  * micro-batches, the batch form is an exact twin, and degenerate
  * buckets stay bounded. */
class DedupStreamSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val batch1 = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "an entirely different document about spark physical planning"),
    // near copy of 1 (J = 10/11) that shares an md5 band bucket with it
    (3L, "the quick brown fox jumps over the lazy dog again and again."))
  private val batch2 = Seq(
    (10L, "the quick brown fox jumps over the lazy dog again and again today"),
    (11L, "yet another unrelated text on parquet row group statistics"))

  private def runStream(dir: String): DataFrame = {
    val name = s"dedup_sink_${System.nanoTime()}"
    val q = DedupStream.bandVerdictsMd5(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir),
        "text", "doc_id", tauMicros = 700000L)
      .toDF()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("state carries across micro-batches: a later near-dup maps to the earlier doc") {
    val dir = java.nio.file.Files.createTempDirectory("dedupstream").toString
    // one parquet file per micro-batch (maxFilesPerTrigger = 1)
    batch1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f=1")
    batch2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f=2")

    val resolved = DedupStream.resolveCanonical(runStream(dir))
      .as[(Long, Long)].collect().toMap
    assert(resolved(1L) === 1L)   // first of its cluster
    assert(resolved(3L) === 1L)   // same batch near-dup
    assert(resolved(10L) === 1L)  // LATER micro-batch, matched via state
    assert(resolved(2L) === 2L)
    assert(resolved(11L) === 11L)
  }

  test("batch form is the exact twin of the streamed replay") {
    val dir = java.nio.file.Files.createTempDirectory("dedupstream2").toString
    batch1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f=1")
    batch2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f=2")

    val streamed = DedupStream.resolveCanonical(runStream(dir))
      .as[(Long, Long)].collect().toSet
    val batched = DedupStream.resolveCanonical(
        DedupStream.bandVerdictsMd5(spark.read.parquet(dir), "text", "doc_id",
          tauMicros = 700000L).toDF())
      .as[(Long, Long)].collect().toSet
    assert(streamed === batched)
  }

  test("q187 ingest-dedup stream: statuses via base index, same batch, and cross-batch state") {
    val dir = java.nio.file.Files.createTempDirectory("ingeststream").toString
    Seq((5L, "first sight"), (6L, "FIRST  sight"), (7L, "base text"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f=1")
    Seq((8L, "first SIGHT"), (9L, "fresh thing"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f=2")
    val base = Seq((1L, "base  TEXT")).toDF("doc_id", "text")
    val baseFp = base.select(graft.text.Text.fingerprint(col("text")).as("fingerprint"))
      .distinct()
    val name = s"ingest_sink_${System.nanoTime()}"
    val q = graft.streaming.IngestDedupStream.statusStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir),
        baseFp, "text", "doc_id")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name).select("doc_id", "status")
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      5L -> "new",          // first sight, first batch
      6L -> "dup_in_delta", // same batch, larger id, same fingerprint
      7L -> "dup_of_base",  // normalizes to the base index
      8L -> "dup_in_delta", // LATER batch — only the state bit knows
      9L -> "new"))
  }

  test("maxPerBucket bounds state but keeps matching against retained members") {
    val docs = Seq(
      (1L, "aaa bbb ccc ddd eee fff ggg hhh"),
      (2L, "aaa bbb ccc ddd eee fff ggg hhh"),
      (3L, "aaa bbb ccc ddd eee fff ggg hhh")).toDF("doc_id", "text")
    val resolved = DedupStream.resolveCanonical(
        DedupStream.bandVerdictsMd5(docs, "text", "doc_id", tauMicros = 700000L,
          maxPerBucket = 1).toDF())
      .as[(Long, Long)].collect().toMap
    // docs 2 and 3 both match the single retained member (doc 1), even
    // though doc 2 itself was never absorbed into state
    assert(resolved === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
