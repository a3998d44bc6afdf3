package graft

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import java.nio.file.{Files, Path}

/** The harness has generated `events.ts` under two physical encodings
  * across testdata generations: INT64 TIMESTAMP(NANOS) (which Spark can
  * only surface as a raw long via `spark.sql.legacy.parquet.nanosAsLong`)
  * and native TIMESTAMP(MICROS). Round 10's CORRECTNESS silently lost all
  * ten events-family queries when the encoding flipped to micros while
  * `Tables.load` still assumed raw nanos. This spec pins schema-adaptive
  * behavior on BOTH encodings, through the batch path (`Tables.load`) and
  * the streaming path (`graft.queries.Shared.eventsStream` via q37).
  */
class EventsSchemaSpec extends SparkSuite {
  import spark.implicits._

  // micro-precision instants (exactly representable in both encodings)
  private val rows = Seq(
    (1L, 1704067200000000L, 10L, "click", 1.5, """{"k": 3}"""),
    (2L, 1704067201500000L, 10L, "view", 2.0, """{"k": 5}"""),
    (3L, 1704070800000000L, 11L, "click", 0.5, """{"k": 1}"""),
    (4L, 1704070800000000L, 11L, "error", 3.0, """{"k": 2}"""))

  /** Write a single-FILE events.parquet (like the testdata layout) into a
    * fresh dir; `ts` typed per `enc`. The nanos case is a GENUINE parquet
    * TIMESTAMP(NANOS) logical type written via parquet-mr ([[NanosParquet]])
    * — Spark cannot produce one — so the `nanosAsLong` read path is
    * exercised on a genuinely nanos-annotated column, not a simulated plain INT64.
    * Returns the dir. */
  private def fixture(enc: String): String = {
    val dir = Files.createTempDirectory("graft-events").toString
    if (enc == "nanos") {
      NanosParquet.writeEvents(s"$dir/events.parquet",
        rows.map { case (id, us, uid, et, v, p) => (id, us * 1000L, uid, et, v, p) },
        spark.sparkContext.hadoopConfiguration)
      return dir
    }
    val base = rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val df = enc match {
      case "ntz" => base.withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz"))
      case _ => base.withColumn("ts", timestamp_micros(col("us")))
    }
    val tmp = s"$dir/_tmp"
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(tmp)
    val listing = Files.list(Path.of(tmp))
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.move(part, Path.of(dir, "events.parquet"))
    dir
  }

  private lazy val microsDir = fixture("micros")
  private lazy val nanosDir = fixture("nanos")
  private lazy val ntzDir = fixture("ntz")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("Tables.load normalizes ts to timestamp under all three encodings, same values") {
    val dfs = Seq(microsDir, nanosDir, ntzDir).map(Tables.load(spark, _, "events"))
    dfs.foreach(df => assert(df.schema("ts").dataType == TimestampType))
    val distinct = dfs.map(sortedRows).distinct
    assert(distinct.size == 1, s"encodings disagree: $distinct")
    assert(dfs.head.count() == 4)
  }

  test("batch events queries agree across encodings (q29, q13)") {
    for (q <- Seq("q29_events_hourly", "q13_fill_group_max")) {
      val rs = Seq(microsDir, nanosDir, ntzDir)
        .map(d => sortedRows(SparkEntry.queries(q)(spark, d)))
      assert(rs.distinct.size == 1, s"$q differs across ts encodings")
      assert(rs.head.nonEmpty, s"$q empty")
    }
  }

  test("streaming events query agrees across encodings (q37 dedup stream)") {
    val rs = Seq(microsDir, nanosDir, ntzDir)
      .map(d => sortedRows(SparkEntry.queries("q37_events_dedup_stream")(spark, d)))
    assert(rs.distinct.size == 1)
    assert(rs.head.size == 4) // (10,click),(10,view),(11,click),(11,error)
  }

  test("current harness testdata (sf0.001) loads and runs the events family") {
    val dir = "/root/testdata/sf0.001"
    assume(Files.exists(Path.of(dir, "events.parquet")))
    assert(Tables.load(spark, dir, "events").schema("ts").dataType == TimestampType)
    assert(SparkEntry.queries("q29_events_hourly")(spark, dir).count() > 0)
    assert(SparkEntry.queries("q37_events_dedup_stream")(spark, dir).count() > 0)
  }
}
