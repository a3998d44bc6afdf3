package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}

/** Pins the harness testdata encodings and proves the per-table
  * normalization hook (`Tables.normalize`).
  *
  * The driver regenerates `/root/testdata` between rounds; round 10's
  * events.ts flip (INT64-nanos → micros) silently broke ten queries.
  * This spec is the tripwire for EVERY table:
  *   - test 1 pins the OBSERVED physical schema of all 10 tables at
  *     sf0.01: hard-fails (loudly) on drift `Tables.adapt` cannot
  *     handle; prints a loud re-pin warning for drift it can.
  *   - test 2 asserts the post-normalization schema every consumer
  *     assumes (modulo integral width, which is deliberately kept as
  *     observed so the DuckDB oracle sees the same output widths).
  *   - tests 3-6 prove the normalization paths on deliberately
  *     re-encoded fixtures, including a GENUINE parquet
  *     TIMESTAMP(NANOS) file written via parquet-mr (Spark itself
  *     cannot produce one).
  */
class TablesSchemaSpec extends SparkSuite {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  private def haveTestdata: Boolean = Files.exists(Path.of(sfDir))

  /** Round-12 pin of the raw (pre-normalization) testdata encodings.
    * Matches Tables.expected exactly this generation. */
  private val pinned: Map[String, Seq[(String, DataType)]] = Tables.expected

  private def ignoringNullability(a: DataType, b: DataType): Boolean =
    DataType.equalsStructurally(a, b, ignoreNullability = true)

  test("sf0.01 raw encodings match the round-12 pin (loud on drift)") {
    assume(haveTestdata)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val drifted = Seq.newBuilder[String]
    for (t <- Tables.names) {
      val obs = spark.read.parquet(s"$sfDir/$t.parquet").schema
      for ((c, want) <- pinned(t)) {
        assert(obs.fieldNames.contains(c),
          s"TESTDATA DRIFT: table '$t' lost column '$c' - the harness " +
            "regenerated /root/testdata with a new layout; review every " +
            "consumer, then re-pin Tables.expected and this spec.")
        val o = obs(c).dataType
        if (!ignoringNullability(o, want)) {
          // If adapt throws, the drift is UNHANDLED - fail the suite.
          Tables.normalize(t, spark.read.parquet(s"$sfDir/$t.parquet"))
          drifted += s"$t.$c observed ${o.simpleString} (pinned ${want.simpleString})"
        }
      }
    }
    val d = drifted.result()
    if (d.nonEmpty) {
      val msg = "TESTDATA DRIFT (handled by Tables.normalize, but RE-PIN " +
        "this spec and re-check oracle parity): " + d.mkString("; ")
      System.err.println(msg)
      info(msg)
    }
  }

  test("all 10 tables load and normalize to the expected consumer schema") {
    assume(haveTestdata)
    for (t <- Tables.names) {
      val df = Tables.load(spark, sfDir, t)
      for ((c, want) <- Tables.expected(t)) {
        val o = df.schema(c).dataType
        val ok = ignoringNullability(o, want) ||
          (Tables.isIntegral(o) && Tables.isIntegral(want))
        assert(ok, s"table '$t' column '$c' normalized to ${o.simpleString}, " +
          s"consumers expect ${want.simpleString}")
      }
      assert(df.limit(1).count() >= 0) // read path actually executes
    }
  }

  /** Write df's single part file as `$dir/<name>.parquet` (testdata layout). */
  private def single(df: org.apache.spark.sql.DataFrame, name: String): String = {
    val dir = Files.createTempDirectory("graft-tables").toString
    val tmp = s"$dir/_tmp"
    df.coalesce(1).write.parquet(tmp)
    val listing = Files.list(Path.of(tmp))
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.move(part, Path.of(dir, s"$name.parquet"))
    dir
  }

  test("fixture: embeddings re-encoded as array<double> + int32 ids normalizes") {
    val df = Seq((1, Seq(0.25d, 0.5d), 7), (2, Seq(1.0d, -0.125d), 8))
      .toDF("vec_id", "embedding", "label")
      .withColumn("vec_id", col("vec_id").cast("int"))
    val dir = single(df, "embeddings")
    val out = Tables.load(spark, dir, "embeddings")
    assert(ignoringNullability(out.schema("embedding").dataType, ArrayType(FloatType)),
      "array<double> embedding must normalize to the Array[Float] consumers assume")
    // integral width drift is kept as observed (oracle parity)
    assert(out.schema("vec_id").dataType == IntegerType)
    val v = out.orderBy("vec_id").select("embedding").as[Array[Float]].collect()
    assert(v.toSeq.map(_.toSeq) == Seq(Seq(0.25f, 0.5f), Seq(1.0f, -0.125f)))
  }

  test("fixture: documents with int32 n_chars keeps observed width") {
    val df = Seq((1L, "ab", "en", "web", 2), (2L, "cde", "nl", "web", 3))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("n_chars", col("n_chars").cast("int"))
    val dir = single(df, "documents")
    val out = Tables.load(spark, dir, "documents")
    assert(out.schema("n_chars").dataType == IntegerType)
    assert(out.count() == 2)
  }

  test("load sees a path rewritten with a new schema in the same JVM") {
    val dir = Files.createTempDirectory("graft-rewrite").toString
    Seq((1, 2L)).toDF("a", "b").write.parquet(s"$dir/scratch.parquet")
    assert(Tables.load(spark, dir, "scratch").columns.toSeq === Seq("a", "b"))
    Seq(("x", 3.0, true)).toDF("c", "d", "e")
      .write.mode("overwrite").parquet(s"$dir/scratch.parquet")
    val reread = Tables.load(spark, dir, "scratch")
    assert(reread.schema.map(f => f.name -> f.dataType) ===
      Seq("c" -> StringType, "d" -> DoubleType, "e" -> BooleanType))
    assert(reread.as[(String, Double, Boolean)].collect().toSeq === Seq(("x", 3.0, true)))
  }

  test("unknown drift and missing columns fail loudly") {
    val bad = Seq((1L, 9, "en", "web", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars") // text as int
    val e = intercept[IllegalStateException](Tables.normalize("documents", bad))
    assert(e.getMessage.contains("testdata drift"))
    assert(e.getMessage.contains("'text'"))
    val missing = Seq((1L, "ab")).toDF("doc_id", "text")
    val m = intercept[IllegalStateException](Tables.normalize("documents", missing))
    assert(m.getMessage.contains("missing expected column"))
  }

  test("fixture: GENUINE parquet TIMESTAMP(NANOS) events file normalizes") {
    val dir = Files.createTempDirectory("graft-nanos").toString
    val rows = Seq( // micros * 1000 + a sub-micro remainder normalize floors away
      (1L, 1704067200000000L, 10L, "click", 1.5, """{"k": 3}"""),
      (2L, 1704067201500000L, 10L, "view", 2.0, """{"k": 5}"""))
    NanosParquet.writeEvents(s"$dir/events.parquet",
      rows.map(r => r.copy(_2 = r._2 * 1000L + 777L)),
      spark.sparkContext.hadoopConfiguration)

    // nanosAsLong surfaces the NANOS-annotated INT64 as a raw long...
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == LongType,
      "a TIMESTAMP(NANOS)-annotated file must read as long under nanosAsLong")
    // ...and Tables.load floors it to the exact micro instants.
    val out = Tables.load(spark, dir, "events")
    assert(out.schema("ts").dataType == TimestampType)
    val ts = out.orderBy("event_id")
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(ts == rows.map(_._2), "floor(nanos/1000) must match DuckDB's epoch_us floor")
  }
}
