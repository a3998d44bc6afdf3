package graft

import graft.io.Avro
import org.apache.spark.sql.types._

/** Avro container interchange (q221): round-trip fidelity, reader-
  * schema pruning/reordering via Avro resolution, loud-fail stances,
  * and the writer's shard layout. */
class AvroSpec extends SparkSuite {
  import spark.implicits._

  private val full = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("score", DoubleType), StructField("flag", BooleanType)))

  test("round trip preserves values: nulls, unicode, quotes, newlines") {
    val rows = Seq(
      (1L, "plain ascii", Option(1.5), Option(true)),
      (2L, "quotes \" and \\ backslash", Option(-0.25), Option(false)),
      (3L, "embedded\nnewline\tand tab", None, None),
      (4L, "unicode éü 𝕏 😀", Option(0.0), Option(true)),
      (5L, null.asInstanceOf[String], Option(2.0), Option(false)))
    val dir = java.nio.file.Files.createTempDirectory("avro_rt").toString
    Avro.write(rows.toDF("id", "text", "score", "flag").repartition(2),
      s"$dir/out")
    val shards = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(shards.nonEmpty, "expected avro container shards")
    assert(shards.forall(!_.getName.startsWith(".")), "no temp litter")
    val got = Avro.read(spark, s"$dir/out", full)
      .as[(Long, Option[String], Option[Double], Option[Boolean])]
      .collect().toSet
    val want = rows.map { case (i, t, s, f) => (i, Option(t), s, f) }.toSet
    assert(got === want)
  }

  test("supplied reader schema prunes and reorders against the writer schema") {
    val dir = java.nio.file.Files.createTempDirectory("avro_prune").toString
    Avro.write(Seq((7L, "seven", 0.5, true)).toDF("id", "text", "score", "flag"),
      s"$dir/out")
    val pruned = StructType(Seq( // reordered + dropped columns
      StructField("score", DoubleType), StructField("id", LongType)))
    val got = Avro.read(spark, s"$dir/out", pruned)
      .as[(Double, Long)].collect().toSeq
    assert(got === Seq((0.5, 7L)))
  }

  test("an unresolvable reader field fails the read loudly") {
    val dir = java.nio.file.Files.createTempDirectory("avro_bad").toString
    Avro.write(Seq((1L, "x")).toDF("id", "text"), s"$dir/out")
    val bad = StructType(Seq(StructField("missing_col", LongType, nullable = false)))
    val e = intercept[org.apache.spark.SparkException] {
      Avro.read(spark, s"$dir/out", bad).collect()
    }
    assert(e.getMessage != null)
  }

  test("unsupported nested types are rejected at schema build time") {
    val nested = StructType(Seq(
      StructField("arr", ArrayType(LongType))))
    val e = intercept[IllegalArgumentException] { Avro.avroSchema(nested) }
    assert(e.getMessage.contains("arr"))
  }

  test("binary columns round-trip byte-exact") {
    val dir = java.nio.file.Files.createTempDirectory("avro_bin").toString
    val payload = Array[Byte](0, 1, -1, 127, -128, 42)
    Avro.write(Seq((1L, payload)).toDF("id", "blob"), s"$dir/out")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("blob", BinaryType)))
    val got = Avro.read(spark, s"$dir/out", schema)
      .as[(Long, Array[Byte])].collect()
    assert(got.length === 1 && got(0)._2.toSeq === payload.toSeq)
  }

  test("re-write over an existing export replaces it cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("avro_rw").toString
    Avro.write((1 to 100).map(i => (i.toLong, s"d$i")).toDF("id", "text")
      .repartition(4), s"$dir/out")
    Avro.write(Seq((1L, "only")).toDF("id", "text").repartition(1), s"$dir/out")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val got = Avro.read(spark, s"$dir/out", schema)
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "only")))
  }
}
