package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Profiling aid for q174's scale knee (round-15 brief item 5): the
  * SCALE_CURVE sf0.01→sf0.1 ratio for DSIR was 4.7× for 10× data —
  * the family's worst — and the open question was whether a hidden
  * super-linear term (the suspected "vocab-sized model collect",
  * which the code shows is actually k=8 rows) appears past sf0.1.
  *
  * Method: materialize 1×/2×/5× multiples of the sf0.1 documents
  * table (id-offset copies, written once under target/dsir_scale so
  * each run is a single clean parquet scan), then time the full
  * q174 operator (fit scan at construction + scoring scan) at each
  * multiple. A linear operator shows t(m)/t(1) ≈ m with a constant
  * intercept; a super-linear term grows the per-multiple ratio.
  *
  *   sbt "runMain graft.tools.DsirScale"
  *
  * Prints one JSON line per multiple plus a summary with the
  * incremental ratio r(m) = (t(m)/t(1))/m — r(5) ≤ 1 means the knee
  * was constant-overhead amortization at the small end, not a
  * scaling term. Results are committed in DSIR_SCALE.json.
  */
object DsirScale {
  def main(args: Array[String]): Unit = {
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    val spark = GraftSession()

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val nBase = base.count()
    val multiples = Seq(1, 2, 5)
    val dirs = multiples.map { m =>
      // cache key carries the source dir name AND the base row count:
      // a changed documents table or different source sf invalidates
      // the materialized multiples instead of silently reusing copies
      // built with stale id offsets
      val dir = s"target/dsir_scale/${new java.io.File(sfDir).getName}_n${nBase}_x$m"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        (0 until m).map(i => base.select(
            (col("doc_id") + lit(i * (nBase + 1))).as("doc_id"), col("text")))
          .reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(dir)
      }
      m -> dir
    }

    def timeOnce(dir: String): Double = {
      val docs = spark.read.parquet(dir)
        .select(col("doc_id"), col("text"),
          array_contains(graft.text.Text.tokens(col("text")), "join")
            .as("is_target"))
      val t0 = System.nanoTime()
      // full operator cost: the fit scan runs eagerly inside
      // selectTopN (the k-row model collect), the scoring scan at the
      // count — exactly what q174's bench timing covers
      graft.curation.Dsir.selectTopN(
        docs, "text", "doc_id", "is_target", k = 8, n = 50).count()
      (System.nanoTime() - t0) / 1e9
    }

    // warm every multiple once (codegen/footers), then median of runs
    dirs.foreach { case (_, d) => timeOnce(d) }
    val times = dirs.map { case (m, d) =>
      val ts = (1 to runs).map(_ => timeOnce(d)).sorted
      m -> ts(ts.length / 2)
    }
    val t1 = times.head._2
    times.foreach { case (m, t) =>
      val r = (t / t1) / m
      println(f"""{"multiple":$m,"rows":${nBase * m},"sec":$t%.2f,"vs_x1":${t / t1}%.2f,"per_multiple":$r%.2f}""")
    }
    val worst = times.map { case (m, t) => (t / t1) / m }.max
    println(f"""{"metric":"dsir_scale","base":"${new java.io.File(sfDir).getName}","runs":$runs,"worst_per_multiple":$worst%.2f}""")
    spark.stop()
  }
}
