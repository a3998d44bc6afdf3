package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Scale-curve exoneration runs for the three ≥3× sf0.01→sf0.1 ratios
  * the round-18 verdict left measured-but-unexplained (the
  * [[DsirScale]] method, which settled q174's 4.7× as constant-cost
  * amortization):
  *
  *   - q105 winnowCanonicalIdsMd5 (3.4×) and q202 fuzzyDecontam
  *     (3.3×): expected LINEAR — if 5× the sf0.1 rows cost ≈5× the
  *     x1 wall clock or less, the small-end ratio was fixed-cost
  *     amortization (job setup, signature-pass constants), not a
  *     super-linear term.
  *   - q176 marginMining (3.6×): expected QUADRATIC BY CONTRACT —
  *     the exact brute-force bitext baseline scores corpus×queries
  *     cosines where BOTH sides grow with the data; the artifact
  *     measures the exponent so "documented O(n²) ground truth" is a
  *     number, not prose. The scale path is q203/q206/q207 (bounded-
  *     probe IVFADC), whose sub-quadratic curve SCALE_CURVE.json
  *     already shows.
  *
  * Method: materialize 1×/2×/5× id-offset copies of the sf0.1 table
  * (one clean parquet scan per run), median of runs per multiple,
  * report t(m)/t(1), the per-multiple ratio r(m) = (t(m)/t(1))/m and
  * the log-log exponent alpha = ln(t(5)/t(1))/ln(5). Results are
  * committed in SCALE_EXONERATION.json.
  *
  *   sbt "runMain graft.tools.ScaleExonerate"
  */
object ScaleExonerate {
  def main(args: Array[String]): Unit = {
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    val spark = GraftSession()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val multiples = Seq(1, 2, 5)

    /** id-offset multiples of a table, materialized once (the
      * DsirScale cache-key convention: source dir + row count). */
    def materialize(table: String, idCol: String, cols: Seq[String]): Seq[(Int, String)] = {
      val base = graft.core.Tables.load(spark, sfDir, table)
        .select(cols.map(col): _*)
      val nBase = base.count()
      multiples.map { m =>
        val dir = s"target/scale_exon/${new java.io.File(sfDir).getName}_${table}_n${nBase}_x$m"
        if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
          (0 until m).map(i => base.withColumn(idCol,
              col(idCol) + lit(i * (nBase + 1))))
            .reduce(_.unionAll(_))
            .write.mode("overwrite").parquet(dir)
        }
        m -> dir
      }
    }

    case class Case(name: String, expected: String,
                    dirs: Seq[(Int, String)], run: String => Long)

    val docCols = Seq("doc_id", "text")
    val docDirs = materialize("documents", "doc_id", docCols)
    val embDirs = materialize("embeddings", "vec_id",
      Seq("vec_id", "embedding", "label"))

    val cases = Seq(
      Case("q105_winnow_canonical", "linear", docDirs, dir =>
        graft.dedup.Dedup.winnowCanonicalIdsMd5(
          spark.read.parquet(dir), "text", "doc_id").count()),
      Case("q202_fuzzy_decontam", "linear", docDirs, dir =>
        graft.curation.Curate.fuzzyDecontam(
          spark.read.parquet(dir), isEval = col("doc_id") % 89 === 0).count()),
      Case("q176_bitext_margin", "quadratic-by-contract", embDirs, dir => {
        val e = spark.read.parquet(dir)
        graft.similarity.Bitext.marginMining(
          e.where(col("label") < 5), e.where(col("label") >= 5),
          "vec_id", "embedding", k = 4, minMargin = 1.02).count()
      }),
      // round 19: the token-shard export landed at 3.8x on the curve —
      // expected LINEAR (two token-stream exchanges + a binary write +
      // re-read, all O(tokens); the small end pays the fixed offsets/
      // manifest collects and sbt/codegen constants)
      Case("q219_token_shards", "linear", docDirs, dir => {
        val out = s"$dir-q219-shards"
        val packed = graft.io.TokenShards.packChunks(
          spark.read.parquet(dir), "doc_id", "text",
          vocab = 4096, seqLen = 64, seqsPerShard = 16, nBuckets = 8)
        graft.io.TokenShards.write(packed, out)
        graft.io.TokenShards.readStats(spark, out).count()
      })
    )

    cases.foreach { c =>
      def timeOnce(dir: String): Double = {
        val t0 = System.nanoTime()
        c.run(dir)
        (System.nanoTime() - t0) / 1e9
      }
      c.dirs.foreach { case (_, d) => timeOnce(d) } // warm
      val times = c.dirs.map { case (m, d) =>
        val ts = (1 to runs).map(_ => timeOnce(d)).sorted
        m -> ts(ts.length / 2)
      }
      val t1 = times.head._2
      times.foreach { case (m, t) =>
        println(f"""{"case":"${c.name}","multiple":$m,"sec":$t%.2f,"vs_x1":${t / t1}%.2f,"per_multiple":${(t / t1) / m}%.2f}""")
      }
      val (m5, t5) = times.last
      val alpha = math.log(t5 / t1) / math.log(m5.toDouble)
      println(f"""{"case":"${c.name}","expected":"${c.expected}","alpha":$alpha%.2f,"runs":$runs}""")
    }
    spark.stop()
  }
}
