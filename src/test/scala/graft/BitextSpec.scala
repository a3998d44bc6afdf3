package graft

import graft.similarity.Bitext

/** Margin-based bitext mining (q176). The driver gate pins the margin
  * arithmetic hash-exact against DuckDB; this spec pins the MINING
  * semantics — planted translation pairs are recovered by margin where
  * raw-cosine hubs would confuse them — plus partitioning invariance.
  */
class BitextSpec extends SparkSuite {
  import spark.implicits._

  private val dim = 8

  private def unit(rnd: scala.util.Random): Seq[Float] = {
    val v = Seq.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def perturb(v: Seq[Float], rnd: scala.util.Random): Seq[Float] = {
    val w = v.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val n = math.sqrt(w.map(x => x.toDouble * x).sum)
    w.map(x => (x / n).toFloat)
  }

  test("planted translation pairs are mined with the right targets") {
    val rnd = new scala.util.Random(11)
    val srcVecs = (1L to 8L).map(i => i -> unit(rnd)).toMap
    // tgt 101..103 are near-copies of src 1..3; 104..108 are noise
    val tgtVecs = (1L to 3L).map(i => (100L + i) -> perturb(srcVecs(i), rnd)).toMap ++
      (4L to 8L).map(i => (100L + i) -> unit(rnd)).toMap
    val src = srcVecs.toSeq.map { case (i, v) => (i, v) }.toDF("vec_id", "embedding")
    val tgt = tgtVecs.toSeq.map { case (i, v) => (i, v) }.toDF("vec_id", "embedding")

    val mined = Bitext.marginMining(src, tgt, "vec_id", "embedding",
      k = 3, minMargin = 1.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap

    for (i <- 1L to 3L)
      assert(mined.get(i).map(_._1).contains(100L + i),
        s"src $i should mine tgt ${100 + i}, got ${mined.get(i)}")
    val plantedMin = (1L to 3L).map(i => mined(i)._2).min
    val noiseMax = mined.collect { case (s, (_, m)) if s > 3L => m }
      .foldLeft(0.0)(math.max)
    assert(plantedMin > noiseMax,
      s"planted margins ($plantedMin) should dominate noise ($noiseMax)")
  }

  test("mining is invariant to input partitioning") {
    val rnd = new scala.util.Random(23)
    val src = (1L to 40L).map(i => (i, unit(rnd))).toDF("vec_id", "embedding")
    val tgt = (101L to 140L).map(i => (i, unit(rnd))).toDF("vec_id", "embedding")
    def run(s: org.apache.spark.sql.DataFrame, t: org.apache.spark.sql.DataFrame) =
      Bitext.marginMining(s, t, "vec_id", "embedding", k = 4, minMargin = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
    assert(run(src, tgt) === run(src.repartition(7), tgt.repartition(13)))
  }

  test("q176 plans no cartesian product and only broadcast cross joins") {
    val df = SparkEntry.queries("q176_bitext_margin")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("approx miner at kc=1/full-probe/full-shortlist IS marginMining") {
    // the swap-in's contract: with one coarse cell (probed), and a
    // shortlist covering the whole corpus, the ADC stage keeps every
    // candidate and the exact cosine re-rank degenerates to
    // bruteForceTopK — so the WHOLE mining output must be row-for-row
    // identical to the exact miner, margins and cosines included
    // (the MlPropertySpec degenerate-config pattern).
    val rnd = new scala.util.Random(37)
    val src = (1L to 30L).map(i => (i, unit(rnd))).toDF("vec_id", "embedding")
    val tgt = (101L to 140L).map(i => (i, unit(rnd))).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
    val exact = rows(Bitext.marginMining(
      src, tgt, "vec_id", "embedding", k = 3, minMargin = 0.0))
    val approx = rows(Bitext.marginMiningApprox(
      src, tgt, "vec_id", "embedding", k = 3, minMargin = 0.0,
      kc = 1, m = 4, pqK = 4, iters = 2, nprobe = 1, shortlist = 40))
    assert(approx === exact)
  }

  test("bounded-probe approx miner recovers the planted pairs (recall floor)") {
    // at REAL bounded settings (kc=4 cells, nprobe=2, shortlist=8) the
    // probe reads half the cells and the exact cosine touches 8
    // finalists per query — the recall trade the 100 TB form makes.
    // The floor: every planted near-copy pair must still be mined with
    // the right target, and ≥ 80% of the exact miner's (src → tgt)
    // assignments must be reproduced on a random-halves corpus.
    val rnd = new scala.util.Random(59)
    val srcVecs = (1L to 24L).map(i => i -> unit(rnd)).toMap
    val tgtVecs = (1L to 6L).map(i => (100L + i) -> perturb(srcVecs(i), rnd)).toMap ++
      (7L to 24L).map(i => (100L + i) -> unit(rnd)).toMap
    val src = srcVecs.toSeq.toDF("vec_id", "embedding")
    val tgt = tgtVecs.toSeq.toDF("vec_id", "embedding")
    def mine(f: => org.apache.spark.sql.DataFrame): Map[Long, Long] =
      f.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = mine(Bitext.marginMining(
      src, tgt, "vec_id", "embedding", k = 3, minMargin = 0.0))
    val approx = mine(Bitext.marginMiningApprox(
      src, tgt, "vec_id", "embedding", k = 3, minMargin = 0.0,
      kc = 4, m = 4, pqK = 4, iters = 2, nprobe = 2, shortlist = 8))
    for (i <- 1L to 6L)
      assert(approx.get(i).contains(100L + i),
        s"planted src $i must mine tgt ${100 + i}, got ${approx.get(i)}")
    val agree = exact.count { case (s, t) => approx.get(s).contains(t) }
    assert(agree * 10 >= exact.size * 8,
      s"approx agreed on $agree/${exact.size} exact assignments (< 80%)")
  }

  test("indexed miner over written per-direction indexes IS the in-memory approx miner") {
    // codes and trained state round-trip bit-exact through the
    // cell-partitioned index (the q169 ≡ q162 identity), so mining
    // from disk must equal the in-memory bounded-probe miner
    // row-for-row at equal parameters — the q206 ≡ q203 contract.
    val rnd = new scala.util.Random(71)
    val src = (1L to 24L).map(i => (i, unit(rnd))).toDF("vec_id", "embedding")
    val tgt = (101L to 124L).map(i => (i, unit(rnd))).toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("bitextidx").toString
    val srcIdx = graft.similarity.Ann.ivfPqBuildIndex(src, "vec_id",
      "embedding", kc = 4, m = 4, k = 4, iters = 2, s"$base/src/codes")
    val tgtIdx = graft.similarity.Ann.ivfPqBuildIndex(tgt, "vec_id",
      "embedding", kc = 4, m = 4, k = 4, iters = 2, s"$base/tgt/codes")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
    val inMem = rows(Bitext.marginMiningApprox(
      src, tgt, "vec_id", "embedding", k = 3, minMargin = 0.0,
      kc = 4, m = 4, pqK = 4, iters = 2, nprobe = 2, shortlist = 8))
    val indexed = rows(Bitext.marginMiningIndexed(
      src, tgt, srcIdx, tgtIdx, "vec_id", "embedding", k = 3,
      minMargin = 0.0, nprobe = 2, shortlist = 8))
    assert(indexed === inMem)
  }

  test("q203 plans no cartesian product") {
    val df = SparkEntry.queries("q203_bitext_margin_ivf")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
