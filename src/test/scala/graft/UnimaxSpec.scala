package graft

import graft.core.PlanStats
import graft.curation.Unimax

/** UniMax allocation (q175). The driver gate pins the window closed
  * form hash-exact against DuckDB; this spec pins it against the
  * PAPER'S formulation — the sequential smallest-language-first loop —
  * on randomized corpora, plus the budget/cap invariants and the
  * all-capped degenerate case.
  */
class UnimaxSpec extends SparkSuite {
  import spark.implicits._

  /** Chung et al. 2023's sequential allocator: languages ascending by
    * cap; each gets min(cap, remaining budget / languages left). */
  private def referenceLoop(caps: Seq[(String, Long)], budget: Long): Map[String, Double] = {
    var remaining = budget.toDouble
    var left = caps.size
    val out = Map.newBuilder[String, Double]
    for ((lang, cap) <- caps.sortBy(c => (c._2, c._1))) {
      val u = remaining / left
      val a = math.min(cap.toDouble, u)
      out += lang -> a
      remaining -= a
      left -= 1
    }
    out.result()
  }

  private def docsFor(toks: Map[String, Int]) =
    toks.toSeq.flatMap { case (lang, n) =>
      // one doc of n single-char tokens per language
      Seq((lang, Seq.fill(n)("w").mkString(" ")))
    }.toDF("lang", "text")

  test("window closed form matches the paper's sequential loop") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 8) {
      val langs = (0 until (2 + rnd.nextInt(6))).map(i => s"l$i")
      val toks = langs.map(_ -> (1 + rnd.nextInt(500))).toMap
      val total = toks.values.map(_.toLong).sum
      val ne = 1L + rnd.nextInt(3)
      val (bn, bd) = (1L + rnd.nextInt(6), 4L)
      val budget = total * bn / bd
      val expected = referenceLoop(
        toks.toSeq.map { case (l, n) => (l, n * ne) }, budget)
      val got = Unimax.allocation(docsFor(toks), "text", "lang", bn, bd, ne)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      for (l <- langs)
        assert(math.abs(got(l) - math.floor(expected(l) * 1e6 + 0.5) / 1e6) < 1e-9,
          s"trial $trial lang $l: got ${got(l)}, loop says ${expected(l)} " +
            s"(toks=$toks ne=$ne budget=$budget)")
    }
  }

  test("budget conservation and cap invariants") {
    val df = Unimax.allocation(
      docsFor(Map("a" -> 10, "b" -> 40, "c" -> 400)), "text", "lang",
      budgetNum = 1L, budgetDen = 2L, nEpochs = 2L)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val total = 450L
    val budget = total * 1 / 2 // 225
    rows.foreach { case (l, _, cap, alloc) =>
      assert(alloc <= cap.toDouble + 1e-9, s"$l over its cap") }
    assert(math.abs(rows.map(_._4).sum - budget) < 1e-3,
      s"allocations do not exhaust the budget: $rows")
    // small langs capped at nEpochs, big lang below
    val byLang = rows.map(r => r._1 -> r._4).toMap
    assert(byLang("a") === 20.0 && byLang("b") === 80.0)
    assert(byLang("c") < 800.0)
  }

  test("budget >= total caps -> every language fully capped") {
    val rows = Unimax.allocation(
      docsFor(Map("a" -> 10, "b" -> 20)), "text", "lang",
      budgetNum = 10L, budgetDen = 1L, nEpochs = 1L)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    rows.foreach { case (l, cap, alloc, ep) =>
      assert(alloc === cap.toDouble && ep === 1.0, s"$l not capped: $alloc")
    }
  }

  test("q175's returned plan re-plans no corpus scan") {
    val df = SparkEntry.queries("q175_unimax_alloc")(
      spark, "/root/testdata/sf0.001")
    val scans = PlanStats.scans(df)
    assert(scans === 0,
      s"corpus re-planned past the checkpoint: $scans scans")
  }
}
