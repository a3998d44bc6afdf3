package graft

import graft.dedup.Dedup
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Duplicated-substring spans (Lee et al. 2022 substring dedup at
  * token-window granularity, `Dedup.dupSpanStats`, q161). */
class DupSpanSpec extends SparkSuite {
  import spark.implicits._

  // d1/d2 share the 4-token run "a b c d"; d3 repeats its own window
  // twice; d4 is unique; d5 is too short for any window.
  private def fixture = Seq(
    (1L, "a b c d x1 y1"),
    (2L, "z2 a b c d w2"),
    (3L, "p q r s k p q r s k"),
    (4L, "u1 u2 u3 u4 u5 u6"),
    (5L, "t1 t2")
  ).toDF("doc_id", "text")

  private def stats(w: Int, hashed: Boolean = false) =
    Dedup.dupSpanStats(fixture, "text", "doc_id", w = w,
        maxDupPerMille = 200, hashed = hashed)
      .orderBy("doc_id").collect().toSeq

  test("cross-doc and within-doc duplicated windows are counted") {
    // w=4: d1 spans = {abcd, bcdx1, cdx1y1}; d2 = {z2abc, abcd, bcdw2}
    // -> "a b c d" total 2 -> one dup span each. d3 (10 toks, 7 spans):
    // "p q r s k ..." has NO repeated 4-window? "p q r s" occurs at
    // pos 1 and pos 6 -> spans at 1 and 6 identical ("p q r s"? no —
    // 4-windows: pos6 = "p q r s" (toks 6-9) yes). Windows of d3:
    // [pqrs, qrsk, rskp, skpq, kpqr, pqrs, qrsk] -> "p q r s" x2 and
    // "q r s k" x2 -> 4 dup positions.
    val rows = stats(4)
    assert(rows.map(_.getLong(0)) === Seq(1L, 2L, 3L, 4L))
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) === 3 && byId(1L).getLong(2) === 1)
    assert(byId(2L).getLong(1) === 3 && byId(2L).getLong(2) === 1)
    assert(byId(3L).getLong(1) === 7 && byId(3L).getLong(2) === 4)
    assert(byId(4L).getLong(1) === 3 && byId(4L).getLong(2) === 0)
  }

  test("keep gate compares in exact integer arithmetic") {
    val byId = stats(4).map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // d1/d2: 1/3 dup = 333‰ > 200‰ -> drop; d3: 4/7 -> drop; d4 keep.
    assert(byId(1L) === false && byId(2L) === false)
    assert(byId(3L) === false && byId(4L) === true)
  }

  test("documents shorter than the window are dropped") {
    assert(!stats(4).exists(_.getLong(0) == 5L))
    // w larger than every doc -> empty result, not a failure
    assert(Dedup.dupSpanStats(fixture, "text", "doc_id", w = 99,
      maxDupPerMille = 200).count() === 0)
  }

  test("hashed (xxhash64 shuffle-key) variant is output-identical") {
    val plain = stats(8)
    val h = stats(8, hashed = true)
    assert(plain === h)
    // and on the real sf0.001 documents table
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val a = Dedup.dupSpanStats(docs, "text", "doc_id", 8, 200)
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.dupSpanStats(docs, "text", "doc_id", 8, 200, hashed = true)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("totalsViaJoin (AQE-splittable skew path) is output-identical") {
    val viaWindow = stats(4)
    val viaJoin = Dedup.dupSpanStats(fixture, "text", "doc_id", w = 4,
        maxDupPerMille = 200, totalsViaJoin = true)
      .orderBy("doc_id").collect().toSeq
    assert(viaWindow === viaJoin)
    // and on the real sf0.001 documents table
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val a = Dedup.dupSpanStats(docs, "text", "doc_id", 8, 200)
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.dupSpanStats(docs, "text", "doc_id", 8, 200,
        totalsViaJoin = true)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("dupSpanStats matches a local sliding-window reference on random corpora") {
    // small vocab forces cross-doc window collisions; the local
    // reference is plain Scala sliding(w) + a corpus-wide histogram
    val genCorpus: Gen[Seq[(Long, List[String])]] = for {
      n <- Gen.chooseNum(1, 10)
      docs <- Gen.listOfN(n,
        Gen.chooseNum(0, 12).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))))
    } yield docs.zipWithIndex.map { case (toks, i) => (i.toLong, toks) }
    val w = 3
    val prop = Prop.forAll(genCorpus) { docs =>
      val df = docs.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.dupSpanStats(df, "text", "doc_id", w, 500)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toMap
      val perDoc = docs.map { case (id, toks) =>
        id -> toks.sliding(w).filter(_.length == w).map(_.mkString(" ")).toList }
      val totals = perDoc.flatMap(_._2).groupBy(identity).map {
        case (s, l) => s -> l.size }
      val expect = perDoc.filter(_._2.nonEmpty).map { case (id, spans) =>
        val dup = spans.count(s => totals(s) > 1).toLong
        id -> (spans.size.toLong, dup, dup * 1000 <= 500L * spans.size)
      }.toMap
      got == expect
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop).passed)
  }

  // --- removeDupSpans (q193): the transform half ---------------------

  test("removeDupSpans deletes covered positions and reassembles in order") {
    // w=4: d1/d2 share "a b c d" -> positions 0..3 of d1 and 1..4 of
    // d2 are covered; the survivors keep their original order
    val got = Dedup.removeDupSpans(fixture, "text", "doc_id", w = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      (1L, 6, 4L, "x1 y1"),
      (2L, 6, 4L, "z2 w2"),
      // d3 = "p q r s k" twice: every 4-window repeats? spans at 0..6;
      // "q r s k" (1) vs (6)? positions 6 = "r s k p"... only
      // "p q r s"(0,5) and "q r s k"(1,6) repeat -> covered 0..4,5..9
      // minus none -> all 10 covered? 0..3,5..8 from pqrs + 1..4,6..9
      // from qrsk = 0..9 -> d3 disappears below, asserted separately
      (4L, 6, 0L, "u1 u2 u3 u4 u5 u6"),
      (5L, 2, 0L, "t1 t2")))
    assert(!got.map(_._1).contains(3L),
      "a fully-boilerplate doc must disappear entirely")
  }

  test("removeDupSpans leaves a corpus with no repeats untouched") {
    val docs = Seq((1L, (1 to 12).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 12).map(i => s"b$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(docs, "text", "doc_id", w = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got === Seq((1L, 0L), (2L, 0L)))
  }
}
