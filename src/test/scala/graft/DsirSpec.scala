package graft

import graft.core.PlanStats
import graft.curation.Dsir
import org.apache.spark.sql.functions._

/** DSIR importance resampling (q174). The driver gate pins the scored
  * trajectory hash-exact against DuckDB; this spec pins that the
  * machinery SELECTS — raw documents whose bigram distribution matches
  * the target slice must outrank raw documents that speak a disjoint
  * bigram vocabulary — plus the returned-plan shape (the fit must stay
  * eager driver state, never a re-planned branch of the scoring scan).
  */
class DsirSpec extends SparkSuite {
  import spark.implicits._

  test("target-like raw docs outrank disjoint-vocabulary raw docs") {
    // target (is_t) speaks "alpha beta"; raw docs 100-109 speak the
    // SAME bigrams (in-domain web text), raw docs 200-219 speak
    // disjoint "gamma delta". DSIR must pick every in-domain raw doc
    // before any out-of-domain one.
    val docs = (
      (0 until 10).map(i => (i.toLong, "alpha beta alpha beta", true)) ++
      (100 until 110).map(i => (i.toLong, "alpha beta alpha beta", false)) ++
      (200 until 220).map(i => (i.toLong, "gamma delta gamma delta", false)))
      .toDF("doc_id", "text", "is_t")
    val top = Dsir.selectTopN(docs, "text", "doc_id", "is_t", k = 8, n = 20)
      .select("doc_id").as[Long].collect().toSet
    assert((100L until 110L).forall(top.contains),
      s"in-domain raw docs missing from selection: $top")
    assert((200L until 220L).count(top.contains) < 20 - 10,
      "selection did not prefer in-domain docs")
  }

  test("scores are monotone in target-bigram mass") {
    // 3 raw docs with increasing fractions of target-domain bigrams:
    // logw must increase with the match fraction.
    val docs = (
      (0 until 5).map(i => (i.toLong, "alpha beta alpha beta", true)) ++ Seq(
        (100L, "gamma delta gamma delta", false),
        (101L, "alpha beta gamma delta", false),
        (102L, "alpha beta alpha beta", false)))
      .toDF("doc_id", "text", "is_t")
    val byId = Dsir.selectTopN(docs, "text", "doc_id", "is_t", k = 8, n = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byId(100L) < byId(101L) && byId(101L) < byId(102L),
      s"logw not monotone in target mass: $byId")
  }

  test("q174's returned plan is one scan, zero shuffles") {
    // the fit is bounded driver trainer state (k count rows collected
    // eagerly); a refactor that threads totals/lambdas through the
    // plan re-plans the fit subtree per branch (measured: 3 scans /
    // 4 shuffles) and shows up here
    val df = SparkEntry.queries("q174_dsir_select")(
      spark, "/root/testdata/sf0.001")
    val scans = PlanStats.scans(df)
    val shuffles = PlanStats.shuffles(df)
    assert(scans === 1, s"q174 returned plan scans: $scans")
    assert(shuffles === 0, s"q174 returned plan shuffles: $shuffles")
  }

  test("md5_bigram_buckets equals the declarative featurize it replaced") {
    // the fused kernel (round 21) must be value-identical to the
    // zip_with + transform + conv(substring(md5)) chain — including
    // the <2-token empty array and the empty-string doc
    val texts = Seq("alpha beta gamma alpha", "one", "", "x y",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z",
      "répé tition répé tition").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val toks = graft.text.Text.tokens(col("text"))
    val k = 8
    val declarative = transform(graft.text.Text.bigrams(toks),
      g => (conv(substring(md5(g), 1, 8), 16, 10).cast("long") % k).cast("int"))
    val rows = texts.select(col("id"),
        graft.functions.HashFunctions.md5BigramBuckets(toks, k).as("fused"),
        declarative.as("decl"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"doc ${r.getLong(0)}: fused ${r.getSeq[Int](1)} != declarative ${r.getSeq[Int](2)}")
    }
  }
}
