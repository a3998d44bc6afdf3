package graft

import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The one-pass text kernels behind [[graft.text.Text]] equal the
  * regex/lambda forms they replaced, value for value and (for the
  * ratios) bit for bit, including null handling under both
  * `size`-of-null conventions. The old forms live here only, as the
  * reference. */
class TextKernelsSpec extends SparkSuite {
  import spark.implicits._

  /** The pre-kernel definitions, verbatim. */
  private object Regex {
    def tokens(text: Column): Column =
      when(length(trim(text)) === 0, array().cast("array<string>"))
        .otherwise(split(trim(text), "\\s+"))
    def tokenCount(text: Column): Column = size(tokens(text))
    def punctRatio(text: Column): Column =
      when(length(text) === 0, lit(0.0))
        .otherwise(
          (length(text) - length(regexp_replace(text, "[^a-z0-9 ]", ""))) / length(text))
    def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
      val toks = tokens(text)
      when(size(toks) === 0, lit(0.0))
        .otherwise(size(filter(toks, t => t.isInCollection(stopwords))) / size(toks))
    }
    def qualityScore(text: Column): Column = {
      val nTok = tokenCount(text)
      val lengthScore = least(lit(1.0), nTok / lit(100.0))
      val cleanScore = lit(1.0) - punctRatio(text)
      val stopScore = lit(1.0) - abs(stopwordRatio(text, Text.EnglishStop) - lit(0.4))
      round(lit(0.4) * lengthScore + lit(0.4) * cleanScore + lit(0.2) * stopScore, 6)
    }
    def normalized(text: Column): Column =
      regexp_replace(lower(trim(text)), "\\s+", " ")
  }

  private val edgeCases: Seq[String] = Seq(
    null, "", " ", "   ", "\t", " \t ", "\n\n", "\tab\t", "  the cat  ",
    "ab\u000Bcd", "ab\fcd", "a\u000B\f b", "x \t\n\r\u000B\f y",
    "the  a\tof\nand\rto\u000Bin\fis it", "The THE the", "it is",
    "Ünïcödé wörds the Äß", "ÉCOLE Straße ǅ İ", "日本語 的 了 是",
    "𝔘𝔫𝔦 😀 the",
    "!!! ??? ... ,;:", "!", "a b the of", "tail\u0085",
    "a", "0 9 z", " lead", "trail ", "\r\nwin\r\n", "\t\t", "\tab  c\t")

  /** Seeded random texts over an alphabet rich in the cases above:
    * every regex whitespace byte, spaces, stopwords, punctuation,
    * non-ASCII letters and astral (surrogate-pair) code points. */
  private def randomTexts(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(20260417)
    val parts = Vector(" ", " ", "  ", "\t", "\n", "\r", "\u000B", "\f",
      "the", "a", "of", "and", "it", "is", "word", "x9", "Zz", "é", "ß",
      "中", "😀", "𝔘", ".", "!?", "-", " ")
    Seq.fill(n) {
      (0 until rnd.nextInt(14)).map(_ => parts(rnd.nextInt(parts.size))).mkString
    }
  }

  /** Read back from parquet: a projection over a local relation would
    * be folded on the driver by the interpreted evaluator, never
    * reaching generated code. */
  private lazy val texts: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft-texts").toString + "/t"
    (edgeCases ++ randomTexts(600)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .write.parquet(path)
    spark.read.parquet(path)
  }

  /** (kernel, regex) pairs of every replaced function. */
  private def pairs(t: Column): Seq[(String, Column, Column)] = Seq(
    ("tokens", Text.tokens(t), Regex.tokens(t)),
    ("tokenCount", Text.tokenCount(t), Regex.tokenCount(t)),
    ("punctRatio", Text.punctRatio(t), Regex.punctRatio(t)),
    ("stopwordRatio", Text.stopwordRatio(t, Text.EnglishStop),
      Regex.stopwordRatio(t, Text.EnglishStop)),
    ("stopwordRatio(markers)", Text.stopwordRatio(t, Seq("é", "", "the", "中")),
      Regex.stopwordRatio(t, Seq("é", "", "the", "中"))),
    ("qualityScore", Text.qualityScore(t), Regex.qualityScore(t)),
    ("normalized", Text.normalized(t), Regex.normalized(t)))

  /** Doubles compare by bits; everything else by value. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  private def assertEquivalent(): Unit = {
    val ps = pairs(col("text"))
    val rows = texts.select(col("id") +: col("text") +:
      ps.flatMap { case (n, k, r) => Seq(k.as(s"k_$n"), r.as(s"r_$n")) }: _*)
      .collect()
    assert(rows.length === edgeCases.size + 600)
    rows.foreach { row: Row =>
      ps.indices.foreach { i =>
        val (k, r) = (row.get(2 + 2 * i), row.get(3 + 2 * i))
        assert(same(k, r),
          s"${ps(i)._1} differs on ${Option(row.getString(1)).map(_.map(c =>
            if (c < 0x20 || c > 0x7E) f"\\u${c.toInt}%04X" else c.toString).mkString)}: " +
            s"kernel=$k regex=$r")
      }
    }
  }

  test("every kernel equals its regex/lambda form (codegen)") {
    assertEquivalent()
  }

  test("every kernel equals its regex/lambda form (interpreted)") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    try assertEquivalent() finally keys.foreach(spark.conf.unset)
  }

  test("null text: every kernel follows the legacy size-of-null convention too") {
    val keys = Seq("spark.sql.ansi.enabled", "spark.sql.legacy.sizeOfNull")
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "true")
    try {
      // legacy: size(null) = -1, so tokenCount is -1 and the stopword
      // ratio of a null text is (-1)/(-1) = 1.0 in both forms
      val row = texts.where(col("text").isNull)
        .select(Text.tokenCount(col("text")), Text.stopwordRatio(col("text"), Text.EnglishStop))
        .head()
      assert(row.getInt(0) === -1)
      assert(row.getDouble(1) === 1.0)
      assertEquivalent()
    } finally keys.foreach(spark.conf.unset)
  }

  test("q42's four text columns evaluate the byte pass once per row") {
    val t = col("text")
    val q = texts.select(col("id"), Text.tokenCount(t), round(Text.punctRatio(t), 6),
      round(Text.stopwordRatio(t, Text.EnglishStop), 6), Text.qualityScore(t))
    val code = q.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert("TextKernels\\.textStats\\(".r.findAllIn(code).size === 1, code)
    // and no regex or lambda is left in the plan
    val plan = q.queryExecution.executedPlan.toString
    Seq("split(", "regexp_replace", "filter(").foreach(f => assert(!plan.contains(f), plan))
  }

  test("tokens keeps leading/trailing empty tokens of tab-edged text") {
    val got = texts.where(col("text") === "\tab  c\t")
      .select(Text.tokens(col("text"))).as[Seq[String]].head()
    assert(got === Seq("", "ab", "c", ""))
  }
}
