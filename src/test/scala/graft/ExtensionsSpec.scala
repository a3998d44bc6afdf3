package graft

import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSuite {
  import spark.implicits._

  test("custom expressions are callable from SQL after registration") {
    val cos = spark.sql(
      "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))," +
        " array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .as[Double].collect().head
    assert(math.abs(cos - 1.0) < 1e-12)

    val sim = spark.sql("SELECT md5_simhash32(array('a','b','c')) AS s").as[Long].collect().head
    val simCol = Seq(Seq("a", "b", "c")).toDF("t")
      .select(graft.functions.HashFunctions.md5Simhash32(col("t"))).as[Long].collect().head
    assert(sim === simCol)

    val area = spark.sql(
      "SELECT ring_area(array(struct(0.0D AS x, 0.0D AS y), struct(4.0D AS x, 0.0D AS y)," +
        " struct(4.0D AS x, 4.0D AS y), struct(0.0D AS x, 4.0D AS y))) AS a")
      .as[Double].collect().head
    assert(area === 16.0)

    val mh = spark.sql("SELECT md5_minhash_sig(array('a','b'), 4).sig AS m")
      .as[Seq[Long]].collect().head
    assert(mh.length === 4)

    val wgs = spark.sql("SELECT lambert72_to_wgs84(150000.0D, 170000.0D) AS p")
      .selectExpr("p.lon", "p.lat").as[(Double, Double)].collect().head
    assert(wgs._1 > 4.2 && wgs._1 < 4.5 && wgs._2 > 50.7 && wgs._2 < 50.9)

    // r12 additions: PCM window features and the BPE merge pass
    val pcm = spark.sql(
      "SELECT pcm_windows(CAST(encode('aa', 'UTF-8') AS BINARY), 256) AS w")
      .selectExpr("w[0].peak", "w[0].zero_crossings").as[(Int, Int)].collect().head
    assert(pcm === ((0x6161, 0))) // one sample: 'a'=0x61 lo and hi

    val bpe = spark.sql(
      "SELECT bpe_apply_merge(array('a','b','a'), 'a', 'b') AS m")
      .as[Seq[String]].collect().head
    assert(bpe === Seq("ab", "a"))

    val dot = spark.sql(
      "SELECT long_dot(array(2L, 3L), array(5L, 7L)) AS d").as[Long].collect().head
    assert(dot === 31L)

    // r18 additions: the md5-arithmetic dedup kernels
    val msim = spark.sql("SELECT md5_simhash32(array('a','b')) AS s")
      .as[Long].collect().head
    val msimCol = Seq(Seq("a", "b")).toDF("t")
      .select(graft.functions.HashFunctions.md5Simhash32(col("t")))
      .as[Long].collect().head
    assert(msim === msimCol)
    val mms = spark.sql(
      "SELECT md5_minhash_sig(array('a','b'), 8) AS m")
      .selectExpr("m.n_u", "size(m.sig)").as[(Long, Int)].collect().head
    assert(mms === ((2L, 8)))
    val wp = spark.sql(
      "SELECT winnow_picks_md5('abcdefgh', 4, 2) AS p")
      .selectExpr("size(p)", "p[0].n").as[(Int, Long)].collect().head
    assert(wp._2 === 5L) // 8 chars, k=4 -> 5 grams
    assert(wp._1 >= 1)

    val ddot = spark.sql(
      "SELECT double_dot(array(0.5D, 2.0D), array(4.0D, 0.25D)) AS d")
      .as[Double].collect().head
    assert(ddot === 2.5)

    val l2 = spark.sql(
      "SELECT squared_l2_micros(array(1.0D, 2.0D), array(1.0D, 0.5D)) AS d")
      .as[Long].collect().head
    assert(l2 === 2250000L)

    val ic = spark.sql(
      "SELECT long_intersect_count(array(3L, 1L, 2L, 2L), array(2L, 3L, 9L)) AS c")
      .as[Int].collect().head
    assert(ic === 2)

    val vs = spark.sql(
      "SELECT vec_sub(array(1.5D, 2.0D), array(0.5D, 3.0D)) AS r")
      .as[Seq[Double]].collect().head
    assert(vs === Seq(1.0, -1.0))

    val ws = spark.sql(
      "SELECT word_spans(array('a','b','c','d'), 3) AS s")
      .as[Seq[String]].collect().head
    assert(ws === Seq("a b c", "b c d"))
    assert(spark.sql("SELECT word_spans(array('a','b'), 3) AS s")
      .as[Seq[String]].collect().head === Seq.empty)

    assert(spark.sql("SELECT int_counts(array(0, 3, 3, 9), 4) AS c")
      .as[Seq[Int]].collect().head === Seq(1, 0, 0, 2))

    // bits 0 and 2 of word 0 (positions 1 and 3 positive)
    assert(spark.sql(
        "SELECT sign_bits(array(1.0D, -1.0D, 0.5D)) AS b")
      .as[Seq[Long]].collect().head === Seq(5L))

    // PNG encode -> decode round trip entirely in SQL
    val im = spark.sql(
      "SELECT image_meta(gray_png(4, 3, 120)) AS m")
      .select("m.width", "m.height", "m.n_bands", "m.mean_px")
      .collect().head
    assert(im.getInt(0) === 4 && im.getInt(1) === 3)
    assert(im.getInt(2) === 1 && im.getDouble(3) === 120.0)

    // bigint arithmetic (the natural type of id-derived dims) must
    // implicit-cast at analysis, not ClassCastException mid-job
    val imL = spark.sql(
      "SELECT image_meta(gray_png(id % 13 + 3, 3, 9)).width AS w " +
        "FROM range(1, 2)").as[Int].collect().head
    assert(imL === 4)
    // and a type mismatch is an ANALYSIS error, not a runtime crash
    val err = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT image_meta('not bytes')").collect())
    assert(err.getMessage.toLowerCase.contains("binary"))
  }

  test("non-literal k for md5_minhash_sig is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT md5_minhash_sig(array('a'), CAST(rand()*4 AS INT))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"))
  }
}
