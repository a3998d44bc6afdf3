package graft

import graft.dedup.Dedup
import graft.functions.{HashFunctions, VectorFunctions}
import graft.similarity.Ann
import graft.text.Text
import org.apache.spark.sql.functions._

class TextAndDedupSpec extends SparkSuite {
  import spark.implicits._

  test("tokens / tokenCount handle empty and multi-space text") {
    val df = Seq("a b  c", "", "  ", "one").toDF("t")
    val got = df.select(Text.tokenCount(col("t"))).as[Int].collect().toSeq
    assert(got === Seq(3, 0, 0, 1))
  }

  test("shingles produce n-grams; short docs collapse to one shingle") {
    val df = Seq("a b c d").toDF("t")
    val got = df.select(Text.shingles(Text.tokens(col("t")), 3)).as[Seq[String]]
      .collect().head
    assert(got === Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(Text.shingles(Text.tokens(col("t")), 3)).as[Seq[String]].collect().head
    assert(short === Seq("a b"))
  }

  test("fingerprint is whitespace/case-insensitive canonical MD5") {
    val df = Seq(("A  b", "a b")).toDF("x", "y")
    val r = df.select(Text.fingerprint(col("x")).as("fx"),
      Text.fingerprint(col("y")).as("fy")).as[(String, String)].collect().head
    assert(r._1 === r._2)
  }

  test("langId is deterministic and prefers alphabetical on ties") {
    val df = Seq("nothingmatches here").toDF("t")
    assert(df.select(Text.langId(col("t"))).as[String].collect().head === "de")
    val en = Seq("the fast fox and the slow dog").toDF("t")
    assert(en.select(Text.langId(col("t"))).as[String].collect().head === "en")
  }

  test("exact dedup groups identical normalized text (canonical = min id)") {
    val docs = Seq((10L, "hello  world"), (3L, "hello world"), (7L, "different"))
      .toDF("doc_id", "text")
    val got = Dedup.exactCanonicalIds(docs, "text", "doc_id")
      .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 3L, 3L -> 3L, 7L -> 7L))
  }

  test("BM25: both-terms doc outranks one-term docs; idf favors rare terms") {
    val docs = Seq(
      (1L, "alpha beta gamma"),       // both query terms
      (2L, "alpha delta epsilon"),    // common term only
      (3L, "beta zeta eta"),          // rare term only
      (4L, "alpha theta iota"),
      (5L, "alpha kappa lambda"))     // alpha df=4, beta df=2
      .toDF("doc_id", "text")
    val queries = Seq((1L, "alpha beta")).toDF("query_id", "qtext")
    val got = graft.text.Bm25.searchTopK(docs, queries,
        "doc_id", "text", "query_id", "qtext", topK = 5)
      .orderBy("rank")
      .select("doc_id", "score").as[(Long, Double)].collect()
    assert(got.head._1 === 1L, s"both-terms doc must rank first: ${got.toSeq}")
    // the rare-term doc (beta, df 2) must outrank any common-term doc
    val byDoc = got.toMap
    assert(byDoc(3L) > byDoc(2L),
      s"rarer term should score higher: beta-doc ${byDoc(3L)} vs alpha-doc ${byDoc(2L)}")
    // scores strictly positive and ranking strictly by score then id
    assert(got.forall(_._2 > 0.0))
  }

  test("PMI collocations: bound pairs outrank independent ones, hand-checked") {
    // "x y" always adjacent (perfect collocation); "a"/"b" co-occur
    // adjacently once but mostly apart (low PMI)
    val docs = (Seq.fill(8)("x y") ++ Seq.fill(8)("a c b") ++ Seq("a b"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.text.Colloc.topPmi(docs, "text", n = 10, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // unigrams: x 8, y 8, a 9, c 8, b 9; N1 = 42
    // bigrams: (x,y) 8, (a,c) 8, (c,b) 8, (a,b) 1; N2 = 25
    def pmi(cab: Long, ca: Long, cb: Long) =
      math.floor(math.log(cab.toDouble * 42 * 42 / (25.0 * ca * cb)) * 1e6 + 0.5) / 1e6
    assert(got(("x", "y")) === ((8L, pmi(8, 8, 8))))
    assert(got(("a", "b")) === ((1L, pmi(1, 9, 9))))
    assert(got(("x", "y"))._2 > got(("a", "b"))._2,
      "the bound pair must outrank the incidental one")
  }

  test("incremental dedup labels new / dup_of_base / dup_in_delta correctly") {
    val base = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "ALPHA  beta"),   // normalizes to a base fingerprint
      (11L, "epsilon zeta"),  // first sight anywhere
      (12L, "epsilon  ZETA"), // same fp as 11 within the delta
      (13L, "eta theta"))     // first sight
      .toDF("doc_id", "text")
    val got = Dedup.incrementalStatus(base, delta, "text", "doc_id")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got === Map(10L -> "dup_of_base", 11L -> "new",
      12L -> "dup_in_delta", 13L -> "new"))
    // re-ingesting the SAME delta against base ∪ delta: everything dup_of_base
    val again = Dedup.incrementalStatus(base.union(delta), delta, "text", "doc_id")
      .select("status").as[String].collect()
    assert(again.forall(_ == "dup_of_base"))
  }

  test("winnow fingerprint: determinism, the shared-substring guarantee, edge cases") {
    val k = 8; val t = 4
    val copied = "the quick brown fox jumps over the lazy dog near the river bank"
    val docA = s"AAAA unrelated preamble text. $copied"
    val docB = s"completely different opening words here!! $copied ZZZZ trailing"
    val df = Seq((1L, docA), (2L, docB), (3L, docA), (4L, "tiny"), (5L, "nothing alike at all qqq"))
      .toDF("doc_id", "text")
    def hashes(picks: Seq[org.apache.spark.sql.Row]): Set[Long] =
      picks.map(_.getAs[Long]("h")).toSet
    val fp = df.select(col("doc_id"),
        HashFunctions.winnowPicksMd5(col("text"), k, t).as("fp"))
      .collect().map(r => r.getLong(0) -> hashes(r.getSeq[org.apache.spark.sql.Row](1)))
      .toMap
    assert(fp(1L) === fp(3L))                    // identical docs, identical prints
    assert(fp(4L).isEmpty)                       // shorter than k codepoints
    // winnowing guarantee: a shared substring of >= t + k - 1
    // codepoints (here ~60) must yield at least one shared fingerprint
    assert((fp(1L) & fp(2L)).nonEmpty)
    assert((fp(5L) & fp(1L)).isEmpty) // disjoint text, no prints shared
    // the installed SQL surface agrees with the Column API
    Seq((1L, docA)).toDF("doc_id", "text").createOrReplaceTempView("winnow_t")
    val viaSql = spark.sql(
      s"SELECT winnow_picks_md5(text, $k, $t) AS fp FROM winnow_t")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(hashes(viaSql) === fp(1L))
  }

  test("winnowCanonicalIdsMd5 links copied paragraphs; stop-fingerprints bounded") {
    val para = "it was the best of times it was the worst of times " * 3
    val boiler = "standard license header all documents carry verbatim. "
    val docs = Seq(
      (1L, s"$boiler unique opening alpha. $para"),
      (2L, s"$boiler totally different content beta gamma delta. $para"),
      (3L, s"$boiler nothing copied here at all, just original prose qq"),
      (4L, s"$boiler another fully original document zz ww yy xx vv"))
      .toDF("doc_id", "text")
    def canon(maxDf: Int) = Dedup.winnowCanonicalIdsMd5(docs, "text", "doc_id",
        k = 8, t = 4, minShared = 2, maxDf = maxDf)
      .as[(Long, Long)].collect().toMap
    // maxDf=2: the boilerplate prefix (in all 4 docs) is dropped as a
    // stop-fingerprint, so only the copied paragraph can link docs
    assert(canon(2) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    // the bound is what keeps 3 and 4 apart: with it lifted, the
    // shared boilerplate links every doc
    assert(canon(4).values.toSet === Set(1L))
  }

  test("winnowCanonicalIdsMd5: one row per doc, A~B~C chains collapse across buckets") {
    val paraX = "it was the best of times it was the worst of times " * 3
    val paraY = "call me ishmael some years ago never mind how long precisely " * 3
    val docs = Seq(
      (1L, s"unique opening alpha. $paraX"),
      (2L, s"different middle beta. $paraX and also $paraY"), // bridges X and Y
      (3L, s"closing gamma. $paraY"),
      (4L, "nothing copied here at all, just original prose qq zz"))
      .toDF("doc_id", "text")
    // 1~2 share paraX fingerprints, 2~3 share paraY: the component
    // {1,2,3} must collapse to min id 1 even though no fingerprint
    // links 1 and 3 directly
    val canon = Dedup.winnowCanonicalIdsMd5(docs, "text", "doc_id",
        k = 8, t = 4, minShared = 2, maxDf = 3)
      .as[(Long, Long)].collect().toMap
    assert(canon.size === 4)
    assert(canon(1L) === 1L && canon(2L) === 1L && canon(3L) === 1L)
    assert(canon(4L) === 4L)
  }

  test("winnowCanonicalIdsMd5 counts the TRUE pair intersection, not per-rep splits") {
    // doc 1 shares only region S2 with docs 2 and 3, so S2's
    // fingerprint rep is 1 while S1's rep is 2 — docs 2 and 3 share
    // BOTH regions, but their shared fingerprints split across reps 1
    // and 2. A per-rep count sees fewer than minShared on each side
    // and misses the 2~3 pair; the intersection count per candidate
    // pair must link them.
    val s1 = "quaint harbor lanterns glow " * 3
    val s2 = "mossy cellar doorway oak"
    val docs = Seq(
      (1L, s"solo prologue. $s2"),
      (2L, s"$s1 midline. $s2"),
      (3L, s"$s1 midline. $s2 epilogue"))
      .toDF("doc_id", "text")
    val minShared = 11
    // the fixture must split: |F2 ∩ F3| reaches minShared, the part
    // whose rep is 2 (the fingerprints doc 1 lacks) does not
    val fps = Dedup.winnowSelectedMd5(docs, "text", "doc_id", k = 16, t = 8)
      .select("id", "h").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val shared = fps(2L) & fps(3L)
    assert(shared.size >= minShared && (shared -- fps(1L)).size < minShared,
      s"fixture no longer splits: ${shared.size} shared, ${(shared -- fps(1L)).size} with rep 2")
    val canon = Dedup.winnowCanonicalIdsMd5(docs, "text", "doc_id",
        k = 16, t = 8, minShared = minShared, maxDf = 3)
      .as[(Long, Long)].collect().toMap
    assert(canon(2L) === canon(3L), s"2~3 must link: $canon")
    assert(canon(2L) === 2L, s"cluster minimum is 2: $canon")
  }

  test("embeddingCanonicalIds groups identical vectors, one row per id") {
    val dup = Seq(0.6f, 0.8f, 0.0f, 0.0f)
    val docs = Seq(
      (1L, dup), (2L, dup), (7L, dup),                  // exact dup cluster
      (9L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),                // orthogonal
      (11L, Seq(-0.6f, -0.8f, 0.0f, 0.0f)))             // opposite direction
      .toDF("vec_id", "embedding")
    val canon = Dedup.embeddingCanonicalIds(docs, "embedding", "vec_id",
      threshold = 0.99).as[(Long, Long)].collect().toMap
    assert(canon.size === 5)
    assert(canon(1L) === 1L && canon(2L) === 1L && canon(7L) === 1L)
    assert(canon(9L) === 9L && canon(11L) === 11L)
  }

  test("blockedJaccardPairs length banding is lossless across a band boundary") {
    // sizes 3 and 5: floor(log2) bands 1 vs 2 (adjacent), jaccard 3/5 = 0.6
    // >= 0.5 — the +/-1 band spread must keep this pair
    val docs = Seq(
      (1L, "en", "s", "a b c"),
      (2L, "en", "s", "a b c d e"),
      (3L, "en", "s", "x " * 40)).toDF("doc_id", "lang", "source", "text")
    val got = Dedup.blockedJaccardPairs(docs, "text", "doc_id",
      Seq("lang", "source"), 0.5).as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((2L, 1L, 0.6)) || got.toSeq === Seq((1L, 2L, 0.6)))
  }

  test("blockedJaccardPairs computes exact set jaccard within blocks") {
    val docs = Seq(
      (1L, "en", "s", "a b c d"),
      (2L, "en", "s", "a b c e"),
      (3L, "fr", "s", "a b c d")).toDF("doc_id", "lang", "source", "text")
    val got = Dedup.blockedJaccardPairs(docs, "text", "doc_id",
      Seq("lang", "source"), 0.0).as[(Long, Long, Double)].collect()
    assert(got.length === 1)
    assert(got.head._3 === 0.6) // |{a,b,c}| / |{a,b,c,d,e}|
  }

  test("cosineSim expression matches an independent formulation") {
    val df = Seq(
      (Array(1.0f, 0.0f, 2.0f), Array(0.5f, 1.0f, -1.0f)),
      (Array(1.0f, 1.0f, 1.0f), Array(1.0f, 1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosineSim(col("a"), col("b"))).as[Double].collect()
    def ref(a: Array[Float], b: Array[Float]) = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    assert(math.abs(got(0) - ref(Array(1f, 0f, 2f), Array(0.5f, 1f, -1f))) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("cosineSim: null on length mismatch or zero norm") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosineSim(col("a"), col("b"))).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("bruteForceTopK ranks by rounded cosine with id tiebreak") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f))).toDF("id", "v")
    val got = Ann.bruteForceTopK(vecs.where(col("id") === 0), vecs, "id", "v", 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got === Seq(3L, 1L)) // exact match first, then near
  }

  test("lshTopK returns correctly-scored subset of brute-force candidates") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 3.7 + d).toFloat))).toDF("id", "v")
    val brute = Ann.bruteForceTopK(vecs.where(col("id") < 3), vecs, "id", "v", 40)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Ann.lshTopK(vecs.where(col("id") < 3), vecs, "id", "v", 5)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, n, c) => assert(brute((q, n)) === c) }
  }

  test("ivfTopK: clustered vectors resolve to correct exact-scored neighbors") {
    // four tight clusters; IVF with nProbe=2 must find same-cluster neighbors
    val rng = new scala.util.Random(5)
    val vecs = (0L until 48L).map { i =>
      val c = (i % 4).toInt
      val base = Array.tabulate(8)(d => if (d == c * 2) 1.0f else 0.0f)
      (i, base.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f))
    }.toDF("id", "v")
    val brute = Ann.bruteForceTopK(vecs.where(col("id") < 4), vecs, "id", "v", 3)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Ann.ivfTopK(vecs.where(col("id") < 4), vecs, "id", "v", 3,
      nCells = 8, nProbe = 3, iters = 3)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    // every IVF hit carries the exact brute-force score
    ivf.foreach { case (q, n, c) => assert(brute.get((q, n)).forall(_ === c)) }
    // and same-cluster structure: top-1 neighbor shares the query's cluster
    val top1 = Ann.ivfTopK(vecs.where(col("id") < 4), vecs, "id", "v", 1,
      nCells = 8, nProbe = 3, iters = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    top1.foreach { case (q, n) => assert(q % 4 === n % 4, s"query $q got $n") }
  }

  test("IVF training is sample-based: Spark job count does not grow with iterations") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString + "/vecs"
    (0L until 60L).map(i => (i, Array.tabulate(8)(d => math.sin(i * 1.3 + d).toFloat)))
      .toDF("id", "v").write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    def jobsDuring(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { f; org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    val j1 = jobsDuring(Ann.trainCentroids(corpus, "id", "v", nCells = 4, iters = 1))
    val j9 = jobsDuring(Ann.trainCentroids(corpus, "id", "v", nCells = 4, iters = 9))
    assert(j9 === j1, s"training launched $j9 jobs at 9 iters vs $j1 at 1 — not sample-based")
    // and the sampled training still produces usable centroids
    assert(Ann.trainCentroids(corpus, "id", "v", 4, 3).length === 4)
  }

  test("typoCanonical: FastSS blocking finds every edit-1 pair, picks by (freq, word)") {
    // "word" x10 is the hub: "word"->"ward" (substitution), "words"
    // (insertion), "wod"... too short at minLen=4; "wore" (substitution)
    // has freq 10 tie with "ward"? no: freqs differ. "cold"/"bold"
    // substitution pair with EQUAL freq 3 -> tie breaks lexicographic
    // ("bold" wins for both). "zebra" has no neighbor -> self.
    val docs = Seq(
      (Seq.fill(10)("word") ++ Seq("ward", "ward", "words", "wore",
        "cold", "cold", "cold", "bold", "bold", "bold", "zebra"))
        .mkString(" ")).map(Tuple1(_)).toDF("text")
    val got = graft.dedup.Dedup.typoCanonical(docs, "text", minLen = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(got("word") === ((10L, "word", false)))   // hub keeps itself
    assert(got("ward") === ((2L, "word", true)))     // substitution
    assert(got("words") === ((1L, "word", true)))    // deletion neighbor
    assert(got("wore") === ((1L, "word", true)))     // substitution
    // equal-freq tie -> lexicographically smaller canonical for BOTH
    assert(got("cold") === ((3L, "bold", true)))
    assert(got("bold") === ((3L, "bold", false)))
    assert(got("zebra") === ((1L, "zebra", false)))  // no neighbor
    // distance-2 words sharing a deletion variant must NOT link:
    // "acbd" (a transposition = 2 substitutions from "abcd") shares
    // the deletion variant "abd" with it — a CANDIDATE the levenshtein
    // verify must reject, so both keep themselves
    val doc2 = Seq(("abcd abcd abcd acbd dcba")).map(Tuple1(_)).toDF("text")
    val got2 = graft.dedup.Dedup.typoCanonical(doc2, "text", minLen = 4)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got2("acbd") === "acbd")
    assert(got2("dcba") === "dcba")
  }

  test("typoCanonical matches a local all-pairs levenshtein reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // short alphabet + fixed length band forces dense 1-edit
    // neighborhoods; the local reference is brute-force all-pairs
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val genWords = Gen.listOfN(14,
      Gen.chooseNum(4, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b")).map(_.mkString)))
    val prop = Prop.forAll(genWords) { ws =>
      val df = Seq(Tuple1(ws.mkString(" "))).toDF("text")
      val got = graft.dedup.Dedup.typoCanonical(df, "text", minLen = 4)
        .collect().map(r => r.getString(0) -> r.getString(2)).toMap
      val freq = ws.groupMapReduce(identity)(_ => 1L)(_ + _)
      val expect = freq.keys.map { w =>
        val cands = freq.keys.filter(c => lev(w, c) <= 1)
        w -> cands.minBy(c => (-freq(c), c))
      }.toMap
      got == expect
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop).passed)
  }

  test("hyperplane LSH signature is deterministic across evaluations") {
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(16)(d => math.cos(i + d * 0.31).toFloat))).toDF("id", "v")
    val a = vecs.select(VectorFunctions.hyperplaneLsh(col("v"), 16)).as[Long].collect()
    val b = vecs.repartition(7).select(VectorFunctions.hyperplaneLsh(col("v"), 16))
      .as[Long].collect()
    assert(a.sorted.toSeq === b.sorted.toSeq)
  }
}
