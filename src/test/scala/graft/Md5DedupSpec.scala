package graft

import graft.dedup.Dedup
import graft.streaming.DedupStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The md5-arithmetic near-dup family: local-reference properties for
  * the oracle-replayable operators — the sf0.01 DuckDB
  * gate (q38/q44/q45/q47/q105/q106) checks E2E hash-exactness, these
  * pin the pieces against independent driver-side implementations so a
  * formula drift fails HERE with a readable diff, not as an opaque
  * oracle hash mismatch. */
class Md5DedupSpec extends SparkSuite {
  import spark.implicits._

  // -- driver-side references (plain Scala, no Spark) ----------------

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refSlice(unit: String, i: Int): Long =
    java.lang.Long.parseLong(md5Hex(unit + ":" + (i / 4)).substring(8 * (i % 4), 8 * (i % 4) + 8), 16)

  /** Robust winnowing picks: rightmost minimum of every length-t
    * window over the k-gram md5 hashes; n < t grams = one window.
    * Grams index by CODEPOINT (the oracle's len()/substring()
    * semantics) — `cps` materializes the codepoint sequence so the
    * reference stays correct on supplementary-plane text too. */
  private def refWinnow(text: String, k: Int, t: Int): Set[(Long, Long)] = {
    val cps = text.codePoints().toArray
    if (cps.length < k) return Set.empty
    val n = cps.length - k + 1
    val h = (1 to n).map(p =>
      java.lang.Long.parseLong(
        md5Hex(new String(cps, p - 1, k)).substring(0, 8), 16))
    val picks = scala.collection.mutable.Set[Int]()
    if (n < t) {
      picks += h.lastIndexOf(h.min) + 1
    } else {
      for (w <- 1 to n - t + 1) {
        val window = h.slice(w - 1, w - 1 + t)
        picks += w + window.lastIndexOf(window.min)
      }
    }
    picks.map(p => (p.toLong, h(p - 1))).toSet
  }

  test("md5Slice matches the reference digest slices") {
    val got = Seq("ab").toDF("u")
      .select((0 until 8).map(i => Dedup.md5Slice(col("u"), i).as(s"h$i")): _*)
      .collect().head
    for (i <- 0 until 8)
      assert(got.getLong(i) === refSlice("ab", i), s"slice $i")
  }

  test("md5AgreeMin is exact-ceil integer arithmetic") {
    assert(Dedup.md5AgreeMin(16, 950000L) === 14L) // ceil(16 * 0.85)
    assert(Dedup.md5AgreeMin(16, 900000L) === 13L) // ceil(16 * 0.80) = 12.8 -> 13
    assert(Dedup.md5AgreeMin(8, 500000L) === 4L)   // ceil(8 * 0.4) = 3.2 -> 4
    assert(Dedup.md5AgreeMin(16, 1000000L) === 15L) // ceil(16 * 0.9) = 14.4 -> 15
  }

  test("winnowSelectedMd5 equals the reference pick set, incl. tie runs and boundaries") {
    // small alphabet forces REPEATED k-grams (equal hashes) so the
    // rightmost-tie rule is actually exercised; lengths straddle the
    // no-gram (len < k), single-gram (len = k) and single-window
    // (n < t) boundaries
    val rnd = new scala.util.Random(42)
    val docs = (1L to 40L).map { id =>
      val len = 2 + rnd.nextInt(60)
      (id, (0 until len).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString)
    } :+ (99L, "aaaaaaaaaaaaaaaaaaaaaaaa") // all-tie run
    val df = docs.toDF("doc_id", "text")
    for ((k, t) <- Seq((4, 3), (16, 8))) {
      val got = Dedup.winnowSelectedMd5(df, "text", "doc_id", k, t)
        .select("id", "p", "h").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      for ((id, text) <- docs) {
        val want = refWinnow(text, k, t)
        assert(got.getOrElse(id, Set.empty) === want, s"doc $id k=$k t=$t text=$text")
      }
    }
  }

  test("winnowSelectedMd5 indexes grams by codepoint, not UTF-16 unit") {
    // "𝕏" (U+1D54F) is one codepoint but two UTF-16 units: a
    // UTF-16-unit kernel would see one extra gram position and feed
    // split-surrogate bytes into md5, desyncing from the oracle's
    // codepoint-based len()/substring(). The reference here iterates
    // codepoints, matching DuckDB.
    val docs = Seq(
      (1L, "ab𝕏cd ef𝕏gh ij"),   // supplementary plane mid-text
      (2L, "😀😀😀😀😀😀a"),      // gram boundaries all on astral chars
      (3L, "plain ascii text")).toDF("doc_id", "text")
    for ((k, t) <- Seq((4, 3), (3, 2))) {
      val got = Dedup.winnowSelectedMd5(docs, "text", "doc_id", k, t)
        .select("id", "p", "h").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      for ((id, text) <- Seq((1L, "ab𝕏cd ef𝕏gh ij"),
          (2L, "😀😀😀😀😀😀a"), (3L, "plain ascii text"))) {
        assert(got.getOrElse(id, Set.empty) === refWinnow(text, k, t),
          s"doc $id k=$k t=$t")
      }
    }
  }

  test("minhashCanonicalIdsMd5 clusters exact and near copies to the min id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base),
      (2L, base),                                   // exact copy
      (3L, base + " omega"),                        // 20/21 shared -> J = 0.952
      (4L, "a wholly different corpus about parquet row groups and shuffle hash joins"),
      (5L, "")).toDF("doc_id", "text")
    val got = Dedup.minhashCanonicalIdsMd5(docs, "text", "doc_id",
        tauMicros = 900000L)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 1L)
    assert(got(2L) === 1L)
    // near copies share a band only probabilistically (2 bands x 8
    // minima; the LSH recall contract) — but IF a candidate forms it
    // must verify at tau=0.9 and land on the cluster minimum
    assert(Set(1L, 3L).contains(got(3L)), s"near copy mapped to ${got(3L)}")
    assert(got(4L) === 4L)
    assert(got(5L) === 5L, "token-less docs carry no signature and self-map")
  }

  test("simhash32Md5 matches a driver-side reference and is 0 for token-less docs") {
    def refSimhash(text: String): Long = {
      val toks = text.trim match {
        case "" => Seq.empty[String]
        case s => s.split("\\s+").toSeq
      }
      val hs = toks.map(u => java.lang.Long.parseLong(md5Hex(u).substring(0, 8), 16))
      (0 until 32).map { b =>
        val s = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (s > 0) 1L << b else 0L
      }.sum
    }
    val docs = Seq((1L, "the quick brown fox"), (2L, ""), (3L, "  "),
      (4L, "one one one two")).toDF("doc_id", "text")
    val got = Dedup.simhash32Md5(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === refSimhash("the quick brown fox"))
    assert(got(2L) === 0L)
    assert(got(3L) === 0L)
    assert(got(4L) === refSimhash("one one one two"), "multiset weighting")
  }

  test("simhashCanonicalIdsMd5 groups identical docs, leaves distinct docs alone") {
    val docs = Seq(
      (1L, "spark catalyst optimizer rules rewrite logical plans"),
      (2L, "spark catalyst optimizer rules rewrite logical plans"),
      (7L, "an unrelated sentence about winnowing fingerprints entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashCanonicalIdsMd5(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(7L) === 7L)
  }

  test("md5 family clusters planted exact copies to the min id") {
    // clusters are exact copies, so every signature agrees, LSH recall
    // is deterministic and the verify trivially passes: each form must
    // map the planted clusters to their minimum id
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base2 = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen"
    val docs = Seq(
      (1L, base1), (5L, base1), (9L, base1),  // 3-way chain -> min id 1
      (2L, base2), (7L, base2),               // 2-way -> min id 2
      (3L, "completely different text about parquet row groups and stats"),
      (4L, ""),                               // token-less: self-maps
      (8L, "another singleton document on shuffle hash join strategies"))
      .toDF("doc_id", "text")
    def cmap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col(df.columns.head), col("canonical_id"))
        .as[(Long, Long)].collect().toMap
    val mh = cmap(Dedup.minhashCanonicalIdsMd5(docs, "text", "doc_id",
      tauMicros = 900000L))
    assert(mh(1L) === 1L && mh(5L) === 1L && mh(9L) === 1L)
    assert(mh(2L) === 2L && mh(7L) === 2L && mh(4L) === 4L)
    val sh = cmap(Dedup.simhashCanonicalIdsMd5(docs, "text", "doc_id",
      maxHamming = 3))
    assert(sh(1L) === 1L && sh(5L) === 1L && sh(9L) === 1L)
    assert(sh(2L) === 2L && sh(7L) === 2L)
    val w = cmap(Dedup.winnowCanonicalIdsMd5(docs, "text", "doc_id",
      k = 16, t = 8, minShared = 2, maxDf = 50))
    assert(w(1L) === 1L && w(9L) === 1L && w(3L) === 3L)
  }

  test("md5Simhash32 kernel: NULL elements vote -1 on every bit (declarative parity)") {
    // The kernel documents byte-identity to the declarative bit-vote
    // aggregation it replaced, whose when(bit === 1, 1).otherwise(-1)
    // takes the otherwise branch on a NULL hash — so a null element
    // must vote -1 on all 32 bits, not be skipped. Text.tokens never
    // emits nulls, but the SQL-registered md5_simhash32 accepts
    // arbitrary arrays (round-18 advice).
    // ('alpha', NULL): every bit's vote is 1−1 = 0 or −1−1 = −2, never
    // positive, so the signature is 0 — while a null-SKIPPING kernel
    // would return simhash32('alpha') ≠ 0. (An even token count plus
    // one null cannot distinguish the two — the tie already breaks
    // low — hence the single-token fixture.)
    val got = spark.range(1).select(
      graft.functions.HashFunctions.md5Simhash32(
        array(lit("alpha"), lit(null).cast("string"))).as("s"),
      graft.functions.HashFunctions.md5Simhash32(
        array(lit("alpha"))).as("alone"))
      .head()
    assert(got.getLong(0) === 0L, "null element must vote -1 on every bit")
    assert(got.getLong(1) !== 0L, "fixture must distinguish skip from -1 vote")
  }

  test("32-bit md5 SimHash: no false-positive clusters on random distinct docs") {
    // The md5 SimHash buckets on 32 bits (the width one md5 slice
    // yields) with maxHamming = 3 — a narrow signature means a real
    // collision risk, so the precision trade is pinned: for
    // uniform random signatures P(Hamming(a,b) <= 3) =
    // (C(32,0)+C(32,1)+C(32,2)+C(32,3))/2^32 ≈ 1.3e-6, so 300 distinct
    // docs (~45k pairs) expect ~0.06 false merges. Real token-vote
    // signatures are not perfectly uniform, hence the generous bound:
    // at most 1% of docs may be falsely clustered; the seeded fixture
    // is deterministic, so today's observed count (expected 0) cannot
    // silently grow.
    val rnd = new scala.util.Random(1234)
    val vocab = (0 until 800).map(i => s"w${i}x${rnd.nextInt(1000)}")
    val docs = (1L to 300L).map { id =>
      (id, (0 until 12 + rnd.nextInt(20))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val merged = Dedup.simhashCanonicalIdsMd5(docs, "text", "doc_id",
        maxHamming = 3)
      .where(col("canonical_id") =!= col("doc_id")).count()
    assert(merged <= 3, s"false-positive simhash32 merges: $merged of 300")
  }

  test("bandVerdictsMd5 stream: state carries across micro-batches, copies resolve to min id") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("md5stream").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, base), (2L, "other text about column pruning and predicate pushdown"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f=1")
    Seq((10L, base), (11L, "fresh unrelated content on adaptive query execution"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f=2")
    val name = s"md5_sink_${System.nanoTime()}"
    val q = DedupStream.bandVerdictsMd5(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir),
        "text", "doc_id", tauMicros = 950000L)
      .toDF()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = DedupStream.resolveCanonical(spark.table(name))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 1L)
    assert(got(10L) === 1L, "later micro-batch copy matched via bucket state")
    assert(got(2L) === 2L && got(11L) === 11L)
  }
}
