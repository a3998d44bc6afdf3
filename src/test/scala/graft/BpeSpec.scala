package graft

import graft.text.Bpe
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Gates for the BPE merge induction (q154/q157 are oracle-gated
  * hash-exact since r13 — the driver unrolls the rounds in DuckDB):
  * a hand-computed fixture pins the exact merge sequence and
  * tie-breaks, a randomized property cross-checks the distributed
  * trainer against a local reference implementation, and a deep
  * (256-round) run proves the lineage-truncation path (localCheckpoint
  * every `checkpointEvery` rounds) changes nothing and keeps the plan
  * depth bounded. */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  /** Local reference: word-frequency BPE with (count desc, pair asc)
    * tie-break and greedy left-to-right merge application. */
  private def localBpe(words: Map[String, Long],
                       rounds: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      words.groupMapReduce(w => w._1.map(_.toString).toVector)(_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((r, l, rr, n))
        vocab = vocab.groupMapReduce { case (syms, _) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              b += l + rr; i += 2
            } else { b += syms(i); i += 1 }
          }
          b.result()
        }(_._2)(_ + _)
        r += 1
      }
    }
    out.toSeq
  }

  test("q154 merge sequence matches a hand-computed corpus with ties") {
    // "aaab" x3, "abab" x2: round 1 counts aa=6, ab=7, ba=2 -> merge
    // (a,b) n=7; round 2 on {[a,a,ab] x3, [ab,ab] x2} counts aa=3,
    // a-ab=3, ab-ab=2 -> the 3-3 tie breaks lexicographically to
    // (a,a); round 3 merges (aa,ab) n=3
    val docs = Seq((1L, "aaab aaab abab"), (2L, "aaab abab"))
      .toDF("doc_id", "text")
    val got = Bpe.merges(docs, "text", rounds = 3)
      .select(col("rank").cast("int"), col("left"), col("right"),
        col("merged"), col("pair_count").cast("long"))
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    val ref = localBpe(Map("aaab" -> 3L, "abab" -> 2L), 3)
    assert(got.map(r => (r._1, r._2, r._3, r._5)) === ref)
    assert(got.head._2 == "a" && got.head._3 == "b" && got.head._5 == 7L)
    assert(got.forall(r => r._4 == r._2 + r._3))
  }

  test("distributed merges match the local reference on random corpora") {
    val genWords = Gen.listOfN(8,
      Gen.chooseNum(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString)))
    val prop = Prop.forAll(genWords) { ws =>
      val docs = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
      val got = Bpe.merges(docs, "text", rounds = 4)
        .select(col("rank").cast("int"), col("left"), col("right"),
          col("pair_count").cast("long"))
        .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
      got == localBpe(ws.groupMapReduce(identity)(_ => 1L)(_ + _), 4)
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop).passed)
  }

  test("256-round run matches the local reference with bounded lineage") {
    // A corpus rich enough to survive 256 merges: 64 deterministic
    // pseudo-random words (LCG — no Random: repeatable) of length 24
    // over {a..f}, each word distinct so merged symbols keep forming
    // fresh pairs for hundreds of rounds. checkpointEvery = 16 forces
    // 16 truncations; the merge list must equal the no-checkpoint
    // local reference EXACTLY, proving truncation is semantics-free.
    var seed = 12345L
    def nextInt(n: Int): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % n).toInt + n) % n
    }
    val words = (1 to 64).map(_ =>
      (1 to 24).map(_ => ('a' + nextInt(6)).toChar).mkString)
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val got = Bpe.merges(docs, "text", rounds = 256, checkpointEvery = 16)
      .select(col("rank").cast("int"), col("left"), col("right"),
        col("pair_count").cast("long"))
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val ref = localBpe(words.groupMapReduce(identity)(_ => 1L)(_ + _), 256)
    assert(got.size === ref.size)
    assert(got === ref)
    // no leaked blocks: merges() frees the vocab cache AND the live
    // checkpoint on exit (16 truncations happened; at most one extra
    // vocab copy was ever live)
    assert(spark.sparkContext.getPersistentRDDs.size === persistedBefore)
  }

  test("segment applies the learned merges greedily per word") {
    val docs = Seq((1L, "abab aab")).toDF("doc_id", "text")
    val toks = Bpe.segment(docs, "text", "doc_id", Seq(("a", "b"), ("ab", "ab")))
      .select(col("token")).as[String].collect().toSeq
    assert(toks === Seq("abab", "a", "ab"))
  }

  test("fused segment kernel is identical to the per-merge fold on random input") {
    // random corpora AND random merge lists, including merges of merged
    // symbols, l==r runs ("aaa" greediness), and inapplicable ranks
    val genCase = for {
      ws <- Gen.listOfN(6, Gen.chooseNum(0, 8).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString)))
      ms <- Gen.listOfN(6, Gen.zip(
        Gen.oneOf("a", "b", "c", "ab", "bc", "aa", "abc"),
        Gen.oneOf("a", "b", "c", "ab", "bc", "aa", "abc")))
    } yield (ws.filter(_.nonEmpty), ms)
    val prop = Prop.forAll(genCase) { case (ws, ms) =>
      val docs = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
      val fused = Bpe.segment(docs, "text", "doc_id", ms)
        .select("token").as[String].collect().toSeq
      val fold = Bpe.segmentFold(docs, "text", "doc_id", ms)
        .select("token").as[String].collect().toSeq
      fused == fold
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop).passed)
  }

  test("segment plan stays bounded at production merge counts (1k merges)") {
    // the per-merge fold builds one projection per merge (a 32k-merge
    // tokenizer = a 32k-deep expression chain); the fused kernel must
    // keep the analyzed plan O(1) in the merge count — compare plan
    // text sizes at 16 vs 1024 merges and pin near-equality
    val merges1k = (1 to 1024).map(i => (s"s$i", s"t$i"))
    val docs = Seq((1L, "abc abd")).toDF("doc_id", "text")
    def planChars(ms: Seq[(String, String)]): Int =
      Bpe.segment(docs, "text", "doc_id", ms)
        .queryExecution.optimizedPlan.toString.length
    val small = planChars(merges1k.take(16))
    val big = planChars(merges1k)
    assert(big <= small + 256,
      s"plan grew with the merge count: $small chars @16 vs $big @1024")
    // and the kernel still evaluates (no codegen blowup): a word made
    // of mergeable pairs under a 1024-rank list segments correctly
    val deep = (("a", "b") +: (1 to 1023).map(i => (s"s$i", s"t$i")))
    val toks = Bpe.segment(Seq((1L, "abab ab")).toDF("doc_id", "text"),
        "text", "doc_id", deep)
      .select("token").as[String].collect().toSeq
    assert(toks === Seq("ab", "ab", "ab"))
  }

  test("q179 fertility invariants: chars conserved, merges only shrink tokens") {
    def stats(merges: Seq[(String, String)]): Map[String, (Long, Long, Long, Double)] = {
      val docs = Seq(("en", "stern winter storm"), ("en", "er in ow or"),
        ("de", "master merger")).toDF("lang", "text")
      val tstats = Bpe.segment(docs, "text", "lang", merges)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"), sum(length(col("token"))).as("n_chars"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      tstats.map { case (l, (nt, nc)) => l -> (nt, nc, nt, nc.toDouble / nt) }
    }
    val none = stats(Nil)
    val six = stats(graft.queries.CurationQueries.bpeFixedMerges)
    for (l <- Seq("en", "de")) {
      // no merges -> every char its own token
      assert(none(l)._1 === none(l)._2, s"$l: char-level fertility broken")
      // merges conserve characters and can only reduce token count
      assert(six(l)._2 === none(l)._2, s"$l: chars not conserved")
      assert(six(l)._1 < none(l)._1, s"$l: fixed merges should fire here")
    }
  }
}
