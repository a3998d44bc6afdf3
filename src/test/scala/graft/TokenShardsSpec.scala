package graft

import graft.functions.ShardKernels
import graft.io.TokenShards
import org.apache.spark.sql.functions._

/** Token training-shard export (q219): stream construction (doc-id
  * order, EOS termination, tail drop), on-disk int32-LE layout, the
  * verification kernel, and writer idempotence. */
class TokenShardsSpec extends SparkSuite {
  import spark.implicits._

  private val Vocab = 4096

  /** Local reference of the md5-slice token id. */
  private def refId(token: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(token.getBytes("UTF-8"))
    val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    (h % Vocab).toInt
  }

  /** Local reference of the full packed stream: doc-id order, ids +
    * EOS per doc, partial tail sequence dropped. */
  private def refStream(docs: Seq[(Long, String)], seqLen: Int): Seq[Int] = {
    val all = docs.sortBy(_._1).flatMap { case (_, text) =>
      val toks = if (text.trim.isEmpty) Seq.empty
                 else text.trim.split("\\s+").toSeq
      toks.map(refId) :+ Vocab
    }
    all.take(all.size / seqLen * seqLen)
  }

  private val docs = Seq(
    (10L, "the quick brown fox jumps over the lazy dog"),
    (11L, ""),                        // empty text -> lone EOS
    (12L, "  padded   whitespace  "), // trim + \s+ split
    (13L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (14L, "one two three four five six seven eight nine ten eleven twelve"))

  test("pack reproduces the doc-id-ordered EOS-terminated stream with tail drop") {
    val df = docs.toDF("doc_id", "text")
    val packed = TokenShards.pack(df, "doc_id", "text",
      vocab = Vocab, seqLen = 8, seqsPerShard = 2, nBuckets = 3)
    val got = packed.orderBy("gpos").select("gpos", "tid")
      .as[(Long, Int)].collect()
    val want = refStream(docs, seqLen = 8)
    assert(got.map(_._1).toSeq === (0L until want.size.toLong))
    assert(got.map(_._2).toSeq === want)
    // shard/seq assignment is pure arithmetic on gpos
    val ids = packed.select("shard_id", "seq_id", "gpos")
      .as[(Long, Long, Long)].collect()
    ids.foreach { case (sh, sq, g) =>
      assert(sq === g / 8); assert(sh === sq / 2)
    }
  }

  test("packChunks posexploded is token-for-token pack's stream") {
    // the chunk grain is a pure re-batching: exploding each chunk's
    // ids at its gpos0 must reproduce pack()'s (shard_id, seq_id,
    // gpos, tid) rows exactly — the identity that lets write() ship
    // ~seqLen tokens per shuffle record while emitting the same bytes
    val df = docs.toDF("doc_id", "text")
    val perToken = TokenShards.pack(df, "doc_id", "text",
        vocab = Vocab, seqLen = 8, seqsPerShard = 2, nBuckets = 3)
      .select("shard_id", "seq_id", "gpos", "tid")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._3)
    val fromChunks = TokenShards.packChunks(df, "doc_id", "text",
        vocab = Vocab, seqLen = 8, seqsPerShard = 2, nBuckets = 3)
      .select(col("shard_id"), col("seq_id"), col("gpos0"),
        posexplode(col("ids")).as(Seq("pos", "tid")))
      .select(col("shard_id"), col("seq_id"),
        (col("gpos0") + col("pos")).as("gpos"), col("tid"))
      .as[(Long, Long, Long, Int)].collect().sortBy(_._3)
    assert(fromChunks.toSeq === perToken.toSeq)
  }

  /** Checks a written export against the reference stream: shard ids
    * dense from 0, byte lengths 4·n, and every shard's bytes decoding
    * to exactly its slice of the stream. Returns the full manifest. */
  private def assertMatchesReference(dir: String, manifestDf: org.apache.spark.sql.DataFrame,
                                     want: Seq[Int], seqLen: Int,
                                     seqsPerShard: Int): Array[(Long, Long, Long, Long, Long)] = {
    val manifestFull = manifestDf
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val manifest = manifestFull.map(m => (m._1, m._2, m._3))
    val seqs = want.size / seqLen
    val nShards = (seqs + seqsPerShard - 1) / seqsPerShard
    val perShard = seqLen * seqsPerShard
    assert(manifest.map(_._1).toSeq === (0L until nShards.toLong))
    assert(manifest.map(_._2).sum === want.size.toLong)
    manifest.foreach { case (_, n, bytes) => assert(bytes === n * 4) }
    manifest.foreach { case (sh, n, _) =>
      val f = java.nio.file.Paths.get(dir, f"shard-$sh%05d.bin")
      val bytes = java.nio.file.Files.readAllBytes(f)
      assert(bytes.length === n * 4)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val decoded = (0 until n.toInt).map(_ => bb.getInt())
      assert(decoded === want.slice(sh.toInt * perShard, sh.toInt * perShard + n.toInt))
    }
    manifestFull
  }

  test("write emits int32-LE shard files the kernel and manifest agree on") {
    val df = docs.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("tokshard").toString
    val packed = TokenShards.packChunks(df, "doc_id", "text",
      vocab = Vocab, seqLen = 8, seqsPerShard = 2, nBuckets = 3)
    val want = refStream(docs, seqLen = 8)
    val manifestFull = assertMatchesReference(s"$dir/shards",
      TokenShards.write(packed, s"$dir/shards"), want, seqLen = 8, seqsPerShard = 2)
    // readStats (the codegen kernel over binaryFile) agrees with a
    // direct recomputation from the reference stream
    val stats = TokenShards.readStats(spark, s"$dir/shards")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    stats.foreach { case (sh, n, sum, poly) =>
      val slice = want.slice(sh.toInt * 16, sh.toInt * 16 + n.toInt)
      assert(sum === slice.map(_.toLong).sum)
      val refPoly = slice.zipWithIndex.map { case (t, i) =>
        (i + 1L) * (t + 1L)
      }.sum % ShardKernels.PolyMod
      assert(poly === refPoly)
    }
    // the WRITE-TIME stream digests in the manifest equal the re-read
    // kernel's (same arithmetic folded into the writer loop)
    assert(manifestFull.map(m => (m._1, m._2, m._4, m._5)).toSeq ===
      stats.toSeq)
  }

  test("write unwraps the checksummed local FS: no shard .crc sidecars") {
    val root = new org.apache.hadoop.fs.Path("file:///")
    assert(root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[graft.io.LocalFs])
    val df = docs.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("tokshard-crc").resolve("shards")
    TokenShards.write(TokenShards.packChunks(df, "doc_id", "text",
      vocab = Vocab, seqLen = 8, seqsPerShard = 2, nBuckets = 3), dir.toString)
      .collect()
    val names = dir.toFile.list().toSeq
    assert(names.exists(_.endsWith(".bin")), names)
    assert(!names.exists(_.endsWith(".crc")), names)
  }

  test("write publishes shards from several tasks, bytes unchanged") {
    // a stream far under AQE's 1 MB minimum partition size: a by-column
    // repartition would be coalesced into one writer task
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assume(parts >= 2)
    val df = docs.toDF("doc_id", "text")
    val packed = TokenShards.packChunks(df, "doc_id", "text",
      vocab = Vocab, seqLen = 8, seqsPerShard = 1, nBuckets = 3)
    val want = refStream(docs, seqLen = 8)
    assert(want.size / 8 >= 2, "fixture must make at least two shards")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.scheduler.SparkListenerJobStart]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e)
    }
    val dir = java.nio.file.Files.createTempDirectory("tokshard5").toString
    spark.sparkContext.addSparkListener(listener)
    val manifest =
      try TokenShards.write(packed, s"$dir/shards")
      finally {
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    // the writer's job is the last one write() submits; its result
    // stage (the highest stage id of the job) is the shard-write stage
    val writeStage = jobs.toArray(Array.empty[org.apache.spark.scheduler.SparkListenerJobStart])
      .last.stageInfos.maxBy(_.stageId)
    assert(writeStage.numTasks === parts,
      s"write stage ran ${writeStage.numTasks} task(s): ${writeStage.name}")
    assertMatchesReference(s"$dir/shards", manifest, want, seqLen = 8, seqsPerShard = 1)
  }

  test("polynomial checksum is order-sensitive; plain sum is not") {
    val a = Array[Byte](1, 0, 0, 0, 2, 0, 0, 0) // tokens [1, 2]
    val b = Array[Byte](2, 0, 0, 0, 1, 0, 0, 0) // tokens [2, 1]
    val sa = ShardKernels.tokenShardStats(a)
    val sb = ShardKernels.tokenShardStats(b)
    assert(sa.getLong(1) === sb.getLong(1))   // same sum
    assert(sa.getLong(2) !== sb.getLong(2))   // different poly
  }

  test("kernel ignores trailing bytes past the last full int32") {
    val whole = Array[Byte](5, 0, 0, 0)
    val ragged = Array[Byte](5, 0, 0, 0, 9, 9)
    assert(ShardKernels.tokenShardStats(whole) ===
      ShardKernels.tokenShardStats(ragged))
    val empty = ShardKernels.tokenShardStats(Array.emptyByteArray)
    assert(empty.getLong(0) === 0L)
  }

  test("docSpans sidecar agrees with the packed token stream (q225)") {
    val df = docs.toDF("doc_id", "text")
    val spans = TokenShards.docSpans(df, "doc_id", "text",
      vocab = Vocab, seqLen = 8, nBuckets = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(s => (s._1, s._3))
    // reference: doc offsets from the same local stream definition
    val sorted = docs.sortBy(_._1)
    val costs = sorted.map { case (id, t) =>
      (id, (if (t.trim.isEmpty) 0 else t.trim.split("\\s+").length) + 1L)
    }
    val offsets = costs.scanLeft(0L)(_ + _._2).init
    val total = costs.map(_._2).sum
    val complete = total / 8
    val want = costs.zip(offsets).flatMap { case ((id, cost), off) =>
      (off / 8 to (off + cost - 1) / 8).filter(_ < complete).map { s =>
        (s, id, math.max(0L, off - s * 8),
          math.min(off + cost, (s + 1) * 8) - math.max(off, s * 8))
      }
    }.sortBy(s => (s._1, s._3))
    assert(spans.toSeq === want)
    // every complete sequence is fully covered: spans tile exactly
    spans.groupBy(_._1).foreach { case (_, ss) =>
      assert(ss.map(_._4).sum === 8L)
    }
  }

  test("verifyManifest passes a clean export and THROWS on missing or short shards (q219 gate)") {
    val dir = java.nio.file.Files.createTempDirectory("tokshard3").toString
    val packed = TokenShards.packChunks(docs.toDF("doc_id", "text"), "doc_id", "text",
      vocab = Vocab, seqLen = 8, seqsPerShard = 2, nBuckets = 3)
    val manifest = TokenShards.write(packed, s"$dir/shards")
    // clean export: the gate is a pass-through
    val gated = TokenShards.verifyManifest(
      TokenShards.readStats(spark, s"$dir/shards"), manifest)
    assert(gated.count() === manifest.count())

    // a shard file that never landed (the silent-rename-failure shape
    // the gate exists for) must be a loud error, not a wrong answer.
    // The local-FS CRC sidecar is dropped along with each tamper —
    // with it in place Hadoop's checksum layer already fails the read
    // loudly (also fine), but the gate is what this test pins.
    val victim = java.nio.file.Paths.get(s"$dir/shards", "shard-00000.bin")
    val crc = java.nio.file.Paths.get(s"$dir/shards", ".shard-00000.bin.crc")
    val bytes = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.delete(victim)
    java.nio.file.Files.deleteIfExists(crc)
    val missing = intercept[IllegalStateException] {
      TokenShards.verifyManifest(
        TokenShards.readStats(spark, s"$dir/shards"), manifest)
    }
    assert(missing.getMessage.contains("manifest divergence"))
    assert(missing.getMessage.contains("shard_id=0"))

    // a truncated shard (partial publish) must also fail the gate
    java.nio.file.Files.write(victim, bytes.dropRight(4))
    val short = intercept[IllegalStateException] {
      TokenShards.verifyManifest(
        TokenShards.readStats(spark, s"$dir/shards"), manifest)
    }
    assert(short.getMessage.contains("shard_id=0"))

    // an unmanifested extra file is equally a divergence
    java.nio.file.Files.write(victim, bytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/shards", "shard-00099.bin"),
      Array[Byte](7, 0, 0, 0))
    val extra = intercept[IllegalStateException] {
      TokenShards.verifyManifest(
        TokenShards.readStats(spark, s"$dir/shards"), manifest)
    }
    assert(extra.getMessage.contains("shard_id=99"))
  }

  test("verifyManifest THROWS when token VALUES diverge though counts match (write-time digests)") {
    val dir = java.nio.file.Files.createTempDirectory("tokshard4").toString
    val packed = TokenShards.packChunks(docs.toDF("doc_id", "text"), "doc_id", "text",
      vocab = Vocab, seqLen = 8, seqsPerShard = 2, nBuckets = 3)
    val manifest = TokenShards.write(packed, s"$dir/shards")
    val victim = java.nio.file.Paths.get(s"$dir/shards", "shard-00000.bin")
    // drop the local-FS CRC sidecar with each tamper, else Hadoop's
    // checksum layer fails the read before the gate can (the round-20
    // gotcha); the GATE is what this test pins
    val crc = java.nio.file.Paths.get(s"$dir/shards", ".shard-00000.bin.crc")
    val orig = java.nio.file.Files.readAllBytes(victim)

    // flip one token's value: count unchanged, sum diverges
    val flipped = orig.clone(); flipped(0) = (flipped(0) + 1).toByte
    java.nio.file.Files.write(victim, flipped)
    java.nio.file.Files.deleteIfExists(crc)
    val sumDiv = intercept[IllegalStateException] {
      TokenShards.verifyManifest(
        TokenShards.readStats(spark, s"$dir/shards"), manifest)
    }
    assert(sumDiv.getMessage.contains("token values diverge"))
    assert(sumDiv.getMessage.contains("shard_id=0"))

    // swap two adjacent tokens: count AND sum unchanged, poly diverges
    val swapped = orig.clone()
    for (i <- 0 until 4) {
      val t = swapped(i); swapped(i) = swapped(4 + i); swapped(4 + i) = t
    }
    assume(!java.util.Arrays.equals(swapped, orig))
    java.nio.file.Files.write(victim, swapped)
    java.nio.file.Files.deleteIfExists(crc)
    val polyDiv = intercept[IllegalStateException] {
      TokenShards.verifyManifest(
        TokenShards.readStats(spark, s"$dir/shards"), manifest)
    }
    assert(polyDiv.getMessage.contains("token values diverge"))

    // restore: the gate passes again and returns the stats LOCALLY
    // (one evaluation — the returned plan re-reads no bytes)
    java.nio.file.Files.write(victim, orig)
    java.nio.file.Files.deleteIfExists(crc)
    val gated = TokenShards.verifyManifest(
      TokenShards.readStats(spark, s"$dir/shards"), manifest)
    assert(gated.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(gated.count() === manifest.count())
  }

  test("md5_token_ids kernel is byte-identical to the declarative transform form") {
    val df = docs.toDF("doc_id", "text")
    val toks = graft.text.Text.tokens(col("text"))
    val declarative = df.select(col("doc_id"), concat(
      transform(toks, t => TokenShards.tokenId(t, Vocab).cast("int")),
      array(lit(Vocab))).as("ids"))
    val fused = df.select(col("doc_id"),
      graft.functions.HashFunctions.md5TokenIds(toks, Vocab).as("ids"))
    assert(fused.orderBy("doc_id").as[(Long, Seq[Int])].collect().toSeq ===
      declarative.orderBy("doc_id").as[(Long, Seq[Int])].collect().toSeq)
  }

  test("write fails loudly when the export root cannot be created") {
    // a regular FILE where the parent dir should be: every FS call in
    // the publish path is checked, so this dies loudly instead of
    // emitting a manifest for bytes that never landed (the test runs
    // as root, so permission fixtures don't bite — a file-as-parent
    // does)
    val f = java.nio.file.Files.createTempFile("tokshard-parent", "")
    val packed = TokenShards.packChunks(docs.toDF("doc_id", "text"), "doc_id", "text",
      vocab = Vocab, seqLen = 8, seqsPerShard = 2, nBuckets = 3)
    intercept[Exception] {
      TokenShards.write(packed, s"$f/shards")
    }
  }

  test("re-write over an existing export replaces it cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("tokshard2").toString
    val big = docs.toDF("doc_id", "text")
    val small = docs.take(2).toDF("doc_id", "text")
    TokenShards.write(TokenShards.packChunks(big, "doc_id", "text",
      Vocab, 8, 2, 3), s"$dir/shards")
    val m2 = TokenShards.write(TokenShards.packChunks(small, "doc_id", "text",
      Vocab, 8, 2, 3), s"$dir/shards")
      .select("shard_id", "n_tokens", "n_bytes")
      .as[(Long, Long, Long)].collect()
    // the second (smaller) export fully replaces the first: on-disk
    // shard set == second manifest, no stale shard files
    val files = new java.io.File(s"$dir/shards").listFiles()
      .filter(_.getName.endsWith(".bin")).map(_.getName).sorted
    assert(files.toSeq === m2.map(_._1).sorted.map(s => f"shard-$s%05d.bin").toSeq)
  }
}
