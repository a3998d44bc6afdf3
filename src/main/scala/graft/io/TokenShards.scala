package graft.io

import graft.core.Materialize.StableOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Fixed-length token-sequence training shards — the LAST MILE of an
  * LLM data pipeline: after curation/dedup/packing decisions, the
  * corpus leaves the engine as binary shards of back-to-back
  * `seqLen`-token sequences (int32 little-endian), the layout a
  * training loader memory-maps. The reference has no training-export
  * surface; this is a §2.11 scale-layer sink like
  * [[Jsonl]]/[[RawText]] are sources.
  *
  * The contract mirrors the classic GPT-style pretraining pack:
  * documents are laid end to end in a deterministic global order
  * (doc id), each terminated by one EOS token; the resulting token
  * stream is cut into consecutive `seqLen` sequences; the final
  * partial sequence is DROPPED (training wants full windows only);
  * `seqsPerShard` sequences make one shard file. Token ids are the
  * oracle-replayable md5-slice hash (`conv(substr(md5(token),1,8))
  * mod vocab`, the q40/q45 family's arithmetic) with `vocab` itself
  * as the EOS id, so every byte of every shard is independently
  * recomputable by another engine from the source table — which is
  * exactly what q219's DuckDB gate does.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - global positions come from the two-pass offsets pattern
  *    ([[graft.curation.Curate.packBudget]]'s): per-doc costs are
  *    cumulated WITHIN doc-id range buckets by a window, and only the
  *    per-bucket totals (`nBuckets` rows, bounded) ever reach the
  *    driver — no single-partition global window, no global sort;
  *  - the document TEXT shuffles exactly once (the offsets join back
  *    to the docs), and the token stream shuffles exactly once (the
  *    exchange onto shard ids before the writer) — a contiguous
  *    global repack cannot move less than that;
  *  - the writer streams int32s per partition through the Hadoop
  *    FileSystem API (iterator in, bytes out — constant memory per
  *    task however large a shard is), writing to an attempt-unique
  *    temp name and renaming, so a retried task republishes its
  *    shards instead of interleaving with a dead attempt's partial
  *    file.
  */
object TokenShards {

  /** Oracle-replayable token id: first 32 md5 bits mod `vocab`
    * (DuckDB: `CAST('0x' || substr(md5(t),1,8) AS BIGINT) % vocab`).
    * Non-negative by construction (the hash slice is unsigned). */
  def tokenId(token: Column, vocab: Int): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("long") % vocab

  /** The packed token stream: one row per token,
    * `(shard_id, seq_id, gpos, tid)`, EOS-terminated docs laid out in
    * doc-id order, partial tail sequence dropped. `nBuckets` bounds
    * the driver-side offsets collect. */
  /** The shared offsets stage: per-doc token-id arrays with their
    * global stream offsets, plus the complete-sequence count. Returns
    * (doc_id, ids, cost, doc_off) and completeSeqs — [[pack]] explodes
    * it to the token stream, [[docSpans]] reads it at DOC grain. */
  private def withOffsets(docs: DataFrame, idCol: String, textCol: String,
                          vocab: Int, seqLen: Int,
                          nBuckets: Int): (DataFrame, Long) = {
    val spark = docs.sparkSession
    import spark.implicits._

    // ids per doc: md5-slice token ids + one EOS (= vocab); an
    // empty-text doc is a lone EOS. Computed BEFORE the offsets join
    // so the window/join below move (doc_id, cost) pairs, not text.
    // The fused md5_token_ids kernel replaces the declarative
    // transform(toks, t => tokenId(t, vocab)) — ArrayTransform is
    // CodegenFallback, so that form ran INTERPRETED with a hex render
    // + re-parse per token (byte-identity spec-pinned, TokenShardsSpec)
    val withIds = docs.select(
      col(idCol).cast("long").as("doc_id"),
      graft.functions.HashFunctions.md5TokenIds(
        graft.text.Text.tokens(col(textCol)), vocab).as("ids"))
    // cost pass: len(ids) ≡ tokenCount + 1 by construction, so the
    // offsets pass counts PLAIN tokens — it never pays the per-token
    // md5 (the dominant kernel), which runs once, in the pack pass.
    // The (doc_id, cost) pairs are localCheckpointed (16 bytes/doc —
    // bounded like the per-bucket collect): the maxId aggregate, the
    // per-bucket totals and the docOff window each consume `costs`,
    // and local mode reuses no cross-branch exchanges, so the lazy
    // form re-ran the corpus scan + tokenize THREE times per pack
    // (guide §2.4: remove whole passes before tuning inside them).
    val costs = docs.select(col(idCol).cast("long").as("doc_id"),
        (graft.text.Text.tokenCount(col(textCol)) + 1).cast("long").as("cost"))
      .stable()

    // doc-id range buckets: pid is monotone in doc_id, so bucket-local
    // cumsums + per-bucket offsets reproduce the global doc-id-ordered
    // running sum. maxId is one bounded driver scalar.
    val maxId = Option(costs.agg(max("doc_id")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val block = math.max(1L, maxId / nBuckets + 1L)
    val bucketed = costs.withColumn("pid",
      expr(s"doc_id div ${block}L").cast("int"))
    val perBucket = bucketed.groupBy("pid")
      .agg(sum("cost").as("total"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val offs = perBucket.scanLeft((0, 0L)) {
      case ((_, acc), (pid, tot)) => (pid, acc + tot)
    }
    val pidOff = perBucket.map(_._1).zip(offs.map(_._2)).toMap
    val totalTokens = perBucket.map(_._2).sum
    val completeSeqs = totalTokens / seqLen
    val offDf = broadcast(pidOff.toSeq.toDF("pid", "pid_off"))

    val w = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val docOff = bucketed
      .join(offDf, "pid")
      .withColumn("doc_off",
        coalesce(sum(col("cost")).over(w), lit(0L)) + col("pid_off"))
      .select(col("doc_id"), col("doc_off"))

    val joined = withIds
      .join(docOff, "doc_id") // the one text-bearing shuffle
      .select(col("doc_id"), col("ids"),
        size(col("ids")).cast("long").as("cost"), col("doc_off"))
    (joined, completeSeqs)
  }

  /** Default shard size: with the classic seqLen 2048 this packs
    * 16384 sequences ≈ 128 MiB of int32s per shard, so a 100 TB
    * corpus is ~10⁶ shard files — file-listing territory for the
    * write-manifest collect and the read-side listing alike. Test
    * fixtures override it downward; production exports should not. */
  val DefaultSeqsPerShard: Int = 16384

  def pack(docs: DataFrame, idCol: String, textCol: String,
           vocab: Int, seqLen: Int,
           seqsPerShard: Int = DefaultSeqsPerShard,
           nBuckets: Int = 32): DataFrame = {
    require(vocab > 0 && seqLen > 0 && seqsPerShard > 0 && nBuckets > 0,
      s"vocab/seqLen/seqsPerShard/nBuckets must be positive, " +
        s"got $vocab/$seqLen/$seqsPerShard/$nBuckets")
    val (offset, completeSeqs) =
      withOffsets(docs, idCol, textCol, vocab, seqLen, nBuckets)
    offset
      .select(col("doc_off"), posexplode(col("ids")).as(Seq("pos", "tid")))
      .select((col("doc_off") + col("pos")).as("gpos"), col("tid"))
      .where(col("gpos") < completeSeqs * seqLen)
      .withColumn("seq_id", expr(s"gpos div ${seqLen}L"))
      .withColumn("shard_id", expr(s"seq_id div ${seqsPerShard}L"))
      .select(col("shard_id"), col("seq_id"), col("gpos"), col("tid"))
  }

  /** The packed stream at CHUNK grain — one row per (doc ×
    * overlapped complete sequence), `(shard_id, seq_id, gpos0, ids)`
    * with `ids` the doc's token-id slice laid into that sequence and
    * `gpos0` its first global position. Token-for-token identical to
    * [[pack]] under `posexplode` (spec-pinned); chunks never cross a
    * sequence (so never a shard), and within a shard the (gpos0)
    * order concatenates chunks into exactly [[pack]]'s stream.
    *
    * This is what [[write]] consumes (round 21): shipping ~seqLen
    * tokens per shuffle record instead of one drops the shard
    * exchange's record count (and the writer-side sort keys, and the
    * per-record ser/de) by ~seqLen× while moving the same bytes — at
    * a 100 TB export the token exchange IS the job, and shuffle cost
    * scales with records as well as bytes (guide §2.2/§2.3: many
    * small shuffle rows are the overhead; move the payload in large
    * units). [[pack]] stays the per-token stream for oracle twins and
    * aggregate consumers (map-side combined, never exchanged). */
  def packChunks(docs: DataFrame, idCol: String, textCol: String,
                 vocab: Int, seqLen: Int,
                 seqsPerShard: Int = DefaultSeqsPerShard,
                 nBuckets: Int = 32): DataFrame = {
    require(vocab > 0 && seqLen > 0 && seqsPerShard > 0 && nBuckets > 0,
      s"vocab/seqLen/seqsPerShard/nBuckets must be positive, " +
        s"got $vocab/$seqLen/$seqsPerShard/$nBuckets")
    val (offset, completeSeqs) =
      withOffsets(docs, idCol, textCol, vocab, seqLen, nBuckets)
    offset
      .select(col("doc_off"), col("cost"), col("ids"),
        explode(sequence(expr(s"doc_off div ${seqLen}L"),
          expr(s"(doc_off + cost - 1L) div ${seqLen}L"))).as("seq_id"))
      .where(col("seq_id") < completeSeqs)
      .select(
        expr(s"seq_id div ${seqsPerShard}L").as("shard_id"),
        col("seq_id"),
        greatest(col("doc_off"), col("seq_id") * seqLen).as("gpos0"),
        slice(col("ids"),
          (greatest(col("doc_off"), col("seq_id") * seqLen)
            - col("doc_off") + 1L).cast("int"),
          (least(col("doc_off") + col("cost"), (col("seq_id") + 1) * seqLen)
            - greatest(col("doc_off"), col("seq_id") * seqLen)).cast("int"))
          .as("ids"))
  }

  /** The DOC-BOUNDARY SIDECAR of a [[pack]]ed export — the masking
    * metadata a real training shard ships with: one row per
    * (sequence, document) overlap, `(seq_id, doc_id, start_off,
    * n_tokens)` with `start_off` the document's first position WITHIN
    * the sequence. A loader resets attention/position state at each
    * `start_off`, so packed sequences train without cross-document
    * attention. Computed at DOC grain straight from the offsets stage
    * (doc d covers global positions [doc_off, doc_off+cost); it
    * overlaps sequences doc_off/seqLen .. (doc_off+cost-1)/seqLen) —
    * a bounded integer `sequence` explode per doc, NEVER the token
    * stream; cost is O(docs + crossings), not O(tokens). */
  def docSpans(docs: DataFrame, idCol: String, textCol: String,
               vocab: Int, seqLen: Int, nBuckets: Int = 32): DataFrame = {
    require(vocab > 0 && seqLen > 0 && nBuckets > 0,
      s"vocab/seqLen/nBuckets must be positive, got $vocab/$seqLen/$nBuckets")
    val (offset, completeSeqs) =
      withOffsets(docs, idCol, textCol, vocab, seqLen, nBuckets)
    offset
      .select(col("doc_id"), col("doc_off"), col("cost"),
        explode(sequence(expr(s"doc_off div ${seqLen}L"),
          expr(s"(doc_off + cost - 1L) div ${seqLen}L"))).as("seq_id"))
      .where(col("seq_id") < completeSeqs)
      .select(col("seq_id"), col("doc_id"),
        greatest(lit(0L), col("doc_off") - col("seq_id") * seqLen)
          .as("start_off"),
        (least(col("doc_off") + col("cost"), (col("seq_id") + 1) * seqLen) -
          greatest(col("doc_off"), col("seq_id") * seqLen)).as("n_tokens"))
  }

  /** Write a [[packChunks]] stream (shard_id, seq_id, gpos0, ids) as
    * `shard-NNNNN.bin` int32-LE files under `path`; runs EAGERLY (the
    * files must exist before any [[readStats]] plan lists them) and
    * returns the manifest (shard_id, n_tokens, n_bytes, token_sum,
    * poly_mod) as a local DataFrame.
    *
    * Parallel publish: the shard exchange has an explicit partition
    * count, `spark.sql.shuffle.partitions`. AQE merges the partitions
    * of a plain by-column repartition; with the default
    * `coalescePartitions.parallelismFirst` its target partition size
    * never drops below `coalescePartitions.minPartitionSize` (1 MB),
    * so a chunk stream under 1 MB (q232's is ~840 KB) would run as ONE
    * task that creates, writes and renames every shard file in turn.
    * AQE leaves a counted repartition alone, so shards publish in
    * parallel; hash partitioning still puts each shard in exactly one
    * partition, so files and manifest do not depend on the count
    * (TokenShardsSpec pins both and the multi-task write stage).
    *
    * Chunk grain (round 21): the shard exchange previously moved one
    * row PER TOKEN through a typed-Dataset encoder (one boxed tuple a
    * token) and sorted the per-token rows; chunks carry the same
    * bytes in ~seqLen-token units, so the exchange's record count,
    * the sort's key count and the writer's deserialization all drop
    * ~seqLen×. The writer walks each chunk's array inline — the
    * on-disk bytes and the manifest digests are byte-for-byte the
    * per-token writer's (TokenShardsSpec pins both against the local
    * reference stream).
    *
    * Driver-state bound: the manifest collect is O(#shard files) —
    * the SAME order as the file listing the read side must do anyway,
    * so it adds no new scaling term; but it is the caller's job to
    * size shards like files, not rows. The default
    * `seqsPerShard` in a real export should put a shard around 10⁸
    * bytes (e.g. seqLen 2048 × seqsPerShard 16384 ≈ 128 MiB of
    * int32s), so a 100 TB corpus is ~10⁶ shard files — file-listing
    * territory, never a per-row driver structure.
    *
    * Publish is checked, not hopeful: `fs.rename`/`fs.delete` report
    * failure by RETURNING false on several FileSystem impls
    * (RawLocalFileSystem included) rather than throwing, so the
    * writer requires both — a failed publish is a loud task failure
    * (and thus a task retry), never a manifest entry for bytes that
    * never landed. */
  def write(chunks: DataFrame, path: String): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) require(fs.delete(root, true),
      s"failed to clear existing shard dir $root")
    require(fs.mkdirs(root), s"failed to create shard dir $root")
    // the driver session's hadoop conf (incl. spark.hadoop.* overrides
    // — object-store credentials/endpoints) rides a broadcast into the
    // writer tasks, matching every built-in Spark sink; a bare
    // `new Configuration()` would only see executor-classpath XML.
    val bconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val bc = spark.sparkContext.broadcast(bconf)

    // one exchange onto shard ids; in-task order is (shard, gpos0) and
    // chunks within a shard concatenate into exactly the token stream.
    // The explicit partition count keeps AQE from merging the write
    // into one task (see above). The writer runs over the physical
    // plan's InternalRows (toRdd) — no per-row encoder, and the
    // chunk's int array is read in place.
    val sorted = chunks
      .select(col("shard_id").cast("long"), col("gpos0").cast("long"),
        col("ids"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("gpos0"))
    val manifest = sorted.queryExecution.toRdd
      .mapPartitions { it =>
        // Unwrap a client-side ChecksumFileSystem (local FS): its
        // hidden per-shard .crc sidecar DOUBLES every create/rename/
        // delete — measured as the write job's dominant cost at test
        // shard sizes — and the manifest's token_sum/poly_mod gate in
        // [[verifyManifest]] already end-to-end-checks the re-read
        // BYTES, strictly stronger than the sidecar. HDFS/object-store
        // filesystems are not ChecksumFileSystems and are unaffected.
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(bc.value.value) match {
            case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
            case f => f
          }
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
        var cur = Long.MinValue
        var stream: java.io.DataOutputStream = null
        var tmp: org.apache.hadoop.fs.Path = null
        var n = 0L
        var sum = 0L
        var poly = 0L
        val buf = new Array[Byte](4)
        def close(): Unit = if (stream != null) {
          stream.close()
          // publish atomically: delete-then-rename makes a retried
          // task republish rather than append/interleave. Both calls
          // CHECKED — RawLocalFileSystem signals failure by returning
          // false, and an unpublished shard must fail the task, not
          // silently emit a manifest row for absent bytes.
          val fin = new org.apache.hadoop.fs.Path(path, f"shard-$cur%05d.bin")
          if (fs.exists(fin)) require(fs.delete(fin, false),
            s"failed to delete stale shard $fin before republish")
          require(fs.rename(tmp, fin),
            s"failed to publish shard $tmp -> $fin (fs.rename returned false)")
          out += ((cur, n, n * 4L, sum, poly))
          stream = null; n = 0L; sum = 0L; poly = 0L
        }
        it.foreach { row =>
          val shard = row.getLong(0)
          if (shard != cur) {
            close(); cur = shard
            tmp = new org.apache.hadoop.fs.Path(path,
              f".shard-$cur%05d.bin.$attempt%d.tmp")
            stream = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16))
          }
          val ids = row.getArray(2)
          var i = 0
          val m = ids.numElements()
          while (i < m) {
            val tid = ids.getInt(i)
            buf(0) = tid.toByte; buf(1) = (tid >>> 8).toByte
            buf(2) = (tid >>> 16).toByte; buf(3) = (tid >>> 24).toByte
            stream.write(buf)
            // write-time value digest, folded into the same loop at
            // zero cost: the EXACT [[graft.functions.ShardKernels]]
            // arithmetic over the stream as written, so
            // [[verifyManifest]] can gate token VALUES (not just
            // counts) against the re-read bytes
            sum += tid
            poly = (poly + (n + 1L) * (tid.toLong + 1L)) %
              graft.functions.ShardKernels.PolyMod
            n += 1L
            i += 1
          }
        }
        close()
        out.iterator
      }
      .collect()
    manifest.toSeq.toDF("shard_id", "n_tokens", "n_bytes",
      "token_sum", "poly_mod")
  }

  /** GATE a shard re-read against the writer's manifest: compare
    * [[readStats]] to the manifest on shard_id and THROW on ANY
    * divergence — a shard file missing on disk, an unmanifested extra
    * file, a token-count mismatch, a byte length that is not
    * 4·n_tokens, or (since the manifest carries the writer's stream
    * digests) a token-SUM or polynomial-checksum mismatch: bytes whose
    * VALUES differ from the stream the writer saw are a loud error
    * even when every count matches. This is what makes a bad write an
    * ERROR instead of a silently different answer.
    *
    * The stats scan is evaluated exactly ONCE (one collect, bounded by
    * the shard count — file-listing order, same as the manifest
    * itself) and the gated rows return as a LOCAL DataFrame: the
    * previous pass-through returned the lazy scan, so every downstream
    * action re-read EVERY shard byte a second time — at a 100 TB
    * export the re-read IS the corpus, so halving it is structural,
    * not cosmetic. */
  def verifyManifest(stats: DataFrame, manifest: DataFrame): DataFrame = {
    val spark = stats.sparkSession
    val read = stats.collect()
    val m = manifest
      .select(col("shard_id"), col("n_tokens"), col("n_bytes"),
        col("token_sum"), col("poly_mod"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val readIds = read.map(_.getLong(0)).toSet
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    read.sortBy(_.getLong(0)).foreach { r =>
      val (id, n, sum, poly) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      m.get(id) match {
        case None =>
          bad += s"shard_id=$id read_tokens=$n manifest_tokens=null (unmanifested file)"
        case Some((mn, mb, ms, mp)) =>
          if (n != mn || mb != n * 4)
            bad += s"shard_id=$id read_tokens=$n manifest_tokens=$mn manifest_bytes=$mb"
          else if (sum != ms || poly != mp)
            bad += s"shard_id=$id read_sum=$sum manifest_sum=$ms " +
              s"read_poly=$poly manifest_poly=$mp (token values diverge)"
      }
    }
    m.keys.toSeq.sorted.filterNot(readIds.contains).foreach { id =>
      bad += s"shard_id=$id read_tokens=null manifest_tokens=${m(id)._1} (missing file)"
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"token-shard manifest divergence on ${bad.length} shard(s): " +
        bad.take(8).mkString("; ") + (if (bad.length > 8) " ..." else ""))
    spark.createDataFrame(java.util.Arrays.asList(read: _*), stats.schema)
  }

  /** Re-read written shards and reduce each to its layout-proving
    * stats via the codegen'd [[graft.functions.ShardKernels]] pass:
    * token count, token sum, and the position-weighted polynomial
    * checksum (order-sensitive — a swapped pair of tokens changes it,
    * a re-ordered byte layout cannot hash-match the oracle). One
    * binaryFile scan, map-only; waveform-sized contents never reach a
    * shuffle, only the 3-long stat struct does. The shard files are
    * selected via `pathGlobFilter` over the DIRECTORY (not a glob in
    * the load path): a glob path makes `FileStreamSink.hasMetadata`
    * log a spurious full FileNotFoundException stack trace at WARN on
    * every successful read. */
  def readStats(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "shard-*.bin")
      .load(path)
      .select(
        regexp_extract(col("path"), "shard-(\\d+)\\.bin", 1)
          .cast("long").as("shard_id"),
        graft.functions.ShardFunctions.tokenShardStats(col("content")).as("st"))
      .select(col("shard_id"), col("st.n_tokens").as("n_tokens"),
        col("st.token_sum").as("token_sum"), col("st.poly_mod").as("poly_mod"))
}
