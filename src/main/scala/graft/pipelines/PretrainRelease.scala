package graft.pipelines

import graft.curation.Curate
import graft.text.Text
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** PRETRAINING-RELEASE end-to-end composition — the EXPORT-side
  * analogue of [[CorpusIngest]]'s admission chain and the last
  * pipeline a training-data release actually runs: curation floor →
  * exact dedup → benchmark decontamination → temperature mixture →
  * token-shard export with doc-span sidecar and a VERIFIED manifest.
  * Each stage is an already-oracle-gated primitive (q100's quality/
  * dedup/decontam gates, q165's α-temperature copies, q219/q225's
  * shard export); this job chains them so the whole release is ONE
  * hash-gated query (q232) whose oracle replays every stage's CTE
  * text verbatim.
  *
  * Scale shape — the reason this is not just `ingest` piped into
  * `pack`: the GATES never shuffle document text. Every admission
  * decision rides map-side-reduced columns:
  *
  *  1. quality floor — map-only token-count flag;
  *  2. exact dedup — min-id window over (doc_id, 16-byte
  *     fingerprint); the exchange moves ids + digests, never text;
  *  3. decontamination — shingles explode map-side from the scan and
  *     meet the broadcast benchmark shingle set; only HIT doc ids
  *     reach an exchange (contamination is per-doc independent, so
  *     evaluating it beside the dedup window — rather than after it —
  *     yields the identical flags, the [[CorpusIngest.rejectionReasons]]
  *     argument);
  *  4. temperature mixture — per-group histogram (bounded driver
  *     state, [[Curate.temperatureCopies]]) realized as hash-Bernoulli
  *     copy counts on ids alone.
  *
  * Document text then shuffles exactly TWICE for the whole release:
  * once when the admitted (doc_id, copy_no) list joins back to the
  * corpus text, and once inside [[graft.io.TokenShards.pack]]'s
  * offsets join; the token stream shuffles once onto shard ids. A
  * contiguous deterministic repack cannot move less.
  *
  * Release identity: copy `c` of doc `d` packs as
  * `release_id = d·copyCap + (c−1)`, so copies of a doc are adjacent
  * in the stream and the global order replays as plain integer order
  * in the oracle. `copyCap` is a CHECKED bound (raise_error), not an
  * assumption — a mixture weight that produced more copies than the
  * encoding can hold fails the release loudly.
  */
object PretrainRelease {

  /** The CLEAN set — floor → min-id dedup → decontamination — as
    * `(doc_id, lang, fingerprint)`: ids, the group, one digest; no
    * text column anywhere in the plan. The fingerprint rides along so
    * an incremental drop ([[releaseDeltaShards]]) can anti-join
    * against what was already shipped without recomputing it. */
  def cleanDocs(docs: DataFrame, bench: DataFrame, minTokens: Int,
                ngram: Int = 3, idCol: String = "doc_id",
                textCol: String = "text",
                groupCol: String = "lang"): DataFrame =
    dedupCanonical(docs, minTokens, idCol, textCol, groupCol)
      .join(contamIds(docs, bench, minTokens, ngram, idCol, textCol),
        Seq("doc_id"), "left_anti")

  /** The floor + min-id-dedup stage of [[cleanDocs]] as
    * `(doc_id, lang, fingerprint)` — factored out so [[releaseFunnel]]
    * counts it WITHOUT re-running the fingerprint window a second time
    * beside the clean set. */
  private def dedupCanonical(docs: DataFrame, minTokens: Int,
                             idCol: String, textCol: String,
                             groupCol: String): DataFrame = {
    require(minTokens > 0, s"minTokens must be positive, got $minTokens")
    // gates ride map-side-reduced columns — ids, flags, one digest
    val gated = docs.select(
      col(idCol).cast("long").as("doc_id"), col(groupCol).as("lang"),
      Text.fingerprint(col(textCol)).as("fingerprint"),
      (Text.tokenCount(col(textCol)) >= minTokens).as("__q"))
    gated.where(col("__q"))
      .withColumn("__canon", min(col("doc_id")).over(Window.partitionBy("fingerprint")))
      .where(col("doc_id") === col("__canon"))
      .select(col("doc_id"), col("lang"), col("fingerprint"))
  }

  /** The decontamination ids of [[cleanDocs]] — per-doc independent:
    * same flags whether evaluated on quality survivors or dedup
    * survivors; ids-only output. */
  private def contamIds(docs: DataFrame, bench: DataFrame, minTokens: Int,
                        ngram: Int, idCol: String,
                        textCol: String): DataFrame =
    Curate.contamination(
        docs.where(Text.tokenCount(col(textCol)) >= minTokens),
        bench, ngram, idCol, textCol)
      .select(col(idCol).cast("long").as("doc_id"))

  /** Run `body` over the PERSISTED clean set: the mixture's eager
    * histogram and the copy-list materialization each plan the clean
    * set, so an unpersisted chain evaluates the gate cascade
    * (fingerprint window + shingle decontam) once PER consumer —
    * measured as two full chain runs per release. Persisted state is
    * (id, lang, digest) rows — ~24 bytes/doc, disk-spillable, never
    * text. */
  private def withClean[A](docs: DataFrame, bench: DataFrame,
                           minTokens: Int, ngram: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           groupCol: String = "lang",
                           eager: Boolean = false)
                          (body: DataFrame => A): A = {
    val clean = cleanDocs(docs, bench, minTokens, ngram, idCol, textCol,
        groupCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager=false (r22): the persist fills under the FIRST consumer's
    // job (the mixture's histogram collect), so the separate count()
    // job is pure overhead on the sequential callers. The delta
    // release passes eager=true — it forks a second driver thread off
    // the clean set and must materialize before the fork.
    try { if (eager) clean.count(); body(clean) }
    finally { clean.unpersist(false); () }
  }

  /** The admitted (doc_id, copy_no) list — the gates and the mixture,
    * ids only, NO text column anywhere in the plan. This is the
    * subtree worth materializing: [[graft.io.TokenShards.pack]]'s
    * two-pass prefix sum plans its input twice, and a persisted copy
    * list (16 bytes/row) turns that into "the corpus text scans
    * twice" (the q219 shape, unavoidable for a global repack) instead
    * of "the whole gate chain runs twice". */
  def admittedCopies(docs: DataFrame, bench: DataFrame, minTokens: Int,
                     alphaQuarters: Int, ngram: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text",
                     groupCol: String = "lang"): DataFrame =
    Curate.temperatureCopies(
        cleanDocs(docs, bench, minTokens, ngram, idCol, textCol, groupCol)
          .select(col("doc_id"), col("lang").as(groupCol)),
        alphaQuarters, groupCol = groupCol, idCol = "doc_id")
      .select(col("doc_id"), col("copy_no"))

  /** Join an admitted copy list back to corpus text as the release
    * stream `(release_id, text)` — the ONE text-bearing join of the
    * chain; copy_no is bound-checked into the encoding. */
  private def joinText(copies: DataFrame, docs: DataFrame, copyCap: Int,
                       idCol: String, textCol: String): DataFrame = {
    require(copyCap > 0, s"copyCap must be positive, got $copyCap")
    val checkedCopy = when(col("copy_no") > copyCap,
      raise_error(concat(
        lit(s"pretrain release: copy_no exceeds copyCap=$copyCap for doc "),
        col("doc_id").cast("string"))).cast("int"))
      .otherwise(col("copy_no"))
    copies
      .join(docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text")), "doc_id")
      .select(
        (col("doc_id") * copyCap + checkedCopy - 1).as("release_id"),
        col("__text").as("text"))
  }

  /** The admitted release stream: one row per (doc, copy),
    * `(release_id, text)`, release_id = doc_id·copyCap + copy_no−1.
    * `docs` is the candidate corpus (id, text, group), `bench` the
    * decontamination benchmark (idCol, textCol). Callers that feed
    * [[graft.io.TokenShards.pack]] should prefer [[releaseShards]] /
    * [[releaseDocSpans]], which persist the copy list across pack's
    * two passes. */
  def releaseDocs(docs: DataFrame, bench: DataFrame, minTokens: Int,
                  alphaQuarters: Int, ngram: Int = 3, copyCap: Int = 16,
                  idCol: String = "doc_id", textCol: String = "text",
                  groupCol: String = "lang"): DataFrame =
    joinText(
      admittedCopies(docs, bench, minTokens, alphaQuarters, ngram,
        idCol, textCol, groupCol),
      docs, copyCap, idCol, textCol)

  /** Run `body` with a (doc_id, copy_no) list persisted (and always
    * unpersisted after): pack's two passes then share the gate
    * chain's one evaluation instead of re-running dedup/decontam/
    * mixture per pass. The persisted state is O(release docs) ids —
    * 16 bytes a row, disk-spillable — never text. */
  private def withPersisted[A](copies0: DataFrame, docs: DataFrame,
                               copyCap: Int)(body: DataFrame => A): A = {
    val copies = copies0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // no eager count (r22): pack's first pass (the materialized
      // costs frame) fills the persist; the second pass reuses it —
      // the separate count() job was pure overhead on a sequential
      // driver
      body(joinText(copies, docs, copyCap, "doc_id", "text"))
    } finally { copies.unpersist(false); () }
  }

  /** Pack a release stream, WRITE it under `path` with every shard id
    * offset by `shardOffset` (0 for an initial release; the prior
    * drop's shard count for an incremental one — new drops append new
    * FILES, they never rewrite shipped bytes), re-read, and gate the
    * bytes against the manifest. Returns (gated stats, manifest) —
    * the manifest is a LOCAL DataFrame, so follow-up bookkeeping
    * (e.g. the next drop's shard offset) never re-lists the files. */
  private def packWriteVerify(rel: DataFrame, path: String, vocab: Int,
                              seqLen: Int, seqsPerShard: Int, nBuckets: Int,
                              shardOffset: Long): (DataFrame, DataFrame) = {
    val packed = graft.io.TokenShards.packChunks(rel, "release_id", "text",
        vocab, seqLen, seqsPerShard, nBuckets)
      .withColumn("shard_id", col("shard_id") + lit(shardOffset))
    val manifest = graft.io.TokenShards.write(packed, path)
    (graft.io.TokenShards.verifyManifest(
      graft.io.TokenShards.readStats(rel.sparkSession, path), manifest),
      manifest)
  }

  /** Run the whole release: gate, mix, pack, WRITE shards under
    * `path`, re-read the bytes, and GATE the re-read against the
    * writer's manifest ([[graft.io.TokenShards.verifyManifest]] —
    * divergence is an error, not a wrong answer). Returns the
    * shard-level stats of the bytes actually on disk. */
  def releaseShards(docs: DataFrame, bench: DataFrame, path: String,
                    minTokens: Int, alphaQuarters: Int, vocab: Int,
                    seqLen: Int, seqsPerShard: Int, ngram: Int = 3,
                    copyCap: Int = 16, nBuckets: Int = 32): DataFrame =
    // the clean set persists across the mixture histogram and the
    // copy-list materialization (the releaseDeltaShards discipline):
    // unpersisted, the gate chain evaluated once per consumer
    withClean(docs, bench, minTokens, ngram) { clean =>
      val copies = Curate.temperatureCopies(
          clean.select(col("doc_id"), col("lang")),
          alphaQuarters, groupCol = "lang", idCol = "doc_id")
        .select(col("doc_id"), col("copy_no"))
      withPersisted(copies, docs, copyCap) { rel =>
        packWriteVerify(rel, path, vocab, seqLen, seqsPerShard, nBuckets,
          shardOffset = 0L)._1
      }
    }

  /** RELEASE DATA CARD — the per-group accounting a release ships in
    * its model card: documents admitted, training copies, stream
    * tokens (EOS terminators included, matching what the shards
    * actually encode), and each group's token share in parts per
    * million. Token costs are computed map-side at the scan; the
    * admitted-copies join and the group aggregate move ids + ints
    * only, and the cross-group total is a window over the (bounded)
    * group rows. */
  def releaseDataCard(docs: DataFrame, bench: DataFrame, minTokens: Int,
                      alphaQuarters: Int, ngram: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text",
                      groupCol: String = "lang"): DataFrame =
    // clean set persisted across the mixture histogram and the card
    // aggregate (the releaseShards discipline — round 21): unpersisted,
    // the gate cascade evaluated once per consumer. The card is
    // returned as a LOCAL frame (bounded by the group count, the
    // releaseFunnel convention) so the persist scope can close here.
    withClean(docs, bench, minTokens, ngram, idCol, textCol, groupCol) {
      clean =>
      val copies = Curate.temperatureCopies(
          clean.select(col("doc_id"), col("lang")),
          alphaQuarters, groupCol = "lang", idCol = "doc_id")
        .select(col("doc_id"), col("copy_no"))
      val costs = docs.select(
        col(idCol).cast("long").as("doc_id"),
        col(groupCol).as("lang"),
        (Text.tokenCount(col(textCol)) + 1).cast("long").as("__cost"))
      val card = copies.join(costs, "doc_id")
        .groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_copies"),
          sum(col("__cost")).as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_copies"),
          col("n_tokens"),
          floor(col("n_tokens").cast("double") * lit(1000000.0) /
              sum(col("n_tokens")).over(Window.partitionBy()).cast("double")
            + lit(0.5)).cast("long").as("token_share_ppm"))
      val local = card.collect()
      docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(local: _*), card.schema)
    }

  /** INCREMENTAL RELEASE DROP — the production shape for "a new crawl
    * landed after the release shipped": the initial release writes
    * shards 0..k−1 under `pathA`; the delta batch runs the SAME
    * admission gates (floor, within-batch min-id dedup, anti-join
    * against the RELEASED fingerprints, benchmark decontamination)
    * and its survivors pack into NEW files under `pathB` with shard
    * ids continuing after k — shipped bytes are never rewritten, and
    * each drop keeps full windows only (per-drop packing: stitching
    * the delta onto the prior drop's dropped tail would rewrite a
    * shipped shard). The delta ships one copy per doc — the mixture
    * is a property of the initial release; re-weighting happens at
    * training time, not by re-exporting. Returns both drops' verified
    * stats with a `drop_no` column.
    *
    * Failure path: drop A's byte verify runs on a second thread and is
    * awaited only after drop B is written, so a drop-A verify failure
    * throws with drop B's shards already under `pathB`. */
  def releaseDeltaShards(corpus: DataFrame, batch: DataFrame,
                         bench: DataFrame, pathA: String, pathB: String,
                         minTokens: Int, alphaQuarters: Int, vocab: Int,
                         seqLen: Int, seqsPerShard: Int, ngram: Int = 3,
                         copyCap: Int = 16, nBuckets: Int = 32): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // the corpus gate chain is needed by BOTH the initial release (its
    // mixture) and the delta (its released-fingerprint anti-join) —
    // persist the (id, lang, digest) rows so it evaluates once;
    // eager: the delta admission forks a second driver thread off it
    withClean(corpus, bench, minTokens, ngram, eager = true) { cleanA =>
      val copiesA = Curate.temperatureCopies(
          cleanA.select(col("doc_id"), col("lang")),
          alphaQuarters, groupCol = "lang", idCol = "doc_id")
        .select(col("doc_id"), col("copy_no"))

      // delta admission: the corpus side contributes 16-byte RELEASED
      // fingerprints, never text. It depends only on the PERSISTED
      // cleanA and the batch scans — not on drop A's pack/write — so
      // it runs on a second driver thread and its jobs back-fill drop
      // A's stage tails (guide §2.6, r22). The handoff is a
      // materialized value (stable), so downstream plans are
      // independent of thread timing; the admitted set itself is
      // deterministic either way.
      val releasedFp = cleanA.select(col("fingerprint")).distinct()
      val gatedB = batch.select(
        col("doc_id").cast("long").as("doc_id"),
        Text.fingerprint(col("text")).as("fingerprint"),
        (Text.tokenCount(col("text")) >= minTokens).as("__q"))
      val dedupB = gatedB.where(col("__q"))
        .withColumn("__canon",
          min(col("doc_id")).over(Window.partitionBy("fingerprint")))
        .where(col("doc_id") === col("__canon"))
      val freshB = dedupB.join(releasedFp, Seq("fingerprint"), "left_anti")
      val contamB = Curate.contamination(
          batch.where(Text.tokenCount(col("text")) >= minTokens),
          bench, ngram)
        .select(col("doc_id").cast("long").as("doc_id"))
      val cleanBF = Future(graft.core.Materialize.stable(
        freshB.join(contamB, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit(1).as("copy_no"))))

      // drop A: pack + write now; the byte-verify re-read gate needs
      // only the written files + the LOCAL manifest, so it too runs on
      // a thread, overlapped with drop B's admission/pack below. The
      // gated stats are identical to the sequential form's.
      val (manifestA, statsAF) = withPersisted(copiesA, corpus, copyCap) {
        rel =>
          val packed = graft.io.TokenShards.packChunks(rel, "release_id",
            "text", vocab, seqLen, seqsPerShard, nBuckets)
          val m = graft.io.TokenShards.write(packed, pathA)
          (m, Future(graft.io.TokenShards.verifyManifest(
            graft.io.TokenShards.readStats(corpus.sparkSession, pathA), m)))
      }
      // offset from the LOCAL manifest rows — never re-lists shipped
      // files, and (the manifest being a LocalRelation) never launches
      // a Spark job for one scalar either
      val shardIds = manifestA.select(col("shard_id")).collect()
      val offset = if (shardIds.isEmpty) 0L
        else shardIds.map(_.getLong(0)).max + 1L

      val cleanB = Await.result(cleanBF, Duration.Inf)
      val statsB = withPersisted(cleanB, batch, copyCap) { rel =>
        packWriteVerify(rel, pathB, vocab, seqLen, seqsPerShard, nBuckets,
          shardOffset = offset)._1
      }
      val statsA = Await.result(statsAF, Duration.Inf)
      statsA.withColumn("drop_no", lit(0))
        .unionByName(statsB.withColumn("drop_no", lit(1)))
        .select(col("drop_no"), col("shard_id"), col("n_tokens"),
          col("token_sum"), col("poly_mod"))
    }
  }

  /** RELEASE FUNNEL — the per-stage survivor counts of the gate chain
    * (candidates → quality floor → dedup canonical → decontaminated →
    * training copies), the release's one-row audit header. Every
    * count is a distributed ids-only aggregate (candidates and the
    * quality flag share one scan; the clean set is persisted so the
    * copies count reuses it); only five scalars reach the driver. */
  def releaseFunnel(docs: DataFrame, bench: DataFrame, minTokens: Int,
                    alphaQuarters: Int, ngram: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qOk = Text.tokenCount(col("text")) >= minTokens
    val hdr = docs.agg(count(lit(1)).as("c"),
      count(when(qOk, lit(1))).as("q")).head()
    val (nCand, nQual) = (hdr.getLong(0), hdr.getLong(1))
    // the dedup-canonical stage persists so the dedup count and the
    // clean set share ONE fingerprint-window evaluation (previously
    // the funnel ran the window twice: once for n_dedup, once inside
    // cleanDocs)
    val dedup = dedupCanonical(docs, minTokens, "doc_id", "text", "lang")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDedup = dedup.count()
      val clean = dedup
        .join(contamIds(docs, bench, minTokens, ngram, "doc_id", "text"),
          Seq("doc_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nClean = clean.count()
        val nCopies = Curate.temperatureCopies(
          clean.select(col("doc_id"), col("lang")),
          alphaQuarters, groupCol = "lang", idCol = "doc_id").count()
        Seq((nCand, nQual, nDedup, nClean, nCopies))
          .toDF("n_candidates", "n_quality", "n_dedup", "n_clean", "n_copies")
      } finally { clean.unpersist(false); () }
    } finally { dedup.unpersist(false); () }
  }

  /** TRAINING-ORDER MANIFEST — the per-epoch consumption order a
    * loader of the released shards follows: every released SEQUENCE
    * (0..S−1, S = the release stream's complete windows) gets a
    * deterministic shuffled global position per epoch
    * ([[Curate.epochPositions]]' two-pass order — range-partitioned
    * md5 sort, never a single-partition window). S comes from the
    * ids-only cost sum (one bounded driver scalar); the sequence table
    * is a parallel range, so the manifest is O(S) rows with no text
    * anywhere in the plan. */
  def releaseEpochOrder(docs: DataFrame, bench: DataFrame, minTokens: Int,
                        alphaQuarters: Int, seqLen: Int, epochs: Int,
                        ngram: Int = 3, nPartitions: Int = 32): DataFrame = {
    require(seqLen > 0 && epochs > 0,
      s"seqLen/epochs must be positive, got $seqLen/$epochs")
    val spark = docs.sparkSession
    // the gate chain feeds only the `total` scalar, but it is planned
    // TWICE without a persist (the mixture's eager histogram + the
    // cost-sum action) — persist the clean set across both (round 21,
    // the releaseShards discipline). The returned manifest plan is a
    // parallel range off the scalar, independent of the persist scope.
    val total = withClean(docs, bench, minTokens, ngram) { clean =>
      val copies = Curate.temperatureCopies(
          clean.select(col("doc_id"), col("lang")),
          alphaQuarters, groupCol = "lang", idCol = "doc_id")
        .select(col("doc_id"), col("copy_no"))
      val costs = docs.select(col("doc_id").cast("long").as("doc_id"),
        (Text.tokenCount(col("text")) + 1).cast("long").as("__cost"))
      copies.join(costs, "doc_id")
        .agg(coalesce(sum(col("__cost")), lit(0L))).head().getLong(0)
    }
    val seqs = spark.range(total / seqLen).select(col("id").as("seq_id"))
    (0 until epochs).map { e =>
      Curate.epochPositions(seqs, e.toLong, nPartitions, idCol = "seq_id")
        .select(lit(e).as("epoch"), col("seq_id"), col("shuffle_key"),
          col("pos"))
    }.reduce(_ unionByName _)
  }

  /** The release's doc-span sidecar at the same release grain: one
    * row per (sequence, release doc) overlap — the masking metadata
    * shipped beside the shards ([[graft.io.TokenShards.docSpans]]). */
  def releaseDocSpans(docs: DataFrame, bench: DataFrame, minTokens: Int,
                      alphaQuarters: Int, vocab: Int, seqLen: Int,
                      ngram: Int = 3, copyCap: Int = 16,
                      nBuckets: Int = 32): DataFrame = {
    // LAZY plan (no write barrier to scope a persist against), so the
    // gate chain appears in both of docSpans' prefix-sum passes; a
    // release that wants shards AND spans should run them in one job
    // off one persisted copy list rather than call this beside
    // releaseShards. The spans themselves never explode the token
    // stream — O(docs + crossings) rows.
    val rel = releaseDocs(docs, bench, minTokens, alphaQuarters, ngram, copyCap)
    graft.io.TokenShards.docSpans(rel, "release_id", "text",
      vocab, seqLen, nBuckets)
  }

  /** [[releaseDocSpans]] MATERIALIZED under `path` (parquet) — the
    * path-scoped form a release actually ships (the sidecar is an
    * artifact next to the shards, like the q219 export itself). The
    * eager write is the barrier the copy-list persist can scope
    * against, so the gate chain evaluates ONCE across docSpans' two
    * prefix-sum passes — the lazy form re-plans the whole chain per
    * pass (its scaladoc's caveat; measured ~2× the gate cost at
    * sf0.1). Returns the written sidecar read back: identical rows,
    * gates-evaluated-once cost. */
  def releaseDocSpansTo(docs: DataFrame, bench: DataFrame, path: String,
                        minTokens: Int, alphaQuarters: Int, vocab: Int,
                        seqLen: Int, ngram: Int = 3, copyCap: Int = 16,
                        nBuckets: Int = 32): DataFrame =
    withClean(docs, bench, minTokens, ngram) { clean =>
      val copies = Curate.temperatureCopies(
          clean.select(col("doc_id"), col("lang")),
          alphaQuarters, groupCol = "lang", idCol = "doc_id")
        .select(col("doc_id"), col("copy_no"))
      withPersisted(copies, docs, copyCap) { rel =>
        graft.io.TokenShards.docSpans(rel, "release_id", "text",
            vocab, seqLen, nBuckets)
          .write.mode("overwrite").parquet(path)
        docs.sparkSession.read.parquet(path)
      }
    }
}
