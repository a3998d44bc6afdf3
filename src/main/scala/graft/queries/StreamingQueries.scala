package graft
package queries

import graft.core.Materialize.StableOps
import graft.core.Tables
import graft.multimodal.Media
import graft.queries.Shared._
import graft.streaming.Events
import graft.text.Text
import org.apache.spark.sql.functions._

/** Streaming and media queries: the Structured Streaming twins of batch
  * operators (windows, sessions, dedup, decontamination, drift, ingest,
  * restart recovery, late data, token shards) and the multimodal
  * decoders (binary metadata, segments, raster and GIF decode, PCM
  * features and spectra). Each query is declared once, next to its
  * DuckDB oracle SQL. */
object StreamingQueries {

  lazy val all: Seq[Query] = Seq(

    // ---- Structured Streaming twin of q29: the same tumbling-window
    // aggregation executed as a streaming query over the events parquet
    // (memory sink, complete mode) — checked against the SAME DuckDB
    // oracle as the batch form, proving batch/stream parity ----
    Query("q32_events_hourly_stream", (s, dir) => {
      val stream = eventsStream(s, dir)
      val sink = "graft_q32_sink"
      Events.withStatePartitions(s, 8) {
        val q = Events.hourlyStats(stream)
          .writeStream.format("memory").queryName(sink).outputMode("complete").start()
        q.processAllAvailable()
        q.stop()
      }
      s.table(sink)
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"), col("sum_value"))
    }, Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- stateful streaming: mapGroupsWithState sessionization run as
    // a real streaming query, oracle-checked against the batch window
    // formulation (state = one (count, lastTs) pair per user) ----
    Query("q34_sessions_stateful_stream", (s, dir) => {
      val stream = eventsStream(s, dir)
      val sink = "graft_q34_sink"
      Events.withStatePartitions(s, 8) {
        val q = Events.sessionCountsStream(s, stream, gapMinutes = 30)
          .writeStream.format("memory").queryName(sink).outputMode("update").start()
        q.processAllAvailable()
        q.stop()
      }
      s.table(sink).select(col("user_id"), col("n_sessions"))
    }, Some(
      """SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions
        |FROM (
        |  SELECT user_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
        |           WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1
        |           ELSE 0 END AS is_new
        |    FROM events))
        |GROUP BY user_id""".stripMargin)),

    // ---- streaming exact-duplicate suppression twin: state bounded by
    // key-cardinality x watermark horizon (dropDuplicatesWithinWatermark);
    // emits only the key columns so the result is survivor-independent
    // and hash-checkable against DISTINCT in the oracle ----
    Query("q37_events_dedup_stream", (s, dir) => {
      val stream = eventsStream(s, dir)
      val sink = "graft_q37_sink"
      Events.withStatePartitions(s, 8) {
        val q = graft.streaming.Events
          .distinctKeysStream(stream, Seq("user_id", "event_type"))
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.table(sink)
    }, Some(
      """SELECT DISTINCT user_id, event_type FROM events""")),

    // ---- streaming near-dup dedup (DedupStream, md5-arithmetic since
    // round 17 — ORACLE-GATED): real Structured Streaming replay of the
    // documents table through the per-bucket signature state, then the
    // cross-band min-canonical resolve. The md5-slice signatures +
    // integer agreement floor make the arrival-order state machine
    // SQL-replayable: with the corpus in one micro-batch (id-sorted per
    // bucket), a doc's band verdict is the min id reachable through
    // ≥-agreeMin edges to earlier-id members — a recursive closure the
    // oracle replays per bucket; the batch twin of the streamed replay
    // is pinned by DedupStreamSpec. ----
    Query("q106_dedup_stream", (s, dir) => {
      val schema = Tables.observedSchema(s, dir, "documents")
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val sink = "graft_q106_sink"
      graft.streaming.Events.withStatePartitions(s, 8) {
        val q = graft.streaming.DedupStream
          .bandVerdictsMd5(stream, "text", "doc_id",
            tauMicros = Md5MinhashTauMicros, k = Md5MinhashK,
            bands = Md5MinhashBands)
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      graft.streaming.DedupStream.resolveCanonical(s.table(sink))
    }, Some(
      // q106: the md5 streaming dedup's arrival-order state machine,
      // replayed exactly: with the whole corpus in one micro-batch
      // (id-sorted per bucket, members capped at the 1000 smallest ids),
      // a doc's band verdict is the min id reachable through
      // >=-agreeMin match edges to earlier-id members, and the final
      // canonical is the min across bands
      s"""WITH RECURSIVE ${md5SigCtes},
         |rk AS (SELECT doc_id, band,
         |    row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rk
         |  FROM bands),
         |prs AS (SELECT a.band, a.doc_id AS hi, b.doc_id AS lo
         |  FROM rk a JOIN rk b ON a.band = b.band
         |    AND b.doc_id < a.doc_id AND b.rk <= 1000),
         |mt AS (SELECT p.band, p.hi, p.lo
         |  FROM prs p JOIN sig sa ON sa.doc_id = p.hi
         |  JOIN sig sb ON sb.doc_id = p.lo AND sb.i = sa.i
         |  GROUP BY 1, 2, 3
         |  HAVING count(*) FILTER (WHERE sa.mh = sb.mh) >= ${md5MinhashAgreeMin}),
         |reach AS (SELECT band, doc_id AS node, doc_id AS m FROM bands
         |  UNION SELECT e.band, e.hi, r.m
         |  FROM mt e JOIN reach r ON r.band = e.band AND r.node = e.lo),
         |verd AS (SELECT band, node, min(m) AS c FROM reach GROUP BY 1, 2)
         |SELECT node AS id, min(c) AS canonical_id FROM verd GROUP BY 1""".stripMargin)),

    // ---- REAL PCM audio decode (functions.PcmWindowFeatures): the
    // multimodal audio path with no stub — little-endian int16
    // samples from the binary payload, per-window RMS / zero
    // crossings / peak as a codegen'd native expression. HASH-EXACT:
    // integer sample arithmetic plus one deterministic sqrt; the
    // oracle re-parses the same bytes through hex(). ----
    Query("q153_pcm_features", (s, dir) => {
      val media = Media.fromText(t(s, dir, "documents"), "doc_id", "text", "audio")
      media.select(col("media_id"),
          explode(graft.functions.MediaFunctions
            .pcmWindowFeatures(col("media"), 256)).as("w"))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(col("w.rms_micros")).as("rms_micros_sum"),
          sum(col("w.zero_crossings").cast("long")).as("zero_crossings"),
          max(col("w.peak")).cast("int").as("peak"))
    }, Some(
      // q153: re-parse the UTF-8 payload as little-endian int16 PCM
      // through hex() — byte 2i is the low byte (positions 4i+1..4i+2 of
      // the hex string), byte 2i+1 the high byte — then replay the
      // window features: RMS = floor(sqrt(Σs²/cnt)·1e6 + 0.5) (exact
      // integer sums, one deterministic sqrt), zero crossings between
      // consecutive samples within a window (window starts excluded via
      // i % 256 = 0), peak = max |s|. A trailing odd byte is ignored
      // (octet_length // 2), zero-sample docs vanish on both sides.
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS h,
        |             octet_length(encode(text)) // 2 AS n
        |           FROM documents),
        |sm AS (SELECT doc_id, i,
        |         CAST(('0x' || substr(h, 4*i + 3, 2) || substr(h, 4*i + 1, 2))
        |              AS INTEGER) AS v
        |       FROM (SELECT doc_id, h, unnest(range(n)) AS i FROM m) t),
        |sg AS (SELECT doc_id, i, i // 256 AS win,
        |         CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
        |       FROM sm),
        |zcs AS (SELECT doc_id, i, win, s,
        |          CASE WHEN i % 256 <> 0
        |                 AND (s >= 0) <>
        |                     (lag(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
        |               THEN 1 ELSE 0 END AS z
        |        FROM sg),
        |wn AS (SELECT doc_id, win,
        |         CAST(floor(sqrt(CAST(sum(CAST(s AS BIGINT)*s) AS DOUBLE)
        |                         / count(*)) * 1e6 + 0.5) AS BIGINT) AS rms,
        |         sum(z) AS zc, max(abs(s)) AS pk
        |       FROM zcs GROUP BY 1, 2)
        |SELECT doc_id AS media_id, count(*) AS n_windows,
        |  CAST(sum(rms) AS BIGINT) AS rms_micros_sum,
        |  CAST(sum(zc) AS BIGINT) AS zero_crossings,
        |  CAST(max(pk) AS INTEGER) AS peak
        |FROM wn GROUP BY 1""".stripMargin)),

    // ---- STREAMING decontamination (streaming.DecontamStream, the
    // q187 pattern applied to q190): training docs arrive as a
    // stream, shingles are prefiltered MAP-SIDE by the broadcast
    // Bloom bits before any join or state, survivors verify against
    // the static benchmark shingle set, and per-doc state holds the
    // contaminated-shingle set so replays never double-count. Single-
    // file source = one ordered micro-batch, so emissions equal the
    // batch operator row-for-row and q190's ORACLE gates a stateful
    // streaming query hash-exact; the cross-batch cumulative path is
    // DecontamStreamSpec's. ----
    Query("q196_decontam_stream", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 89 === 0)
      // static-side shingle set evaluated ONCE (the q229 fix, r22):
      // without the checkpoint the scan+tokenize+explode+distinct chain
      // re-runs for the bloom build AND inside every micro-batch's
      // broadcast join
      val benchSh = bench
        .select(Text.tokens(col("text")).as("toks"))
        .select(explode(Text.shingles(col("toks"), 3)).as("shingle"))
        .distinct()
        .stable()
      val words = graft.curation.Curate.bloomBits(benchSh, 1 << 16, 4)
      val schema = Tables.observedSchema(s, dir, "documents")
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .where(col("doc_id") % 89 =!= 0)
      val sink = "graft_q196_sink"
      graft.streaming.Events.withStatePartitions(s, 8) {
        val q = graft.streaming.DecontamStream
          .contaminationStream(s, stream, benchSh, words.toIndexedSeq, 4, 3,
            "text", "doc_id")
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.table(sink)
    }, Some(
      // q196 = q190's exact semantics through the stateful streaming
      // path (single ordered micro-batch ⟹ batch-identical emissions)
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 3 + 2),
        |                i -> array_to_string(toks[i:i+2], ' ')) END AS shingles
        |  FROM docs),
        |bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 89 = 0),
        |train AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 89 <> 0)
        |SELECT t.doc_id,
        |  CAST(count(DISTINCT t.shingle) AS BIGINT) AS n_contaminated_ngrams
        |FROM train t JOIN bench b USING (shingle)
        |GROUP BY t.doc_id""".stripMargin)),

    // ---- STREAMING drift gate (streaming.DriftStream — q200's
    // stateful twin, the q187/q196 pattern): current-window events
    // stream in; their per-category counts are a live Complete-mode
    // streaming aggregation (state = one counter per category, never
    // per event); the PSI report derives from that profile joined
    // with the static reference counts through the SAME psiFromCounts
    // math. Single ordered micro-batch ⟹ profile ≡ the batch
    // conditional aggregate, so q200's ORACLE gates this stateful
    // streaming query hash-exact; the cross-batch cumulative path is
    // DriftStreamSpec's. ----
    Query("q205_drift_stream", (s, dir) => {
      val ref = t(s, dir, "events").where(col("event_id") % 2 === 0)
        .groupBy(col("event_type")).agg(count(lit(1)).as("c_ref"))
      val schema = Tables.observedSchema(s, dir, "events")
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .where(col("event_id") % 2 =!= 0)
      val sink = "graft_q205_sink"
      graft.streaming.Events.withStatePartitions(s, 8) {
        val q = graft.streaming.DriftStream.profileStream(stream, "event_type")
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        q.processAllAvailable()
        q.stop()
      }
      graft.streaming.DriftStream.psiFromProfile(
        s.table(sink), ref, "event_type", thresholdMicros = 200000L)
    }, Some(
      // q205 = the SAME report through the stateful streaming profile:
      // a single ordered micro-batch makes the live Complete-mode count
      // equal the batch conditional aggregate, so q200's oracle gates
      // the streaming query hash-exact (the q187/q196 twin convention).
      DriftPsiOracleSql)),

    // ---- STREAMING twin of q184 (streaming.IngestDedupStream):
    // delta docs arrive as a stream, labeled against the static base
    // fingerprint index (stream-static broadcast join) + one-boolean-
    // per-fingerprint flatMapGroupsWithState memory. Single-file
    // source = one ordered micro-batch, so labels equal the batch
    // twin's min-id semantics and q184's ORACLE gates a stateful
    // streaming query hash-exact; the multi-batch state path is
    // spec-pinned. ----
    Query("q187_ingest_dedup_stream", (s, dir) => {
      val docs = t(s, dir, "documents")
      val baseFp = docs.where(col("doc_id") % 3 =!= 0)
        .select(Text.fingerprint(col("text")).as("fingerprint")).distinct()
      val schema = Tables.observedSchema(s, dir, "documents")
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .where(col("doc_id") % 3 === 0)
      val sink = "graft_q187_sink"
      graft.streaming.Events.withStatePartitions(s, 8) {
        val q = graft.streaming.IngestDedupStream
          .statusStream(s, stream, baseFp, "text", "doc_id")
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.table(sink)
    }, Some(
      // q187: the streaming twin's output equals the batch q184 exactly
      // (single ordered micro-batch) -> same oracle SQL.
      ingestDedupStreamOracleSql)),

    // ---- STREAMING JSONL shard-delivery ingest (q187's stateful
    // dedup admission fed by io.Jsonl.readStream — the continuous
    // form of q212's delivery layer): the delta docs arrive as a
    // .jsonl.gz shard PLUS a planted truncated line; the PERMISSIVE
    // streaming read carries the torn line as a _corrupt_record row
    // (a FAILFAST stance would kill the continuous job), the
    // admission filter drops it map-side, and the clean rows label
    // against the static base fingerprint index through the same
    // one-boolean-per-fingerprint state. Single delivery = one
    // ordered micro-batch, so labels equal the batch twin's and
    // q187's ORACLE gates the whole streaming JSONL path hash-exact
    // — emitting the corrupt row's null doc_id, or dying on it,
    // both break the gate. ----
    Query("q217_jsonl_ingest_stream", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val docs = t(s, dir, "documents")
      val baseFp = docs.where(col("doc_id") % 3 =!= 0)
        .select(Text.fingerprint(col("text")).as("fingerprint")).distinct()
      val path = tempResultDir("graft-q217") + "/delta_jsonl"
      graft.io.Jsonl.write(docs.where(col("doc_id") % 3 === 0)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1), path)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "shard-corrupt.jsonl"),
        """{"doc_id": -1, "text": "truncat""")
      val stream = graft.io.Jsonl.readStream(s, path, StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType))))
        .where(col(graft.io.Jsonl.CorruptCol).isNull)
        .drop(graft.io.Jsonl.CorruptCol)
      val sink = "graft_q217_sink"
      graft.streaming.Events.withStatePartitions(s, 8) {
        val q = graft.streaming.IngestDedupStream
          .statusStream(s, stream, baseFp, "text", "doc_id")
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.table(sink)
    }, Some(
      // q217 = q187's chain verbatim: the JSONL round trip is
      // value-invisible (q209's gate) and the planted corrupt line is
      // filtered before the state path, so the streamed-from-shards
      // labels must equal the streamed-from-parquet labels exactly.
      ingestDedupStreamOracleSql)),

    // ---- multimodal segment sampling: stride-aligned byte windows
    // over the binary media column (frame-sampling plumbing; ASCII
    // text payloads make it DuckDB-oracle-checkable) ----
    Query("q64_media_segments", (s, dir) => {
      val media = Media.fromText(t(s, dir, "documents"), "doc_id", "text", "text_blob")
      Media.sampleSegments(media, segmentBytes = 64, strideBytes = 64)
        .select(col("media_id"), col("segment_idx"),
          decode(col("segment"), "UTF-8").as("segment_text"))
    }, Some(
      """SELECT doc_id AS media_id, CAST(i AS INTEGER) AS segment_idx,
        | substring(text, CAST(i * 64 + 1 AS INTEGER), 64) AS segment_text
        |FROM documents CROSS JOIN range(0, 4096) t(i)
        |WHERE i < greatest(CAST(1 AS BIGINT), CAST(ceil(strlen(text) / 64.0) AS BIGINT))
        |  AND length(substring(text, CAST(i * 64 + 1 AS INTEGER), 64)) > 0""".stripMargin)),

    // ---- multimodal binary plumbing: metadata + content hash ----
    Query("q60_media_meta", (s, dir) => {
      val media = Media.fromText(t(s, dir, "documents"), "doc_id", "text", "text_blob")
      Media.extractFeatures(s, media).toDF()
        .select("media_id", "kind", "byte_len", "content_hash")
    }, Some(
      """SELECT doc_id AS media_id, 'text_blob' AS kind,
        | CAST(strlen(text) AS BIGINT) AS byte_len,
        | md5(text) AS content_hash
        |FROM documents""".stripMargin)),

    // ---- REAL raster decode (JDK ImageIO): generate constant-fill
    // gray PNGs with closed-form dims, decode them back — both codec
    // calls are native codegen'd expressions (the q153 PCM treatment:
    // one fused whole-stage loop, no typed-Dataset ser/de boundary;
    // the mapPartitions batch variant stays pinned row-identical in
    // IoMediaStreamSpec); the oracle recomputes the closed form ----
    Query("q104_image_decode", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          graft.functions.MediaFunctions.grayPng(
            (col("doc_id") % 13 + 3).cast("int"),
            (col("doc_id") % 7 + 2).cast("int"),
            (col("doc_id") % 251).cast("int")).as("media"))
        .select(col("media_id"),
          graft.functions.MediaFunctions.imageMeta(col("media")).as("m"))
        .select(col("media_id"), col("m.width").as("width"),
          col("m.height").as("height"), col("m.mean_px").as("mean_px")),
      Some("""SELECT doc_id AS media_id,
        | CAST(doc_id % 13 + 3 AS INT) AS width,
        | CAST(doc_id % 7 + 2 AS INT) AS height,
        | CAST(doc_id % 251 AS DOUBLE) AS mean_px
        |FROM documents""".stripMargin)),

    // ---- REAL multi-frame CONTAINER decode (animated GIF through the
    // JDK sequence codec — the q104 treatment for the last stubbed
    // decode class): per doc, doc_id % 3 + 1 constant-fill gray frames
    // with closed-form values encode as ONE GIF container, then
    // gif_frames decodes every frame back to (frame, dims, mean_px) —
    // generate and decode both native codegen'd expressions, one fused
    // loop, and the oracle recomputes the closed form per frame. The
    // identity gray palette represents constant fills exactly and
    // heights stay >= 5 (the probed JDK small-frame codec quirk —
    // GifKernels.grayGif), so the round trip is hash-exact; frame
    // rasters also bridge into Media.resizeRaster's real-resample
    // branch (IoMediaStreamSpec pins that chain + the mapPartitions
    // batch-variant identity). ----
    Query("q214_gif_container_decode", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          graft.functions.MediaFunctions.grayGif(
            (col("doc_id") % 13 + 3).cast("int"),
            (col("doc_id") % 7 + 5).cast("int"),
            transform(sequence(lit(0L), col("doc_id") % 3),
              f => ((col("doc_id") * 7 + f * 31) % 251).cast("int")))
            .as("media"))
        .select(col("media_id"),
          explode(graft.functions.MediaFunctions.gifFrames(col("media")))
            .as("fr"))
        .select(col("media_id"), col("fr.frame").as("frame"),
          col("fr.width").as("width"), col("fr.height").as("height"),
          col("fr.mean_px").as("mean_px")),
      // q214: the container round trip replays frame-for-frame from the
      // closed form (constant fills survive the 256-gray GIF palette
      // exactly; a constant frame's double mean is the exact fill value)
      Some("""SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame,
        | CAST(doc_id % 13 + 3 AS INT) AS width,
        | CAST(doc_id % 7 + 5 AS INT) AS height,
        | CAST((doc_id * 7 + f * 31) % 251 AS DOUBLE) AS mean_px
        |FROM documents CROSS JOIN range(0, 3) t(f)
        |WHERE f <= doc_id % 3""".stripMargin)),

    // ---- FRAME SAMPLING + RESIZE over real containers (the
    // multimodal preprocessing composition: container → sample every
    // 2nd frame → raw raster → nearest-neighbor resize → features):
    // per doc a doc_id % 6 + 1 frame GIF; gif_frames picks the
    // sampled frame ids, gif_frame_raster decodes ONLY those to raw
    // rasters (GIF is sequential-decode, so sampling saves the
    // downstream work, not the codec pass), and Media.resizeRaster's
    // REAL resample branch shrinks each to 4x3. Output = per sampled
    // frame the resized byte count and byte sum — for constant fills
    // the closed form v*12, so the oracle gates the resize OUTPUT
    // BYTES end to end (the nearest-neighbor pick semantics on
    // gradients are IoMediaStreamSpec's pin). ----
    Query("q218_gif_frame_sample", (s, dir) => {
      val gifs = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          graft.functions.MediaFunctions.grayGif(
            (col("doc_id") % 13 + 3).cast("int"),
            (col("doc_id") % 7 + 5).cast("int"),
            transform(sequence(lit(0L), col("doc_id") % 6),
              f => ((col("doc_id") * 11 + f * 37) % 251).cast("int")))
            .as("media"),
          (col("doc_id") % 13 + 3).cast("int").as("width"),
          (col("doc_id") % 7 + 5).cast("int").as("height"))
      // the FUSED sampling decode (gif_frame_rasters): one container
      // pass per doc instead of a per-frame re-open — the per-frame
      // form walked frames 0..f-1 to reach each sampled f (O(F²)
      // container work; this query's round-18 shape benched 5.3s
      // isolated at sf0.1, the fused form ~1.3s). Output identical:
      // the kernel emits exactly the frame % 2 == 0 rasters, pinned
      // byte-equal to the per-frame kernel in IoMediaStreamSpec.
      val sampled = gifs
        .select(col("media_id"), col("width"), col("height"),
          explode(graft.functions.MediaFunctions
            .gifFrameRasters(col("media"), 2)).as("fr"))
        // synthetic row key: frame count <= 6, so media_id*8+frame is
        // collision-free and survives resizeRaster's fixed row shape
        .select((col("media_id") * 8 + col("fr.frame")).as("media_id"),
          lit("image/gif").as("kind"), col("fr.raster").as("media"),
          col("width"), col("height"), lit(0).as("sample_rate"))
      graft.multimodal.Media.resizeRaster(s, sampled, targetW = 4, targetH = 3)
        .toDF()
        .select((col("media_id") / 8).cast("long").as("media_id"),
          (col("media_id") % 8).cast("int").as("frame"),
          length(col("media")).as("n_bytes"),
          // resized-bytes checksum via the q153 hex convention
          // (DuckDB's md5 is VARCHAR-only, so both engines hash the
          // uppercase hex rendering of the bytes)
          conv(substring(md5(hex(col("media"))), 1, 8), 16, 10).cast("long")
            .as("resized_checksum"))
    }, Some(
      // q218: the sampled frames' fills are the q214 closed form with
      // the q218 constants; a resized constant raster is the fill byte
      // repeated targetW*targetH times, hashed under the shared
      // hex-rendering convention (Spark hex() and DuckDB hex() both
      // render uppercase)
      """SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame,
        |  CAST(12 AS INTEGER) AS n_bytes,
        |  CAST(('0x' || substr(md5(hex(repeat(
        |      unhex(format('{:02x}', (doc_id * 11 + f * 37) % 251)), 12))),
        |    1, 8)) AS BIGINT) AS resized_checksum
        |FROM documents CROSS JOIN range(0, 6) t(f)
        |WHERE f <= doc_id % 6 AND f % 2 = 0""".stripMargin)),

    // ---- BYTE-FREE TWIN of q219 (the r20-verdict bifurcation
    // instrument for the driver-only hash divergence): the IDENTICAL
    // per-shard report computed straight from pack()'s token stream —
    // no write, no byte re-read. The within-shard position rn is pure
    // arithmetic (gpos − shard_id·seqLen·seqsPerShard + 1, shards
    // being contiguous gpos ranges), so the polynomial folds in one
    // map-side-combined aggregate; manifest_match is the constant the
    // oracle emits (there is no manifest here by construction). Gated
    // by the SAME oracle SQL as q219: twin green + q219 red localizes
    // the divergence to the write/re-read leg; both red localizes it
    // to the packed stream vs the oracle's DuckDB replay. ----
    Query("q238_token_shards_stream", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.io.TokenShards.pack(d, "doc_id", "text",
          vocab = 4096, seqLen = 64, seqsPerShard = 16, nBuckets = 8)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("tid").cast("long")).as("token_sum"),
          (sum((col("gpos") - col("shard_id") * lit(1024L) + lit(1L)) *
            (col("tid").cast("long") + lit(1L))) % lit(1000000007L))
            .as("poly_mod"))
        .select(col("shard_id"),
          expr("n_tokens div 64L").as("n_seqs"),
          col("n_tokens"), col("token_sum"), col("poly_mod"),
          lit(true).as("manifest_match"))
    }, Some(tokenShardsStreamOracleSql)),

    // ---- STREAMING RESTART RECOVERY (the production semantic no
    // single-run streaming query shows: the q187 stateful dedup
    // admission run as TWO SEPARATE query starts sharing one
    // checkpoint + file sink — delivery A, stop, delivery B lands,
    // restart). Exactly-once across the restart comes from the source
    // offset log (run 2 reads ONLY B) and the sink's _spark_metadata
    // (run 1's files are never re-committed); the dedup STATE is
    // restored from the state store, so a fingerprint first seen in A
    // labels its B arrivals dup_in_delta — only possible via restored
    // state. The oracle replays the delivery-split semantics: 'new'
    // goes to the min id of the FIRST delivery containing the
    // fingerprint (A if present there, else B). ----
    Query("q229_restart_recovery", (s, dir) => {
      val docs = t(s, dir, "documents")
      // the static-side fingerprint index is re-planned per micro-batch
      // per stream RUN (two runs here) — checkpoint the 16-byte keys
      // once so each batch's broadcast builds off the materialized
      // index instead of re-hashing the base corpus (round 21)
      val baseFp = docs.where(col("doc_id") % 3 =!= 0)
        .select(Text.fingerprint(col("text")).as("fingerprint")).distinct()
        .stable()
      val streamed = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val base = tempResultDir("graft-q229")
      val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
      def run(): Unit = Events.withStatePartitions(s, 8) {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))
        val q = graft.streaming.IngestDedupStream
          .statusStream(s, s.readStream.schema(schema).parquet(src),
            baseFp, "text", "doc_id")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      streamed.where(col("doc_id") % 2 === 0)
        .coalesce(1).write.parquet(s"$src/d=1")
      run() // delivery A processed, state checkpointed, query STOPPED
      streamed.where(col("doc_id") % 2 =!= 0)
        .coalesce(1).write.parquet(s"$src/d=2")
      run() // RESTART: offsets + state recovered, only B processed
      s.read.parquet(out)
    }, Some(
      // q229: the two-delivery replay of q187's labeling — 'dup_of_base'
      // wins outright; otherwise 'new' goes to the min id of the FIRST
      // delivery (A = even ids) containing the fingerprint, everything
      // later is dup_in_delta (the restored-state semantics).
      """WITH strm AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |basefp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fingerprint
        |  FROM documents WHERE doc_id % 3 <> 0),
        |f AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |    doc_id % 2 = 0 AS in_a
        |  FROM strm),
        |firsts AS (
        |  SELECT fingerprint,
        |    min(CASE WHEN in_a THEN doc_id END) AS min_a,
        |    min(CASE WHEN NOT in_a THEN doc_id END) AS min_b
        |  FROM f GROUP BY 1)
        |SELECT f.doc_id, f.fingerprint,
        |  CASE WHEN f.fingerprint IN (SELECT fingerprint FROM basefp)
        |         THEN 'dup_of_base'
        |       WHEN firsts.min_a IS NOT NULL AND f.doc_id = firsts.min_a
        |         THEN 'new'
        |       WHEN firsts.min_a IS NULL AND f.doc_id = firsts.min_b
        |         THEN 'new'
        |       ELSE 'dup_in_delta' END AS status
        |FROM f JOIN firsts USING (fingerprint)""".stripMargin)),

    // ---- LATE-DATA accounting (streaming.Events.hourlyCountsAppend —
    // the append-mode watermark contract q32's complete-mode twin
    // cannot show): three ordered deliveries — the bulk backfill, a
    // fresh trickle, and a REPLAYED OLD SHARD (the classic upstream
    // re-send) — stream through the 90-minute watermark; windows emit
    // exactly once when the watermark passes, and the replayed shard's
    // rows are DROPPED because their windows were already evicted. The
    // oracle replays the measured semantics: the trigger-N late filter
    // uses trigger N−1's watermark (drop iff window end <= previous
    // trigger's wm), emission iff window end <= the final wm. The
    // delivery split is SF-independent (fresh = within 24h of max ts);
    // explicit file mtimes pin the delivery order. ----
    Query("q223_late_data_audit", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
      val ev = t(s, dir, "events").select("event_id", "ts", "event_type")
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val cutoff = new java.sql.Timestamp(maxTs.getTime - 24L * 3600 * 1000)
      val base = tempResultDir("graft-q223")
      // ONE events pass fans the three deliveries out via partitionBy
      // (round 21) — the previous three filtered writes each re-scanned
      // the table (guide §2.4); same three files, same directory names,
      // delivery order still set by the mtimes below
      ev.withColumn("d",
          when(col("event_id") % 5 =!= 0, 1)
            .when(col("ts") >= lit(cutoff), 2)
            .when(col("ts") < lit(cutoff), 3))
        .where(col("d").isNotNull) // the old filters dropped null keys
        .repartition(col("d"))
        .write.mode("overwrite").partitionBy("d").parquet(base)
      Seq("d=1", "d=2", "d=3").zipWithIndex.foreach { case (n, i) =>
        new java.io.File(s"$base/$n").listFiles()
          .foreach(_.setLastModified(1700000000000L + i * 60000L))
      }
      val schema = StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("event_type", StringType)))
      val sink = "graft_q223_sink"
      Events.withStatePartitions(s, 8) {
        val q = Events.hourlyCountsAppend(
            s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
              .parquet(base))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.table(sink).select(
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("hour_end"),
        col("event_type"), col("n_events"))
    }, Some(
      // q223: replay the measured append-mode watermark semantics — the
      // trigger-N late filter uses trigger N-1's watermark, so delivery
      // 2 (trigger 1, previous wm = -inf) survives whole while delivery
      // 3 keeps only rows whose hourly window outlives delivery 1's
      // watermark; emission = window end <= final watermark (global max
      // ts - 90 min). Window ends are epoch-aligned hour boundaries on
      // a UTC-session timestamp, identical on both engines.
      """WITH ev AS (SELECT event_id, ts, event_type FROM events),
        |mx AS (SELECT max(ts) AS m FROM ev),
        |d1 AS (SELECT ev.* FROM ev WHERE event_id % 5 <> 0),
        |d2 AS (SELECT ev.* FROM ev, mx
        |       WHERE event_id % 5 = 0 AND ts >= m - INTERVAL 24 HOUR),
        |d3 AS (SELECT ev.* FROM ev, mx
        |       WHERE event_id % 5 = 0 AND ts < m - INTERVAL 24 HOUR),
        |wm1 AS (SELECT max(ts) - INTERVAL 90 MINUTE AS w FROM d1),
        |wmf AS (SELECT max(ts) - INTERVAL 90 MINUTE AS w FROM ev),
        |surv AS (
        |  SELECT ts, event_type FROM d1
        |  UNION ALL SELECT ts, event_type FROM d2
        |  UNION ALL SELECT d3.ts, d3.event_type FROM d3, wm1
        |    WHERE date_trunc('hour', d3.ts) + INTERVAL 1 HOUR > wm1.w),
        |agg AS (SELECT date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
        |          event_type, count(*) AS n FROM surv GROUP BY 1, 2)
        |SELECT strftime(agg.wend, '%Y-%m-%d %H:%M:%S') AS hour_end,
        |  agg.event_type, CAST(agg.n AS BIGINT) AS n_events
        |FROM agg, wmf WHERE agg.wend <= wmf.w""".stripMargin)),

    // ---- SPECTRAL audio feature (functions.PcmDftBin — the
    // frequency-domain half of the PCM path; q153 is the time-domain
    // half): per 256-sample window the single-bin DFT projection onto
    // bin 4 (250 Hz at 16 kHz), as exact int64 micro-scaled sums.
    // The twiddle tables are computed ONCE in Scala (StrictMath) and
    // the SAME numbers are embedded as literal lists in the oracle
    // SQL, so — unlike the ln-recipe audits — there is NO cross-engine
    // transcendental at all: both engines multiply int16 samples by
    // the same integer table. Map-only scan; only 3-field window
    // structs leave it. ----
    Query("q220_pcm_spectral", (s, dir) => {
      val media = Media.fromText(t(s, dir, "documents"), "doc_id", "text", "audio")
      media.select(col("media_id"),
          explode(graft.functions.MediaFunctions
            .pcmDftBin(col("media"), 256, 4)).as("w"))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(expr("abs(w.re_u) div 1000")).as("re_mag_sum"),
          sum(expr("abs(w.im_u) div 1000")).as("im_mag_sum"),
          max(expr("abs(w.re_u) div 1000 + abs(w.im_u) div 1000"))
            .as("peak_bin_energy"))
    }, Some {
      // q220: q153's int16-LE sample reconstruction, then the single-bin
      // projection against the SAME micro-scaled twiddle tables the
      // engine kernel uses — embedded below as literal lists from
      // DftTables (one build computes both sides; no cross-engine
      // transcendental). j is the in-window sample index; the partial
      // final window sums its shorter run of the same table.
      val cosList = graft.functions.MediaKernels.DftTables
        .cosMicros(256, 4).mkString("[", ", ", "]")
      val sinList = graft.functions.MediaKernels.DftTables
        .sinMicros(256, 4).mkString("[", ", ", "]")
      s"""WITH m AS (SELECT doc_id, hex(encode(text)) AS h,
        |             octet_length(encode(text)) // 2 AS n
        |           FROM documents),
        |sm AS (SELECT doc_id, i,
        |         CAST(('0x' || substr(h, 4*i + 3, 2) || substr(h, 4*i + 1, 2))
        |              AS INTEGER) AS v
        |       FROM (SELECT doc_id, h, unnest(range(n)) AS i FROM m) t),
        |sg AS (SELECT doc_id, i // 256 AS win, CAST(i % 256 AS BIGINT) AS j,
        |         CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
        |       FROM sm),
        |ct AS (SELECT $cosList AS c, $sinList AS sn),
        |w AS (SELECT doc_id, win,
        |        CAST(sum(CAST(s AS BIGINT) * ct.c[j + 1]) AS BIGINT) AS re_u,
        |        CAST(-sum(CAST(s AS BIGINT) * ct.sn[j + 1]) AS BIGINT) AS im_u
        |      FROM sg, ct GROUP BY 1, 2)
        |SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(abs(re_u) // 1000) AS BIGINT) AS re_mag_sum,
        |  CAST(sum(abs(im_u) // 1000) AS BIGINT) AS im_mag_sum,
        |  CAST(max(abs(re_u) // 1000 + abs(im_u) // 1000) AS BIGINT)
        |    AS peak_bin_energy
        |FROM w GROUP BY 1""".stripMargin
    })
  )

  /** The q187 incremental-dedup labeling chain, shared verbatim with
    * q217 (the same admission semantics fed from JSONL shards — one
    * builder, the twins cannot drift). */
  private val ingestDedupStreamOracleSql: String =
    """WITH basefp AS (
      |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      |    AS fingerprint
      |  FROM documents WHERE doc_id % 3 <> 0),
      |delta AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
      |    min(doc_id) OVER (
      |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
      |      AS first_id
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT d.doc_id, d.fingerprint,
      |  CASE WHEN b.fingerprint IS NOT NULL THEN 'dup_of_base'
      |       WHEN d.first_id <> d.doc_id THEN 'dup_in_delta'
      |       ELSE 'new' END AS status
      |FROM delta d LEFT JOIN basefp b ON d.fingerprint = b.fingerprint""".stripMargin
}
