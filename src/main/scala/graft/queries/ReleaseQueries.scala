package graft
package queries

import graft.queries.Shared._
import org.apache.spark.sql.functions._

/** Release and IO queries: versioned tables, CSV2/JDBC/JSONL/ORC/Avro/
  * raw-text round trips, snapshot diff and CDC, the token-shard export
  * and the pretraining-release chain. Each query is declared once, next
  * to its DuckDB oracle SQL. */
object ReleaseQueries {

  lazy val all: Seq[Query] = Seq(

    // ---- S5/S8 at scale (q142): the PARTITIONED versioned-table
    // round trip — write events hive-partitioned by mon_cycle with the
    // Vc sidecar + order-independent data digest, read back through
    // the VERIFIED partitioned reader (digest recomputed), aggregate.
    // Oracle replays the aggregate from the raw table, so sidecar
    // type-restore, partition-column recovery from directory names,
    // and the digest path are all hash-gated (the pruning itself is
    // pinned by VcPartitionedSpec's numFiles assertion). ----
    Query("q142_vc_partitioned_roundtrip", (s, dir) => {
      val out = tempResultDir("graft-q142") + "/events_part"
      val ev = t(s, dir, "events").withColumn("mon_cycle", year(col("ts")))
      graft.io.Vc.writePartitioned(ev, out, Seq("mon_cycle"))
      graft.io.Vc.readPartitioned(s, out)
        .groupBy(col("mon_cycle"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"), 2)).as("value_cents"),
          count_distinct(col("user_id")).as("n_users"))
    }, Some(
      // q142: the partitioned-Vc round trip must be value-invisible —
      // the oracle aggregates the RAW events table; any loss in the
      // partition write, directory-name type recovery, sidecar cast, or
      // digest verification shows as a hash mismatch.
      """SELECT CAST(year(ts) AS INTEGER) AS mon_cycle, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents,
        | count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- S4/S9 oracle gate (q143): the semicolon-CSV decimal-comma
    // round trip — per-nation supplier balances written through
    // Csv2.writeFile (single file, %.4f with COMMA decimal marks, the
    // write_csv2 format of the published *_dikdoodhout.csv twins:
    // processed/lsvi_mhq/forests/result/status_dikdoodhout.csv) and
    // read back through Csv2.read's translate-and-cast path. The
    // double is a cent-sum (exact at 2 decimals), so the 4-digit
    // rendering is lossless; the oracle replays the aggregate from raw
    // parquet, so any loss in comma formatting, header, null handling
    // or the cast restore breaks the hash. ----
    Query("q143_csv2_roundtrip", (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
      val perNation = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          (sum(cents(col("s_acctbal"), 2)) / 100.0).as("acctbal_total"))
        .orderBy("n_name")
      val file = tempResultDir("graft-q143") + "/supplier_balance.csv"
      graft.io.Csv2.writeFile(perNation, file)
      graft.io.Csv2.read(s, file, StructType(Seq(
        StructField("n_name", StringType),
        StructField("n_suppliers", LongType),
        StructField("acctbal_total", DoubleType))))
    }, Some(
      // q143: the decimal-comma CSV round trip must be value-invisible —
      // the oracle aggregates raw parquet; any loss in the %.4f comma
      // rendering or the translate-and-cast restore breaks the hash.
      """SELECT n_name, count(*) AS n_suppliers,
        | CAST(sum(CAST(round(s_acctbal*100) AS BIGINT)) AS BIGINT)/100.0 AS acctbal_total
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin)),

    // ---- S1/S2/J8 oracle gate (q144): the JDBC round trip — the
    // nation/region dims loaded into an embedded Derby database (the
    // engine DbDialectsSpec integrates the dialect registry against),
    // then read back through JdbcQuerySource with the dimension join +
    // aggregate PUSHED INTO the database — the reference's
    // hand-written source-side SQL (query_fieldmap.Rmd:139-154).
    // Columns are written UPPERCASE so the quoted identifiers Spark
    // creates match Derby's unquoted (uppercased) references in the
    // pushed query; the read lowercases like DialectQuerySource, and
    // Derby's INTEGER COUNT widens to the oracle's BIGINT. ----
    Query("q144_jdbc_roundtrip", (s, dir) => {
      val url = "jdbc:derby:memory:q144;create=true"
      val props = new java.util.Properties
      t(s, dir, "nation").toDF("N_NATIONKEY", "N_NAME", "N_REGIONKEY")
        .coalesce(1).write.mode("overwrite")
        .option("createTableColumnTypes", "N_NAME VARCHAR(64)")
        .jdbc(url, "nation", props)
      t(s, dir, "region").toDF("R_REGIONKEY", "R_NAME")
        .coalesce(1).write.mode("overwrite")
        .option("createTableColumnTypes", "R_NAME VARCHAR(64)")
        .jdbc(url, "region", props)
      val pushed = graft.core.JdbcQuerySource(url,
        "SELECT r.R_NAME, COUNT(*) AS N_NATIONS, MIN(n.N_NAME) AS FIRST_NATION " +
          "FROM nation n JOIN region r ON n.N_REGIONKEY = r.R_REGIONKEY " +
          "GROUP BY r.R_NAME").load(s)
      pushed.toDF(pushed.columns.map(_.toLowerCase).toIndexedSeq: _*)
        .select(col("r_name"), col("n_nations").cast("long").as("n_nations"),
          col("first_nation"))
    }, Some(
      // q144: the Derby round trip must be value-invisible — the oracle
      // replays the pushed-down join/aggregate from raw parquet.
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations,
        | min(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin)),

    // ---- JSONL corpus ingest round trip (io.Jsonl — the raw-corpus
    // shard format: one JSON object per line, gzipped shards; the
    // q143/q144 value-invisible convention): documents write out as
    // 4 .jsonl.gz shards and read back through the supplied-schema
    // PERMISSIVE reader (corrupt lines would land in _corrupt_record
    // — counted in the report, expected 0; the malformed-line paths
    // are JsonlSpec's). The per-group md5 content checksum makes the
    // gate sensitive to any text mangling in the JSON encode/decode,
    // not just row counts. ----
    Query("q209_jsonl_ingest", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val d = t(s, dir, "documents")
      val path = tempResultDir("graft-q209") + "/docs_jsonl"
      graft.io.Jsonl.write(d.repartition(4), path)
      val back = graft.io.Jsonl.read(s, path, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      back.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"),
          sum(when(col(graft.io.Jsonl.CorruptCol).isNotNull, 1L)
            .otherwise(0L)).as("n_corrupt"))
    }, Some(
      // q209: the JSONL round trip must be value-invisible — the oracle
      // replays counts, char totals and the md5 content checksum from
      // raw parquet; a clean read has zero corrupt rows by definition.
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
        |    AS text_checksum,
        |  CAST(0 AS BIGINT) AS n_corrupt
        |FROM documents GROUP BY 1, 2""".stripMargin)),

    // ---- ORC interchange round trip (core.OrcSource — the Hive-era
    // columnar format; q209's convention minus the corrupt-line
    // machinery, which ORC's binary layout makes a task failure by
    // construction). Upgrades the registry's ORC dispatch from
    // spec-only to oracle-gated: documents write as zlib ORC shards,
    // read back through the registry source, and the same md5 content
    // checksum catches any value mangling. ----
    Query("q210_orc_roundtrip", (s, dir) => {
      val d = t(s, dir, "documents")
      val path = tempResultDir("graft-q210") + "/docs_orc"
      d.repartition(4).write.mode("overwrite").orc(path)
      val back = graft.core.OrcSource(path).load(s)
      back.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"))
    }, Some(
      // q210: the ORC round trip is value-invisible like q209's —
      // counts, char totals and the content checksum replay from parquet
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
        |    AS text_checksum
        |FROM documents GROUP BY 1, 2""".stripMargin)),

    // ---- the COMPOSED corpus-ingest E2E off JSONL SHARD DELIVERIES
    // (q100's admission chain fed by io.Jsonl instead of parquet — the
    // scenario Jsonl.scala documents: real crawl drops arrive as
    // .jsonl.gz shards, not columnar files). The batch writes out as 4
    // gzip shards PLUS one planted truncated line in its own shard;
    // the PERMISSIVE read captures it whole in _corrupt_record (data
    // columns null), the audit row counts it, and ONLY audited-clean
    // rows enter the admission chain (quality floor → within-batch
    // exact dedup → against-corpus anti-join → decontamination →
    // append). Output = the ingested corpus per-(lang, source) with
    // q209's md5 content checksum — any JSON text mangling OR a
    // corrupt line leaking past the audit breaks the hash gate — plus
    // the '__audit__' corrupt-line row. ----
    Query("q212_jsonl_corpus_e2e", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val docs = t(s, dir, "documents")
      val path = tempResultDir("graft-q212") + "/batch_jsonl"
      graft.io.Jsonl.write(docs.where(col("doc_id") % 3 =!= 0).repartition(4), path)
      // one truncated line as its own delivery shard — the exact
      // failure a million-shard drop ships at least once
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "shard-corrupt.jsonl"),
        """{"doc_id": -1, "text": "truncat""")
      val back = graft.io.Jsonl.read(s, path, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      val clean = back.where(col(graft.io.Jsonl.CorruptCol).isNull)
        .drop(graft.io.Jsonl.CorruptCol)
      val ingested = graft.pipelines.CorpusIngest.ingest(
        corpus = docs.where(col("doc_id") % 3 === 0),
        batch = clean,
        bench = docs.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        minTokens = 30)
      val summary = ingested.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"))
      // the delivery-audit rows: corrupt-line AND parsed-line counts
      // from the SAME read. Both counts survive into the output, which
      // keeps a data column in the scan's required schema — a
      // corrupt-count-only aggregate prunes to the corrupt column
      // alone and the JSON source (rightly) rejects that shape, since
      // corruptness is only defined relative to parsing data columns.
      val audit = back.agg(
          sum(when(col(graft.io.Jsonl.CorruptCol).isNotNull, 1L)
            .otherwise(0L)).as("n_corrupt"),
          count(col("doc_id")).as("n_parsed"))
        .select(explode(array(
          struct(lit("__audit__").as("lang"), lit("corrupt_lines").as("source"),
            col("n_corrupt").as("n_docs"), lit(0L).as("chars_total"),
            lit(0L).as("text_checksum")),
          struct(lit("__audit__").as("lang"), lit("parsed_lines").as("source"),
            col("n_parsed").as("n_docs"), lit(0L).as("chars_total"),
            lit(0L).as("text_checksum")))).as("r"))
        .select("r.*")
      summary.unionByName(audit)
    }, Some(
      // q212: the JSONL round trip is value-invisible (q209's gate), so
      // the oracle replays q100's admission chain from raw parquet —
      // the SHARED corpusIngestChainSql — aggregates the ingested
      // corpus with q209's content checksum, and appends the audit row:
      // exactly ONE planted corrupt line, zero leaked data columns.
      s"""WITH $corpusIngestChainSql,
        |ingested AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM corpus
        |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM clean)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
        |    AS text_checksum
        |FROM ingested GROUP BY 1, 2
        |UNION ALL
        |SELECT '__audit__' AS lang, 'corrupt_lines' AS source,
        |  CAST(1 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS chars_total,
        |  CAST(0 AS BIGINT) AS text_checksum
        |UNION ALL
        |SELECT '__audit__' AS lang, 'parsed_lines' AS source,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 3 <> 0)
        |    AS n_docs, CAST(0 AS BIGINT) AS chars_total,
        |  CAST(0 AS BIGINT) AS text_checksum""".stripMargin)),

    // ---- S5/S8/S10 versioned-table IO end-to-end: parquet -> Vc.write
    // (sorted TSV + sidecar) -> Vc.read (hash-verified) -> guarded
    // incremental append of a disjoint batch -> Vc.read the rewritten
    // table. The oracle computes the same final frame straight from
    // parquet, so a green hash proves the TSV round-trip is value-exact
    // and the merge appended precisely the incoming keys
    // (`query_fieldmap_update_fieldwork2022.Rmd:945-1076`). ----
    Query("q94_vc_incremental_append", (s, dir) => {
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"))
      val existing = orders.where(col("o_orderkey") % 7 === 0)
      val incoming = orders.where(col("o_orderkey") % 7 === 1)
      val base = tempResultDir("vc_q94") + "/orders_slice"
      graft.io.Vc.write(existing, base, sortKeys = Seq("o_orderkey"))
      graft.pipelines.IncrementalUpdate.applyToVc(s, base, incoming,
        keys = Seq("o_orderkey"), sortKeys = Seq("o_orderkey"))
      graft.io.Vc.read(s, base)
    }, Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        | CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders WHERE o_orderkey % 7 IN (0, 1)""".stripMargin)),

    // ---- S8/S10 upsert path: Vc-stored table patched in place
    // (replace = true -> Relational.applyPatches) and read back.
    // The patch frame derives from the same parquet, so the oracle is a
    // CASE WHEN over the source table. ----
    Query("q95_vc_upsert_patch", (s, dir) => {
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val patch = cust.where(col("c_custkey") % 10 === 3)
        .withColumn("c_acctbal", col("c_acctbal") * lit(1.5))
      val base = tempResultDir("vc_q95") + "/customer_patched"
      graft.io.Vc.write(cust, base, sortKeys = Seq("c_custkey"))
      graft.pipelines.IncrementalUpdate.applyToVc(s, base, patch,
        keys = Seq("c_custkey"), sortKeys = Seq("c_custkey"), replace = true)
      graft.io.Vc.read(s, base)
    }, Some(
      """SELECT c_custkey, c_name,
        | CASE WHEN c_custkey % 10 = 3 THEN c_acctbal * 1.5 ELSE c_acctbal END AS c_acctbal,
        | c_mktsegment
        |FROM customer""".stripMargin)),

    // ---- TOKEN TRAINING-SHARD EXPORT (io.TokenShards — the LLM
    // pipeline's last mile: the corpus leaves the engine as binary
    // int32-LE shards of back-to-back 64-token sequences, the layout a
    // training loader memory-maps). Docs in doc-id order, one EOS
    // (=vocab) each, partial tail sequence dropped, 16 seqs per shard.
    // Every byte is oracle-recomputable: token ids are the md5-slice
    // hash, so the DuckDB gate rebuilds the exact stream from parquet
    // and checks each shard's count/sum AND the position-weighted
    // polynomial checksum — the bytes on disk must encode exactly the
    // right tokens in exactly the right order. manifest_match pins the
    // writer's self-report against the re-read bytes. Plan: one
    // documents scan; offsets move (doc_id, cost) pairs only; the text
    // shuffles once (offsets join), the token stream once (shard
    // exchange, at CHUNK grain since round 21 — ~seqLen tokens per
    // shuffle record); the read-back is a map-only binaryFile scan through
    // the fused token_shard_stats kernel — shard contents never reach
    // a shuffle, only 3-field stat structs do. manifest_match is a
    // GATE, not a reported bit: verifyManifest THROWS on any
    // readStats-vs-manifest divergence (missing/extra/short shard), so
    // a bad write is a loud err row in CORRECTNESS, never a silent
    // hash mismatch. ----
    Query("q219_token_shards", (s, dir) => {
      val d = t(s, dir, "documents")
      val path = tempResultDir("graft-q219") + "/shards"
      val packed = graft.io.TokenShards.packChunks(d, "doc_id", "text",
        vocab = 4096, seqLen = 64, seqsPerShard = 16, nBuckets = 8)
      val manifest = graft.io.TokenShards.write(packed, path)
      graft.io.TokenShards
        .verifyManifest(graft.io.TokenShards.readStats(s, path), manifest)
        .select(col("shard_id"),
          expr("n_tokens div 64L").as("n_seqs"),
          col("n_tokens"), col("token_sum"), col("poly_mod"),
          lit(true).as("manifest_match"))
    }, Some(
      // q219: rebuild the exact token stream the shards encode — md5-slice
      // ids + EOS(4096) per doc in doc-id order, global positions via the
      // cumulative window, partial tail sequence dropped at total//64*64 —
      // then per shard the count/sum and the position-weighted polynomial
      // checksum mod 1e9+7 (rn is 1-based within the shard, matching the
      // kernel's i+1). The Spark side derives every value from RE-READ
      // shard BYTES, so a hash match proves the on-disk int32-LE layout.
      // q219 and its byte-free twin q238 share ONE oracle text verbatim
      // (the r20-verdict bifurcation: identical replay, different Spark
      // leg — write+re-read vs direct stream aggregate)
      tokenShardsStreamOracleSql)),

    // ---- AVRO interchange round trip (core.AvroSource / io.Avro —
    // the row-oriented lake/streaming delivery format next to q210's
    // columnar ORC; the jar set has no spark-avro connector, so the
    // container blocks are parsed DIRECTLY with avro-core over
    // per-shard-file bytes, which is also the honest parallelism
    // grain: one map task per shard like the gzip JSONL deliveries).
    // documents write as 4 deflate container shards and read back
    // through the registry source with the supplied schema as the
    // Avro READER schema; q209's md5 content checksum gates any
    // encode/decode value mangling. ----
    Query("q221_avro_roundtrip", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val d = t(s, dir, "documents")
      val path = tempResultDir("graft-q221") + "/docs_avro"
      graft.io.Avro.write(d.repartition(4), path)
      val back = graft.core.AvroSource(path, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))).load(s)
      back.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"))
    }, Some(
      // q221: the Avro round trip is value-invisible like q209/q210's —
      // the same per-group content-checksum replay from parquet
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
        |    AS text_checksum
        |FROM documents GROUP BY 1, 2""".stripMargin)),

    // ---- VERSIONED-SNAPSHOT DIFF (ops.Relational.snapshotDiff — the
    // publish-audit question "what changed between version A and B" as
    // one query). Version A = the corpus minus the doc_id%11 rows with
    // the %17 rows' text amended (' v2' suffix); version B = the
    // corpus minus the %13 rows — so added/removed/changed rows all
    // genuinely occur and the oracle replays the same derivation. Both
    // sides collapse map-side to (doc_id, md5 row fingerprint); only
    // 16-byte digests reach the full outer join, never text. Report =
    // the non-unchanged rows. ----
    Query("q222_snapshot_diff", (s, dir) => {
      val d = t(s, dir, "documents")
      val old = d.where(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val nw = d.where(col("doc_id") % 13 =!= 0)
      graft.ops.Relational.snapshotDiff(old, nw, Seq("doc_id"),
          Seq("text", "lang", "source", "n_chars"))
        .where(col("change") =!= "unchanged")
    }, Some(
      // q222: replay the same two derived versions and the same
      // \x01-joined \x02-sentinel md5 row fingerprint (chr(1)/chr(2) in
      // DuckDB), classify via the full outer join, drop unchanged.
      """WITH old AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang, source, n_chars
        |  FROM documents WHERE doc_id % 11 <> 0),
        |nw AS (SELECT doc_id, text, lang, source, n_chars
        |       FROM documents WHERE doc_id % 13 <> 0),
        |o AS (SELECT doc_id, md5(concat_ws(chr(1),
        |        coalesce(text, chr(2)), coalesce(lang, chr(2)),
        |        coalesce(source, chr(2)),
        |        coalesce(CAST(n_chars AS VARCHAR), chr(2)))) AS fp
        |      FROM old),
        |n AS (SELECT doc_id, md5(concat_ws(chr(1),
        |        coalesce(text, chr(2)), coalesce(lang, chr(2)),
        |        coalesce(source, chr(2)),
        |        coalesce(CAST(n_chars AS VARCHAR), chr(2)))) AS fp
        |      FROM nw),
        |cls AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.fp <> n.fp THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, change FROM cls WHERE change <> 'unchanged'""".stripMargin)),

    // ---- PRETRAINING-RELEASE E2E (pipelines.PretrainRelease — the
    // export-side analogue of q100's admission chain, the chain a real
    // data release runs as ONE query: curation floor → exact dedup →
    // benchmark decontamination (bench = the %97≡0 split; 5-gram
    // shingles — the release-grade grain: the synthetic corpus's
    // shared phrase pool makes 3-grams wipe 98% of sf0.1, while 5-grams
    // leave a real-but-active contamination stage at both SFs) →
    // α=0.5 temperature mixture with weights over the CLEAN set
    // (q165's copies) → token-shard export + doc-span-capable stream +
    // VERIFIED manifest (q219's writer behind the verifyManifest
    // gate). Copy c of doc d packs as release_id = d·16 + c−1, so
    // copies are adjacent and the oracle replays the global order as
    // plain integer order. Scale shape: the gates move ids + 16-byte
    // digests only (quality flag map-only, dedup window on (id, fp),
    // contamination via broadcast bench shingles, mixture histogram
    // bounded driver state); document text shuffles exactly twice
    // (admitted-copies join + pack's offsets join), the token stream
    // once. The oracle shares q100's fp/dedup text, q81's shingle
    // CTEs, q165's mixture CTEs, and q219's stream tail verbatim —
    // OracleConsistencySpec pins the lockstep. ----
    Query("q232_pretrain_release", (s, dir) => {
      val d = t(s, dir, "documents")
      val path = tempResultDir("graft-q232") + "/release"
      graft.pipelines.PretrainRelease.releaseShards(
        docs = d.where(col("doc_id") % 97 =!= 0),
        bench = d.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        path = path, minTokens = 30, alphaQuarters = 2,
        vocab = 4096, seqLen = 64, seqsPerShard = 16, ngram = 5,
        nBuckets = 8)
        .select(col("shard_id"),
          expr("n_tokens div 64L").as("n_seqs"),
          col("n_tokens"), col("token_sum"), col("poly_mod"),
          lit(true).as("manifest_match"))
    }, Some(
      // q232: the whole release replayed — the SHARED
      // pretrainReleaseChainSql (q100's quality/fp/dedup text, q81's
      // shingle CTEs at n=5, q165's mixture CTEs over the CLEAN set),
      // then q219's stream tail over release_id = doc_id·16 + copy−1.
      // OracleConsistencySpec pins each shared fragment in lockstep with
      // its component oracle.
      s"""WITH ${pretrainReleaseChainSql()},
        |${tokenStreamCtes("release_id", "release")}
        |$shardStatsSql""".stripMargin)),

    // ---- RELEASE DOC-SPAN SIDECAR (PretrainRelease.releaseDocSpansTo
    // — q225's masking metadata at the RELEASE grain: where each
    // admitted copy starts inside each packed sequence of the q232
    // export, so a loader of the released shards resets attention
    // state at copy boundaries). Same gate chain as q232 (shared
    // CTEs, lockstep-pinned), q225's interval tail keyed by
    // release_id; O(release docs + crossings) rows, the token stream
    // never explodes. Since round 21 the sidecar MATERIALIZES to a
    // temp parquet (the path-scoped form a release ships): the eager
    // write lets the copy list persist across docSpans' two prefix-sum
    // passes, so the gate chain evaluates ONCE instead of once per
    // pass — identical rows, same oracle. ----
    Query("q233_release_doc_spans", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.pipelines.PretrainRelease.releaseDocSpansTo(
        docs = d.where(col("doc_id") % 97 =!= 0),
        bench = d.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        path = tempResultDir("graft-q233") + "/spans",
        minTokens = 30, alphaQuarters = 2, vocab = 4096, seqLen = 64,
        ngram = 5, nBuckets = 8)
        .select(col("seq_id"), col("doc_id").as("release_id"),
          col("start_off"), col("n_tokens"))
    }, Some(
      // q233: the SAME shared chain, then q225's interval tail keyed by
      // release_id — the sidecar and the shards derive from one chain
      // definition on both engines, so they cannot drift
      s"""WITH ${pretrainReleaseChainSql()},
        |ids AS (
        |  SELECT release_id,
        |    len(CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '\\s+') END) + 1 AS cost
        |  FROM release),
        |offs AS (
        |  SELECT release_id, cost,
        |    CAST(coalesce(sum(cost) OVER (ORDER BY release_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS doc_off,
        |    CAST(sum(cost) OVER () AS BIGINT) AS total
        |  FROM ids),
        |sp AS (
        |  SELECT release_id, cost, doc_off, total,
        |    unnest(range(doc_off // 64, (doc_off + cost - 1) // 64 + 1)) AS seq_id
        |  FROM offs)
        |SELECT seq_id, release_id,
        |  CAST(greatest(0, doc_off - seq_id * 64) AS BIGINT) AS start_off,
        |  CAST(least(doc_off + cost, (seq_id + 1) * 64)
        |       - greatest(doc_off, seq_id * 64) AS BIGINT) AS n_tokens
        |FROM sp WHERE seq_id < total // 64""".stripMargin)),

    // ---- RELEASE DATA CARD (PretrainRelease.releaseDataCard — the
    // per-group accounting a release ships in its model card: docs
    // admitted, training copies, stream tokens (EOS included — what
    // the shards actually encode), token share in ppm). Token costs
    // computed map-side at the scan; the copies join and the group
    // aggregate move ids + ints only; the cross-group total is a
    // window over the bounded group rows. Same shared chain as
    // q232/q233. ----
    Query("q234_release_data_card", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.pipelines.PretrainRelease.releaseDataCard(
        docs = d.where(col("doc_id") % 97 =!= 0),
        bench = d.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        minTokens = 30, alphaQuarters = 2, ngram = 5)
    }, Some(
      // q234: the SAME shared chain; the card aggregates admitted copies
      // joined back to the corpus slice (EOS-inclusive stream costs —
      // what the shards encode), share as floor(ppm + 0.5) in the
      // identical double op order on both engines
      s"""WITH ${pretrainReleaseChainSql()},
        |card AS (
        |  SELECT d.lang,
        |    CAST(count(DISTINCT cc.doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_copies,
        |    CAST(sum(len(CASE WHEN length(trim(cc.text)) = 0 THEN []
        |         ELSE string_split_regex(trim(cc.text), '\\s+') END) + 1)
        |      AS BIGINT) AS n_tokens
        |  FROM cc JOIN rel_docs d USING (doc_id)
        |  GROUP BY 1)
        |SELECT lang, n_docs, n_copies, n_tokens,
        |  CAST(floor(CAST(n_tokens AS DOUBLE) * 1000000.0
        |      / CAST(sum(n_tokens) OVER () AS DOUBLE) + 0.5) AS BIGINT)
        |    AS token_share_ppm
        |FROM card""".stripMargin)),

    // ---- INCREMENTAL RELEASE DROP (PretrainRelease.releaseDeltaShards
    // — "a new crawl landed after the release shipped": the %3≡0
    // slice releases first (full q232 chain, shards 0..k−1); the rest
    // arrives as a delta, runs the SAME admission gates (floor,
    // within-batch min-id dedup, anti-join against the RELEASED
    // fingerprints — 16 bytes per shipped doc, never text — and
    // benchmark decontamination) and packs into NEW files with shard
    // ids continuing after k. Shipped bytes are never rewritten;
    // per-drop packing keeps full windows only; the delta ships one
    // copy per doc (the mixture is a property of the initial release).
    // Both drops' bytes re-read and manifest-gated. ----
    Query("q235_release_delta", (s, dir) => {
      val d = t(s, dir, "documents")
      val base = tempResultDir("graft-q235")
      graft.pipelines.PretrainRelease.releaseDeltaShards(
        corpus = d.where(col("doc_id") % 97 =!= 0 && col("doc_id") % 3 === 0),
        batch = d.where(col("doc_id") % 97 =!= 0 && col("doc_id") % 3 =!= 0),
        bench = d.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        pathA = base + "/drop0", pathB = base + "/drop1",
        minTokens = 30, alphaQuarters = 2,
        vocab = 4096, seqLen = 64, seqsPerShard = 16, ngram = 5,
        nBuckets = 8)
    }, Some(
      // q235: the shared chain releases the %3≡0 slice (drop 0); the
      // delta replays the SAME admission gates against the RELEASED
      // fingerprints (relfp ← clean) and the chain's own bench shingles
      // (bsh), then both drops run q219's stream tail — the delta's
      // shard ids offset to continue after drop 0's last file
      s"""WITH ${pretrainReleaseChainSql("doc_id % 97 <> 0 AND doc_id % 3 = 0")},
        |${tokenStreamCtes("release_id", "release", "a_")},
        |a_off AS (
        |  SELECT CASE WHEN coalesce(max(total), 0) // 64 = 0 THEN 0
        |              ELSE (coalesce(max(total), 0) // 64 - 1) // 16 + 1
        |         END AS shard_off
        |  FROM a_offs),
        |bq AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 97 <> 0 AND doc_id % 3 <> 0
        |    AND len(string_split_regex(trim(text), '\\s+')) >= 30),
        |bfp AS (
        |  SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f FROM bq),
        |bdedup AS (
        |  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY f) AS canon FROM bfp)
        |  WHERE doc_id = canon),
        |relfp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
        |  FROM clean),
        |bfresh AS (
        |  SELECT doc_id, text FROM bdedup
        |  WHERE f NOT IN (SELECT f FROM relfp)),
        |bfsh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 5 + 2),
        |                i -> array_to_string(toks[i:i+4], ' ')) END AS shingles
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM bfresh)),
        |bcont AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM bfsh) t
        |  JOIN bsh USING (shingle)),
        |bclean AS (
        |  SELECT doc_id, text FROM bfresh
        |  WHERE doc_id NOT IN (SELECT doc_id FROM bcont)),
        |brel AS (SELECT doc_id * 16 AS release_id, text FROM bclean),
        |${tokenStreamCtes("release_id", "brel", "b_", Some("a_off"))}
        |SELECT 0 AS drop_no, shard_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(tid) AS BIGINT) AS token_sum,
        |  CAST(CAST(sum(rn * (tid + 1)) AS HUGEINT) % 1000000007 AS BIGINT)
        |    AS poly_mod
        |FROM a_st GROUP BY 2
        |UNION ALL
        |SELECT 1 AS drop_no, shard_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(tid) AS BIGINT) AS token_sum,
        |  CAST(CAST(sum(rn * (tid + 1)) AS HUGEINT) % 1000000007 AS BIGINT)
        |    AS poly_mod
        |FROM b_st GROUP BY 2""".stripMargin)),

    // ---- TRAINING-ORDER MANIFEST (PretrainRelease.releaseEpochOrder
    // — the per-epoch consumption order a loader of the released
    // shards follows: every released sequence gets a deterministic
    // shuffled position per epoch, q85's two-pass md5 order at
    // sequence grain). The sequence count comes from the chain's
    // ids-only cost sum — one bounded driver scalar; the manifest plan
    // is a parallel range, no text anywhere. ----
    Query("q236_release_epoch_order", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.pipelines.PretrainRelease.releaseEpochOrder(
        docs = d.where(col("doc_id") % 97 =!= 0),
        bench = d.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        minTokens = 30, alphaQuarters = 2, seqLen = 64, epochs = 2,
        ngram = 5, nPartitions = 8)
    }, Some(
      // q236: the shared chain's ids-only cost sum sizes the sequence
      // table; positions are q85's md5 order per epoch (the ':seed' salt
      // rendered as ':' || epoch)
      s"""WITH ${pretrainReleaseChainSql()},
        |rtot AS (
        |  SELECT coalesce(CAST(sum(len(CASE WHEN length(trim(text)) = 0 THEN []
        |       ELSE string_split_regex(trim(text), '\\s+') END) + 1) AS BIGINT), 0)
        |    AS total
        |  FROM cc),
        |seqs AS (
        |  SELECT unnest(range((SELECT total // 64 FROM rtot))) AS seq_id),
        |e AS (SELECT 0 AS epoch UNION ALL SELECT 1 AS epoch),
        |keyed AS (
        |  SELECT e.epoch, s.seq_id,
        |    md5(CAST(s.seq_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR))
        |      AS shuffle_key
        |  FROM seqs s, e)
        |SELECT epoch, seq_id, shuffle_key,
        |  row_number() OVER (PARTITION BY epoch ORDER BY shuffle_key) - 1 AS pos
        |FROM keyed""".stripMargin)),

    // ---- RELEASE FUNNEL (PretrainRelease.releaseFunnel — the
    // one-row audit header of the release: per-stage survivor counts,
    // candidates → quality floor → dedup canonical → decontaminated →
    // training copies; q155's funnel discipline applied to the q232
    // chain). All counts ids-only distributed aggregates; five
    // scalars reach the driver. ----
    Query("q237_release_funnel", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.pipelines.PretrainRelease.releaseFunnel(
        docs = d.where(col("doc_id") % 97 =!= 0),
        bench = d.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        minTokens = 30, alphaQuarters = 2, ngram = 5)
    }, Some(
      // q237: the shared chain's stage CTEs counted directly — the
      // funnel and the release derive from one chain definition
      s"""WITH ${pretrainReleaseChainSql()}
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM rel_docs) AS n_candidates,
        |  (SELECT CAST(count(*) AS BIGINT) FROM quality) AS n_quality,
        |  (SELECT CAST(count(*) AS BIGINT) FROM dedup) AS n_dedup,
        |  (SELECT CAST(count(*) AS BIGINT) FROM clean) AS n_clean,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cc) AS n_copies""".stripMargin)),

    // ---- DOC-BOUNDARY SIDECAR of the token-shard export
    // (io.TokenShards.docSpans — the masking metadata a real training
    // shard ships with: where each document starts inside each packed
    // sequence, so the loader resets attention/position state and
    // packed sequences train without cross-document attention).
    // Computed at DOC grain straight from the shared offsets stage —
    // a bounded integer explode per doc, never the token stream:
    // O(docs + sequence-crossings) rows, not O(tokens). The oracle
    // replays the same interval arithmetic from the cumulative
    // window; q219's bytes and this sidecar derive from ONE offsets
    // definition, so they cannot drift. ----
    Query("q225_shard_doc_spans", (s, dir) =>
      graft.io.TokenShards.docSpans(t(s, dir, "documents"), "doc_id", "text",
        vocab = 4096, seqLen = 64, nBuckets = 8),
      // q225: doc-grain replay of the span arithmetic — cost = token
      // count + EOS, offsets via the cumulative window (q219's stream
      // definition), one row per (sequence, doc) interval overlap,
      // clipped to the complete-sequence count.
      Some("""WITH ids AS (
        |  SELECT doc_id,
        |    len(CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '\s+') END) + 1 AS cost
        |  FROM documents),
        |offs AS (
        |  SELECT doc_id, cost,
        |    CAST(coalesce(sum(cost) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS doc_off,
        |    CAST(sum(cost) OVER () AS BIGINT) AS total
        |  FROM ids),
        |sp AS (
        |  SELECT doc_id, cost, doc_off, total,
        |    unnest(range(doc_off // 64, (doc_off + cost - 1) // 64 + 1)) AS seq_id
        |  FROM offs)
        |SELECT seq_id, doc_id,
        |  CAST(greatest(0, doc_off - seq_id * 64) AS BIGINT) AS start_off,
        |  CAST(least(doc_off + cost, (seq_id + 1) * 64)
        |       - greatest(doc_off, seq_id * 64) AS BIGINT) AS n_tokens
        |FROM sp WHERE seq_id < total // 64""".stripMargin)),

    // ---- CDC ROUND TRIP (ops.Relational.changeFeed/applyChangeFeed —
    // q222's diff made actionable: the feed carries the new payload
    // for upserts and NULL for removals, and applying it to version A
    // must reconstruct version B EXACTLY). Same derived versions as
    // q222; the report aggregates the RECONSTRUCTED table per (lang,
    // source) with the content checksum, so any wrong/missing/extra
    // row after apply breaks the hash gate — the oracle aggregates
    // the derived version B directly. Feed payloads join back only
    // for touched keys; the diff itself still moves digests only. ----
    Query("q224_cdc_roundtrip", (s, dir) => {
      val d = t(s, dir, "documents")
      val old = d.where(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val nw = d.where(col("doc_id") % 13 =!= 0)
      val vals = Seq("text", "lang", "source", "n_chars")
      // the feed is a shipped artifact in real CDC (the batch another
      // system consumes) — materialize it, then apply FROM DISK, so
      // the returned plan is old + feed, not a re-planned diff per use
      val feedPath = tempResultDir("graft-q224") + "/feed"
      graft.ops.Relational.changeFeed(old, nw, Seq("doc_id"), vals)
        .write.mode("overwrite").parquet(feedPath)
      val feed = s.read.parquet(feedPath)
      graft.ops.Relational.applyChangeFeed(old, feed, Seq("doc_id"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"))
    }, Some(
      // q224: the reconstruction must equal version B exactly, so the
      // oracle aggregates the derived version B directly
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
        |    AS text_checksum
        |FROM documents WHERE doc_id % 13 <> 0 GROUP BY 1, 2""".stripMargin)),

    // ---- RAW-TEXT corpus shards (io.RawText — the other corpus
    // delivery format next to JSONL: plain .txt.gz, one doc per
    // line): documents' text writes out as 4 gzip text shards and
    // reads back through the native text source; the report is ONE
    // order-independent row (count, char total, md5 content
    // checksum), so any line mangling — splitting, truncation,
    // encoding damage — fails the hash gate. Line mode cannot carry
    // embedded newlines by format contract (this corpus has none);
    // the per-FILE wholetext mode is RawTextSpec's. ----
    Query("q215_rawtext_ingest", (s, dir) => {
      val d = t(s, dir, "documents")
      val path = tempResultDir("graft-q215") + "/docs_txt"
      graft.io.RawText.writeLines(d.select(col("text")).repartition(4), path)
      graft.io.RawText.readLines(s, path)
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("value"))).as("chars_total"),
          sum(conv(substring(md5(col("value")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"))
    }, Some(
      // q215: the raw-text round trip is value-invisible — one
      // order-independent report row replayed from parquet
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS chars_total,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
        |    AS text_checksum
        |FROM documents""".stripMargin)),

    // ---- semicolon-CSV delivery AUDIT (Csv2.readAudit — the q212
    // corrupt-capture convention on the reference's own interchange
    // format): documents write as one `;`-CSV via Csv2.write, plus a
    // planted shard whose data line has 7 fields against the 5-column
    // schema; PERMISSIVE capture lands it whole in _corrupt_record
    // (data columns null), where it surfaces as the (NULL, NULL)
    // group with n_corrupt = 1 — leaking it into a real group or
    // dropping it breaks the hash gate. ----
    Query("q216_csv2_audit", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val d = t(s, dir, "documents")
      val path = tempResultDir("graft-q216") + "/docs_csv"
      graft.io.Csv2.write(
        d.select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")), path)
      // its own shard with a header line (the directory-read contract
      // skips line 1 per file) and ONE 7-field data line
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "shard-corrupt.csv"),
        "doc_id;text;lang;source;n_chars\n-1;torn;line;with;too;many;fields\n")
      val back = graft.io.Csv2.readAudit(s, path, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      back.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"),
          sum(when(col(graft.io.Csv2.CorruptCol).isNotNull, 1L)
            .otherwise(0L)).as("n_corrupt"))
    }, Some(
      // q216: q209's per-group replay plus the planted corrupt line's
      // (NULL, NULL) group — exactly one row, all data aggregates NULL
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
        |    AS text_checksum,
        |  CAST(0 AS BIGINT) AS n_corrupt
        |FROM documents GROUP BY 1, 2
        |UNION ALL
        |SELECT NULL AS lang, NULL AS source, CAST(1 AS BIGINT) AS n_docs,
        |  CAST(NULL AS BIGINT) AS chars_total,
        |  CAST(NULL AS BIGINT) AS text_checksum, CAST(1 AS BIGINT) AS n_corrupt""".stripMargin))
  )

  /** The q232–q235 pretraining-release gate chain — floor → min-id
    * dedup → 5-gram decontamination → α=0.5 temperature mixture →
    * release ids — ONE builder shared by the shard export, the
    * doc-span sidecar, the data card and the delta drop so none can
    * drift (the corpusIngestChainSql convention). Fragments replay
    * q100's fingerprint/dedup text, q81's shingle shape (n=5) and
    * q165's mixture CTEs; OracleConsistencySpec pins each lockstep.
    * `relPred` selects the candidate corpus (q235 releases only the
    * %3≡0 slice first, then drops the rest incrementally). */
  private def pretrainReleaseChainSql(
      relPred: String = "doc_id % 97 <> 0"): String =
    s"""rel_docs AS (
      |  SELECT doc_id, text, lang FROM documents WHERE $relPred),
      |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
      |quality AS (
      |  SELECT * FROM rel_docs WHERE len(string_split_regex(trim(text), '\\s+')) >= 30),
      |fp AS (
      |  SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f FROM quality),
      |dedup AS (
      |  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY f) AS canon FROM fp)
      |  WHERE doc_id = canon),
      |fsh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 5 + 2),
      |                i -> array_to_string(toks[i:i+4], ' ')) END AS shingles
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM dedup)),
      |bsh AS (
      |  SELECT DISTINCT unnest(
      |    CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 5 + 2),
      |                i -> array_to_string(toks[i:i+4], ' ')) END) AS shingle
      |  FROM (SELECT string_split_regex(trim(text), '\\s+') AS toks FROM bench)),
      |contaminated AS (
      |  SELECT DISTINCT t.doc_id
      |  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM fsh) t
      |  JOIN bsh USING (shingle)),
      |clean AS (
      |  SELECT doc_id, text, lang FROM dedup
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |g AS (SELECT lang, count(*) AS n FROM clean GROUP BY 1),
      |ga AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS a FROM g),
      |tot AS (SELECT sum(n) AS nn,
      |          sum(CAST(floor(a*1048576.0 + 0.5) AS BIGINT)) AS s FROM ga),
      |wd AS (SELECT d.doc_id, d.text,
      |         (CAST(tot.nn AS DOUBLE) * ga.a * 1048576.0)
      |           / (CAST(ga.n AS DOUBLE) * CAST(tot.s AS DOUBLE)) AS w
      |       FROM clean d JOIN ga ON d.lang = ga.lang, tot),
      |c AS (SELECT doc_id, text,
      |        CAST(floor(w) AS INTEGER) +
      |          CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT) AS DOUBLE)
      |                 / CAST(4294967296 AS DOUBLE) < w - floor(w)
      |               THEN 1 ELSE 0 END AS n_copies
      |      FROM wd),
      |cc AS (SELECT doc_id, text,
      |         CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_no
      |       FROM c WHERE n_copies >= 1),
      |release AS (
      |  SELECT doc_id * 16 + copy_no - 1 AS release_id, text FROM cc)""".stripMargin
}
