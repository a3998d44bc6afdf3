package graft
package queries

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers used by more than one query family: the table loader, the
  * fixed-point and rounding idioms both engines must share, the
  * streaming events read, the temp-dir reaper, the IVFADC index and
  * state caches, and the oracle SQL fragments that several families'
  * oracles interpolate. Nothing here refers to a family object or to
  * `SparkEntry`, so object initialisation cannot form a cycle. */
object Shared {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Temp dir for queries that materialize a table mid-query (q94,
    * q95, q139, q142) and for tools that write scratch output. The
    * returned DataFrame is evaluated AFTER the query function returns,
    * so the dir cannot be deleted inline; a JVM shutdown hook reaps
    * every dir instead — repeated bench samples no longer accumulate
    * table copies for the life of the machine. */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { d =>
        try
          java.nio.file.Files.walk(java.nio.file.Paths.get(d))
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        catch { case _: Throwable => () }
      }))
  }

  private[graft] def tempResultDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(d)
    d
  }

  /** q169's written IVFADC index, memoized per sf dir: building is the
    * one-time batch job of the serving story, so repeated invocations
    * (bench medians, scale-curve passes) probe the SAME written index;
    * the dirs ride the [[tempDirs]] shutdown reaper. */
  private[queries] val ivfPqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      graft.similarity.Ann.IvfPqIndex]()

  /** q203's trained per-direction quantizer states, memoized per sf
    * dir (the [[ivfPqIndexCache]] pattern): training is the rare
    * batch job of the mining story, so repeated invocations (bench
    * medians, scale-curve passes) measure CODING + PROBING + RE-RANK —
    * the serving cost — not quantizer re-training. q207 keeps the
    * uncached in-query training gated as the honest E2E twin. */
  private[queries] val ivfPqStateCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      graft.similarity.Ann.IvfPqState]()

  /** Streaming read of the events table with the same schema-adaptive
    * `ts` normalization as the batch path (`Tables.normalizeEventsTs`):
    * the harness has generated events.ts both as INT64 TIMESTAMP(NANOS)
    * (surfacing as a raw long under nanosAsLong) and as native micros. */
  private[queries] def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.observedSchema(s, dir, "events")
    Tables.normalizeEventsTs(s, s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** round(x*10^s) as bigint — exact fixed-point per-row scaling. */
  private[graft] def cents(c: Column, scale: Int): Column =
    round(c * math.pow(10, scale)).cast("long")

  /** Engine-stable 6-decimal rounding for NON-NEGATIVE values:
    * `floor(x*1e6 + 0.5)/1e6`, the exact float sequence DuckDB's
    * `floor(x*1e6 + 0.5)/1e6` runs. Spark's `round()` goes through
    * BigDecimal (exact decimal view of the double) while DuckDB's
    * multiplies in floating point — on values that land exactly on a
    * .5 e-6 boundary the two disagree by 1 ulp (seen at sf0.1). The
    * matching SQL is [[round6Sql]]. */
  private[queries] def round6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  private[queries] def round6Sql(expr: String): String =
    s"floor(($expr)*1e6 + 0.5)/1e6"

  private[queries] val extDisc: Column =
    col("l_extendedprice") * (lit(1) - col("l_discount"))

  private[queries] def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

  /** The m per-subspace Lloyd CTE chains (no WITH header) over any
    * source CTE exposing (vec_id, v) — `src = "e"` for q159/q160's
    * direct PQ, `src = "res"` for q162's residual PQ. */
  private[queries] def pqSubCtes(m: Int, k: Int, dim: Int, src: String,
                                 trainPred: Option[String] = None,
                                 pfx: String = "",
                                 subsetInit: Boolean = false): String = {
    require(dim % m == 0)
    val sub = dim / m
    val perSub = (0 until m).map { s0 =>
      // `pfx` namespaces every CTE so two chains (e.g. the two
      // directions of the bitext oracle) compose in one WITH;
      // `subsetInit` switches the lowest-id codebook init from the
      // dense-id shortcut (vec_id < k) to the general ORDER BY/LIMIT
      // form a subset corpus needs (same set, order-isomorphic cids).
      // Defaults emit byte-identical text to the pre-refactor
      // generator (OracleConsistencySpec pins the shared fragments).
      val s = pfx + s0
      val lo = s0 * sub + 1; val hi = (s0 + 1) * sub
      // see ivfPqAdcCtes: train over `et_N` when trainPred is set,
      // final assignment (d1_N/a1_N) always over the full e_N
      val tr = if (trainPred.isDefined) s"et_$s" else s"e_$s"
      val etCte = trainPred
        .map(p => s"et_$s AS (SELECT * FROM e_$s WHERE $p),\n").getOrElse("")
      val init = if (subsetInit) s"ORDER BY vec_id LIMIT $k" else s"WHERE vec_id < $k"
      s"""e_$s AS (SELECT vec_id, v[$lo:$hi] AS v FROM $src),
         |${etCte}c0_$s AS (SELECT vec_id AS cid, v AS cv FROM $tr $init),
         |d0_$s AS (SELECT $tr.vec_id, c0_$s.cid,
         |         CAST(floor(list_sum(list_transform(list_zip($tr.v, c0_$s.cv),
         |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |       FROM $tr, c0_$s),
         |a0_$s AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) rk
         |         FROM d0_$s) t
         |       WHERE rk = 1),
         |ex_$s AS (SELECT vec_id,
         |         unnest(list_transform(v, (x, i) -> {'dim': i, 'x': x}),
         |                recursive := true)
         |       FROM $tr),
         |upd_$s AS (SELECT a0_$s.cid, ex_$s.dim,
         |          sum(CAST(floor(ex_$s.x*1048576.0 + 0.5) AS BIGINT)) AS s,
         |          count(*) AS n
         |        FROM ex_$s JOIN a0_$s USING (vec_id) GROUP BY 1, 2),
         |c1_$s AS (SELECT cid, list(s/(n*1048576.0) ORDER BY dim) AS cv
         |       FROM upd_$s GROUP BY cid),
         |d1_$s AS (SELECT e_$s.vec_id, c1_$s.cid,
         |         CAST(floor(list_sum(list_transform(list_zip(e_$s.v, c1_$s.cv),
         |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |       FROM e_$s, c1_$s),
         |a1_$s AS (SELECT vec_id, cid, dm FROM (
         |         SELECT vec_id, cid, dm,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) rk
         |         FROM d1_$s) t
         |       WHERE rk = 1)""".stripMargin
    }
    perSub.mkString(",\n")
  }

  /** q200's oracle, shared verbatim by its streaming twin q205 (the
    * q190/q196 convention: batch-identical single-micro-batch runs
    * ride the batch oracle). The A/A split (even/odd event_id), the
    * fixed-order transcendental term and the micros snap mirror
    * `Drift.psiFromCounts` token for token. */
  /** The q100 admission-chain CTE block (corpus ∪ surviving batch docs
    * after quality floor → within-batch exact dedup → against-corpus
    * anti-join → decontamination), shared verbatim by the q100 replay
    * and q212's JSONL-fed E2E so the two oracles cannot drift. Ends at
    * the `clean` CTE; callers add their own final SELECT. */
  private[queries] val corpusIngestChainSql: String =
    """corpus AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 3 = 0),
      |batch AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 3 <> 0),
      |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
      |quality AS (
      |  SELECT * FROM batch WHERE len(string_split_regex(trim(text), '\s+')) >= 30),
      |fp AS (
      |  SELECT *, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f FROM quality),
      |dedup AS (
      |  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY f) AS canon FROM fp)
      |  WHERE doc_id = canon),
      |corpusfp AS (
      |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      |  FROM corpus),
      |fresh AS (
      |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM dedup d
      |  WHERE NOT EXISTS (SELECT 1 FROM corpusfp c WHERE c.f = d.f)),
      |fsh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 3 + 2),
      |                i -> array_to_string(toks[i:i+2], ' ')) END AS shingles
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM fresh)),
      |bsh AS (
      |  SELECT DISTINCT unnest(
      |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 3 + 2),
      |                i -> array_to_string(toks[i:i+2], ' ')) END) AS shingle
      |  FROM (SELECT string_split_regex(trim(text), '\s+') AS toks FROM bench)),
      |contaminated AS (
      |  SELECT DISTINCT t.doc_id
      |  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM fsh) t
      |  JOIN bsh USING (shingle)),
      |clean AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM fresh
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))""".stripMargin

  private[queries] val DriftPsiOracleSql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
      |    CAST(sum(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT *, CAST(sum(c_ref) OVER () AS BIGINT) AS n_ref,
      |    CAST(sum(c_cur) OVER () AS BIGINT) AS n_cur FROM c),
      |t AS (
      |  SELECT *, CASE WHEN c_ref > 0 AND c_cur > 0 THEN CAST(floor(
      |      (CAST(c_cur AS DOUBLE) / CAST(n_cur AS DOUBLE)
      |        - CAST(c_ref AS DOUBLE) / CAST(n_ref AS DOUBLE))
      |      * ln((CAST(c_cur AS DOUBLE) * CAST(n_ref AS DOUBLE))
      |            / (CAST(c_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)))
      |      * 1e6 + 0.5) AS BIGINT) END AS term_micros FROM w)
      |SELECT event_type, c_ref, c_cur, term_micros,
      |  COALESCE(CAST(sum(term_micros) OVER () AS BIGINT), 0) AS psi_total_micros,
      |  COALESCE(CAST(sum(term_micros) OVER () AS BIGINT), 0) >= 200000 AS drifted
      |FROM t""".stripMargin

  /** q203's oracle: BOTH directional bounded-probe searches of the
    * approximate bitext miner, each a full [[ivfPqAdcCtes]] two-level
    * quantizer chain (prefixes `f`/`b`) trained on its own label-split
    * corpus with the OTHER side as queries, ADC-shortlisted to
    * `shortlist`, re-ranked by the exact cosine off the RAW float
    * embeddings (q176's cosine text, same round/tie order as
    * `Ann.ivfPqCosineTopK`), then q176's margin tail verbatim over
    * the two approximate top-`k` lists. */
  /** q219's shard-stream replay, shared VERBATIM with its byte-free
    * twin q238: the stream is replayed arithmetically (gpos computed
    * from cumulative doc costs, never from row order), cut at the
    * complete-sequence boundary, and reduced per shard to count / sum
    * / position-weighted polynomial mod 1e9+7. */
  private[queries] val tokenShardsStreamOracleSql: String =
    """WITH ids AS (
      |  SELECT doc_id,
      |    list_append(
      |      list_transform(
      |        CASE WHEN length(trim(text)) = 0 THEN []
      |             ELSE string_split_regex(trim(text), '\s+') END,
      |        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 4096),
      |      4096) AS ids
      |  FROM documents),
      |offs AS (
      |  SELECT doc_id, ids,
      |    coalesce(sum(len(ids)) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS doc_off,
      |    sum(len(ids)) OVER () AS total
      |  FROM ids),
      |toks AS (
      |  SELECT doc_off + i AS gpos, ids[i + 1] AS tid, total
      |  FROM (SELECT doc_off, ids, total, unnest(range(len(ids))) AS i
      |        FROM offs) t),
      |sh AS (
      |  SELECT CAST((gpos // 64) // 16 AS BIGINT) AS shard_id, gpos, tid
      |  FROM toks WHERE gpos < (total // 64) * 64),
      |st AS (
      |  SELECT shard_id, tid,
      |    row_number() OVER (PARTITION BY shard_id ORDER BY gpos) AS rn
      |  FROM sh)
      |SELECT shard_id, CAST(count(*) // 64 AS BIGINT) AS n_seqs,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(tid) AS BIGINT) AS token_sum,
      |  CAST(CAST(sum(rn * (tid + 1)) AS HUGEINT) % 1000000007 AS BIGINT)
      |    AS poly_mod,
      |  true AS manifest_match
      |FROM st GROUP BY 1""".stripMargin

  /** Shared q162/q164 CTE chain: coarse Lloyd → residuals →
    * per-subspace PQ → probe → per-subspace ADC scores → `adc`. */
  private[queries] def ivfPqAdcCtes(kc: Int, m: Int, k: Int, dim: Int,
                                    nQueries: Int, nprobe: Int,
                                    trainPred: Option[String] = None,
                                    codePred: Option[String] = None,
                                    pfx: String = "",
                                    corpusPred: Option[String] = None,
                                    queryPred: Option[String] = None): String = {
    val sub = dim / m
    // q203's bitext variant: `pfx` namespaces EVERY CTE so two whole
    // chains (the forward and backward search directions, each with
    // its own corpus/query split of the embeddings table) compose in
    // one WITH; `corpusPred` restricts the indexed corpus (switching
    // the lowest-id inits to the general ORDER BY/LIMIT form, since a
    // subset's lowest ids are no longer 0..k-1); `queryPred` draws the
    // query set from its own embeddings predicate instead of the dense
    // vec_id < nQueries shortcut. All defaults emit byte-identical
    // text to the pre-refactor generator (OracleConsistencySpec pins
    // the shared fragments).
    val P = pfx
    // q192's append variant: the quantizer levels TRAIN over the base
    // rows only (`et`), while the final assignment/coding chains
    // (d1/a1/res and the per-subspace d1_s/a1_s) stay over the full
    // corpus — exactly what build-on-base + frozen-state delta coding
    // produces. With trainPred = None the emitted text is byte-
    // identical to the shared q162/q164/q169 chain
    // (OracleConsistencySpec pins that stability).
    val tr = if (trainPred.isDefined) s"${P}et" else s"${P}e"
    val etCte = trainPred
      .map(p => s"${P}et AS (SELECT * FROM ${P}e WHERE $p),\n").getOrElse("")
    // q197's delete variant: the state is trained and the corpus coded
    // in full; deletion only removes candidates from the searched set,
    // so the oracle is ONE extra predicate on the scored neighbors
    // (None emits the byte-identical shared chain).
    val codeFilter = codePred.map(p => s" AND $p").getOrElse("")
    val coarseInit =
      if (corpusPred.isDefined) s"ORDER BY vec_id LIMIT $kc"
      else s"WHERE vec_id < $kc"
    val coarse =
      s"""${etCte}${P}c0 AS (SELECT vec_id AS cid, v AS cv FROM $tr $coarseInit),
         |${P}d0 AS (SELECT $tr.vec_id, ${P}c0.cid,
         |         CAST(floor(list_sum(list_transform(list_zip($tr.v, ${P}c0.cv),
         |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |       FROM $tr, ${P}c0),
         |${P}a0 AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) rk
         |         FROM ${P}d0) t
         |       WHERE rk = 1),
         |${P}ex AS (SELECT vec_id,
         |         unnest(list_transform(v, (x, i) -> {'dim': i, 'x': x}),
         |                recursive := true)
         |       FROM $tr),
         |${P}upd AS (SELECT ${P}a0.cid, ${P}ex.dim,
         |          sum(CAST(floor(${P}ex.x*1048576.0 + 0.5) AS BIGINT)) AS s,
         |          count(*) AS n
         |        FROM ${P}ex JOIN ${P}a0 USING (vec_id) GROUP BY 1, 2),
         |${P}c1 AS (SELECT cid, list(s/(n*1048576.0) ORDER BY dim) AS cv
         |       FROM ${P}upd GROUP BY cid),
         |${P}d1 AS (SELECT ${P}e.vec_id, ${P}c1.cid,
         |         CAST(floor(list_sum(list_transform(list_zip(${P}e.v, ${P}c1.cv),
         |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |       FROM ${P}e, ${P}c1),
         |${P}a1 AS (SELECT vec_id, cid, dm FROM (
         |         SELECT vec_id, cid, dm,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) rk
         |         FROM ${P}d1) t
         |       WHERE rk = 1),
         |${P}res AS (SELECT ${P}e.vec_id, ${P}a1.cid AS gcell,
         |          list_transform(list_zip(${P}e.v, ${P}c1.cv), p -> p[1]-p[2]) AS v
         |        FROM ${P}e JOIN ${P}a1 USING (vec_id) JOIN ${P}c1 ON ${P}a1.cid = ${P}c1.cid)""".stripMargin
    val scoreCtes = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"""${P}s_$s AS (SELECT ${P}probe.query_id, ${P}res.vec_id AS neighbor_id,
         |    CAST(floor(list_sum(list_transform(list_zip(${P}probe.qr[$lo:$hi], c1_$P$s.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |  FROM ${P}probe JOIN ${P}res ON ${P}probe.gcell = ${P}res.gcell
         |    JOIN a1_$P$s ON a1_$P$s.vec_id = ${P}res.vec_id
         |    JOIN c1_$P$s ON c1_$P$s.cid = a1_$P$s.cid)""".stripMargin
    }
    val joins = (1 until m).map(s =>
      s"JOIN ${P}s_$s USING (query_id, neighbor_id)").mkString(" ")
    val adc = (0 until m).map(s => s"${P}s_$s.dm").mkString(" + ")
    val corpusWhere = corpusPred.map(p => s" WHERE $p").getOrElse("")
    val qCte = queryPred match {
      case None =>
        s"${P}q AS (SELECT vec_id AS query_id, v AS qv FROM ${P}e WHERE vec_id < $nQueries),"
      case Some(qp) =>
        s"""${P}qe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |           FROM embeddings WHERE $qp),
           |${P}q AS (SELECT vec_id AS query_id, v AS qv FROM ${P}qe),""".stripMargin
    }
    s"WITH ${P}e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\n" +
      s"           FROM embeddings$corpusWhere),\n" + coarse + ",\n" +
      pqSubCtes(m, k, dim, src = s"${P}res", trainPred = trainPred,
        pfx = P, subsetInit = corpusPred.isDefined) +
      s""",
         |$qCte
         |${P}qd AS (SELECT ${P}q.query_id, ${P}q.qv, ${P}c1.cid AS gcell, ${P}c1.cv AS gcv,
         |         CAST(floor(list_sum(list_transform(list_zip(${P}q.qv, ${P}c1.cv),
         |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS gdm
         |       FROM ${P}q, ${P}c1),
         |${P}probe AS (SELECT query_id, gcell,
         |            list_transform(list_zip(qv, gcv), p -> p[1]-p[2]) AS qr
         |          FROM (SELECT *, row_number() OVER (
         |                  PARTITION BY query_id ORDER BY gdm, gcell) rk
         |                FROM ${P}qd) t
         |          WHERE rk <= $nprobe),
         |${scoreCtes.mkString(",\n")},
         |${P}adc AS (SELECT query_id, neighbor_id, CAST($adc AS BIGINT) AS adc_micros
         |        FROM ${P}s_0 $joins
         |        WHERE query_id <> neighbor_id$codeFilter)""".stripMargin
  }

  /** q45/q106 lockstep md5-MinHash tuning: k signature components in
    * `bands` bands at Jaccard threshold tau (micros). BOTH the engine
    * call sites and the oracle-SQL interpolations (the
    * [[md5SigCtes]] digest-group/band structure, the agreement floor
    * via `Dedup.md5AgreeMin`) read these — retuning one side cannot
    * silently desync the other. */
  private[graft] val Md5MinhashK = 16

  private[graft] val Md5MinhashBands = 2

  private[graft] val Md5MinhashTauMicros = 950000L

  private[queries] def md5MinhashAgreeMin: Long =
    graft.dedup.Dedup.md5AgreeMin(Md5MinhashK, Md5MinhashTauMicros)

  /** Shared md5-MinHash oracle fragments (q44/q45/q106 — the round-17
    * upgrade of the signature family to hash-exact oracles via the
    * q202 md5-arithmetic technique; OracleConsistencySpec pins the
    * consumers stay in lockstep): whitespace tokens of non-blank docs
    * (blank docs carry no signature, the engine contract), the
    * 16-permutation md5-slice hash table (permutation i = hex digits
    * 8·(i%4)+1..+8 of md5(u || ':' || i/4) — `Dedup.md5Slice`),
    * per-doc minima, and the 2-band × 8-minima band-key strings. */
  private[queries] def md5SigCtes: String =
    s"""docs AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
       |  WHERE length(trim(text)) > 0),
       |tok AS (SELECT DISTINCT doc_id, unnest(toks) AS u FROM docs),
       |hx AS (SELECT doc_id, u, g * 4 + j AS i,
       |    CAST(('0x' || substr(md5(u || ':' || g), 1 + 8 * j, 8)) AS BIGINT) AS h
       |  FROM tok CROSS JOIN range(${Md5MinhashK / 4}) rg(g) CROSS JOIN range(4) rj(j)),
       |sig AS (SELECT doc_id, i, min(h) AS mh FROM hx GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, CAST(i // ${Md5MinhashK / Md5MinhashBands} AS VARCHAR) || '|' ||
       |    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i) AS band
       |  FROM sig GROUP BY doc_id, i // ${Md5MinhashK / Md5MinhashBands})""".stripMargin
}
