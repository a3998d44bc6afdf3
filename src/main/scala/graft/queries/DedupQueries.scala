package graft
package queries

import graft.dedup.Dedup
import graft.functions.{HashFunctions, VectorFunctions}
import graft.queries.Shared._
import graft.similarity.Ann
import graft.text.Text
import org.apache.spark.sql.functions._

/** Corpus dedup and similarity queries: exact, winnowing, MinHash and
  * SimHash near-duplicate detection, semantic dedup, duplicated spans,
  * exact and approximate nearest neighbours (LSH, IVF, PQ, IVFADC and
  * its written-index lifecycle), bitext mining and hybrid/BM25/fusion
  * retrieval. Each query is declared once, next to its DuckDB oracle
  * SQL, or with `None` where no SQL replay exists (rows-only). */
object DedupQueries {

  lazy val all: Seq[Query] = Seq(

    // ---- winnowing canonical ids (md5-arithmetic since round 17 —
    // ORACLE-GATED): the O(n)-output doc->representative form over
    // md5 robust-winnowing fingerprints; chain collapse pinned by
    // TextAndDedupSpec ----
    Query("q105_winnow_canonical", (s, dir) =>
      graft.dedup.Dedup.winnowCanonicalIdsMd5(t(s, dir, "documents"), "text", "doc_id"),
      // q105: md5 winnowing canonical ids — distinct selected hashes per
      // doc, stop-fingerprint df <= 50, doc -> fingerprint-min-rep
      // candidates verified on true surviving-set intersection >= 2,
      // recursive CC closure, one row per doc
      Some(s"""WITH RECURSIVE ${winnowSelCtes(16, 8)},
         |fps AS (SELECT DISTINCT doc_id, h AS fp FROM sel),
         |rare AS (SELECT fp, min(doc_id) AS rep FROM fps
         |  GROUP BY fp HAVING count(*) <= 50),
         |surv AS (SELECT f.doc_id, f.fp FROM fps f
         |  WHERE f.fp IN (SELECT fp FROM rare)),
         |cand AS (SELECT DISTINCT r.rep AS id_a, f.doc_id AS id_b
         |  FROM fps f JOIN rare r USING (fp) WHERE f.doc_id <> r.rep),
         |ncommon AS (SELECT c.id_a, c.id_b, count(*) AS ninter
         |  FROM cand c JOIN surv a ON a.doc_id = c.id_a
         |  JOIN surv b ON b.doc_id = c.id_b AND b.fp = a.fp
         |  GROUP BY 1, 2),
         |edges AS (SELECT id_a, id_b FROM ncommon WHERE ninter >= 2),
         |${ccCtes}
         |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS canonical_id
         |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""".stripMargin)),

    // ---- winnowing document fingerprints (MOSS robust winnowing,
    // md5-arithmetic since round 17 — ORACLE-GATED): per-doc stats of
    // the selected k=16-char-gram fingerprints, window t=8; the
    // rightmost-min pick set replays in SQL via the shared lag/lead
    // formula ----
    Query("q38_docs_winnow", (s, dir) =>
      graft.dedup.Dedup.winnowSelectedMd5(t(s, dir, "documents"), "text", "doc_id", 16, 8)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fingerprints"),
          countDistinct(col("h")).as("n_distinct_fp"),
          min_by(col("h"), col("p")).as("first_fp"),
          sum(col("h")).as("fp_sum")),
      // q38: md5 robust winnowing per-doc fingerprint stats — the
      // engine's winnowSelectedMd5 lag/lead selection replayed verbatim
      Some(s"""WITH ${winnowSelCtes(16, 8)}
         |SELECT doc_id, count(*) AS n_fingerprints,
         |  count(DISTINCT h) AS n_distinct_fp,
         |  arg_min(h, p) AS first_fp,
         |  CAST(sum(h) AS BIGINT) AS fp_sum
         |FROM sel GROUP BY doc_id""".stripMargin)),

    // ---- exact dedup: canonical id per content fingerprint ----
    Query("q40_docs_exact_dedup", (s, dir) =>
      Dedup.exactCanonicalIds(t(s, dir, "documents"), "text", "doc_id"),
      Some("""SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        | min(doc_id) OVER (
        |   PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS canonical_id
        |FROM documents""".stripMargin)),

    // ---- document signatures (SimHash + MinHash, md5-arithmetic
    // since round 17 — ORACLE-GATED): 32-bit md5 SimHash plus scalar
    // projections of the 16-component md5-MinHash signature (first /
    // last / integer-sum fold) rather than the raw array<bigint>: the
    // driver's compare sorts every output column, which arrays break.
    // ONE map-only scan since round 19: both fused kernels
    // (Md5SimHash32 + Md5MinhashSig) compute side by side in a single
    // projection — the round-18 report still paid a second documents
    // scan + a doc_id join to emit both families; with both kernels
    // per-row there is nothing to join (token-less docs: sig 0 via
    // the coalesce contract, null minhash columns via the kernel's
    // null struct — exactly the old left join's gap rows). ----
    Query("q44_docs_signatures", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          coalesce(HashFunctions.md5Simhash32(Text.tokens(col("text"))),
            lit(0L)).as("simhash"),
          HashFunctions.md5MinhashSig(
            Dedup.md5UnitExpr("text", 1), Md5MinhashK).as("__ms"))
        .select(col("doc_id"), col("simhash"),
          col("__ms.sig").getItem(0).as("minhash_first"),
          col("__ms.sig").getItem(Md5MinhashK - 1).as("minhash_last"),
          aggregate(col("__ms.sig"), lit(0L), (acc, x) => acc + x)
            .as("minhash_fold"))
    }, Some(
      // q44: md5 SimHash + md5-MinHash scalar projections; token-less
      // docs keep simhash 0 and NULL minhash columns on both sides
      s"""WITH ${md5SimhashCtes},
         |${md5SigCtes},
         |mrow AS (SELECT doc_id,
         |    min(CASE WHEN i = 0 THEN mh END) AS minhash_first,
         |    min(CASE WHEN i = ${Md5MinhashK - 1} THEN mh END) AS minhash_last,
         |    CAST(sum(mh) AS BIGINT) AS minhash_fold
         |  FROM sig GROUP BY 1)
         |SELECT d.doc_id, COALESCE(s0.sig, 0) AS simhash,
         |  m.minhash_first, m.minhash_last, m.minhash_fold
         |FROM documents d
         |LEFT JOIN sig0 s0 USING (doc_id)
         |LEFT JOIN mrow m USING (doc_id)""".stripMargin)),

    // ---- MinHash-LSH near-dup detection (md5-arithmetic since round
    // 17 — ORACLE-GATED: band keys, agreement prefilter, integer
    // Jaccard verify and the CC closure all replay in DuckDB).
    // Canonical-id output, NOT the pair list: inside a bucket of m
    // near-identical docs the pair list is m(m-1)/2 rows (judge-measured
    // 175,817 pairs at sf0.1 vs 1,692 at sf0.01 — quadratic on this
    // degenerate corpus) while the doc->canonical mapping is O(n). Only
    // clustered docs are emitted; banding stays highly selective
    // (2 bands x 8 md5 minima) so candidates stay near-linear too.
    Query("q45_minhash_neardups", (s, dir) =>
      Dedup.minhashCanonicalIdsMd5(t(s, dir, "documents"), "text", "doc_id",
          tauMicros = Md5MinhashTauMicros, shingleSize = 1,
          k = Md5MinhashK, bands = Md5MinhashBands)
        .where(col("canonical_id") =!= col("doc_id")),
      // q45: md5-MinHash LSH canonical ids — band-key candidates against
      // the bucket min-id representative, integer agreement prefilter
      // (>= ceil(k·(tau−0.1))), exact token-set Jaccard in micros, then
      // the recursive CC closure; only clustered docs emitted
      Some(s"""WITH RECURSIVE ${md5SigCtes},
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_u FROM tok GROUP BY 1),
         |rep AS (SELECT band, min(doc_id) AS rid FROM bands GROUP BY band),
         |cand0 AS (SELECT DISTINCT r.rid AS id_a, b.doc_id AS id_b
         |  FROM bands b JOIN rep r USING (band) WHERE b.doc_id <> r.rid),
         |agr AS (SELECT c.id_a, c.id_b
         |  FROM cand0 c JOIN sig sa ON sa.doc_id = c.id_a
         |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
         |  GROUP BY 1, 2
         |  HAVING count(*) FILTER (WHERE sa.mh = sb.mh) >= ${md5MinhashAgreeMin}),
         |ninter AS (SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS inter
         |  FROM agr p JOIN tok ta ON ta.doc_id = p.id_a
         |  JOIN tok tb ON tb.doc_id = p.id_b AND tb.u = ta.u
         |  GROUP BY 1, 2),
         |edges AS (SELECT n.id_a, n.id_b
         |  FROM ninter n JOIN cnt ca ON ca.doc_id = n.id_a
         |  JOIN cnt cb ON cb.doc_id = n.id_b
         |  WHERE n.inter * 1000000 // (ca.n_u + cb.n_u - n.inter) >= ${Md5MinhashTauMicros}),
         |${ccCtes}
         |SELECT node AS doc_id, comp AS canonical_id
         |FROM comp WHERE comp <> node""".stripMargin)),

    // ---- blocked exact n-gram Jaccard pairs ----
    Query("q46_blocked_jaccard", (s, dir) =>
      Dedup.blockedJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        Seq("lang", "source"), threshold = 0.5),
      Some("""SELECT id_a, id_b, jaccard FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   round(
        |     CAST(len(list_filter(a.ts, x -> list_contains(b.ts, x))) AS BIGINT)
        |     / len(list_distinct(a.ts || b.ts)), 6) AS jaccard
        | FROM (SELECT doc_id, lang, source,
        |         list_distinct(string_split_regex(trim(text), '\s+')) AS ts
        |       FROM documents) a
        | JOIN (SELECT doc_id, lang, source,
        |         list_distinct(string_split_regex(trim(text), '\s+')) AS ts
        |       FROM documents) b
        |   ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin)),

    // ---- SimHash near-dup canonical ids (md5-arithmetic since round
    // 17 — ORACLE-GATED): 32-bit md5 bit planes in four 8-bit bands
    // (pigeonhole recall for Hamming <= 3), O(n) output rows via
    // bucket-representative edges, like q45 ----
    Query("q47_simhash_neardups", (s, dir) =>
      Dedup.simhashCanonicalIdsMd5(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3),
      // q47: md5 32-bit SimHash canonical ids — four 8-bit band buckets,
      // doc -> bucket-min-rep edges verified by bit_count(xor) <= 3,
      // recursive CC closure, one row per doc
      Some(s"""WITH RECURSIVE ${md5SimhashCtes},
         |sigs AS (SELECT d.doc_id, COALESCE(s0.sig, 0) AS sig
         |  FROM documents d LEFT JOIN sig0 s0 USING (doc_id)),
         |banded AS (SELECT doc_id, sig, b AS band, (sig >> (8 * b)) & 255 AS bucket
         |  FROM sigs CROSS JOIN range(4) rb(b)),
         |rep AS (SELECT band, bucket, min(doc_id) AS rid FROM banded GROUP BY 1, 2),
         |repx AS (SELECT r.band, r.bucket, r.rid, s.sig AS rsig
         |  FROM rep r JOIN sigs s ON s.doc_id = r.rid),
         |edges AS (SELECT DISTINCT x.rid AS id_a, b.doc_id AS id_b
         |  FROM banded b JOIN repx x USING (band, bucket)
         |  WHERE b.doc_id <> x.rid AND bit_count(xor(b.sig, x.rsig)) <= 3),
         |${ccCtes}
         |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS canonical_id
         |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""".stripMargin)),

    // ---- brute-force cosine top-k (ANN baseline) ----
    Query("q50_ann_bruteforce", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.bruteForceTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
    }, Some(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        | c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        | s AS (SELECT query_id, neighbor_id,
        |   round(
        |     list_sum(list_transform(list_zip(qv, cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |     / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        |   FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |      FROM s)
        |WHERE rk <= 5""".stripMargin)),

    // ---- LSH-bucketed ANN (scale path; no SQL oracle). 64-bit
    // signature in 16 x 4-bit bands: this corpus is near-random unit
    // vectors (top-5 cosine ~0.4 -> per-hyperplane agreement ~0.63), so
    // narrow bands are the recall knob — 16 bands give ~0.9 recall@5
    // (RecallSpec) where the old 2 x 8-bit banding measured 0.02. The
    // extra candidates only scale the broadcast top-k's scored rows
    // (queries are few), never an all-pairs join. ----
    Query("q51_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.lshTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
        bits = 64, bandBits = 4)
    }, None),

    // ---- IVF ANN: deterministic k-means coarse quantizer + nprobe
    // cell search (no SQL oracle: quantizer is iterative; per-pair
    // scores are exact-verified against brute force in the specs) ----
    Query("q54_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.ivfTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
        nCells = 16, nProbe = 4, iters = 2)
    }, None),

    // ---- embedding near-dup via hyperplane LSH (no SQL oracle) ----
    Query("q52_embedding_neardups", (s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.3),
      None),

    // ---- exact within-label cosine pairs (IVF-style coarse partition) ----
    Query("q53_label_cosine_pairs", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id_a"), col("label"), col("embedding").as("vec_a"))
      val b = e.select(col("vec_id").as("id_b"), col("label"), col("embedding").as("vec_b"))
      a.join(b, Seq("label"))
        .where(col("id_a") < col("id_b"))
        .withColumn("cosine", round(VectorFunctions.cosineSim(col("vec_a"), col("vec_b")), 6))
        .where(col("cosine") >= 0.3)
        .select("id_a", "id_b", "cosine")
    }, Some(
      """SELECT id_a, id_b, cosine FROM (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |   round(
        |     list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |     / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        | FROM embeddings a JOIN embeddings b
        |   ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cosine >= 0.3""".stripMargin)),

    // ---- distributed k-means corpus clustering (Ann.lloydCluster):
    // full-corpus Lloyd with per-document cluster ids — the curation
    // counterpart of the IVF quantizer. HASH-EXACT despite float
    // embeddings: distances rank via the floor(d*1e6+0.5) idiom with
    // id tiebreaks and centroid updates snap to 2^-20 fixed point
    // before summing, so both engines derive bit-equal centroids. The
    // per-cluster dist_micros sum gates the full assignment geometry,
    // not just the counts. ----
    Query("q147_kmeans_clusters", (s, dir) => {
      Ann.lloydCluster(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .groupBy(col("cluster").cast("int").as("cluster_id"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("vec_id")).as("id_sum"),
          sum(col("dist_micros")).as("dist_micros"))
    }, Some(
      // q147: two Lloyd iterations replayed — init from the 8 lowest
      // ids, fixed-point distance ranking (floor(d*1e6+0.5), id
      // tiebreak), 2^-20-snapped integer coordinate sums for the update
      // (order-independent -> bit-equal centroids), reassign, aggregate.
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d0 AS (SELECT e.vec_id, c0.cid,
        |         CAST(floor(list_sum(list_transform(list_zip(e.v, c0.cv),
        |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
        |       FROM e, c0),
        |a0 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) rk
        |         FROM d0) t
        |       WHERE rk = 1),
        |ex AS (SELECT vec_id,
        |         unnest(list_transform(v, (x, i) -> {'dim': i, 'x': x}),
        |                recursive := true)
        |       FROM e),
        |upd AS (SELECT a0.cid, ex.dim,
        |          sum(CAST(floor(ex.x*1048576.0 + 0.5) AS BIGINT)) AS s,
        |          count(*) AS n
        |        FROM ex JOIN a0 USING (vec_id) GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(s/(n*1048576.0) ORDER BY dim) AS cv
        |       FROM upd GROUP BY cid),
        |d1 AS (SELECT e.vec_id, c1.cid,
        |         CAST(floor(list_sum(list_transform(list_zip(e.v, c1.cv),
        |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
        |       FROM e, c1),
        |a1 AS (SELECT vec_id, cid, dm FROM (
        |         SELECT vec_id, cid, dm,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) rk
        |         FROM d1) t
        |       WHERE rk = 1)
        |SELECT CAST(cid AS INTEGER) AS cluster_id, count(*) AS n_points,
        |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |  CAST(sum(dm) AS BIGINT) AS dist_micros
        |FROM a1 GROUP BY 1""".stripMargin)),

    // ---- SemDeDup semantic dedup (Dedup.semanticDedup): q147's
    // deterministic k-means partitions the embedding space, then
    // within-cluster cosine >= 0.40 against any better-ranked cluster
    // mate (rank = distance-to-centroid, id) marks semantic dups. The
    // pair join is an equi-join on the cluster id — never all-pairs.
    // HASH-EXACT: snapped-integer dots/norms + a fixed IEEE double op
    // sequence make both engines' similarities bit-equal; the dup/kept
    // id sums gate the full flag assignment, not just the counts. ----
    Query("q148_semantic_dedup", (s, dir) => {
      Dedup.semanticDedup(t(s, dir, "embeddings"), "embedding", "vec_id",
          k = 8, iters = 2, tauMicros = 400000L)
        .groupBy(col("cluster").cast("int").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
          sum(when(col("is_dup"), col("vec_id"))).as("dup_id_sum"),
          sum(when(!col("is_dup"), col("vec_id"))).as("kept_id_sum"))
    }, Some(
      // q148: q147's two-iteration Lloyd CTE replayed verbatim through
      // a1, then SemDeDup's within-cluster pairing: rank by (distance to
      // final centroid, id); a doc is a dup when its fixed-point cosine
      // to ANY better-ranked cluster mate reaches 400000 (0.40 in 1e-6
      // units). Dots/norms are exact integer sums over 2^-20-snapped
      // coordinates; the cosine double op sequence (dot / (sqrt·sqrt),
      // ×1e6, +0.5, floor) matches the Spark expression exactly.
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d0 AS (SELECT e.vec_id, c0.cid,
        |         CAST(floor(list_sum(list_transform(list_zip(e.v, c0.cv),
        |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
        |       FROM e, c0),
        |a0 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) rk
        |         FROM d0) t
        |       WHERE rk = 1),
        |ex AS (SELECT vec_id,
        |         unnest(list_transform(v, (x, i) -> {'dim': i, 'x': x}),
        |                recursive := true)
        |       FROM e),
        |upd AS (SELECT a0.cid, ex.dim,
        |          sum(CAST(floor(ex.x*1048576.0 + 0.5) AS BIGINT)) AS s,
        |          count(*) AS n
        |        FROM ex JOIN a0 USING (vec_id) GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(s/(n*1048576.0) ORDER BY dim) AS cv
        |       FROM upd GROUP BY cid),
        |d1 AS (SELECT e.vec_id, c1.cid,
        |         CAST(floor(list_sum(list_transform(list_zip(e.v, c1.cv),
        |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
        |       FROM e, c1),
        |a1 AS (SELECT vec_id, cid, dm FROM (
        |         SELECT vec_id, cid, dm,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) rk
        |         FROM d1) t
        |       WHERE rk = 1),
        |sv AS (SELECT vec_id,
        |         list_transform(v, x -> CAST(floor(x*1048576.0 + 0.5) AS BIGINT)) AS sv
        |       FROM e),
        |n2 AS (SELECT vec_id,
        |         CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT) AS n2
        |       FROM sv),
        |rnk AS (SELECT vec_id, cid,
        |          row_number() OVER (PARTITION BY cid ORDER BY dm, vec_id) AS rk
        |        FROM a1),
        |dups AS (SELECT DISTINCT y.vec_id
        |         FROM rnk x JOIN rnk y ON x.cid = y.cid AND x.rk < y.rk
        |         JOIN sv xs ON xs.vec_id = x.vec_id
        |         JOIN sv ys ON ys.vec_id = y.vec_id
        |         JOIN n2 xn ON xn.vec_id = x.vec_id
        |         JOIN n2 yn ON yn.vec_id = y.vec_id
        |         WHERE xn.n2 > 0 AND yn.n2 > 0
        |           AND CAST(floor(CAST(list_sum(list_transform(
        |                 list_zip(xs.sv, ys.sv), p -> p[1]*p[2])) AS DOUBLE)
        |               / (sqrt(CAST(xn.n2 AS DOUBLE)) * sqrt(CAST(yn.n2 AS DOUBLE)))
        |               * 1e6 + 0.5) AS BIGINT) >= 400000)
        |SELECT CAST(a1.cid AS INTEGER) AS cluster_id, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN a1.vec_id END) AS BIGINT) AS dup_id_sum,
        |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN a1.vec_id END) AS BIGINT) AS kept_id_sum
        |FROM a1 LEFT JOIN dups d ON d.vec_id = a1.vec_id
        |GROUP BY 1""".stripMargin)),

    // ---- dominant principal direction via deterministic power
    // iteration (ml.Spectral): the "all-but-the-top" embedding
    // post-processing step — mean-center, two power steps from the
    // all-ones start, project onto the unit direction. HASH-EXACT via
    // the q147/q149 fixed-point recipe; the per-label signed and
    // absolute projection sums gate both the direction and its sign.
    // ----
    Query("q152_dominant_direction", (s, dir) => {
      graft.ml.Spectral.dominantProjection(t(s, dir, "embeddings"),
          "embedding", "vec_id", "label", iters = 2)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("proj_micros")).as("proj_micros_sum"),
          sum(abs(col("proj_micros"))).as("abs_proj_micros_sum"),
          sum(when(col("proj_micros") >= 0, 1L).otherwise(0L)).as("n_pos"))
    }, Some(
      // q152: mean-center on exact integer sums, two unrolled power
      // steps (step 1 uses the exact all-ones simplification c·1 = c, so
      // dot = list_sum(cs)), then the unit projection. The update
      // floor(c·dot·2^20 + 0.5) is an exact BIGINT sum; the norm is an
      // in-order list_sum matching the engine's left fold.
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> floor(CAST(x AS DOUBLE)*1048576.0 + 0.5)/1048576.0) AS xs
        |  FROM embeddings),
        |exm AS (SELECT unnest(list_transform(xs, (x, i) -> {'dim': i, 'x': x}),
        |                      recursive := true)
        |        FROM e),
        |ms AS (SELECT dim, sum(CAST(floor(x*1048576.0 + 0.5) AS BIGINT)) AS s,
        |         CAST(count(*) AS DOUBLE) AS n
        |       FROM exm GROUP BY dim),
        |mu AS (SELECT list(CAST(s AS DOUBLE)/(n*1048576.0) ORDER BY dim) AS m FROM ms),
        |cc AS (SELECT e.vec_id, e.label,
        |         list_transform(list_zip(e.xs, mu.m), p -> p[1]-p[2]) AS cs
        |       FROM e, mu),
        |d1 AS (SELECT vec_id, label, cs, list_sum(cs) AS dot FROM cc),
        |ex1 AS (SELECT dot,
        |          unnest(list_transform(cs, (x, i) -> {'dim': i, 'c': x}),
        |                 recursive := true)
        |        FROM d1),
        |g1 AS (SELECT dim, sum(CAST(floor(c*dot*1048576.0 + 0.5) AS BIGINT)) AS g,
        |         CAST(count(*) AS DOUBLE) AS n
        |       FROM ex1 GROUP BY dim),
        |v1 AS (SELECT list(CAST(g AS DOUBLE)/(n*1048576.0) ORDER BY dim) AS v FROM g1),
        |d2 AS (SELECT cc.vec_id, cc.label, cc.cs,
        |         list_sum(list_transform(list_zip(cc.cs, v1.v), p -> p[1]*p[2])) AS dot
        |       FROM cc, v1),
        |ex2 AS (SELECT dot,
        |          unnest(list_transform(cs, (x, i) -> {'dim': i, 'c': x}),
        |                 recursive := true)
        |        FROM d2),
        |g2 AS (SELECT dim, sum(CAST(floor(c*dot*1048576.0 + 0.5) AS BIGINT)) AS g,
        |         CAST(count(*) AS DOUBLE) AS n
        |       FROM ex2 GROUP BY dim),
        |v2 AS (SELECT list(CAST(g AS DOUBLE)/(n*1048576.0) ORDER BY dim) AS v FROM g2),
        |nv AS (SELECT sqrt(list_sum(list_transform(v2.v, x -> x*x))) AS nrm FROM v2),
        |sc AS (SELECT cc.vec_id, cc.label,
        |         CAST(floor(list_sum(list_transform(list_zip(cc.cs, v2.v),
        |             p -> p[1]*p[2]))/nv.nrm*1e6 + 0.5) AS BIGINT) AS pm
        |       FROM cc, v2, nv)
        |SELECT label, count(*) AS n_docs,
        |  CAST(sum(pm) AS BIGINT) AS proj_micros_sum,
        |  CAST(sum(abs(pm)) AS BIGINT) AS abs_proj_micros_sum,
        |  CAST(sum(CASE WHEN pm >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |FROM sc GROUP BY 1""".stripMargin)),

    // ---- product-quantization codes (Ann.pqCodes): m=4 per-subspace
    // Lloyd codebooks over the 64-dim embeddings (k=4 codes each,
    // 2 iterations) — the memory-bounded ANN compression layout.
    // HASH-EXACT: the oracle unrolls the per-subspace Lloyd exactly
    // like q147's, over v[lo:hi] slices. One corpus scan + one k×dim
    // map-side-combined exchange per iteration; the returned
    // per-vector plan is map-only (broadcast codebooks, no shuffle). ----
    Query("q159_pq_codes", (s, dir) =>
      graft.similarity.Ann.pqCodes(t(s, dir, "embeddings"), "vec_id",
        "embedding", m = 4, k = 4, iters = 2),
      Some(pqOracleSql(m = 4, k = 4, dim = 64))),

    // ---- PQ asymmetric-distance search (Ann.pqSearchTopK): q50's
    // exact top-k replayed through the q159 codes — the corpus is
    // scored against each vector's RECONSTRUCTION (query-to-centroid
    // subspace distances, summed), the memory-bounded search path.
    // Same no-shuffle scored cross-product + partial top-k shape as
    // q50; fully deterministic → hash-exact. ----
    Query("q160_pq_search", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Ann.pqSearchTopK(e.where(col("vec_id") < 5), e,
        "vec_id", "embedding", m = 4, k = 4, iters = 2, topK = 5)
    }, Some(
      pqSearchOracleSql(m = 4, k = 4, dim = 64,
      nQueries = 5, topK = 5))),

    // ---- duplicated-substring spans (Dedup.dupSpanStats): Lee et al.
    // 2022 substring dedup at 8-token-window granularity — a span whose
    // exact text occurs >1 time corpus-wide marks a duplicated region;
    // per-doc span/dup counts + the ≤20% keep gate. ONE corpus scan;
    // the (key,id) grouping map-side-combines within-doc repeats, the
    // corpus total rides a whole-partition window on the key. ----
    Query("q161_dup_spans", (s, dir) =>
      Dedup.dupSpanStats(t(s, dir, "documents"), "text", "doc_id",
        w = 8, maxDupPerMille = 200),
      // q159/q160: per-subspace Lloyd + ADC search (generators above)
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents WHERE length(trim(text)) > 0),
        |sp AS (
        |  SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS span
        |  FROM toks, unnest(range(1, len(ts) - 6)) AS r(i)
        |  WHERE len(ts) >= 8),
        |kd AS (SELECT span, doc_id, count(*) AS cnt FROM sp GROUP BY 1, 2),
        |tot AS (SELECT span, sum(cnt) AS total FROM kd GROUP BY 1)
        |SELECT kd.doc_id,
        |  CAST(sum(kd.cnt) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN tot.total > 1 THEN kd.cnt ELSE 0 END) AS BIGINT)
        |    AS dup_spans,
        |  sum(CASE WHEN tot.total > 1 THEN kd.cnt ELSE 0 END) * 1000
        |    <= 200 * sum(kd.cnt) AS keep
        |FROM kd JOIN tot ON kd.span = tot.span
        |GROUP BY kd.doc_id""".stripMargin)),

    // ---- IVFADC (Ann.ivfPqSearchTopK): coarse quantizer routes to
    // inverted lists, PQ codebooks on the RESIDUALS compress inside
    // each list, queries probe their 2 nearest cells only — the full
    // Jégou et al. two-level ANN at 100 TB scale. Corpus pipeline is
    // one scan / zero shuffles; probed queries broadcast into the
    // cell join. Fully deterministic → hash-exact. ----
    Query("q162_ivfpq_search", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Ann.ivfPqSearchTopK(e.where(col("vec_id") < 4), e,
        "vec_id", "embedding", kc = 4, m = 4, k = 4, iters = 2,
        nprobe = 2, topK = 5)
    }, Some(
      ivfPqSearchOracleSql(kc = 4, m = 4, k = 4,
      dim = 64, nQueries = 4, nprobe = 2, topK = 5))),

    // ---- IVFADC + exact re-rank (Ann.ivfPqSearchRerank): ADC picks a
    // 10-deep shortlist per query from the m-byte codes; only the
    // finalists are re-scored against their FULL vectors (the bare-id
    // shortlist broadcasts into the corpus scan — the corpus never
    // shuffles for the exact pass). The standard two-stage retrieval
    // at 100 TB. Fully deterministic → hash-exact. ----
    Query("q164_ivfpq_rerank", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Ann.ivfPqSearchRerank(e.where(col("vec_id") < 4), e,
        "vec_id", "embedding", kc = 4, m = 4, k = 4, iters = 2,
        nprobe = 2, shortlist = 10, topK = 5)
    }, Some(
      ivfPqRerankOracleSql(kc = 4, m = 4, k = 4,
      dim = 64, nQueries = 4, nprobe = 2, shortlist = 10, topK = 5))),

    // ---- retrieval-stack E2E composition (q155's analogue for ANN):
    // IVFADC probe → exact rerank → join the hits back to the
    // documents table for the serving payload — the whole two-stage
    // retrieval flow as ONE gated composition. The hit set is tiny
    // and BROADCASTS into the documents scan (the corpus never
    // shuffles at any stage of the stack). Hash-exact. ----
    Query("q167_retrieval_e2e", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val hits = graft.similarity.Ann.ivfPqSearchRerank(
        e.where(col("vec_id") < 4), e, "vec_id", "embedding",
        kc = 4, m = 4, k = 4, iters = 2, nprobe = 2,
        shortlist = 10, topK = 3)
      t(s, dir, "documents")
        .select(col("doc_id").as("neighbor_id"), col("lang"), col("n_chars"))
        .join(broadcast(hits), Seq("neighbor_id"))
        .select("query_id", "rank", "neighbor_id", "exact_micros",
          "lang", "n_chars")
    }, Some {
      val rerank = ivfPqRerankOracleSql(kc = 4, m = 4, k = 4, dim = 64,
        nQueries = 4, nprobe = 2, shortlist = 10, topK = 3)
      s"""SELECT h.query_id, h.rank, h.neighbor_id, h.exact_micros,
         |  d.lang, d.n_chars
         |FROM (
         |$rerank
         |) h JOIN documents d ON d.doc_id = h.neighbor_id""".stripMargin
    }),

    // ---- margin-based bitext mining (similarity.Bitext, Artetxe &
    // Schwenk 2019): embeddings split into two deterministic "language"
    // halves by label; ratio-margin scoring over both directional
    // top-4 neighborhoods cancels hubness, best-margin candidate per
    // source above 1.02. Both directional passes ride bruteForceTopK's
    // no-shuffle scored-broadcast plan; the margin layer only ever
    // touches shortlist-sized rows. Hash-exact (integer neighborhood
    // sums, two mirrored IEEE ops). ----
    Query("q176_bitext_margin", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Bitext.marginMining(
        e.where(col("label") < 5), e.where(col("label") >= 5),
        "vec_id", "embedding", k = 4, minMargin = 1.02)
    }, Some(
      // q176: both directional top-4 lists off the q50 cosine CTE shape,
      // neighborhood sums as exact BIGINT micros, margin = cm·2k /
      // (f_sum + b_sum) — multiply-then-divide token order mirrors
      // Bitext.marginMining; rank on the 1e-6-floored margin, tgt_id
      // ties.
      """WITH src AS (SELECT vec_id AS sid, embedding AS sv
        |             FROM embeddings WHERE label < 5),
        |tgt AS (SELECT vec_id AS tid, embedding AS tv
        |        FROM embeddings WHERE label >= 5),
        |s AS (SELECT sid, tid,
        |   round(
        |     list_sum(list_transform(list_zip(sv, tv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |     / (sqrt(list_sum(list_transform(sv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(tv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        |   FROM src, tgt),
        |cmx AS (SELECT sid, tid, cosine,
        |          CAST(floor(cosine * 1e6 + 0.5e0) AS BIGINT) AS cm
        |        FROM s),
        |f AS (SELECT * FROM (SELECT sid, tid, cosine, cm,
        |        row_number() OVER (PARTITION BY sid
        |          ORDER BY cosine DESC, tid) AS rk FROM cmx)
        |      WHERE rk <= 4),
        |b AS (SELECT * FROM (SELECT sid, tid, cm,
        |        row_number() OVER (PARTITION BY tid
        |          ORDER BY cosine DESC, sid) AS rk FROM cmx)
        |      WHERE rk <= 4),
        |fs AS (SELECT sid, CAST(sum(cm) AS BIGINT) AS f_sum FROM f GROUP BY sid),
        |bs AS (SELECT tid, CAST(sum(cm) AS BIGINT) AS b_sum FROM b GROUP BY tid),
        |m AS (SELECT f.sid, f.tid, f.cosine,
        |        floor((CAST(f.cm AS DOUBLE) * 8e0)
        |              / CAST(fs.f_sum + bs.b_sum AS DOUBLE) * 1e6 + 0.5e0)/1e6
        |          AS margin
        |      FROM f JOIN fs USING (sid) JOIN bs ON f.tid = bs.tid)
        |SELECT sid AS src_id, tid AS tgt_id, cosine, margin
        |FROM (SELECT *, row_number() OVER (PARTITION BY sid
        |        ORDER BY margin DESC, tid) AS rk2 FROM m)
        |WHERE rk2 = 1 AND margin >= 1.02e0""".stripMargin)),

    // ---- rank-aware ANN eval (Ann.adcEval, the Jégou 2011 recall@R
    // protocol): recall@5 and reciprocal rank of the true NN for the
    // q160 ADC searcher against the exact L2 ground truth on the
    // 5-query panel. System side codes-only/no-shuffle; truth side
    // the bounded-panel exact pass. Hash-exact. ----
    Query("q181_ann_recall_eval", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Ann.adcEval(e.where(col("vec_id") < 5), e,
        "vec_id", "embedding", m = 4, k = 4, iters = 2, topK = 5)
    }, Some(
      adcEvalOracleSql(m = 4, k = 4, dim = 64,
      nQueries = 5, topK = 5))),

    // ---- hard-negative triplet mining (Ann.hardestTriplets, the
    // DPR/SimCSE training-data step): nearest same-label positive +
    // nearest different-label negative per anchor on the 10-anchor
    // panel, margin as an exact integer micros difference. One scored
    // broadcast pass, one (anchor, same) window. Hash-exact. ----
    Query("q182_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Ann.hardestTriplets(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", "label")
    }, Some(
      // q182: one scored pass, winners per (anchor, same-label) island,
      // integer-micros margin; mirrors Ann.hardestTriplets exactly.
      """WITH a AS (SELECT vec_id AS anchor_id, label AS a_label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cand_id, label AS c_label,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |s AS (SELECT anchor_id, cand_id, a_label = c_label AS same,
        |        CAST(floor(list_sum(list_transform(list_zip(qv, v),
        |          p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS em
        |      FROM c, a WHERE anchor_id <> cand_id),
        |best AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY anchor_id, same
        |      ORDER BY em, cand_id) AS rk FROM s) t
        |  WHERE rk = 1)
        |SELECT anchor_id,
        |  max(CASE WHEN same THEN cand_id END) AS pos_id,
        |  max(CASE WHEN NOT same THEN cand_id END) AS neg_id,
        |  max(CASE WHEN same THEN em END) AS pos_micros,
        |  max(CASE WHEN NOT same THEN em END) AS neg_micros,
        |  max(CASE WHEN NOT same THEN em END) - max(CASE WHEN same THEN em END)
        |    AS margin_micros
        |FROM best GROUP BY 1""".stripMargin)),

    // ---- IVFADC index DELETE (similarity.Ann.ivfPqDeleteFromIndex):
    // the third leg of index maintenance CRUD — build (q169), append
    // (q192), delete. The index is built on the FULL corpus, then the
    // vec_id % 7 = 3 rows are deleted: only their cells' partitions
    // rewrite (dynamic partition overwrite) and the sidecar digest is
    // SUBTRACTED (digest(base∖removed) = digest(base) − digest(
    // removed) — the additive-digest dual, O(removed)). The trained
    // state never changes: deletion just removes candidates, so the
    // oracle is q162's chain with ONE extra predicate on the scored
    // neighbors. Hash-exact. ----
    Query("q197_ivfpq_index_delete", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = ivfPqIndexCache.computeIfAbsent(s"$dir#delete", _ => {
        val path = tempResultDir("ivfpq_del") + "/codes"
        val built = graft.similarity.Ann.ivfPqBuildIndex(e, "vec_id",
          "embedding", kc = 4, m = 4, k = 4, iters = 2, path)
        graft.similarity.Ann.ivfPqDeleteFromIndex(s, built,
          col("neighbor_id") % 7 === 3)
      })
      graft.similarity.Ann.ivfPqSearchIndex(idx, e.where(col("vec_id") < 4),
        "vec_id", "embedding", nprobe = 2, topK = 5)
    }, Some(
      // q197 = the same chain trained+coded in full, with the deleted
      // ids removed from the scored candidate set only.
      ivfPqSearchOracleSql(kc = 4, m = 4, k = 4,
      dim = 64, nQueries = 4, nprobe = 2, topK = 5,
      codePred = Some("neighbor_id % 7 <> 3")))),

    // ---- HYBRID sparse+dense retrieval (the RAG-stack standard:
    // BM25 keyword ranking + PQ/ADC dense ranking fused by RRF —
    // Cormack 2009 glue over Robertson/Jégou halves): three queries
    // carry BOTH a keyword text (q188's set) and a dense query vector
    // (the same-id embedding; embeddings.vec_id keys the documents
    // corpus). Each half is its own pinned plan — the inverted-index
    // term-at-a-time pass and the codes-only no-shuffle ADC scan —
    // and the fusion layer touches top-k lists only. Dense excludes
    // the query's own vector (ANN self-match convention), BM25 has no
    // self to exclude; the oracle mirrors both. Hash-exact. ----
    Query("q195_hybrid_retrieval", (s, dir) => {
      import s.implicits._
      val queries = Seq((1L, "spark join"), (2L, "customer order"),
        (3L, "stream window batch")).toDF("query_id", "qtext")
      val sparse = graft.text.Bm25.searchTopK(t(s, dir, "documents"),
          queries, "doc_id", "text", "query_id", "qtext", topK = 10)
        .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"))
      val e = t(s, dir, "embeddings")
      val dense = graft.similarity.Ann.pqSearchTopK(
          e.where(col("vec_id").isin(1, 2, 3)), e, "vec_id", "embedding",
          m = 4, k = 4, iters = 2, topK = 10)
        .select("query_id", "neighbor_id", "rank")
      graft.similarity.Fusion.rrf(Seq(dense, sparse), k0 = 60, topK = 10)
    }, Some(
      hybridRrfOracleSql(m = 4, k = 4, dim = 64,
      topK = 10, k0 = 60))),

    // ---- BOUNDED-PROBE bitext mining over CACHED quantizer states
    // (Bitext.marginMiningApproxWithState — round 17): q176's
    // ratio-margin protocol with both directional neighborhoods
    // served by the IVFADC shortlist (ADC over 2 probed cells of 4,
    // exact cosine re-rank of the 8 finalists). The per-direction
    // quantizer states train ONCE per sf dir (ivfPqStateCache — the
    // q169/q206 frozen-state pattern), so the bench median measures
    // MINING (coding + probe + re-rank), the realistic serving
    // topology; q207 keeps the in-query training E2E. Coding under
    // the frozen state equals the build coding (IvfPqIndexSpec), so
    // the output is IDENTICAL to the full-train form and the oracle —
    // BOTH two-level quantizer chains + cosine re-rank + margin
    // tail — stays hash-exact end to end. ----
    Query("q203_bitext_margin_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      def st(side: String, pred: org.apache.spark.sql.Column) =
        ivfPqStateCache.computeIfAbsent(s"$dir#bitext_$side", _ =>
          graft.similarity.Ann.ivfPqTrainState(e.where(pred), "vec_id",
            "embedding", kc = 4, m = 4, k = 4, iters = 2))
      graft.similarity.Bitext.marginMiningApproxWithState(
        e.where(col("label") < 5), e.where(col("label") >= 5),
        srcState = st("src", col("label") < 5),
        tgtState = st("tgt", col("label") >= 5),
        "vec_id", "embedding", k = 4, minMargin = 1.02,
        nprobe = 2, shortlist = 8)
    }, Some(
      // q203 = TWO of q162's chains (one per mining direction, each
      // trained on its own label-split corpus) + cosine re-rank of the
      // ADC shortlists + q176's margin tail — the bounded-probe bitext
      // miner gated hash-exact at its real (non-degenerate) settings.
      bitextApproxOracleSql(kc = 4, m = 4,
      pqK = 4, dim = 64, nprobe = 2, shortlist = 8, k = 4,
      minMargin = "1.02e0"))),

    // ---- the FULL-TRAIN bitext miner (Bitext.marginMiningApprox):
    // q203's exact math with both directions' coarse + PQ quantizers
    // trained INSIDE the query — the honest E2E cost of standing the
    // miner up from nothing, kept oracle-gated so the training chain
    // itself stays verified (the q162-vs-q169 convention: one query
    // pays training, the cached/served twins ride its oracle). ----
    Query("q207_bitext_train_e2e", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Bitext.marginMiningApprox(
        e.where(col("label") < 5), e.where(col("label") >= 5),
        "vec_id", "embedding", k = 4, minMargin = 1.02,
        kc = 4, m = 4, pqK = 4, iters = 2, nprobe = 2, shortlist = 8)
    }, Some(
      // q207 = the full-train twin: the oracle ALWAYS replays the
      // training chain, so the in-query-training form shares it with
      // the cached-state q203 verbatim.
      bitextApproxOracleSql(kc = 4, m = 4,
      pqK = 4, dim = 64, nprobe = 2, shortlist = 8, k = 4,
      minMargin = "1.02e0"))),

    // ---- bitext mining over WRITTEN per-direction indexes
    // (Bitext.marginMiningIndexed — q203 through q169's persistent
    // cell-partitioned layout): each side's codes are built ON DISK
    // once (frozen state cached per sf dir, the q192/q197 pattern);
    // every probe prunes the file listing to its 2 cells, and only
    // raw-vector finalists join. Codes and state round-trip
    // bit-exact, so the output is IDENTICAL to q203 — q203's oracle
    // gates the serving topology end to end. ----
    Query("q206_bitext_indexed", (s, dir) => {
      val e = t(s, dir, "embeddings")
      def idx(side: String, pred: org.apache.spark.sql.Column) =
        ivfPqIndexCache.computeIfAbsent(s"$dir#bitext_$side", _ => {
          val path = tempResultDir(s"ivfpq_bt_$side") + "/codes"
          graft.similarity.Ann.ivfPqBuildIndex(e.where(pred), "vec_id",
            "embedding", kc = 4, m = 4, k = 4, iters = 2, path)
        })
      graft.similarity.Bitext.marginMiningIndexed(
        e.where(col("label") < 5), e.where(col("label") >= 5),
        srcIdx = idx("src", col("label") < 5),
        tgtIdx = idx("tgt", col("label") >= 5),
        "vec_id", "embedding", k = 4, minMargin = 1.02,
        nprobe = 2, shortlist = 8)
    }, Some(
      // q206 = q203 through the written cell-partitioned indexes: codes
      // and trained state round-trip bit-exact (the q169 ≡ q162
      // identity), so the oracle IS q203's chain at equal parameters.
      bitextApproxOracleSql(kc = 4, m = 4,
      pqK = 4, dim = 64, nprobe = 2, shortlist = 8, k = 4,
      minMargin = "1.02e0"))),

    // ---- duplicated-span REMOVAL with text reconstitution (dedup
    // .Dedup.removeDupSpans — Lee et al. 2022 §4's actual transform,
    // completing q161's keep-flag): token positions covered by any
    // 8-token window repeating corpus-wide are deleted and the doc is
    // reassembled in order. Spans/positions shuffle as (key, id, pos)
    // triples — text only materializes in the final reassembly,
    // whose payload is the output. Hash-exact: integer positions,
    // deterministic order-by-position rebuild. ----
    Query("q193_dup_span_removal", (s, dir) =>
      graft.dedup.Dedup.removeDupSpans(
        t(s, dir, "documents"), "text", "doc_id", w = 8),
      // q193: same span grammar as q161 (8-token windows, corpus-wide
      // totals), then delete covered positions and rebuild the text in
      // position order. Engine positions are 0-based and the oracle's
      // 1-based, but positions never surface — each side is
      // self-consistent.
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents WHERE length(trim(text)) > 0),
        |sp AS (
        |  SELECT doc_id, i, array_to_string(ts[i:i+7], ' ') AS span
        |  FROM toks, unnest(range(1, len(ts) - 6)) AS r(i)
        |  WHERE len(ts) >= 8),
        |dup AS (SELECT span FROM sp GROUP BY span HAVING count(*) > 1),
        |cov AS (SELECT DISTINCT sp.doc_id, j AS pos
        |        FROM sp JOIN dup USING (span), unnest(range(sp.i, sp.i + 8)) AS rj(j)),
        |base AS (
        |  SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_tokens, i AS pos, ts[i] AS tok
        |  FROM toks, unnest(range(1, len(ts) + 1)) AS r(i)),
        |kept AS (
        |  SELECT b.doc_id, b.n_tokens, b.pos, b.tok
        |  FROM base b ANTI JOIN cov c ON b.doc_id = c.doc_id AND b.pos = c.pos)
        |SELECT doc_id, n_tokens,
        |  CAST(n_tokens - count(*) AS BIGINT) AS n_removed,
        |  array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
        |FROM kept GROUP BY doc_id, n_tokens""".stripMargin)),

    // ---- IVFADC index APPEND (similarity.Ann.ivfPqAppendIndex):
    // q169's written index under the shard-arrival maintenance shape —
    // the index is BUILT on the base corpus (vec_id % 5 ≠ 4, so the
    // deterministic Lloyd inits come from the same lowest ids), the
    // delta is coded map-only under the FROZEN state and appended
    // into its coarse cells' partition dirs with the arithmetic
    // sidecar-digest update (Vc.appendPartitioned — O(delta), base
    // never rescanned), and the probe searches the MERGED index with
    // pruning intact. Oracle = the q162 CTE chain with both quantizer
    // levels trained over the base predicate and coding over the full
    // corpus — exactly the frozen-state semantics, hash-exact. ----
    Query("q192_ivfpq_index_append", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = ivfPqIndexCache.computeIfAbsent(s"$dir#append", _ => {
        val path = tempResultDir("ivfpq_app") + "/codes"
        val built = graft.similarity.Ann.ivfPqBuildIndex(
          e.where(col("vec_id") % 5 =!= 4), "vec_id", "embedding",
          kc = 4, m = 4, k = 4, iters = 2, path)
        graft.similarity.Ann.ivfPqAppendIndex(built,
          e.where(col("vec_id") % 5 === 4), "vec_id", "embedding")
      })
      graft.similarity.Ann.ivfPqSearchIndex(idx, e.where(col("vec_id") < 4),
        "vec_id", "embedding", nprobe = 2, topK = 5)
    }, Some(
      // q192 = the same chain with BOTH quantizer levels trained over
      // the base predicate only (the frozen-state append semantics);
      // coding/probe/ranking stay over the full corpus.
      ivfPqSearchOracleSql(kc = 4, m = 4, k = 4,
      dim = 64, nQueries = 4, nprobe = 2, topK = 5,
      trainPred = Some("vec_id % 5 <> 4")))),

    // ---- IVFADC index COMPACTION (Ann.ivfPqCompactIndex — the
    // fourth leg of maintenance CRUD, closing build q169 / append
    // q192 / delete q197): q192's build-on-base + frozen-state append
    // leaves every touched cell holding base + delta files; compaction
    // rewrites ONLY the fragmented cells to one file each (the delete
    // path's dynamic partition overwrite pointed at fragmentation).
    // Rows, codes and the arithmetic sidecar digest are untouched by
    // construction, so the probe output is IDENTICAL to q192's and
    // rides its oracle (the q169 ≡ q162 convention); the numFiles
    // shrink + untouched-cell mtimes are IvfPqIndexSpec's pins. ----
    Query("q213_ivfpq_index_compact", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = ivfPqIndexCache.computeIfAbsent(s"$dir#compact", _ => {
        val path = tempResultDir("ivfpq_cmp") + "/codes"
        val built = graft.similarity.Ann.ivfPqBuildIndex(
          e.where(col("vec_id") % 5 =!= 4), "vec_id", "embedding",
          kc = 4, m = 4, k = 4, iters = 2, path)
        graft.similarity.Ann.ivfPqAppendIndex(built,
          e.where(col("vec_id") % 5 === 4), "vec_id", "embedding")
        graft.similarity.Ann.ivfPqCompactIndex(s, built)
      })
      graft.similarity.Ann.ivfPqSearchIndex(idx, e.where(col("vec_id") < 4),
        "vec_id", "embedding", nprobe = 2, topK = 5)
    }, Some(
      // q213 = q192's oracle verbatim: compaction rewrites fragmented
      // cells file-for-file but row-for-row — identical codes, identical
      // search — so the gate proves the rewrite is value-invisible.
      ivfPqSearchOracleSql(kc = 4, m = 4, k = 4,
      dim = 64, nQueries = 4, nprobe = 2, topK = 5,
      trainPred = Some("vec_id % 5 <> 4")))),

    // ---- reciprocal-rank fusion (similarity.Fusion, Cormack 2009):
    // the hybrid-retrieval glue — fuse the q160 ADC ranking and the
    // q185 Hamming ranking (two independent compressed tiers) into
    // one per-query top-5. Rank-only, k0 = 60; inputs are top-k
    // lists, so the fusion layer never touches the corpus.
    // Hash-exact (snapped divisions, system-ordered fold). ----
    Query("q189_rrf_fusion", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      graft.similarity.Fusion.rrf(Seq(
        graft.similarity.Ann.pqSearchTopK(q, e, "vec_id", "embedding",
          m = 4, k = 4, iters = 2, topK = 5),
        graft.similarity.Ann.hammingTopK(q, e, "vec_id", "embedding",
          topK = 5)), k0 = 60, topK = 5)
    }, Some(
      rrfFusionOracleSql(m = 4, k = 4, dim = 64,
      nQueries = 5, topK = 5, k0 = 60))),

    // ---- BM25 keyword retrieval (text.Bm25, Robertson & Zaragoza
    // 2009, Lucene idf): the sparse half of hybrid retrieval — three
    // fixed keyword queries against the corpus, term-at-a-time over
    // the checkpointed inverted index, top-10 per query. Hash-exact
    // (integer tf/df/dl, snapped ln idf, term-ordered fold). ----
    Query("q188_bm25_search", (s, dir) => {
      import s.implicits._
      val queries = Seq((1L, "spark join"), (2L, "customer order"),
        (3L, "stream window batch")).toDF("query_id", "qtext")
      graft.text.Bm25.searchTopK(t(s, dir, "documents"), queries,
        "doc_id", "text", "query_id", "qtext", topK = 10)
    }, Some(
      // q188: BM25 with the exact op order of Bm25.searchTopK — snapped
      // ln idf, 2.2/1.2/0.75 literals, term-ordered contribution fold.
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |gp AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |         CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        |avg_ AS (SELECT CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE) AS avgdl FROM gp),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |q AS (SELECT query_id, unnest(string_split_regex(trim(qtext), '\s+')) AS term
        |      FROM (VALUES (CAST(1 AS BIGINT), 'spark join'),
        |                   (CAST(2 AS BIGINT), 'customer order'),
        |                   (CAST(3 AS BIGINT), 'stream window batch'))
        |        AS v(query_id, qtext)),
        |idf AS (SELECT dfq.term,
        |          floor(ln((CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
        |                   / (CAST(df AS DOUBLE) + 0.5e0) + 1e0)*1e6 + 0.5)/1e6
        |            AS idf
        |        FROM dfq, gp),
        |c AS (
        |  SELECT q.query_id, tf.doc_id, tf.term,
        |    floor((idf.idf * (CAST(tf.tf AS DOUBLE) * 2.2e0)
        |           / (CAST(tf.tf AS DOUBLE)
        |              + 1.2e0 * (1e0 - 0.75e0
        |                 + 0.75e0 * (CAST(dl.dl AS DOUBLE) / avg_.avgdl))))
        |          *1e6 + 0.5)/1e6 AS contrib
        |  FROM tf JOIN q ON tf.term = q.term
        |    JOIN idf ON tf.term = idf.term
        |    JOIN dl ON tf.doc_id = dl.doc_id, avg_),
        |sc AS (SELECT query_id, doc_id,
        |         floor(list_reduce(list(contrib ORDER BY term), (x, y) -> x + y)
        |               *1e6 + 0.5)/1e6 AS score
        |       FROM c GROUP BY 1, 2)
        |SELECT query_id, doc_id, score, CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY score DESC, doc_id) rk
        |      FROM sc) t
        |WHERE rk <= 10""".stripMargin)),

    // ---- 1-bit sign-quantized Hamming top-k (Ann.hammingTopK): the
    // cheapest compression tier — 64 dims in two 32-bit words, the
    // distance a codegen'd xor-popcount, no floats in the hot loop.
    // Same no-shuffle scored-broadcast scaffold as q50. Hash-exact;
    // recall vs exact gated in RecallSpec. ----
    Query("q185_hamming_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Ann.hammingTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", topK = 5)
    }, Some(
      // q185: sign-bit packing into two 32-bit words (bit i-1 of the
      // word for slice position i), xor-popcount distance, (hamming,
      // id) rank — mirrors Ann.hammingTopK/HashKernels.signBits.
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |b AS (SELECT vec_id,
        |    list_sum(list_transform(v[1:32],
        |      (x, i) -> CASE WHEN x > 0 THEN 1::BIGINT << (i-1) ELSE 0::BIGINT END)) AS w1,
        |    list_sum(list_transform(v[33:64],
        |      (x, i) -> CASE WHEN x > 0 THEN 1::BIGINT << (i-1) ELSE 0::BIGINT END)) AS w2
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, w1 AS q1, w2 AS q2 FROM b WHERE vec_id < 10),
        |s AS (SELECT query_id, b.vec_id AS neighbor_id,
        |        CAST(bit_count(xor(q1, w1)) + bit_count(xor(q2, w2)) AS INTEGER)
        |          AS hamming
        |      FROM b, q WHERE query_id <> b.vec_id)
        |SELECT query_id, neighbor_id, hamming, CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY hamming, neighbor_id) rk
        |      FROM s) t
        |WHERE rk <= 5""".stripMargin)),

    // ---- incremental-ingest exact dedup (Dedup.incrementalStatus):
    // the shard-arrival shape — delta docs (doc_id % 3 = 0) dedup
    // against the already-ingested base's FINGERPRINT INDEX (never
    // its text) with full new/dup_of_base/dup_in_delta accounting.
    // All three statuses fire at sf0.1 (8 exact-dup fingerprint
    // groups); sf0.01 has no cross-split dups, so the non-'new'
    // branches are additionally pinned by the TextAndDedupSpec
    // fixture. Hash-exact. ----
    Query("q184_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.incrementalStatus(
        docs.where(col("doc_id") % 3 =!= 0),
        docs.where(col("doc_id") % 3 === 0), "text", "doc_id")
    }, Some(
      // q184: base fingerprints distinct, delta min-id window, left
      // join; the status CASE mirrors incrementalStatus branch order.
      """WITH basefp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fingerprint
        |  FROM documents WHERE doc_id % 3 <> 0),
        |delta AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |    min(doc_id) OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |      AS first_id
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT d.doc_id, d.fingerprint,
        |  CASE WHEN b.fingerprint IS NOT NULL THEN 'dup_of_base'
        |       WHEN d.first_id <> d.doc_id THEN 'dup_in_delta'
        |       ELSE 'new' END AS status
        |FROM delta d LEFT JOIN basefp b ON d.fingerprint = b.fingerprint""".stripMargin)),

    // ---- typo-grade vocabulary canonicalization (Dedup.typoCanonical):
    // FastSS deletion-variant blocking (exact for edit distance ≤ 1 —
    // no LSH recall loss) + built-in levenshtein verify + the Norvig
    // best-neighbor pick (freq desc, word asc, one hop). The corpus
    // collapses to the dictionary-sized vocabulary BEFORE the variant
    // explode, so candidate generation never touches corpus-scale
    // rows. The synthetic vocabulary is typo-free, so the query
    // injects a deterministic misspelling stream (every 7th doc's
    // first ≥5-char word minus its 2nd char) that MUST remap to its
    // frequent neighbor — the gate exercises the remapping path, not
    // just the identity. Fully deterministic → hash-exact. ----
    Query("q170_typo_canonical", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w1 = element_at(graft.text.Text.tokens(col("text")), 1)
      val typos = docs.where(col("doc_id") % 7 === 0)
        .select(w1.as("w"))
        .where(length(col("w")) >= 5)
        .select(concat(col("w").substr(lit(1), lit(1)),
          col("w").substr(lit(3), length(col("w")) - 2)).as("text"))
      Dedup.typoCanonical(
        docs.select(col("text")).unionByName(typos), "text", minLen = 4)
    }, Some(
      """WITH corpus AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT w[1:1] || w[3:] AS text
        |  FROM (SELECT (string_split_regex(trim(text), '\s+'))[1] AS w
        |        FROM documents WHERE doc_id % 7 = 0)
        |  WHERE length(w) >= 5),
        |toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |  FROM corpus WHERE length(trim(text)) > 0),
        |vocab AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM toks WHERE length(word) >= 4 GROUP BY 1),
        |vars AS (
        |  SELECT word, freq, unnest(list_distinct(list_append(
        |    [word[1:CAST(i-1 AS INT)] || word[CAST(i+1 AS INT):]
        |     FOR i IN range(1, length(word)+1)], word))) AS v
        |  FROM vocab),
        |p0 AS (
        |  SELECT DISTINCT a.word AS w1, a.freq AS f1, b.word AS w2, b.freq AS f2
        |  FROM vars a JOIN vars b ON a.v = b.v AND a.word < b.word),
        |p AS (SELECT * FROM p0 WHERE levenshtein(w1, w2) <= 1),
        |cands AS (
        |  SELECT w1 AS word, w2 AS cand, f2 AS cf FROM p
        |  UNION ALL SELECT w2, w1, f1 FROM p
        |  UNION ALL SELECT word, word, freq FROM vocab),
        |best AS (
        |  SELECT word, cand FROM (
        |    SELECT word, cand,
        |      row_number() OVER (PARTITION BY word ORDER BY cf DESC, cand ASC) rk
        |    FROM cands) t
        |  WHERE rk = 1)
        |SELECT vocab.word, vocab.freq, best.cand AS canonical,
        |  best.cand <> vocab.word AS remapped
        |FROM vocab JOIN best USING (word)""".stripMargin)),

    // ---- IVFADC WRITTEN-index probe (Ann.ivfPqBuildIndex/
    // ivfPqSearchIndex): the q162 pipeline with the codes
    // MATERIALIZED cell-partitioned on disk through the sidecar
    // partitioned writer, then re-read with the probed cells pushed
    // as a literal partition filter — the scan lists ONLY the probed
    // cells' files (IvfPqIndexSpec pins numFiles), which is the
    // claim that makes IVFADC the 100 TB layout: a probe touches
    // nprobe/kc of the data and reads m-int codes, not vectors.
    // Same parameters as q162 ⟹ same oracle, hash-exact. ----
    Query("q169_ivfpq_index_probe", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // the index build is the one-time batch job of the serving story
      // — memoize per sf dir so repeated invocations (bench medians,
      // scale-curve runs) time the PROBE against the written index
      // instead of re-training and re-writing per sample (and don't
      // leave one temp index copy per invocation)
      val idx = ivfPqIndexCache.computeIfAbsent(dir, _ => {
        val path = tempResultDir("ivfpq_idx") + "/codes"
        graft.similarity.Ann.ivfPqBuildIndex(e, "vec_id", "embedding",
          kc = 4, m = 4, k = 4, iters = 2, path)
      })
      graft.similarity.Ann.ivfPqSearchIndex(idx, e.where(col("vec_id") < 4),
        "vec_id", "embedding", nprobe = 2, topK = 5)
    }, Some(
      // q169 = q162 through the written cell-partitioned index: the
      // round-tripped codes must reproduce the in-memory pipeline
      // exactly, so the oracle IS q162's CTE chain at equal parameters
      ivfPqSearchOracleSql(kc = 4, m = 4, k = 4,
      dim = 64, nQueries = 4, nprobe = 2, topK = 5))),

    // ---- SQ8 scalar quantization (Ann.sq8Stats): per-dim affine
    // byte codes — the 4x compression tier below PQ; per-dim min/max
    // trains in one scan (dim-row driver state), returned plan is
    // map-only off broadcast literals with the native LongDot /
    // SquaredL2Micros kernels. Hash-exact. ----
    Query("q166_sq8_quantize", (s, dir) =>
      graft.similarity.Ann.sq8Stats(t(s, dir, "embeddings"),
        "vec_id", "embedding"),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |ex AS (SELECT vec_id,
        |         unnest(list_transform(v, (x, i) -> {'dim': i, 'x': x}),
        |                recursive := true)
        |       FROM e),
        |mm AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
        |cr AS (SELECT ex.vec_id, ex.dim, ex.x, mm.mn,
        |         (mm.mx - mm.mn) / 255.0 AS sc,
        |         CASE WHEN mm.mx = mm.mn THEN 0
        |              ELSE least(255, greatest(0, CAST(floor((ex.x - mm.mn)
        |                / ((mm.mx - mm.mn) / 255.0) + 0.5) AS BIGINT))) END AS c
        |       FROM ex JOIN mm USING (dim)),
        |pe AS (SELECT vec_id, dim, c,
        |         (x - (mn + c * sc)) * (x - (mn + c * sc)) AS e2
        |       FROM cr)
        |SELECT vec_id, CAST(sum(c) AS BIGINT) AS code_sum,
        |  CAST(floor(list_sum(list(e2 ORDER BY dim)) * 1e6 + 0.5) AS BIGINT)
        |    AS err_micros
        |FROM pe GROUP BY vec_id""".stripMargin))
  )

  /** q154's oracle: the 6 learning rounds UNROLLED — per round a pair
    * count over the exploded per-word symbol state, the (n desc, l, r)
    * top-1 (DuckDB varchar comparison is memcmp, same as Spark's
    * UTF8String binary order), and the greedy merge application. */
  /** q195's oracle: the q160 ADC chain (dense half, queries 1..3,
    * self-matches excluded) + the q188 BM25 chain verbatim with
    * b-prefixed CTE names (sparse half, no self to exclude), fused by
    * the q189 RRF tail — contributions fold in system order
    * (0 = dense, 1 = sparse), matching `Fusion.rrf`'s Seq order. */
  private def hybridRrfOracleSql(m: Int, k: Int, dim: Int,
                                 topK: Int, k0: Int): String = {
    val sub = dim / m
    val scoreCtes = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"""s_$s AS (SELECT qv.query_id, a1_$s.vec_id AS neighbor_id,
         |    CAST(floor(list_sum(list_transform(list_zip(qv.qv[$lo:$hi], c1_$s.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |  FROM a1_$s JOIN c1_$s USING (cid), qv)""".stripMargin
    }
    val joins = (1 until m).map(s =>
      s"JOIN s_$s USING (query_id, neighbor_id)").mkString(" ")
    val adc = (0 until m).map(s => s"s_$s.dm").mkString(" + ")
    pqTrainCtes(m, k, dim) +
      s""",
         |qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
         |${scoreCtes.mkString(",\n")},
         |adc AS (SELECT query_id, neighbor_id, CAST($adc AS BIGINT) AS adc_micros
         |        FROM s_0 $joins
         |        WHERE query_id <> neighbor_id),
         |sysa AS (SELECT query_id, neighbor_id, rk AS rank
         |         FROM (SELECT *, row_number() OVER (
         |                 PARTITION BY query_id ORDER BY adc_micros, neighbor_id) rk
         |               FROM adc) t
         |         WHERE rk <= $topK),
         |btoks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         |  FROM documents WHERE length(trim(text)) > 0),
         |btf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |        FROM btoks GROUP BY 1, 2),
         |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1),
         |bgp AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |          CAST(sum(dl) AS BIGINT) AS tot FROM bdl),
         |bavg AS (SELECT CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE) AS avgdl FROM bgp),
         |bdfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
         |bq AS (SELECT query_id, unnest(string_split_regex(trim(qtext), '\\s+')) AS term
         |       FROM (VALUES (CAST(1 AS BIGINT), 'spark join'),
         |                    (CAST(2 AS BIGINT), 'customer order'),
         |                    (CAST(3 AS BIGINT), 'stream window batch'))
         |         AS v(query_id, qtext)),
         |bidf AS (SELECT bdfq.term,
         |           floor(ln((CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
         |                    / (CAST(df AS DOUBLE) + 0.5e0) + 1e0)*1e6 + 0.5)/1e6
         |             AS idf
         |         FROM bdfq, bgp),
         |bc AS (
         |  SELECT bq.query_id, btf.doc_id, btf.term,
         |    floor((bidf.idf * (CAST(btf.tf AS DOUBLE) * 2.2e0)
         |           / (CAST(btf.tf AS DOUBLE)
         |              + 1.2e0 * (1e0 - 0.75e0
         |                 + 0.75e0 * (CAST(bdl.dl AS DOUBLE) / bavg.avgdl))))
         |          *1e6 + 0.5)/1e6 AS contrib
         |  FROM btf JOIN bq ON btf.term = bq.term
         |    JOIN bidf ON btf.term = bidf.term
         |    JOIN bdl ON btf.doc_id = bdl.doc_id, bavg),
         |bsc AS (SELECT query_id, doc_id,
         |          floor(list_reduce(list(contrib ORDER BY term), (x, y) -> x + y)
         |                *1e6 + 0.5)/1e6 AS score
         |        FROM bc GROUP BY 1, 2),
         |sysb AS (SELECT query_id, doc_id AS neighbor_id, rk AS rank
         |         FROM (SELECT *, row_number() OVER (
         |                 PARTITION BY query_id ORDER BY score DESC, doc_id) rk
         |               FROM bsc) t
         |         WHERE rk <= $topK),
         |u AS (SELECT query_id, neighbor_id, 0 AS sys, rank FROM sysa
         |      UNION ALL
         |      SELECT query_id, neighbor_id, 1 AS sys, rank FROM sysb),
         |cr AS (SELECT query_id, neighbor_id, sys,
         |         floor(1e0/(${k0}e0 + CAST(rank AS DOUBLE))*1e6 + 0.5)/1e6
         |           AS contrib
         |       FROM u),
         |sc AS (SELECT query_id, neighbor_id,
         |         floor(list_reduce(list(contrib ORDER BY sys), (x, y) -> x + y)
         |               *1e6 + 0.5)/1e6 AS rrf
         |       FROM cr GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rrf, CAST(rk AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) rk
         |      FROM sc) t
         |WHERE rk <= $topK""".stripMargin
  }

  /** Shared PQ training CTEs (q159/q160): q147's two-iteration Lloyd
    * CTE instantiated once per PQ subspace over the v[lo:hi] slice
    * (same init-from-lowest-ids, same fixed-point distance rank, same
    * 2^-20 integer update). Exposes per subspace `a1_s` (final codes +
    * dm) and `c1_s` (final codebook). */
  private def pqTrainCtes(m: Int, k: Int, dim: Int): String =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\n" +
      "           FROM embeddings),\n" + pqSubCtes(m, k, dim, src = "e")

  /** q159's oracle: the m final assignments joined back per vector. */
  private def pqOracleSql(m: Int, k: Int, dim: Int): String = {
    val joins = (1 until m).map(s => s"JOIN a1_$s USING (vec_id)").mkString(" ")
    val codes = (0 until m).map(s =>
      s"CAST(a1_$s.cid AS INTEGER) AS code_$s").mkString(", ")
    val err = (0 until m).map(s => s"a1_$s.dm").mkString(" + ")
    pqTrainCtes(m, k, dim) +
      s"\nSELECT a1_0.vec_id, $codes, CAST($err AS BIGINT) AS err_micros" +
      s"\nFROM a1_0 $joins"
  }

  /** q160's oracle: ADC search — per subspace the query slice is
    * scored against each corpus vector's ASSIGNED centroid (a1_s join
    * c1_s on cid), per-subspace floor'd micros summed, (adc, id)
    * ranked per query. */
  private def pqSearchOracleSql(m: Int, k: Int, dim: Int,
                                nQueries: Int, topK: Int): String = {
    val sub = dim / m
    val scoreCtes = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"""s_$s AS (SELECT q.query_id, a1_$s.vec_id AS neighbor_id,
         |    CAST(floor(list_sum(list_transform(list_zip(q.qv[$lo:$hi], c1_$s.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |  FROM a1_$s JOIN c1_$s USING (cid), q)""".stripMargin
    }
    val joins = (1 until m).map(s =>
      s"JOIN s_$s USING (query_id, neighbor_id)").mkString(" ")
    val adc = (0 until m).map(s => s"s_$s.dm").mkString(" + ")
    pqTrainCtes(m, k, dim) +
      s""",
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
         |${scoreCtes.mkString(",\n")},
         |adc AS (SELECT query_id, neighbor_id, CAST($adc AS BIGINT) AS adc_micros
         |        FROM s_0 $joins
         |        WHERE query_id <> neighbor_id)
         |SELECT query_id, neighbor_id, adc_micros, CAST(rk AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY adc_micros, neighbor_id) rk
         |      FROM adc) t
         |WHERE rk <= $topK""".stripMargin
  }

  /** q181's oracle: q160's ADC chain as the system ranking, the exact
    * L2 top-k as ground truth, left-joined into per-query recall@k and
    * the reciprocal rank of the true NN (rk=1), coalesced to 0 on a
    * miss — divisions mirror Ann.adcEval token for token. */
  private def adcEvalOracleSql(m: Int, k: Int, dim: Int,
                               nQueries: Int, topK: Int): String = {
    val sub = dim / m
    val scoreCtes = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"""s_$s AS (SELECT q.query_id, a1_$s.vec_id AS neighbor_id,
         |    CAST(floor(list_sum(list_transform(list_zip(q.qv[$lo:$hi], c1_$s.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |  FROM a1_$s JOIN c1_$s USING (cid), q)""".stripMargin
    }
    val joins = (1 until m).map(s =>
      s"JOIN s_$s USING (query_id, neighbor_id)").mkString(" ")
    val adc = (0 until m).map(s => s"s_$s.dm").mkString(" + ")
    pqTrainCtes(m, k, dim) +
      s""",
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
         |${scoreCtes.mkString(",\n")},
         |adc AS (SELECT query_id, neighbor_id, CAST($adc AS BIGINT) AS adc_micros
         |        FROM s_0 $joins
         |        WHERE query_id <> neighbor_id),
         |sys AS (SELECT query_id, neighbor_id, rk AS sys_rank
         |        FROM (SELECT *, row_number() OVER (
         |                PARTITION BY query_id ORDER BY adc_micros, neighbor_id) rk
         |              FROM adc) t
         |        WHERE rk <= $topK),
         |em AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |         CAST(floor(list_sum(list_transform(list_zip(q.qv, e.v),
         |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS em
         |       FROM e, q WHERE q.query_id <> e.vec_id),
         |tr AS (SELECT query_id, neighbor_id, rk FROM (
         |         SELECT *, row_number() OVER (
         |           PARTITION BY query_id ORDER BY em, neighbor_id) rk
         |         FROM em) t
         |       WHERE rk <= $topK),
         |j AS (SELECT tr.query_id, tr.rk, sys.sys_rank
         |      FROM tr LEFT JOIN sys USING (query_id, neighbor_id))
         |SELECT query_id, CAST(count(sys_rank) AS BIGINT) AS n_hits,
         |  floor((CAST(count(sys_rank) AS DOUBLE) / ${topK}e0)*1e6 + 0.5e0)/1e6
         |    AS recall,
         |  floor(coalesce(max(CASE WHEN rk = 1
         |          THEN coalesce(1e0/sys_rank, 0e0) END), 0e0)*1e6 + 0.5e0)/1e6
         |    AS rr
         |FROM j GROUP BY 1""".stripMargin
  }

  /** q189's oracle: q160's ADC ranking (system 0) and q185's sign-bit
    * Hamming ranking (system 1, sharing the `e` CTE), RRF-fused with
    * snapped 1/(k0+rank) contributions folded in system order. */
  private def rrfFusionOracleSql(m: Int, k: Int, dim: Int, nQueries: Int,
                                 topK: Int, k0: Int): String = {
    val sub = dim / m
    val scoreCtes = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"""s_$s AS (SELECT q.query_id, a1_$s.vec_id AS neighbor_id,
         |    CAST(floor(list_sum(list_transform(list_zip(q.qv[$lo:$hi], c1_$s.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT) AS dm
         |  FROM a1_$s JOIN c1_$s USING (cid), q)""".stripMargin
    }
    val joins = (1 until m).map(s =>
      s"JOIN s_$s USING (query_id, neighbor_id)").mkString(" ")
    val adc = (0 until m).map(s => s"s_$s.dm").mkString(" + ")
    pqTrainCtes(m, k, dim) +
      s""",
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
         |${scoreCtes.mkString(",\n")},
         |adc AS (SELECT query_id, neighbor_id, CAST($adc AS BIGINT) AS adc_micros
         |        FROM s_0 $joins
         |        WHERE query_id <> neighbor_id),
         |sysa AS (SELECT query_id, neighbor_id, rk AS rank
         |         FROM (SELECT *, row_number() OVER (
         |                 PARTITION BY query_id ORDER BY adc_micros, neighbor_id) rk
         |               FROM adc) t
         |         WHERE rk <= $topK),
         |hb AS (SELECT vec_id,
         |    list_sum(list_transform(v[1:32],
         |      (x, i) -> CASE WHEN x > 0 THEN 1::BIGINT << (i-1) ELSE 0::BIGINT END)) AS w1,
         |    list_sum(list_transform(v[33:64],
         |      (x, i) -> CASE WHEN x > 0 THEN 1::BIGINT << (i-1) ELSE 0::BIGINT END)) AS w2
         |  FROM e),
         |hq AS (SELECT vec_id AS query_id, w1 AS q1, w2 AS q2
         |       FROM hb WHERE vec_id < $nQueries),
         |hs AS (SELECT query_id, hb.vec_id AS neighbor_id,
         |        CAST(bit_count(xor(q1, w1)) + bit_count(xor(q2, w2)) AS INTEGER)
         |          AS hamming
         |      FROM hb, hq WHERE query_id <> hb.vec_id),
         |sysb AS (SELECT query_id, neighbor_id, rk AS rank
         |         FROM (SELECT *, row_number() OVER (
         |                 PARTITION BY query_id ORDER BY hamming, neighbor_id) rk
         |               FROM hs) t
         |         WHERE rk <= $topK),
         |u AS (SELECT query_id, neighbor_id, 0 AS sys, rank FROM sysa
         |      UNION ALL
         |      SELECT query_id, neighbor_id, 1 AS sys, rank FROM sysb),
         |cr AS (SELECT query_id, neighbor_id, sys,
         |         floor(1e0/(${k0}e0 + CAST(rank AS DOUBLE))*1e6 + 0.5)/1e6
         |           AS contrib
         |       FROM u),
         |sc AS (SELECT query_id, neighbor_id,
         |         floor(list_reduce(list(contrib ORDER BY sys), (x, y) -> x + y)
         |               *1e6 + 0.5)/1e6 AS rrf
         |       FROM cr GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rrf, CAST(rk AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) rk
         |      FROM sc) t
         |WHERE rk <= $topK""".stripMargin
  }

  /** q162's oracle: IVFADC — q147's full-dim Lloyd CTE verbatim as the
    * coarse quantizer (c0..a1), residuals = v − final coarse centroid,
    * the per-subspace Lloyd chains instantiated over `res`, then the
    * probed-cell ADC: each query ranks the kc cells on its
    * micros-floored distance, keeps `nprobe`, forms its per-cell
    * residual, and scores ONLY vectors assigned to probed cells. */
  private def ivfPqSearchOracleSql(kc: Int, m: Int, k: Int, dim: Int,
                                   nQueries: Int, nprobe: Int,
                                   topK: Int,
                                   trainPred: Option[String] = None,
                                   codePred: Option[String] = None): String =
    ivfPqAdcCtes(kc, m, k, dim, nQueries, nprobe, trainPred, codePred) +
      s"""
         |SELECT query_id, neighbor_id, adc_micros, CAST(rk AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY adc_micros, neighbor_id) rk
         |      FROM adc) t
         |WHERE rk <= $topK""".stripMargin

  private def bitextApproxOracleSql(kc: Int, m: Int, pqK: Int, dim: Int,
                                    nprobe: Int, shortlist: Int, k: Int,
                                    minMargin: String): String = {
    val fwd = ivfPqAdcCtes(kc, m, pqK, dim, nQueries = 0, nprobe = nprobe,
      pfx = "f", corpusPred = Some("label >= 5"), queryPred = Some("label < 5"))
    val bwd = ivfPqAdcCtes(kc, m, pqK, dim, nQueries = 0, nprobe = nprobe,
      pfx = "b", corpusPred = Some("label < 5"), queryPred = Some("label >= 5"))
    // exact cosine of the raw float embeddings, q176's token order:
    // dot / (sqrt(||q||²) · sqrt(||c||²)), each element widened
    def cosine(qv: String, cv: String) =
      s"""round(
         |     list_sum(list_transform(list_zip($qv, $cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |     / (sqrt(list_sum(list_transform($qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |      * sqrt(list_sum(list_transform($cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)""".stripMargin
    def rerank(p: String, qRaw: String, cRaw: String) =
      s"""${p}short AS (SELECT query_id, neighbor_id
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY query_id ORDER BY adc_micros, neighbor_id) rk
         |        FROM ${p}adc) t
         |  WHERE rk <= $shortlist),
         |${p}cos AS (SELECT s.query_id, s.neighbor_id,
         |    ${cosine("qr.embedding", "cr.embedding")} AS cosine
         |  FROM ${p}short s JOIN $qRaw qr ON qr.vec_id = s.query_id
         |    JOIN $cRaw cr ON cr.vec_id = s.neighbor_id),
         |${p}top AS (SELECT query_id, neighbor_id, cosine,
         |    CAST(floor(cosine * 1e6 + 0.5e0) AS BIGINT) AS cm
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) rk
         |        FROM ${p}cos) t
         |  WHERE rk <= $k)""".stripMargin
    fwd + ",\n" + bwd.stripPrefix("WITH ") + ",\n" +
      s"""rsrc AS (SELECT vec_id, embedding FROM embeddings WHERE label < 5),
         |rtgt AS (SELECT vec_id, embedding FROM embeddings WHERE label >= 5),
         |${rerank("f", "rsrc", "rtgt")},
         |${rerank("b", "rtgt", "rsrc")},
         |fnb AS (SELECT query_id AS sid, CAST(sum(cm) AS BIGINT) AS f_sum
         |        FROM ftop GROUP BY 1),
         |bnb AS (SELECT query_id AS tid, CAST(sum(cm) AS BIGINT) AS b_sum
         |        FROM btop GROUP BY 1),
         |mg AS (SELECT f.query_id AS sid, f.neighbor_id AS tid, f.cosine,
         |         floor((CAST(f.cm AS DOUBLE) * ${2.0 * k}e0)
         |               / CAST(fnb.f_sum + bnb.b_sum AS DOUBLE) * 1e6 + 0.5e0)/1e6
         |           AS margin
         |       FROM ftop f JOIN fnb ON f.query_id = fnb.sid
         |         JOIN bnb ON f.neighbor_id = bnb.tid)
         |SELECT sid AS src_id, tid AS tgt_id, cosine, margin
         |FROM (SELECT *, row_number() OVER (PARTITION BY sid
         |        ORDER BY margin DESC, tid) AS rk2 FROM mg)
         |WHERE rk2 = 1 AND margin >= $minMargin""".stripMargin
  }

  /** q164's oracle: the q162 ADC CTEs select an `shortlist`-deep
    * candidate set per query; the finalists alone are re-scored with
    * the EXACT full-vector distance and re-ranked. */
  private def ivfPqRerankOracleSql(kc: Int, m: Int, k: Int, dim: Int,
                                   nQueries: Int, nprobe: Int,
                                   shortlist: Int, topK: Int): String =
    ivfPqAdcCtes(kc, m, k, dim, nQueries, nprobe) +
      s""",
         |short AS (SELECT query_id, neighbor_id
         |          FROM (SELECT *, row_number() OVER (
         |                  PARTITION BY query_id ORDER BY adc_micros, neighbor_id) rk
         |                FROM adc) t
         |          WHERE rk <= $shortlist),
         |rr AS (SELECT short.query_id, short.neighbor_id,
         |         CAST(floor(list_sum(list_transform(list_zip(q.qv, e.v),
         |           p -> (p[1]-p[2])*(p[1]-p[2])))*1e6 + 0.5) AS BIGINT)
         |           AS exact_micros
         |       FROM short JOIN e ON e.vec_id = short.neighbor_id
         |         JOIN q ON q.query_id = short.query_id)
         |SELECT query_id, neighbor_id, exact_micros, CAST(rk AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY exact_micros, neighbor_id) rk
         |      FROM rr) t
         |WHERE rk <= $topK""".stripMargin

  /** Shared md5 32-bit SimHash oracle fragment (q44/q47 lockstep):
    * token-hash bit planes from the first 8 md5 hex digits, bit b set
    * when the multiset has more b-bits set than clear; token-less docs
    * resolve to signature 0 via the left join in the consumer. */
  private def md5SimhashCtes: String =
    """sdocs AS (
      |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE string_split_regex(trim(text), '\s+') END AS toks FROM documents),
      |th AS (SELECT doc_id, CAST(('0x' || substr(md5(u), 1, 8)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(toks) AS u FROM sdocs)),
      |bits AS (SELECT doc_id, b,
      |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM th CROSS JOIN range(32) rb(b) GROUP BY 1, 2),
      |sig0 AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY 1)""".stripMargin

  /** Shared md5 robust-winnowing pick-set fragment (q38/q105
    * lockstep) — the declarative lag/lead replay of
    * `Dedup.winnowSelectedMd5`'s native per-doc window kernel: gram
    * hash = first 8 md5 hex digits of the k-codepoint substring
    * (DuckDB substring counts codepoints, as does the kernel); a
    * position is selected iff it is the rightmost minimum of at least
    * one length-t window. */
  private def winnowSelCtes(k: Int, t: Int): String = {
    val lags = (1 until t).map(j => s"lag(h, $j) OVER win AS l$j").mkString(", ")
    val leads = (1 until t).map(j => s"lead(h, $j) OVER win AS d$j").mkString(", ")
    def beforeOk(j1: Int) =
      if (j1 == 0) "TRUE"
      else (1 to j1).map(j => s"l$j >= h").mkString("(", " AND ", ")")
    def afterOk(j2: Int) =
      if (j2 == 0) "TRUE"
      else (1 to j2).map(j => s"d$j > h").mkString("(", " AND ", ")")
    val allBefore = (1 until t).map(j => s"(l$j IS NULL OR l$j >= h)").mkString(" AND ")
    val allAfter = (1 until t).map(j => s"(d$j IS NULL OR d$j > h)").mkString(" AND ")
    val anyWin = (0 until t).map { j1 =>
      s"($j1 <= p - 1 AND $j1 >= p - n + ${t - 1} AND ${beforeOk(j1)} AND ${afterOk(t - 1 - j1)})"
    }.mkString("(", " OR ", ")")
    s"""g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p,
       |    CAST(len(text) - ${k - 1} AS BIGINT) AS n,
       |    CAST(('0x' || substr(md5(substring(text, i, $k)), 1, 8)) AS BIGINT) AS h
       |  FROM documents, unnest(range(1, len(text) - $k + 2)) AS r(i)
       |  WHERE len(text) >= $k),
       |wn AS (SELECT doc_id, p, n, h, $lags, $leads
       |  FROM g WINDOW win AS (PARTITION BY doc_id ORDER BY p)),
       |sel AS (SELECT doc_id, p, h FROM wn
       |  WHERE CASE WHEN n < $t THEN ($allBefore AND $allAfter) ELSE $anyWin END)""".stripMargin
  }

  /** Shared connected-components closure fragment (q45/q47/q105
    * lockstep): min-reachable over the undirected `edges` (id_a, id_b)
    * graph via a recursive CTE — the SQL replay of
    * `graft.graph.ConnectedComponents.run`. Consumers must open the
    * oracle with WITH RECURSIVE and define `edges`. */
  private def ccCtes: String =
    """und AS (SELECT id_a AS a, id_b AS b FROM edges
      |  UNION SELECT id_b, id_a FROM edges),
      |cnodes AS (SELECT DISTINCT a AS node FROM und),
      |reach AS (SELECT node, node AS m FROM cnodes
      |  UNION SELECT u2.a, r.m FROM und u2 JOIN reach r ON r.node = u2.b),
      |comp AS (SELECT node, min(m) AS comp FROM reach GROUP BY node)""".stripMargin
}
