package graft
package queries

import graft.core.Materialize.StableOps
import graft.dedup.Dedup
import graft.queries.Shared._
import graft.streaming.Events
import graft.text.Text
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus text and curation queries: token, quality and language
  * signals, Gopher/CCNet/blocklist gates, sampling and mixtures,
  * decontamination, BPE induction and tokenizer eval, LM scoring, data
  * selection (DSIR, UniMax), quality probes and audits, and the
  * training-example transforms. Each query is declared once, next to
  * its DuckDB oracle SQL, or with `None` where no SQL replay exists
  * (rows-only). */
object CurationQueries {

  lazy val all: Seq[Query] = Seq(

    // ---- token counting ----
    Query("q41_docs_tokens", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.bpeishTokenCount(col("text")).as("n_tokens_bpe"),
        length(col("text")).as("n_chars_measured"),
        round(length(translate(col("text"), " ", "")).cast("double") /
          Text.tokenCount(col("text")), 6).as("avg_token_len"))
    }, Some(
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_tokens_bpe,
        | CAST(length(text) AS INTEGER) AS n_chars_measured,
        | round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |   / len(string_split_regex(trim(text), '\s+')), 6) AS avg_token_len
        |FROM documents""".stripMargin)),

    // ---- quality scoring ----
    Query("q42_docs_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        round(Text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(Text.stopwordRatio(col("text"), Text.EnglishStop), 6).as("stop_ratio"),
        Text.qualityScore(col("text")).as("quality"))
    }, Some(
      """SELECT doc_id,
        | CAST(n_tokens AS INTEGER) AS n_tokens,
        | round(punct_ratio, 6) AS punct_ratio,
        | round(stop_ratio, 6) AS stop_ratio,
        | round(0.4 * least(1.0, n_tokens / 100.0)
        |     + 0.4 * (1.0 - punct_ratio)
        |     + 0.2 * (1.0 - abs(stop_ratio - 0.4)), 6) AS quality
        |FROM (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / length(text) AS punct_ratio,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) / len(toks) AS stop_ratio
        |  FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents))""".stripMargin)),

    // ---- language-ID heuristic ----
    Query("q43_docs_langid", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.langId(col("text")).as("lang_pred"),
        (Text.langId(col("text")) === col("lang")).as("is_match"))
    }, Some(
      """SELECT doc_id, lang_pred, lang_pred = lang AS is_match
        |FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN c_de = best THEN 'de'
        |         WHEN c_en = best THEN 'en'
        |         WHEN c_es = best THEN 'es'
        |         WHEN c_fr = best THEN 'fr'
        |         ELSE 'zh' END AS lang_pred
        |  FROM (
        |    SELECT doc_id, lang,
        |      greatest(c_de, c_en, c_es, c_fr, c_zh) AS best,
        |      c_de, c_en, c_es, c_fr, c_zh
        |    FROM (
        |      SELECT doc_id, lang,
        |        len(list_filter(toks, x -> x IN ('der','und','die','das','batch','hash'))) AS c_de,
        |        len(list_filter(toks, x -> x IN ('the','a','of','and','fast','slow'))) AS c_en,
        |        len(list_filter(toks, x -> x IN ('el','la','de','que','table','row'))) AS c_es,
        |        len(list_filter(toks, x -> x IN ('le','la','les','et','query','window'))) AS c_fr,
        |        len(list_filter(toks, x -> x IN ('的','了','是','我','spark','stream'))) AS c_zh
        |      FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
        |            FROM documents))))""".stripMargin)),

    // ---- exact quantiles per group (corpus length statistics) ----
    Query("q48_length_quantiles", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("n_tokens", Text.tokenCount(col("text")).cast("double"))
        .groupBy("lang")
        .agg(
          round(expr("percentile(n_tokens, 0.5)"), 6).as("median_tokens"),
          round(expr("percentile(n_tokens, 0.9)"), 6).as("p90_tokens"),
          count(lit(1)).as("n_docs"))
    }, Some(
      """SELECT lang,
        | round(quantile_cont(n_tokens, 0.5), 6) AS median_tokens,
        | round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
        | count(*) AS n_docs
        |FROM (SELECT lang,
        |        CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tokens
        |      FROM documents)
        |GROUP BY lang""".stripMargin)),

    // ---- top-fraction quality selection (keep best 30% per lang) ----
    Query("q49_quality_topfrac", (s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("quality", Text.qualityScore(col("text")))
      scored.withColumn("pr", percent_rank().over(
          Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id").asc)))
        .where(col("pr") <= 0.3)
        .select("doc_id", "lang", "quality")
    }, Some(
      """SELECT doc_id, lang, quality FROM (
        | SELECT doc_id, lang, quality,
        |   percent_rank() OVER (PARTITION BY lang
        |     ORDER BY quality DESC, doc_id ASC) AS pr
        | FROM (
        |  SELECT doc_id, lang,
        |    round(0.4 * least(1.0, len(toks) / 100.0)
        |        + 0.4 * (1.0 - (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / length(text))
        |        + 0.2 * (1.0 - abs(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) / len(toks) - 0.4)), 6) AS quality
        |  FROM (SELECT doc_id, lang, text,
        |          string_split_regex(trim(text), '\s+') AS toks FROM documents)))
        |WHERE pr <= 0.3""".stripMargin)),

    // ---- deterministic stratified sampling (N docs per source, keyed
    // by content hash so the sample is stable across runs/engines) ----
    Query("q65_stratified_sample", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("h").asc, col("doc_id").asc)))
        .where(col("rn") <= 5)
        .select("source", "doc_id", "h")
    }, Some(
      """SELECT source, doc_id, h FROM (
        | SELECT source, doc_id, md5(text) AS h,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY md5(text) ASC, doc_id ASC) AS rn
        | FROM documents)
        |WHERE rn <= 5""".stripMargin)),

    // ---- vocabulary top-k: token frequencies per language ----
    Query("q66_vocab_topk", (s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("n").desc, col("token").asc)))
        .where(col("rk") <= 10)
        .select(col("lang"), col("token"), col("n"), col("rk"))
    }, Some(
      """SELECT lang, token, n, rk FROM (
        | SELECT lang, token, n,
        |   CAST(row_number() OVER (PARTITION BY lang
        |     ORDER BY n DESC, token ASC) AS INTEGER) AS rk
        | FROM (SELECT lang, token, count(*) AS n
        |       FROM (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
        |             FROM documents)
        |       GROUP BY lang, token))
        |WHERE rk <= 10""".stripMargin)),

    // ---- full corpus curation as one declarative plan: exact-dedup
    // survivors + length gate + per-language quality selection ----
    Query("q67_corpus_curation", (s, dir) =>
      graft.pipelines.Curation.curatedIds(t(s, dir, "documents")),
      Some("""SELECT doc_id, lang, n_tokens, quality FROM (
        | SELECT doc_id, lang, n_tokens, quality,
        |   min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
        |   percent_rank() OVER (PARTITION BY lang
        |     ORDER BY quality DESC, doc_id ASC) AS pr
        | FROM (
        |  SELECT doc_id, lang,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    round(0.4 * least(1.0, len(toks) / 100.0)
        |        + 0.4 * (1.0 - (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / length(text))
        |        + 0.2 * (1.0 - abs(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) / len(toks) - 0.4)), 6) AS quality
        |  FROM (SELECT doc_id, lang, text,
        |          string_split_regex(trim(text), '\s+') AS toks FROM documents)))
        |WHERE doc_id = canonical_id AND n_tokens >= 20 AND pr <= 0.7""".stripMargin)),

    // ---- distributed linear quality-probe training
    // (ml.LinearProbe): 2 full-batch GD steps on y = label % 2 with
    // the rational sigmoid (IEEE-exact — no libm exp), then score the
    // corpus with the final weights. HASH-EXACT: snapped 2^-20 inputs
    // make the per-dimension gradients exact integer sums, so both
    // engines derive bit-equal weights; the per-label score sums gate
    // the whole trajectory, not just the final predictions. ----
    Query("q149_linear_probe", (s, dir) => {
      graft.ml.LinearProbe.scored(t(s, dir, "embeddings"), "embedding",
          "vec_id", "label", iters = 2, lr = 4.0)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred"), 1L).otherwise(0L)).as("n_pred_pos"),
          sum(col("score_micros")).as("score_micros_sum"),
          sum(when(col("pred") === (col("label") % 2 === 1), 1L)
            .otherwise(0L)).as("n_correct"))
    }, Some(
      // q149: two unrolled full-batch GD steps on the 2^-20-snapped
      // inputs (trailing 1.0 = bias feature). Iteration 1 uses the exact
      // simplification of zero weights: z = 0, s = 0.5, r = 0.5 - y —
      // bit-equal to the engine's generic evaluation. Gradients are
      // exact BIGINT sums; weight updates replay the engine's IEEE op
      // sequence (g / (n·2^20), times lr, subtract); DuckDB's 1-based
      // lambda index/list indexing stay internally consistent. The pred
      // predicate is z >= 0 on BOTH sides (s >= 0.5 could diverge by one
      // rounding ulp at z ~ 0).
      s"""WITH e AS (SELECT vec_id, label, CAST(label % 2 AS DOUBLE) AS y,
        |    list_concat(list_transform(embedding,
        |      x -> floor(CAST(x AS DOUBLE)*1048576.0 + 0.5)/1048576.0),
        |      [CAST(1.0 AS DOUBLE)]) AS xs
        |  FROM embeddings),
        |$logisticTwoStepCtes
        |SELECT label, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN z >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
        |  CAST(sum(CAST(floor((0.5 + z/(2.0*(1.0 + abs(z))))*1e6 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS score_micros_sum,
        |  CAST(sum(CASE WHEN (z >= 0.0) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |FROM sc GROUP BY 1""".stripMargin)),

    // ---- cluster-balanced coreset selection (Curate.coresetSample):
    // the 20 most-central documents of each learned k-means cell —
    // geometry-aware diversity sampling over q147's deterministic
    // clustering. HASH-EXACT: the (dist_micros, id) rank is integer
    // arithmetic end to end. ----
    Query("q150_coreset_sample", (s, dir) => {
      graft.curation.Curate.coresetSample(t(s, dir, "embeddings"),
          "embedding", "vec_id", k = 8, iters = 2, perCluster = 20)
        .select(col("vec_id"), col("cluster").cast("int").as("cluster_id"),
          col("dist_micros"), col("rk"))
    }, Some(
      // q150: q147's Lloyd CTE replayed verbatim through a1, then the
      // per-cluster (dist_micros, id) rank keeps the 20 most-central
      // documents of each cell — integer arithmetic end to end.
      kmeansOracleCtes + """
        |SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id,
        |  dm AS dist_micros, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT vec_id, cid, dm,
        |        row_number() OVER (PARTITION BY cid ORDER BY dm, vec_id) AS rk
        |      FROM a1) t
        |WHERE rk <= 20""".stripMargin)),

    // ---- leakage-safe split (Curate.leakageSafeSplit): the
    // train/val/test assignment is a hash of the EXACT-DEDUP canonical
    // id, so duplicate texts can never straddle the eval boundary —
    // q40's fingerprint window composed with q82's hash-split
    // arithmetic. ----
    Query("q151_leakage_safe_split", (s, dir) =>
      graft.curation.Curate.leakageSafeSplit(t(s, dir, "documents"))
        .select("doc_id", "canonical_id", "bucket", "split"),
      // q151: q40's fingerprint-window canonical id feeding q82's
      // md5-prefix bucket arithmetic, keyed on the canonical id.
      Some("""WITH canon AS (
        |  SELECT doc_id,
        |    min(doc_id) OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ) AS canonical_id
        |  FROM documents)
        |SELECT doc_id, canonical_id,
        |  CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM canon""".stripMargin)),

    // ---- BPE merge induction (text.Bpe): 6 frequency-ranked merges
    // learned from the frequency-weighted word vocabulary — the corpus
    // is scanned ONCE into the cached vocab; each round is a
    // dictionary-sized pair count + a 1-row collect + a map-side
    // greedy merge (codegen'd BpeApplyMerge). HASH-EXACT: the DuckDB
    // oracle UNROLLS the six rounds (the r12 "needs per-word
    // recursion" note was wrong — fixed-round unrolling needs none):
    // per round a pair count over the exploded (word, pos, sym) state,
    // the same (count desc, l, r) top-1, and the greedy non-overlapping
    // left-to-right application via window functions (a candidate
    // chain can only arise for l==r runs, where the odd row_number
    // parity within each consecutive-candidate island is exactly the
    // greedy choice). BpeSpec still pins tie-breaks + deep (256-round)
    // runs against a local reference. ----
    Query("q154_bpe_merges", (s, dir) =>
      graft.text.Bpe.merges(t(s, dir, "documents"), "text", rounds = 6),
      // q154/q157: the BPE learner and the BPE segmenter, both via the
      // unrolled greedy-merge window machinery (generators above).
      Some(bpeMergeOracleSql(6))),

    // ---- BPE segmentation (text.Bpe.segment): the APPLY half of the
    // tokenizer — six fixed merges (the ones q154 learns at sf0.01,
    // frozen as explicit parameters so the two queries gate the two
    // halves independently) applied greedily to every word of every
    // document, reduced to the corpus token histogram. Map-side only
    // until the final aggregate: one pass per merge over the exploded
    // token stream, no shuffle before the groupBy. ----
    Query("q157_bpe_segment", (s, dir) =>
      graft.text.Bpe.segment(t(s, dir, "documents"), "text", "doc_id",
          bpeFixedMerges)
        .groupBy("token")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("doc_id")).as("n_docs")),
      Some(bpeSegmentOracleSql(bpeFixedMerges))),

    // ---- DSIR importance resampling (curation.Dsir, Xie et al.
    // 2023): hashed-bigram bag-of-words models fit on the target
    // slice (docs mentioning 'join' — the q172 label, so the two
    // data-selection shapes share a ground truth) vs the raw
    // remainder; per-doc log importance weight = sum of per-bucket
    // count x snapped log-ratio in fixed bucket order; deterministic
    // top-50 (TakeOrderedAndProject — no global corpus sort). TWO
    // corpus scans (fit + score, DSIR's definitional minimum); the
    // fit collapses to k=8 rows of bounded driver trainer state whose
    // snapped log-ratios re-enter the scoring scan as literals, so
    // the RETURNED plan is one scan / zero shuffles. Hash-exact. ----
    Query("q174_dsir_select", (s, dir) =>
      graft.curation.Dsir.selectTopN(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            array_contains(Text.tokens(col("text")), "join").as("is_target")),
        "text", "doc_id", "is_target", k = 8, n = 50),
      // q174: DSIR — the fit CTEs mirror the two-model chain (add-1
      // smoothing over the 8-bucket spine, each ln snapped to 1e-6
      // BEFORE the subtraction), the score unrolls the 8-term fold in
      // bucket order, top-50 by (logw DESC, doc_id).
      Some("""WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS ts
        |  FROM documents),
        |bm AS (
        |  SELECT doc_id, list_contains(ts, 'join') AS is_t,
        |    list_transform(
        |      [ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))],
        |      g -> CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 8 AS INT)) AS bmap
        |  FROM toks),
        |ex AS (SELECT is_t, unnest(bmap) AS b FROM bm),
        |cn0 AS (SELECT b,
        |          sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
        |          sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
        |        FROM ex GROUP BY b),
        |cn AS (SELECT s.b,
        |         CAST(coalesce(cn0.ct, 0) AS BIGINT) AS ct,
        |         CAST(coalesce(cn0.cr, 0) AS BIGINT) AS cr
        |       FROM (SELECT unnest(range(0, 8)) AS b) s
        |       LEFT JOIN cn0 ON s.b = cn0.b),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
        |               CAST(sum(cr) AS BIGINT) AS tr FROM cn),
        |lam AS (SELECT cn.b,
        |          floor(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 8 AS DOUBLE))*1e6 + 0.5)/1e6
        |        - floor(ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 8 AS DOUBLE))*1e6 + 0.5)/1e6
        |          AS lam
        |        FROM cn, tot),
        |lr AS (SELECT list(lam ORDER BY b) AS lams FROM lam),
        |fv AS (SELECT doc_id, len(bmap) AS nb,
        |         [len(list_filter(bmap, x -> x = b)) FOR b IN range(0, 8)] AS fv
        |       FROM bm),
        |sc AS (SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
        |         floor((CAST(fv[1] AS DOUBLE)*lams[1] + CAST(fv[2] AS DOUBLE)*lams[2]
        |              + CAST(fv[3] AS DOUBLE)*lams[3] + CAST(fv[4] AS DOUBLE)*lams[4]
        |              + CAST(fv[5] AS DOUBLE)*lams[5] + CAST(fv[6] AS DOUBLE)*lams[6]
        |              + CAST(fv[7] AS DOUBLE)*lams[7] + CAST(fv[8] AS DOUBLE)*lams[8])*1e6
        |              + 0.5)/1e6 AS logw
        |       FROM fv, lr)
        |SELECT doc_id, n_bigrams, logw FROM sc
        |ORDER BY logw DESC, doc_id LIMIT 50""".stripMargin)),

    // ---- UniMax language-budget allocation (curation.Unimax, Chung
    // et al. 2023): water-filling a 4/5-of-corpus token budget across
    // languages with a 1-epoch cap — on the synthetic lang mix the
    // four minority languages hit their cap and English absorbs the
    // water level, exercising BOTH branches of the closed form. The
    // corpus collapses to a 5-row checkpointed aggregate; integer
    // token arithmetic until the two mirrored divisions. Hash-exact.
    Query("q175_unimax_alloc", (s, dir) =>
      graft.curation.Unimax.allocation(t(s, dir, "documents"),
        "text", "lang", budgetNum = 4L, budgetDen = 5L, nEpochs = 1L),
      // q175: UniMax — the window chain IS the closed form: prefix sums
      // of ascending caps, candidate level per position, first
      // qualifying position wins; capped rows keep cap, the rest get
      // the level. Integer arithmetic throughout; the two divisions
      // mirror Spark's ops token for token.
      Some("""WITH toks AS (
        |  SELECT lang,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS ts
        |  FROM documents),
        |cnt AS (SELECT lang, CAST(sum(len(ts)) AS BIGINT) AS n
        |        FROM toks GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt),
        |w AS (SELECT lang, n, n * 1 AS cap, (t * 4) // 5 AS b
        |      FROM cnt, tot),
        |o AS (SELECT lang, n, cap, b,
        |        CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS idx,
        |        CAST(coalesce(sum(cap) OVER (ORDER BY cap, lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS pre,
        |        CAST(count(*) OVER () AS BIGINT) AS l
        |      FROM w),
        |u AS (SELECT *,
        |        CAST(b - pre AS DOUBLE) / CAST(l - idx + 1 AS DOUBLE) AS cand
        |      FROM o),
        |sel AS (SELECT idx AS sidx, cand AS lvl FROM u
        |        WHERE cand <= CAST(cap AS DOUBLE) ORDER BY idx LIMIT 1)
        |SELECT lang, n AS n_tokens, cap AS cap_tokens,
        |  floor((CASE WHEN sidx IS NOT NULL AND idx >= sidx THEN lvl
        |              ELSE CAST(cap AS DOUBLE) END)*1e6 + 0.5)/1e6
        |    AS alloc_tokens,
        |  floor(((CASE WHEN sidx IS NOT NULL AND idx >= sidx THEN lvl
        |               ELSE CAST(cap AS DOUBLE) END) / CAST(n AS DOUBLE))*1e6
        |        + 0.5)/1e6 AS epochs
        |FROM u LEFT JOIN sel ON TRUE""".stripMargin)),

    // ---- Gopher rule-based quality gate (text.GopherRules, Rae et
    // al. 2021 Table A1): the published hard-rule set with a per-rule
    // failure bitmask. The [25, 80] word band and the ≥2-distinct-
    // stopword rule (list adapted to the synthetic corpus's function
    // words, as the operator contract allows) each reject a real
    // slice, so keep=true/false and several mask bits are exercised.
    // One map-only projection, exact integer counts, each ratio a
    // single 1e-6-rounded division. Hash-exact. ----
    Query("q177_gopher_rules", (s, dir) =>
      graft.text.GopherRules.flags(t(s, dir, "documents"),
        "doc_id", "text", minWords = 25, maxWords = 80,
        stops = Seq("the", "a", "of", "and", "to", "that", "have", "with")),
      // q177: Gopher rules — tokens/lines projected once, every ratio a
      // single division of exact integers floored to 1e-6 before its
      // threshold, the fail mask the same CASE sum bit for bit.
      Some("""WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks,
        |    str_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(toks) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0e0 ELSE
        |      floor(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |            / CAST(len(toks) AS DOUBLE) * 1e6 + 0.5e0)/1e6 END AS mean_word_len,
        |    CASE WHEN len(toks) = 0 THEN 0e0 ELSE
        |      floor(CAST((length(text) - length(regexp_replace(text, '#', '', 'g'))) * 3
        |                 + (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) AS DOUBLE)
        |            / CAST(len(toks) * 3 AS DOUBLE) * 1e6 + 0.5e0)/1e6 END AS symbol_ratio,
        |    CASE WHEN len(lines) = 0 THEN 0e0 ELSE
        |      floor(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
        |            / CAST(len(lines) AS DOUBLE) * 1e6 + 0.5e0)/1e6 END AS bullet_frac,
        |    CASE WHEN len(lines) = 0 THEN 0e0 ELSE
        |      floor(CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS DOUBLE)
        |            / CAST(len(lines) AS DOUBLE) * 1e6 + 0.5e0)/1e6 END AS ell_frac,
        |    CASE WHEN len(toks) = 0 THEN 0e0 ELSE
        |      floor(CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |            / CAST(len(toks) AS DOUBLE) * 1e6 + 0.5e0)/1e6 END AS alpha_frac,
        |    len(list_intersect(toks,
        |      ['the','a','of','and','to','that','have','with'])) AS stop_hits
        |  FROM base),
        |f AS (
        |  SELECT doc_id, n_words, mean_word_len,
        |    (CASE WHEN n_words < 25 OR n_words > 80 THEN 1 ELSE 0 END
        |     + CASE WHEN mean_word_len < 3.0e0 OR mean_word_len > 10.0e0 THEN 2 ELSE 0 END
        |     + CASE WHEN symbol_ratio > 0.1e0 THEN 4 ELSE 0 END
        |     + CASE WHEN bullet_frac > 0.9e0 THEN 8 ELSE 0 END
        |     + CASE WHEN ell_frac > 0.3e0 THEN 16 ELSE 0 END
        |     + CASE WHEN alpha_frac < 0.8e0 THEN 32 ELSE 0 END
        |     + CASE WHEN stop_hits < 2 THEN 64 ELSE 0 END) AS fail_mask
        |  FROM m)
        |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, mean_word_len,
        |  CAST(fail_mask AS INTEGER) AS fail_mask, fail_mask = 0 AS keep
        |FROM f""".stripMargin)),

    // ---- CCNet perplexity bucketing (Curate.perplexityBuckets,
    // Wenzek et al. 2020): q92's unigram-LM scoring recipe carrying
    // the language, then per-language head/middle/tail terciles of
    // the perplexity proxy. One LM-scoring exchange + one
    // language-key window shuffle. Hash-exact (the q92 rounded-ln
    // fold; ntile has identical SQL semantics in both engines). ----
    Query("q178_ccnet_buckets", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), col("lang"),
        explode(Text.tokens(col("text"))).as("term"))
      // tf checkpoints ONCE (the inverted-index intermediate, smaller
      // than the text): vocab and the grand total derive from it, so
      // the corpus scans a single time instead of thrice (q170 lesson)
      val tf = toks.groupBy("doc_id", "lang", "term")
        .agg(count(lit(1)).as("tf")).stable()
      val vocab = tf.groupBy("term").agg(sum("tf").as("cnt"))
      val total = tf.agg(sum("tf").as("total"))
      val scored = tf
        .join(broadcast(vocab), "term")
        .crossJoin(broadcast(total))
        .withColumn("contrib",
          round6(col("tf") * log(col("cnt").cast("double") / col("total"))))
        .groupBy("doc_id", "lang")
        .agg(sum(col("tf")).as("n_tokens"),
          aggregate(
            array_sort(collect_list(struct(col("term"), col("contrib")))),
            lit(0.0), (acc, x) => acc + x.getField("contrib")).as("lp"))
        .select(col("doc_id"), col("lang"),
          round6(col("lp") * -1 / col("n_tokens")).as("ppl_proxy"))
      graft.curation.Curate.perplexityBuckets(scored, "doc_id", "lang", "ppl_proxy")
    }, Some(
      // q178: q92's oracle chain with lang carried through, then the
      // per-language ntile(3) tercile label (identical ntile semantics:
      // earlier groups absorb the remainder rows in both engines).
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
        |vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM toks),
        |contrib AS (
        |  SELECT tf.doc_id, tf.lang, tf.term, tf.tf,
        |    floor((tf.tf * ln(CAST(vocab.cnt AS DOUBLE) / tot.total))*1e6 + 0.5)/1e6 AS contrib
        |  FROM tf, vocab, tot WHERE tf.term = vocab.term),
        |folded AS (
        |  SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    list_reduce(list(contrib ORDER BY term), (x, y) -> x + y) AS lp
        |  FROM contrib GROUP BY doc_id, lang),
        |scored AS (
        |  SELECT doc_id, lang,
        |    floor((lp * -1 / n_tokens)*1e6 + 0.5)/1e6 AS ppl_proxy
        |  FROM folded)
        |SELECT doc_id, lang, ppl_proxy,
        |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY ppl_proxy, doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM scored""".stripMargin)),

    // ---- tokenizer fertility / compression-rate eval (the standard
    // multilingual-tokenizer quality report: tokens-per-word and
    // chars-per-token per language under a FIXED merge list — how a
    // vocabulary "taxes" each language, cf. the fertility tables of
    // the mBERT/XLM-R papers). One segmentation scan through the
    // fused bpe_segment_all kernel + one word-count scan, both
    // collapsing map-side to language-sized aggregates. Hash-exact
    // (integer counts, two mirrored divisions). ----
    Query("q179_tokenizer_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val tstats = graft.text.Bpe
        .segment(docs, "text", "lang", bpeFixedMerges)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(col("token"))).as("n_chars"))
      docs.groupBy("lang")
        .agg(sum(Text.tokenCount(col("text")).cast("long")).as("n_words"))
        .join(tstats, "lang")
        .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
          round6(col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          round6(col("n_chars").cast("double") / col("n_tokens").cast("double"))
            .as("chars_per_token"))
    }, Some(bpeFertilityOracleSql(bpeFixedMerges))),

    // ---- character-entropy gibberish filter (functions.CharEntropy):
    // Shannon entropy of the non-whitespace char distribution, the
    // low-diversity signal CCNet-adjacent pipelines gate on next to
    // LM perplexity. ONE codegen'd kernel per row — counts, −p·ln p
    // per codepoint snapped to integer micros, summed EXACTLY
    // (order-free) — no explode, no shuffle; keep = entropy ≥ 2 nats
    // compared on the integers. Hash-exact via the q92 rounded-ln
    // recipe (oracle mirrors the float op sequence token-for-token).
    Query("q194_char_entropy", (s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.charEntropy(col("text")).as("e"))
        .where(col("e.n_chars") > 0)
      st.select(col("doc_id"), col("e.n_chars").as("n_chars"),
        col("e.distinct_chars").as("distinct_chars"),
        col("e.entropy_micros").as("entropy_micros"),
        (col("e.entropy_micros") >= 2000000L).as("keep"))
    }, Some(
      // q194: per-char micro-contributions floor(−(p·ln p)·1e6 + 0.5)
      // summed as exact integers (order-free), p = cnt / total in the
      // identical division; keep compared on the integers.
      """WITH chars AS (
        |  SELECT doc_id,
        |    unnest(string_split(regexp_replace(text, '\s', '', 'g'), '')) AS ch
        |  FROM documents WHERE length(regexp_replace(text, '\s', '', 'g')) > 0),
        |cnts AS (SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total,
        |          CAST(count(*) AS INTEGER) AS distinct_chars
        |        FROM cnts GROUP BY 1),
        |h AS (SELECT c.doc_id,
        |        CAST(sum(CAST(floor(
        |          -((c.cnt / CAST(t.total AS DOUBLE)) * ln(c.cnt / CAST(t.total AS DOUBLE)))
        |          * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS em
        |      FROM cnts c JOIN tot t USING (doc_id) GROUP BY 1)
        |SELECT t.doc_id, CAST(t.total AS INTEGER) AS n_chars, t.distinct_chars,
        |  h.em AS entropy_micros, h.em >= 2000000 AS keep
        |FROM tot t JOIN h USING (doc_id)""".stripMargin)),

    // ---- phrase-blocklist gate (text.Blocklist — the C4 bad-words
    // filter, Raffel 2020 §2.2, with whole-token multi-word phrases):
    // the ranked list ships ONCE as an Aho–Corasick reference object
    // and every doc pays one padded-string pass regardless of list
    // size (vs m substring searches for a contains() disjunction).
    // One scan, zero shuffles, fully codegen'd; hash-exact — matching
    // is substring search on the padded token join, which the oracle
    // replays as per-phrase position() probes. ----
    Query("q198_blocklist_filter", (s, dir) =>
      graft.text.Blocklist.report(
        t(s, dir, "documents"), "doc_id", "text", BlocklistPhrases),
      // q198: matching is substring search of ' '||phrase||' ' in the
      // padded token join — the oracle probes each phrase with
      // position(); the engine's Aho–Corasick pass is definitionally
      // the same predicate evaluated once for all phrases.
      Some(s"""WITH p AS (SELECT * FROM (VALUES $blocklistPhraseValuesSql) AS v(idx, phrase)),
        | d AS (SELECT doc_id,
        |   ' ' || array_to_string(string_split_regex(trim(text), '\\s+'), ' ') || ' ' AS padded
        |   FROM documents),
        | m AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_matched,
        |          min(idx) AS first_idx
        |        FROM d JOIN p ON position(' ' || phrase || ' ' IN padded) > 0
        |        GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(m.n_matched, 0) AS n_matched,
        |  fp.phrase AS first_phrase, m.doc_id IS NULL AS keep
        |FROM d LEFT JOIN m USING (doc_id)
        |LEFT JOIN p fp ON fp.idx = m.first_idx""".stripMargin)),

    // ---- EXACT per-language percentile length trim
    // (curation.Curate.histogramQuantileTrim): drop each language's
    // shortest and longest 5% of documents by n_chars with thresholds
    // from a histogram CDF — the corpus's only shuffle carries one row
    // per distinct (lang, n_chars), NOT per doc, and the thresholds
    // broadcast back; a percent_rank window would sort every
    // language's full partition (the English-dominates skew trap).
    // Hash-exact: integer-only threshold inequality (cum·20 ≥ k·N),
    // the quantile_disc convention on both engines. ----
    Query("q199_length_trim", (s, dir) =>
      graft.curation.Curate.histogramQuantileTrim(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", loNum = 1, hiNum = 19, denom = 20)
        .select("doc_id", "lang", "n_chars", "lo", "hi", "keep"),
      // q199: identical integer threshold inequality on both engines —
      // lo/hi = min value whose histogram CDF reaches 5%/95% of the
      // language mass (quantile_disc convention); no floats anywhere.
      Some("""WITH hist AS (
        |  SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cdf AS (
        |  SELECT lang, v, c,
        |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM hist),
        |th AS (
        |  SELECT lang,
        |    min(CASE WHEN cum * 20 >= 1 * n THEN v END) AS lo,
        |    min(CASE WHEN cum * 20 >= 19 * n THEN v END) AS hi
        |  FROM cdf GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars, th.lo, th.hi,
        |  d.n_chars BETWEEN th.lo AND th.hi AS keep
        |FROM documents d JOIN th USING (lang)""".stripMargin)),

    // ---- ingest drift gate (ops.Drift.psiReport): Population
    // Stability Index between the reference and current event windows
    // per event_type, each category's term one fixed-order double
    // expression snapped to integer micros and summed exactly (the
    // q92/q186 transcendental recipe). ONE corpus scan collapsing to
    // a category-sized conditional aggregate; the even/odd split is
    // the A/A control — the machinery is exercised, the expected
    // verdict is "no drift" (planted-drift branches are spec-gated).
    Query("q200_drift_psi", (s, dir) =>
      graft.ops.Drift.psiReport(t(s, dir, "events"), "event_type",
        col("event_id") % 2 === 0, thresholdMicros = 200000L),
      // q200: per-category term = (c_cur/N_cur − c_ref/N_ref) ·
      // ln((c_cur·N_ref)/(c_ref·N_cur)) evaluated in the identical
      // IEEE operation order, floored to micros, summed as integers;
      // one-sided categories carry NULL terms excluded from the total.
      Some(DriftPsiOracleSql)),

    // ---- quality-filter bias audit (ml.Eval.rankAuc): per-source
    // ROC-AUC of the q42 quality score separating en vs non-en docs
    // (Gururangan 2022's "whose language counts" audit as a corpus
    // operator). Midrank Mann–Whitney over the per-(source, score)
    // HISTOGRAM — the q199 CDF recipe: the one corpus-scale shuffle
    // carries one row per distinct (source, score_micros); every
    // rank/U/AUC step is integer arithmetic, so the gate is
    // hash-exact with no float tolerance anywhere. ----
    Query("q201_quality_auc", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ml.Eval.rankAuc(
        d.select(col("source"),
          round(Text.qualityScore(col("text")) * lit(1e6), 0)
            .cast("long").as("score_micros"),
          (col("lang") === "en").as("label")),
        "source", "score_micros", "label")
    }, Some(
      // q201: score CTE is q42's quality formula verbatim (pinned
      // lockstep in OracleConsistencySpec) snapped to integer micros;
      // from there every rank/U/AUC step is the identical integer
      // expression on both engines (doubled midranks, floor division).
      qualityMicrosCte() + """,
        |hist AS (
        |  SELECT source, s, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM q GROUP BY 1, 2),
        |cdf AS (
        |  SELECT *, CAST(sum(n) OVER (PARTITION BY source ORDER BY s) AS BIGINT) AS cum
        |  FROM hist),
        |agg AS (
        |  SELECT source,
        |    CAST(sum(p * (2 * cum - n + 1)) AS BIGINT) AS r2_pos,
        |    CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(n - p) AS BIGINT) AS n_neg
        |  FROM cdf GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |  r2_pos - n_pos * (n_pos + 1) AS u2,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    (r2_pos - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * n_neg)
        |  END AS auc_micros
        |FROM agg""".stripMargin)),

    // ---- FUZZY benchmark decontamination (curation.Curate
    // .fuzzyDecontam — the GPT-3 appendix-C near-dup gate,
    // complementing q190's exact bloom overlap): md5-arithmetic
    // MinHash (k=8, 4 bands of 2) so every stage — signatures, band
    // keys, exact-Jaccard verify — replays in ANSI SQL, upgrading
    // this family from the rows-only xxhash64 checks to hash-exact.
    // Eval side (doc_id % 89 == 0, q190's split) broadcasts at every
    // step; the corpus collapses to per-doc signatures in one
    // map-side-combined pass and only band-collision candidates are
    // re-shingled for verification. ----
    Query("q202_fuzzy_decontam", (s, dir) =>
      graft.curation.Curate.fuzzyDecontam(
        t(s, dir, "documents"), isEval = col("doc_id") % 89 === 0),
      // q202: the docs/sh0 shingle grammar is q190's verbatim; the
      // MinHash "permutations" are the q45 family's md5-slice
      // arithmetic (hex digits 8j+1..8j+8 of md5(shingle || ':' || g) —
      // unified in round 18, one digest drives four permutations), band
      // keys concatenate the per-band integer minima in permutation
      // order, and the verify stage is an exact shingle-set
      // intersection with Jaccard as one integer division.
      Some("""WITH docs AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh0 AS (
        |  SELECT doc_id, CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 3 + 2),
        |                i -> array_to_string(toks[i:i+2], ' ')) END AS shingles
        |  FROM docs),
        |sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh0),
        |hx AS (
        |  SELECT doc_id, shingle, g * 4 + j AS i,
        |    CAST(('0x' || substr(md5(shingle || ':' || g), 1 + 8 * j, 8)) AS BIGINT) AS h
        |  FROM sh CROSS JOIN range(2) rg(g) CROSS JOIN range(4) rj(j)),
        |sig AS (SELECT doc_id, i, min(h) AS mh FROM hx GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, CAST(i // 2 AS VARCHAR) || '|' ||
        |    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i) AS band
        |  FROM sig GROUP BY doc_id, i // 2),
        |cand AS (
        |  SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
        |  FROM bands t JOIN bands e USING (band)
        |  WHERE t.doc_id % 89 <> 0 AND e.doc_id % 89 = 0),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.train_id, c.eval_id, CAST(count(*) AS BIGINT) AS inter
        |  FROM cand c JOIN sh ts ON ts.doc_id = c.train_id
        |  JOIN sh es ON es.doc_id = c.eval_id AND es.shingle = ts.shingle
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.train_id, c.eval_id, COALESCE(i.inter, 0) AS inter,
        |    tc.n_sh AS n_tr, ec.n_sh AS n_ev,
        |    COALESCE(i.inter, 0) * 1000000
        |      // (tc.n_sh + ec.n_sh - COALESCE(i.inter, 0)) AS jaccard_micros
        |  FROM cand c LEFT JOIN inter i USING (train_id, eval_id)
        |  JOIN cnt tc ON tc.doc_id = c.train_id
        |  JOIN cnt ec ON ec.doc_id = c.eval_id),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY train_id
        |      ORDER BY jaccard_micros DESC, eval_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY train_id) AS BIGINT) AS n_candidates
        |  FROM pairs)
        |SELECT train_id, n_candidates, eval_id AS best_eval_id,
        |  CAST(jaccard_micros AS BIGINT) AS jaccard_micros,
        |  jaccard_micros >= 500000 AS contaminated
        |FROM best WHERE rn = 1""".stripMargin)),

    // ---- calibration audit (ml.Eval.calibrationReport — Guo et al.
    // 2017's Expected Calibration Error as a corpus operator,
    // completing the audit trio with q200's PSI and q201's AUC): the
    // q42 quality score read as a micro-probability of "this doc is
    // en", binned into 10 equal-width confidence bins per source;
    // per-bin observed positive rate vs mean claimed confidence, ECE
    // = row-weighted mean absolute gap. q199/q201's histogram shape
    // (one scan, the only corpus shuffle carries ≤ sources×bins
    // rows); bins, rates, gaps and ECE are ALL integer floor
    // divisions — hash-exact with no float tolerance. ----
    Query("q204_calibration_audit", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ml.Eval.calibrationReport(
        d.select(col("source"),
          round(Text.qualityScore(col("text")) * lit(1e6), 0)
            .cast("long").as("score_micros"),
          (col("lang") === "en").as("label")),
        "source", "score_micros", "label", nBins = 10)
    }, Some(
      // q204: q201's score CTE verbatim (the lockstep pin extends to
      // this oracle), then the ECE chain — equal-width micro-probability
      // bins (top edge folded into the last bin), per-bin floor-divided
      // rates, row-weighted mean absolute gap. Every step is integer
      // arithmetic; // mirrors Spark's div on these non-negative values.
      qualityMicrosCte() + """,
        |b AS (SELECT source, least(CAST(9 AS BIGINT), (s * 10) // 1000000) AS bin,
        |        s, label
        |      FROM q),
        |g AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |        CAST(sum(s) AS BIGINT) AS conf_sum
        |      FROM b GROUP BY 1, 2),
        |t AS (SELECT source, bin, n, n_pos,
        |        conf_sum // n AS avg_conf_micros,
        |        n_pos * 1000000 // n AS acc_micros
        |      FROM g),
        |e AS (SELECT *, abs(acc_micros - avg_conf_micros) AS gap_micros FROM t)
        |SELECT source, bin, n, n_pos, avg_conf_micros, acc_micros, gap_micros,
        |  CAST(sum(n * gap_micros) OVER (PARTITION BY source) AS BIGINT)
        |    // CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS ece_micros
        |FROM e""".stripMargin)),

    // ---- the COMPOSED nightly ingest gate (ml.Eval.ingestAudit —
    // q200's PSI + q201's AUC + q204's ECE fused off ONE documents
    // scan into one per-source report row, the shape a shard-admission
    // pipeline actually runs). The corpus collapses to the
    // per-(source, score) histogram in one map-side-combined groupBy —
    // the only corpus-scale shuffle — and one source-partitioned
    // exchange later the CDF window (AUC), the per-bin windows
    // (ECE + PSI score-decile categories) and the final fold all run
    // shuffle-free: 1 scan / 2 shuffles, pinned. PSI's reference
    // window is the even/odd doc_id A/A control (q200's convention);
    // each audit's math is its original's verbatim, so the whole
    // report stays hash-exact. ----
    Query("q208_ingest_audit", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ml.Eval.ingestAudit(
        d.select(col("source"), col("doc_id"),
          round(Text.qualityScore(col("text")) * lit(1e6), 0)
            .cast("long").as("score_micros"),
          (col("lang") === "en").as("label")),
        "source", "score_micros", "label",
        isRef = col("doc_id") % 2 === 0, nBins = 10,
        psiThresholdMicros = 200000L)
    }, Some(
      // q208/q211: the composed ingest gate — q201's score CTE verbatim
      // (extended with a reference-window flag), then ONE histogram from
      // which the q201 midrank-AUC chain, the q204 bin/gap/ECE chain and
      // the q200 fixed-order PSI term (applied at bin grain) all derive
      // — each audit's oracle math token-for-token (the lockstep pin
      // extends to these oracles). q208 splits even/odd doc_id (the A/A
      // control, PSI 0); q211 splits on lang = 'en' (planted drift, the
      // nonzero-term proof of the ln recipe at bin grain).
      ingestAuditOracleSql("doc_id % 2 = 0", 200000L))),

    // ---- PLANTED-drift ingest audit (q208's expected-to-fire twin):
    // the reference window is the ENGLISH docs, whose quality-score
    // distribution genuinely differs (the stopword-ratio term), so
    // the PSI total is nonzero and the bin-grain transcendental term
    // is hash-proven on real values, not just the A/A zero (the
    // q92/q200 ln-recipe convention: fixed inputs, fixed op order,
    // micros snap). Same 1-scan/2-shuffle fused plan as q208. ----
    Query("q211_ingest_audit_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ml.Eval.ingestAudit(
        d.select(col("source"), col("lang"),
          round(Text.qualityScore(col("text")) * lit(1e6), 0)
            .cast("long").as("score_micros"),
          (col("lang") === "en").as("label")),
        "source", "score_micros", "label",
        isRef = col("lang") === "en", nBins = 10,
        psiThresholdMicros = 100000L)
    }, Some(
      ingestAuditOracleSql("lang = 'en'", 100000L))),

    // ---- Gopher REPETITION rules (Rae et al. 2021 Table A1, the
    // other half of q177's hard rules): top 2/3/4-gram character
    // fraction and duplicate 5..10-gram character mass per document,
    // each from ONE fused native run-scan (functions.RunStats) over
    // the codegen'd word_spans n-grams — per-row work, the corpus
    // never shuffles, no explode/groupBy (the per-doc mode must not
    // become a corpus-wide aggregation at 100 TB). The keep flag is
    // the paper's nine thresholds compared in EXACT integer
    // arithmetic (count·chars·100 ≤ pct·doc_chars), so no float
    // boundary can flip it between engines. ----
    Query("q191_repetition_rules", (s, dir) =>
      graft.text.GopherRules.repetitionReport(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(repetitionOracleSql)),

    // ---- Bloom-prefiltered benchmark decontamination (curation
    // .Curate.bloomContamination): q81's exact n-gram overlap check
    // with the TRAINING side prefiltered through a broadcast Bloom
    // bit array (mBits = 2^16, k = 4) built from the benchmark
    // shingles — the layout for when the eval-suite shingle set
    // outgrows an exact broadcast (bits, not strings). Bloom has no
    // false negatives and the exact verify join removes the false
    // positives, so the result is EXACTLY the overlap and the oracle
    // replays q81's SQL over this query's %89 split. BloomSpec pins
    // the ≡-contamination property and the prefilter selectivity. ----
    Query("q190_bloom_decontam", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.curation.Curate.bloomContamination(
        train = docs.where(col("doc_id") % 89 =!= 0),
        bench = docs.where(col("doc_id") % 89 === 0),
        n = 3, mBits = 1 << 16, kHashes = 4)
    }, Some(
      // q190 = q81's exact semantics over the %89 split: the Bloom
      // prefilter is an engine-side optimization that exact-verifies,
      // so the oracle is the plain overlap SQL — any false positive
      // surviving to the output would hash-mismatch here.
      decontaminationOracleSql(89))),

    // ---- PMI collocations (text.Colloc, Church & Hanks 1990): top
    // adjacent pairs by pointwise mutual information, pair count ≥ 5.
    // One checkpointed explode feeds counts + totals; PMI is one ln
    // of an exact rational, snapped at 1e-6. Hash-exact. ----
    Query("q186_pmi_collocations", (s, dir) =>
      graft.text.Colloc.topPmi(t(s, dir, "documents"), "text",
        n = 40, minCount = 5L),
      // q186: PMI = ln of the exact rational in the same multiply order
      // (c_ab·N1·N1 over N2·c_a·c_b), 1e-6-floored; (pmi DESC, w1, w2).
      Some("""WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uni),
        |bg AS (
        |  SELECT ts[i] AS w1, ts[i+1] AS w2
        |  FROM (SELECT string_split_regex(trim(text), '\s+') AS ts
        |        FROM documents WHERE length(trim(text)) > 0),
        |       unnest(range(1, len(ts))) AS r(i)),
        |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
        |        FROM bg GROUP BY 1, 2),
        |n2 AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n2 FROM big),
        |j AS (SELECT big.w1, big.w2, big.c_ab, ua.c AS c_a, ub.c AS c_b
        |      FROM big JOIN uni ua ON big.w1 = ua.term
        |        JOIN uni ub ON big.w2 = ub.term
        |      WHERE big.c_ab >= 5)
        |SELECT w1, w2, c_ab,
        |  floor(ln((CAST(c_ab AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))
        |           / (CAST(n2 AS DOUBLE) * CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)))
        |        *1e6 + 0.5)/1e6 AS pmi
        |FROM j, n1, n2
        |ORDER BY pmi DESC, w1, w2 LIMIT 40""".stripMargin)),

    // ---- Efraimidis-Spirakis weighted sampling without replacement
    // (Curate.weightedSample): 60 docs weighted by token count —
    // longer documents proportionally likelier, no duplicates by
    // construction. Map-side hash-uniform keys + partial top-n; the
    // ln snaps to 1e-6 (q92 recipe). Hash-exact. ----
    Query("q183_weighted_sample", (s, dir) =>
      graft.curation.Curate.weightedSample(
        t(s, dir, "documents")
          .select(col("doc_id"),
            greatest(Text.tokenCount(col("text")), lit(1)).as("n_tok")),
        "doc_id", "n_tok", n = 60, seed = 7L),
      // q183: E-S keys ln(u)/w off the md5 uniform, ln snapped at 1e-6
      // before the one division; top-60 by (key DESC, id).
      Some("""WITH w AS (
        |  SELECT doc_id,
        |    CAST(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS BIGINT) AS w
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, w,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':es7'), 1, 8))
        |      AS BIGINT) AS h
        |  FROM w),
        |scored AS (
        |  SELECT doc_id, w,
        |    floor(
        |      (floor(ln(CAST(h + 1 AS DOUBLE) / 4294967296e0)*1e6 + 0.5)/1e6)
        |        / CAST(w AS DOUBLE) * 1e6 + 0.5)/1e6 AS es_key
        |  FROM k)
        |SELECT doc_id, w, es_key FROM scored
        |ORDER BY es_key DESC, doc_id LIMIT 60""".stripMargin)),

    // ---- length-grouped batching with padding-waste accounting
    // (Curate.lengthGroupedBatches): 16-token length buckets, batches
    // of 8 within each — per-batch pad_frac quantifies the padding
    // the grouping saves. Map-side bucket arithmetic + per-bucket
    // rank windows (no global sort/window). Hash-exact. ----
    Query("q180_length_batches", (s, dir) =>
      graft.curation.Curate.lengthGroupedBatches(
        t(s, dir, "documents")
          .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", bucketWidth = 16, batchSize = 8),
      // q180: length buckets DIV 16, per-bucket (cost, id) rank into
      // batches of 8, pad_frac = (n·max − Σ)/(n·max) floored at 1e-6.
      Some("""WITH c AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS cost
        |  FROM documents),
        |r AS (SELECT doc_id, cost, cost // 16 AS bucket,
        |        row_number() OVER (PARTITION BY cost // 16
        |          ORDER BY cost, doc_id) AS rn
        |      FROM c),
        |g AS (SELECT bucket, (rn - 1) // 8 AS batch,
        |        CAST(count(*) AS BIGINT) AS n_docs,
        |        max(cost) AS max_len, CAST(sum(cost) AS BIGINT) AS sum_len
        |      FROM r GROUP BY 1, 2)
        |SELECT bucket, batch, n_docs, max_len, sum_len,
        |  CASE WHEN n_docs * max_len = 0 THEN 0e0 ELSE
        |    floor(CAST(n_docs * max_len - sum_len AS DOUBLE)
        |          / CAST(n_docs * max_len AS DOUBLE) * 1e6 + 0.5e0)/1e6 END
        |    AS pad_frac
        |FROM g""".stripMargin)),

    // ---- bigram Stupid-Backoff LM scoring (Brants et al. 2007,
    // "Large Language Models in Machine Translation" — the web-scale
    // backoff that needs NO discounting pass): counts from the train
    // split score the HELD-OUT docs (scoring the training corpus
    // itself never fires backoff — every observed bigram has c2 ≥ 1),
    // S(w|p) = c2/c1(p) when the bigram was seen, else 0.4·S1(w),
    // S1(w) = (c1(w) | 0.4 OOV mass)/N; the first token scores as S1.
    // Per-position ln terms round to 1e-6 BEFORE the fold and the
    // fold runs in position order (q92's determinism recipe). The
    // count tables join by key (bigram/unigram shuffle joins — the
    // standard LM-scoring exchange; the eval side is benchmark-sized
    // by construction). The synthetic eval split shares every bigram
    // with train, so a deterministic OOV tail (' zz<id> join') is
    // appended to each eval doc — it fires BOTH backoff branches
    // (unseen bigram with an unseen w, then with a seen w), the
    // q170-typo-stream trick of gating the non-identity path.
    // Hash-exact. ----
    Query("q173_stupid_backoff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") % 97 =!= 0)
      val ev = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" zz"),
          col("doc_id").cast("string"), lit(" join")).as("text"))
      val trainToks = train.select(
        explode(graft.text.Text.tokens(col("text"))).as("term"))
      val c1 = trainToks.groupBy("term").agg(count(lit(1)).as("c1"))
      val nTot = trainToks.agg(count(lit(1)).as("n"))
      val c2 = train.select(explode(
          graft.text.Text.bigrams(graft.text.Text.tokens(col("text")))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c2"))
      val evToks = ev.select(col("doc_id"),
          graft.text.Text.tokens(col("text")).as("ts"))
        .where(size(col("ts")) > 0)
      val first = evToks
        .select(col("doc_id"), lit(0).as("pos"),
          element_at(col("ts"), 1).as("term"))
        .join(c1, Seq("term"), "left").crossJoin(broadcast(nTot))
        .select(col("doc_id"), col("pos"),
          round6(log(coalesce(col("c1").cast("double"), lit(0.4))
            / col("n"))).as("contrib"))
      val pairs = evToks
        .select(col("doc_id"), posexplode(
          graft.text.Text.bigrams(col("ts"))).as(Seq("pos0", "bg")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("bg"),
          element_at(split(col("bg"), " "), 1).as("prev"),
          element_at(split(col("bg"), " "), 2).as("w"))
        .join(c2, Seq("bg"), "left")
        .join(c1.select(col("term").as("prev"), col("c1").as("c1p")),
          Seq("prev"), "left")
        .join(c1.select(col("term").as("w"), col("c1").as("c1w")),
          Seq("w"), "left")
        .crossJoin(broadcast(nTot))
        .select(col("doc_id"), col("pos"),
          round6(log(
            when(col("c2").isNotNull,
              col("c2").cast("double") / col("c1p"))
              .otherwise(lit(0.4)
                * (coalesce(col("c1w").cast("double"), lit(0.4)) / col("n")))))
            .as("contrib"))
      first.unionByName(pairs)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          aggregate(
            array_sort(collect_list(struct(col("pos"), col("contrib")))),
            lit(0.0), (acc, x) => acc + x.getField("contrib")).as("lp"))
        .select(col("doc_id"), col("n_tokens"),
          round6(col("lp")).as("score"),
          round6(col("lp") * -1 / col("n_tokens")).as("ppl_proxy"))
    }, Some(
      // q173: Stupid-Backoff scoring of the held-out split with train
      // counts; ln terms rounded to 1e-6 before the position-ordered
      // fold (q92's recipe). OOV unigram mass 0.4; first token = S1.
      """WITH train AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
        |ttoks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM train WHERE length(trim(text)) > 0),
        |c1 AS (SELECT term, count(*) AS c1 FROM ttoks GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM ttoks),
        |tbg AS (
        |  SELECT ts[i] || ' ' || ts[i+1] AS bg
        |  FROM (SELECT string_split_regex(trim(text), '\s+') AS ts
        |        FROM train WHERE length(trim(text)) > 0),
        |       unnest(range(1, len(ts))) AS r(i)),
        |c2 AS (SELECT bg, count(*) AS c2 FROM tbg GROUP BY 1),
        |ev AS (
        |  SELECT doc_id, string_split_regex(trim(
        |      text || ' zz' || CAST(doc_id AS VARCHAR) || ' join'), '\s+') AS ts
        |  FROM documents
        |  WHERE doc_id % 97 = 0
        |    AND length(trim(text || ' zz' || CAST(doc_id AS VARCHAR) || ' join')) > 0),
        |first AS (
        |  SELECT ev.doc_id, 0 AS pos,
        |    floor(ln(COALESCE(CAST(c1.c1 AS DOUBLE), 0.4) / tot.n)*1e6 + 0.5)/1e6
        |      AS contrib
        |  FROM ev LEFT JOIN c1 ON c1.term = ev.ts[1], tot),
        |pairs AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    ts[i] AS prev, ts[i+1] AS w, ts[i] || ' ' || ts[i+1] AS bg
        |  FROM ev, unnest(range(1, len(ts))) AS r(i)),
        |pc AS (
        |  SELECT p.doc_id, p.pos,
        |    floor(ln(CASE WHEN c2.c2 IS NOT NULL
        |                  THEN CAST(c2.c2 AS DOUBLE) / cp.c1
        |                  ELSE 0.4 * (COALESCE(CAST(cw.c1 AS DOUBLE), 0.4) / tot.n)
        |             END)*1e6 + 0.5)/1e6 AS contrib
        |  FROM pairs p
        |  LEFT JOIN c2 ON c2.bg = p.bg
        |  LEFT JOIN c1 cp ON cp.term = p.prev
        |  LEFT JOIN c1 cw ON cw.term = p.w, tot),
        |allc AS (SELECT * FROM first UNION ALL SELECT * FROM pc),
        |folded AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    list_reduce(list(contrib ORDER BY pos), (x, y) -> x + y) AS lp
        |  FROM allc GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  floor(lp*1e6 + 0.5)/1e6 AS score,
        |  floor((lp * -1 / n_tokens)*1e6 + 0.5)/1e6 AS ppl_proxy
        |FROM folded""".stripMargin)),

    // ---- fastText-style quality probe (ml.QualityProbe): word
    // bigrams hashed into 8 buckets (the fastText hashing trick, md5
    // prefix mod k so the oracle reproduces it), then q149's
    // deterministic rational-sigmoid GD trains a linear scorer — the
    // CCNet/LLaMA quality-filter shape. The label is a text-derivable
    // property (document mentions the 'join' token) so the hashed
    // features carry real signal (the synthetic lang column is
    // text-independent); the oracle unrolls 2 GD steps, which moves
    // scores by label but not yet the sign — QualityProbeSpec runs
    // the probe to convergence on a separable corpus to pin that the
    // SAME machinery actually learns. Featurization is map-only (one
    // md5 per bigram); training is one scan + a (k+1)-row exchange
    // per iteration. Hash-exact. ----
    Query("q172_quality_probe", (s, dir) =>
      graft.ml.QualityProbe.scored(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            when(array_contains(graft.text.Text.tokens(col("text")), "join"),
              1L).otherwise(0L).as("label")),
        "text", "doc_id", "label", k = 8, iters = 2, lr = 4.0),
      // q172: the q149 two-step GD machinery verbatim over hashed-bigram
      // bucket counts (md5-prefix mod 8 — integer features, so q149's
      // 2^-20 snap is the identity and is elided here); per-doc output.
      Some(s"""WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN list_contains(
        |           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |                ELSE string_split_regex(trim(text), '\\s+') END, 'join')
        |         THEN 1 ELSE 0 END AS label,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\\s+') END AS ts
        |  FROM documents),
        |bm AS (
        |  SELECT doc_id, label,
        |    list_transform(
        |      [ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))],
        |      g -> CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 8 AS INT)) AS bmap
        |  FROM toks),
        |e AS (
        |  SELECT doc_id AS vec_id, label, CAST(label % 2 AS DOUBLE) AS y,
        |    list_concat(
        |      [floor((CAST(len(list_filter(bmap, x -> x = b)) AS DOUBLE)
        |         / CAST(greatest(len(bmap), 1) AS DOUBLE))*1048576.0 + 0.5)/1048576.0
        |       FOR b IN range(0, 8)],
        |      [CAST(1.0 AS DOUBLE)]) AS xs
        |  FROM bm),
        |$logisticTwoStepCtes
        |SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  CAST(floor((0.5 + z/(2.0*(1.0 + abs(z))))*1e6 + 0.5) AS BIGINT)
        |    AS score_micros,
        |  z >= 0.0 AS pred
        |FROM sc""".stripMargin)),

    // ---- sliding-window document chunking (Curate.chunkTokens): the
    // context-window splitter of RAG/pretraining prep — 24-token
    // chunks with 8-token overlap (stride 16), chunk count
    // 1 + max(0, ceil((n-24)/16)), final chunk may be short but is
    // never a pure suffix of its predecessor. ONE map-only scan (a
    // bounded sequence explode + slice per chunk, no shuffle before
    // the driver's collect). Hash-exact via DuckDB list slicing. ----
    Query("q171_doc_chunking", (s, dir) =>
      graft.curation.Curate.chunkTokens(t(s, dir, "documents"),
        "text", "doc_id", chunkSize = 24, overlap = 8),
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents WHERE length(trim(text)) > 0),
        |k AS (
        |  SELECT doc_id, ts,
        |    greatest(0, (len(ts) - 24 + 15) // 16) AS last_idx
        |  FROM toks WHERE len(ts) > 0),
        |ch AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |    ts[CAST(i*16+1 AS INT):CAST(i*16+24 AS INT)] AS chunk
        |  FROM k, unnest(range(0, last_idx + 1)) AS r(i))
        |SELECT doc_id, chunk_idx,
        |  CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  array_to_string(chunk, ' ') AS chunk_text
        |FROM ch""".stripMargin)),

    // ---- tokenizer-stack E2E composition (q155/q167's pattern for
    // the tokenizer family): BPE merge induction (q154) → corpus
    // segmentation under the LEARNED merges through the fused
    // single-projection kernel (q157's apply half) → per-doc token
    // counts → fixed token-budget sequence packing (q88's two-pass
    // offsets, no single-partition window). The learned merge list is
    // driver state (6 rows) shipped once into the segment kernel; the
    // corpus never shuffles before the per-doc count. Hash-exact —
    // the oracle learns the merges itself with q154's unrolled CTEs
    // and applies them with q157's machinery. ----
    Query("q168_tokenizer_e2e", (s, dir) => {
      val docs = t(s, dir, "documents")
      val learned = graft.text.Bpe.merges(docs, "text", rounds = 6)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val counts = graft.text.Bpe.segment(docs, "text", "doc_id", learned)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      graft.curation.Curate.packBudget(counts, costCol = "n_tokens",
          budget = 512L, seed = 42L, nPartitions = 8)
        .select(col("doc_id"), col("n_tokens"), col("bin"))
    }, Some(bpeTokenizerE2eOracleSql(rounds = 6, budget = 512L))),

    // ---- contrastive triplet mining (Curate.contrastiveTriplets):
    // positives from SemDeDup's qualifying pairs (better-ranked doc =
    // anchor), hard-ish negative = the most-central doc of the
    // lowest-id other cluster — training-data prep for embedding
    // models, fully deterministic → hash-exact. ----
    Query("q156_contrastive_triplets", (s, dir) =>
      graft.curation.Curate.contrastiveTriplets(t(s, dir, "embeddings"),
          "embedding", "vec_id", k = 8, iters = 2, tauMicros = 400000L)
        .select(col("cluster").cast("int").as("cluster_id"), col("id_a"),
          col("id_b"), col("sim_micros"), col("neg_id")),
      // q156: q148's Lloyd CTE through rnk, pairs with the sim in the
      // SELECT (filtered in the outer), cluster representatives ranked
      // by cluster id for the deterministic negative pick.
      Some(kmeansOracleCtes + ",\n" + semDedupRankCtes + """,
        |reps AS (SELECT cid, vec_id AS rep_id,
        |           row_number() OVER (ORDER BY cid) AS o
        |         FROM rnk WHERE rk = 1),
        |prs AS (SELECT x.cid, x.vec_id AS id_a, y.vec_id AS id_b,
        |          CAST(floor(CAST(list_sum(list_transform(
        |              list_zip(xs.sv, ys.sv), p -> p[1]*p[2])) AS DOUBLE)
        |            / (sqrt(CAST(xn.n2 AS DOUBLE)) * sqrt(CAST(yn.n2 AS DOUBLE)))
        |            * 1e6 + 0.5) AS BIGINT) AS sim_micros
        |        FROM rnk x JOIN rnk y ON x.cid = y.cid AND x.rk < y.rk
        |        JOIN sv xs ON xs.vec_id = x.vec_id
        |        JOIN sv ys ON ys.vec_id = y.vec_id
        |        JOIN n2 xn ON xn.vec_id = x.vec_id
        |        JOIN n2 yn ON yn.vec_id = y.vec_id
        |        WHERE xn.n2 > 0 AND yn.n2 > 0),
        |q AS (SELECT * FROM prs WHERE sim_micros >= 400000)
        |SELECT CAST(q.cid AS INTEGER) AS cluster_id, q.id_a, q.id_b, q.sim_micros,
        |  CASE WHEN q.cid = (SELECT cid FROM reps WHERE o = 1)
        |       THEN (SELECT rep_id FROM reps WHERE o = 2)
        |       ELSE (SELECT rep_id FROM reps WHERE o = 1) END AS neg_id
        |FROM q""".stripMargin)),

    // ---- E2E curation funnel (q155): the whole LLM-curation flow as
    // ONE correctness-gated composition — exact dedup (q40's
    // fingerprint canonical), semantic dedup (q148's SemDeDup flags
    // over the embedding twin), quality gate (q41's token count), and
    // the leakage-safe split (q151's canonical-id hash) — per-split
    // doc/id/token sums gate every stage's geometry at once, the way
    // q139 gates the publication tail. ----
    Query("q155_curation_funnel", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sem = Dedup.semanticDedup(t(s, dir, "embeddings"), "embedding",
          "vec_id", k = 8, iters = 2, tauMicros = 400000L)
        .select(col("vec_id").as("doc_id"), col("is_dup"))
      val canon = Dedup.exactCanonicalIds(docs, "text", "doc_id")
        .select("doc_id", "canonical_id")
      val funnel = docs
        .join(canon, "doc_id")
        .join(sem, Seq("doc_id"), "left")
        .where(col("doc_id") === col("canonical_id"))
        .where(!coalesce(col("is_dup"), lit(false)))
        .where(Text.tokenCount(col("text")) >= 30)
        .withColumn("n_tokens", Text.tokenCount(col("text")))
      graft.curation.Curate.hashSplit(funnel, "canonical_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_tokens").cast("long")).as("token_sum"))
    }, Some(
      // q155: the curation funnel assembled from pinned fragments —
      // q148's full SemDeDup CTE (Lloyd prefix in lockstep), q40's
      // fingerprint canonical, q41's token count, q82's md5-bucket split
      // keyed on the canonical id.
      kmeansOracleCtes + ",\n" + semDedupRankCtes + ",\n" + semDedupDupsCte + """,
        |canon AS (
        |  SELECT doc_id, text,
        |    min(doc_id) OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ) AS canonical_id
        |  FROM documents),
        |funnel AS (
        |  SELECT c.doc_id, c.canonical_id,
        |    len(string_split_regex(trim(c.text), '\s+')) AS n_tokens
        |  FROM canon c LEFT JOIN dups d ON d.vec_id = c.doc_id
        |  WHERE c.doc_id = c.canonical_id AND d.vec_id IS NULL
        |    AND len(string_split_regex(trim(c.text), '\s+')) >= 30),
        |sp AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM funnel)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_tokens) AS BIGINT) AS token_sum
        |FROM sp GROUP BY 1""".stripMargin)),

    // ---- benchmark decontamination: training docs sharing a token
    // n-gram with the held-out benchmark slice (GPT-3-appendix style;
    // n=3 here because the synthetic corpus has no longer shared runs;
    // production uses n=8..13 with the identical plan) ----
    Query("q81_decontamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.curation.Curate.contamination(
        train = docs.where(col("doc_id") % 97 =!= 0),
        bench = docs.where(col("doc_id") % 97 === 0),
        n = 3)
    }, Some(
      decontaminationOracleSql(97))),

    // ---- L-series E2E: one corpus-ingestion round (quality floor ->
    // within-batch exact dedup -> against-corpus fingerprint anti-join
    // -> benchmark decontamination -> append); all rules relational,
    // so the whole round is oracle-checked ----
    Query("q100_corpus_ingest", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipelines.CorpusIngest.ingest(
        corpus = docs.where(col("doc_id") % 3 === 0),
        batch = docs.where(col("doc_id") % 3 =!= 0),
        bench = docs.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        minTokens = 30)
    }, Some(
      // q100: replay of the ingestion round. Shingle CTEs mirror q81;
      // fingerprints mirror q40's normalized-md5. The chain is the
      // shared corpusIngestChainSql so q212 (the JSONL-fed E2E) cannot
      // drift from it.
      s"""WITH $corpusIngestChainSql
        |SELECT doc_id, text, lang, source, n_chars FROM corpus
        |UNION ALL SELECT doc_id, text, lang, source, n_chars FROM clean""".stripMargin)),

    // ---- deterministic hash split: stable train/val/test assignment
    // from md5(doc_id) alone — adding documents never reassigns
    // existing ones ----
    Query("q82_hash_split", (s, dir) =>
      graft.curation.Curate.hashSplit(t(s, dir, "documents"))
        .select(col("doc_id"), col("bucket"), col("split")),
      Some("""SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    // ---- mixture/epoch sampling: per-language weights realized as
    // deterministic per-doc copy counts (floor(w) + hash-Bernoulli
    // frac(w)); one output row per training copy ----
    Query("q83_mixture_sampling", (s, dir) =>
      graft.curation.Curate.mixtureCopies(
        t(s, dir, "documents"),
        weights = Map("en" -> 2.5, "de" -> 1.5, "es" -> 1.0,
          "fr" -> 0.8, "zh" -> 0.3)),
      Some("""WITH weighted AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.5 WHEN 'es' THEN 1.0
        |         WHEN 'fr' THEN 0.8 WHEN 'zh' THEN 0.3 ELSE 1.0 END AS DOUBLE) AS w,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT) AS DOUBLE)
        |      / CAST(4294967296 AS DOUBLE) AS frac
        |  FROM documents),
        |counted AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(w) AS INTEGER) +
        |      CASE WHEN frac < w - floor(w) THEN 1 ELSE 0 END AS n_copies
        |  FROM weighted)
        |SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS INTEGER) AS copy_no
        |FROM counted WHERE n_copies >= 1""".stripMargin)),

    // ---- temperature-flattened mixture (Curate.temperatureCopies):
    // α=0.5 — per-group weight derived from the corpus histogram
    // (w_g = N·n_g^α / (n_g·Σn^α)), realized as q83's hash-Bernoulli
    // copy counts. sqrt chains keep n^α correctly rounded (pow isn't),
    // the cross-group Σn^α is a snapped integer sum → hash-exact. ----
    Query("q165_temperature_mixture", (s, dir) =>
      graft.curation.Curate.temperatureCopies(
        t(s, dir, "documents"), alphaQuarters = 2),
      Some("""WITH g AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |ga AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS a FROM g),
        |tot AS (SELECT sum(n) AS nn,
        |          sum(CAST(floor(a*1048576.0 + 0.5) AS BIGINT)) AS s FROM ga),
        |wd AS (SELECT d.doc_id, d.lang,
        |         (CAST(tot.nn AS DOUBLE) * ga.a * 1048576.0)
        |           / (CAST(ga.n AS DOUBLE) * CAST(tot.s AS DOUBLE)) AS w
        |       FROM documents d JOIN ga ON d.lang = ga.lang, tot),
        |c AS (SELECT doc_id, lang, round(w, 6) AS weight,
        |        CAST(floor(w) AS INTEGER) +
        |          CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT) AS DOUBLE)
        |                 / CAST(4294967296 AS DOUBLE) < w - floor(w)
        |               THEN 1 ELSE 0 END AS n_copies
        |      FROM wd)
        |SELECT doc_id, lang, weight,
        |  CAST(unnest(range(1, n_copies + 1)) AS INTEGER) AS copy_no
        |FROM c WHERE n_copies >= 1""".stripMargin)),

    // ---- per-domain quality quota: best k docs per source by the
    // composite quality score, deterministic id tiebreak ----
    Query("q84_domain_quota", (s, dir) =>
      graft.curation.Curate.domainQuota(t(s, dir, "documents"), k = 10),
      Some("""WITH scored AS (
        |  SELECT doc_id, source,
        |    round(0.4 * least(1.0, n_tokens / 100.0)
        |        + 0.4 * (1.0 - punct_ratio)
        |        + 0.2 * (1.0 - abs(stop_ratio - 0.4)), 6) AS quality
        |  FROM (
        |    SELECT doc_id, source, len(toks) AS n_tokens,
        |      (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / length(text) AS punct_ratio,
        |      CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) / len(toks) AS stop_ratio
        |    FROM (SELECT doc_id, source, text, string_split_regex(trim(text), '\s+') AS toks FROM documents))),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
        |  FROM scored)
        |SELECT doc_id, source, quality, CAST(rk AS INTEGER) AS rk
        |FROM ranked WHERE rk <= 10""".stripMargin)),

    // ---- deterministic epoch shuffle with global positions: range
    // partition + sort on md5(id:seed), then zipWithIndex-style
    // offsets — the scale form of ORDER BY random() + row_number() ----
    Query("q85_epoch_shuffle", (s, dir) =>
      graft.curation.Curate.epochPositions(
          t(s, dir, "documents"), seed = 42L, nPartitions = 8)
        .select(col("doc_id"), col("shuffle_key"), col("pos")),
      Some("""SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key,
        |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')) - 1 AS pos
        |FROM documents""".stripMargin)),

    // ---- PII scrub: typed-placeholder redaction of emails / IPv4s /
    // phone runs, with per-kind match counts. The synthetic corpus has
    // no PII, so the query plants a deterministic specimen of each kind
    // per document (both engines build the identical string) and the
    // oracle checks the redaction itself ----
    Query("q86_pii_redaction", (s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("contact user"), col("doc_id").cast("string"),
          lit("@example."),
          when(col("doc_id") % 2 === 0, "com").otherwise("org"),
          lit(" ip 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"),
          lit(" tel +1 555 01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit(" "), col("text")).as("text"))
      seeded.select(col("doc_id"),
        regexp_count(col("text"), lit(Text.EmailRe)).as("n_emails"),
        regexp_count(col("text"), lit(Text.Ipv4Re)).as("n_ips"),
        regexp_count(col("text"), lit(Text.PhoneRe)).as("n_phones"),
        Text.redactPii(col("text")).as("redacted"))
    }, Some(
      """WITH seeded AS (
        |  SELECT doc_id,
        |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.' ||
        |      CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END ||
        |      ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ||
        |      ' tel +1 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' ' || text AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS INTEGER) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+?\d[\d -]{7,}\d')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
        |    '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM seeded""".stripMargin)),

    // ---- Gopher-style repetition signals: duplicate-token fraction
    // and most-frequent-bigram share, all per-row HOFs (the per-doc
    // mode is a sorted-run scan, never a corpus-wide groupBy) ----
    Query("q87_repetition_stats", (s, dir) => {
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      withToks.select(col("doc_id"),
        size(col("t")).as("n_tokens"),
        round6(Text.dupTokenFrac(col("t"))).as("dup_token_frac"),
        Text.maxElementCount(Text.bigrams(col("t"))).as("top_bigram_count"),
        round6(Text.maxElementCount(Text.bigrams(col("t"))).cast("double") /
          (size(col("t")) - 1)).as("top_bigram_frac"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |big AS (
        |  SELECT doc_id, t,
        |    [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS bigrams
        |  FROM toks)
        |SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
        |  floor((1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t))*1e6 + 0.5)/1e6 AS dup_token_frac,
        |  CAST((SELECT max(cnt) FROM (SELECT count(*) AS cnt FROM unnest(big.bigrams) AS u(bg) GROUP BY bg) m) AS INTEGER) AS top_bigram_count,
        |  floor((CAST((SELECT max(cnt) FROM (SELECT count(*) AS cnt FROM unnest(big.bigrams) AS u(bg) GROUP BY bg) m) AS DOUBLE) / (len(t) - 1))*1e6 + 0.5)/1e6 AS top_bigram_frac
        |FROM big""".stripMargin)),

    // ---- context-window sequence packing: fixed char-budget bins over
    // the deterministic shuffle order, global running sum via the
    // two-pass offsets pattern (no single-partition window) ----
    Query("q88_sequence_packing", (s, dir) =>
      graft.curation.Curate.packBudget(
          t(s, dir, "documents"), costCol = "n_chars", budget = 4096L,
          seed = 42L, nPartitions = 8)
        .select(col("doc_id"), col("bin")),
      Some("""WITH c AS (
        |  SELECT doc_id,
        |    COALESCE(sum(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM documents)
        |SELECT doc_id, CAST(cum_before // 4096 AS BIGINT) AS bin FROM c""".stripMargin)),

    // ---- TF-IDF: corpus document frequencies joined back to per-doc
    // term counts; each document's top term by tf*ln(N/df), ranked on
    // the ROUNDED score with a term tiebreak for bit-stable output ----
    Query("q89_tfidf_top_term", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = toks.groupBy("term")
        .agg(count_distinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf
        .join(broadcast(dfreq), "term") // vocab is tiny next to the corpus
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round6(col("tf") * log(col("n").cast("double") / col("df"))))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rk", row_number().over(byDoc))
        .where(col("rk") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("tfidf"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    floor((tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df))*1e6 + 0.5)/1e6 AS tfidf
        |  FROM tf, dfreq, n WHERE tf.term = dfreq.term),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, term AS top_term, tfidf FROM ranked WHERE rk = 1""".stripMargin)),

    // ---- unigram LM scoring: corpus-trained token frequencies ->
    // per-document log-probability and a per-token perplexity proxy.
    // The float fold runs in canonical ascending-term order on BOTH
    // engines, so the sum is bit-stable (see Aggs.complementProductSorted
    // for the same trick on products) ----
    Query("q92_unigram_logprob", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = toks.agg(count(lit(1)).as("total"))
      val contrib = tf
        .join(broadcast(vocab), "term") // vocab is tiny next to the corpus
        .crossJoin(broadcast(total))
        .withColumn("contrib",
          round6(col("tf") * log(col("cnt").cast("double") / col("total"))))
      contrib.groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          aggregate(
            array_sort(collect_list(struct(col("term"), col("contrib")))),
            lit(0.0), (acc, x) => acc + x.getField("contrib")).as("lp"))
        .select(col("doc_id"), col("n_tokens"),
          round6(col("lp")).as("logprob"),
          round6(col("lp") * -1 / col("n_tokens")).as("ppl_proxy"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM toks),
        |contrib AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    floor((tf.tf * ln(CAST(vocab.cnt AS DOUBLE) / tot.total))*1e6 + 0.5)/1e6 AS contrib
        |  FROM tf, vocab, tot WHERE tf.term = vocab.term),
        |folded AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    list_reduce(list(contrib ORDER BY term), (x, y) -> x + y) AS lp
        |  FROM contrib GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  floor(lp*1e6 + 0.5)/1e6 AS logprob,
        |  floor((lp * -1 / n_tokens)*1e6 + 0.5)/1e6 AS ppl_proxy
        |FROM folded""".stripMargin)),

    // ---- sketch twins: HLL++ distinct terms and KLL-style quantiles
    // per source — approximate by nature, so rows-only here; the
    // RecallSpec-style accuracy bound vs the exact twin lives in
    // TemporalSketchSpec ----
    Query("q93_sketch_stats", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("source"),
        explode(Text.tokens(col("text"))).as("term"), col("n_chars"))
      toks.groupBy("source").agg(
        approx_count_distinct(col("term"), 0.02).as("approx_vocab"),
        percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("approx_p50"),
        percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("approx_p90"))
    }, None),

    // ---- PREFERENCE-PAIR construction (Curate.preferencePairs — the
    // DPO/reward-model data shape: per (lang, source) group the
    // highest-quality doc is `chosen`, the lowest `rejected`, margin
    // carried). Picks ride ONE composite integer key (score·10¹² +
    // inverted id) so max/min ARE the rounded-score-then-id arg-picks
    // and the identical arithmetic replays in the oracle. One group
    // shuffle; never a corpus sort. ----
    Query("q231_preference_pairs", (s, dir) =>
      graft.curation.Curate.preferencePairs(t(s, dir, "documents"),
        Seq("lang", "source"), "doc_id", "text"),
      // q231: q42's quality-micros formula feeds the same composite
      // arg-pick key; max/min + modular decode recover the picked ids
      Some("""WITH q AS (
        |  SELECT lang, source, doc_id,
        |    CAST(round(round(0.4 * least(1.0, n_tokens / 100.0)
        |        + 0.4 * (1.0 - punct_ratio)
        |        + 0.2 * (1.0 - abs(stop_ratio - 0.4)), 6) * 1e6) AS BIGINT)
        |      * 1000000000000 + (999999999999 - doc_id) AS k
        |  FROM (
        |    SELECT doc_id, lang, source, len(toks) AS n_tokens,
        |      CASE WHEN length(text) = 0 THEN 0.0
        |           ELSE (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / length(text) END AS punct_ratio,
        |      CASE WHEN len(toks) = 0 THEN 0.0
        |           ELSE CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) / len(toks) END AS stop_ratio
        |    FROM (SELECT doc_id, lang, source, text,
        |            CASE WHEN length(trim(text)) = 0 THEN []
        |                 ELSE string_split_regex(trim(text), '\s+') END AS toks
        |          FROM documents)))
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(999999999999 - max(k) % 1000000000000 AS BIGINT) AS chosen_id,
        |  CAST(999999999999 - min(k) % 1000000000000 AS BIGINT) AS rejected_id,
        |  CAST(max(k) // 1000000000000 - min(k) // 1000000000000 AS BIGINT)
        |    AS margin_micros
        |FROM q GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // ---- SFT TRANSCRIPT assembly (Events.sftTranscripts —
    // interaction logs become supervised fine-tuning documents: each
    // 30-min-gap session collapses to one role-alternating transcript
    // truncated to its LAST 8 turns, the context-window trim). Turn
    // order is the total (ts, event_id) order, so the oracle gates
    // every transcript character. One (user, session) shuffle. ----
    Query("q230_sft_transcripts", (s, dir) =>
      Events.sftTranscripts(t(s, dir, "events"), gapMinutes = 30,
        maxTurns = 8),
      // q230: q30's session CTE, kept = last-8 by (ts, event_id) desc,
      // role by kept-index parity, transcript via ordered string_agg
      // (chr(10) joiner on both engines)
      Some(s"""WITH sess AS (
        |${sessionSeqSql(" ts, event_id, event_type,", " event_type,")}),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT user_id, session_seq, ts, event_id, event_type,
        |      row_number() OVER (PARTITION BY user_id, session_seq
        |                         ORDER BY ts DESC, event_id DESC) AS rnd
        |    FROM sess) WHERE rnd <= 8),
        |lines AS (
        |  SELECT user_id, session_seq, ts, event_id,
        |    (CASE WHEN (count(*) OVER (PARTITION BY user_id, session_seq)
        |                - rnd) % 2 = 0
        |          THEN 'user' ELSE 'assistant' END)
        |      || ': ' || event_type AS line
        |  FROM kept)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_id,
        |  count(*) AS n_turns,
        |  string_agg(line, chr(10) ORDER BY ts, event_id) AS transcript
        |FROM lines GROUP BY 1, 2""".stripMargin)),

    // ---- FILL-IN-THE-MIDDLE transform (Curate.fimTransform — the
    // decoder-model sibling of q226's span corruption, the PSM format
    // of OpenAI-FIM/StarCoder): deterministic third-boundary cuts so
    // the hash gate covers every byte of the re-serialized training
    // string. Map-only, zero exchanges. ----
    Query("q228_fim_transform", (s, dir) =>
      graft.curation.Curate.fimTransform(t(s, dir, "documents"),
        "doc_id", "text"),
      // q228: same third-boundary slices via 1-based list ranges;
      // concat_ws includes empty segments identically on both engines
      // (docs under 3 tokens are excluded so none occur)
      Some("""WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '\s+') END AS ts
        |  FROM documents),
        |cut AS (
        |  SELECT doc_id, ts, len(ts) AS n,
        |    len(ts) // 3 AS p1, (len(ts) * 2) // 3 AS p2
        |  FROM toks WHERE len(ts) >= 3)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  concat_ws(' ',
        |    '<fim_prefix>', array_to_string(ts[1:p1], ' '),
        |    '<fim_suffix>', array_to_string(ts[p2+1:n], ' '),
        |    '<fim_middle>', array_to_string(ts[p1+1:p2], ' ')) AS fim_text
        |FROM cut""".stripMargin)),

    // ---- PER-DOCUMENT ADMISSION AUDIT (CorpusIngest.rejectionReasons
    // — the "why was my doc rejected?" answer q100's funnel counts
    // cannot give): q100's exact corpus/batch/bench split, one row per
    // batch doc with its FIRST failing gate (quality → dup_in_batch →
    // dup_of_corpus → contaminated → admitted) in ingest's own stage
    // order. The oracle extends the SHARED corpusIngestChainSql with a
    // CASE over the chain's own CTEs, so the audit and the chain
    // cannot drift; CorpusIngestSpec pins admitted ≡ what ingest
    // actually appends. ----
    Query("q227_ingest_rejection_audit", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipelines.CorpusIngest.rejectionReasons(
        corpus = docs.where(col("doc_id") % 3 === 0),
        batch = docs.where(col("doc_id") % 3 =!= 0),
        bench = docs.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        minTokens = 30)
    }, Some(
      // q227: the shared admission chain's own CTEs classify each batch
      // doc by its first failing gate — one CASE, no re-derivation
      s"""WITH $corpusIngestChainSql
        |SELECT b.doc_id,
        |  CASE WHEN len(string_split_regex(trim(b.text), '\\s+')) < 30
        |         THEN 'quality'
        |       WHEN b.doc_id NOT IN (SELECT doc_id FROM dedup)
        |         THEN 'dup_in_batch'
        |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fresh)
        |         THEN 'dup_of_corpus'
        |       WHEN b.doc_id IN (SELECT doc_id FROM contaminated)
        |         THEN 'contaminated'
        |       ELSE 'admitted' END AS reason
        |FROM batch b""".stripMargin)),

    // ---- T5-STYLE SPAN CORRUPTION (curation.Curate.spanCorrupt — the
    // denoising-objective constructor: masked token blocks leave the
    // input as <extra_id_j> sentinels and become the target, one ready
    // (input_text, target_text) training pair per doc). Deterministic
    // block selection — block b masked iff (b + doc_id) % 7 == 0, the
    // sentinel ordinal a closed form — so the HASH GATE covers every
    // output byte of both strings. Map-only: one scan, all array
    // lambdas in codegen. ----
    Query("q226_span_corruption", (s, dir) =>
      graft.curation.Curate.spanCorrupt(t(s, dir, "documents"),
        "doc_id", "text"),
      // q226: positional replay — same block/mask/sentinel arithmetic
      // over the unnested token stream, strings rebuilt via ordered
      // string_agg (NULL-skipping on both engines); token-less docs are
      // excluded on both sides.
      Some("""WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '\s+') END AS ts
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, ts, unnest(range(len(ts))) AS i
        |  FROM toks WHERE len(ts) > 0),
        |mk AS (
        |  SELECT doc_id, i, ts[i + 1] AS tok, i // 3 AS b,
        |    ((i // 3) + doc_id) % 7 = 0 AS masked,
        |    '<extra_id_' ||
        |      CAST(((i // 3) - (7 - doc_id % 7) % 7) // 7 AS VARCHAR) ||
        |      '>' AS sent
        |  FROM pos)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  coalesce(string_agg(CASE WHEN NOT masked THEN tok
        |      WHEN i % 3 = 0 THEN sent END, ' ' ORDER BY i), '') AS input_text,
        |  coalesce(string_agg(CASE WHEN masked AND i % 3 = 0
        |        THEN sent || ' ' || tok
        |      WHEN masked THEN tok END, ' ' ORDER BY i), '') AS target_text
        |FROM mk GROUP BY doc_id""".stripMargin))
  )

  /** q198 blocklist, priority order: multi-word phrases (incl. an
    * overlapping pair and a 3-gram), one single word, one phrase
    * absent from the synthetic vocabulary (zero-hit path). */
  private val BlocklistPhrases: Seq[String] = Seq("slow table",
    "table table", "agg", "scan slow fast", "vector stream",
    "data vector warehouse")

  private def blocklistPhraseValuesSql: String =
    BlocklistPhrases.zipWithIndex
      .map { case (p, i) => s"($i, '$p')" }.mkString(", ")

  /** The fixed merge list q157 applies (the six merges q154 learns at
    * sf0.01, frozen as explicit parameters — q157 gates the APPLY half
    * of BPE independently of the learner). */
  val bpeFixedMerges: Seq[(String, String)] =
    Seq(("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("m", "er"))

  /** One greedy non-overlapping left-to-right merge application of the
    * pair in scope, as DuckDB window SQL over an exploded
    * (partition-keys…, pos, sym) state. The only way two candidate
    * starts can be adjacent is an l==r run ("aaaa" under (a,a) has
    * candidates at 1,2,3), where greedy keeps every other one — i.e.
    * the odd row_number parity within each consecutive-candidate
    * island (islands via the pos - row_number gaps trick). A consumed
    * position is one whose predecessor was a kept candidate
    * (lag(kept)); survivors are re-numbered. `lSql`/`rSql` are SQL
    * expressions for the pair (literals for q157, the top_k row for
    * q154). */
  private def bpeApplyMergeSql(k: Int, prev: String, keys: String,
                               fromExtra: String, lSql: String,
                               rSql: String, p: String = ""): String =
    s"""${p}cand_$k AS (
       |  SELECT s.*,
       |         COALESCE(s.sym = $lSql AND
       |          lead(s.sym) OVER (PARTITION BY $keys ORDER BY s.pos) = $rSql,
       |          false) AS cand
       |  FROM $prev s$fromExtra),
       |${p}grp_$k AS (
       |  SELECT *, CASE WHEN cand THEN
       |      pos - row_number() OVER (PARTITION BY $keys, cand ORDER BY pos)
       |    END AS grp
       |  FROM ${p}cand_$k),
       |${p}seg_$k AS MATERIALIZED (
       |  SELECT * EXCLUDE (pos, sym, cand, grp, kept, prev_kept, lead_sym),
       |         row_number() OVER (PARTITION BY $keys ORDER BY pos) AS pos,
       |         CASE WHEN kept THEN sym || lead_sym ELSE sym END AS sym
       |  FROM (SELECT *,
       |          lag(kept, 1, false) OVER (PARTITION BY $keys ORDER BY pos) AS prev_kept,
       |          lead(sym) OVER (PARTITION BY $keys ORDER BY pos) AS lead_sym
       |        FROM (SELECT *,
       |                cand AND (row_number() OVER (PARTITION BY $keys, grp ORDER BY pos) % 2 = 1) AS kept
       |              FROM ${p}grp_$k) kk)
       |  WHERE NOT prev_kept)""".stripMargin

  /** q191's oracle: per n in 2..10 the n-gram multiset groups per doc;
    * n ≤ 4 takes the top type's cnt·chars mass (tie: cnt DESC, gram
    * ASC — the kernel's first-max-run-in-sorted-order), n ≥ 5 sums
    * cnt·chars over types with cnt ≥ 2. Masses are exact integers;
    * the keep flag compares them scaled by 100 against pct·doc_chars
    * so no float boundary exists. */
  private def repetitionOracleSql: String = {
    val pct = Map(2 -> 20, 3 -> 18, 4 -> 16, 5 -> 15, 6 -> 14,
      7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
    def gramCtes(n: Int) =
      s"""g$n AS (SELECT doc_id, array_to_string(ts[i:i+${n - 1}], ' ') AS g
         |  FROM toks, unnest(range(1, len(ts) - ${n - 2})) AS r(i)
         |  WHERE len(ts) >= $n),
         |c$n AS (SELECT doc_id, g, count(*) AS cnt FROM g$n GROUP BY 1, 2)""".stripMargin
    def massCte(n: Int) =
      if (n <= 4)
        s"""m$n AS (SELECT doc_id, cnt * len(g) AS m FROM (
           |  SELECT doc_id, g, cnt,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rk
           |  FROM c$n) t WHERE rk = 1)""".stripMargin
      else
        s"""m$n AS (SELECT doc_id, CAST(sum(cnt * len(g)) AS BIGINT) AS m
           |  FROM c$n WHERE cnt >= 2 GROUP BY 1)""".stripMargin
    def fracCol(n: Int, name: String) =
      s"  ${round6Sql(s"CAST(COALESCE(m$n.m, 0) AS DOUBLE) / b.nc")} AS $name"
    val fracs =
      Seq(fracCol(2, "top_2gram_char_frac"), fracCol(3, "top_3gram_char_frac"),
        fracCol(4, "top_4gram_char_frac")) ++
        (5 to 10).map(n => fracCol(n, s"dup_${n}gram_char_frac"))
    val keep = (2 to 10)
      .map(n => s"COALESCE(m$n.m, 0) * 100 <= ${pct(n)} * b.nc")
      .mkString("\n    AND ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts,
       |    CAST(len(trim(text)) AS BIGINT) AS nc
       |  FROM documents WHERE length(trim(text)) > 0),
       |${(2 to 10).map(gramCtes).mkString(",\n")},
       |${(2 to 10).map(massCte).mkString(",\n")}
       |SELECT b.doc_id,
       |${fracs.mkString(",\n")},
       |  ($keep) AS keep
       |FROM toks b
       |${(2 to 10).map(n => s"LEFT JOIN m$n ON m$n.doc_id = b.doc_id").mkString("\n")}""".stripMargin
  }

  /** Two unrolled full-batch logistic GD steps (lr 4.0, zero start)
    * over an `e` CTE of (vec_id, label, y, xs): exact BIGINT gradient
    * sums, the engine's IEEE weight-update sequence, final scores `sc`
    * (q149 on embeddings, q172 on bigram features). */
  private val logisticTwoStepCtes: String =
    """ex1 AS (SELECT y,
      |          unnest(list_transform(xs, (x, i) -> {'dim': i, 'x': x}),
      |                 recursive := true)
      |        FROM e),
      |g1 AS (SELECT dim,
      |         sum(CAST(floor((0.5 - y)*x*1048576.0 + 0.5) AS BIGINT)) AS g,
      |         CAST(count(*) AS DOUBLE) AS n
      |       FROM ex1 GROUP BY dim),
      |w1 AS (SELECT list(0.0 - 4.0*(CAST(g AS DOUBLE)/(n*1048576.0)) ORDER BY dim) AS w
      |       FROM g1),
      |r2 AS (SELECT e.vec_id, e.y, e.xs,
      |         (0.5 + z/(2.0*(1.0 + abs(z)))) - e.y AS r
      |       FROM (SELECT e.*, list_sum(list_transform(list_zip(e.xs, w1.w),
      |               p -> p[1]*p[2])) AS z
      |             FROM e, w1) e),
      |ex2 AS (SELECT r,
      |          unnest(list_transform(xs, (x, i) -> {'dim': i, 'x': x}),
      |                 recursive := true)
      |        FROM r2),
      |g2 AS (SELECT dim,
      |         sum(CAST(floor(r*x*1048576.0 + 0.5) AS BIGINT)) AS g,
      |         CAST(count(*) AS DOUBLE) AS n
      |       FROM ex2 GROUP BY dim),
      |w2 AS (SELECT list(w1.w[g2.dim] - 4.0*(CAST(g2.g AS DOUBLE)/(g2.n*1048576.0))
      |                   ORDER BY g2.dim) AS w
      |       FROM g2, w1),
      |sc AS (SELECT e.vec_id, e.label, e.y,
      |         list_sum(list_transform(list_zip(e.xs, w2.w), p -> p[1]*p[2])) AS z
      |       FROM e, w2)""".stripMargin

  /** q42's quality score snapped to integer micros as `q` (source,
    * `extra` columns, label = English, s) — q201/q204/q208/q211's
    * shared input (OracleConsistencySpec pins the formula). */
  private def qualityMicrosCte(extra: String = ""): String =
    s"""WITH q AS (
       |  SELECT source, ${extra}lang = 'en' AS label,
       |    CAST(round(round(0.4 * least(1.0, n_tokens / 100.0)
       |        + 0.4 * (1.0 - punct_ratio)
       |        + 0.2 * (1.0 - abs(stop_ratio - 0.4)), 6) * 1e6) AS BIGINT) AS s
       |  FROM (
       |    SELECT doc_id, source, lang, len(toks) AS n_tokens,
       |      (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / length(text) AS punct_ratio,
       |      CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) / len(toks) AS stop_ratio
       |    FROM (SELECT doc_id, source, lang, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents)))""".stripMargin

  /** q154's oracle: the 6 learning rounds UNROLLED — per round a pair
    * count over the exploded per-word symbol state, the (n desc, l, r)
    * top-1 (DuckDB varchar comparison is memcmp, same as Spark's
    * UTF8String binary order), and the greedy merge application. */
  private def bpeMergeOracleSql(rounds: Int): String = {
    val perRound = (1 to rounds).map { k =>
      bpePairsTopCtes(k) + ",\n" +
        bpeApplyMergeSql(k, s"seg_${k - 1}", "word", s" CROSS JOIN top_$k t",
          "t.l", "t.r")
    }
    val sel = (1 to rounds).map(k =>
      s"""SELECT $k AS rank, l AS "left", r AS "right", l || r AS merged, n AS pair_count FROM top_$k""")
      .mkString(" UNION ALL ")
    (bpeVocabCtes +: perRound).mkString(",\n") + s"\nSELECT * FROM ($sel) ORDER BY rank"
  }

  /** q179's oracle: q157's per-word segmentation chain with `lang`
    * carried through the words CTE, collapsed to per-language
    * fertility (tokens/word) and compression (chars/token) stats. */
  private def bpeFertilityOracleSql(ms: Seq[(String, String)]): String =
    bpeSegmentChainSql(ms, lang = true) +
      s""",
         |wstats AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words
         |           FROM words GROUP BY 1),
         |tstats AS (
         |  SELECT w.lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(sum(length(s.sym)) AS BIGINT) AS n_chars
         |  FROM seg_${ms.size} s
         |  JOIN words w ON s.doc_id = w.doc_id AND s.widx = w.widx
         |  GROUP BY 1)
         |SELECT lang, n_words, n_tokens, n_chars,
         |  floor(CAST(n_tokens AS DOUBLE)/CAST(n_words AS DOUBLE)*1e6 + 0.5)/1e6
         |    AS fertility,
         |  floor(CAST(n_chars AS DOUBLE)/CAST(n_tokens AS DOUBLE)*1e6 + 0.5)/1e6
         |    AS chars_per_token
         |FROM wstats JOIN tstats USING (lang)""".stripMargin

  /** q157's oracle: the fixed merges applied (same unrolled machinery,
    * pair literals instead of a learned top-1) to the exploded
    * (doc_id, word-index, pos, sym) corpus state, reduced to the
    * token histogram. */
  private def bpeSegmentOracleSql(ms: Seq[(String, String)]): String =
    bpeSegmentChainSql(ms, lang = false) +
      s"""
         |SELECT sym AS token, CAST(count(*) AS BIGINT) AS n,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM seg_${ms.size} GROUP BY 1""".stripMargin

  /** q157's segmentation chain: [[bpeWordsCtes]] then one `seg_i` per
    * fixed merge in `ms`, applied as pair literals. */
  private def bpeSegmentChainSql(ms: Seq[(String, String)], lang: Boolean): String =
    (("WITH " + bpeWordsCtes(lang)) +: ms.zipWithIndex.map { case ((l, r), i) =>
      bpeApplyMergeSql(i + 1, s"seg_$i", "doc_id, widx", "", sqlStr(l), sqlStr(r))
    }).mkString(",\n")

  /** q154's learning start: word frequencies `vocab` and their
    * per-character state `seg_0`. */
  private val bpeVocabCtes: String =
    """WITH vocab AS (
      |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |        FROM documents WHERE length(trim(text)) > 0)
      |  WHERE length(w) > 0 GROUP BY 1),
      |seg_0 AS MATERIALIZED (
      |  SELECT word, freq, i AS pos, chars[i] AS sym
      |  FROM (SELECT word, freq, regexp_split_to_array(word, '') AS chars FROM vocab),
      |       unnest(generate_series(1, len(chars))) AS gs(i))""".stripMargin

  /** Learning round k: adjacent-symbol pair counts over `seg_{k-1}`
    * and the top pair `top_k` (count desc, then l, r). */
  private def bpePairsTopCtes(k: Int): String =
    s"""pairs_$k AS (
       |  SELECT a.sym AS l, b.sym AS r, CAST(SUM(a.freq) AS BIGINT) AS n
       |  FROM seg_${k - 1} a JOIN seg_${k - 1} b
       |    ON a.word = b.word AND b.pos = a.pos + 1
       |  GROUP BY 1, 2),
       |top_$k AS MATERIALIZED (
       |  SELECT l, r, n FROM pairs_$k ORDER BY n DESC, l ASC, r ASC LIMIT 1)""".stripMargin

  /** The corpus `words` (doc_id[, lang], word index, word) and their
    * per-character state `<p>seg_0`, where q157's application starts. */
  private def bpeWordsCtes(lang: Boolean, p: String = ""): String = {
    val l = if (lang) "lang, " else ""
    s"""words AS (
       |  SELECT doc_id, ${l}i AS widx, ws[i] AS word
       |  FROM (SELECT doc_id, ${l}regexp_split_to_array(trim(text), '\\s+') AS ws
       |        FROM documents WHERE length(trim(text)) > 0),
       |       unnest(generate_series(1, len(ws))) AS gs(i)
       |  WHERE length(ws[i]) > 0),
       |${p}seg_0 AS MATERIALIZED (
       |  SELECT doc_id, widx, i AS pos, chars[i] AS sym
       |  FROM (SELECT doc_id, widx, regexp_split_to_array(word, '') AS chars FROM words),
       |       unnest(generate_series(1, len(chars))) AS gs(i))""".stripMargin
  }

  /** q168's oracle: the tokenizer stack end-to-end — q154's unrolled
    * learning rounds (vocab seg/top chain) interleaved with q157's
    * corpus-application machinery driven by each round's LEARNED
    * `top_k` row (CROSS JOIN instead of pair literals; `c`-prefixed
    * CTE names keep the two chains apart), then per-doc token counts
    * packed with q88's hash-order running-sum bins. */
  private def bpeTokenizerE2eOracleSql(rounds: Int, budget: Long): String = {
    val head = bpeVocabCtes + ",\n" + bpeWordsCtes(lang = false, p = "c")
    // topx_k: top_k padded with a never-matching NULL sentinel when a
    // round finds no pair (corpus exhausted before `rounds` merges) —
    // the corpus chain then passes through unchanged, mirroring
    // Bpe.merges' early stop, instead of the CROSS JOIN emptying every
    // later cseg (the COALESCE(cand, false) in the apply makes the
    // NULL pair a no-op rather than a null-contagion row drop)
    val perRound = (1 to rounds).map { k =>
      bpePairsTopCtes(k) + s""",
         |topx_$k AS (
         |  SELECT l, r FROM top_$k
         |  UNION ALL
         |  SELECT NULL, NULL WHERE NOT EXISTS (SELECT 1 FROM top_$k)),
         |""".stripMargin +
        bpeApplyMergeSql(k, s"seg_${k - 1}", "word", s" CROSS JOIN top_$k t",
          "t.l", "t.r") + ",\n" +
        bpeApplyMergeSql(k, s"cseg_${k - 1}", "doc_id, widx",
          s" CROSS JOIN topx_$k t", "t.l", "t.r", p = "c")
    }
    (head +: perRound).mkString(",\n") +
      s""",
         |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
         |       FROM cseg_$rounds GROUP BY 1),
         |cum AS (
         |  SELECT doc_id, n_tokens,
         |    COALESCE(sum(n_tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM tc)
         |SELECT doc_id, n_tokens, CAST(cum_before // $budget AS BIGINT) AS bin
         |FROM cum""".stripMargin
  }

  /** The q208/q211 composed-ingest-audit oracle chain, parameterized
    * by the reference-window predicate and the PSI alert threshold —
    * ONE builder so the A/A control and the planted-drift twin cannot
    * drift apart. */
  private def ingestAuditOracleSql(isRefSql: String, thresholdMicros: Long): String =
    s"""${qualityMicrosCte(s"$isRefSql AS is_ref, ")},
       |hist AS (
       |  SELECT source, s, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS r
       |  FROM q GROUP BY 1, 2),
       |cdf AS (
       |  SELECT *, CAST(sum(n) OVER (PARTITION BY source ORDER BY s) AS BIGINT) AS cum,
       |    least(CAST(9 AS BIGINT), (s * 10) // 1000000) AS bin
       |  FROM hist),
       |tot AS (
       |  SELECT source,
       |    CAST(sum(n) AS BIGINT) AS nn,
       |    CAST(sum(p) AS BIGINT) AS n_pos,
       |    CAST(sum(p * (2 * cum - n + 1)) AS BIGINT) AS r2_pos,
       |    CAST(sum(r) AS BIGINT) AS nref,
       |    CAST(sum(n - r) AS BIGINT) AS ncur
       |  FROM cdf GROUP BY 1),
       |g AS (
       |  SELECT source, bin, CAST(sum(n) AS BIGINT) AS bn,
       |    CAST(sum(p) AS BIGINT) AS bp,
       |    CAST(sum(s * n) AS BIGINT) AS bconf,
       |    CAST(sum(r) AS BIGINT) AS bref,
       |    CAST(sum(n - r) AS BIGINT) AS bcur
       |  FROM cdf GROUP BY 1, 2),
       |bt AS (
       |  SELECT source, bn,
       |    abs(bp * 1000000 // bn - bconf // bn) AS gap,
       |    CASE WHEN bref > 0 AND bcur > 0 THEN CAST(floor(
       |        (CAST(bcur AS DOUBLE) / CAST(ncur AS DOUBLE)
       |          - CAST(bref AS DOUBLE) / CAST(nref AS DOUBLE))
       |        * ln((CAST(bcur AS DOUBLE) * CAST(nref AS DOUBLE))
       |              / (CAST(bref AS DOUBLE) * CAST(ncur AS DOUBLE)))
       |        * 1e6 + 0.5) AS BIGINT) END AS term
       |  FROM g JOIN tot USING (source)),
       |ag AS (
       |  SELECT source, CAST(sum(bn * gap) AS BIGINT) AS gapw,
       |    CAST(sum(term) AS BIGINT) AS psi
       |  FROM bt GROUP BY 1)
       |SELECT source, nn AS n, n_pos, nn - n_pos AS n_neg,
       |  r2_pos - n_pos * (n_pos + 1) AS u2,
       |  CASE WHEN n_pos > 0 AND nn - n_pos > 0 THEN
       |    (r2_pos - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * (nn - n_pos))
       |  END AS auc_micros,
       |  gapw // nn AS ece_micros,
       |  COALESCE(psi, 0) AS psi_total_micros,
       |  COALESCE(psi, 0) >= $thresholdMicros AS drifted
       |FROM tot JOIN ag USING (source)""".stripMargin
}
