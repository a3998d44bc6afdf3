package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the oracle SQL's repeated fixture fragments.
  *
  * The synthetic indicator CTE (replaying `statusInputs`' `ind`
  * generation) appears in several oracles (q113/q116/q118/q120 and the
  * weighted q133/q134/q135/q137). Every copy now comes from one
  * builder, `LsviQueries.indCte`, in four value variants: boolean
  * `status`, raw `vs` (k/1000), the 1e-6 fixed-point `x6` and the
  * 1/1024-snapped `x`. The text must stay in lockstep with the Spark
  * fixture — a change to the builder or to one variant silently breaks
  * other queries' hash parity. This spec normalizes every `ind AS
  * (...)` block out of the generated oracle SQL and pins the distinct
  * set to the four canonical variants. The other shared fragments it
  * pins (the Lloyd chain, the quality formula, the release chain) are
  * builders in `graft.queries.Shared` and the family objects too; the
  * pins check the generated text, not the source.
  */
class OracleConsistencySpec extends AnyFunSuite {

  private def norm(s: String): String =
    s.replaceAll("\\s+", " ").trim

  private val indBlock =
    "(?s)ind AS \\(.*?CROSS JOIN \\(VALUES \\(0\\),\\(1\\),\\(2\\),\\(3\\),\\(4\\)\\) j\\(j\\)\\)".r

  test("every oracle's synthetic ind CTE is one of the three canonical variants") {
    val blocks = SparkEntry.oracleSql.values.toSeq
      .flatMap(sql => indBlock.findAllIn(sql).toSeq)
      .map(norm)
    assert(blocks.nonEmpty)
    val canonical = Set(
      // status variant (q113, q116, q133, q135)
      norm("""ind AS (
        SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
          'ind_' || j.j AS indicator,
          CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
          CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
               ELSE ((p.ck * (j.j + 2)) % 5) % 2 = 1 END AS status
        FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j))"""),
      // raw verschilscore variant (q118, q120)
      norm("""ind AS (
        SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
          'ind_' || j.j AS indicator,
          CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
          CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
               ELSE CAST((p.ck * (j.j + 4)) % 2001 - 1000 AS DOUBLE) / 1000.0
               END AS vs
        FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j))"""),
      // 1/1024-snapped variant (q134, q137)
      norm("""ind AS (
        SELECT p.id, p.habitattype, 'crit_' || (j.j % 2) AS criterium,
          'ind_' || j.j AS indicator,
          CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
          CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
               ELSE round((CAST((p.ck * (j.j + 4)) % 2001 - 1000 AS DOUBLE)
                           / 1000.0) * 1024) / 1024.0
               END AS x
        FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j))"""),
      // 1e-6 fixed-point variant (q120 — integer micro-units for the
      // unweighted paired-difference identity; no habitattype column,
      // the pairing join supplies it)
      norm("""ind AS (
        SELECT p.id, 'crit_' || (j.j % 2) AS criterium,
          'ind_' || j.j AS indicator,
          CASE WHEN j.j < 2 THEN 'zb' ELSE 'b' END AS belang,
          CASE WHEN (p.ck * (j.j + 2)) % 5 = 0 THEN NULL
               ELSE CAST(floor(CAST((p.ck * (j.j + 4)) % 2001 - 1000 AS DOUBLE)
                               / 1000.0 * 1000000.0 + 0.5) AS BIGINT)
               END AS x6
        FROM plots p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j))"""))
    val stray = blocks.toSet -- canonical
    assert(stray.isEmpty,
      s"ind CTE copies drifted from the canonical variants: $stray")
    assert(blocks.toSet.size == 4, s"expected 4 variants, got ${blocks.toSet}")
  }

  test("the q148/q150 oracles replay q147's Lloyd CTE verbatim") {
    // SemDeDup and the coreset sample must rank within the SAME final
    // assignment q147 checks; the shared CTE prefix (e .. a1) is
    // pinned to stay in lockstep — editing the k-means replay in one
    // oracle but not the others silently breaks an untouched query's
    // hash parity
    val lloyd = "(?s)WITH e AS \\(.*?a1 AS \\(.*?WHERE rk = 1\\)".r
    val ctes = Seq("q147_kmeans_clusters", "q148_semantic_dedup",
        "q150_coreset_sample", "q155_curation_funnel",
        "q156_contrastive_triplets")
      .map(q => q -> norm(lloyd.findFirstIn(SparkEntry.oracleSql(q))
        .getOrElse(fail(s"$q oracle lost its Lloyd CTE"))))
    assert(ctes.map(_._2).distinct.size == 1,
      s"Lloyd CTE copies drifted apart across ${ctes.map(_._1)}")
    // q162's coarse chain is the same CTE shape but parameterized
    // kc=4 (vs the family's k=8) and keeps dm through a1, so it is
    // pinned structurally: substituting the init size must recover
    // q147's chain verbatim
    val ivf = lloyd.findFirstIn(SparkEntry.oracleSql("q162_ivfpq_search"))
      .getOrElse(fail("q162 oracle lost its coarse Lloyd CTE"))
    assert(norm(ivf.replace("vec_id < 4", "vec_id < 8")) == ctes.head._2,
      "q162 coarse Lloyd chain drifted from q147's shape")
  }

  test("q201/q204's score CTEs replay q42's quality formula verbatim") {
    // the AUC audit ranks — and the calibration audit bins — the SAME
    // score q42 gates on; the quality formula and its punct/stopword
    // inputs are pinned lockstep — editing one oracle but not the
    // others silently breaks parity
    val frags = Seq(
      "round(0.4 * least(1.0, n_tokens / 100.0) + 0.4 * (1.0 - punct_ratio) + 0.2 * (1.0 - abs(stop_ratio - 0.4)), 6)",
      "(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / length(text) AS punct_ratio",
      "x -> x IN ('the','a','of','and','to','in','is','it')")
    for (q <- Seq("q42_docs_quality", "q201_quality_auc",
        "q204_calibration_audit", "q208_ingest_audit",
        "q211_ingest_audit_drift"); f <- frags)
      assert(norm(SparkEntry.oracleSql(q)).contains(norm(f)),
        s"$q lost quality-formula fragment: $f")
  }

  test("round-trip twins ride byte-identical oracles") {
    // the written-index / streaming twins are DEFINED by output
    // identity with their in-memory / batch originals, so their
    // oracles must stay byte-identical: editing one half silently
    // turns an identity gate into two diverging gates
    assert(SparkEntry.oracleSql("q206_bitext_indexed") ===
      SparkEntry.oracleSql("q203_bitext_margin_ivf"))
    assert(SparkEntry.oracleSql("q205_drift_stream") ===
      SparkEntry.oracleSql("q200_drift_psi"))
    assert(SparkEntry.oracleSql("q169_ivfpq_index_probe") ===
      SparkEntry.oracleSql("q162_ivfpq_search"))
    // q221 (Avro) is a format-swap twin of q210 (ORC): both are
    // value-invisible round trips gated by the same per-group content
    // checksum, so their oracles are the same SQL by definition
    assert(SparkEntry.oracleSql("q221_avro_roundtrip") ===
      SparkEntry.oracleSql("q210_orc_roundtrip"))
  }

  test("q232's release chain shares each component oracle's fragments in lockstep") {
    val rel = norm(SparkEntry.oracleSql("q232_pretrain_release"))

    // q100's fingerprint/dedup text (the shared ingest-chain form)
    for (f <- Seq(
      "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f",
      "SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY f) AS canon FROM fp) WHERE doc_id = canon"))
      assert(rel.contains(norm(f)), s"q232 lost the q100 dedup fragment: $f")
    assert(norm(SparkEntry.oracleSql("q100_corpus_ingest"))
      .contains(norm("md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f")),
      "q100 fingerprint text moved — update the q232 lockstep")

    // q81's shingle CTE shape, re-parameterized n=3 → n=5: substituting
    // the gram width back must recover q81's text verbatim
    val shingle5 = norm("""CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks) - 5 + 2),
        i -> array_to_string(toks[i:i+4], ' ')) END""")
    assert(rel.contains(shingle5), "q232 lost the 5-gram shingle CTE")
    val shingle3 = shingle5.replace("<= 5", "<= 3")
      .replace("- 5 + 2", "- 3 + 2").replace("i:i+4", "i:i+2")
    assert(norm(SparkEntry.oracleSql("q81_decontamination")).contains(shingle3),
      "q81 shingle text drifted from the q232 lockstep shape")

    // q165's mixture CTEs with the histogram re-sourced clean ←
    // documents: substituting the source back must recover q165's text
    val mix = norm("""ga AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS a FROM g),
      tot AS (SELECT sum(n) AS nn,
        sum(CAST(floor(a*1048576.0 + 0.5) AS BIGINT)) AS s FROM ga)""")
    assert(rel.contains(mix), "q232 lost the q165 mixture weight CTEs")
    assert(norm(SparkEntry.oracleSql("q165_temperature_mixture")).contains(mix),
      "q165 mixture text drifted from the q232 lockstep shape")
    val bern = norm("""CAST(floor(w) AS INTEGER) +
      CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT) AS DOUBLE)
        / CAST(4294967296 AS DOUBLE) < w - floor(w)
        THEN 1 ELSE 0 END AS n_copies""")
    assert(rel.contains(bern) &&
      norm(SparkEntry.oracleSql("q165_temperature_mixture")).contains(bern),
      "the hash-Bernoulli copy text diverged between q232 and q165")

    // q219's stream tail, re-keyed doc_id → release_id: substituting
    // the key back must recover q219's tail verbatim
    val tail219 = "(?s)ids AS \\(.*GROUP BY 1".r
    val relTail = tail219.findFirstIn(SparkEntry.oracleSql("q232_pretrain_release"))
      .getOrElse(fail("q232 oracle lost its token-stream tail"))
    val q219Tail = tail219.findFirstIn(SparkEntry.oracleSql("q219_token_shards"))
      .getOrElse(fail("q219 oracle lost its token-stream tail"))
    assert(norm(relTail.replace("release_id", "doc_id")
        .replace("FROM release", "FROM documents")) == norm(q219Tail),
      "q232 stream tail drifted from q219's (modulo the release_id key)")

    // q233 rides the SAME chain builder (structural sharing — both
    // oracles interpolate pretrainReleaseChainSql), so pin only that
    // (a) the chain text really is shared and (b) its span tail is
    // q225's verbatim modulo the release_id key
    val rel233 = SparkEntry.oracleSql("q233_release_doc_spans")
    val chainEnd = "AS release_id, text FROM cc)"
    val chain232 = SparkEntry.oracleSql("q232_pretrain_release")
      .substring(0, SparkEntry.oracleSql("q232_pretrain_release").indexOf(chainEnd))
    assert(rel233.startsWith(chain232),
      "q233 does not share q232's release chain prefix")
    val tail225 = "(?s)ids AS \\(.*total // 64".r
    val spanTail = tail225.findFirstIn(rel233)
      .getOrElse(fail("q233 oracle lost its span tail"))
    val q225Tail = tail225.findFirstIn(SparkEntry.oracleSql("q225_shard_doc_spans"))
      .getOrElse(fail("q225 oracle lost its span tail"))
    assert(norm(spanTail.replace("release_id", "doc_id")
        .replace("FROM release", "FROM documents")) == norm(q225Tail),
      "q233 span tail drifted from q225's (modulo the release_id key)")

    // q234 rides the same chain builder; pin the shared prefix and the
    // EOS-inclusive cost text (the q225/q233 cost shape)
    assert(SparkEntry.oracleSql("q234_release_data_card").startsWith(chain232),
      "q234 does not share q232's release chain prefix")
    assert(norm(SparkEntry.oracleSql("q234_release_data_card")).contains(norm(
      """len(CASE WHEN length(trim(cc.text)) = 0 THEN []
         ELSE string_split_regex(trim(cc.text), '\s+') END) + 1""")),
      "q234 lost the EOS-inclusive stream cost text")

    // q235: drop 0 is the chain re-predicated to the %3≡0 slice (the
    // builder guarantees the text); pin that both drops' stream CTEs
    // carry q219's token-id expression verbatim and the delta replays
    // the chain's fingerprint/shingle text for its gates
    val rel235 = norm(SparkEntry.oracleSql("q235_release_delta"))
    val tokenIdText = norm(
      "t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 4096)")
    assert(rel235.sliding(tokenIdText.length).count(_ == tokenIdText) == 2,
      "q235 must tokenize both drops with q219's id expression")
    assert(rel235.contains(norm(
      "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f")),
      "q235 delta lost the chain's fingerprint text")
    assert(rel235.contains(shingle5),
      "q235 delta lost the 5-gram shingle CTE shape")
    assert(rel235.contains(norm("doc_id % 97 <> 0 AND doc_id % 3 = 0")),
      "q235 drop-0 predicate moved — update the Spark lambda in lockstep")

    // q236: same chain prefix; the position key is q85's md5(id:seed)
    // shape with the seed rendered per epoch
    assert(SparkEntry.oracleSql("q236_release_epoch_order").startsWith(chain232),
      "q236 does not share q232's release chain prefix")
    assert(norm(SparkEntry.oracleSql("q236_release_epoch_order")).contains(norm(
      "md5(CAST(s.seq_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR))")),
      "q236 lost q85's md5(id:seed) key shape")
    assert(norm(SparkEntry.oracleSql("q85_epoch_shuffle")).contains(norm(
      "md5(CAST(doc_id AS VARCHAR) || ':42')")),
      "q85 key text moved — update the q236 lockstep")

    // q237: same chain prefix; the funnel counts name the chain's own
    // stage CTEs, so the funnel cannot diverge from what q232 ships
    assert(SparkEntry.oracleSql("q237_release_funnel").startsWith(chain232),
      "q237 does not share q232's release chain prefix")
    for (cte <- Seq("FROM rel_docs", "FROM quality", "FROM dedup",
        "FROM clean", "FROM cc"))
      assert(SparkEntry.oracleSql("q237_release_funnel").contains(cte),
        s"q237 funnel lost its $cte stage count")
  }

  test("the pairing arg-pick key is uniform across all oracle CTEs") {
    // every arg_min/arg_max in the status/trend oracles must order by
    // the same visit key the engine uses (struct(date, id) rendered as
    // mdate || '|' || id) — a divergent key breaks tie-handling parity.
    // The one non-visit arg-pick is q38's winnow first-fingerprint
    // (arg_min over the 1-based gram position p, unique per doc by
    // construction) — pinned here so a new divergent key still fails.
    val argPick = "arg_(?:min|max)\\(([^)]*?), ([^)]+)\\)".r
    def keysOf(sql: String) = argPick.findAllMatchIn(sql).map(_.group(2)).toSet
    val visitKeys = (SparkEntry.oracleSql - "q38_docs_winnow").values.toSeq
      .flatMap(keysOf).toSet
    assert(visitKeys == Set("mdate || '|' || id"),
      s"divergent arg-pick keys: $visitKeys")
    assert(keysOf(SparkEntry.oracleSql("q38_docs_winnow")) == Set("p"))
  }

  test("no oracle aliases a HUGEINT-tainted shard_id without a BIGINT cast") {
    // Round-21 root cause of the two-round driver-only hash red on
    // q219/q232/q235: `(gpos // 64) // 16 AS shard_id` inherits
    // HUGEINT from gpos's windowed sum(BIGINT). DuckDB's fetchall
    // path (this repo's selfcheck, both judges) renders HUGEINT as a
    // Python int — equal to Spark's long — but any Arrow/pandas
    // materialization (df()) renders HUGEINT as float64, so the value
    // hash compares '0.0' vs '0': hash-red with rows/schema green,
    // exactly the observed driver signature, reproducible locally via
    // duckdb .df(). The fix casts at the taint source; this pin keeps
    // every aliased shard_id arithmetic behind an explicit
    // CAST(... AS BIGINT) so the class cannot reappear.
    val aliased = "(?m)^.*AS shard_id.*$".r
    val offenders = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      aliased.findAllIn(sql).toSeq
        .filterNot(_.trim.startsWith("SELECT shard_id")) // plain ref
        .filterNot(l => l.contains("CAST(") && l.contains("AS BIGINT"))
        .map(l => s"$name: ${l.trim}")
    }
    assert(offenders.isEmpty,
      s"shard_id aliased without BIGINT cast (HUGEINT/pandas-float64 " +
        s"hazard):\n${offenders.mkString("\n")}")
  }
}
