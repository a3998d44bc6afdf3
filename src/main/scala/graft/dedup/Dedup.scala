package graft.dedup

import graft.core.Materialize.StableOps
import graft.functions.{JaccardFunctions, VectorFunctions}
import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the point of every method here): the text/vector
  * payload is hashed map-side into a small signature, and only
  * (bucket_key, id, signature) tuples are shuffled — never the payload.
  * Candidate generation is a self-join on bucket keys (band join), so
  * the quadratic blow-up is confined to same-bucket groups; the final
  * verify joins payloads back by id for the tiny candidate set.
  */
object Dedup {

  /** Exact dedup: canonical id = min(id) among rows sharing an MD5
    * fingerprint of the normalized text. One hash-shuffle on a 16-byte
    * key; text never shuffles twice. */
  def exactCanonicalIds(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = docs.select(col(idCol), Text.fingerprint(col(textCol)).as("fingerprint"))
    fp.withColumn("canonical_id",
      min(col(idCol)).over(Window.partitionBy("fingerprint")))
  }

  /** Incremental-ingest exact dedup — the production shard-arrival
    * shape: a new `delta` batch dedups against the ALREADY-INGESTED
    * corpus without re-reading its text, by joining the delta's
    * fingerprints against the base's fingerprint INDEX (16-byte keys —
    * at 100 TB that index is what a dedup service stores, not the
    * documents). Per delta document the full removed-records
    * accounting the reference pipelines insist on:
    *
    *   - `new`           first sight of the fingerprint anywhere
    *   - `dup_of_base`   fingerprint already ingested
    *   - `dup_in_delta`  unseen in base, but a smaller-id delta row
    *                     carries the same fingerprint
    *
    * Shapes: base collapses to distinct fingerprints (map-side
    * combined, the index build/read); the delta shuffles once on the
    * fingerprint for the within-batch min-id window; the base join is
    * a left join on the 16-byte key (broadcastable while the index
    * fits, shuffle-hash beyond). */
  def incrementalStatus(base: DataFrame, delta: DataFrame,
                        textCol: String, idCol: String): DataFrame = {
    val baseFp = base
      .select(Text.fingerprint(col(textCol)).as("fingerprint"))
      .distinct()
      .withColumn("in_base", lit(true))
    delta
      .select(col(idCol), Text.fingerprint(col(textCol)).as("fingerprint"))
      .withColumn("first_id",
        min(col(idCol)).over(Window.partitionBy("fingerprint")))
      .join(baseFp, Seq("fingerprint"), "left")
      .select(col(idCol), col("fingerprint"),
        when(col("in_base").isNotNull, "dup_of_base")
          .when(col("first_id") =!= col(idCol), "dup_in_delta")
          .otherwise("new").as("status"))
  }

  /** Shared canonical-id assembly from verified duplicate edges
    * (`id_a` = representative, `id_b` = duplicate): one output row per
    * doc, `canonical_id` = the minimum of the doc's connected component
    * in the verified-pair graph ([[graft.graph.ConnectedComponents]],
    * run on the dup subgraph only). The resulting dup map (one row per
    * duplicate, tiny vs corpus) broadcasts to the single corpus-wide
    * mapping join, so the corpus side never shuffles (Catalyst can't
    * infer smallness through the aggregation — the hint is explicit). */
  private def canonicalFromEdges(docs: DataFrame, idCol: String,
                                 edges: DataFrame): DataFrame = {
    // full transitive closure over the verified-pair graph: a doc's
    // canonical id is the minimum of its connected component, so
    // A~B~C~D chains discovered via different buckets collapse to one
    // cluster no matter how long the chain (the previous one-hop path
    // compression only guaranteed chains of length <= 2). The CC
    // iteration runs on the dup-pair subgraph only — docs that appear
    // in at least one verified pair, a vanishing fraction of the
    // corpus — and its result broadcasts to the single corpus-wide
    // mapping join, so the corpus side still never shuffles.
    val comp = graft.graph.ConnectedComponents.run(edges, "id_a", "id_b")
      .where(col("node") =!= col("component"))
      .select(col("node").as("id"), col("component"))
    docs.select(col(idCol).as("id"))
      .join(broadcast(comp), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("component"), col("id")).as("canonical_id"))
  }

  /** Exact n-gram (token-set) Jaccard over blocked pairs: candidate pairs
    * share `blockCols` values (e.g. lang + source) AND a log2 length band —
    * the classic blocking join that keeps the O(n^2) confined to blocks.
    *
    * The length band is lossless: J(A,B) >= t forces
    * min(|A|,|B|) >= t * max(|A|,|B|), so the floor(log2 |set|) bands of a
    * qualifying pair differ by at most `spread = ceil(log2(1/t))` (1 for
    * t >= 0.5). The right side emits its band +/- spread so every
    * qualifying pair matches exactly one emitted band; blocks shrink from
    * O(n) per (blockCols) group to O(n / #bands), which is what keeps the
    * candidate count near-linear when one source dominates the corpus.
    *
    * Scale shape: the banded self-join runs on a slim
    * (id, blockCols, n, band) projection — token sets never enter the
    * candidate shuffle — and survivors join their sets back by id for
    * exact verification. */
  def blockedJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                          blockCols: Seq[String], threshold: Double): DataFrame = {
    val sets = docs.select(
      (col(idCol).as("id") +: blockCols.map(col)) :+
        array_distinct(Text.tokens(col(textCol))).as("tokset"): _*)
    // threshold <= 0 gives no size bound -> plain (blockCols) blocking
    val banding = threshold > 0.0
    val spread =
      if (banding) math.ceil(math.log(1.0 / threshold) / math.log(2.0)).toInt else 0
    val slim = sets.select(
      (col("id") +: blockCols.map(col)) :+ size(col("tokset")).as("n"): _*)
      .withColumn("band",
        if (banding) floor(log(2.0, greatest(col("n"), lit(1)))) else lit(0L))
    val lSlim = slim.as("l")
    val rSlim = slim
      .withColumn("band", explode(array(
        (-spread to spread).map(d => col("band") + d): _*)))
      .as("r")
    val blockCond = (blockCols :+ "band")
      .map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _)
    val sizeCond =
      if (banding)
        least(col("l.n"), col("r.n")) >= lit(threshold) * greatest(col("l.n"), col("r.n"))
      else lit(true)
    val candidates = lSlim.join(rSlim, blockCond && sizeCond && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    candidates
      .join(sets.select(col("id").as("id_a"), col("tokset").as("set_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("tokset").as("set_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(JaccardFunctions.jaccardSim(col("set_a"), col("set_b")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding near-dup: hyperplane-LSH banded bucket join (bands of
    * `bandBits` bits — multi-band probing trades candidate volume for
    * recall exactly like MinHash banding), verified with exact cosine
    * >= threshold. */
  def embeddingNearDups(embeddings: DataFrame, vecCol: String, idCol: String,
                        threshold: Double, bits: Int = 16, bandBits: Int = 8): DataFrame = {
    val banded = hyperplaneBanded(embeddings, vecCol, idCol, bits, bandBits)
      .select("id", "band", "bucket")
    val l = banded.as("l")
    val r = banded.as("r")
    // candidate ids only through the join + distinct — the vectors are
    // attached AFTER dedup, so the shuffled rows are bare id pairs, not
    // dim-sized payloads
    val cand = l.join(r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cosine", round(VectorFunctions.cosineSim(col("vec_a"), col("vec_b")), 6))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  private def hyperplaneBanded(embeddings: DataFrame, vecCol: String,
                               idCol: String, bits: Int, bandBits: Int): DataFrame = {
    val nBands = bits / bandBits
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask)).as("bucket")))
    embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"),
        VectorFunctions.hyperplaneLsh(col(vecCol), bits).as("sig"))
      .select(col("id"), col("vec"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("vec"), col("bb.band"), col("bb.bucket"))
  }

  /** Embedding near-dup canonical ids — the O(n)-output form of
    * [[embeddingNearDups]], same stance as [[minhashCanonicalIdsMd5]] /
    * [[simhashCanonicalIdsMd5]]: edges run doc -> bucket representative
    * (never all-pairs within a bucket), verified by exact cosine.
    * The representative's vector rides the bucket window (one payload
    * shuffle, partitioned by bucket); the corpus itself never
    * re-shuffles afterwards. */
  def embeddingCanonicalIds(embeddings: DataFrame, vecCol: String, idCol: String,
                            threshold: Double, bits: Int = 16,
                            bandBits: Int = 8): DataFrame = {
    val banded = hyperplaneBanded(embeddings, vecCol, idCol, bits, bandBits)
    val byBucket = Window.partitionBy("band", "bucket")
    val edges = banded
      .withColumn("rep", min(struct(col("id"), col("vec"))).over(byBucket))
      .where(col("id") =!= col("rep.id"))
      .where(round(VectorFunctions.cosineSim(col("vec"), col("rep.vec")), 6)
        >= threshold)
      .select(col("rep.id").as("id_a"), col("id").as("id_b"))
      .distinct()
    canonicalFromEdges(embeddings, idCol, edges)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-partition the embedding space with the
    * same deterministic Lloyd as the clustering operator
    * ([[graft.similarity.Ann.lloydCluster]]), then WITHIN each cluster
    * mark a document as a semantic duplicate when its cosine similarity
    * to any better-ranked cluster mate reaches `tauMicros` (cosine in
    * 1e-6 fixed point). Rank = (distance to the final centroid, id), so
    * the document closest to its centroid always survives — the paper's
    * keep-the-cluster-representative policy with a deterministic
    * tiebreak.
    *
    * Scale shape: candidate pairs exist only INSIDE a cluster, so the
    * pair generation is an equi-join on the cluster id — never
    * all-pairs. The per-cluster quadratic cost is the method's contract
    * (k scales with corpus size to bound cluster width, exactly as in
    * the paper's 50k-cluster runs); each document's snapped vector
    * shuffles once per join side on the cluster key, and the rank
    * window reuses that same partitioning.
    *
    * Cross-engine determinism (the q148 oracle): coordinates snap to
    * 2^-20 fixed point, so dot products and squared norms are exact
    * integer sums (order-independent); the cosine is then formed with a
    * fixed IEEE double op sequence — dot / (sqrt(n2_a)·sqrt(n2_b)) —
    * and compared in 1e-6 fixed point, so both engines compute
    * bit-equal similarities. Zero vectors never pair (n2 > 0 guard on
    * both sides) rather than producing NaN cosines.
    *
    * Returns one row per document: (vec_id, cluster, is_dup). */
  def semanticDedup(embeddings: DataFrame, vecCol: String, idCol: String,
                    k: Int, iters: Int, tauMicros: Long): DataFrame = {
    val (assigned, pairs) =
      semanticRankedPairs(embeddings, vecCol, idCol, k, iters, tauMicros)
    val dups = pairs.select(col("id_b").as("vec_id")).distinct()
    assigned
      .join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Pair-level SemDeDup output: every within-cluster pair whose
    * fixed-point cosine reaches `tauMicros`, with the better-ranked
    * doc as `id_a` — the positive-pair miner for contrastive training
    * data (see [[graft.curation.Curate.contrastiveTriplets]]). Same
    * machinery and determinism contract as [[semanticDedup]]. */
  def semanticDupPairs(embeddings: DataFrame, vecCol: String, idCol: String,
                       k: Int, iters: Int, tauMicros: Long): DataFrame =
    semanticRankedPairs(embeddings, vecCol, idCol, k, iters, tauMicros)._2

  /** Shared SemDeDup core: the ranked assignment and the qualifying
    * within-cluster pairs (cluster, id_a, id_b, sim_micros). */
  private[graft] def semanticRankedPairs(
      embeddings: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, tauMicros: Long): (DataFrame, DataFrame) = {
    val assigned = graft.similarity.Ann
      .lloydCluster(embeddings, idCol, vecCol, k, iters, keepVec = true)
      .withColumn("sv", transform(col("v"),
        x => floor(x * lit(1048576.0) + lit(0.5)).cast("long")))
      .withColumn("n2", VectorFunctions.longDot(col("sv"), col("sv")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster").orderBy(col("dist_micros"), col("vec_id"))))
      .select("vec_id", "cluster", "sv", "n2", "rk")
    val a = assigned.select(col("cluster"), col("vec_id").as("a_id"),
      col("sv").as("a_sv"), col("n2").as("a_n2"), col("rk").as("a_rk"))
    val b = assigned.select(col("cluster"), col("vec_id").as("b_id"),
      col("sv").as("b_sv"), col("n2").as("b_n2"), col("rk").as("b_rk"))
    val pairs = a.join(b, Seq("cluster"))
      .where(col("a_rk") < col("b_rk") && col("a_n2") > 0 && col("b_n2") > 0)
      .withColumn("dot", VectorFunctions.longDot(col("a_sv"), col("b_sv")))
      .withColumn("sim_micros",
        floor(col("dot").cast("double")
          / (sqrt(col("a_n2").cast("double")) * sqrt(col("b_n2").cast("double")))
          * lit(1e6) + lit(0.5)).cast("long"))
      .where(col("sim_micros") >= tauMicros)
      .select(col("cluster"), col("a_id").as("id_a"), col("b_id").as("id_b"),
        col("sim_micros"))
    (assigned, pairs)
  }

  /** Typo-grade vocabulary canonicalization: map every corpus word to
    * its best edit-distance-≤1 neighbor (highest frequency, then
    * lexicographic — the Norvig spell-correct pick, one hop, fully
    * deterministic). Candidate generation is FastSS/SymSpell deletion
    * blocking (Bocek et al. 2007, "Fast Similarity Search in Large
    * Dictionaries"): two words within edit distance 1 ALWAYS share an
    * entry of {word} ∪ {word minus one char} — equal words share the
    * word, substitutions share the deletion at the differing position,
    * insert/delete pairs share the shorter word itself — so the join
    * key is exact (no LSH recall loss) and the built-in `levenshtein`
    * verify only confirms, giving a DuckDB-oracle-exact operator.
    *
    * Scale shape: the corpus scan collapses to the frequency-weighted
    * VOCABULARY first (dictionary-sized, the [[graft.text.Bpe]]
    * argument), so the deletion explode (~len+1 rows per WORD, not per
    * token) and the variant-bucket self-join never touch corpus-scale
    * data; the bucket join is a shuffle equi-join AQE can split, and
    * `minLen` (default 4) keeps degenerate short-word buckets — the
    * hot keys — out entirely, mirroring how spell correctors skip
    * stopword-length tokens. Returns one row per vocab word:
    * (word, freq, canonical, remapped). */
  def typoCanonical(docs: DataFrame, textCol: String,
                    minLen: Int = 4): DataFrame = {
    require(minLen >= 1, s"minLen must be positive, got $minLen")
    // eager localCheckpoint: the vocabulary feeds FOUR plan branches
    // (both variant sides, the self-candidate union leg, the final
    // freq join) — without it each branch re-plans the corpus scan +
    // tokenize + count (24 scans observed), which at 100 TB means
    // re-reading the corpus per branch; checkpointed, the corpus is
    // scanned once and the branches read the dictionary-sized vocab
    // (the graft.text.Bpe lineage-truncation pattern)
    val vocab = docs
      .select(explode(Text.tokens(col(textCol))).as("word"))
      .where(length(col("word")) >= minLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .stable()
    val dels = transform(sequence(lit(1), length(col("word"))), i =>
      concat(col("word").substr(lit(1), i - lit(1)),
        col("word").substr(i + lit(1), length(col("word")) - i)))
    val variants = vocab.select(col("word"), col("freq"),
      explode(array_union(dels, array(col("word")))).as("v"))
    val pairs = variants.select(col("v"), col("word").as("w1"), col("freq").as("f1"))
      .join(variants.select(col("v"), col("word").as("w2"), col("freq").as("f2")),
        Seq("v"))
      .where(col("w1") < col("w2"))
      .select("w1", "f1", "w2", "f2").distinct()
      .where(levenshtein(col("w1"), col("w2")) <= 1)
    val cands = pairs
      .select(col("w1").as("word"), col("w2").as("cand"), col("f2").as("cf"))
      .unionByName(pairs.select(col("w2").as("word"), col("w1").as("cand"),
        col("f1").as("cf")))
      .unionByName(vocab.select(col("word"), col("word").as("cand"),
        col("freq").as("cf")))
    val best = Window.partitionBy("word")
      .orderBy(col("cf").desc, col("cand").asc)
    cands.withColumn("rk", row_number().over(best)).where(col("rk") === 1)
      .join(vocab, Seq("word"))
      .select(col("word"), col("freq"), col("cand").as("canonical"),
        (col("cand") =!= col("word")).as("remapped"))
  }

  /** Exact duplicated-substring statistics at token-window granularity —
    * the substring-dedup signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499),
    * re-expressed relationally instead of via their suffix array: every
    * length-`w` token window of a document is a span; a span whose exact
    * text occurs more than once CORPUS-WIDE (including twice within one
    * document) marks a duplicated region. Returns one row per document
    * with at least one span: (id, n_spans, dup_spans, keep) where
    * `keep` = dup_spans·1000 ≤ maxDupPerMille·n_spans. Documents shorter
    * than `w` tokens have no spans and are dropped (a doc too short to
    * contain a window carries no substring-dup evidence either way).
    *
    * Scale shape: ONE scan of the corpus explodes to (span_key, id)
    * tuples; grouping to (key, id) happens with map-side combine (the
    * within-doc repeat count collapses before the shuffle), the corpus
    * total per key rides a whole-partition window on the key (no second
    * scan, no join back to the exploded set), and the final per-doc
    * rollup shuffles only (id, cnt, total) triples. No payload is ever
    * shuffled twice and no per-key state is collected (hot boilerplate
    * spans stay distributed — there is no collect_list).
    *
    * `hashed = true` is the 100 TB path: the shuffle key becomes
    * xxhash64(span) (8 bytes) instead of the ~`w`-word string. Output is
    * identical barring 64-bit collisions (conservative direction: a
    * collision can only overcount dup_spans). The oracle-gated query
    * uses `hashed = false` for cross-engine exactness;
    * [[graft.DupSpanSpec]] pins the two variants equal on real data.
    *
    * Skew: a boilerplate span present in millions of documents makes
    * one hot key in the window stage — bounded in WIDTH (its rows are
    * (key, id, cnt) triples, never payloads) but not in count, and
    * window skew is not AQE-splittable. `totalsViaJoin = true` is the
    * boilerplate-heavy escape hatch: per-key totals via a second
    * map-side-combined groupBy joined back on the key — one extra
    * exchange of (key, total) pairs, but a sort-merge join that AQE's
    * skew-join CAN split where the window's hot partition cannot be.
    * Same output ([[graft.DupSpanSpec]] pins the variants equal);
    * default stays the window (one exchange) until a profile shows
    * the hot key. */
  def dupSpanStats(docs: DataFrame, textCol: String, idCol: String,
                   w: Int, maxDupPerMille: Int,
                   hashed: Boolean = false,
                   totalsViaJoin: Boolean = false): DataFrame = {
    require(w >= 2, s"window must span at least 2 tokens, got $w")
    // native span kernel (HashKernels.wordSpans): the transform/slice/
    // array_join formulation re-ran the tokenizing split once per
    // window position inside the interpreted lambda — O(n·w) regex
    // work per document, 4-6s of q161's 5s at sf0.1
    val spans = docs
      .select(col(idCol).as(idCol),
        explode(graft.functions.HashFunctions.wordSpans(
          Text.tokens(col(textCol)), w)).as("span"))
      .select(col(idCol),
        (if (hashed) xxhash64(col("span")) else col("span")).as("key"))
    val perKeyDoc = spans.groupBy("key", idCol).agg(count(lit(1)).as("cnt"))
    val withTotal =
      if (totalsViaJoin)
        perKeyDoc.join(
          perKeyDoc.groupBy("key").agg(sum("cnt").as("total")), Seq("key"))
      else perKeyDoc.withColumn("total",
        sum("cnt").over(Window.partitionBy("key")))
    withTotal.groupBy(idCol)
      .agg(
        sum("cnt").as("n_spans"),
        sum(when(col("total") > 1, col("cnt")).otherwise(lit(0L))).as("dup_spans"))
      .withColumn("keep",
        col("dup_spans") * lit(1000L) <= lit(maxDupPerMille.toLong) * col("n_spans"))
  }

  /** Duplicated-span REMOVAL with text reconstitution — the transform
    * half of [[dupSpanStats]]'s flag (Lee et al. 2022 §4 deduplicate
    * the corpus by DELETING the repeated substrings, not by dropping
    * whole documents): every token position covered by any `w`-token
    * window whose span string repeats corpus-wide is removed, and the
    * surviving tokens are re-joined in order. Documents whose every
    * position is covered disappear entirely (they were pure
    * boilerplate); empty/whitespace docs are dropped up front.
    *
    * Scale shape: spans explode once off the codegen'd `word_spans`
    * kernel; the span-total aggregation and the dup-span join-back
    * shuffle (span, id, pos) triples only — never text; covered
    * positions and the anti-join shuffle (id, pos) pairs; tokens are
    * only materialized in the final per-doc reassembly, whose payload
    * IS the output. For the 100 TB hot path the span shuffle key can
    * ride xxhash64 exactly as [[dupSpanStats]]'s `hashed` variant
    * (collisions would only over-delete a ~2^-64 sliver); the
    * oracle-gated query keeps raw spans so DuckDB can replay it.
    * Returns (id, n_tokens, n_removed, clean_text), hash-exact
    * (integer positions, deterministic order-by-position reassembly).
    */
  def removeDupSpans(docs: DataFrame, textCol: String, idCol: String,
                     w: Int): DataFrame = {
    require(w >= 2, s"window must span at least 2 tokens, got $w")
    // token arrays materialize once (r22): the span pass and the
    // reassembly pass below both consume them — lazily, each re-ran
    // the corpus scan + tokenize
    val toks = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .stable()
    val spans = toks.select(col(idCol),
      posexplode(graft.functions.HashFunctions.wordSpans(col("__toks"), w))
        .as(Seq("pos0", "span")))
    // corpus-wide span frequency as a WINDOW over the span partitioning
    // (r22): the previous groupBy + join-back exchanged the span rows
    // TWICE (aggregate + join) and evaluated the wordSpans explode per
    // branch; the window count is the identical total off one exchange
    // and one evaluation (guide §2.4)
    val covered = spans
      .withColumn("total",
        count(lit(1)).over(Window.partitionBy("span")))
      .where(col("total") > 1)
      .select(col(idCol),
        explode(sequence(col("pos0"), col("pos0") + lit(w - 1))).as("pos"))
      .distinct()
    val base = toks.select(col(idCol), col("__toks"),
        posexplode(col("__toks")).as(Seq("pos", "tok")))
      .select(col(idCol), size(col("__toks")).as("n_tokens"),
        col("pos"), col("tok"))
    base.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol), col("n_tokens"))
      .agg(count(lit(1)).as("n_kept"),
        // sort INSIDE the aggregate result, transform in a separate
        // projection whose lambda child is a bare attribute — an
        // interpreted HOF re-evaluates its child per element (the
        // q161 trap), which must never be the sort itself
        array_sort(collect_list(struct(col("pos"), col("tok")))).as("__sorted"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens").cast("long") - col("n_kept")).as("n_removed"),
        array_join(transform(col("__sorted"), s => s.getField("tok")), " ")
          .as("clean_text"))
  }

  // ------------------------------------------------------------------
  // Near-dup signatures (MinHash, SimHash, winnowing) in md5
  // arithmetic (the q202 technique): every hash is derived from md5
  // digest bits — the one hash primitive Spark and DuckDB share
  // bit-for-bit — so each operator replays EXACTLY in ANSI SQL and is
  // hash-exact oracle-gated. The hot loops are fused codegen kernels
  // (graft.functions.Md5MinhashSig / Md5SimHash32 / WinnowPicksMd5)
  // with a thread-local digest and no hex render per unit.
  // ------------------------------------------------------------------

  /** 32-bit hash slice `i` of the md5-arithmetic permutation family:
    * four slices per digest, so permutation `i` reads hex digits
    * `8·(i%4)+1 .. 8·(i%4)+8` of `md5(unit || ':' || i/4)` — one
    * digest drives four permutations (4× fewer digests than one per
    * permutation). DuckDB replay:
    * `CAST(('0x'||substr(md5(u||':'||g),1+8*j,8)) AS BIGINT)`. */
  def md5Slice(unit: Column, i: Int): Column =
    conv(substring(md5(concat(unit, lit(":" + (i / 4)))), 1 + 8 * (i % 4), 8), 16, 10)
      .cast("long")

  /** Integer agreement floor for a k-component signature prefilter at
    * Jaccard threshold tau (micros) with the family's 0.1 estimator
    * slack: ceil(k · (tau − 0.1)), computed in exact long arithmetic
    * so engine and oracle use the same literal. */
  def md5AgreeMin(k: Int, tauMicros: Long): Long =
    (k * (tauMicros - 100000L) + 999999L) / 1000000L

  /** The unit array (tokens or shingles) of one doc's text — the ONE
    * definition both the signature pass and the exact-Jaccard verify
    * derive units from; the `inter/(n_a + n_b − inter)` formula is
    * only sound when both sides tokenize identically. */
  private[graft] def md5UnitExpr(textCol: String, shingleSize: Int): Column = {
    val toks = Text.tokens(col(textCol))
    if (shingleSize <= 1) toks else Text.shingles(toks, shingleSize)
  }

  /** The `bands` LSH band keys of a k-long md5 MinHash signature:
    * `"b|sig[b·r]|…|sig[(b+1)·r − 1]"` for r = k / bands — shared by
    * the batch band window and the streaming bucket state. */
  private[graft] def md5BandKeys(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      concat_ws("|",
        lit(b.toString) +: (b * r until (b + 1) * r).map(i => sig.getItem(i)): _*)
    }: _*)
  }

  /** (id, u) distinct shingle/token units of each doc — empty-token
    * docs vanish here, which is the md5 family's documented contract
    * (an empty doc has no signature and can near-dup nothing). */
  private[graft] def md5Units(docs: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(array_distinct(md5UnitExpr(textCol, shingleSize))).as("u"))

  /** MinHash-LSH near-dup clustering with O(n) output, md5-arithmetic:
    * every document is mapped to a canonical id instead of emitting the
    * pair list (which is O(n^2) inside a degenerate bucket — a bucket
    * of m near-identical docs yields m(m-1)/2 pairs but only m mapping
    * rows here). Band keys concatenate each band's integer minima in
    * permutation order (a string equi-join key — no engine-private
    * bucket hash), the bucket representative is the min-id member
    * whose signature rides the one bucket-partitioned window, the
    * prefilter keeps edges agreeing on ≥ ceil(k·(tau−0.1)) components,
    * and survivors verify on exact unit-set Jaccard in integer micros
    * (no floats anywhere). Verified edges resolve through full connected
    * components; output is (idCol, canonical_id) for EVERY doc —
    * token-less docs carry no signature and self-map.
    *
    * Scale shape: the corpus collapses to signatures MAP-SIDE via the
    * fused [[graft.functions.Md5MinhashSig]] kernel (one per-row loop
    * over distinct units, one digest per (unit, md5 group) — no hex
    * render/re-parse, no aggregation shuffle; byte-identical to
    * `md5Slice`, pinned by the q45 hash gate), only (band, id, sig)
    * rows shuffle, candidate edges are doc→rep (never all-pairs in a
    * bucket), and the verify joins re-derive units for the candidate
    * sliver only. */
  def minhashCanonicalIdsMd5(docs: DataFrame, textCol: String, idCol: String,
                             tauMicros: Long = 950000L, shingleSize: Int = 1,
                             k: Int = 16, bands: Int = 2): DataFrame = {
    require(k % 4 == 0 && k % bands == 0,
      s"k=$k must split into 32-bit md5 slices and bands=$bands")
    val agreeMin = md5AgreeMin(k, tauMicros)
    val sig = docs
      .select(col(idCol).as("id"),
        graft.functions.HashFunctions
          .md5MinhashSig(md5UnitExpr(textCol, shingleSize), k).as("ms"))
      .where(col("ms").isNotNull) // unit-less docs carry no signature
      .select(col("id"), col("ms.n_u").as("n_u"), col("ms.sig").as("sig"))
    val banded = sig.select(col("id"), col("n_u"), col("sig"),
      explode(md5BandKeys(col("sig"), k, bands)).as("band"))
    val byBand = Window.partitionBy("band")
    val agree = aggregate(
      zip_with(col("rep.sig"), col("sig"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    val cand = banded
      .withColumn("rep", min(struct(col("id"), col("sig"), col("n_u"))).over(byBand))
      .where(col("id") =!= col("rep.id") && agree >= agreeMin)
      .select(col("rep.id").as("id_a"), col("id").as("id_b"),
        col("rep.n_u").as("n_a"), col("n_u").as("n_b"))
      .distinct()
      // candidate edges are the near-dup sliver; checkpoint so the
      // verify joins below don't replay the signature pass
      .stable()
    // the exact-Jaccard verify needs units for CANDIDATE docs only —
    // semi-join the corpus down to the dup sliver BEFORE tokenizing
    // (the id filter lands below the unit explode), then checkpoint:
    // the two intersect joins previously each re-tokenized the WHOLE
    // corpus (two extra md5-per-unit passes; local mode reuses no
    // cross-branch exchanges). Identical rows — an inner join on the
    // candidate ids discards non-candidate units anyway.
    val candIds = cand.select(col("id_a").as("__cid"))
      .union(cand.select(col("id_b").as("__cid"))).distinct()
    val candUnits = md5Units(
      docs.join(broadcast(candIds), col(idCol) === col("__cid"), "left_semi"),
      textCol, idCol, shingleSize)
      .stable()
    val inter = cand.select("id_a", "id_b")
      .join(candUnits.select(col("id").as("id_a"), col("u")), Seq("id_a"))
      .join(candUnits.select(col("id").as("id_b"), col("u")), Seq("id_b", "u"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val edges = cand.join(inter, Seq("id_a", "id_b"))
      .where(expr(s"inter * 1000000L div (n_a + n_b - inter) >= $tauMicros"))
      .select("id_a", "id_b")
    canonicalFromEdges(docs, idCol, edges)
  }

  /** Per-doc 32-bit md5 SimHash: (id, sig) for EVERY doc (token-less
    * docs get sig 0). Bit b of the
    * signature is set when the multiset of token hashes — first 8 hex
    * digits of md5(token) — has more b-bits set than clear.
    *
    * Map-only since round 18: the fused
    * [[graft.functions.Md5SimHash32]] kernel votes all 32 bit planes
    * in one per-row loop over the token array (thread-local digest,
    * no hex render/re-parse), replacing the explode → 32-way bit-vote
    * groupBy → all-docs join-back (3 corpus scans + a shuffle became
    * 1 scan + 0); empty token arrays vote to 0, so the join-back for
    * token-less docs is unnecessary. Byte-identical to the DuckDB
    * replay (Md5DedupSpec reference + the q44/q47 hash gates). */
  def simhash32Md5(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      // coalesce: a NULL text has no tokens and signs 0 like "" (the
      // old join-back + fill contract)
      coalesce(graft.functions.HashFunctions
          .md5Simhash32(Text.tokens(col(textCol))), lit(0L))
        .as("sig"))

  /** SimHash near-dup canonical ids, md5-arithmetic: 32-bit
    * [[simhash32Md5]] signatures banded into four 8-bit buckets
    * (pigeonhole-guaranteed recall for Hamming ≤ 3), candidate edges
    * doc → bucket representative only, Hamming verify via
    * bit_count(xor) — both replayable bit-for-bit in DuckDB — then the
    * shared connected-components closure. One row per doc. */
  def simhashCanonicalIdsMd5(docs: DataFrame, textCol: String, idCol: String,
                             maxHamming: Int = 3): DataFrame = {
    val sigs = simhash32Md5(docs, textCol, idCol)
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * 8).bitwiseAND(lit(0xFFL)).as("bucket")))
    val banded = sigs.select(col("id"), col("sig"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
    val byBucket = Window.partitionBy("band", "bucket")
    val edges = banded
      .withColumn("rep", min(struct(col("id"), col("sig"))).over(byBucket))
      .where(col("id") =!= col("rep.id"))
      .where(bit_count(col("sig").bitwiseXOR(col("rep.sig"))) <= maxHamming)
      .select(col("rep.id").as("id_a"), col("id").as("id_b"))
      .distinct()
    canonicalFromEdges(docs, idCol, edges)
  }

  /** md5 winnowing pick set (MOSS robust winnowing over codepoint
    * k-grams, window t): the SELECTED fingerprints of each doc as
    * (id, p, h, n) rows — position p (1-based gram index), gram hash h
    * (first 8 md5 hex digits of the k-codepoint substring), n the
    * doc's gram count. A position is selected iff it is the RIGHTMOST
    * minimum of at least one length-t window — exactly the set robust
    * winnowing records. Docs shorter than k codepoints have no grams
    * and vanish; docs with fewer than t grams form one whole-doc
    * window. Requires a long-typed id column. Gram indexing counts
    * CODEPOINTS (matching the oracle's len()/substring() semantics),
    * not UTF-16 units.
    *
    * Execution is a map-only explode of the native codegen generator
    * [[graft.functions.WinnowPicksMd5]] — no gram explode, no window
    * shuffle (the per-doc sequential scan is the textbook case for a
    * fused per-row kernel; a declarative lag/lead formulation measured
    * 25× slower at sf0.1 because every gram paid an exploded row plus
    * a doc-partitioned sort, and the round-17 typed-Dataset flatMap
    * paid an encoder boundary plus a substring+digest allocation per
    * gram — q38 0.78→native, the word_spans/q161 move). The ORACLE
    * replays the equivalent per-position characterization
    * declaratively: selected ⟺ for some before-span j1 ∈ [0, t-1],
    * all j1 preceding hashes are ≥ h and all t-1-j1 following hashes
    * are > h (ties break rightward) with the window inside [1, n] —
    * the cross-formulation equality is what the sf0.01 hash gate
    * proves, and Md5DedupSpec pins the kernel against an independent
    * per-window reference. */
  def winnowSelectedMd5(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 16, t: Int = 8): DataFrame = {
    require(k >= 1 && t >= 2, s"need k>=1, t>=2; got k=$k t=$t")
    docs.select(col(idCol).cast("long").as("id"),
        explode(graft.functions.HashFunctions
          .winnowPicksMd5(col(textCol), k, t)).as("pk"))
      .select(col("id"), col("pk.p").as("p"), col("pk.h").as("h"),
        col("pk.n").as("n"))
  }

  /** Substring-level near-dup canonical ids via md5 winnowing
    * fingerprints: two documents link when they share at least
    * `minShared` fingerprints — i.e. they share verbatim character
    * runs, the signal token-set jaccard and simhash both miss (copied
    * paragraphs inside otherwise-different documents). Fingerprint
    * sets come from [[winnowSelectedMd5]] (distinct selected hashes
    * per doc); robust winnowing guarantees that a shared substring of
    * at least t + k - 1 codepoints yields a shared fingerprint.
    *
    * Scale guards: fingerprints occurring in more than `maxDf`
    * documents are dropped (boilerplate headers / license blocks would
    * otherwise create quadratic buckets — the standard stop-fingerprint
    * rule), and per surviving fingerprint the candidate edge runs
    * doc -> fingerprint representative (min id), so a bucket
    * contributes O(bucket) edges, never O(bucket²). Each candidate
    * pair then verifies on its TRUE shared-fingerprint count — the
    * full |fps(doc) ∩ fps(rep)| over surviving fingerprints, not just
    * the fingerprints whose bucket minimum happens to be this rep
    * (counting only those undercounts and misses pairs). Verified
    * edges resolve through the connected-components closure, so
    * chains A~B~C discovered via different fingerprints collapse to
    * one cluster minimum. One row per doc. */
  def winnowCanonicalIdsMd5(docs: DataFrame, textCol: String, idCol: String,
                            k: Int = 16, t: Int = 8, minShared: Int = 2,
                            maxDf: Int = 50): DataFrame = {
    // per-doc DISTINCT pick hashes straight off the kernel's struct
    // array — array_distinct in-row replaces the corpus-wide
    // (id, fp).distinct() exchange the exploded form needed. The
    // kernel is the HOF's ARGUMENT (evaluated once per row), not a
    // lambda-body capture — only expressions inside the lambda pay
    // the q161 per-element re-evaluation.
    val fps = docs
      .select(col(idCol).cast("long").as("id"),
        explode(array_distinct(transform(
          graft.functions.HashFunctions.winnowPicksMd5(col(textCol), k, t),
          p => p.getField("h")))).as("fp"))
      // (id, fp) pairs are consumed by FOUR plan branches (rare twice,
      // the semi-join, the candidate join) — without a barrier each
      // branch re-runs the md5-per-gram winnow kernel over the corpus
      // (local mode reuses no cross-branch exchanges). Checkpointing
      // the pick pairs (16 bytes/row, ~picks-per-doc rows) runs the
      // kernel ONCE; measured 3.8s -> ~2.4s isolated at sf0.1.
      .stable()
    // rare feeds TWO consumers (the candidate join and the fpSets
    // semi-join) — materialized (r22) so the fp-grain aggregation over
    // the pick pairs runs once instead of once per consumer; rows are
    // (16-byte fp, count, id), bounded by the distinct-fingerprint set
    val rare = fps.groupBy("fp")
      .agg(count(lit(1)).as("df"), min(col("id")).as("rep"))
      .where(col("df") <= maxDf)
      .stable()
    // candidate pairs first (checkpointed: consumed by the id sliver
    // below AND the edges join), so the exact-verify's collect_set
    // only aggregates fingerprint sets for docs that actually appear
    // in a candidate pair — the near-dup sliver — instead of the
    // whole corpus (round 21, the q45/q202 move; fpSets is only ever
    // joined on cand's ids, so the restriction is exact)
    val cand = fps.join(rare.select("fp", "rep"), Seq("fp"))
      .where(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
      .distinct()
      .stable()
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    // fpSets joins the edge pairs TWICE (id_a and id_b legs) —
    // materialized (r22) so the semi-joins + collect_set over the
    // candidate sliver run once, not once per leg
    val fpSets = fps.join(rare.select("fp"), Seq("fp"), "left_semi")
      .join(candIds, Seq("id"), "left_semi")
      .groupBy(col("id")).agg(collect_set(col("fp")).as("fpset"))
      .stable()
    // both legs BROADCAST (r22): a shuffle join here moves and sorts
    // rows carrying the fpset arrays (~100+ longs each) — the
    // candidate sliver is broadcast-sized by construction, so ship it
    // once instead of pushing array payloads through two exchanges
    val edges = cand
      .join(broadcast(fpSets.select(col("id").as("id_a"), col("fpset").as("set_a"))), Seq("id_a"))
      .join(broadcast(fpSets.select(col("id").as("id_b"), col("fpset").as("set_b"))), Seq("id_b"))
      .where(JaccardFunctions.longIntersectCount(col("set_a"), col("set_b"))
        >= minShared)
      .select("id_a", "id_b")
    canonicalFromEdges(docs, idCol, edges)
  }
}
