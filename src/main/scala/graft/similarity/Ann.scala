package graft.similarity

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - brute-force cosine top-k: broadcast the (small) query set against
  *     the corpus — one map-only pass over the corpus, per-partition
  *     top-k via window. The baseline and the recall oracle.
  *   - LSH-bucketed: hyperplane signatures on both sides; only bucket-
  *     colliding pairs are scored. At 100 TB the corpus is bucketed
  *     once (write-time partitioning by signature band) and queries
  *     probe just their buckets.
  *
  * Similarity is rounded to 6 decimals BEFORE ranking so the ranking is
  * reproducible across accumulation orders (ties then break on id).
  */
object Ann {

  private def ranked(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .where(col("rank") <= k)

  /** Exact cosine top-k of each query vector against the corpus.
    * `queries` and `corpus` need (idCol, vecCol); self-matches excluded.
    *
    * Two-phase: each scan partition keeps only its local top-k per
    * query (sorted-truncate aggregate, map-side combinable), then the
    * global rank runs over partitions x k survivors. The scored
    * cross-product itself never shuffles — the property that keeps
    * this plan alive when the corpus is 1e12 vectors. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // Round 21: one corpus pass with BOUNDED per-query top-k state.
    // The previous scored-broadcast form (crossJoin + per-(query,
    // partition) collect_list/sort/slice) built one joined row PER
    // PAIR carrying BOTH full float vectors — |corpus|·|queries| rows
    // of ~2·dim floats through the nested-loop join and an object
    // aggregation — before throwing all but k per query away. The
    // fused partition loop scores each corpus row against the query
    // panel (which already had to fit on the driver: the old plan
    // collected it for the broadcast) and keeps an insertion-sorted
    // (cosine desc, id asc) top-k per query — emitted rows are
    // partitions × queries × k, never the cross product. Arithmetic
    // is the CosineSimilarity kernel's fold verbatim (float widened
    // to double, dot/norms in one pass) and the round matches
    // Round(HALF_UP, 6)'s codegen exactly, so the output is
    // bit-identical to the scored-broadcast form (q50/q176's oracle
    // gates re-verify it). Pairs with undefined cosine (zero-norm or
    // length-mismatched vectors — none exist in any gated corpus)
    // never enter the ranking.
    val spark = corpus.sparkSession
    import spark.implicits._
    val qPanel: Array[(Long, Array[Float])] = queries
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
      .filter(_._2 != null).sortBy(_._1)
    val bq = spark.sparkContext.broadcast(qPanel)
    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bq.value
        val nq = qs.length
        val bestCos = Array.fill(nq)(new Array[Double](k))
        val bestId = Array.fill(nq)(new Array[Long](k))
        val sizes = new Array[Int](nq)
        it.foreach { case (nid, cvec) =>
          if (cvec != null) {
            var qi = 0
            while (qi < nq) {
              val qv = qs(qi)._2
              if (qs(qi)._1 != nid && qv.length == cvec.length) {
                var dot = 0.0; var na = 0.0; var nb = 0.0
                var i = 0
                val n = qv.length
                while (i < n) {
                  val xi = qv(i).toDouble; val yi = cvec(i).toDouble
                  dot += xi * yi; na += xi * xi; nb += yi * yi
                  i += 1
                }
                val denom = math.sqrt(na) * math.sqrt(nb)
                if (denom != 0.0) {
                  val raw = dot / denom
                  // Round(_, 6) codegen parity incl. the NaN/Inf guard
                  val c =
                    if (java.lang.Double.isNaN(raw) ||
                        java.lang.Double.isInfinite(raw)) raw
                    else java.math.BigDecimal.valueOf(raw)
                      .setScale(6, java.math.RoundingMode.HALF_UP)
                      .doubleValue()
                  val sz = sizes(qi)
                  val cs = bestCos(qi); val ids = bestId(qi)
                  if (sz < k || c > cs(sz - 1) ||
                      (c == cs(sz - 1) && nid < ids(sz - 1))) {
                    var p = if (sz < k) sz else k - 1
                    while (p > 0 && (c > cs(p - 1) ||
                        (c == cs(p - 1) && nid < ids(p - 1)))) {
                      cs(p) = cs(p - 1); ids(p) = ids(p - 1); p -= 1
                    }
                    cs(p) = c; ids(p) = nid
                    if (sz < k) sizes(qi) = sz + 1
                  }
                }
              }
              qi += 1
            }
          }
        }
        qs.indices.iterator.flatMap { qi =>
          (0 until sizes(qi)).iterator
            .map(j => (qs(qi)._1, bestId(qi)(j), bestCos(qi)(j)))
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    ranked(partial, k)
  }

  /** IVF (inverted-file) top-k: a deterministic k-means coarse
    * quantizer partitions the corpus into `nCells` cells; each query
    * probes only its `nProbe` nearest cells and exact-ranks inside
    * them. The 100 TB shape: centroids are driver-state (kB), the
    * corpus is assigned map-side and can be WRITTEN partitioned by
    * cell, so a query touches nProbe/nCells of the data.
    *
    * Determinism: centroids init from the lowest vector ids and train
    * a fixed number of Lloyd iterations — same data, same index.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCells: Int = 16, nProbe: Int = 4, iters: Int = 3,
              trainSample: Int = 100000): DataFrame = {
    val centroids = trainCentroids(corpus, idCol, vecCol, nCells, iters, trainSample)

    def simToCentroids(vec: Column): Column =
      array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
        struct(lit(i).as("cell"),
          coalesce(VectorFunctions.cosineSim(vec, typedLit(c.toSeq)), lit(-2.0)).as("sim"))
      }: _*)

    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      element_at(array_sort(simToCentroids(col(vecCol)),
        (a, b) => when(a("sim") > b("sim"), -1).when(a("sim") < b("sim"), 1)
          .otherwise(a("cell") - b("cell"))), 1)("cell").as("cell"))

    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        explode(slice(array_sort(simToCentroids(col(vecCol)),
          (a, b) => when(a("sim") > b("sim"), -1).when(a("sim") < b("sim"), 1)
            .otherwise(a("cell") - b("cell"))), 1, nProbe)).as("pc"))
      .select(col("query_id"), col("qvec"), col("pc.cell").as("cell"))

    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(VectorFunctions.cosineSim(col("qvec"), col("cvec")), 6))
      .select("query_id", "neighbor_id", "cosine") // one cell per neighbor -> pairs already unique
    ranked(scored, k)
  }

  /** Deterministic Lloyd iterations on a BOUNDED sample; returns nCells
    * centroid vectors.
    *
    * The sample is the `trainSample` lowest-id vectors (the same prefix
    * that seeds the initial centroids) — one corpus pass (map-side
    * TakeOrdered), then Lloyd runs entirely on the driver over at most
    * trainSample x dim floats (~25 MB at 1e5 x 64). The previous
    * formulation shuffled n x dim rows through posexplode + two groupBys
    * PER ITERATION — three full-data shuffles to fit 16 centroids at
    * 1e12 vectors. Now the full corpus is touched exactly once more (the
    * caller's assignment pass), and the driver loop is also exactly
    * reproducible (fixed summation order, unlike distributed avg). */
  private[graft] def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                                    nCells: Int, iters: Int,
                                    trainSample: Int = 100000): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample: Array[Array[Float]] = corpus
      .orderBy(col(idCol).asc).limit(math.max(nCells, trainSample))
      .select(col(vecCol)).as[Array[Float]].collect()
    var centroids: Array[Array[Float]] = sample.take(nCells).map(_.clone())

    // driver cosine, matching VectorFunctions.cosineSim semantics
    // (double widening; zero-norm / length-mismatch -> -2 sentinel,
    // same as the coalesce(-2.0) the assignment pass uses)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      if (a.length != b.length) return -2.0
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }

    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Array[Double]](nCells)
      val counts = new Array[Int](nCells)
      sample.foreach { v =>
        // highest sim wins, ties -> lowest cell (same order as the
        // array_sort comparator in the assignment pass)
        var best = 0; var bestSim = -3.0
        var c = 0
        while (c < nCells) {
          val s = cos(v, centroids(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        if (sums(best) == null) sums(best) = new Array[Double](v.length)
        if (sums(best).length == v.length) {
          var i = 0
          while (i < v.length) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i)
        else sums(i).map(x => (x / counts(i)).toFloat)
      }.toArray
      it += 1
    }
    centroids
  }

  /** Distributed Lloyd k-means over the FULL corpus — per-vector
    * cluster ids for corpus curation (cluster-balanced mixtures,
    * diversity sampling), NOT a sampled coarse quantizer like
    * [[trainCentroids]] (which deliberately avoids distributed updates
    * because a 16-cell quantizer doesn't need the full corpus; an
    * assignment for EVERY document does). Each iteration is one corpus
    * scan plus one dictionary-sized exchange: the update's
    * groupBy(cluster, dim) is map-side combined, so the shuffle carries
    * k×dim partial sums per partition — never vectors — and the k×dim
    * collected centroid state is bounded driver data like the IVF
    * sample cap.
    *
    * Cross-engine determinism (the q147 oracle): centroids init from
    * the k lowest ids; squared-L2 distances rank through the
    * floor(d*1e6+0.5) fixed-point idiom with centroid-id tiebreak, and
    * the update snaps coordinates to 2^-20 fixed point BEFORE summing —
    * integer sums are accumulation-order independent, so both engines
    * derive bit-equal centroids (the float coordinate times 2^20 is
    * exact in a double, so the snap itself is engine-invariant).
    * Empty clusters drop out keeping ORIGINAL ids (no reindexing).
    *
    * Returns one row per vector: (vec_id, cluster, dist_micros) where
    * dist_micros is the winning squared distance in 1e-6 units; with
    * `keepVec` the double-cast vector rides along as `v` so a consumer
    * (e.g. [[graft.dedup.Dedup.semanticDedup]]) avoids a second corpus
    * scan + re-join just to recover the payload. */
  def lloydCluster(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int, keepVec: Boolean = false): DataFrame = {
    val a = lloydTrain(corpus, idCol, vecCol, k, iters)._1
    if (keepVec) a else a.drop("v")
  }

  /** [[lloydCluster]] plus the trained state: (final assignment with
    * the vector riding along as `v`, final centroids). The centroids
    * are what IVF-PQ's residual step needs ([[ivfPqSearchTopK]]) —
    * driver state, k·dim doubles. */
  private[graft] def lloydTrain(corpus: DataFrame, idCol: String, vecCol: String,
                                k: Int, iters: Int)
      : (DataFrame, Seq[(Int, Seq[Double])]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // materialized ONCE (r22): the projected trainer input feeds the
    // init collect, every Lloyd-update collect AND the final assigned
    // plan its consumers evaluate — unmaterialized, each of those jobs
    // re-ran the upstream scan/cast (and, inside IVFADC, whole
    // quantizer chains). Values identical; blocks are
    // (vec_id, dim-double) rows.
    val e = graft.core.Materialize.stable(corpus.select(
      col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v")))

    var centroids: Seq[(Int, Seq[Double])] =
      e.orderBy(col("vec_id").asc).limit(k)
        .select(col("v")).as[Seq[Double]].collect().toSeq.zipWithIndex
        .map { case (v, i) => (i, v) }

    def assigned(): DataFrame = {
      // native fused loop (VectorFunctions.squaredL2Micros) — the
      // aggregate(zip_with(...)) form ran interpreted k times per row
      val dists = centroids.map { case (cid, c) =>
        struct(
          VectorFunctions.squaredL2Micros(col("v"), typedLit(c)).as("dm"),
          lit(cid).as("cid"))
      }
      e.withColumn("best", element_at(array_sort(array(dists: _*)), 1))
        .select(col("vec_id"), col("v"),
          col("best.cid").as("cluster"), col("best.dm").as("dist_micros"))
    }

    for (_ <- 1 until iters) {
      val upd = assigned()
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sum(floor(col("x") * lit(1048576.0) + lit(0.5)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect() // k×dim rows — bounded driver state
      centroids = upd.map(r => (r.getInt(0),
          (r.getInt(1), r.getLong(2) / (r.getLong(3) * 1048576.0))))
        .groupBy(_._1).toSeq
        .map { case (cid, rows) =>
          (cid, rows.map(_._2).sortBy(_._1).map(_._2).toSeq) }
        .sortBy(_._1)
    }
    (assigned(), centroids)
  }

  /** Product-quantization codes (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search", IEEE TPAMI 33(1)): the
    * vector is split into `m` contiguous subspaces and each subspace
    * gets its own `k`-centroid Lloyd codebook, so a `dim`-double
    * vector compresses to `m` small codes — the memory-bounded ANN
    * layout at 100 TB (codes live in RAM, full vectors only rescore
    * finalists).
    *
    * Scale shape — the SAME as [[lloydCluster]] even though m
    * codebooks train at once: per iteration ONE corpus scan; the
    * exchange carries (sub, cid, dim)-keyed integer partial sums
    * (map-side combined, m·k·(dim/m) = k·dim rows — never vectors);
    * driver state is the m codebooks (k·dim doubles). The returned
    * per-vector plan is map-only: broadcast codebooks fused into m
    * argmins, no shuffle.
    *
    * Determinism (the house recipe, so the DuckDB oracle is
    * hash-exact): init = sub-vectors of the k lowest-id vectors;
    * distances ranked on floor(d²·1e6 + 0.5) with cid tiebreak
    * ([[graft.functions.VectorFunctions.squaredL2Micros]], the same
    * left-to-right IEEE fold as the oracle's list_sum); updates are
    * 2^-20-snapped integer coordinate sums (order-independent);
    * empty cells drop out keeping original ids. Returns one row per
    * vector: (vec_id, code_0..code_{m-1}, err_micros) where
    * err_micros is the summed winning squared distance over the m
    * subspaces — the total quantization error in 1e-6 units. */
  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, iters: Int): DataFrame = {
    val (e, books, sub) = pqTrain(corpus, idCol, vecCol, m, k, iters)
    val a = pqAssigned(e, books, sub)
    a.select(col("vec_id") +:
      (0 until m).map(s => col(s"best_$s.cid").as(s"code_$s")) :+
      (0 until m).map(s => col(s"best_$s.dm")).reduce(_ + _).as("err_micros"): _*)
  }

  /** The trained PQ state: (normalized corpus, per-subspace codebooks,
    * subspace width). Codebooks are DRIVER state (k·dim doubles);
    * training cost = `iters` × (one corpus scan + one k×dim map-side-
    * combined exchange). See [[pqCodes]] for the determinism recipe. */
  private def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int, k: Int, iters: Int)
      : (DataFrame, Seq[Seq[(Int, Seq[Double])]], Int) =
    // materialized ONCE (r22, the lloydTrain treatment): the probe,
    // the init collect, every update collect and the final assigned
    // plan all consume this projection — unmaterialized, each job
    // re-ran the upstream (for IVFADC's residual input, the whole
    // coarse-assign + vecSub chain)
    pqTrainOn(graft.core.Materialize.stable(corpus.select(
      col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))), m, k, iters)

  /** [[pqTrain]] over an ALREADY projected-and-materialized
    * (vec_id, v) frame — the IVFADC trainer calls this directly so the
    * residual frame materializes once for training AND coding. */
  private def pqTrainOn(e: DataFrame, m: Int, k: Int, iters: Int)
      : (DataFrame, Seq[Seq[(Int, Seq[Double])]], Int) = {
    val spark = e.sparkSession
    import spark.implicits._
    val probe = e.agg(count(lit(1)).as("c"), min(size(col("v"))).as("mn"),
      max(size(col("v"))).as("mx")).head()
    require(probe.getLong(0) > 0L, "pqTrain: empty input DataFrame")
    require(probe.getInt(1) == probe.getInt(2),
      s"pqTrain: ragged vector widths ${probe.getInt(1)}..${probe.getInt(2)}")
    val dim = probe.getInt(1)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val sub = dim / m

    var books: Seq[Seq[(Int, Seq[Double])]] = {
      val rows = e.orderBy(col("vec_id").asc).limit(k)
        .select(col("v")).as[Seq[Double]].collect().toSeq
      (0 until m).map(s => rows.zipWithIndex.map { case (v, i) =>
        (i, v.slice(s * sub, (s + 1) * sub)) })
    }

    for (_ <- 1 until iters) {
      // ONE posexplode of the full vector + integer arithmetic to
      // recover (sub, within-sub dim) and an array lookup for the
      // sub's assigned code — replaces the explode of m sliced
      // structs, which allocated m sub-vector copies per row before
      // producing the same dim tuples
      val cids = array(books.indices.map(s => col(s"best_$s.cid")): _*)
      val upd = pqAssigned(e, books, sub)
        .select(cids.as("cids"), posexplode(col("v")).as(Seq("gdim", "x")))
        .select((col("gdim") / lit(sub)).cast("int").as("sub"),
          element_at(col("cids"),
            (col("gdim") / lit(sub)).cast("int") + 1).as("cid"),
          (col("gdim") % lit(sub)).as("dim"), col("x"))
        .groupBy("sub", "cid", "dim")
        .agg(sum(floor(col("x") * lit(1048576.0) + lit(0.5)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect() // k×dim rows across all m books — bounded driver state
      books = books.indices.map { s =>
        upd.filter(_.getInt(0) == s).toSeq
          .map(r => (r.getInt(1),
            (r.getInt(2), r.getLong(3) / (r.getLong(4) * 1048576.0))))
          .groupBy(_._1).toSeq
          .map { case (cid, rows) =>
            (cid, rows.map(_._2).sortBy(_._1).map(_._2)) }
          .sortBy(_._1)
      }
    }
    (e, books, sub)
  }

  /** One fused per-subspace argmin pass: adds `best_s` =
    * struct(dm, cid) of the winning code per subspace (codegen'd
    * [[graft.functions.VectorFunctions.squaredL2Micros]] per centroid,
    * min by (dm, cid)). */
  private def pqAssigned(e: DataFrame, books: Seq[Seq[(Int, Seq[Double])]],
                         sub: Int): DataFrame =
    books.indices.foldLeft(e) { (df, s) =>
      val dists = books(s).map { case (cid, c) =>
        struct(VectorFunctions.squaredL2Micros(
            slice(col("v"), s * sub + 1, sub), typedLit(c)).as("dm"),
          lit(cid).as("cid"))
      }
      df.withColumn(s"best_$s", element_at(array_sort(array(dists: _*)), 1))
    }

  /** PQ asymmetric-distance (ADC) top-k search (Jégou et al. 2011 §IV):
    * the corpus is scored through its PQ codes only — the approximate
    * squared distance of query q to vector x is Σ_s ‖q_s − c_{s,code_s(x)}‖²,
    * the distance to x's RECONSTRUCTION — so at 100 TB the scan reads
    * m bytes of codes per vector instead of dim doubles, and the
    * query-side subspace distances are computed once per (query,
    * centroid), not per corpus row.
    *
    * Plan shape = [[bruteForceTopK]]'s: the scored cross-product never
    * shuffles (queries broadcast); each partition keeps its local
    * top-k per query (sorted-truncate aggregate, map-side combinable);
    * the global rank runs over partitions × k survivors. Fully
    * deterministic (trained books + integer ADC + (adc, id) ties) →
    * oracle hash-exact. Returns (query_id, neighbor_id, adc_micros,
    * rank), self-matches excluded. */
  def pqSearchTopK(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String,
                   m: Int, k: Int, iters: Int, topK: Int): DataFrame = {
    val (e, books, sub) = pqTrain(corpus, idCol, vecCol, m, k, iters)
    val coded = pqAssigned(e, books, sub)
      .select(col("vec_id").as("neighbor_id") +:
        books.indices.map(s => col(s"best_$s.cid").as(s"code_$s")): _*)
    // per-query PRECOMPUTED ADC tables (round 21, the adcScored
    // treatment): the m×k subspace distances materialize once per
    // query — the broadcast rows carry m·k micros instead of the full
    // dim-double vector, and each candidate pays m map lookups, not
    // m sub-dim distance loops. Codes are original cids (empty cells
    // drop out), so element_at by code — never positional indexing.
    val q = queries.select(
      col(idCol).as("query_id") +: books.indices.map { s =>
        map(books(s).flatMap { case (cid, c) =>
          Seq(lit(cid), VectorFunctions.squaredL2Micros(
            slice(col(vecCol).cast("array<double>"),
              s * sub + 1, sub), typedLit(c)))
        }: _*).as(s"tab_$s")
      }: _*)
    val adc = books.indices.map { s =>
      element_at(col(s"tab_$s"), col(s"code_$s"))
    }.reduce(_ + _)
    val scored = coded.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_micros", adc)
      .select("query_id", "neighbor_id", "adc_micros")
    rankTopK(scored, "adc_micros", topK)
  }

  /** LSH-bucketed top-k: candidates limited to signature-band collisions
    * (bands of `bandBits` bits from a `bits`-bit hyperplane signature —
    * multi-band probing recovers recall lost to single-bucket LSH). */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              bits: Int = 16, bandBits: Int = 8): DataFrame = {
    val nBands = bits / bandBits
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask)).as("bucket")))
    def banded(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"),
          VectorFunctions.hyperplaneLsh(col(vecCol), bits).as("sig"))
        .select(col(s"${side}_id"), col(s"${side}_vec"),
          explode(array(bandStructs: _*)).as("bb"))
        .select(col(s"${side}_id"), col(s"${side}_vec"), col("bb.band"), col("bb.bucket"))
    val q = banded(queries, "query")
    val c = banded(corpus, "neighbor")
    val scored = c.join(broadcast(q), Seq("band", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "query_vec", "neighbor_vec")
      .distinct()
      .withColumn("cosine",
        round(VectorFunctions.cosineSim(col("query_vec"), col("neighbor_vec")), 6))
      .select("query_id", "neighbor_id", "cosine")
    ranked(scored, k)
  }

  /** IVFADC (Jégou et al. 2011 §V): the full 100 TB ANN architecture —
    * a coarse `kc`-cell quantizer routes each vector to an inverted
    * list; a PQ codebook trained on the RESIDUAL (vector minus its
    * coarse centroid) compresses it to `m` codes inside the list; a
    * query probes only its `nprobe` nearest cells and ADC-scores the
    * vectors in them against the query's per-cell residual.
    *
    * Plan shape: the corpus pipeline is ONE scan, ZERO shuffles —
    * coarse assign (kc fused argmins), residual ([[graft.functions.
    * VectorFunctions.vecSub]], codegen'd), PQ argmins, all map-side
    * with broadcast driver state (kc·dim + m·k·dim/m doubles); the
    * probed queries broadcast into a hash join on the cell id, so the
    * scored candidate set is the probed lists only — at scale, with
    * the codes written cell-partitioned, the probe is partition
    * pruning and the scan reads m bytes per candidate instead of dim
    * floats. Top-k = partial per-partition truncate + global rank
    * ([[bruteForceTopK]]'s shape). Training cost: `iters` coarse +
    * `iters` PQ corpus scans, each with one k×dim map-side-combined
    * exchange (eager, at construction).
    *
    * Determinism: the house recipe end-to-end — coarse and PQ Lloyd
    * both init from lowest-id (sub)vectors, rank on micros-floored
    * distances with cid tiebreaks; residuals are plain IEEE subtracts
    * of exact-rational centroids, identical in DuckDB's
    * `p[1]-p[2]` — so the whole two-level pipeline is oracle
    * hash-exact. Returns (query_id, neighbor_id, adc_micros, rank),
    * self-matches excluded; `rank` orders by (adc_micros,
    * neighbor_id) within the probed candidates. */
  def ivfPqSearchTopK(queries: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      kc: Int, m: Int, k: Int, iters: Int,
                      nprobe: Int, topK: Int): DataFrame = {
    val (scored, _, _) =
      ivfPqScored(queries, corpus, idCol, vecCol, kc, m, k, iters, nprobe)
    rankTopK(scored, "adc_micros", topK)
  }

  /** IVFADC + exact re-rank — the standard two-stage retrieval (Jégou
    * et al. 2011 §VII): ADC selects a `shortlist` per query cheaply
    * from the m-byte codes; only the finalists are re-scored against
    * their FULL vectors. At 100 TB the exact pass touches
    * nQueries·shortlist vectors instead of the corpus: the shortlist
    * (bare id pairs) broadcasts into a hash join against the corpus
    * scan — the corpus never shuffles and only finalist rows survive
    * the join. Deterministic end-to-end ((adc, id) shortlist ties,
    * (exact, id) final ties) → oracle hash-exact. Returns (query_id,
    * neighbor_id, exact_micros, rank). */
  def ivfPqSearchRerank(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String,
                        kc: Int, m: Int, k: Int, iters: Int,
                        nprobe: Int, shortlist: Int, topK: Int): DataFrame = {
    val (scored, q, e) =
      ivfPqScored(queries, corpus, idCol, vecCol, kc, m, k, iters, nprobe)
    val short = rankTopK(scored, "adc_micros", shortlist)
      .select("query_id", "neighbor_id")
    val exact = e.join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("exact_micros",
        VectorFunctions.squaredL2Micros(col("qv"), col("v")))
      .select("query_id", "neighbor_id", "exact_micros")
    exact.withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("exact_micros").asc, col("neighbor_id").asc)))
      .where(col("rank") <= topK)
  }

  /** IVFADC shortlist + exact COSINE re-rank — [[bruteForceTopK]]'s
    * output contract ((query_id, neighbor_id, cosine, rank), cosine
    * rounded to 1e-6, (cosine desc, id) ties) served by the bounded-
    * probe index instead of the exhaustive scored pass. This is the
    * drop-in the margin-mining pipeline ([[Bitext.marginMiningApprox]])
    * swaps in at 100 TB: the ADC stage scores only the `nprobe` probed
    * cells' m-byte codes, and the exact cosine touches
    * nQueries·`shortlist` full vectors (the bare-id shortlist
    * broadcasts into the corpus scan — the corpus never shuffles).
    *
    * Identity property (spec-pinned in BitextSpec): with kc=1,
    * nprobe=1 and shortlist ≥ |corpus|, the probed candidate set is
    * every (query, corpus) pair, so the cosine re-rank IS
    * bruteForceTopK — same expression ([[graft.functions
    * .VectorFunctions.cosineSim]] on the RAW float vectors, widened
    * per element), same 1e-6 round, same tie order. Bounded settings
    * trade recall for the probe bound; RecallSpec-style floors gate
    * that trade. */
  def ivfPqCosineTopK(queries: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      kc: Int, m: Int, k: Int, iters: Int,
                      nprobe: Int, shortlist: Int, topK: Int): DataFrame = {
    require(shortlist >= topK, s"shortlist=$shortlist must cover topK=$topK")
    val (scored, _, _) =
      ivfPqScored(queries, corpus, idCol, vecCol, kc, m, k, iters, nprobe)
    cosineRerank(scored, queries, corpus, idCol, vecCol, shortlist, topK)
  }

  /** Rank-aware retrieval evaluation of the ADC searcher against the
    * exact L2 ground truth — the recall@k / reciprocal-rank report
    * every ANN deployment ships with (Jégou et al. 2011 evaluate PQ
    * exactly this way): per query, how many of the exact top-`topK`
    * the code-based search recovered, and 1/rank of the TRUE nearest
    * neighbor in the ADC ranking (0 when missed).
    *
    * Scale shape: the system side is [[pqSearchTopK]]'s codes-only
    * no-shuffle plan; the truth side is the exact scored-broadcast
    * pass (at eval time the query set is a SAMPLE — ground truth is
    * only ever computed for a bounded panel, which is why the
    * exhaustive pass is acceptable here and only here). The eval join
    * touches 2·nQueries·topK rows. Deterministic: both rankings tie
    * on id, counts are integers, the two divisions are single
    * mirrored IEEE ops → hash-exact. */
  def adcEval(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, m: Int, k: Int, iters: Int,
              topK: Int): DataFrame = {
    val round6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val sys = pqSearchTopK(queries, corpus, idCol, vecCol, m, k, iters, topK)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("sys_rank"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("v"))
    val truth = rankTopK(
      c.crossJoin(broadcast(q))
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("em",
          VectorFunctions.squaredL2Micros(col("qv"), col("v")))
        .select("query_id", "neighbor_id", "em"),
      "em", topK)
    truth.join(sys, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("sys_rank")).as("n_hits"),
        max(when(col("rank") === 1,
          coalesce(lit(1.0) / col("sys_rank").cast("double"), lit(0.0))))
          .as("rr_raw"))
      .select(col("query_id"), col("n_hits"),
        round6(col("n_hits").cast("double") / lit(topK.toDouble)).as("recall"),
        round6(coalesce(col("rr_raw"), lit(0.0))).as("rr"))
  }

  /** 1-bit sign-quantized Hamming top-k — the cheapest tier of the
    * compression spectrum (1 bit/dim < SQ8's byte/dim < PQ's m bytes/
    * vector): binarize every vector to its sign bits (the classic
    * sign-random-projection limit with identity projections; for
    * zero-centered data Hamming distance is monotone in angular
    * distance), then rank by xor-popcount. A 64-dim float vector
    * stores in 8 bytes; the scan reads TWO longs per candidate and
    * the distance is codegen'd `bit_count(a ^ b)` — no floats in the
    * hot loop at all.
    *
    * Same plan scaffold as [[bruteForceTopK]]: corpus scan ×
    * broadcast (binarized) queries, per-partition top-k, one rank
    * exchange. Deterministic (integer distances, id ties) →
    * hash-exact; recall vs exact L2 is gated in RecallSpec. */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, topK: Int): DataFrame = {
    def bits(df: DataFrame, as: String, vas: String) = df.select(
      col(idCol).as(as),
      graft.functions.HashFunctions.signBits(
        col(vecCol).cast("array<double>")).as(vas))
    val q = bits(queries, "query_id", "qb")
    val c = bits(corpus, "neighbor_id", "cb")
    val words = Seq(1, 2) // 64 dims -> two 32-bit words
    val hamming = words.map(w =>
      bit_count(element_at(col("qb"), w).bitwiseXOR(element_at(col("cb"), w))))
      .reduce(_ + _)
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hamming)
      .select("query_id", "neighbor_id", "hamming")
    rankTopK(scored, "hamming", topK)
  }

  /** Hard-negative triplet mining — the retrieval-training data step
    * of DPR (Karpukhin et al. 2020) / SimCSE (Gao et al. 2021): for
    * each anchor, the nearest SAME-label neighbor is the positive and
    * the nearest DIFFERENT-label neighbor the hard negative; the
    * triplet is useful when the margin (neg − pos distance) is small
    * but positive, and mislabeled-or-hard when it inverts.
    *
    * One scored pass: corpus scan × broadcast anchors, exact L2
    * micros, ONE window partitioned by (anchor, same-label) picks
    * both winners, then a 2-row-per-anchor pivot. The margin is a
    * difference of exact integers — no floats anywhere → hash-exact.
    * At 100 TB the scored pass swaps in the IVFADC shortlist per
    * anchor (labels ride the code table) with the pivot unchanged. */
  def hardestTriplets(anchors: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, labelCol: String): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(labelCol).as("a_label"),
      col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(idCol).as("cand_id"),
      col(labelCol).as("c_label"),
      col(vecCol).cast("array<double>").as("v"))
    val best = c.crossJoin(broadcast(a))
      .where(col("anchor_id") =!= col("cand_id"))
      .select(col("anchor_id"), col("cand_id"),
        (col("a_label") === col("c_label")).as("same"),
        VectorFunctions.squaredL2Micros(col("qv"), col("v")).as("em"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("anchor_id", "same")
          .orderBy(col("em").asc, col("cand_id").asc)))
      .where(col("rk") === 1)
    best.groupBy("anchor_id")
      .agg(max(when(col("same"), col("cand_id"))).as("pos_id"),
        max(when(col("same"), col("em"))).as("pos_micros"),
        max(when(!col("same"), col("cand_id"))).as("neg_id"),
        max(when(!col("same"), col("em"))).as("neg_micros"))
      .select(col("anchor_id"), col("pos_id"), col("neg_id"),
        col("pos_micros"), col("neg_micros"),
        (col("neg_micros") - col("pos_micros")).as("margin_micros"))
  }

  /** SQ8 scalar quantization (the Faiss `SQ8` layout — e.g. Jégou et
    * al. 2011 §II compare against it as the uniform-quantizer
    * baseline): each dimension is affinely mapped to one byte,
    * code_d = round((x_d − min_d)/Δ_d) with Δ_d = (max_d − min_d)/255,
    * so a dim-float vector stores in dim bytes — the cheap 4×
    * compression tier below PQ's m bytes.
    *
    * Scale shape: the per-dim (min, max) train is ONE scan with a
    * dim-row map-side-combined exchange, collected as dim-sized
    * driver state (the trainer pattern); the returned per-vector plan
    * is map-only — codes/reconstruction from broadcast literals, the
    * error through the native [[graft.functions.VectorFunctions
    * .squaredL2Micros]]. Returns (vec_id, code_sum, err_micros):
    * exact integer code sum and the 1e-6 fixed-point reconstruction
    * error. Deterministic end-to-end (min/max are exact, the affine
    * map is a fixed IEEE op sequence, clamps written identically in
    * the oracle) → hash-exact. Constant dimensions (Δ_d = 0) code to
    * 0 and reconstruct exactly. */
  def sq8Stats(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val mm = e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .collect() // dim rows — bounded driver state
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    // fused native kernel (VectorFunctions.sq8Stats): the previous
    // element-wise transform lambdas ran interpreted and re-evaluated
    // their children per element; the kernel also branches the
    // constant-dimension case on mn == mx — the ORACLE's predicate —
    // instead of testing the derived Δ for zero (which diverges when a
    // subnormal-tiny range underflows Δ to 0.0)
    e.select(col("vec_id"),
        VectorFunctions.sq8Stats(col("v"),
          mm.map(_._2).toIndexedSeq, mm.map(_._3).toIndexedSeq).as("s"))
      .select(col("vec_id"), col("s.code_sum").as("code_sum"),
        col("s.err_micros").as("err_micros"))
  }

  /** [[bruteForceTopK]]'s partial-then-global top-k tail over an
    * arbitrary scored column: per-partition sorted truncate (map-side
    * combinable), global rank over partitions × k survivors. */
  private def rankTopK(scored: DataFrame, valueCol: String,
                       topK: Int): DataFrame = {
    val partial = scored
      .withColumn("__part", spark_partition_id())
      .groupBy("query_id", "__part")
      .agg(slice(array_sort(collect_list(
        struct(col(valueCol), col("neighbor_id")))), 1, topK).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.neighbor_id").as("neighbor_id"),
        col(s"t.$valueCol").as(valueCol))
    partial
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col(valueCol).asc, col("neighbor_id").asc)))
      .where(col("rank") <= topK)
  }

  /** Trained IVFADC state: coarse centroids, per-subspace PQ codebooks
    * (over the residuals), and the subspace width — the broadcastable
    * driver constants (kc·dim + k·dim doubles) every probe/score pass
    * needs. */
  case class IvfPqState(cents: Seq[(Int, Seq[Double])],
                        books: Seq[Seq[(Int, Seq[Double])]], sub: Int)

  /** A built IVFADC index: the trained [[IvfPqState]] plus the path of
    * the cell-partitioned code table written by [[ivfPqBuildIndex]]. */
  case class IvfPqIndex(path: String, state: IvfPqState)

  /** Train both quantizer levels and return the coded corpus
    * (neighbor_id, gcell, code_0..code_{m-1}) with the trained state.
    * The returned coded plan is ONE pass over the materialized
    * residual frame, ZERO shuffles (the PQ argmins run map-side off
    * broadcast state; coarse argmin + residual were computed once at
    * materialization). */
  private def ivfPqTrainCoded(corpus: DataFrame, idCol: String, vecCol: String,
                              kc: Int, m: Int, k: Int, iters: Int)
      : (DataFrame, IvfPqState) = {
    val (assignedFull, cents) = lloydTrain(corpus, idCol, vecCol, kc, iters)
    val centMap = typedLit(cents.toMap)
    // the residual frame materializes ONCE (r22) and feeds BOTH the PQ
    // trainer's jobs (probe/init/updates) and the returned coded plan —
    // unmaterialized, every one of those re-ran the coarse-assign +
    // vecSub chain over the corpus
    val res = graft.core.Materialize.stable(
      assignedFull.select(col("vec_id"), col("cluster").as("gcell"),
        VectorFunctions.vecSub(col("v"), element_at(centMap, col("cluster"))).as("r")))
    val (_, books, sub) = pqTrainOn(
      res.select(col("vec_id"), col("r").as("v")), m, k, iters)
    val coded = pqAssigned(res.select(col("vec_id"), col("gcell"),
        col("r").as("v")), books, sub)
      .select(col("vec_id").as("neighbor_id") +: col("gcell") +:
        books.indices.map(s => col(s"best_$s.cid").as(s"code_$s")): _*)
    (coded, IvfPqState(cents, books, sub))
  }

  /** Probed queries: each query keeps its `nprobe` nearest coarse
    * cells with the per-cell residual — (query_id, gcell, qr). */
  private def ivfPqProbes(queries: DataFrame, idCol: String, vecCol: String,
                          state: IvfPqState, nprobe: Int)
      : (DataFrame, DataFrame) = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val centMap = typedLit(state.cents.toMap)
    val gdists = state.cents.map { case (cid, c) =>
      struct(VectorFunctions.squaredL2Micros(col("qv"), typedLit(c)).as("gdm"),
        lit(cid).as("gcell"))
    }
    val probes = q
      .withColumn("p", explode(slice(array_sort(array(gdists: _*)), 1, nprobe)))
      .select(col("query_id"), col("p.gcell").as("gcell"),
        VectorFunctions.vecSub(col("qv"),
          element_at(centMap, col("p.gcell"))).as("qr"))
    (q, probes)
  }

  /** ADC scoring of a coded corpus against broadcast probed queries:
    * the candidate set is the probed lists only, the corpus side never
    * shuffles.
    *
    * Round 21 — PRECOMPUTED lookup tables (Jégou et al. 2011 §V's
    * actual ADC recipe): each probe row materializes, ONCE, the m×k
    * table ‖qr_s − c_{s,j}‖²-micros of its residual against every
    * centroid; the per-candidate score is then m map lookups + a sum.
    * The previous form recomputed the same subspace distance per
    * CANDIDATE (sub-dim multiplies × m per pair) and carried the full
    * dim-double residual through every joined row — table rows are
    * both narrower and loop-free. Values identical: the same
    * squaredL2Micros terms, summed in the same subspace order. */
  private def adcScored(coded: DataFrame, probes: DataFrame,
                        state: IvfPqState): DataFrame = {
    val tabs = state.books.indices.map { s =>
      map(state.books(s).flatMap { case (cid, c) =>
        Seq(lit(cid), VectorFunctions.squaredL2Micros(
          slice(col("qr"), s * state.sub + 1, state.sub), typedLit(c)))
      }: _*).as(s"tab_$s")
    }
    val probeTabs = probes.select(
      col("query_id") +: col("gcell") +: tabs: _*)
    val adc = state.books.indices.map { s =>
      element_at(col(s"tab_$s"), col(s"code_$s"))
    }.reduce(_ + _)
    coded.join(broadcast(probeTabs), Seq("gcell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_micros", adc)
      .select("query_id", "neighbor_id", "adc_micros")
  }

  /** Build a PERSISTENT IVFADC index: train the two quantizer levels,
    * then write the coded corpus hive-partitioned by the coarse cell
    * through the sidecar-verified partitioned writer
    * ([[graft.io.Vc.writePartitioned]] — same contract as the
    * processed-table twins: column classes, data digest, pruning-safe
    * layout). This is the artifact the 100 TB claim rests on: with
    * codes ON DISK partitioned by `gcell`, a probe is partition
    * pruning — the scan lists only the nprobe cells' files and reads
    * m small ints per candidate instead of dim floats
    * ([[ivfPqSearchIndex]]; `IvfPqIndexSpec` pins the pruned
    * `numFiles` the way `VcPartitionedSpec` does for processed
    * tables). */
  def ivfPqBuildIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      kc: Int, m: Int, k: Int, iters: Int,
                      path: String): IvfPqIndex = {
    val (coded, state) = ivfPqTrainCoded(corpus, idCol, vecCol, kc, m, k, iters)
    graft.io.Vc.writePartitioned(coded, path,
      partitionCols = Seq("gcell"), sortKeys = Seq("neighbor_id"))
    IvfPqIndex(path, state)
  }

  /** Code vectors with a FROZEN trained [[IvfPqState]] — the serving-
    * side index-maintenance path (no training scans): coarse argmin
    * over the broadcast centroids, residual via the codegen'd
    * [[graft.functions.VectorFunctions.vecSub]], PQ argmins off the
    * broadcast codebooks — ONE scan of `df`, ZERO shuffles, identical
    * assignment semantics to the build ((micros, cid)-ordered
    * argmins), so coding new rows under the frozen state equals what
    * a full rebuild with the same state would produce
    * (`IvfPqIndexSpec` pins the property). Returns
    * (neighbor_id, gcell, code_0..code_{m-1}). */
  def ivfPqCodeWithState(df: DataFrame, idCol: String, vecCol: String,
                         state: IvfPqState): DataFrame = {
    val e = df.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val centMap = typedLit(state.cents.toMap)
    val gdists = state.cents.map { case (cid, c) =>
      struct(VectorFunctions.squaredL2Micros(col("v"), typedLit(c)).as("dm"),
        lit(cid).as("cid"))
    }
    val res = e
      .withColumn("best", element_at(array_sort(array(gdists: _*)), 1))
      .select(col("vec_id"), col("best.cid").as("gcell"),
        VectorFunctions.vecSub(col("v"),
          element_at(centMap, col("best.cid"))).as("v"))
    pqAssigned(res, state.books, state.sub)
      .select(col("vec_id").as("neighbor_id") +: col("gcell") +:
        state.books.indices.map(s => col(s"best_$s.cid").as(s"code_$s")): _*)
  }

  /** Train both IVFADC quantizer levels and return ONLY the frozen
    * [[IvfPqState]] — the cacheable driver constants (kc·dim + k·dim
    * doubles). Runs the training scans EAGERLY at call time (`iters`
    * coarse + `iters` PQ Lloyd collects), so a caller memoizing the
    * result (the q203 per-sf-dir cache) pays training exactly once. */
  def ivfPqTrainState(corpus: DataFrame, idCol: String, vecCol: String,
                      kc: Int, m: Int, k: Int, iters: Int): IvfPqState =
    ivfPqTrainCoded(corpus, idCol, vecCol, kc, m, k, iters)._2

  /** [[ivfPqCosineTopK]] under a FROZEN pre-trained state — the
    * cached-quantizer serving tier between the in-query trainer
    * ([[ivfPqCosineTopK]], honest E2E cost) and the written index
    * ([[ivfPqCosineSearchIndex]], on-disk cells): the corpus is coded
    * map-only under `state` (ONE scan, zero shuffles —
    * [[ivfPqCodeWithState]]), probed, ADC-shortlisted and
    * cosine-re-ranked exactly as the trainer form. When `state` was
    * trained on this corpus the output is IDENTICAL to
    * [[ivfPqCosineTopK]] at equal parameters (coding under the frozen
    * state equals the build-time coding — `IvfPqIndexSpec`'s pinned
    * property), which is how the cached form rides the full-train
    * oracle. */
  def ivfPqCosineTopKWithState(state: IvfPqState, queries: DataFrame,
                               corpus: DataFrame, idCol: String, vecCol: String,
                               nprobe: Int, shortlist: Int,
                               topK: Int): DataFrame = {
    require(shortlist >= topK, s"shortlist=$shortlist must cover topK=$topK")
    val coded = ivfPqCodeWithState(corpus, idCol, vecCol, state)
    val (_, probes) = ivfPqProbes(queries, idCol, vecCol, state, nprobe)
    cosineRerank(adcScored(coded, probes, state), queries, corpus, idCol,
      vecCol, shortlist, topK)
  }

  /** Append NEW vectors to a WRITTEN IVFADC index without retraining —
    * the shard-arrival shape of index maintenance (Jégou-style IVF
    * deployments re-train rarely and append constantly): the delta is
    * coded map-only under the index's frozen state
    * ([[ivfPqCodeWithState]]) and lands in its coarse cells'
    * partition directories through the arithmetic-digest append
    * ([[graft.io.Vc.appendPartitioned]] — O(delta) cost, the base is
    * never rescanned and the sidecar contract survives). Probes over
    * the merged index still prune to the probed cells' files. */
  def ivfPqAppendIndex(index: IvfPqIndex, delta: DataFrame,
                       idCol: String, vecCol: String): IvfPqIndex = {
    val coded = ivfPqCodeWithState(delta, idCol, vecCol, index.state)
    graft.io.Vc.appendPartitioned(coded, index.path)
    index
  }

  /** Compact a WRITTEN IVFADC index — the fourth leg of maintenance
    * CRUD (build / append / delete / compact): every
    * [[ivfPqAppendIndex]] adds one more small delta file per touched
    * cell, and after N shard arrivals a probe of a hot cell opens N
    * files instead of one. Compaction rewrites ONLY fragmented cells
    * (more than `maxFilesPerCell` data files) as one file each via
    * [[graft.io.Vc.compactPartitioned]] — the delete path's
    * dynamic-overwrite machinery pointed at fragmentation: rows and
    * codes are bit-identical, the arithmetic sidecar digest is
    * untouched by construction, untouched cells keep their files and
    * mtimes, and searches over the compacted index are IDENTICAL
    * (the q213 oracle gate rides q192's chain). Cost is O(fragmented
    * cells), never a full rebuild. */
  def ivfPqCompactIndex(spark: org.apache.spark.sql.SparkSession,
                        index: IvfPqIndex,
                        maxFilesPerCell: Int = 1): IvfPqIndex = {
    graft.io.Vc.compactPartitioned(spark, index.path, maxFilesPerCell)
    index
  }

  /** Delete vectors from a WRITTEN IVFADC index — the third leg of
    * maintenance CRUD (build [[ivfPqBuildIndex]] / append
    * [[ivfPqAppendIndex]] / delete): rows matching `pred` leave the
    * code table via [[graft.io.Vc.deleteFromPartitioned]], which
    * rewrites ONLY the affected cells' partitions and SUBTRACTS the
    * removed rows' digest from the sidecar (the additive-digest dual:
    * O(removed partitions), base cells untouched). The trained state
    * is unchanged — deletion never requires retraining, searches
    * simply stop seeing the removed candidates. */
  def ivfPqDeleteFromIndex(spark: org.apache.spark.sql.SparkSession,
                           index: IvfPqIndex, pred: Column): IvfPqIndex = {
    graft.io.Vc.deleteFromPartitioned(spark, index.path, pred)
    index
  }

  /** ADC top-k search over a WRITTEN index ([[ivfPqBuildIndex]]): the
    * probed cell ids are driver state (≤ queries × nprobe, the tiny
    * serving side), pushed as a literal IN filter into the partitioned
    * read so the file listing itself shrinks to the probed cells —
    * the q162 pipeline with the corpus scan replaced by the pruned
    * index read. Identical output to [[ivfPqSearchTopK]] at equal
    * parameters (the oracle gate); the unverified read is the
    * documented hot path (the digest check would rescan every cell). */
  def ivfPqSearchIndex(index: IvfPqIndex, queries: DataFrame,
                       idCol: String, vecCol: String,
                       nprobe: Int, topK: Int): DataFrame = {
    val (_, probes) = ivfPqProbes(queries, idCol, vecCol, index.state, nprobe)
    rankTopK(adcScored(probedCells(index, probes), probes, index.state),
      "adc_micros", topK)
  }

  /** [[ivfPqCosineTopK]] served from a WRITTEN index: the ADC
    * shortlist comes from the pruned cell-partitioned read
    * ([[ivfPqSearchIndex]]'s plan — probed cells as a literal IN
    * filter, so the file listing itself shrinks), and the exact
    * cosine re-ranks the finalists off the raw `corpus` vectors.
    * Identical output to [[ivfPqCosineTopK]] at equal parameters
    * (the ADC scores depend only on the codes and state, both of
    * which round-trip bit-exact through the index — the q169 ≡ q162
    * identity), which is how q206 rides q203's oracle. */
  def ivfPqCosineSearchIndex(index: IvfPqIndex, queries: DataFrame,
                             corpus: DataFrame, idCol: String, vecCol: String,
                             nprobe: Int, shortlist: Int,
                             topK: Int): DataFrame = {
    require(shortlist >= topK, s"shortlist=$shortlist must cover topK=$topK")
    val (_, probes) = ivfPqProbes(queries, idCol, vecCol, index.state, nprobe)
    cosineRerank(adcScored(probedCells(index, probes), probes, index.state),
      queries, corpus, idCol, vecCol, shortlist, topK)
  }

  /** The probed cells' code rows of a WRITTEN index: the probed cell
    * ids are driver state (≤ kc values), pushed as a literal IN filter
    * into the unverified partitioned read so the file listing itself
    * shrinks to the probed cells. */
  private def probedCells(index: IvfPqIndex, probes: DataFrame): DataFrame = {
    val cells = probes.select("gcell").distinct()
      .collect().map(_.getInt(0)).sorted
    graft.io.Vc.readPartitioned(probes.sparkSession, index.path, verify = false)
      .where(col("gcell").isin(cells.toIndexedSeq: _*))
  }

  /** Exact-cosine re-rank of ADC-scored candidates: the top
    * `shortlist` per query by ADC distance, rescored by cosine over
    * the RAW (float) vectors — bit-identical to bruteForceTopK's value
    * — and ranked to `topK`. The bare-id shortlist and the queries
    * broadcast into the corpus scan; the corpus never shuffles. */
  private def cosineRerank(scored: DataFrame, queries: DataFrame,
                           corpus: DataFrame, idCol: String, vecCol: String,
                           shortlist: Int, topK: Int): DataFrame = {
    val short = rankTopK(scored, "adc_micros", shortlist)
      .select("query_id", "neighbor_id")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val exact = c.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        round(VectorFunctions.cosineSim(col("qvec"), col("cvec")), 6))
      .select("query_id", "neighbor_id", "cosine")
    ranked(exact, topK)
  }

  /** Shared IVFADC core: (ADC-scored candidates, probed-query vectors,
    * normalized corpus vectors). See [[ivfPqSearchTopK]] for the plan
    * shape and determinism contract. */
  private def ivfPqScored(queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String,
                          kc: Int, m: Int, k: Int, iters: Int,
                          nprobe: Int): (DataFrame, DataFrame, DataFrame) = {
    val (coded, state) = ivfPqTrainCoded(corpus, idCol, vecCol, kc, m, k, iters)
    val (q, probes) = ivfPqProbes(queries, idCol, vecCol, state, nprobe)
    val scored = adcScored(coded, probes, state)
    // fresh normalized corpus for the exact-rerank join — a plain
    // (vec_id, v) scan without the coarse-assign argmin work
    val e = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    (scored, q, e)
  }
}
