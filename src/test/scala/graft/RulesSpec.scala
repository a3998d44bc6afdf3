package graft

import graft.functions.JaccardFunctions
import graft.rules.JaccardLengthPruning
import org.apache.spark.sql.functions._

class RulesSpec extends SparkSuite {
  import spark.implicits._

  // parquet-backed so ConvertToLocalRelation cannot fold the Filter away
  private lazy val pairsPath = {
    val dir = java.nio.file.Files.createTempDirectory("rules").toString + "/pairs"
    Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f", "g", "h"), Seq("a", "b")), // ratio 0.25 -> prunable
      (2L, Seq("a", "b", "c", "d"), Seq("a", "b", "c", "e")),           // J = 0.6
      (3L, Seq("a", "b", "c", "d"), Seq("a", "b", "c", "d")),           // J = 1.0
      (4L, Seq("x", "x", "x", "x"), Seq("x"))                           // dup-heavy: J = 1.0
    ).toDF("id", "set_a", "set_b").write.parquet(dir)
    dir
  }
  private def pairs = spark.read.parquet(pairsPath)

  // inputs provably distinct (array_distinct in the filter's lineage)
  private def distinctQuery = pairs
    .select(col("id"),
      array_distinct(col("set_a")).as("da"),
      array_distinct(col("set_b")).as("db"))
    .withColumn("jaccard", round(JaccardFunctions.jaccardSim(col("da"), col("db")), 6))
    .where(col("jaccard") >= 0.5)
    .select("id", "jaccard")

  // opaque raw columns: arrays may hold duplicates -> rule must NOT fire
  private def rawQuery = pairs
    .withColumn("jaccard", round(JaccardFunctions.jaccardSim(col("set_a"), col("set_b")), 6))
    .where(col("jaccard") >= 0.5)
    .select("id", "jaccard")

  test("rule injects size prefilters on distinct inputs, is idempotent, and is sound") {
    val optimized = JaccardLengthPruning(distinctQuery.queryExecution.optimizedPlan)
    val txt = optimized.toString
    assert(txt.contains("size("), s"prefilter missing in:\n$txt")
    assert(JaccardLengthPruning(optimized).toString === txt) // idempotent
    assert(distinctQuery.as[(Long, Double)].collect().toSet ===
      Set((2L, 0.6), (3L, 1.0), (4L, 1.0)))
  }

  test("rule does not fire on opaque (possibly duplicated) array columns") {
    val optimized = JaccardLengthPruning(rawQuery.queryExecution.optimizedPlan)
    assert(!optimized.toString.contains("size("),
      s"unsound prefilter on raw arrays:\n$optimized")
  }

  test("rule active on a live session preserves results end-to-end") {
    val beforeD = distinctQuery.as[(Long, Double)].collect().toSet
    val beforeR = rawQuery.as[(Long, Double)].collect().toSet
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ JaccardLengthPruning
    try {
      val q2 = distinctQuery // fresh plan under the extended optimizer
      val planTxt = q2.queryExecution.optimizedPlan.toString
      assert(planTxt.contains("size("), s"rule inactive:\n$planTxt")
      assert(q2.as[(Long, Double)].collect().toSet === beforeD)
      // dup-heavy row 4 (J=1.0 after kernel dedup) must survive
      assert(rawQuery.as[(Long, Double)].collect().toSet === beforeR)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == JaccardLengthPruning)
    }
  }

  test("rule fires in the Dedup verify path (renames + self-join lineage)") {
    val dir = java.nio.file.Files.createTempDirectory("rules").toString + "/docs"
    Seq(
      (1L, "the quick brown fox", "en", "web"),
      (2L, "the quick brown fox", "en", "web"),
      (3L, "something else entirely", "en", "web")
    ).toDF("doc_id", "text", "lang", "source").write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val q = graft.dedup.Dedup.blockedJaccardPairs(
      docs, "text", "doc_id", Seq("lang", "source"), threshold = 0.5)
    val optimized = JaccardLengthPruning(q.queryExecution.optimizedPlan)
    assert(optimized.toString.contains("size("),
      s"prefilter no longer firing in Dedup path:\n$optimized")
    assert(q.select("id_a", "id_b").as[(Long, Long)].collect().toSet === Set((1L, 2L)))
  }

  test("strict lit(t) < jaccard shape also gets the prefilter") {
    val q = pairs
      .select(col("id"),
        array_distinct(col("set_a")).as("da"),
        array_distinct(col("set_b")).as("db"))
      .withColumn("jaccard", round(JaccardFunctions.jaccardSim(col("da"), col("db")), 6))
      .where(lit(0.5) < col("jaccard"))
      .select("id", "jaccard")
    val optimized = JaccardLengthPruning(q.queryExecution.optimizedPlan)
    assert(optimized.toString.contains("size("), s"prefilter missing:\n$optimized")
    assert(q.as[(Long, Double)].collect().toSet === Set((2L, 0.6), (3L, 1.0), (4L, 1.0)))
  }

  test("collect_set-defined arrays are recognized as provably distinct") {
    val dir = java.nio.file.Files.createTempDirectory("rules").toString + "/toks"
    Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"), (2L, "x"))
      .toDF("doc_id", "tok").write.parquet(dir)
    val toks = spark.read.parquet(dir)
    val sets = toks.groupBy("doc_id").agg(collect_set(col("tok")).as("ts"))
    val l = sets.select(col("doc_id").as("id_a"), col("ts").as("sa"))
    val r = sets.select(col("doc_id").as("id_b"), col("ts").as("sb"))
    val q = l.crossJoin(r).where(col("id_a") < col("id_b"))
      .where(round(JaccardFunctions.jaccardSim(col("sa"), col("sb")), 6) >= 0.5)
      .select("id_a", "id_b")
    val optimized = JaccardLengthPruning(q.queryExecution.optimizedPlan)
    assert(optimized.toString.contains("size("),
      s"prefilter missing on collect_set lineage:\n$optimized")
    assert(q.as[(Long, Long)].collect().toSet === Set((1L, 2L))) // J = 2/4 = 0.5
  }

  test("coarse round scale backs off by half an ulp of the scale") {
    // |A| = 250, B ⊂ A with |B| = 199: J = 0.796, round(J, 2) = 0.8.
    // A fixed 1e-6 backoff would demand size(B) >= 199.99975 and wrongly
    // prune; the 0.5*10^-2 backoff keeps the row.
    val a = (0 until 250).map(i => f"t$i%03d")
    val b = a.take(199)
    val dir = java.nio.file.Files.createTempDirectory("rules").toString + "/coarse"
    Seq((1L, a, b)).toDF("id", "set_a", "set_b").write.parquet(dir)
    val q = spark.read.parquet(dir)
      .select(col("id"),
        array_distinct(col("set_a")).as("da"),
        array_distinct(col("set_b")).as("db"))
      .where(round(JaccardFunctions.jaccardSim(col("da"), col("db")), 2) >= 0.8)
      .select("id")
    val optimized = JaccardLengthPruning(q.queryExecution.optimizedPlan)
    assert(optimized.toString.contains("size("), s"prefilter missing:\n$optimized")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ JaccardLengthPruning
    try {
      assert(q.as[Long].collect().toSeq === Seq(1L))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == JaccardLengthPruning)
    }
  }

  // ---- SpatialJoinRewrite ------------------------------------------------

  // 40 points on a line; 3 square polygons (one with a hole) as ring sets
  private lazy val (pointsPath, polysPath) = {
    val base = java.nio.file.Files.createTempDirectory("spatial").toString
    (0 until 40).map(i => (i.toLong, i * 2.5, i * 1.5))
      .toDF("pid", "x", "y").write.parquet(s"$base/points")
    def ring(x0: Double, y0: Double, w: Double) =
      Seq((x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w))
    Seq(
      (10L, Seq(ring(0, 0, 20))),                    // plain square
      (20L, Seq(ring(15, 10, 30), ring(25, 15, 5))), // square with hole
      (30L, Seq(ring(70, 40, 25))))
      .toDF("poly_id", "rings").write.parquet(s"$base/polys")
    (s"$base/points", s"$base/polys")
  }

  private def spatialQuery = {
    val pts = spark.read.parquet(pointsPath)
    val polys = spark.read.parquet(polysPath)
    pts.crossJoin(polys)
      .where(graft.geo.GeoFunctions.pointInRings(col("rings"), col("x"), col("y")))
      .select("pid", "poly_id")
  }

  test("spatial rewrite turns the PIP cross product into a cell equi-join") {
    import graft.rules.SpatialJoinRewrite
    // the naive baseline: the session installs the rule, so exclude it
    // for this one frame
    val excluded = "spark.sql.optimizer.excludedRules"
    val prevExcluded = spark.conf.getOption(excluded)
    spark.conf.set(excluded, SpatialJoinRewrite.ruleName)
    val (naive, naivePlan, naiveOptimized) =
      try {
        val q = spatialQuery
        (q.as[(Long, Long)].collect().toSet, q.queryExecution.executedPlan.toString,
          q.queryExecution.optimizedPlan)
      } finally prevExcluded.fold(spark.conf.unset(excluded))(spark.conf.set(excluded, _))
    assert(naivePlan.contains("NestedLoopJoin")) // the shape we are eliminating

    val optimized = SpatialJoinRewrite(naiveOptimized)
    assert(optimized.toString.contains("bbox_cells"),
      s"rewrite did not fire:\n$optimized")
    // idempotent: the rewritten join now has an equality conjunct
    assert(SpatialJoinRewrite(optimized).toString === optimized.toString)

    // with the installed rule
    val plan = spatialQuery.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), s"still a cross product:\n$plan")
    assert(plan.contains("HashJoin"), s"expected hash join:\n$plan")
    assert(spatialQuery.as[(Long, Long)].collect().toSet === naive)
    // hole semantics preserved through the rewrite: a point inside
    // polygon 20's hole matches only the outer square 10
    assert(!naive.exists { case (pid, poly) => poly == 20L &&
      { val p = (pid * 2.5, pid * 1.5); p._1 > 25 && p._1 < 30 && p._2 > 15 && p._2 < 20 } })
  }

  test("spatial rewrite preserves the output schema with no trailing select") {
    import graft.rules.SpatialJoinRewrite
    val pts = spark.read.parquet(pointsPath)
    val polys = spark.read.parquet(polysPath)
    // no projection after the filter: the full join output is the schema,
    // in both argument orders (cell attr must never leak, in any slot)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ SpatialJoinRewrite
    try {
      val q1 = pts.crossJoin(polys)
        .where(graft.geo.GeoFunctions.pointInRings(col("rings"), col("x"), col("y")))
      assert(q1.columns.toSeq === Seq("pid", "x", "y", "poly_id", "rings"))
      val r1 = q1.collect()
      assert(r1.nonEmpty && r1.forall(_.length == 5))
      assert(r1.forall(r => r.getDouble(1) == r.getLong(0) * 2.5)) // x not shifted

      val q2 = polys.crossJoin(pts) // polygons on the LEFT (swapped branch)
        .where(graft.geo.GeoFunctions.pointInRings(col("rings"), col("x"), col("y")))
      assert(q2.columns.toSeq === Seq("poly_id", "rings", "pid", "x", "y"))
      val r2 = q2.collect()
      assert(r2.map(r => (r.getLong(2), r.getLong(0))).toSet ===
        r1.map(r => (r.getLong(0), r.getLong(3))).toSet)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SpatialJoinRewrite)
    }
  }

  test("spatial rewrite leaves equi-joins and one-sided predicates alone") {
    import graft.rules.SpatialJoinRewrite
    val pts = spark.read.parquet(pointsPath)
    val polys = spark.read.parquet(polysPath)
    // already an equi-join: no rewrite
    val equi = pts.join(polys, pts("pid") === polys("poly_id"))
      .where(graft.geo.GeoFunctions.pointInRings(col("rings"), col("x"), col("y")))
    assert(!SpatialJoinRewrite(equi.queryExecution.optimizedPlan)
      .toString.contains("bbox_cells"))
    // rings and coords from the SAME side: no rewrite
    val oneSided = polys.crossJoin(pts.select(col("pid").as("p2")))
      .where(graft.geo.GeoFunctions.pointInRings(col("rings"), lit(1.0), lit(1.0)))
    assert(!SpatialJoinRewrite(oneSided.queryExecution.optimizedPlan)
      .toString.contains("bbox_cells"))
  }
}
