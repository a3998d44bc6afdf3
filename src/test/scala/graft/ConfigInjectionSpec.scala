package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Proves the `spark.sql.extensions=graft.GraftExtensions` deployment
  * path end to end: a session built ONLY from config (no
  * `withExtensions`) gets the SQL functions and the injected
  * optimizer rules. This is how a cluster job picks up the engine —
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions —
  * so it must work without any code-side hook. */
class ConfigInjectionSpec extends SparkSuite {

  test("a config-built session gets functions and optimizer rules injected") {
    val base = spark // force the shared context into existence
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    val prevExtensions = base.sparkContext.getConf.getOption("spark.sql.extensions")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a STATIC conf: when the builder reuses an
    // existing SparkContext, getOrCreate reads it from the CONTEXT's conf
    // (exactly where spark-submit --conf lands), not from builder options.
    org.apache.spark.sql.GraftBridge.setContextConf(base.sparkContext,
      "spark.sql.extensions", Some("graft.GraftExtensions"))
    val injected =
      try SparkSession.builder().getOrCreate()
      finally {
        org.apache.spark.sql.GraftBridge.setContextConf(base.sparkContext,
          "spark.sql.extensions", prevExtensions)
        prevActive.foreach(SparkSession.setActiveSession)
        prevDefault.foreach(SparkSession.setDefaultSession)
      }
    assert(injected ne base, "expected a fresh session over the shared context")
    try {
      // 1. SQL functions resolve
      val cos = injected.sql(
        "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))," +
          " array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
        .collect().head.getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)

      // 2. JaccardLengthPruning fires on a provably-distinct jaccard filter
      import injected.implicits._
      val dir = java.nio.file.Files.createTempDirectory("cfginj").toString
      Seq((1L, Seq("a", "b", "c", "d", "e", "f", "g", "h"), Seq("a", "b")),
        (2L, Seq("a", "b", "c", "d"), Seq("a", "b", "c", "e")))
        .toDF("id", "set_a", "set_b").write.parquet(dir + "/pairs")
      val filtered = injected.read.parquet(dir + "/pairs")
        .select(col("id"),
          array_distinct(col("set_a")).as("da"),
          array_distinct(col("set_b")).as("db"))
        .withColumn("jaccard",
          graft.functions.JaccardFunctions.jaccardSim(col("da"), col("db")))
        .where(col("jaccard") >= 0.5)
      val planTxt = filtered.queryExecution.optimizedPlan.toString
      assert(planTxt.contains("size("),
        s"JaccardLengthPruning did not fire via config injection:\n$planTxt")

      // 3. SpatialJoinRewrite is present in the session's optimizer
      val ruleNames = injected.sessionState.optimizer.batches
        .flatMap(_.rules).map(_.ruleName)
      assert(ruleNames.exists(_.contains("SpatialJoinRewrite")),
        s"SpatialJoinRewrite missing from optimizer batches")
      assert(ruleNames.exists(_.contains("JaccardLengthPruning")))
      assert(ruleNames.contains(graft.rules.ExactRound.ruleName))
    } finally {
      // the shared base session stays the active/default one for later suites
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
