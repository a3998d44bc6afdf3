package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.IntegerType

/** `GraftExtensions` sizes Spark's compiled-class cache to the engine's
  * working set: a config-built session carries the constant, a value
  * set before the extension runs is kept, and a working set larger than
  * Spark's default of 100 classes is compiled once, not on every pass.
  * The torrent broadcast chunk size is set the same way. */
class CodegenCacheSpec extends SparkSuite {

  private val cacheKey = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
  private val blockKey = GraftExtensions.BroadcastBlockSizeKey

  /** Builds a fresh session over the shared context from config only
    * (the `ConfigInjectionSpec` pattern), with the context's value of
    * `key` set to `preset` while the extension runs, and returns the
    * session's value of `key`. The context's conf is restored after. */
  private def configBuiltValue(key: String, preset: Option[String]): String = {
    val base = spark
    val sc = base.sparkContext
    val before = sc.getConf.getOption(key)
    val extensionsBefore = sc.getConf.getOption("spark.sql.extensions")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    org.apache.spark.sql.GraftBridge.setContextConf(sc, key, preset)
    org.apache.spark.sql.GraftBridge.setContextConf(sc,
      "spark.sql.extensions", Some("graft.GraftExtensions"))
    try {
      val injected = SparkSession.builder().getOrCreate()
      assert(injected ne base, "expected a fresh session over the shared context")
      injected.conf.get(key)
    } finally {
      org.apache.spark.sql.GraftBridge.setContextConf(sc, "spark.sql.extensions",
        extensionsBefore)
      org.apache.spark.sql.GraftBridge.setContextConf(sc, key, before)
      // the shared base session stays the active/default one for later suites
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("a session built from spark.sql.extensions carries the codegen cache size") {
    assert(configBuiltValue(cacheKey, preset = None) ==
      GraftExtensions.CodegenCacheMaxEntries.toString)
  }

  test("a codegen cache size set before the extension runs is kept") {
    assert(configBuiltValue(cacheKey, preset = Some("512")) == "512")
  }

  test("a session built from spark.sql.extensions carries the broadcast block size") {
    assert(configBuiltValue(blockKey, preset = None) == GraftExtensions.BroadcastBlockSize)
  }

  test("a broadcast block size set before the extension runs is kept") {
    assert(configBuiltValue(blockKey, preset = Some("1m")) == "1m")
  }

  test("a working set above Spark's default 100 classes compiles once") {
    // one generated class per projection: `input + <literal>` inlines
    // the literal into the source, so each offset is a distinct class
    // (multiples of 7919, which no other suite compiles); 200 is above
    // Spark's default cache size and about corpus_release's working set
    val n = 200
    val exprs = (0 until n).map(i =>
      Seq(Add(BoundReference(0, IntegerType, nullable = false), Literal(7919 * (i + 1)))))
    def compilesToGenerateAll(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      exprs.foreach(GenerateUnsafeProjection.generate(_))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compilesToGenerateAll()
    assert(first >= n, s"expected $n distinct classes, compiled $first")
    val repeat = compilesToGenerateAll()
    assert(repeat == 0, s"repeating $n projections recompiled $repeat classes")
  }
}
