package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single test JVM). It is the first session in
  * the forked test JVM, so it sizes the codegen class cache the way the
  * shipped `GraftExtensions` does. */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      GraftExtensions.CodegenCacheMaxEntries.toLong)
    .getOrCreate()
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Cancels the calling test, naming the first absent path, unless
    * every path exists. For tests whose input or expected values are
    * files of the published reference snapshot, which the repository
    * does not hold: there the test runs unchanged, elsewhere it reports
    * as canceled rather than as a file-not-found failure. */
  protected def assumeFiles(paths: String*): Unit =
    paths.foreach { p =>
      val present = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
      assume(present, s"reference file absent: $p")
    }
}
