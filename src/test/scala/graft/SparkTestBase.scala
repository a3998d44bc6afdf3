package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single test JVM). Built by the shipped
  * `GraftSession`, so tests plan and run with the extensions, optimizer
  * rules and settings that ship; only the core count and a throwaway
  * warehouse dir are the suite's own. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession(cores = 4, extra = Map(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Each test runs with the shared session active. Spark sizes its
    * compiled-class cache once per JVM, from the active session's conf
    * at the first compile; with the session active, a test that
    * generates code before any query still gets the size
    * `GraftExtensions` sets, whatever order the suites run in. */
  override def withFixture(test: NoArgTest): Outcome = {
    SparkSession.setActiveSession(spark)
    super.withFixture(test)
  }

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
