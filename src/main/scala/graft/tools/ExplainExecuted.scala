package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Post-AQE plan auditor: RUNS the named queries and prints the final
  * executed plan (after adaptive re-optimization), plus the wall time —
  * the static `Explain` shows what Catalyst planned, this shows what
  * AQE actually ran (broadcast conversions, coalesced partitions).
  *
  *   sbt "runMain graft.tools.ExplainExecuted /root/testdata/sf0.1 q156_contrastive_triplets"
  */
object ExplainExecuted {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q01_pricing_summary")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t0 = System.nanoTime()
        // Execute THIS QueryExecution (df.count() would build and run a
        // separate aggregate QE, leaving df's own plan un-executed — it
        // would print AdaptiveSparkPlan isFinalPlan=false, the PRE-AQE
        // plan). collect() drives df.queryExecution itself, so the
        // printed plan is what AQE actually ran.
        val nRows = df.collect().length
        println(f"wall: ${(System.nanoTime() - t0) / 1e9}%.2fs ($nRows rows)")
        println(df.queryExecution.executedPlan.toString)
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
