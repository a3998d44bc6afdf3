package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan for the named
  * queries (or all) so scan pruning, pushed filters, broadcast choices
  * and WholeStageCodegen spans can be reviewed.
  *
  *   sbt "runMain graft.tools.Explain /root/testdata/sf0.01 q02_region_revenue ..."
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
