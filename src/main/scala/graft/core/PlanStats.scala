package graft.core

import org.apache.spark.sql.DataFrame

/** The plan counts that the plan-shape specs pin and
  * `graft.tools.Inspect scans` prints. */
object PlanStats {

  private val ParquetScan = "file:[^\\]\\s]*/(\\w+)\\.parquet".r

  /** Parquet file scans in the physical plan before AQE: a subtree that
    * is planned twice scans its base table twice. */
  def scans(df: DataFrame): Int =
    ParquetScan.findAllMatchIn(df.queryExecution.sparkPlan.toString).size

  /** Non-broadcast exchanges in the executed plan. */
  def shuffles(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(plan).size - "BroadcastExchange".r.findAllIn(plan).size
  }
}
