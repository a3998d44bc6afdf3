package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a session is built. `Bench`, `Verify`, every
  * `graft.tools` main and the test suite get the shipped configuration
  * from here, so what is tested and inspected is what runs:
  *
  *  - master `local[n]` and n shuffle partitions, n from
  *    `SPARK_GRAFT_CPUS` (default: the JVM's available processors);
  *  - `spark.sql.extensions=graft.GraftExtensions`: the SQL functions,
  *    both optimizer rules, the codegen cache size and the local file
  *    system (`graft.io.LocalFs`);
  *  - a 64 MB broadcast threshold, the UTC session time zone, no UI;
  *  - log level WARN.
  *
  * `extra` adds settings for one caller (the test suite's warehouse
  * dir, an app name). Like the builder it wraps, a second call in a JVM
  * that already has a session returns that session.
  */
object GraftSession {

  /** Cores of the local master, read once from `SPARK_GRAFT_CPUS`. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = cpus, extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
