package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // dev aid: SPARK_GRAFT_VERIFY_ONLY=regex restricts the query set
    // (the harness never sets it, so driver runs always cover everything)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // Write a one-row error marker instead of skipping: a missing
        // result dir makes the driver's compare drop the query SILENTLY
        // (round 10 lost 10 events-family queries that way); a marker
        // row forces a visible rows/schema mismatch in CORRECTNESS.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(s"VERIFY_ERROR: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(500)}")
            .toDF("verify_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          // If even the marker write fails (e.g. the session itself is
          // down), fall back to a non-Spark sentinel file so the result
          // dir is never silently absent, and say so on stderr.
          System.err.println(s"[verify] $name marker write ALSO failed: ${e2.getMessage}")
          try {
            Files.createDirectories(Paths.get(s"$outDir/$name"))
            Files.writeString(Paths.get(s"$outDir/$name/VERIFY_ERROR.txt"),
              s"query failed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}\n" +
                s"marker write failed: ${Option(e2.getMessage).getOrElse(e2.getClass.getName)}\n")
          } catch { case e3: Throwable =>
            System.err.println(s"[verify] $name sentinel write failed too: ${e3.getMessage}")
          }
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
