package graft.tools

import graft.SparkEntry
import graft.core.{GraftSession, PlanStats}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FormattedMode

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Plan and job inspector for driver-contract queries, on the shipped
  * session (`GraftSession`):
  *
  *   sbt "runMain graft.tools.Inspect <mode> <sfDir> [query...]"
  *
  *  - `explain`: the formatted physical plan Catalyst builds (before AQE);
  *  - `executed`: runs the query, then prints the wall time and the final
  *    plan AQE ran (broadcast conversions, coalesced partitions);
  *  - `scans`: `PLANCHECK <q> SCANS=<n> SHUFFLES=<m>`, counted by
  *    `PlanStats`, the code the plan-shape specs pin;
  *  - `jobs`: after one warm run, each Spark job's start offset, wall
  *    time and call site ("collect at TokenShards.scala:253"); time
  *    between jobs is driver work (planning, codegen, local collects).
  *
  * With no query named, every query is inspected. A query that fails is
  * reported and the rest still run; the exit code is then 1.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || !Set("explain", "executed", "scans", "jobs")(args(0))) {
      System.err.println(
        "usage: graft.tools.Inspect <explain|executed|scans|jobs> <sfDir> [query...]")
      sys.exit(2)
    }
    val Array(mode, sfDir) = args.take(2)
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
    lazy val jobs = { val l = new JobLog; spark.sparkContext.addSparkListener(l); l }
    def build(q: String) = SparkEntry.queries(q)(spark, sfDir)
    def drain(): Unit = GraftBridge.waitListenerBusEmpty(spark.sparkContext)

    val failed = names.filterNot { q =>
      try {
        mode match {
          case "explain" =>
            println(s"\n=== $q ===\n" +
              build(q).queryExecution.explainString(FormattedMode))
          case "executed" =>
            val df = build(q)
            val t0 = System.nanoTime()
            // collect() drives df's own QueryExecution, so its executed
            // plan is the final one; count() would plan a separate query
            val n = df.collect().length
            println(f"\n=== $q ===\nwall: ${(System.nanoTime() - t0) / 1e9}%.2fs " +
              s"($n rows)\n${df.queryExecution.executedPlan}")
          case "scans" =>
            val df = build(q)
            println(s"PLANCHECK $q SCANS=${PlanStats.scans(df)} " +
              s"SHUFFLES=${PlanStats.shuffles(df)}")
          case "jobs" =>
            build(q).count()
            drain()
            jobs.ended.clear()
            val t0 = System.currentTimeMillis()
            val n = build(q).count()
            val total = (System.currentTimeMillis() - t0) / 1e3
            drain()
            val js = jobs.ended.asScala.toSeq.sortBy(_._1)
            println(f"== $q rows=$n total=$total%.2f s jobs=${js.size} " +
              f"in-job=${js.map { case (_, s, e, _) => e - s }.sum / 1e3}%.2f s")
            js.foreach { case (id, s, e, site) =>
              println(f"  job $id%4d  @${(s - t0) / 1e3}%6.2f  ${(e - s) / 1e3}%6.2f s  $site")
            }
        }
        true
      } catch { case NonFatal(e) =>
        println(s"$q failed: $e")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Id, start and end (epoch ms) and call site of every ended job. */
  private final class JobLog extends SparkListener {
    private val started = new ConcurrentHashMap[Int, (Long, String)]()
    val ended = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()

    override def onJobStart(js: SparkListenerJobStart): Unit =
      started.put(js.jobId, (js.time, Option(js.properties.getProperty("callSite.short"))
        .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("?")))

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (t0, site) =>
        ended.add((je.jobId, t0, je.time, site))
      }
  }
}
