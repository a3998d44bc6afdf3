package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop driver for one benchmark run.
  *
  * One client issues each query of the workload only after the previous
  * one finished. Every invocation is split into three timed phases around
  * public calls:
  *   - build: `SparkEntry.queries(name)(spark, dir)` returning its frame;
  *   - plan:  `df.queryExecution.executedPlan`;
  *   - exec:  a `noop` write, which computes every output column.
  *
  * Set-up is repeated once per input directory in `--data`: (re)start the
  * session, then one untimed warm pass over that directory. The timed
  * passes then run on the last directory until `--seconds` have passed
  * and at least `--min-passes` were made; once `--stop-after` seconds
  * have passed since JVM start, no pass begins beyond the fewest a result
  * needs.
  * With `--trace 1` the passes alternate between untraced and traced; the
  * traced ones record spans (invocation, phase, count) plus job, stage,
  * task and broadcast statistics from Spark listeners. After the passes,
  * outside every timed interval, the workload's oracle SQL is written to
  * `<work>/oracle_sql.json`, and the frame of each query's last timed
  * invocation is written once as parquet under `--check`.
  *
  * Everything is written as one JSON document to `--out`; the Python
  * side turns it into metrics.
  */
object Main {

  final case class Args(data: Seq[String], queries: Seq[String], seed: Long,
      seconds: Double, minPasses: Int, stopAfter: Double, trace: Boolean,
      cores: Int, out: String, check: String, workDir: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("data").split(",").toSeq, m("queries").split(",").toSeq,
      m("seed").toLong, m("seconds").toDouble, m("min-passes").toInt,
      m("stop-after").toDouble, m("trace") == "1",
      m("cores").toInt, m("out"), m("check"), m("work"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def nowNs(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // spans are timestamped on the listener clock (epoch ms) via one anchor
    val anchorNs = nowNs()
    val anchorEpochNs = System.currentTimeMillis() * 1000000L
    def epochNs(t: Long): Long = anchorEpochNs + (t - anchorNs)

    val trace = new Trace
    val invocations = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    // each query's frame from its latest successful timed invocation
    val lastFrame = mutable.Map.empty[String, DataFrame]
    var invId = 0
    var spark: SparkSession = null

    def span(inv: Int, parent: String, name: String, t0: Long, t1: Long): Unit =
      spans += Map("inv" -> inv, "parent" -> parent, "name" -> name,
        "start_ns" -> epochNs(t0), "end_ns" -> epochNs(t1))

    /** One invocation: build, plan, exec (and, traced, a count of the
      * same frame). A throw anywhere makes it a failure with no timing. */
    def invoke(q: String, dir: String, pass: Int, kind: String, traced: Boolean): Unit = {
      invId += 1
      val id = invId
      val sc = spark.sparkContext
      def phase[T](name: String)(body: => T): (T, Long, Long) = {
        if (traced) sc.setLocalProperty(Trace.SpanKey, s"$id/$name")
        val t0 = nowNs()
        try { val r = body; (r, t0, nowNs()) }
        finally sc.setLocalProperty(Trace.SpanKey, null)
      }
      val rec = mutable.LinkedHashMap[String, Any]("inv" -> id, "query" -> q,
        "pass" -> pass, "kind" -> kind, "traced" -> traced)
      try {
        val (df, b0, b1) = phase("build")(SparkEntry.queries(q)(spark, dir))
        val (_, p0, p1) = phase("plan")(df.queryExecution.executedPlan)
        val (_, e0, e1) = phase("exec")(
          df.write.format("noop").mode("overwrite").save())
        rec ++= Seq("build_s" -> secs(b1 - b0), "plan_s" -> secs(p1 - p0),
          "exec_s" -> secs(e1 - e0), "wall_s" -> secs(e1 - b0), "ok" -> true,
          "tracker_ms" -> df.queryExecution.tracker.phases.map {
            case (k, v) => k -> v.durationMs }.toMap)
        if (kind == "timed") lastFrame(q) = df
        if (traced) {
          val (_, c0, c1) = phase("count")(df.count())
          rec += "count_s" -> secs(c1 - c0)
          span(id, "", "invocation", b0, e1)
          Seq(("build", b0, b1), ("plan", p0, p1), ("exec", e0, e1), ("count", c0, c1))
            .foreach { case (n, s0, s1) => span(id, "invocation", n, s0, s1) }
        }
      } catch {
        case NonFatal(e) =>
          rec ++= Seq("ok" -> false, "error" ->
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          System.err.println(s"[perfbench] $q failed: ${rec("error")}")
      }
      invocations += rec.toMap
    }

    def runPass(dir: String, pass: Int, kind: String, traced: Boolean): Double = {
      val order = new Random(a.seed * 1000003L + pass).shuffle(a.queries)
      if (traced) trace.activePass = pass
      val t0 = nowNs()
      order.foreach(q => invoke(q, dir, pass, kind, traced))
      val dt = secs(nowNs() - t0)
      if (traced) trace.activePass = -1
      System.err.println(f"[perfbench] pass $pass ($kind${if (traced) ", traced" else ""}) $dt%.3f s")
      dt
    }

    // ---- set-up, repeated once per input directory ----
    var pass = 0
    val setups = a.data.zipWithIndex.map { case (dir, i) =>
      val t0 = nowNs()
      if (spark != null) spark.stop()
      spark = session(a)
      val sessionS =
        if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else secs(nowNs() - t0)
      val warmS = runPass(dir, pass, "warm", traced = false)
      pass += 1
      Map("dir" -> dir, "session_s" -> sessionS, "warm_s" -> warmS)
    }
    if (a.trace) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace.queryListener)
    }

    // ---- timed passes ----
    val dir = a.data.last
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // a traced run alternates untraced and traced passes, at least two each
    val minPasses = if (a.trace) math.max(4, a.minPasses + a.minPasses % 2) else a.minPasses
    // past --stop-after (seconds since JVM start) a run keeps only the
    // passes it needs for a result: one, or an untraced and a traced one
    val fewestPasses = if (a.trace) 2 else 1
    def late = (System.currentTimeMillis() - jvmStartMs) / 1e3 > a.stopAfter
    val tStart = nowNs()
    while ((passes.size < minPasses || secs(nowNs() - tStart) < a.seconds) &&
        !(late && passes.size >= fewestPasses)) {
      val traced = a.trace && passes.size % 2 == 1
      passes += Map("pass" -> pass, "traced" -> traced,
        "wall_s" -> runPass(dir, pass, "timed", traced))
      pass += 1
    }
    val measureS = secs(nowNs() - tStart)
    val rssMb = vmHwmMb()
    // the oracle SQL only needs the inputs: hand it over now, so the
    // oracle side of the output check runs while the outputs are written
    val oracle = a.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val tmp = Files.writeString(Paths.get(s"${a.workDir}/oracle_sql.json.tmp"), json.writeValueAsString(oracle))
    Files.move(tmp, Paths.get(s"${a.workDir}/oracle_sql.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    // ---- output check material, outside every timed interval ----
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    a.queries.foreach { q =>
      lastFrame.get(q) match {
        case None => checkErrors(q) = "no successful timed invocation"
        case Some(df) =>
          try df.coalesce(1).write.mode("overwrite").parquet(s"${a.check}/$q")
          catch { case NonFatal(e) => checkErrors(q) = String.valueOf(e.getMessage).take(300) }
      }
    }

    if (a.trace) trace.drain()
    val doc = Map(
      "cores" -> a.cores, "seed" -> a.seed,
      "setup" -> setups, "passes" -> passes.toSeq, "measure_s" -> measureS,
      "invocations" -> invocations.toSeq, "peak_rss_mb" -> rssMb,
      "check_errors" -> checkErrors.toMap,
      "spark_conf" -> scala.collection.immutable.TreeMap(spark.conf.getAll.toSeq: _*),
      "spans" -> spans.toSeq,
      "jobs" -> trace.jobs.asScala.toSeq, "stages" -> trace.stageRecords,
      "queries_traced" -> trace.queryRecords.asScala.toSeq)
    Files.writeString(Paths.get(a.out), json.writeValueAsString(doc))
    spark.stop()
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

object Trace {
  /** Local property naming the span (`<inv>/<phase>`) a job belongs to. */
  val SpanKey = "perfbench.span"
}

/** Listener side of the traced run. Everything stays in memory until the
  * run ends; per-task durations are kept per stage to compute skew. */
class Trace extends SparkListener {
  @volatile var activePass: Int = -1
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val queryRecords = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    val pass = activePass
    if (pass >= 0) {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStart.put(e.jobId, Map("job" -> e.jobId, "pass" -> pass,
        "span" -> span.orNull, "start_ms" -> e.time, "stages" -> e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    Option(jobStart.remove(e.jobId)).foreach { j =>
      jobs.add(j ++ Map("end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    if (stageJob.containsKey(e.stageId) && e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventMs = System.currentTimeMillis()
    val si = e.stageInfo
    if (stageJob.containsKey(si.stageId)) {
      val m = si.taskMetrics
      stages.put(si.stageId, Map("stage" -> si.stageId,
        "job" -> stageJob.get(si.stageId), "tasks" -> si.numTasks,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "output_bytes" -> m.outputMetrics.bytesWritten))
    }
  }

  /** Stage records, each with the max and median duration of its tasks. */
  def stageRecords: Seq[Map[String, Any]] =
    stages.values.asScala.toSeq.sortBy(_("stage").asInstanceOf[Int]).map { s =>
      val d = Option(taskMs.get(s("stage").asInstanceOf[Int]))
        .map(_.asScala.toVector.sorted).getOrElse(Vector.empty)
      if (d.isEmpty) s
      else s ++ Map("task_max_ms" -> d.last, "task_median_ms" -> median(d))
    }

  private def median(v: Vector[Long]): Double =
    if (v.size % 2 == 1) v(v.size / 2).toDouble
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2.0

  /** Broadcast sizes of every query execution finished during a traced
    * pass, read from the final (adaptive) plan. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val pass = activePass
      if (pass >= 0) {
        val sizes = try collectWithSubqueries(qe.executedPlan) {
          case b: BroadcastExchangeExec => b.metrics("dataSize").value
        } catch { case NonFatal(_) => Nil }
        queryRecords.add(Map("pass" -> pass, "func" -> funcName,
          "duration_ns" -> durationNs,
          "broadcast_bytes" -> (if (sizes.isEmpty) 0L else sizes.max)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Wait until the listener bus has delivered every pending event: no
    * job left open and no event for half a second (at most 30 s). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < deadline &&
      (!jobStart.isEmpty || System.currentTimeMillis() - lastEventMs < 500))
      Thread.sleep(50)
  }
}
