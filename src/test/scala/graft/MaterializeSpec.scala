package graft

import graft.core.Materialize
import org.apache.spark.CheckpointDirAccess
import org.apache.spark.sql.functions._

/** Pins the cluster-safety switch of [[graft.core.Materialize]] (r22):
  * the default path is the historical eager localCheckpoint; with
  * `spark.graft.checkpoint.reliable=true` and a checkpoint dir the
  * same call produces a RELIABLE checkpoint (files under the dir, so
  * an executor loss cannot kill the lineage-truncated frame); rows are
  * identical on every path. */
class MaterializeSpec extends SparkSuite {

  private def frame() =
    spark.range(0, 100).select(col("id"), (col("id") * 3).as("y"))

  test("default path preserves rows and truncates lineage eagerly") {
    val out = Materialize.stable(frame())
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (0L until 100L).map(i => (i, i * 3)))
    // localCheckpoint materializes at the RDD layer
    assert(out.rdd.toDebugString.contains("CachedPartitions") ||
      out.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }

  test("reliable mode writes checkpoint files under the configured dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val out = Materialize.stable(frame())
      assert(out.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no reliable checkpoint files under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }

  test("reliable mode without a dir stays correct (falls back local)") {
    // reliable asked for, no dir anywhere -> the call must still
    // materialize correctly rather than throw. The shared context may
    // already carry a dir (the test above sets one), so it is cleared
    // for the body and the precondition asserted, never assumed.
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.unset("spark.graft.checkpoint.dir")
    try CheckpointDirAccess.withoutCheckpointDir(spark.sparkContext) {
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val out = Materialize.stable(frame())
      assert(out.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
      // the fallback is a local checkpoint: no dir was set on the way
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
    } finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("chainable .stable() is the same operation") {
    import graft.core.Materialize.StableOps
    assert(frame().stable().count() === 100L)
  }
}
