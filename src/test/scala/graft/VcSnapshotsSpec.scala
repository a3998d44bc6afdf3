package graft

import graft.core.Checks
import graft.io.VcSnapshots

class VcSnapshotsSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("snap").resolve("tbl").toString

  test("two merges create versions; re-running a merged batch is a no-op") {
    val dir = freshDir()
    val base = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("plot_id", "code", "v")
    assert(VcSnapshots.init(base, dir, Seq("plot_id")) === 1)

    val batch2 = Seq((3, "c", 30.0)).toDF("plot_id", "code", "v")
    assert(VcSnapshots.merge(spark, dir, batch2, Seq("plot_id"), Seq("plot_id"),
      batchId = "fieldwork-2021") === 2)
    val batch3 = Seq((4, "d", 40.0)).toDF("plot_id", "code", "v")
    assert(VcSnapshots.merge(spark, dir, batch3, Seq("plot_id"), Seq("plot_id"),
      batchId = "fieldwork-2022") === 3)

    // idempotent re-apply of batch #3: same version back, log unchanged
    val before = VcSnapshots.entries(dir)
    assert(VcSnapshots.merge(spark, dir, batch3, Seq("plot_id"), Seq("plot_id"),
      batchId = "fieldwork-2022") === 3)
    assert(VcSnapshots.entries(dir) === before)
    assert(VcSnapshots.entries(dir).map(_.version) === Seq(1, 2, 3))

    // current = all four rows; history still readable and hash-verified
    assert(VcSnapshots.read(spark, dir).count() === 4)
    val v1 = VcSnapshots.read(spark, dir, Some(1))
    assert(v1.select("plot_id").as[Int].collect().sorted.toSeq === Seq(1, 2))
    val v2 = VcSnapshots.read(spark, dir, Some(2))
    assert(v2.count() === 3)
  }

  test("guarded append refuses key overlap; replace=true upserts instead") {
    val dir = freshDir()
    VcSnapshots.init(Seq((1, "a"), (2, "b")).toDF("plot_id", "code"), dir, Seq("plot_id"))
    val overlapping = Seq((2, "B2"), (3, "c")).toDF("plot_id", "code")
    intercept[Checks.CheckFailed] {
      VcSnapshots.merge(spark, dir, overlapping, Seq("plot_id"), Seq("plot_id"), "clash")
    }
    // failed merge committed nothing
    assert(VcSnapshots.entries(dir).map(_.version) === Seq(1))
    val v = VcSnapshots.merge(spark, dir, overlapping, Seq("plot_id"), Seq("plot_id"),
      "patch-2022", replace = true)
    assert(v === 2)
    val got = VcSnapshots.read(spark, dir)
      .orderBy("plot_id").as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "a"), (2, "B2"), (3, "c")))
    // the pre-patch snapshot is untouched
    assert(VcSnapshots.read(spark, dir, Some(1)).orderBy("plot_id")
      .as[(Int, String)].collect().toSeq === Seq((1, "a"), (2, "b")))
  }

  test("merge re-checks key uniqueness on the merged result") {
    val dir = freshDir()
    VcSnapshots.init(Seq((1, "a")).toDF("plot_id", "code"), dir, Seq("plot_id"))
    val dupBatch = Seq((2, "x"), (2, "y")).toDF("plot_id", "code")
    intercept[Checks.CheckFailed] {
      VcSnapshots.merge(spark, dir, dupBatch, Seq("plot_id"), Seq("plot_id"), "dup")
    }
  }
}
