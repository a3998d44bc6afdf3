package graft

import graft.core.PlanStats
import graft.similarity.Ann
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The IVFADC written-index path (q169): the codes are MATERIALIZED
  * hive-partitioned by coarse cell, and a probe must prune the FILE
  * LISTING to the probed cells — the `VcPartitionedSpec` numFiles pin
  * applied to ANN, converting the "probe = partition pruning at
  * 100 TB" claim from docstring prose to a measured artifact. Also
  * pins the round trip: the search over the written index is
  * row-identical to the in-memory [[Ann.ivfPqSearchTopK]] pipeline at
  * equal parameters (the q169 oracle gate replays q162's CTE chain).
  */
class IvfPqIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def emb = graft.core.Tables.load(spark, sf, "embeddings")

  private lazy val idx = {
    val path = java.nio.file.Files.createTempDirectory("ivfpq-spec")
      .toString + "/codes"
    Ann.ivfPqBuildIndex(emb, "vec_id", "embedding",
      kc = 4, m = 4, k = 4, iters = 2, path)
  }

  test("the written index carries the partitioned-Vc sidecar contract") {
    val yml = java.nio.file.Files.readString(
      java.nio.file.Paths.get(idx.path, "_vc.yml"))
    assert(yml.contains("partitioning:\n  - gcell"))
    assert(yml.contains("data_hash:"))
    // one directory per non-empty coarse cell
    val cellDirs = new java.io.File(idx.path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("gcell="))
    assert(cellDirs >= 2, s"expected >=2 cell partitions, saw $cellDirs")
  }

  test("a probe prunes the file listing to the probed cells") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
        val plan = df.queryExecution.executedPlan
        plan.execute().count()
        val scan = plan.collectLeaves().collectFirst {
          case s: FileSourceScanExec => s
        }.getOrElse(fail("no FileSourceScanExec leaf"))
        scan.metrics("numFiles").value
      }
      val all = scanFiles(
        graft.io.Vc.readPartitioned(spark, idx.path, verify = false))
      // the q169 probe: 4 queries x nprobe=2 — re-derive the pruned
      // read exactly as ivfPqSearchIndex does and measure its listing
      val probed = graft.io.Vc.readPartitioned(spark, idx.path, verify = false)
        .where(col("gcell").isin(0, 1))
      val pruned = scanFiles(probed)
      assert(all >= 3, s"expected >=3 cell files, saw $all")
      assert(pruned < all, s"probe did not prune: $pruned of $all files")
      assert(graft.io.Vc.prunesPartitions(probed))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("search over the written index is identical to the in-memory pipeline") {
    val queries = emb.where(col("vec_id") < 4)
    val fromIndex = Ann.ivfPqSearchIndex(idx, queries, "vec_id", "embedding",
        nprobe = 2, topK = 5)
      .orderBy("query_id", "rank").collect().toSeq
    val inMemory = Ann.ivfPqSearchTopK(queries, emb, "vec_id", "embedding",
        kc = 4, m = 4, k = 4, iters = 2, nprobe = 2, topK = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(fromIndex.nonEmpty)
    assert(fromIndex === inMemory)
  }

  test("append: frozen-state delta coding + arithmetic digest survive the full audit") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq-append")
      .toString + "/codes"
    val base = emb.where(col("vec_id") % 5 =!= 4)
    val delta = emb.where(col("vec_id") % 5 === 4)
    val built = Ann.ivfPqBuildIndex(base, "vec_id", "embedding",
      kc = 4, m = 4, k = 4, iters = 2, path)
    Ann.ivfPqAppendIndex(built, delta, "vec_id", "embedding")
    // the arithmetic digest update (old + delta, no base rescan) must
    // equal the full-scan digest the verifying reader recomputes
    val merged = graft.io.Vc.readPartitioned(spark, path, verify = true)
    assert(merged.count() === emb.count())
    // appended rows ≡ coding the delta under the frozen state; the
    // merged table ≡ coding the FULL corpus under the frozen state
    val expected = Ann.ivfPqCodeWithState(emb, "vec_id", "embedding",
        built.state)
      .orderBy("neighbor_id").collect().toSeq
    val got = merged
      .select(expected.head.schema.fieldNames.toIndexedSeq.map(col): _*)
      .orderBy("neighbor_id").collect().toSeq
    assert(got === expected)
  }

  test("delete: only affected partitions rewrite, subtracted digest survives the audit") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq-delete")
      .toString + "/codes"
    val built = Ann.ivfPqBuildIndex(emb, "vec_id", "embedding",
      kc = 4, m = 4, k = 4, iters = 2, path)
    val before = graft.io.Vc.readPartitioned(spark, path, verify = false)
    val total = before.count()
    // pick a victim id and note a cell it does NOT live in
    val victimCell = before.where(col("neighbor_id") === 7)
      .select("gcell").head().getInt(0)
    val otherCell = before.where(col("gcell") =!= victimCell)
      .select("gcell").head().getInt(0)
    val otherDir = new java.io.File(s"$path/gcell=$otherCell")
    val mtimes = otherDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    Ann.ivfPqDeleteFromIndex(spark, built, col("neighbor_id") === 7)
    // untouched cell's files were not rewritten
    assert(otherDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      === mtimes, "an unaffected partition was rewritten")
    // subtracted digest must equal the full-scan recomputation
    val after = graft.io.Vc.readPartitioned(spark, path, verify = true)
    assert(after.count() === total - 1)
    assert(after.where(col("neighbor_id") === 7).isEmpty)
  }

  test("delete: a fully-emptied cell's directory disappears and the audit still passes") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq-empty")
      .toString + "/codes"
    val built = Ann.ivfPqBuildIndex(emb, "vec_id", "embedding",
      kc = 4, m = 4, k = 4, iters = 2, path)
    val cells = graft.io.Vc.readPartitioned(spark, path, verify = false)
    val victim = cells.groupBy("gcell").count()
      .orderBy(col("count").asc, col("gcell").asc).head().getInt(0)
    Ann.ivfPqDeleteFromIndex(spark, built, col("gcell") === victim)
    assert(!new java.io.File(s"$path/gcell=$victim").exists(),
      "an emptied cell directory must be dropped")
    val after = graft.io.Vc.readPartitioned(spark, path, verify = true)
    assert(after.where(col("gcell") === victim).isEmpty)
  }

  test("compact: fragmented cells shrink to one file, untouched cells and digest survive") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq-compact")
      .toString + "/codes"
    val base = emb.where(col("vec_id") % 5 =!= 4)
    val built = Ann.ivfPqBuildIndex(base, "vec_id", "embedding",
      kc = 4, m = 4, k = 4, iters = 2, path)
    // two shard arrivals fragment their cells (base + 2 delta files)
    Ann.ivfPqAppendIndex(built, emb.where(col("vec_id") % 5 === 4
      && col("vec_id") % 2 === 0), "vec_id", "embedding")
    Ann.ivfPqAppendIndex(built, emb.where(col("vec_id") % 5 === 4
      && col("vec_id") % 2 === 1), "vec_id", "embedding")
    def filesPerCell: Map[String, Seq[String]] =
      new java.io.File(path).listFiles().filter(_.isDirectory)
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.startsWith("part-"))
            .map(_.getName).toSeq.sorted).toMap
    val before = filesPerCell
    val fragmentedCells = before.filter(_._2.size > 1).keySet
    assert(fragmentedCells.nonEmpty,
      "fixture must fragment at least one cell for the pin to bite")
    val untouched = before.filter(_._2.size <= 1).keys.toSeq
    val untouchedMtimes = untouched.map { cell =>
      cell -> new java.io.File(s"$path/$cell").listFiles()
        .map(f => f.getName -> f.lastModified).toMap
    }.toMap
    val sidecarBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_vc.yml"))
    val expected = graft.io.Vc.readPartitioned(spark, path, verify = false)
      .orderBy("neighbor_id").collect().toSeq
    Ann.ivfPqCompactIndex(spark, built)
    val after = filesPerCell
    // every fragmented cell is now ONE file; numFiles strictly shrank
    fragmentedCells.foreach { cell =>
      assert(after(cell).size === 1,
        s"$cell still holds ${after(cell).size} files")
    }
    assert(after.values.map(_.size).sum < before.values.map(_.size).sum)
    // untouched cells were not rewritten (names AND mtimes)
    untouched.foreach { cell =>
      assert(new java.io.File(s"$path/$cell").listFiles()
        .map(f => f.getName -> f.lastModified).toMap
        === untouchedMtimes(cell), s"untouched $cell was rewritten")
    }
    // sidecar byte-identical (the row set did not change, so neither
    // may the arithmetic digest) and the full verified audit passes
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_vc.yml")) === sidecarBefore)
    val got = graft.io.Vc.readPartitioned(spark, path, verify = true)
      .orderBy("neighbor_id").collect().toSeq
    assert(got === expected)
    // idempotent: a second pass finds nothing fragmented
    assert(graft.io.Vc.compactPartitioned(spark, path).isEmpty)
  }

  test("append loud-fails on a drifted delta schema") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq-drift")
      .toString + "/codes"
    val built = Ann.ivfPqBuildIndex(emb, "vec_id", "embedding",
      kc = 4, m = 4, k = 4, iters = 2, path)
    val bad = Ann.ivfPqCodeWithState(emb.limit(3), "vec_id", "embedding",
      built.state).withColumnRenamed("code_0", "code_x")
    val e = intercept[IllegalArgumentException] {
      graft.io.Vc.appendPartitioned(bad, path)
    }
    assert(e.getMessage.contains("does not match sidecar"))
  }

  test("the pruned probe read plans no shuffle on the corpus side") {
    // candidate generation = pruned scan + broadcast probes join; the
    // index side must reach the ADC scoring without an exchange
    val queries = emb.where(col("vec_id") < 4)
    val searched = Ann.ivfPqSearchIndex(idx, queries, "vec_id", "embedding",
      nprobe = 2, topK = 5)
    val plan = searched.queryExecution.executedPlan.toString
    // the only exchanges allowed are the partial-top-k groupBy and the
    // final rank window (+ broadcasts); the scored join itself is
    // broadcast; counted by PlanStats, as ScanCountSpec counts
    val shuffles = PlanStats.shuffles(searched)
    assert(shuffles <= 2, s"expected <=2 shuffles, plan had $shuffles:\n$plan")
  }
}
