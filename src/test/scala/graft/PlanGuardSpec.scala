package graft

/** Plan-shape invariants over EVERY driver-contract query — the guard
  * that keeps future rounds from shipping a plan that works at test SF
  * and detonates at scale. A CartesianProduct node means a join lost
  * its keys (or a broadcast hint): the deliberate whole-relation
  * products in this codebase (ANN scoring, singleton dimension
  * products) plan as BroadcastNestedLoopJoin, never CartesianProduct.
  *
  * A query that opens a reference-snapshot file
  * ([[SparkEntry.ReferenceInputs]]) is left out, and reported, only
  * where that file is absent; every other query — and every query where
  * the snapshot is present — is planned, and a planning failure is an
  * offender. */
class PlanGuardSpec extends SparkSuite {

  test("no query plans a CartesianProduct") {
    val stale = SparkEntry.ReferenceInputs.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"ReferenceInputs names no such query: $stale")
    val dir = "/root/testdata/sf0.001"
    val unplannable = SparkEntry.ReferenceInputs.filter { case (_, path) =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(path))
    }
    unplannable.toSeq.sorted.foreach { case (name, path) =>
      info(s"$name not planned: reference file absent: $path")
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => unplannable.contains(name) }
      .flatMap { case (name, fn) =>
        try {
          // sparkPlan: the pre-AQE physical plan — what the optimizer
          // committed to from statistics, not what runtime luck fixed
          val plan = fn(spark, dir).queryExecution.sparkPlan.toString
          if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct")
          else None
        } catch {
          case e: Throwable => Some(s"$name: planning failed: ${e.getMessage}")
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
