package graft

import graft.graph.ConnectedComponents

class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  // every semantic case runs through BOTH execution paths: the
  // driver-side union-find (small graphs after the adjacency count)
  // and the distributed fixpoint (forced with maxLocalEdges = 0)
  private def bothPaths(edges: Seq[(Long, Long)],
                        maxIter: Int = 20): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    val local = ConnectedComponents.run(df, maxIter = maxIter)
      .as[(Long, Long)].collect().toMap
    val dist = ConnectedComponents.run(df, maxIter = maxIter, maxLocalEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(local === dist, s"local union-find and distributed fixpoint disagree")
    local
  }

  test("a multi-hop chain collapses to one component (the global min)") {
    // path 5-4-3-2-1: min label needs 4 propagation rounds
    val got = bothPaths(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("disjoint components keep separate minima") {
    val got = bothPaths(Seq((2L, 7L), (7L, 4L), (10L, 11L), (20L, 20L)))
    // self-loop-only node 20 is dropped (no real edge)
    assert(got === Map(2L -> 2L, 4L -> 2L, 7L -> 2L, 10L -> 10L, 11L -> 10L))
  }

  test("edge direction, duplicates, and self-loops do not matter") {
    val got = bothPaths(Seq((1L, 3L), (3L, 1L), (1L, 3L), (3L, 3L), (3L, 9L)))
    assert(got === Map(1L -> 1L, 3L -> 1L, 9L -> 1L))
  }

  test("star graph resolves in one round regardless of arm count") {
    val got = bothPaths((2L to 30L).map(i => (i, 1L)))
    assert(got.values.toSet === Set(1L) && got.size === 30)
  }

  test("both paths agree on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    bothPaths(edges) // equality asserted inside
  }

  test("hitting the iteration bound fails loudly, not silently partial") {
    val chain = (1L until 12L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      ConnectedComponents.run(chain.toDF("src", "dst"),
        maxIter = 3, maxLocalEdges = 0)
        .as[(Long, Long)].collect()
    }
    // and with enough rounds the same chain converges
    assert(bothPaths(chain).values.toSet === Set(1L))
  }

  test("dedup canonical ids use the full closure: a 4-doc chain is one cluster") {
    // identical texts force one bucket + full verification; the point
    // here is the END contract — every member maps to the cluster min —
    // exercised through the real minhash path
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta"),
      (13L, "alpha beta gamma delta epsilon zeta eta theta"),
      (99L, "totally different content with no overlap at all"))
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup
      .minhashCanonicalIdsMd5(docs, "text", "doc_id", tauMicros = 900000L)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 99L -> 99L))
  }
}
