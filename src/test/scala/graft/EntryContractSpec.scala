package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency: the correctness gate compares each
  * `SparkEntry.queries` entry against `SparkEntry.oracleSql` BY KEY, so
  * a typo'd oracle key silently downgrades a query to a rows-only
  * check. This spec pins the mapping: every oracle key has a query,
  * and the un-oracled remainder is EXACTLY the documented rows-only
  * set (xxhash64-seeded bucketing or approximate ops DuckDB cannot
  * replay, each covered by a named spec). Growing that set is a
  * deliberate act — update the list here and in
  * `.claude/skills/verify/SKILL.md` together. */
class EntryContractSpec extends AnyFunSuite {

  // Round 17 shrank this set from 10 to 4 by flipping the signature
  // family to md5 arithmetic (q38/q44/q45/q47/q105/q106 — the q202
  // technique). The remainder is irreducible: each op's hashing is
  // SEEDED JVM-side (Random hyperplanes / sketch seeds) or the sketch
  // itself has no SQL replay, so no DuckDB expression can reproduce
  // the bucketing — the named spec gates each instead.
  private val rowsOnly = Set(
    "q51_ann_lsh",           // seeded random hyperplanes, recall-gated (RecallSpec)
    "q52_embedding_neardups",// seeded random hyperplanes, recall-gated (RecallSpec)
    "q54_ann_ivf",           // iterative k-means coarse quantizer (RecallSpec; exact scores vs q50)
    "q93_sketch_stats")      // HLL/CMS sketches, error-bound (TemporalSketchSpec)

  test("declaration names are unique") {
    // `queries` and `oracleSql` are maps built from the concatenated
    // family declarations; a name declared twice would keep one build
    // and silently drop the other
    val names = SparkEntry.declarations.map(_.name)
    val repeated = names.diff(names.distinct)
    assert(repeated.isEmpty, s"declared more than once: ${repeated.distinct}")
    assert(names.distinct.size === 231)
  }

  test("every oracleSql key names an implemented query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("the un-oracled queries are exactly the documented rows-only set") {
    val unOracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unOracled === rowsOnly,
      s"undocumented rows-only queries: ${unOracled -- rowsOnly}; " +
        s"stale rows-only entries: ${rowsOnly -- unOracled}")
  }

  test("oracle SQL references only harness tables or CTEs, never absolute paths") {
    // the driver registers sf parquet as views by bare table name; a
    // path would pass locally and break in the driver's compare
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!sql.contains("/root/"), s"$k oracle hardcodes a path")
      assert(!sql.toLowerCase.contains(".parquet"), s"$k oracle reads parquet directly")
    }
  }
}
