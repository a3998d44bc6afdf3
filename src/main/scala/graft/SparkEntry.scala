package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (the key names cite the §2 row ids they cover), plus the
  * training-data-pipeline operator suite (dedup / similarity / text /
  * multimodal / streaming-batch-twin queries) over the `documents`,
  * `embeddings` and `events` tables.
  *
  * Each query is declared once, with its DuckDB oracle SQL, in a family
  * object under `graft.queries`; `queries`, `oracleSql` and
  * `ReferenceInputs` are derived from those declarations.
  *
  * Determinism contract (needed for hash-exact DuckDB oracle parity):
  *   - money sums use the exact-cents idiom (Aggs.sumExact) — integer
  *     sums are accumulation-order independent;
  *   - float outputs are rounded to 6 decimals with identical formula
  *     shape on both sides;
  *   - every ranking has a total order (unique-id tiebreaker), and
  *     similarity ranks on the ROUNDED score.
  */
object SparkEntry {

  /** Every query declaration, family by family. */
  val declarations: Seq[Query] =
    OperatorQueries.all ++ LsviQueries.all ++ FieldworkQueries.all ++
      DedupQueries.all ++ CurationQueries.all ++ ReleaseQueries.all ++
      StreamingQueries.all

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declarations.map(q => q.name -> q.build).toMap

  /** DuckDB-equivalent SQL per query (driver correctness gate). Omitted
    * for the seeded-hyperplane / sketch queries DuckDB cannot replay
    * (rows-only check there; their EXACT verifiers q46/q50/q53 are
    * oracle-checked). */
  val oracleSql: Map[String, String] =
    declarations.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Query name → the published reference-snapshot file it opens. These
    * queries read that file as well as (or instead of) the sf dir, so
    * they can be planned only where the snapshot is present; the
    * snapshot is not part of the repository. */
  val ReferenceInputs: Map[String, String] =
    declarations.flatMap(q => q.reference.map(q.name -> _)).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
}
