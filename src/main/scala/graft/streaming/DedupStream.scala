package graft.streaming

import graft.dedup.Dedup
import graft.functions.HashFunctions
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection — the continuous-ingestion form
  * of `Dedup.minhashCanonicalIdsMd5` (SURVEY.md §2.11 L2): every arriving
  * document is checked against everything seen so far WITHOUT re-scanning
  * the corpus. This is the shape a production pipeline actually runs:
  * the batch dedup bootstraps the corpus once, then ingestion keeps it
  * clean incrementally.
  *
  * Scale design (what makes this work at 100 TB of accumulated corpus):
  *  - State is keyed by LSH band bucket and holds SIGNATURES ONLY —
  *    k md5-slice MinHash minima + a canonical id per doc, never text.
  *    A doc's state footprint is ~`bands × (k+2) × 8` bytes,
  *    independent of doc size.
  *  - An arriving doc compares against ONE bucket's members per band
  *    (the same candidates the batch band join would produce), so
  *    per-doc work is O(bucket occupancy), not O(corpus).
  *  - Degenerate buckets (boilerplate that collides everything) are
  *    capped at `maxPerBucket`: past the cap a bucket stops absorbing
  *    new members — the exact analogue of the batch winnowing `maxDf`
  *    stop-fingerprint guard, trading recall on pathological keys for
  *    bounded state and latency.
  *
  * Match semantics mirror the batch path: a doc matches a bucket member
  * when their signatures agree on ≥ ceil(k·(tau−0.1)) components (the
  * batch prefilter's integer floor); the canonical id propagates
  * (a member stored with canonical=A hands A to its own matches, so
  * A->B->C chains collapse within a bucket); cross-band resolution is
  * min(canonical) per doc, done by [[resolveCanonical]] on the sink.
  */
object DedupStream {

  /** One bucket member: doc id, its resolved canonical, its signature. */
  final case class SigEntry(id: Long, canonical: Long, sig: Array[Long])

  /** Per-(doc, band) candidate verdict emitted by the stateful op. */
  final case class BandVerdict(id: Long, canonical: Long)

  /** Internal row shape between banding and the stateful op (public:
    * encoder codegen must be able to construct it). */
  final case class BandedSig(bucket: String, id: Long, sig: Array[Long])

  /** Reduce band verdicts to one (id, canonical_id) row per doc —
    * min across bands, batch aggregation on the sink output. */
  def resolveCanonical(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("id"))
      .agg(min(col("canonical")).as("canonical_id"))

  /** Stateful core: per-bucket arrival-order matching. Emits one
    * verdict per (doc, band); [[resolveCanonical]] reduces to one row
    * per doc. Works identically on a streaming or batch Dataset (the
    * q202 technique; see [[graft.dedup.Dedup.minhashCanonicalIdsMd5]]
    * for the batch form): signatures are md5-slice MinHash minima
    * computed PER ROW by the batch form's codegen kernel
    * ([[graft.functions.HashFunctions.md5MinhashSig]] — no pre-state
    * aggregation: Structured
    * Streaming allows one stateful op, and it must be the bucket
    * state), band keys concatenate each band's integer minima, and the
    * match rule is an INTEGER agreement floor (≥ ceil(k·(tau−0.1))
    * equal components) so the whole arrival-order state machine
    * replays in SQL: a doc's verdict in a bucket is the minimum id
    * reachable through match edges to earlier-id members (the
    * insertion-time canonical propagation collapses to exactly that
    * closure when one micro-batch carries the corpus), and
    * [[resolveCanonical]] takes the min across bands. Token-less docs
    * carry no signature and are dropped — the batch form's contract.
    *
    * State: k longs + a canonical per member, `maxPerBucket`-capped
    * buckets, O(bucket) work per arrival. */
  def bandVerdictsMd5(docs: DataFrame, textCol: String, idCol: String,
                      tauMicros: Long = 950000L, shingleSize: Int = 1,
                      k: Int = 16, bands: Int = 2,
                      maxPerBucket: Int = 1000): Dataset[BandVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k % 4 == 0 && k % bands == 0,
      s"k=$k must split into 32-bit md5 slices and bands=$bands")
    val agreeMin = Dedup.md5AgreeMin(k, tauMicros).toInt
    // per-row signature via the codegen md5 MinHash kernel (one digest
    // per (distinct unit, md5 group)) — the batch form's signature and
    // band keys, byte-identical to the DuckDB replay (Md5DedupSpec)
    val banded = docs
      .select(col(idCol).cast("long").as("id"),
        HashFunctions.md5MinhashSig(Dedup.md5UnitExpr(textCol, shingleSize), k)
          .as("ms"))
      .where(col("ms").isNotNull) // unit-less docs carry no signature
      .select(explode(Dedup.md5BandKeys(col("ms.sig"), k, bands)).as("bucket"),
        col("id"), col("ms.sig").as("sig"))
      .as[BandedSig]

    def agreeCount(a: Array[Long], b: Array[Long]): Int = {
      var same = 0; var i = 0
      while (i < a.length) { if (a(i) == b(i)) same += 1; i += 1 }
      same
    }

    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[BandedSig], state: GroupState[List[SigEntry]]) => {
          var members = state.getOption.getOrElse(Nil)
          var nMembers = members.size
          val out = List.newBuilder[BandVerdict]
          // micro-batch arrival order is not defined across partitions;
          // sorting by id makes replay deterministic and matches the
          // batch path's min-id canonical convention
          rows.toSeq.sortBy(_.id).foreach { row =>
            val hit = members.iterator
              .filter(m => agreeCount(m.sig, row.sig) >= agreeMin)
              .reduceOption((a, b) => if (a.canonical <= b.canonical) a else b)
            val canonical = hit.map(_.canonical).getOrElse(row.id)
            out += BandVerdict(row.id, canonical)
            if (nMembers < maxPerBucket) {
              members = SigEntry(row.id, canonical, row.sig) :: members
              nMembers += 1
            }
          }
          state.update(members)
          out.result().iterator
        })
  }
}
