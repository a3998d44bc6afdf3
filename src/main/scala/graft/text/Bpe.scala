package graft.text

import graft.core.Materialize.StableOps
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding merge induction (Sennrich et al. 2016,
  * arXiv:1508.07909) — the tokenizer-training counterpart of the
  * token-counting stack: learn the `rounds` highest-frequency adjacent
  * symbol merges from the corpus.
  *
  * Scale design — the iteration NEVER re-reads the corpus: the corpus
  * is scanned once into the frequency-weighted word VOCABULARY
  * (dictionary-sized — millions of distinct words at 100 TB, not
  * billions of documents), which is cached; each merge round is then
  * one pair-explode over the cached vocab into a map-side-combined
  * groupBy(pair) weighted count, a single-row top-1 collect
  * (deterministic tie-break: highest count, then lexicographic pair),
  * and a map-side greedy merge application via a codegen'd native
  * expression ([[BpeApplyMerge]]). Driver state is the merge list —
  * `rounds` entries.
  */
object Bpe {

  /** Character symbols of a word — Spark's split on the empty pattern
    * keeps a trailing empty string (limit = -1), which would poison
    * pair counts with ("c", "") pairs; filter it out. */
  private def chars(word: Column): Column =
    filter(split(word, ""), x => length(x) > 0)

  /** Learn `rounds` merges. Returns (rank, left, right, merged,
    * pair_count) — rank 1 is the most frequent pair before any merge,
    * rank k counts pairs AFTER the first k-1 merges were applied
    * greedily left-to-right (the standard sequential-merge
    * semantics). Stops early if no pair remains.
    *
    * Lineage stays BOUNDED at real vocabulary scale (32k merges): the
    * per-round projection chain over the cached vocab is truncated
    * every `checkpointEvery` rounds via an eager `localCheckpoint`
    * (plan becomes a LogicalRDD — analysis/codegen cost per round is
    * O(checkpointEvery), not O(r)), and the PREVIOUS checkpoint's
    * blocks are freed once the new one is materialized, so at most
    * one extra vocab-sized copy is ever live. */
  def merges(docs: DataFrame, textCol: String, rounds: Int,
             checkpointEvery: Int = 64): DataFrame = {
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val spark = docs.sparkSession
    val vocab = docs
      .select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(chars(col("word")).as("syms"), col("freq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // id of the live checkpoint's cached RDD (bounded-state bookkeeping:
    // localCheckpoint persists at the RDD layer, where Dataset.unpersist
    // cannot reach — freed via SparkContext by id)
    var liveCheckpoint: Option[Int] = None
    try {
      var syms = vocab
      val acc = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        if (r % checkpointEvery == 0) {
          val before = spark.sparkContext.getPersistentRDDs.keySet
          syms = syms.stable() // eager: materializes now
          val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
          liveCheckpoint.foreach(id =>
            spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
          liveCheckpoint = added.headOption
        }
        val top = syms
          .select(col("freq"), explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
          .groupBy(col("p").getField("0").as("l"),
            col("p").getField("1").as("r"))
          .agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("l").asc, col("r").asc)
          .limit(1).collect() // ONE row — bounded driver state
        if (top.isEmpty) exhausted = true
        else {
          val (l, rr, n) = (top.head.getString(0), top.head.getString(1),
            top.head.getLong(2))
          acc += ((r, l, rr, l + rr, n))
          syms = syms.select(
            BpeFunctions.applyMerge(col("syms"), l, rr).as("syms"), col("freq"))
          r += 1
        }
      }
      import spark.implicits._
      acc.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
    } finally {
      vocab.unpersist()
      liveCheckpoint.foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    }
  }

  /** Greedy left-to-right segmentation of every document's words under
    * a learned merge list — ONE map-side projection over the tokenized
    * corpus (no shuffle): the FULL ranked merge list ships as a single
    * reference object into the codegen'd [[BpeSegmentAll]] kernel,
    * which replays the rank-order greedy passes per word. A 32k-merge
    * production vocabulary is one expression, not a 32k-deep
    * projection chain — analysis/codegen cost is O(1) in the merge
    * count ([[graft.BpeSpec]] pins the plan bounded at 1k merges and
    * the output identical to the per-merge fold of [[segmentFold]]). */
  def segment(docs: DataFrame, textCol: String, idCol: String,
              merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
      .select(col(idCol),
        explode(BpeFunctions.applyMerges(chars(col("word")), merges)).as("token"))

  /** The reference formulation of [[segment]]: one [[BpeApplyMerge]]
    * projection per merge. Semantically identical (property-pinned);
    * kept as the oracle for the fused kernel — its per-merge plan
    * depth makes it the NON-scale path at real vocabulary sizes. */
  private[graft] def segmentFold(docs: DataFrame, textCol: String, idCol: String,
                                 merges: Seq[(String, String)]): DataFrame = {
    val base = docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
      .select(col(idCol), chars(col("word")).as("syms"))
    val merged = merges.foldLeft(base) { case (df, (l, r)) =>
      df.select(col(idCol), BpeFunctions.applyMerge(col("syms"), l, r).as("syms"))
    }
    merged.select(col(idCol), explode(col("syms")).as("token"))
  }
}

object BpeKernels {
  /** One greedy left-to-right non-overlapping merge pass: every
    * adjacent (left, right) becomes the concatenation; "aaa" under
    * (a,a) yields [aa, a]. */
  def applyMerge(arr: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && l.equals(arr.getUTF8String(i))
          && r.equals(arr.getUTF8String(i + 1))) {
        out += UTF8String.concat(l, r)
        i += 2
      } else {
        out += arr.getUTF8String(i)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** The FULL ranked merge list applied in one call: for each merge in
    * rank order, one greedy left-to-right non-overlapping pass —
    * exactly `merges.foldLeft(applyMerge)`, fused so a 32k-merge
    * vocabulary is a single kernel invocation instead of a 32k-deep
    * expression chain. A present-symbol set skips merges whose sides
    * cannot occur in this word (typical words touch a handful of the
    * 32k ranks), so the common cost is O(ranks) set probes + O(word)
    * work for the few applicable ranks. The set only ever GROWS
    * (consumed symbols stay as stale entries) — a stale hit costs one
    * wasted scan pass, never wrong output. */
  def applyMerges(arr: ArrayData, lefts: Array[UTF8String],
                  rights: Array[UTF8String]): ArrayData = {
    val n = arr.numElements()
    if (n < 2 || lefts.length == 0) {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) { out(i) = arr.getUTF8String(i); i += 1 }
      return new GenericArrayData(out)
    }
    val cur = new Array[UTF8String](n)
    val present = new java.util.HashSet[UTF8String](n * 2)
    var i = 0
    while (i < n) {
      cur(i) = arr.getUTF8String(i)
      present.add(cur(i))
      i += 1
    }
    var len = n
    var m = 0
    while (m < lefts.length && len > 1) {
      val l = lefts(m); val r = rights(m)
      if (present.contains(l) && present.contains(r)) {
        var read = 0; var write = 0
        while (read < len) {
          if (read + 1 < len && l.equals(cur(read)) && r.equals(cur(read + 1))) {
            cur(write) = UTF8String.concat(l, r)
            present.add(cur(write))
            read += 2
          } else {
            cur(write) = cur(read)
            read += 1
          }
          write += 1
        }
        len = write
      }
      m += 1
    }
    val out = new Array[Any](len)
    i = 0
    while (i < len) { out(i) = cur(i); i += 1 }
    new GenericArrayData(out)
  }
}

/** bpe_apply_merge(syms, left, right) -> array<string>: one greedy
  * merge pass (see [[BpeKernels.applyMerge]]); codegen'd static call,
  * merge literals shipped as reference objects. */
case class BpeApplyMerge(child: Expression, left: String, right: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_apply_merge"

  private lazy val leftU = UTF8String.fromString(left)
  private lazy val rightU = UTF8String.fromString(right)

  override def nullSafeEval(v: Any): Any =
    BpeKernels.applyMerge(v.asInstanceOf[ArrayData], leftU, rightU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLeft", leftU, classOf[UTF8String].getName)
    val rRef = ctx.addReferenceObj("bpeRight", rightU, classOf[UTF8String].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.text.BpeKernels.applyMerge($c, $lRef, $rRef)")
  }

  override protected def withNewChildInternal(c: Expression): BpeApplyMerge =
    copy(child = c)
}

/** bpe_segment_all(syms) -> array<string>: the ENTIRE ranked merge
  * list in one greedy rank-order replay (see [[BpeKernels
  * .applyMerges]]); the two UTF8String side arrays ship once as
  * codegen reference objects, so plan size and analysis cost are
  * independent of the vocabulary size. */
case class BpeSegmentAll(child: Expression, lefts: Seq[String], rights: Seq[String])
    extends UnaryExpression {
  require(lefts.length == rights.length,
    s"ragged merge list: ${lefts.length} lefts vs ${rights.length} rights")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_segment_all"

  private lazy val leftU = lefts.map(UTF8String.fromString).toArray
  private lazy val rightU = rights.map(UTF8String.fromString).toArray

  override def nullSafeEval(v: Any): Any =
    BpeKernels.applyMerges(v.asInstanceOf[ArrayData], leftU, rightU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[Array[UTF8String]].getName.stripSuffix(";")
      .replace("[L", "") + "[]"
    val lRef = ctx.addReferenceObj("bpeLefts", leftU, cls)
    val rRef = ctx.addReferenceObj("bpeRights", rightU, cls)
    defineCodeGen(ctx, ev,
      c => s"graft.text.BpeKernels.applyMerges($c, $lRef, $rRef)")
  }

  override protected def withNewChildInternal(c: Expression): BpeSegmentAll =
    copy(child = c)
}

object BpeFunctions {
  def applyMerge(syms: Column, left: String, right: String): Column =
    GraftBridge.column(BpeApplyMerge(GraftBridge.expression(syms), left, right))

  def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeSegmentAll(GraftBridge.expression(syms),
      merges.map(_._1), merges.map(_._2)))
}
