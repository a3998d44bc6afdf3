package graft

import graft.functions.{CosineSimilarity, HyperplaneLsh}
import graft.geo.{CrsTransform, PointInRing, RingArea, WkbToRing}
import graft.io.LocalFs
import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.SparkSessionExtensions

/** SQL surface for the engine's custom expressions: registered through
  * `SparkSessionExtensions` (spark.sql.extensions=graft.GraftExtensions,
  * which `graft.core.GraftSession` sets), so
  * `spark.sql("SELECT cosine_similarity(a, b) ...")` works exactly like
  * the Column API. All functions plan to the same native expressions —
  * no UDF wrapping, full codegen where the expression provides it.
  *
  * Installed through the config, it also sizes Spark's compiled-class
  * cache to the engine's working set (see `CodegenCacheMaxEntries`),
  * keeps broadcast chunks out of G1's humongous regions (see
  * `BroadcastBlockSize`), and installs the fork-free local file system
  * on the SparkContext's Hadoop conf: `fs.file.impl` = [[graft.io.LocalFs]] and
  * `fs.AbstractFileSystem.file.impl` = [[graft.io.LocalFsContext]], each
  * unless the user set it (see `LocalFs.install`). Hadoop caches
  * `FileSystem` instances JVM-wide, by scheme and user, not by conf: a
  * JVM that created a `file://` FileSystem before its first session
  * with these extensions keeps that FileSystem. `FileContext` is not
  * cached, so its twin takes effect in any case.
  *
  * Optimizer rules: [[graft.rules.JaccardLengthPruning]],
  * [[graft.rules.SpatialJoinRewrite]] and [[graft.rules.ExactRound]]
  * (`round(x)` on a double without `BigDecimal`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // null on the `withExtensions` path, which runs before any context
    Option(SparkEnv.get).foreach { env =>
      env.conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        GraftExtensions.CodegenCacheMaxEntries.toString)
      env.conf.setIfMissing(GraftExtensions.BroadcastBlockSizeKey,
        GraftExtensions.BroadcastBlockSize)
      LocalFs.install(SparkContext.getOrCreate().hadoopConfiguration)
    }
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    e.injectOptimizerRule(_ => graft.rules.JaccardLengthPruning)
    e.injectOptimizerRule(_ => graft.rules.SpatialJoinRewrite)
    e.injectOptimizerRule(_ => graft.rules.ExactRound)
  }
}

object GraftExtensions {

  /** Entries kept in `CodeGenerator`'s compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). One
    * corpus_release session generates about 210 distinct classes, an
    * mhq_etl session about 91 and one pass of all 231 queries about
    * 2,400. The cache evicts least-recently-used classes, so a pass over
    * more classes than it holds recompiles nearly all of them on every
    * pass (at 100 for corpus_release, at 1024 for the full suite). An
    * entry holds about 5-8 KB of source and 2-3 KB of bytecode; the cap
    * bounds what is retained, nothing is preallocated.
    *
    * `apply` sets it on the SparkContext's conf with `setIfMissing`, so
    * it flows into every session's conf. Two limits:
    *  - a value the user set (spark-submit --conf, builder config) wins;
    *  - Spark sizes the cache once per JVM, when `CodeGenerator` is first
    *    initialized, so a JVM that ran codegen before its first session
    *    with these extensions keeps Spark's 100.
    * `withExtensions` calls `apply` before any context exists; that path
    * leaves the conf untouched. */
  val CodegenCacheMaxEntries = 4096

  /** Chunk size of a torrent broadcast (`spark.broadcast.blockSize`,
    * Spark's default 4m). `TorrentBroadcast` allocates one full chunk
    * per broadcast, each stage's task binary included; at 4 MB every
    * chunk is a G1 humongous object, and in a profiled benchmark run
    * these chunks were about half of the allocations of 1 MB or more.
    * 256 KB is under half of G1's smallest region (1 MB), so no chunk
    * is humongous; a large broadcast is cut into more chunks instead.
    *
    * `apply` sets it on the SparkContext's conf with `setIfMissing`, so
    * a value the user set wins. `TorrentBroadcast` reads the key from
    * `SparkEnv.get.conf` on each broadcast, so it takes effect from the
    * first broadcast after the extensions ran. */
  val BroadcastBlockSize = "256k"
  val BroadcastBlockSizeKey = "spark.broadcast.blockSize"

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def doubleArg(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  private def stringArg(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (es => CosineSimilarity(es(0), es(1))),
    "hyperplane_lsh" -> (es => HyperplaneLsh(es(0), intArg(es(1), "bits"))),
    "point_in_ring" -> (es => PointInRing(es(0), es(1), es(2))),
    "point_in_rings" -> (es => graft.geo.PointInRings(es(0), es(1), es(2))),
    "wkb_to_ring" -> (es => WkbToRing(es(0))),
    "wkb_to_rings" -> (es => graft.geo.WkbToRings(es(0))),
    "ring_area" -> (es => RingArea(es(0))),
    "rings_area" -> (es => graft.geo.RingsArea(es(0))),
    "bbox_cells" -> (es => graft.geo.RingsBboxCells(es(0), doubleArg(es(1), "cellSize"))),
    "lambert72_to_wgs84" -> (es => CrsTransform(es(0), es(1), toWgs84 = true)),
    "wgs84_to_lambert72" -> (es => CrsTransform(es(0), es(1), toWgs84 = false)),
    "pcm_windows" -> (es => graft.functions.PcmWindowFeatures(es(0),
      intArg(es(1), "window"))),
    "long_dot" -> (es => graft.functions.LongDot(es(0), es(1))),
    "double_dot" -> (es => graft.functions.DoubleDot(es(0), es(1))),
    "long_intersect_count" -> (es => graft.functions.LongIntersectCount(es(0), es(1))),
    "squared_l2_micros" -> (es => graft.functions.SquaredL2Micros(es(0), es(1))),
    "vec_sub" -> (es => graft.functions.VecSub(es(0), es(1))),
    "word_spans" -> (es => graft.functions.WordSpans(es(0), intArg(es(1), "w"))),
    "winnow_picks_md5" -> (es => graft.functions.WinnowPicksMd5(es(0),
      intArg(es(1), "k"), intArg(es(2), "t"))),
    "md5_simhash32" -> (es => graft.functions.Md5SimHash32(es(0))),
    "md5_minhash_sig" -> (es => graft.functions.Md5MinhashSig(es(0),
      intArg(es(1), "k"))),
    "int_counts" -> (es => graft.functions.IntCounts(es(0), intArg(es(1), "k"))),
    "sign_bits" -> (es => graft.functions.SignBits(es(0))),
    "bpe_apply_merge" -> (es => graft.text.BpeApplyMerge(es(0),
      stringArg(es(1), "left"), stringArg(es(2), "right"))),
    "gray_png" -> (es => graft.functions.GrayPngExpr(es(0), es(1), es(2))),
    "image_meta" -> (es => graft.functions.ImageMetaExpr(es(0))))
}
