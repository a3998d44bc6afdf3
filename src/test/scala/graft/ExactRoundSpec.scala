package graft

import graft.functions.JaccardFunctions
import graft.rules.{ExactRound, JaccardLengthPruning, RoundHalfUpDouble}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

object ExactRoundSpec {

  /** Doubles where HALF_UP rounding is hard: signed zeros, NaN, ±Inf,
    * subnormals, ties `k + 0.5` with their neighbours, the largest double
    * below 0.5, values at and above 2^52 and `MaxValue`. */
  val edges: Array[Double] = {
    val ties = (0 until 1000).map(_ + 0.5) ++
      (1 to 51).flatMap(p => Seq(math.pow(2, p) - 0.5, math.pow(2, p) + 0.5))
    val tieAndNeighbours = ties.flatMap(t => Seq(t, math.nextUp(t), math.nextDown(t)))
    val special = Seq(0.0, 0.49999999999999994, 0.5, 1.0, Double.NaN,
      Double.PositiveInfinity, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      1e-310, math.nextDown(java.lang.Double.MIN_NORMAL), math.pow(2, 52),
      math.pow(2, 52) + 1, math.pow(2, 53), math.pow(2, 53) + 2, 1e16, 1e300,
      Double.MaxValue, 1.005 * 100, 2.675 * 100, 0.285 * 100)
    (tieAndNeighbours ++ special).flatMap(d => Seq(d, -d)).toArray
  }

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The i-th test double: the edge cases first, then a deterministic
    * mix of random bit patterns, ties and their neighbours, cents-scaled
    * money values and uniform values of every magnitude up to 2^55. */
  def gen(i: Long): Double =
    if (i < edges.length) edges(i.toInt)
    else {
      val h = mix(i)
      val g = mix(h)
      val sign = if ((g & 1L) == 0L) 1.0 else -1.0
      val frac = (g >>> 11) / 9007199254740992.0 // uniform in [0, 1)
      def tie = math.floor(frac * math.pow(2, ((h >>> 8) % 52).toDouble)) + 0.5
      ((h >>> 61).toInt: @unchecked) match {
        case 0 | 1 => java.lang.Double.longBitsToDouble(g)
        case 2 => sign * tie
        case 3 => sign * math.nextUp(tie)
        case 4 => sign * math.nextDown(tie)
        case 5 => sign * (((h >>> 8) % 1000000000L) / 100.0) * 100 // Shared.cents
        case 6 => sign * frac * math.pow(2, ((h >>> 8) % 61).toDouble - 5)
        case 7 => sign * (0.5 + (frac - 0.5) * math.pow(2, -((h >>> 8) % 53).toDouble))
      }
    }
}

/** [[ExactRound]] rewrites `round(x)` on a double into
  * [[RoundHalfUpDouble]]: same bits as Spark's `round` on every path,
  * fires only where it is exact, and keeps [[JaccardLengthPruning]]
  * pruning under `round(jaccard, 0)`. */
class ExactRoundSpec extends SparkSuite {
  import ExactRoundSpec._
  import spark.implicits._

  private val excluded = SQLConf.OPTIMIZER_EXCLUDED_RULES.key

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def hasRewrite(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[RoundHalfUpDouble])))

  private def rewritten(df: DataFrame): Boolean = hasRewrite(df.queryExecution.optimizedPlan)

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("the kernel and its generated code give Spark's round bits on the edge cases and 2M more") {
    val in = BoundReference(0, DoubleType, nullable = false)
    val spark0 = Round(in, Literal(0))
    val ours = RoundHalfUpDouble(in)
    val generated = GenerateUnsafeProjection.generate(Seq(ours: Expression))
    val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(Seq(DoubleType))
    val mismatches = (0L until edges.length + 2000000L).iterator.map(gen).filter { d =>
      row.setDouble(0, d)
      val want = bits(spark0.eval(row).asInstanceOf[Double])
      bits(ours.eval(row).asInstanceOf[Double]) != want ||
        bits(generated(row).getDouble(0)) != want
    }.take(5).toList
    assert(mismatches.isEmpty, s"round mismatches: ${mismatches.mkString(", ")}")
    // the trap of the signed form: Spark gives +0.0, not -1 or -0.0
    assert(bits(RoundHalfUpDouble.round(-0.49999999999999994)) == bits(0.0))
    assert(bits(RoundHalfUpDouble.round(-0.0)) == bits(0.0))
    assert(RoundHalfUpDouble(BoundReference(0, DoubleType, nullable = true))
      .eval(InternalRow(null)) == null)
  }

  test("a frame of 10M doubles rounds to Spark's bits with whole-stage codegen and interpreted") {
    val n = 10000000L
    val frame = spark.range(0, n, 1, 4).as[Long].map(i => (i, gen(i))).toDF("id", "d")
      .select(col("id"), round(col("d")).as("r"))
    // order-free digest: xor of per-row (id, r) hashes, plus the two
    // values the hash cannot tell apart from others (-0.0 vs 0.0, NaN)
    def digest(): (Boolean, Row) = {
      val df = frame.agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("r"))),
        count(when(col("r").cast("string") === "-0.0", 1)), count(when(isnan(col("r")), 1)))
      (rewritten(df), df.head())
    }
    for (interpreted <- Seq(false, true)) {
      val mode = Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> (!interpreted).toString,
        SQLConf.CODEGEN_FACTORY_MODE.key -> (if (interpreted) "NO_CODEGEN" else "FALLBACK"))
      val (onFired, onRow) = withConfs(mode: _*)(digest())
      val (offFired, offRow) = withConfs(mode :+ (excluded -> ExactRound.ruleName): _*)(digest())
      assert(onFired && !offFired)
      assert(onRow.getLong(0) == n)
      assert(onRow.getLong(2) == 0L, "round returned -0.0")
      assert(onRow == offRow, s"interpreted=$interpreted: rule $onRow vs Spark $offRow")
    }
  }

  test("the rule fires for round(double) from the Column API and SQL, and nowhere else") {
    val nums = spark.range(3).select(col("id").cast("double").as("d"),
      col("id").cast("float").as("f"), col("id").cast("decimal(10,2)").as("m"),
      col("id").cast("int").as("i"), col("id").as("l"))
    assert(rewritten(nums.select(round(col("d") * 1.5))))
    assert(rewritten(nums.select(round(col("d") * 1.5, 0))))
    nums.createOrReplaceTempView("exact_round_nums")
    assert(rewritten(spark.sql("SELECT round(d * 1.5) FROM exact_round_nums")))
    assert(rewritten(spark.sql("SELECT id FROM range(3) WHERE round(id / 2.0D) = 1")))
    Seq(round(col("d"), 2), round(col("d"), -1), round(col("f")), round(col("m")),
      round(col("i")), round(col("l")), bround(col("d"))).foreach { c =>
      assert(!rewritten(nums.select(c)), s"rewrote $c")
    }
    assert(spark.sql("SELECT round(d * 1.5) FROM exact_round_nums ORDER BY d")
      .as[Double].collect().toSeq == Seq(0.0, 2.0, 3.0))
  }

  test("JaccardLengthPruning still prunes round(jaccard, 0) >= t") {
    val dir = java.nio.file.Files.createTempDirectory("exactround").toString + "/pairs"
    Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f", "g", "h"), Seq("a", "b")), // J = 0.25, prunable
      (2L, Seq("a", "b", "c", "d"), Seq("a", "b", "c", "e")),           // J = 0.6
      (3L, Seq("a", "b", "c", "d"), Seq("a", "b", "c", "d"))            // J = 1.0
    ).toDF("id", "set_a", "set_b").write.parquet(dir)
    // round(J) >= 1 holds for J >= 0.5, so the sound threshold is 0.5
    def q = spark.read.parquet(dir)
      .select(col("id"),
        array_distinct(col("set_a")).as("da"),
        array_distinct(col("set_b")).as("db"))
      .where(round(JaccardFunctions.jaccardSim(col("da"), col("db")), 0) >= 1.0)
      .select("id")
    val rewrittenOnly = withConfs(excluded -> JaccardLengthPruning.ruleName)(
      q.queryExecution.optimizedPlan)
    assert(hasRewrite(rewrittenOnly) && !rewrittenOnly.toString.contains("size("))
    assert(JaccardLengthPruning(rewrittenOnly).toString.contains("size("),
      s"prefilter missing under round_half_up:\n$rewrittenOnly")
    val both = q.queryExecution.optimizedPlan
    assert(hasRewrite(both) && both.toString.contains("size("), s"$both")
    assert(q.as[Long].collect().toSet == Set(2L, 3L))
  }
}
