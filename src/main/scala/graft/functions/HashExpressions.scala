package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hash kernels for large-scale dedup and featurization, as native
  * Catalyst expressions: fused per-row loops over the token array or
  * text bytes, no string copies, no boxing. The near-dup signatures
  * (MinHash, SimHash, winnowing) hash with md5 so the DuckDB oracle
  * replays them bit for bit; each is a map-only scan, so at 100 TB
  * the signature pass shuffles only (bucket_key, doc_id) pairs, never
  * the text.
  */
object HashKernels {
  /** Histogram of small-int bucket ids: counts(b) = |{i : ids(i)=b}|
    * for b in [0, k). One pass, no boxing; ids outside [0, k) and null
    * elements are ignored (the hashed-bucket producers never emit
    * them). The native replacement for the k-wide
    * `transform(sequence, b -> size(filter(ids, =b)))` idiom, whose
    * interpreted lambdas re-evaluate the (md5-featurized) child per
    * sequence element — the q161 trap, measured at 19s on q172. */
  def intCounts(ids: ArrayData, k: Int): ArrayData = {
    val out = new Array[Int](k)
    val n = ids.numElements()
    var i = 0
    while (i < n) {
      if (!ids.isNullAt(i)) {
        val b = ids.getInt(i)
        if (b >= 0 && b < k) out(b) += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Sign-bit binarization of a double vector into 32-bit words
    * (array<long>, bit j of word w set iff v[32w+j] > 0) — the 1-bit
    * quantization tier below SQ8/PQ: a 64-dim float vector stores in
    * 8 bytes and Hamming distance (xor + popcount, both codegen'd
    * builtins) approximates angular distance. Null elements → null. */
  def signBits(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Long]((n + 31) / 32)
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      if (vec.getDouble(i) > 0.0) out(i / 32) |= (1L << (i % 32))
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Every `w`-token window of `toks` joined with single spaces — the
    * span unit of substring dedup. One pass, tokens read once; empty
    * result (not null) below `w` tokens; null on null elements. */
  def wordSpans(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val ts = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      ts(i) = toks.getUTF8String(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    val out = new Array[Any](n - w + 1)
    var s = 0
    while (s <= n - w) {
      out(s) = UTF8String.concatWs(sep,
        java.util.Arrays.copyOfRange(ts, s, s + w): _*)
      s += 1
    }
    new GenericArrayData(out)
  }

  // MD5 MessageDigest is stateful but reusable after digest(); one
  // instance per executor thread avoids the per-row getInstance cost
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Robust-winnowing picks over codepoint k-grams with md5 hashes —
    * the fused kernel behind [[WinnowPicksMd5]]: gram p (0-based)
    * covers codepoints [p, p+k) of the text, its hash is the first 32
    * bits of md5(UTF-8 bytes of the gram) — a codepoint gram's UTF-8 encoding
    * is the contiguous byte slice between codepoint boundaries, so no
    * substring materializes and the thread-local digest writes into a
    * reused 16-byte buffer (zero allocation per gram beyond the hash
    * array). Codepoint indexing (not UTF-16 units) is the contract:
    * DuckDB's len()/substring() count codepoints, so a supplementary-
    * plane character would otherwise desync engine and oracle.
    *
    * A position is selected iff it is the RIGHTMOST minimum (ties
    * break rightward) of at least one length-t window over the gram
    * hashes; fewer than t grams form one whole-doc window. The
    * rightmost-min index is monotone non-decreasing as the window
    * slides (the dropped leftmost element can only move the min right;
    * a tie already resolved rightward), so picks emit in position
    * order with a last-pick dedup — no pick set materializes. Output:
    * array<struct<p,h,n>> with p the 1-based gram index, h the gram
    * hash, n the doc's gram count; empty below k codepoints. */
  def winnowPicksMd5(text: UTF8String, k: Int, t: Int): ArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    var cp = 0
    var i = 0
    while (i < nb) { i += UTF8String.numBytesForFirstByte(bytes(i)); cp += 1 }
    val n = cp - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](cp + 1)
    i = 0
    var c = 0
    while (i < nb) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(cp) = nb
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    val h = new Array[Long](n)
    var p = 0
    while (p < n) {
      md.reset()
      md.update(bytes, offs(p), offs(p + k) - offs(p))
      md.digest(dig, 0, 16)
      h(p) = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      p += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](n / t + 1)
    def emit(p0: Int): Unit =
      out += org.apache.spark.sql.catalyst.InternalRow(
        (p0 + 1).toLong, h(p0), n.toLong)
    if (n < t) {
      var best = 0
      var j = 1
      while (j < n) { if (h(j) <= h(best)) best = j; j += 1 }
      emit(best)
    } else {
      var lastPick = -1
      var w = 0
      while (w <= n - t) {
        var best = w
        var j = w + 1
        while (j < w + t) { if (h(j) <= h(best)) best = j; j += 1 }
        if (best != lastPick) { emit(best); lastPick = best }
        w += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** 32-bit md5 SimHash of a token multiset — the fused kernel behind
    * [[Md5SimHash32]]: per token, the first 32 bits of md5(UTF-8 bytes);
    * bit b of the result is set when the multiset has more b-bits set
    * than clear. Byte-identical to the declarative
    * conv(substring(md5(u),1,8),16,10) bit-vote aggregation it
    * replaces (which paid a hex-string render + re-parse per token
    * plus a corpus explode/groupBy/join-back), and to the DuckDB
    * replay. Empty input → 0 (all votes tie toward clear), matching
    * the "token-less docs get sig 0" contract. A NULL element votes
    * −1 on every bit — exactly what the replaced declarative form did
    * (`when(bit === 1, 1).otherwise(-1)` takes the otherwise branch on
    * a null hash); Text.tokens never emits nulls, but the
    * SQL-registered `md5_simhash32` accepts arbitrary arrays and the
    * byte-identity claim must hold there too. */
  def md5Simhash32(tokens: ArrayData): Long = {
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    val counts = new Array[Int](32)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (tokens.isNullAt(t)) {
        var j = 0
        while (j < 32) { counts(j) -= 1; j += 1 }
      } else {
        md.reset()
        md.update(tokens.getUTF8String(t).getBytes)
        md.digest(dig, 0, 16)
        val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
          ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
        var j = 0
        while (j < 32) {
          if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** EOS-terminated md5-slice token ids — the fused kernel behind
    * [[Md5TokenIds]] ([[graft.io.TokenShards.tokenId]]'s array form):
    * per token the first 32 bits of md5(UTF-8 bytes) mod `vocab`, plus
    * one trailing EOS id (= vocab). Byte-identical to the declarative
    * `concat(transform(toks, t -> conv(substring(md5(t),1,8),16,10) %
    * vocab), array(vocab))` it replaces — ArrayTransform is
    * CodegenFallback, so that form evaluated INTERPRETED and paid a
    * hex-string render + re-parse per token (the md5_simhash32
    * move, applied to the shard-pack stream). A null element maps to
    * a null id (the declarative form's null propagation); Text.tokens
    * never emits nulls. */
  def md5TokenIds(tokens: ArrayData, vocab: Int): ArrayData = {
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    val n = tokens.numElements()
    val out = new Array[Any](n + 1)
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        md.reset()
        md.update(tokens.getUTF8String(t).getBytes)
        md.digest(dig, 0, 16)
        val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
          ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
        out(t) = (h % vocab).toInt
      }
      t += 1
    }
    out(n) = vocab
    new GenericArrayData(out)
  }

  /** md5-slice hash buckets of the ADJACENT-PAIR bigrams of a token
    * array — the fused kernel behind [[Md5BigramBuckets]] (the
    * DSIR/QualityProbe featurizer): per bigram "l r" the first 32 md5
    * bits mod `k`. Value-identical to the declarative
    * `transform(zip_with(slice, slice, concat(a,' ',b)),
    * g -> conv(substring(md5(g),1,8),16,10) % k)` it replaces — BOTH
    * higher-order functions are CodegenFallback, so that form built a
    * bigram String and paid an interpreted md5 + hex render + re-parse
    * per pair. A null token nulls its pairs (concat's propagation);
    * Text.tokens never emits nulls. */
  def md5BigramBuckets(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < 2) return new GenericArrayData(new Array[Any](0))
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      if (!tokens.isNullAt(i) && !tokens.isNullAt(i + 1)) {
        md.reset()
        md.update(tokens.getUTF8String(i).getBytes)
        md.update(' '.toByte)
        md.update(tokens.getUTF8String(i + 1).getBytes)
        md.digest(dig, 0, 16)
        val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
          ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
        out(i) = (h % k).toInt
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** md5-arithmetic MinHash signature of a unit array — the fused
    * kernel behind [[Md5MinhashSig]]: permutation i reads 32-bit slice
    * i%4 of md5(unit || ':' || i/4) (one digest drives four
    * permutations — `Dedup.md5Slice`'s byte-level twin), the signature
    * is the k per-permutation minima over DISTINCT units (min is
    * duplicate-insensitive, but skipping repeats also skips their
    * digests), and n_u is the distinct-unit count the Jaccard verify
    * consumes. Returns null for unit-less input — such docs carry no
    * signature and can near-dup nothing (the family contract).
    * Replaces the explode → 4-digest hex projection → map-side-combined
    * groupBy with a map-only per-row loop: no hex render/re-parse, no
    * aggregation pass. */
  // the ':g' group-suffix bytes depend only on k (≤ 512 → ≤ 128
  // entries) — cached so the corpus-scale signature pass does not
  // re-allocate them per row
  private val md5SuffixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def md5Suffixes(groups: Int): Array[Array[Byte]] =
    md5SuffixCache.computeIfAbsent(groups,
      g => Array.tabulate(g)(i => (":" + i).getBytes("UTF-8")))

  def md5MinhashSig(units: ArrayData, k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    val groups = k / 4
    val suffixes = md5Suffixes(groups)
    val mins = Array.fill(k)(Long.MaxValue)
    val seen = new java.util.HashSet[UTF8String]()
    val n = units.numElements()
    var t = 0
    while (t < n) {
      if (!units.isNullAt(t)) {
        val u = units.getUTF8String(t)
        if (seen.add(u)) {
          val ub = u.getBytes
          var g2 = 0
          while (g2 < groups) {
            md.reset()
            md.update(ub)
            md.update(suffixes(g2))
            md.digest(dig, 0, 16)
            var j = 0
            while (j < 4) {
              val o = 4 * j
              val v = ((dig(o) & 0xffL) << 24) | ((dig(o + 1) & 0xffL) << 16) |
                ((dig(o + 2) & 0xffL) << 8) | (dig(o + 3) & 0xffL)
              if (v < mins(g2 * 4 + j)) mins(g2 * 4 + j) = v
              j += 1
            }
            g2 += 1
          }
        }
      }
      t += 1
    }
    if (seen.isEmpty) null
    else org.apache.spark.sql.catalyst.InternalRow(
      seen.size.toLong, new GenericArrayData(mins))
  }

  /** `k` Bloom bit positions of a string: pos_s = floorMod(
    * xxhash64(bytes, seed = s), mBits) for s in 0 until k. The build
    * side of the Bloom prefilter — positions, not bits, so the
    * distributed distinct-and-collect is bounded by mBits regardless
    * of how many elements feed the filter. */
  def bloomPositions(s: UTF8String, k: Int, mBits: Int): ArrayData = {
    val out = new Array[Int](k)
    var i = 0
    while (i < k) {
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, i.toLong)
      out(i) = java.lang.Math.floorMod(h, mBits.toLong).toInt
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Bloom membership probe against a 64-bit-word bit array (m =
    * 64 * words.length): true iff ALL `k` seeded-xxhash64 positions
    * are set. One-sided: may return true for absent elements (false
    * positives), never false for present ones. */
  def bloomContains(s: UTF8String, words: Array[Long], k: Int): Boolean = {
    val m = words.length.toLong * 64L
    var i = 0
    while (i < k) {
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, i.toLong)
      val pos = java.lang.Math.floorMod(h, m)
      if ((words((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L)
        return false
      i += 1
    }
    true
  }
}

/** sign_bits(array<double>) -> array<bigint> of 32-bit words. */
case class SignBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_bits"

  override def nullSafeEval(v: Any): Any =
    HashKernels.signBits(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashKernels.signBits($c);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(c: Expression): SignBits =
    copy(child = c)
}

/** int_counts(array<int>, k) -> array<int> of length k. */
case class IntCounts(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"bucket count must be >= 1, got $k")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "int_counts"

  override def nullSafeEval(v: Any): Any =
    HashKernels.intCounts(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.intCounts($c, $k)")

  override protected def withNewChildInternal(c: Expression): IntCounts =
    copy(child = c)
}

/** word_spans(tokens, w) -> array<string>: every w-token window joined
  * with single spaces — the span unit of substring dedup
  * ([[graft.dedup.Dedup.dupSpanStats]], Lee et al. 2022 at token-window
  * grain). Replaces the `transform(sequence(1, n-w+1), i ->
  * array_join(slice(toks, i, w), " "))` formulation: Catalyst
  * evaluates higher-order lambdas interpreted AND re-evaluates the
  * child token array per lambda element, so a split-fed `toks` re-ran
  * the regex split once per window position (O(n·w) regex work per
  * document — measured 4-6s of a 5s q161 at sf0.1). Here the tokens
  * materialize once and each span is one concatWs. */
case class WordSpans(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"window must be >= 1 token, got $w")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_spans"

  override def nullSafeEval(v: Any): Any =
    HashKernels.wordSpans(v.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashKernels.wordSpans($c, $w);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(c: Expression): WordSpans =
    copy(child = c)
}

/** winnow_picks_md5(text, k, t) -> array<struct<p:bigint, h:bigint,
  * n:bigint>>: the md5-arithmetic robust-winnowing pick rows of one
  * document ([[HashKernels.winnowPicksMd5]]) — the native replacement
  * for the typed-Dataset flatMap that ran this kernel through an
  * encoder boundary (row ser/de plus a String substring + getBytes +
  * fresh digest allocation per gram — measured as q38 0.14→0.78s /
  * q105 2.7→5.2s when the md5 family landed; the same move as
  * word_spans/q161, 11× there). The consumer explodes the array;
  * per-doc sequential window scans stay inside whole-stage codegen. */
case class WinnowPicksMd5(child: Expression, k: Int, t: Int)
    extends UnaryExpression {
  require(k >= 1 && t >= 2, s"need k >= 1, t >= 2; got k=$k t=$t")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p", LongType, nullable = false),
    StructField("h", LongType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "winnow_picks_md5"

  override def nullSafeEval(v: Any): Any =
    HashKernels.winnowPicksMd5(v.asInstanceOf[UTF8String], k, t)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.winnowPicksMd5($c, $k, $t)")

  override protected def withNewChildInternal(c: Expression): WinnowPicksMd5 =
    copy(child = c)
}

/** md5_simhash32(array<string>) -> bigint: the 32-bit md5 SimHash
  * ([[HashKernels.md5Simhash32]]). */
case class Md5SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_simhash32"

  override def nullSafeEval(v: Any): Any =
    HashKernels.md5Simhash32(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.md5Simhash32($c)")

  override protected def withNewChildInternal(c: Expression): Md5SimHash32 =
    copy(child = c)
}

/** md5_token_ids(array<string>, vocab) -> array<int>: the
  * EOS-terminated md5-slice token-id stream of one document
  * ([[HashKernels.md5TokenIds]] — the [[graft.io.TokenShards]] pack
  * kernel). */
case class Md5TokenIds(child: Expression, vocab: Int) extends UnaryExpression {
  require(vocab > 0, s"vocab must be positive, got $vocab")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "md5_token_ids"

  override def nullSafeEval(v: Any): Any =
    HashKernels.md5TokenIds(v.asInstanceOf[ArrayData], vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.md5TokenIds($c, $vocab)")

  override protected def withNewChildInternal(c: Expression): Md5TokenIds =
    copy(child = c)
}

/** md5_bigram_buckets(array<string>, k) -> array<int>: hashed-bigram
  * buckets of one document's token array
  * ([[HashKernels.md5BigramBuckets]] — the DSIR/probe featurizer). */
case class Md5BigramBuckets(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 2, s"need at least 2 hash buckets, got $k")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "md5_bigram_buckets"

  override def nullSafeEval(v: Any): Any =
    HashKernels.md5BigramBuckets(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.md5BigramBuckets($c, $k)")

  override protected def withNewChildInternal(c: Expression): Md5BigramBuckets =
    copy(child = c)
}

/** md5_minhash_sig(array<string>, k) -> struct<n_u:bigint,
  * sig:array<bigint>>, null for unit-less input
  * ([[HashKernels.md5MinhashSig]]). */
case class Md5MinhashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0 && k % 4 == 0 && k <= 512,
    s"md5 minhash k must be a positive multiple of 4 <= 512, got $k")
  override def dataType: DataType = StructType(Seq(
    StructField("n_u", LongType, nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "md5_minhash_sig"

  override def nullSafeEval(v: Any): Any =
    HashKernels.md5MinhashSig(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashKernels.md5MinhashSig($c, $k);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(c: Expression): Md5MinhashSig =
    copy(child = c)
}

/** bloom_positions(string, k, mBits) -> array<int> of the k seeded
  * bit positions — the BUILD side of the Bloom prefilter. */
case class BloomPositions(child: Expression, k: Int, mBits: Int)
    extends UnaryExpression {
  require(k >= 1 && k <= 16, s"bloom k must be in [1, 16], got $k")
  require(mBits >= 64 && mBits % 64 == 0,
    s"bloom mBits must be a positive multiple of 64, got $mBits")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bloom_positions"

  override def nullSafeEval(v: Any): Any =
    HashKernels.bloomPositions(v.asInstanceOf[UTF8String], k, mBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.bloomPositions($c, $k, $mBits)")

  override protected def withNewChildInternal(c: Expression): BloomPositions =
    copy(child = c)
}

/** bloom_might_contain(string) -> boolean against a driver-built bit
  * array shipped ONCE as a codegen reference object (the [[graft.text
  * .BpeSegmentAll]] pattern): plan size and analysis cost are
  * independent of the filter size, and the probe is a fused per-row
  * loop — k seeded xxhash64s + k bit tests, no string copies. */
case class BloomMightContain(child: Expression, words: Seq[Long], k: Int)
    extends UnaryExpression {
  require(k >= 1 && k <= 16, s"bloom k must be in [1, 16], got $k")
  require(words.nonEmpty, "empty bloom bit array")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  private lazy val wordArr = words.toArray

  override def nullSafeEval(v: Any): Any =
    HashKernels.bloomContains(v.asInstanceOf[UTF8String], wordArr, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("bloomWords", wordArr, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.bloomContains($c, $wRef, $k)")
  }

  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

object HashFunctions {
  def wordSpans(tokens: Column, w: Int): Column =
    GraftBridge.column(WordSpans(GraftBridge.expression(tokens), w))

  def intCounts(ids: Column, k: Int): Column =
    GraftBridge.column(IntCounts(GraftBridge.expression(ids), k))

  def signBits(vec: Column): Column =
    GraftBridge.column(SignBits(GraftBridge.expression(vec)))

  def winnowPicksMd5(text: Column, k: Int, t: Int): Column =
    GraftBridge.column(WinnowPicksMd5(GraftBridge.expression(text), k, t))

  def md5Simhash32(tokens: Column): Column =
    GraftBridge.column(Md5SimHash32(GraftBridge.expression(tokens)))

  def md5MinhashSig(units: Column, k: Int): Column =
    GraftBridge.column(Md5MinhashSig(GraftBridge.expression(units), k))

  def md5TokenIds(tokens: Column, vocab: Int): Column =
    GraftBridge.column(Md5TokenIds(GraftBridge.expression(tokens), vocab))

  def md5BigramBuckets(tokens: Column, k: Int): Column =
    GraftBridge.column(Md5BigramBuckets(GraftBridge.expression(tokens), k))

  def bloomPositions(s: Column, k: Int, mBits: Int): Column =
    GraftBridge.column(BloomPositions(GraftBridge.expression(s), k, mBits))

  def bloomMightContain(s: Column, words: Seq[Long], k: Int): Column =
    GraftBridge.column(BloomMightContain(GraftBridge.expression(s), words, k))
}
