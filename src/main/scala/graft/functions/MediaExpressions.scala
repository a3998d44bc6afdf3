package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Audio kernels: REAL 16-bit PCM decoding as a native Catalyst
  * expression — unlike compressed image/audio codecs, raw PCM is pure
  * integer arithmetic, so the multimodal layer's audio path needs no
  * stub. The per-row loop is fused into whole-stage codegen via a
  * static kernel call (the [[HashKernels]] pattern); at 100 TB the
  * feature pass is map-only and only the small per-window feature
  * structs ever reach a shuffle, never the waveform bytes. */
object MediaKernels {

  /** Decode little-endian signed 16-bit PCM and compute per-window
    * features: RMS in 1e-6 units (floor(x·1e6 + 0.5) of the exact
    * integer-sum RMS), zero crossings (sign changes between
    * consecutive samples, zero counted as non-negative), and the peak
    * |sample|. A trailing odd byte is ignored; the final partial
    * window is emitted (its RMS divides by its own length). */
  def pcmWindows(bytes: Array[Byte], window: Int): ArrayData = {
    val n = bytes.length / 2
    val nWin = (n + window - 1) / window
    val out = new Array[Any](nWin)
    var w = 0
    while (w < nWin) {
      val start = w * window
      val end = math.min(start + window, n)
      var sumSq = 0L
      var zc = 0
      var peak = 0
      var prevNonNeg = true
      var i = start
      while (i < end) {
        val lo = bytes(2 * i) & 0xFF
        val hi = bytes(2 * i + 1).toInt // sign-extends
        val s = (hi << 8) | lo
        sumSq += s.toLong * s
        val a = math.abs(s)
        if (a > peak) peak = a
        val nonNeg = s >= 0
        if (i > start && nonNeg != prevNonNeg) zc += 1
        prevNonNeg = nonNeg
        i += 1
      }
      val cnt = end - start
      val rmsMicros =
        math.floor(math.sqrt(sumSq.toDouble / cnt) * 1e6 + 0.5).toLong
      out(w) = InternalRow(w, rmsMicros, zc, peak)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Micro-scaled DFT twiddle tables, memoized per (window, k). The
    * values are computed ONCE here (StrictMath — bit-identical on any
    * JVM) and the SAME arrays are embedded as literal lists in the
    * DuckDB oracle SQL ([[graft.queries.StreamingQueries]] q220), so the spectral
    * feature is exact integer arithmetic end to end with ZERO
    * cross-engine transcendental risk — unlike the ln/log recipes,
    * nothing here depends on two math libraries rounding alike. */
  object DftTables {
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      (Int, Int), (Array[Long], Array[Long])]()
    def tables(window: Int, k: Int): (Array[Long], Array[Long]) =
      cache.computeIfAbsent((window, k), { case (w, kk) =>
        val c = new Array[Long](w); val s = new Array[Long](w)
        var j = 0
        while (j < w) {
          val a = 2.0 * StrictMath.PI * kk * j / w
          c(j) = StrictMath.floor(StrictMath.cos(a) * 1e6 + 0.5).toLong
          s(j) = StrictMath.floor(StrictMath.sin(a) * 1e6 + 0.5).toLong
          j += 1
        }
        (c, s)
      })
    def cosMicros(window: Int, k: Int): Array[Long] = tables(window, k)._1
    def sinMicros(window: Int, k: Int): Array[Long] = tables(window, k)._2
  }

  /** Single-bin DFT over little-endian int16 PCM windows — the
    * spectral half of the audio feature path (q153 covers the
    * time-domain stats): per window of `window` samples, the exact
    * integer micro-scaled projections re = Σ s[j]·cos_µ[j] and
    * im = −Σ s[j]·sin_µ[j] onto bin `k` (at 16 kHz / window 256,
    * bin k sits at k·62.5 Hz). The final partial window sums its own
    * shorter run of the same tables. All arithmetic is exact int64
    * (|re| ≤ window·32767·10⁶ ≈ 8.4e15). */
  def pcmDftWindows(bytes: Array[Byte], window: Int, k: Int): ArrayData = {
    val (cosT, sinT) = DftTables.tables(window, k)
    val n = bytes.length / 2
    val nWin = (n + window - 1) / window
    val out = new Array[Any](nWin)
    var w = 0
    while (w < nWin) {
      val start = w * window
      val end = math.min(start + window, n)
      var re = 0L
      var im = 0L
      var i = start
      while (i < end) {
        val lo = bytes(2 * i) & 0xFF
        val hi = bytes(2 * i + 1).toInt // sign-extends
        val s = ((hi << 8) | lo).toLong
        val j = i - start
        re += s * cosT(j)
        im -= s * sinT(j)
        i += 1
      }
      out(w) = InternalRow(w, re, im)
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** pcm_windows(binary, window) -> array<struct<win int, rms_micros
  * bigint, zero_crossings int, peak int>> over little-endian int16
  * PCM. Empty array for payloads under 2 bytes. */
case class PcmWindowFeatures(child: Expression, window: Int)
    extends UnaryExpression {
  require(window >= 1, s"need window >= 1; got $window")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("win", IntegerType, nullable = false),
    StructField("rms_micros", LongType, nullable = false),
    StructField("zero_crossings", IntegerType, nullable = false),
    StructField("peak", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "pcm_windows"

  override def nullSafeEval(v: Any): Any =
    MediaKernels.pcmWindows(v.asInstanceOf[Array[Byte]], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MediaKernels.pcmWindows($c, $window)")

  override protected def withNewChildInternal(c: Expression): PcmWindowFeatures =
    copy(child = c)
}

/** pcm_dft_bin(binary, window, k) -> array<struct<win int, re_u
  * bigint, im_u bigint>>: per-window single-bin DFT projections in
  * exact micro-scaled integers (see [[MediaKernels.pcmDftWindows]]).
  * Empty array for payloads under 2 bytes. */
case class PcmDftBin(child: Expression, window: Int, k: Int)
    extends UnaryExpression {
  require(window >= 1, s"need window >= 1; got $window")
  require(k >= 0 && k < window, s"need bin k in [0, window); got $k of $window")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("win", IntegerType, nullable = false),
    StructField("re_u", LongType, nullable = false),
    StructField("im_u", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "pcm_dft_bin"

  override def nullSafeEval(v: Any): Any =
    MediaKernels.pcmDftWindows(v.asInstanceOf[Array[Byte]], window, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MediaKernels.pcmDftWindows($c, $window, $k)")

  override protected def withNewChildInternal(c: Expression): PcmDftBin =
    copy(child = c)
}

/** Raster kernels as native expressions — the q153 PCM treatment
  * applied to the image path: the codec calls (JDK ImageIO — PNG/BMP/
  * GIF, zero new dependencies) run inside whole-stage codegen via
  * static kernel calls, so the generate→decode→project pipeline is one
  * fused loop with no typed-Dataset ser/de boundary. The
  * `mapPartitions` batch variant ([[graft.multimodal.Media
  * .decodeImageMeta]]) stays as the API for stateful/batched codecs;
  * [[IoMediaStreamSpec]] pins the two row-identical. */
object ImageKernels {

  // ImageIO's default stream cache is FILE-backed (getUseCache()==true):
  // every ImageIO.read/write over an in-memory byte array wrapped it in
  // a temp FILE on local disk — one create+write+read+delete PER ROW in
  // the codec hot loop. Every payload in this engine is an in-memory
  // byte array, so the memory cache is strictly better; the decoded/
  // encoded BYTES are identical (the cache only backs stream seeks).
  javax.imageio.ImageIO.setUseCache(false)

  /** Encode a constant-fill grayscale PNG — deterministic real-codec
    * payload generator (tests + oracle-backed decode queries). */
  def grayPng(width: Int, height: Int, value: Int): Array[Byte] = {
    require(width > 0 && height > 0, "dims must be positive")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, value & 0xFF); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode raster metadata: (width, height, n_bands, mean over band
    * 0). Bytes no installed reader accepts (or that throw on decode —
    * ImageIO readers raise beyond IOException on malformed payloads)
    * surface as (-1, -1, -1, NaN) so corrupt rows degrade per-row and
    * stay visible to quality filters, never killing the task. */
  def decodeMeta(bytes: Array[Byte]): InternalRow =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) InternalRow(-1, -1, -1, Double.NaN)
      else {
        val w = img.getWidth; val h = img.getHeight
        val raster = img.getRaster
        var sum = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += raster.getSampleDouble(x, y, 0); x += 1 }
          y += 1
        }
        val n = w.toLong * h
        InternalRow(w, h, raster.getNumBands, if (n > 0) sum / n else 0.0)
      }
    } catch {
      case scala.util.control.NonFatal(_) => InternalRow(-1, -1, -1, Double.NaN)
    }
}

/** gray_png(width, height, value) -> binary: constant-fill grayscale
  * PNG via the real JDK codec, codegen'd. Declares int input types so
  * SQL callers with bigint arithmetic (the natural type of id-derived
  * dims) get an implicit cast at analysis instead of a mid-job
  * ClassCastException. */
case class GrayPngExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractType] =
    Seq(IntegerType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gray_png"

  override def nullSafeEval(w: Any, h: Any, v: Any): Any =
    ImageKernels.grayPng(w.asInstanceOf[Int], h.asInstanceOf[Int],
      v.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (w, h, v) => s"graft.functions.ImageKernels.grayPng($w, $h, $v)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): GrayPngExpr =
    copy(first = f, second = s, third = t)
}

/** image_meta(binary) -> struct<width int, height int, n_bands int,
  * mean_px double>: real ImageIO decode fused into codegen; corrupt
  * payloads yield (-1, -1, -1, NaN). */
case class ImageMetaExpr(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractType] =
    Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_bands", IntegerType, nullable = false),
    StructField("mean_px", DoubleType, nullable = false)))
  override def prettyName: String = "image_meta"

  override def nullSafeEval(v: Any): Any =
    ImageKernels.decodeMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ImageKernels.decodeMeta($c)")

  override protected def withNewChildInternal(c: Expression): ImageMetaExpr =
    copy(child = c)
}

/** Multi-frame CONTAINER kernels: animated GIF through the JDK's
  * ImageIO sequence API — the last stubbed decode class (video/
  * container) made real for an in-sandbox codec. A GIF is a genuine
  * container (header + palette + N encoded frames), so the
  * generate→decode chain exercises the container path end-to-end:
  * per-frame decode, frame stats, and raw-raster extraction feeding
  * [[graft.multimodal.Media.resizeRaster]]'s real-resample branch. */
object GifKernels {

  // see ImageKernels: byte-array payloads never need ImageIO's
  // file-backed stream cache (idempotent global flag, set in both
  // objects so either kernel family alone flips it)
  javax.imageio.ImageIO.setUseCache(false)

  /** The identity 256-gray sRGB palette: index i = color (i, i, i).
    * Frames are built TYPE_BYTE_INDEXED over this palette — NOT
    * TYPE_BYTE_GRAY, whose linear-gray color space the GIF writer
    * gamma-converts to sRGB (a 50-gray frame came back ~25) — so the
    * stored index IS the gray level and the round trip is exact. */
  private val grayPalette: java.awt.image.IndexColorModel = {
    val ramp = Array.tabulate[Byte](256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Encode constant-fill grayscale frames as ONE animated GIF via
    * the real JDK codec (writeToSequence). Deterministic payload
    * generator for tests and oracle-backed decode queries: frame f is
    * a width×height fill of values[f], stored as an index into the
    * identity gray palette, so the closed form round-trips exactly. */
  def grayGif(width: Int, height: Int, values: ArrayData): Array[Byte] = {
    require(width > 0 && height > 0, "dims must be positive")
    // probed empirically on JDK 17: the JDK GIF codec zeroes the
    // trailing row(s) of frames with height <= 4 (every width, every
    // fill value; height >= 5 always round-trips exactly). Loud-fail
    // rather than silently emit payloads the decoder corrupts.
    require(height >= 5,
      s"JDK GIF codec corrupts frames under 5 rows (got height=$height)")
    require(values.numElements() > 0, "need at least one frame")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < values.numElements()) {
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED,
          grayPalette)
        val raster = img.getRaster
        val v = values.getInt(f) & 0xFF
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) { raster.setSample(x, y, 0, v); x += 1 }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  private def gifReader(bytes: Array[Byte]): Option[javax.imageio.ImageReader] = {
    val ins = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val it = javax.imageio.ImageIO.getImageReaders(ins)
    if (!it.hasNext) { ins.close(); None }
    else { val r = it.next(); r.setInput(ins); Some(r) }
  }

  /** Gray value of a pixel regardless of the decoded color model:
    * GIF frames come back INDEXED, where band 0 is the palette index,
    * not the luminance — go through sRGB and take a channel (R=G=B
    * for gray payloads). */
  private def grayAt(img: java.awt.image.BufferedImage, x: Int, y: Int): Int =
    img.getRGB(x, y) & 0xFF

  /** Per-frame stats of every frame in a container: (frame, width,
    * height, mean_px). Undecodable payloads yield an EMPTY array —
    * per-row degradation, the task never dies. */
  def gifFrameStats(bytes: Array[Byte]): ArrayData =
    gifReader(bytes) match {
      case None => new GenericArrayData(Array.empty[Any])
      case Some(reader) =>
        try {
          val n = reader.getNumImages(true)
          val out = new Array[Any](n)
          var f = 0
          while (f < n) {
            val img = reader.read(f)
            val w = img.getWidth; val h = img.getHeight
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { sum += grayAt(img, x, y); x += 1 }
              y += 1
            }
            val cnt = w.toLong * h
            out(f) = InternalRow(f, w, h, if (cnt > 0) sum / cnt else 0.0)
            f += 1
          }
          new GenericArrayData(out)
        } catch {
          case scala.util.control.NonFatal(_) =>
            new GenericArrayData(Array.empty[Any])
        } finally reader.dispose()
    }

  /** FUSED sampling decode: every `stride`-th frame of a container to
    * its raw grayscale raster in ONE reader pass. The per-frame
    * [[gifFrameRaster]] re-opens the container per call, and GIF is
    * sequential — locating frame f means walking frames 0..f−1 — so a
    * frame-sampling pipeline built on it pays O(F²) container walks;
    * this kernel keeps one reader, reads the sampled frames in
    * ascending order (the reader caches frame positions), and pays
    * O(F) once. Byte-identical rasters to the per-frame kernel
    * (spec-pinned); undecodable payloads yield an empty array —
    * per-row degradation, the task never dies. */
  def gifFrameRasters(bytes: Array[Byte], stride: Int): ArrayData =
    gifReader(bytes) match {
      case None => new GenericArrayData(Array.empty[Any])
      case Some(reader) =>
        try {
          val n = reader.getNumImages(true)
          val out = scala.collection.mutable.ArrayBuffer[Any]()
          var f = 0
          while (f < n) {
            if (f % stride == 0) {
              val img = reader.read(f)
              val w = img.getWidth; val h = img.getHeight
              val raster = new Array[Byte](w * h)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  raster(y * w + x) = grayAt(img, x, y).toByte
                  x += 1
                }
                y += 1
              }
              out += InternalRow(f, raster)
            }
            f += 1
          }
          new GenericArrayData(out.toArray)
        } catch {
          case scala.util.control.NonFatal(_) =>
            new GenericArrayData(Array.empty[Any])
        } finally reader.dispose()
    }

  /** Decode ONE frame of a container to a raw 8-bit grayscale raster
    * (width·height bytes, row-major) — the shape
    * [[graft.multimodal.Media.resizeRaster]]'s real-resample branch
    * consumes, bridging container blobs into the raster pipeline.
    * Null when the payload cannot be decoded or has no such frame. */
  def gifFrameRaster(bytes: Array[Byte], frame: Int): Array[Byte] =
    gifReader(bytes) match {
      case None => null
      case Some(reader) =>
        try {
          if (frame < 0 || frame >= reader.getNumImages(true)) null
          else {
            val img = reader.read(frame)
            val w = img.getWidth; val h = img.getHeight
            val out = new Array[Byte](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                out(y * w + x) = grayAt(img, x, y).toByte
                x += 1
              }
              y += 1
            }
            out
          }
        } catch { case scala.util.control.NonFatal(_) => null }
        finally reader.dispose()
    }
}

/** gray_gif(width, height, values array<int>) -> binary: constant-fill
  * multi-frame grayscale GIF via the real JDK sequence codec,
  * codegen'd ([[GrayPngExpr]]'s container sibling). */
case class GrayGifExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractType] =
    Seq(IntegerType, IntegerType, ArrayType(IntegerType, containsNull = false))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gray_gif"

  override def nullSafeEval(w: Any, h: Any, v: Any): Any =
    GifKernels.grayGif(w.asInstanceOf[Int], h.asInstanceOf[Int],
      v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (w, h, v) => s"graft.functions.GifKernels.grayGif($w, $h, $v)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): GrayGifExpr =
    copy(first = f, second = s, third = t)
}

/** gif_frames(binary) -> array<struct<frame int, width int, height
  * int, mean_px double>>: real per-frame container decode fused into
  * codegen; undecodable payloads yield an empty array. */
case class GifFrameStatsExpr(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractType] =
    Seq(BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_px", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "gif_frames"

  override def nullSafeEval(v: Any): Any =
    GifKernels.gifFrameStats(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GifKernels.gifFrameStats($c)")

  override protected def withNewChildInternal(c: Expression): GifFrameStatsExpr =
    copy(child = c)
}

/** gif_frame_raster(binary, frame) -> binary: one container frame as
  * a raw 8-bit grayscale raster (the resizeRaster input shape); NULL
  * for undecodable payloads or out-of-range frames. */
case class GifFrameRasterExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractType] =
    Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "gif_frame_raster"

  override def nullSafeEval(b: Any, f: Any): Any =
    GifKernels.gifFrameRaster(b.asInstanceOf[Array[Byte]], f.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, f) => s"""
      ${ev.value} = graft.functions.GifKernels.gifFrameRaster($b, $f);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GifFrameRasterExpr =
    copy(left = l, right = r)
}

/** gif_frame_rasters(binary, stride) -> array<struct<frame int,
  * raster binary>>: every stride-th frame's raw grayscale raster in
  * ONE container pass (see [[GifKernels.gifFrameRasters]] — the
  * O(F)-not-O(F²) form of sampled container decode). Empty array for
  * undecodable payloads. */
case class GifFrameRastersExpr(child: Expression, stride: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(stride >= 1, s"need stride >= 1; got $stride")
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractType] =
    Seq(BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("raster", BinaryType, nullable = false))), containsNull = false)
  override def prettyName: String = "gif_frame_rasters"

  override def nullSafeEval(v: Any): Any =
    GifKernels.gifFrameRasters(v.asInstanceOf[Array[Byte]], stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GifKernels.gifFrameRasters($c, $stride)")

  override protected def withNewChildInternal(c: Expression): GifFrameRastersExpr =
    copy(child = c)
}

object MediaFunctions {
  def pcmWindowFeatures(bin: Column, window: Int): Column =
    GraftBridge.column(PcmWindowFeatures(GraftBridge.expression(bin), window))

  def pcmDftBin(bin: Column, window: Int, k: Int): Column =
    GraftBridge.column(PcmDftBin(GraftBridge.expression(bin), window, k))

  def grayPng(width: Column, height: Column, value: Column): Column =
    GraftBridge.column(GrayPngExpr(GraftBridge.expression(width),
      GraftBridge.expression(height), GraftBridge.expression(value)))

  def imageMeta(bin: Column): Column =
    GraftBridge.column(ImageMetaExpr(GraftBridge.expression(bin)))

  def grayGif(width: Column, height: Column, values: Column): Column =
    GraftBridge.column(GrayGifExpr(GraftBridge.expression(width),
      GraftBridge.expression(height), GraftBridge.expression(values)))

  def gifFrames(bin: Column): Column =
    GraftBridge.column(GifFrameStatsExpr(GraftBridge.expression(bin)))

  def gifFrameRaster(bin: Column, frame: Column): Column =
    GraftBridge.column(GifFrameRasterExpr(GraftBridge.expression(bin),
      GraftBridge.expression(frame)))

  def gifFrameRasters(bin: Column, stride: Int): Column =
    GraftBridge.column(GifFrameRastersExpr(GraftBridge.expression(bin), stride))
}
