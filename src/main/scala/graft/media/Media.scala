package graft.media

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Image payload plumbing for the geotagged image+caption table
  * (BASELINE.json `input_hint`: image_id, bytes, w, h, fmt, caption, phash).
  *
  * Formats:
  *  - "png"  — lossless grayscale PNG via JDK ImageIO (deterministic decode;
  *    JPEG is avoided because encoders are platform-variant, SURVEY §7.5.5)
  *  - "qnt"  — lossy-simulation: pixels quantized to step 4 before PNG
  *    encode; exercises the PSNR ≥ 40 dB acceptance path (step-4 uniform
  *    quantization ⇒ MSE ≤ 4/3 ⇒ PSNR ≈ 46.9 dB)
  *
  * Decode is the CPU hog at 10^12 scale: [[imageFeatures]] decodes each
  * payload exactly once inside one `mapPartitions` stage and fuses phash +
  * luminance + footprint extraction there (no per-feature re-decode).
  */
object Media {

  // ---- codec ------------------------------------------------------------------

  /** Deterministic synthetic grayscale raster for an id: a product of
    * sinusoid-free integer arithmetic (no float, no RNG state) so any
    * engine/worker reproduces it bit-exactly.
    */
  def synthPixels(id: Long, w: Int, h: Int): Array[Byte] = {
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (id * 31 + x * 7 + y * 13 + ((x * y) % 29) * 5) % 256
        px(y * w + x) = v.toByte
        x += 1
      }
      y += 1
    }
    px
  }

  def quantize(px: Array[Byte], step: Int = 4): Array[Byte] = {
    val out = new Array[Byte](px.length)
    var i = 0
    while (i < px.length) {
      val v = px(i) & 0xff
      out(i) = ((v / step) * step + step / 2).min(255).toByte
      i += 1
    }
    out
  }

  def encodePng(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
    ImageIO.setUseCache(false) // default disk cache serializes threads
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, px)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Minimal 8-bit-grayscale PNG decoder (signature/IHDR/IDAT + filters
    * 0-4, non-interlaced). ImageIO.read serializes badly under many threads
    * (service-registry scan + disk-backed stream cache per call); this path
    * is pure JVM with zero shared state, so decode scales with cores.
    * Returns None for any PNG shape we didn't produce (→ ImageIO fallback).
    */
  /** Reusable per-task decode buffers — the decode hot loop allocates
    * nothing per image beyond the returned features, so throughput scales
    * with cores instead of hitting the GC wall (~10 KB garbage per image
    * otherwise, ~GB/s at 32 threads).
    */
  final class PngScratch {
    var raw: Array[Byte] = new Array[Byte](0)
    var px: Array[Byte] = new Array[Byte](0)
    var payload: Array[Byte] = new Array[Byte](0) // reusable input staging
    val inflater = new java.util.zip.Inflater()
    def ensure(rawLen: Int, pxLen: Int): Unit = {
      if (raw.length < rawLen) raw = new Array[Byte](rawLen)
      if (px.length < pxLen) px = new Array[Byte](pxLen)
    }
    def ensurePayload(len: Int): Array[Byte] = {
      if (payload.length < len)
        payload = new Array[Byte](math.max(len, payload.length * 2))
      payload
    }
  }

  def decodePngGray(bytes: Array[Byte]): Option[(Array[Byte], Int, Int)] = {
    val s = new PngScratch
    decodePngGrayInto(bytes, s) match {
      case Some((w, h)) => Some((java.util.Arrays.copyOf(s.px, w * h), w, h))
      case None => None
    }
  }

  /** Zero-allocation variant: pixels land in `scratch.px` (length >= w·h). */
  def decodePngGrayInto(bytes: Array[Byte], scratch: PngScratch): Option[(Int, Int)] =
    decodePngGrayInto(bytes, bytes.length, scratch)

  /** As above with an explicit payload length — `bytes` may be a reused
    * staging buffer larger than the payload it currently holds.
    */
  def decodePngGrayInto(bytes: Array[Byte], limit: Int, scratch: PngScratch): Option[(Int, Int)] = {
    if (limit < 8 || bytes(0) != 0x89.toByte || bytes(1) != 'P') return None
    def be32(o: Int): Int =
      ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
        ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
    // pass 1: IHDR
    var off = 8
    var w = 0; var h = 0
    var ok = true
    while (ok && off + 8 <= limit) {
      val len = be32(off)
      // chunk must fit inside the payload: with a reused staging buffer a
      // corrupt length would otherwise read a previous image's stale bytes
      if (len < 0 || off + 12 + len > limit) return None
      if (bytes(off + 4) == 'I' && bytes(off + 5) == 'H' && bytes(off + 6) == 'D' && bytes(off + 7) == 'R') {
        if (off + 21 > limit) return None
        w = be32(off + 8); h = be32(off + 12)
        if (bytes(off + 16) != 8 || bytes(off + 17) != 0 || bytes(off + 20) != 0) return None
        ok = false
      }
      off += 12 + len
    }
    if (w <= 0 || h <= 0) return None
    // IHDR dims are attacker-controlled bytes: without a bound, crafted
    // dims overflow the Int buffer arithmetic ((w+1)*h wraps negative ->
    // NegativeArraySizeException) or allocate hundreds of MB of scratch
    // from a <1KB payload. 2^26 pixels (a 8192x8192 gray raster, 64MB of
    // planes) is far past any real payload; larger claims fall back to
    // ImageIO, which re-validates against the actual data.
    if (w.toLong * h > (1L << 26) || (w.toLong + 1) * h > Int.MaxValue) return None
    val rawLen = (w + 1) * h
    scratch.ensure(rawLen, w * h)
    val raw = scratch.raw
    // pass 2: stream IDAT chunks straight into the inflater (no buffering)
    val inflater = scratch.inflater
    inflater.reset()
    var n = 0
    off = 8
    while (off + 8 <= limit && n < rawLen) {
      val len = be32(off)
      if (len < 0 || off + 12 + len > limit) return None // truncated chunk
      if (bytes(off + 4) == 'I' && bytes(off + 5) == 'D' && bytes(off + 6) == 'A' && bytes(off + 7) == 'T') {
        inflater.setInput(bytes, off + 8, len)
        try {
          while (!inflater.needsInput() && !inflater.finished() && n < rawLen) {
            // a preset-dictionary stream (zlib FDICT) makes inflate()
            // return 0 forever with needsInput()=finished()=false — PNG
            // forbids FDICT, so reject instead of spinning the task
            if (inflater.needsDictionary()) { inflater.reset(); return None }
            n += inflater.inflate(raw, n, rawLen - n)
          }
        } catch {
          // corrupt DEFLATE stream: reject like any other malformed
          // payload (None -> the ImageIO fallback decides: valid
          // non-fast-path images decode there; genuine junk fails LOUDLY
          // with the descriptive error below, by contract — a silent skip
          // would change row counts under the caller)
          case _: java.util.zip.DataFormatException =>
            inflater.reset()
            return None
        }
      }
      off += 12 + len
    }
    if (n != rawLen) return None
    // undo per-row filters (bpp = 1)
    val px = scratch.px
    var y = 0
    while (y < h) {
      val ft = raw(y * (w + 1)) & 0xff
      val ro = y * (w + 1) + 1
      val po = y * w
      var x = 0
      while (x < w) {
        val cur = raw(ro + x) & 0xff
        val a = if (x > 0) px(po + x - 1) & 0xff else 0
        val b = if (y > 0) px(po - w + x) & 0xff else 0
        val c = if (x > 0 && y > 0) px(po - w + x - 1) & 0xff else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + b
          case 3 => cur + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        px(po + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Some((w, h))
  }

  def decodePng(bytes: Array[Byte]): (Array[Byte], Int, Int) =
    decodePngGray(bytes).getOrElse(decodePngImageIO(bytes))

  /** Stage one binary payload off a parquet column vector into the reused
    * scratch buffer; returns the payload length. The zero-copy accessor —
    * `getArray` — is NOT dictionary-aware in Spark's WritableColumnVector:
    * on dictionary-encoded pages the array offsets/lengths are never
    * populated, so it returns 0-length views while `getBinary` (which IS
    * dict-aware) returns the real bytes. A column chunk stays fully
    * dictionary-encoded exactly when its distinct-value footprint is small
    * (tiny files, highly repetitive payloads) — there `getBinary`'s
    * per-row allocation is harmless; everywhere else the zero-copy path
    * runs. Found the hard way: a 100k-image fixture (~390 rows per file
    * after repartition(256)) decoded as all-empty payloads.
    */
  def stagePayload(cv: org.apache.spark.sql.vectorized.ColumnVector, r: Int,
                   scratch: PngScratch): Int = cv match {
    case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
        if w.hasDictionary =>
      val b = w.getBinary(r)
      val buf = scratch.ensurePayload(b.length)
      System.arraycopy(b, 0, buf, 0, b.length)
      b.length
    case _ =>
      val arr = cv.getArray(r)
      val plen = arr.numElements()
      val buf = scratch.ensurePayload(plen)
      var i = 0
      while (i < plen) { buf(i) = arr.getByte(i); i += 1 }
      plen
  }

  private def decodePngImageIO(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    ImageIO.setUseCache(false) // the default disk cache serializes threads
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) {
      // undecodable payload: fail LOUDLY and descriptively (the silent
      // alternative — skipping the row — changes row counts under the
      // caller's feet). ImageIO returns null here, which used to surface
      // as a bare NullPointerException deep in the task.
      val sig = bytes.take(8).map(b => f"${b & 0xff}%02x").mkString
      throw new IllegalArgumentException(
        s"undecodable image payload (${bytes.length} bytes, leading bytes 0x$sig)")
    }
    val w = img.getWidth; val h = img.getHeight
    val gray =
      if (img.getType == BufferedImage.TYPE_BYTE_GRAY) img
      else {
        val g = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        g.getGraphics.drawImage(img, 0, 0, null)
        g
      }
    val px = new Array[Byte](w * h)
    gray.getRaster.getDataElements(0, 0, w, h, px)
    (px, w, h)
  }

  // ---- features ------------------------------------------------------------------

  /** 8x8 average-downsample then 64-bit aHash. */
  def aHash(px: Array[Byte], w: Int, h: Int): Long = {
    val grid = new Array[Int](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val x0 = gx * w / 8; val x1 = ((gx + 1) * w / 8).max(x0 + 1)
        val y0 = gy * h / 8; val y1 = ((gy + 1) * h / 8).max(y0 + 1)
        var s = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += (px(y * w + x) & 0xff); n += 1; x += 1 }
          y += 1
        }
        grid(gy * 8 + gx) = (s / n).toInt
        gx += 1
      }
      gy += 1
    }
    graft.expr.GeoMath.aHash64(grid)
  }

  /** Peak signal-to-noise ratio between two equal-size rasters (dB). */
  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length, "psnr: size mismatch")
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val d = ((a(i) & 0xff) - (b(i) & 0xff)).toDouble
      se += d * d
      i += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 20.0 * math.log10(255.0 / math.sqrt(se / a.length))
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("phash", LongType, nullable = false),
    StructField("mean_lum", DoubleType, nullable = false)))

  /** Fused decode → (dims, phash, mean luminance) in ONE mapPartitions pass.
    * Input df must have (image_id string, bytes binary). At scale this is
    * the only stage that touches pixels; everything downstream works on the
    * extracted features.
    *
    * Runs on the InternalRow plane (`queryExecution.toRdd` in,
    * `internalCreateDataFrame` out): the payload bytes come straight off
    * the Tungsten row and results go back through one per-task
    * UnsafeProjection — no external-Row boxing or CatalystTypeConverters
    * in either direction. At the 3 KB fixture payloads the stage is
    * inflate-bound so this measures as parity (min-of-8: 2.79 s vs 2.75 s
    * for 3M images at 32 threads); the conversion savings grow with row
    * width, and the path is the template for other byte-plane stages.
    */
  def imageFeatures(df: DataFrame): DataFrame =
    decodeFeatures(df.select(col("image_id"), col("bytes")))

  /** General fused decode pass: every column but the LAST (the binary
    * payload) is passed through untouched, so callers with composite
    * identity (video_id + frame_idx) keep real typed columns instead of
    * packing them into a delimited string. Output: passthrough columns ++
    * (w, h, phash, mean_lum).
    */
  def decodeFeatures(in: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}

    val spark = in.sparkSession
    val keyFields = in.schema.fields.dropRight(1)
    val nKeys = keyFields.length
    val outSchema = StructType(keyFields ++ featureSchema.fields.drop(1))
    val keyTypes = keyFields.map(_.dataType)
    val rdd = Bridge.internalRdd(in).mapPartitions { it =>
      val scratch = new PngScratch // one per task: zero-garbage decode loop
      val proj = UnsafeProjection.create(outSchema)
      val out = new GenericInternalRow(nKeys + 4)
      it.map { r: InternalRow =>
        val bytes = r.getBinary(nKeys)
        val (px, w, h) = decodePngGrayInto(bytes, scratch) match {
          case Some((w0, h0)) => (scratch.px, w0, h0)
          case None => decodePngImageIO(bytes)
        }
        var s = 0L; var i = 0
        val len = w * h
        while (i < len) { s += (px(i) & 0xff); i += 1 }
        var ki = 0
        while (ki < nKeys) {
          // copyValue: key values may reference the reused scan buffer
          out.update(ki, InternalRow.copyValue(r.get(ki, keyTypes(ki))))
          ki += 1
        }
        out.setInt(nKeys, w)
        out.setInt(nKeys + 1, h)
        out.setLong(nKeys + 2, aHash(px, w, h))
        out.setDouble(nKeys + 3, s.toDouble / len)
        proj(out).copy(): InternalRow
      }
    }
    Bridge.internalDf(spark, rdd, outSchema)
  }

  /** Columnar variant of [[imageFeatures]]: when the input is a pure
    * column-pruned scan of a columnar source (parquet), decode straight off
    * the `ColumnarBatch` vectors. The row path pays parquet→vector→
    * UnsafeRow→byte[] — TWO full copies of every payload; this path pays
    * vector→byte[] — one. At 32 decode threads the stage is memory-
    * bandwidth-bound, so halving payload traffic is the scaling lever
    * (BENCH_SCALING.md decode). Falls back to [[imageFeatures]] whenever
    * the input isn't a plain scan (filters, computed columns, non-columnar
    * source) — output is identical either way (MediaSpec).
    */
  def imageFeaturesColumnar(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}

    val spark = df.sparkSession
    val in = df.select(col("image_id"), col("bytes"))
    Bridge.columnarScan(in) match {
      case Some((batches, names)) if names.contains("image_id") && names.contains("bytes") =>
        val idIdx = names.indexOf("image_id")
        val byIdx = names.indexOf("bytes")
        val outSchema = featureSchema
        val rdd = batches.mapPartitions { it =>
          val scratch = new PngScratch
          val proj = UnsafeProjection.create(outSchema)
          val out = new GenericInternalRow(5)
          it.flatMap { batch =>
            val idCol = batch.column(idIdx)
            val byCol = batch.column(byIdx)
            (0 until batch.numRows()).iterator.map { r =>
              // stage the payload into a REUSED buffer straight off the
              // column vector (getBinary would allocate a fresh array per
              // image — at 1M img/s that alone is GB/s of garbage);
              // dictionary-encoded pages take getBinary via stagePayload
              val plen = stagePayload(byCol, r, scratch)
              val buf = scratch.payload
              val (px, w, h) = decodePngGrayInto(buf, plen, scratch) match {
                case Some((w0, h0)) => (scratch.px, w0, h0)
                case None => decodePngImageIO(java.util.Arrays.copyOf(buf, plen))
              }
              var s = 0L; var i = 0
              val len = w * h
              while (i < len) { s += (px(i) & 0xff); i += 1 }
              // the projection serializes the id bytes into its own row
              // buffer, so no defensive UTF8String copy; and the produced
              // row follows the physical-operator reuse contract (buffering
              // consumers copy), so no per-row UnsafeRow allocation either —
              // this stage's output path is allocation-free
              out.update(0, idCol.getUTF8String(r))
              out.setInt(1, w)
              out.setInt(2, h)
              out.setLong(3, aHash(px, w, h))
              out.setDouble(4, s.toDouble / len)
              proj(out): InternalRow
            }
          }
        }
        Bridge.internalDf(spark, rdd, outSchema)
      case _ => imageFeatures(df)
    }
  }

  /** Frame sampling as a DataFrame operator over the video model
    * (videoId, frames: array<binary>): posexplode indexes the frames,
    * every k-th survives (the filter lands before any byte is decoded),
    * and the kept payloads ride the same fused InternalRow decode as
    * still images. Only the codec at the bottom is the stub — a real
    * deployment swaps the PNG kernel for a video codec behind identical
    * columns and batch shape.
    * Output: video_id, frame_idx, w, h, phash, mean_lum.
    */
  def sampleFrames(df: DataFrame, idCol: String, framesCol: String, everyK: Int): DataFrame = {
    require(everyK >= 1, s"everyK >= 1: $everyK")
    val exploded = df
      .select(col(idCol).cast("string").as("video_id"),
        posexplode(col(framesCol)).as(Seq("frame_idx", "bytes")))
      .filter(pmod(col("frame_idx"), lit(everyK)) === 0)
    decodeFeatures(exploded) // video_id/frame_idx ride as typed passthrough
  }

  /** Image near-duplicate pairs: fused decode → 64-bit aHash
    * ([[imageFeatures]], the one pixel-touching pass), then EXACT Hamming
    * near-dup pairs via pigeonhole banding
    * ([[graft.dedup.Dedup.hammingNearDupPairs]]) — the image-side analogue
    * of text SimHash dedup. Sub-quadratic: candidates come from a single
    * band-key shuffle of (maxDist+1)·n 16-byte rows, never an all-pairs
    * join, and the result is still exact at the Hamming bar (two images
    * whose aHashes differ in ≤ maxDist of 64 bits). `bucketCap` guards
    * degenerate corpora (e.g. a million copies of one logo) exactly as in
    * LSH banding. Input: (image_id, bytes). Output: id_1, id_2, dist.
    */
  def imageNearDupPairs(df: DataFrame, maxDist: Int,
                        bucketCap: Int = 0): DataFrame =
    graft.dedup.Dedup.hammingNearDupPairs(
      // columnar-capable: identical output (MediaSpec), half the payload
      // copies when the input is a plain parquet scan — same routing as
      // imageNearDupPairsDct via imageEmbeddings
      imageFeaturesColumnar(df).select(col("image_id"), col("phash")),
      "image_id", "phash", maxDist, bits = 64, bucketCap = bucketCap)

  // ---- DCT perceptual hash + image embeddings ----------------------------------

  /** Orthonormal DCT-II basis for N=32, row-major C(u*32+x): the one table
    * both [[dct2]] passes share. α(0)=1/√2 makes the transform orthonormal,
    * so coefficient magnitudes are comparable across frequencies.
    */
  private lazy val Dct32: Array[Double] = {
    val n = 32
    val t = new Array[Double](n * n)
    var u = 0
    while (u < n) {
      val a = math.sqrt(2.0 / n) * (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
      var x = 0
      while (x < n) {
        t(u * n + x) = a * math.cos((2 * x + 1) * u * math.Pi / (2.0 * n))
        x += 1
      }
      u += 1
    }
    t
  }

  /** Average-downsample an arbitrary raster to an n×n double grid (the
    * generalization of [[aHash]]'s 8×8 block averaging; block edges by
    * integer proration, every source pixel charged to exactly one block
    * when w,h ≥ n).
    */
  def downsampleGrid(px: Array[Byte], w: Int, h: Int, n: Int): Array[Double] = {
    val g = new Array[Double](n * n)
    downsampleGridInto(px, w, h, n, g)
    g
  }

  /** [[downsampleGrid]] into a caller-owned buffer (hot path: no alloc). */
  def downsampleGridInto(px: Array[Byte], w: Int, h: Int, n: Int,
                         g: Array[Double]): Unit = {
    var gy = 0
    while (gy < n) {
      var gx = 0
      while (gx < n) {
        val x0 = gx * w / n; val x1 = ((gx + 1) * w / n).max(x0 + 1)
        val y0 = gy * h / n; val y1 = ((gy + 1) * h / n).max(y0 + 1)
        var s = 0L; var c = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += (px(y * w + x) & 0xff); c += 1; x += 1 }
          y += 1
        }
        g(gy * n + gx) = s.toDouble / c
        gx += 1
      }
      gy += 1
    }
  }

  /** Separable 2-D DCT-II of a 32×32 row-major block (orthonormal). */
  def dct2(block: Array[Double]): Array[Double] = {
    val n = 32
    require(block.length == n * n, s"dct2: 32x32 block expected, got ${block.length}")
    val c = Dct32
    val tmp = new Array[Double](n * n) // tmp(y*n+u) = Σ_x C(u,x)·block(y*n+x)
    var y = 0
    while (y < n) {
      var u = 0
      while (u < n) {
        var s = 0.0; var x = 0
        while (x < n) { s += c(u * n + x) * block(y * n + x); x += 1 }
        tmp(y * n + u) = s
        u += 1
      }
      y += 1
    }
    val out = new Array[Double](n * n) // out(v*n+u) = Σ_y C(v,y)·tmp(y*n+u)
    var v = 0
    while (v < n) {
      var u = 0
      while (u < n) {
        var s = 0.0; var yy = 0
        while (yy < n) { s += c(v * n + yy) * tmp(yy * n + u); yy += 1 }
        out(v * n + u) = s
        u += 1
      }
      v += 1
    }
    out
  }

  /** DCT perceptual features of one raster: (64-bit pHash, 64-dim unit
    * embedding), both from ONE 32×32 downsample + 2-D DCT.
    *
    *  - pHash (classic DCT hash): the low-frequency 8×8 coefficient block;
    *    bit i (i>0, row-major (v,u)) set iff coeff(i) > median of the 63
    *    AC coefficients; the DC bit (i=0) is always 0. Unlike [[aHash]]
    *    the threshold is frequency-domain, so local texture survives
    *    global luminance edits: both hash and embedding are EXACTLY
    *    invariant to affine pixel maps a·px+b (a>0) — DC absorbs b, the
    *    median threshold and the L2 normalization absorb a.
    *  - embedding: the same 64 coefficients with DC zeroed, L2-normalized
    *    to a unit float vector (all-zero for flat images) — components in
    *    [-1,1] by construction, which is exactly the contract
    *    [[graft.ann.Ann]]'s factor-100 triangle quantization assumes.
    */
  def dctFeatures(px: Array[Byte], w: Int, h: Int): (Long, Array[Float]) = {
    val s = new DctScratch
    val hash = dctFeaturesInto(px, w, h, s)
    (hash, s.emb.clone())
  }

  /** Reusable per-thread workspace of [[dctFeaturesInto]] — the hot-path
    * form allocates NOTHING per image (3M images × ~25 KB of fresh
    * arrays/image measured as the dominant non-compute cost of the
    * allocating form). After a call, `emb` holds the unit embedding until
    * the next call.
    */
  final class DctScratch {
    val grid = new Array[Double](32 * 32)
    val tmp = new Array[Double](32 * 8)
    val low = new Array[Double](64)
    val ac = new Array[Double](63)
    val emb = new Array[Float](64)
  }

  /** Allocation-free [[dctFeatures]]: returns the pHash, leaves the unit
    * embedding in `s.emb`. Identical math with one structural shortcut:
    * only the 8×8 low-frequency block feeds the hash and embedding, so the
    * separable DCT is TRUNCATED — pass 1 computes u<8 only (32×8 instead
    * of 32×32 sums), pass 2 v<8 only (8×8) — 10k mult-adds per image
    * instead of the full transform's 65k. MediaSpec pins equality of the
    * truncated block against the full [[dct2]]'s corner.
    */
  def dctFeaturesInto(px: Array[Byte], w: Int, h: Int, s: DctScratch): Long = {
    downsampleGridInto(px, w, h, 32, s.grid)
    val c = Dct32
    val n = 32
    // tmp(y*8+u) = Σ_x C(u,x)·grid(y*n+x), u < 8 only
    var y = 0
    while (y < n) {
      var u = 0
      while (u < 8) {
        var sum = 0.0; var x = 0
        while (x < n) { sum += c(u * n + x) * s.grid(y * n + x); x += 1 }
        s.tmp(y * 8 + u) = sum
        u += 1
      }
      y += 1
    }
    // low(v*8+u) = Σ_y C(v,y)·tmp(y*8+u), v < 8 only
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var sum = 0.0; var yy = 0
        while (yy < n) { sum += c(v * n + yy) * s.tmp(yy * 8 + u); yy += 1 }
        s.low(v * 8 + u) = sum
        u += 1
      }
      v += 1
    }
    val low = s.low
    var norm = 0.0
    var i = 1
    while (i < 64) { norm += low(i) * low(i); i += 1 }
    // energy floor: a flat raster's AC coefficients are ~1e-14 cosine-sum
    // residue, not signal — without this guard the median threshold and the
    // L2 normalization amplify numerical noise into a garbage hash/unit
    // vector (MediaSpec pins hash==0, embedding==0 for flat images)
    if (norm <= 1e-12) { java.util.Arrays.fill(s.emb, 0.0f); return 0L }
    System.arraycopy(low, 1, s.ac, 0, 63)
    java.util.Arrays.sort(s.ac)
    val median = s.ac(31) // element 31 of the 63 sorted AC coefficients
    var hash = 0L
    i = 1
    while (i < 64) { if (low(i) > median) hash |= 1L << i; i += 1 }
    val inv = 1.0 / math.sqrt(norm)
    s.emb(0) = 0.0f
    i = 1
    while (i < 64) { s.emb(i) = (low(i) * inv).toFloat; i += 1 }
    hash
  }

  val dctSchema: StructType = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("dct_hash", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Fused decode → DCT pHash + unit embedding in ONE pixel-touching pass
    * (same InternalRow plane as [[decodeFeatures]]). Input:
    * (image_id, bytes). Output: (image_id, dct_hash, embedding) — the
    * bridge from the raw payload column to the engine's fingerprint dedup
    * ([[imageNearDupPairsDct]]) and ANN/cosine operators
    * ([[imageCosineNearDupPairs]], [[graft.ann.Ann.cosineTopK]]).
    */
  def imageEmbeddings(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}

    val spark = df.sparkSession
    val in = df.select(col("image_id"), col("bytes"))

    // Direct UnsafeRow assembly (the shape codegen emits for a struct with
    // an array field): the alternative — GenericInternalRow + projection —
    // BOXES the 64 floats per row (GenericArrayData's float[] ctor copies
    // to Object[]); this path writes them straight into the reused row
    // buffer. Combined with the DctScratch and the buffer-reuse output
    // contract (buffering consumers copy), the whole stage allocates
    // nothing per image.
    abstract class RowFn {
      val scratch = new PngScratch
      val dct = new DctScratch
      private val rowWriter = new UnsafeRowWriter(3)
      private val arrWriter = new UnsafeArrayWriter(rowWriter, 4)
      def emit(id: org.apache.spark.unsafe.types.UTF8String,
                         hash: Long): InternalRow = {
        rowWriter.reset()
        rowWriter.zeroOutNullBytes()
        rowWriter.write(0, id)
        rowWriter.write(1, hash)
        val prev = rowWriter.cursor()
        arrWriter.initialize(64)
        var i = 0
        while (i < 64) { arrWriter.write(i, dct.emb(i)); i += 1 }
        rowWriter.setOffsetAndSizeFromPreviousCursor(2, prev)
        rowWriter.getRow
      }
      def hashOf(buf: Array[Byte], len: Int): Long =
        decodePngGrayInto(buf, len, scratch) match {
          case Some((w0, h0)) => dctFeaturesInto(scratch.px, w0, h0, dct)
          case None =>
            val (px, w, h) = decodePngImageIO(java.util.Arrays.copyOf(buf, len))
            dctFeaturesInto(px, w, h, dct)
        }
    }

    val rdd = Bridge.columnarScan(in) match {
      case Some((batches, names)) if names.contains("image_id") && names.contains("bytes") =>
        // columnar fast path: payload staged into a reused buffer straight
        // off the parquet column vectors (getBinary would allocate per row)
        val idIdx = names.indexOf("image_id")
        val byIdx = names.indexOf("bytes")
        batches.mapPartitions { it =>
          val fn = new RowFn {}
          it.flatMap { batch =>
            val idCol = batch.column(idIdx)
            val byCol = batch.column(byIdx)
            (0 until batch.numRows()).iterator.map { r =>
              val plen = stagePayload(byCol, r, fn.scratch)
              fn.emit(idCol.getUTF8String(r),
                fn.hashOf(fn.scratch.payload, plen)): InternalRow
            }
          }
        }
      case _ =>
        Bridge.internalRdd(in).mapPartitions { it =>
          val fn = new RowFn {}
          it.map { r: InternalRow =>
            val bytes = r.getBinary(1)
            fn.emit(r.getUTF8String(0), fn.hashOf(bytes, bytes.length)): InternalRow
          }
        }
    }
    Bridge.internalDf(spark, rdd, dctSchema)
  }

  /** [[imageNearDupPairs]] over the DCT hash instead of aHash: same exact
    * pigeonhole-banded plan, but the fingerprint is robust to global
    * luminance/contrast edits (see [[dctFeatures]]). Output: id_1, id_2,
    * dist.
    */
  def imageNearDupPairsDct(df: DataFrame, maxDist: Int,
                           bucketCap: Int = 0): DataFrame =
    graft.dedup.Dedup.hammingNearDupPairs(
      imageEmbeddings(df).select(col("image_id"), col("dct_hash")),
      "image_id", "dct_hash", maxDist, bits = 64, bucketCap = bucketCap)

  /** Image dedup DECISION — the modality matrix's third column, the same
    * composition as text ([[graft.dedup.Dedup.dedupeDecision]], q39) and
    * embeddings ([[graft.dedup.Dedup.embeddingDedupeDecision]], q41):
    * fused decode → DCT pHash → EXACT pigeonhole-banded Hamming pairs →
    * convergent connected components → keep-one-per-cluster. The id frame
    * for CC comes straight from the input (no second decode); the pair
    * stage is the only pixel-touching pass. Output: id, cluster, keep —
    * keep = (id is the lexicographic minimum of its near-dup cluster).
    */
  def imageDedupeDecision(df: DataFrame, maxDist: Int,
                          bucketCap: Int = 0): DataFrame = {
    val pairs = imageNearDupPairsDct(df, maxDist, bucketCap)
    graft.dedup.Dedup.clusterLabelsConverged(
      pairs, "id_1", "id_2", df.select(col("image_id")), "image_id")
      .select(col("id"), col("cluster"), (col("id") === col("cluster")).as("keep"))
  }

  /** End-to-end image corpus assembly — the image-axis counterpart of
    * [[graft.text.Corpus.assemble]]: [[imageDedupeDecision]] (decode →
    * DCT pHash → exact banded Hamming → CC → keep-one-per-cluster), then
    * deterministic split assignment and token-budget shard packing from
    * [[graft.text.Corpus]]. String image ids ride the split/pack hash
    * arithmetic as xxhash64 surrogates (deterministic, engine-built-in),
    * with the payload byte length as the packing cost. Output:
    * (image_id, split, bucket, pack) — one row per KEPT image; the
    * whole assignment is a pure function of (id bytes, payload bytes),
    * so re-runs and repartitionings reproduce the corpus exactly.
    */
  def assembleImages(df: DataFrame, maxDist: Int,
                     splits: Seq[(String, Int)], budget: Long, buckets: Int,
                     bucketCap: Int = 0): DataFrame = {
    val keep = imageDedupeDecision(df, maxDist, bucketCap)
      .filter(col("keep")).select(col("id").as("image_id"))
    val kept = df.join(keep, Seq("image_id"), "left_semi")
      .select(col("image_id"),
        xxhash64(col("image_id")).as("__sid"),
        length(col("bytes")).cast("long").as("__cost"))
    val withSplit = graft.text.Corpus.splitAssign(kept, "__sid", splits)
    // image_id as the final order tiebreaker: two distinct string ids CAN
    // collide on the 64-bit surrogate (expected at 10^12 rows), and a
    // tied window order would let arrival order pick their packs
    graft.text.Corpus.packBudget(withSplit, "__sid", "__cost", budget,
        buckets, within = Seq("split"), tieBreak = Seq("image_id"))
      .select(col("image_id"), col("split"), col("bucket"), col("pack"))
  }

  /** Embedding-cosine image near-dup pairs straight from the payload
    * column: fused decode → unit DCT embedding ([[imageEmbeddings]]), then
    * the EXACT distributed triangle block join
    * ([[graft.ann.Ann.embeddingNearDupPairs]], cosine ≥ tauNum/tauDen on
    * factor-100-quantized vectors — that contract holds because the
    * embedding is unit-norm). String image ids ride as deterministic
    * xxhash64 surrogates through the primitive-array kernel and are mapped
    * back by one join against the tiny (surrogate, id) frame; a surrogate
    * collision (≈n²/2⁶⁴) could at worst drop one pair, and the same-id
    * guard inside the kernel means it never fabricates one. Output:
    * id_1, id_2 (strings, id_1 < id_2), dot (quantized integer dot).
    */
  def imageCosineNearDupPairs(df: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val emb = imageEmbeddings(df)
      .select(xxhash64(col("image_id")).as("sid"), col("embedding"))
    val pairs = graft.ann.Ann.embeddingNearDupPairs(
      emb, "sid", "embedding", tauNum, tauDen)
    // surrogate→id map straight off the raw input: deriving it from `emb`
    // would re-execute the fused decode+DCT pass (an opaque RDD plan —
    // nothing prunes the decode out of an id-only projection), so the
    // pipeline's dominant cost would be paid once per join side.
    // ONE canonical id per surrogate (min): without the agg, a surrogate
    // collision would FAN OUT every pair of that sid to each collided id
    // — fabricating pairs that name the wrong image — where the documented
    // contract is at-worst-drop; with it, the collided ids collapse to the
    // representative and only their own pairs are lost
    val ids = df.select(xxhash64(col("image_id")).as("sid"), col("image_id"))
      .groupBy(col("sid")).agg(min(col("image_id")).as("image_id"))
    val named = pairs
      .join(ids.withColumnRenamed("image_id", "n1"), col("id_1") === col("sid")).drop("sid")
      .join(ids.withColumnRenamed("image_id", "n2"), col("id_2") === col("sid")).drop("sid")
    named.select(
      least(col("n1"), col("n2")).as("id_1"),
      greatest(col("n1"), col("n2")).as("id_2"),
      col("dot"))
  }

  /** Per-row decoded-pixel comparison of two payload columns: exact match
    * count and PSNR (the input_hint acceptance invariant). Input:
    * (image_id, bytes_a, bytes_b). Output adds exact:boolean, psnr:double.
    */
  def pixelCompare(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("image_id", StringType, nullable = false),
      StructField("exact", BooleanType, nullable = false),
      StructField("psnr", DoubleType, nullable = false)))
    val rdd = df.select(col("image_id"), col("bytes_a"), col("bytes_b")).rdd.mapPartitions { it =>
      it.map { r =>
        val (pa, _, _) = decodePng(r.getAs[Array[Byte]](1))
        val (pb, _, _) = decodePng(r.getAs[Array[Byte]](2))
        val p = psnr(pa, pb)
        Row(r.getString(0), java.util.Arrays.equals(pa, pb), p)
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}
