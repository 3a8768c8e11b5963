package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder brief): image/audio/video as opaque
  * `binary` columns with typed metadata, batch-shaped decode/feature-extract.
  *
  * The decode step is REAL: blobs are genuine image containers (binary PPM
  * `P6` and 24-bit uncompressed BMP — both fully specified public formats
  * parseable without external codecs), and `decode` dispatches on the
  * container magic, parses the header, and materializes the RGB pixel data
  * (BMP rows are 4-byte padded and stored bottom-up; the decoder strips the
  * padding and restores top-down row-major order). Features are computed
  * from the decoded pixels, not from the container bytes, so swapping in a
  * JPEG/PNG codec later changes only the `decode` dispatch table.
  *
  * Spark-side contract: schema (blob + metadata struct), partition-preserving
  * batched processing via mapPartitions (the Scala analog of mapInPandas'
  * batch shape), and a fixed-width feature vector per asset.
  */
object Multimodal {

  /** Image dimensions are deterministic functions of doc_id (and therefore
    * independently recomputable by the DuckDB oracle); pixel CONTENT is a
    * deterministic function of (doc_id, text) via a splitmix64 stream, so
    * the feature vector genuinely depends on decoding the payload.
    */
  def widthOf(docId: Long): Int = 64 + (docId % 8).toInt * 16
  def heightOf(docId: Long): Int = 48 + (docId % 5).toInt * 16

  private def textSeed(text: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < text.length) { h = (h ^ text.charAt(i)) * 0x100000001B3L; i += 1 }
    h
  }

  private final class SplitMix(seed: Long) {
    private var s = seed
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextByte(): Byte = (next() >>> 56).toByte
  }

  private def pixelsOf(docId: Long, text: String, w: Int, h: Int): Array[Byte] = {
    val px = new Array[Byte](w * h * 3)
    val rng = new SplitMix(docId * 0x9E3779B97F4A7C15L ^ textSeed(text))
    var i = 0
    while (i < px.length) { px(i) = rng.nextByte(); i += 1 }
    px
  }

  /** Synthesize a REAL image container for a document: docs alternate between
    * binary PPM (P6) and 24-bit BMP so the decoder's format dispatch is
    * exercised on every batch. Pixel bytes are RGB row-major top-down before
    * encoding.
    */
  def synthesizeBlob(docId: Long, text: String): Array[Byte] = {
    val w = widthOf(docId); val h = heightOf(docId)
    val px = pixelsOf(docId, text, w, h)
    if (docId % 3 == 0) encodeBmp24(w, h, px) else encodePpm(w, h, px)
  }

  // ---- PPM (portable pixmap, binary P6) ----

  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3)
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  /** Parse binary PPM: `P6` magic, whitespace/comment-separated width,
    * height, maxval tokens, single whitespace, then w*h*3 raw RGB bytes. */
  def decodePpm(blob: Array[Byte]): Decoded = {
    require(blob.length >= 2 && blob(0) == 'P' && blob(1) == '6', "not a P6 PPM")
    var i = 2
    def nextInt(): Int = {
      // skip whitespace and `#` comment lines (part of the PPM spec)
      var inComment = false
      while (i < blob.length && (inComment || blob(i) == '#' ||
        Character.isWhitespace(blob(i)))) {
        if (blob(i) == '#') inComment = true
        else if (blob(i) == '\n') inComment = false
        i += 1
      }
      var v = 0
      while (i < blob.length && blob(i) >= '0' && blob(i) <= '9') {
        v = v * 10 + (blob(i) - '0'); i += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    require(maxval == 255, s"unsupported PPM maxval $maxval")
    i += 1 // the single whitespace byte after maxval
    val px = java.util.Arrays.copyOfRange(blob, i, i + w * h * 3)
    Decoded(w, h, 3, px)
  }

  // ---- BMP (Windows bitmap, uncompressed 24-bit, BITMAPINFOHEADER) ----

  def encodeBmp24(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3)
    val rowSize = (w * 3 + 3) & ~3 // rows padded to 4-byte boundaries
    val dataSize = rowSize * h
    val bb = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(54 + dataSize).putInt(0).putInt(54) // file size, reserved, data offset
    bb.putInt(40).putInt(w).putInt(h)             // info header size, dims
    bb.putShort(1).putShort(24)                   // planes, bpp
    bb.putInt(0).putInt(dataSize)                 // BI_RGB, image size
    bb.putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, palette
    // pixel data: bottom-up rows, BGR order, padded
    var row = h - 1
    while (row >= 0) {
      var x = 0
      while (x < w) {
        val p = (row * w + x) * 3
        bb.put(rgb(p + 2)).put(rgb(p + 1)).put(rgb(p)) // B, G, R
        x += 1
      }
      var pad = rowSize - w * 3
      while (pad > 0) { bb.put(0.toByte); pad -= 1 }
      row -= 1
    }
    bb.array()
  }

  def decodeBmp24(blob: Array[Byte]): Decoded = {
    require(blob.length >= 54 && blob(0) == 'B' && blob(1) == 'M', "not a BMP")
    val bb = java.nio.ByteBuffer.wrap(blob).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOffset = bb.getInt(10)
    val w = bb.getInt(18)
    val hRaw = bb.getInt(22)
    val bpp = bb.getShort(28)
    val compression = bb.getInt(30)
    require(bpp == 24 && compression == 0, s"unsupported BMP variant bpp=$bpp comp=$compression")
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    val rowSize = (w * 3 + 3) & ~3
    val px = new Array[Byte](w * h * 3)
    var row = 0
    while (row < h) {
      val srcRow = if (bottomUp) h - 1 - row else row
      var x = 0
      while (x < w) {
        val src = dataOffset + srcRow * rowSize + x * 3
        val dst = (row * w + x) * 3
        px(dst) = blob(src + 2)     // R
        px(dst + 1) = blob(src + 1) // G
        px(dst + 2) = blob(src)     // B
        x += 1
      }
      row += 1
    }
    Decoded(w, h, 3, px)
  }

  /** Decoded image: RGB row-major top-down pixel bytes plus dimensions. */
  final case class Decoded(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  /** Format dispatch on container magic — the codec registry shape a real
    * JPEG/PNG decoder would slot into. */
  def decode(blob: Array[Byte]): Decoded =
    if (blob.length >= 2 && blob(0) == 'B' && blob(1) == 'M') decodeBmp24(blob)
    else decodePpm(blob)

  /** Feature extraction over DECODED pixels (8-dim): global mean R/G/B/luma
    * plus per-quadrant mean luma — a classic cheap image descriptor. Values
    * are x1000-quantized means, deterministic across platforms (integer
    * arithmetic until the final division).
    */
  def features(img: Decoded): Array[Float] = {
    val w = img.width; val h = img.height; val px = img.pixels
    val sums = new Array[Long](3)         // global R/G/B sums
    val quad = new Array[Long](4)         // per-quadrant luma sums (x1000)
    val quadN = new Array[Long](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        val r = px(p) & 0xFF; val g = px(p + 1) & 0xFF; val b = px(p + 2) & 0xFF
        sums(0) += r; sums(1) += g; sums(2) += b
        val luma = 299L * r + 587L * g + 114L * b // x1000 integer luma
        val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
        quad(q) += luma; quadN(q) += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val lumaAll = 299L * sums(0) + 587L * sums(1) + 114L * sums(2)
    val out = new Array[Float](8)
    out(0) = (sums(0) * 1000 / n) / 1000.0f
    out(1) = (sums(1) * 1000 / n) / 1000.0f
    out(2) = (sums(2) * 1000 / n) / 1000.0f
    out(3) = (lumaAll / n) / 1000000.0f
    var q = 0
    while (q < 4) { out(4 + q) = (quad(q) / math.max(1L, quadN(q))) / 1000000.0f; q += 1 }
    out
  }

  /** Deterministic 64-bit checksum of a feature vector (bit-exact: folds the
    * IEEE-754 bits, not the float values). The driver-facing query returns
    * this scalar instead of the raw Array[Float] — float arrays are not
    * hashable by the oracle harness — while `features` stays available for
    * internal pipelines (q23-style ANN over the feature column).
    */
  def featureChecksum(feats: Array[Float]): Long = {
    var cs = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < feats.length) {
      cs = (cs ^ java.lang.Float.floatToIntBits(feats(i)).toLong) * 0x100000001B3L
      i += 1
    }
    cs
  }

  // ---- resize (nearest neighbor; deterministic, codec-free) ----

  /** Nearest-neighbor resize of a decoded image — the brief's `resize` step.
    * Pure function of the pixel grid; identity when dimensions match. */
  def resizeNearest(img: Decoded, newW: Int, newH: Int): Decoded = {
    if (newW == img.width && newH == img.height) return img
    val out = new Array[Byte](newW * newH * 3)
    var y = 0
    while (y < newH) {
      val sy = (y.toLong * img.height / newH).toInt
      var x = 0
      while (x < newW) {
        val sx = (x.toLong * img.width / newW).toInt
        val src = (sy * img.width + sx) * 3
        val dst = (y * newW + x) * 3
        out(dst) = img.pixels(src)
        out(dst + 1) = img.pixels(src + 1)
        out(dst + 2) = img.pixels(src + 2)
        x += 1
      }
      y += 1
    }
    Decoded(newW, newH, 3, out)
  }

  // ---- audio: WAV (RIFF) PCM16 mono — a fully specified public format ----

  final case class DecodedAudio(sampleRate: Int, samples: Array[Short])

  /** Audio parameters are deterministic functions of doc_id (SQL-oracle-
    * recomputable); sample CONTENT derives from (doc_id, text). */
  def sampleRateOf(docId: Long): Int = 8000 + (docId % 4).toInt * 4000
  def numSamplesOf(docId: Long): Int = 1600 + (docId % 7).toInt * 800

  private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }
  private def getIntLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = new Array[Byte](44 + dataLen)
    b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
    putIntLE(b, 4, 36 + dataLen)
    b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'
    b(12) = 'f'; b(13) = 'm'; b(14) = 't'; b(15) = ' '
    putIntLE(b, 16, 16)      // fmt chunk size
    b(20) = 1; b(21) = 0     // PCM
    b(22) = 1; b(23) = 0     // mono
    putIntLE(b, 24, sampleRate)
    putIntLE(b, 28, sampleRate * 2) // byte rate
    b(32) = 2; b(33) = 0     // block align
    b(34) = 16; b(35) = 0    // bits per sample
    b(36) = 'd'; b(37) = 'a'; b(38) = 't'; b(39) = 'a'
    putIntLE(b, 40, dataLen)
    var i = 0
    while (i < samples.length) {
      b(44 + i * 2) = samples(i).toByte
      b(45 + i * 2) = (samples(i) >> 8).toByte
      i += 1
    }
    b
  }

  def decodeWav(blob: Array[Byte]): DecodedAudio = {
    require(blob.length >= 44 && blob(0) == 'R' && blob(1) == 'I' &&
      blob(8) == 'W' && blob(12) == 'f', "not a RIFF/WAVE PCM blob")
    val sampleRate = getIntLE(blob, 24)
    val dataLen = getIntLE(blob, 40)
    // bound the declared length against the actual blob BEFORE allocating:
    // a corrupt header claiming ~Int.MaxValue must fail fast, not OOM
    require(dataLen >= 0 && 44L + dataLen <= blob.length,
      s"WAV data length $dataLen exceeds blob (${blob.length} bytes)")
    require(sampleRate > 0, s"invalid WAV sample rate $sampleRate")
    val n = dataLen / 2
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = ((blob(44 + i * 2) & 0xFF) | (blob(45 + i * 2) << 8)).toShort
      i += 1
    }
    DecodedAudio(sampleRate, out)
  }

  def synthesizeWav(docId: Long, text: String): Array[Byte] = {
    val n = numSamplesOf(docId)
    val rng = new SplitMix(textSeed(text) ^ (docId * 0x9E3779B97F4A7C15L))
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) { samples(i) = (rng.next() >>> 48).toShort; i += 1 }
    encodeWav(sampleRateOf(docId), samples)
  }

  /** (rms scaled x1000 as long, zero-crossing count, duration ms) — computed
    * from the DECODED samples. Duration is integer ms (n*1000/rate). */
  def audioFeatures(a: DecodedAudio): (Long, Int, Int) = {
    var sum2 = 0.0
    var zc = 0
    var i = 0
    while (i < a.samples.length) {
      val v = a.samples(i).toDouble
      sum2 += v * v
      if (i > 0 && ((a.samples(i - 1) < 0) != (a.samples(i) < 0))) zc += 1
      i += 1
    }
    val rms = if (a.samples.isEmpty) 0.0 else math.sqrt(sum2 / a.samples.length)
    (math.round(rms * 1000), zc, (a.samples.length.toLong * 1000 / a.sampleRate).toInt)
  }

  def audioChecksum(a: DecodedAudio): Long = {
    var cs = 0xcbf29ce484222325L
    var i = 0
    while (i < a.samples.length) {
      cs = (cs ^ (a.samples(i) & 0xFFFFL)) * 0x100000001B3L
      i += 1
    }
    cs ^ a.sampleRate
  }

  // ---- video: length-prefixed frame container + frame sampling ----

  /** Frame count is a deterministic function of doc_id. */
  def frameCountOf(docId: Long): Int = 8 + (docId % 5).toInt * 4

  /** Container: "GVID" magic, int32 frame count, then per frame an int32
    * byte length followed by a PPM-encoded frame. The length prefixes are
    * the point: frame sampling SEEKS past unsampled frames without decoding
    * them (the batch-shape analog of keyframe-only video reads). */
  def synthesizeVideo(docId: Long, text: String): Array[Byte] = {
    val frames = frameCountOf(docId)
    val rng = new SplitMix(textSeed(text) ^ docId)
    val encoded = (0 until frames).map { f =>
      val w = 16; val h = 12
      val rgb = new Array[Byte](w * h * 3)
      var i = 0
      while (i < rgb.length) { rgb(i) = rng.nextByte(); i += 1 }
      encodePpm(w, h, rgb)
    }
    val total = 8 + encoded.map(_.length + 4).sum
    val b = new Array[Byte](total)
    b(0) = 'G'; b(1) = 'V'; b(2) = 'I'; b(3) = 'D'
    putIntLE(b, 4, frames)
    var off = 8
    encoded.foreach { fr =>
      putIntLE(b, off, fr.length)
      System.arraycopy(fr, 0, b, off + 4, fr.length)
      off += 4 + fr.length
    }
    b
  }

  def videoFrameCount(blob: Array[Byte]): Int = {
    require(blob.length >= 8 && blob(0) == 'G' && blob(1) == 'V', "not a GVID blob")
    val n = getIntLE(blob, 4)
    // each frame costs at least a 4-byte length prefix, so a valid count is
    // bounded by the blob size — rejects corrupt headers claiming billions
    require(n >= 0 && 8L + 4L * n <= blob.length, s"GVID frame count $n exceeds blob")
    n
  }

  /** Decode every `stride`-th frame (0, stride, 2*stride, …); other frames
    * are skipped via their length prefix — no decode cost for them. */
  def sampleFrames(blob: Array[Byte], stride: Int): Vector[Decoded] = {
    val frames = videoFrameCount(blob)
    val out = Vector.newBuilder[Decoded]
    var off = 8
    var f = 0
    while (f < frames) {
      require(off + 4 <= blob.length, s"truncated GVID blob at frame $f")
      val len = getIntLE(blob, off)
      // bound each declared frame length before allocating (corrupt prefix
      // claiming ~2GB must fail fast, not OutOfMemoryError)
      require(len >= 0 && off + 4L + len <= blob.length,
        s"GVID frame $f length $len exceeds blob (${blob.length} bytes)")
      if (f % stride == 0) {
        val fr = new Array[Byte](len)
        System.arraycopy(blob, off + 4, fr, 0, len)
        out += decodePpm(fr)
      }
      off += 4 + len
      f += 1
    }
    out.result()
  }

  def videoChecksum(frames: Seq[Decoded]): Long = {
    var cs = 0xcbf29ce484222325L
    frames.foreach { fr =>
      val feats = features(fr)
      cs = (cs ^ featureChecksum(feats)) * 0x100000001B3L
    }
    cs
  }

  /** Audio/video/thumbnail pipeline over the documents table (q35):
    * synthesize WAV + GVID blobs, REAL decode, frame-sample stride 3,
    * 16x12 nearest-neighbor thumbnail of the image blob. Metadata columns
    * (sample_rate, n_samples, duration_ms, n_frames, sampled_frames) are
    * pure functions of doc_id — the DuckDB oracle recomputes them in SQL;
    * the three checksums (which require decoding) are verified via the
    * dumped output, exactly the q24 pattern.
    */
  def pipelineAV(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // decode work is pure per-row CPU: spread an under-parallel scan
    // (tiny/unsplittable input files) before the batched decode stage
    val docs = graft.queries.Queries.spread(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
    docs.mapPartitions { it =>
      it.map { case (docId, text) =>
        val audio = decodeWav(synthesizeWav(docId, text))
        val (_, _, durationMs) = audioFeatures(audio)
        val video = synthesizeVideo(docId, text)
        val sampled = sampleFrames(video, 3)
        val thumb = resizeNearest(decode(synthesizeBlob(docId, text)), 16, 12)
        (docId, audio.sampleRate, audio.samples.length, durationMs,
          videoFrameCount(video), sampled.length,
          audioChecksum(audio), videoChecksum(sampled),
          featureChecksum(features(thumb)))
      }
    }.toDF("doc_id", "sample_rate", "n_samples", "duration_ms", "n_frames",
        "sampled_frames", "audio_checksum", "video_checksum", "thumb_checksum")
      .orderBy("doc_id")
  }

  /** The multimodal pipeline over the documents table: synthesize blob column
    * -> batched REAL decode (mapPartitions keeps the batch shape; no per-row
    * UDF dispatch) -> metadata struct + feature vector. At 100 TB the blob
    * column lives in parquet; only metadata and features shuffle. The
    * driver-facing output carries a bigint checksum of the feature vector
    * (deterministic, hashable) rather than the raw float array.
    *
    * payload_bytes = decoded RGB byte count (w*h*3), a container-independent
    * definition that the DuckDB oracle recomputes from doc_id alone; the
    * feature checksum (which requires the actual pixel decode) is verified
    * via the dumped output (oracle-the-downstream).
    */
  def pipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same spread rationale as pipelineAV: the decode is the hot loop
    val docs = graft.queries.Queries.spread(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
    docs.mapPartitions { it =>
      it.map { case (docId, text) =>
        val blob = synthesizeBlob(docId, text)
        val img = decode(blob)
        val feats = features(img)
        (docId, img.width, img.height, img.channels, img.pixels.length,
          featureChecksum(feats))
      }
    }.toDF("doc_id", "width", "height", "channels", "payload_bytes", "feature_checksum")
      .orderBy("doc_id")
  }
}
