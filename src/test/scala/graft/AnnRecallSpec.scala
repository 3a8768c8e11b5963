package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession

/** LSH ANN must approximate the brute-force top-k (recall), and the
  * multimodal pipeline must produce decodable metadata for every document. */
class AnnRecallSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("LSH ANN recall@5 >= 0.6 vs brute force on sf0.001") {
    val brute = graft.queries.Queries.q16AnnCosine(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.functions.AnnLsh.annTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall too low (|brute|=${brute.size}, |lsh|=${lsh.size})")
  }

  test("IVF ANN recall@5 >= 0.6 vs brute force on sf0.001") {
    val brute = graft.queries.Queries.q16AnnCosine(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.functions.AnnIvf.annTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    info(s"IVF recall=$recall (|brute|=${brute.size}, |ivf|=${ivf.size})")
    assert(recall >= 0.6, s"IVF recall $recall too low (|brute|=${brute.size}, |ivf|=${ivf.size})")
  }

  test("multimodal pipeline decodes every blob with sane metadata") {
    import graft.functions.Multimodal
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Multimodal.pipeline(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      val w = r.getAs[Int]("width"); val h = r.getAs[Int]("height")
      assert(w >= 64 && h >= 48)
      assert(r.getAs[Int]("channels") == 3)
      // payload = decoded RGB bytes, container-independent
      assert(r.getAs[Int]("payload_bytes") == w * h * 3)
      // checksum matches an independent row-local decode from source
      val expected = Multimodal.featureChecksum(
        Multimodal.features(Multimodal.decode(Multimodal.synthesizeBlob(docId, texts(docId)))))
      assert(r.getAs[Long]("feature_checksum") == expected)
    }
  }

  test("PPM and BMP codecs round-trip pixel data exactly") {
    import graft.functions.Multimodal
    // width NOT divisible by 4 => BMP row padding is exercised
    val w = 5; val h = 3
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val ppm = Multimodal.decode(Multimodal.encodePpm(w, h, rgb))
    assert((ppm.width, ppm.height, ppm.channels) == ((w, h, 3)))
    assert(ppm.pixels.sameElements(rgb), "PPM round-trip mismatch")
    val bmp = Multimodal.decode(Multimodal.encodeBmp24(w, h, rgb))
    assert((bmp.width, bmp.height, bmp.channels) == ((w, h, 3)))
    assert(bmp.pixels.sameElements(rgb), "BMP round-trip (padding + bottom-up flip) mismatch")
    // features depend on decoded pixels, not on the container encoding
    assert(Multimodal.featureChecksum(Multimodal.features(ppm)) ==
      Multimodal.featureChecksum(Multimodal.features(bmp)))
  }

  test("WAV codec round-trips; audio features from decoded samples") {
    import graft.functions.Multimodal
    val samples = Array.tabulate(1000)(i => ((i * 131 + 7) % 65536 - 32768).toShort)
    val decoded = Multimodal.decodeWav(Multimodal.encodeWav(16000, samples))
    assert(decoded.sampleRate == 16000)
    assert(decoded.samples.sameElements(samples), "WAV PCM16 round-trip mismatch")
    val (rms, zc, durMs) = Multimodal.audioFeatures(decoded)
    assert(durMs == 1000 * 1000 / 16000)
    assert(rms > 0 && zc > 0)
    // synthesized blobs decode with the doc_id-determined parameters
    val blob = Multimodal.synthesizeWav(42L, "some text")
    val a = Multimodal.decodeWav(blob)
    assert(a.sampleRate == Multimodal.sampleRateOf(42L))
    assert(a.samples.length == Multimodal.numSamplesOf(42L))
  }

  test("video frame sampling decodes exactly the strided subset via length seeks") {
    import graft.functions.Multimodal
    val blob = Multimodal.synthesizeVideo(7L, "video doc")
    val n = Multimodal.videoFrameCount(blob)
    assert(n == Multimodal.frameCountOf(7L))
    val all = Multimodal.sampleFrames(blob, 1)
    assert(all.length == n)
    val strided = Multimodal.sampleFrames(blob, 3)
    assert(strided.length == (n + 2) / 3)
    // the sampled frames equal the corresponding full-decode frames
    strided.zipWithIndex.foreach { case (f, i) =>
      assert(f.pixels.sameElements(all(i * 3).pixels), s"frame ${i * 3}")
    }
  }

  test("nearest-neighbor resize: identity at same size, exact corner pixels") {
    import graft.functions.Multimodal
    val w = 8; val h = 6
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 53) % 256).toByte)
    val img = Multimodal.decode(Multimodal.encodePpm(w, h, rgb))
    assert(Multimodal.resizeNearest(img, w, h) eq img)
    val small = Multimodal.resizeNearest(img, 4, 3)
    assert((small.width, small.height) == ((4, 3)))
    // top-left pixel maps to source (0,0)
    assert(small.pixels(0) == rgb(0) && small.pixels(1) == rgb(1) && small.pixels(2) == rgb(2))
    // deterministic: same input -> same bytes
    assert(Multimodal.resizeNearest(img, 4, 3).pixels.sameElements(small.pixels))
  }

  test("codec fuzz: corrupt blobs fail fast, never hang") {
    import graft.functions.Multimodal
    val rnd = new scala.util.Random(42)
    val goodWav = Multimodal.synthesizeWav(3L, "x")
    val goodVid = Multimodal.synthesizeVideo(3L, "x")
    val goodImg = Multimodal.synthesizeBlob(3L, "x")
    val cases = Seq(
      Array.empty[Byte], Array[Byte](1, 2, 3),
      goodWav.take(10), goodWav.map(b => (b ^ 0x5A).toByte),
      goodVid.take(6), goodVid.dropRight(50),
      goodImg.take(3), goodImg.map(b => (b ^ 0x33).toByte)) ++
      (0 until 20).map { _ =>
        val b = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(b); b
      }
    cases.foreach { blob =>
      // decoding corrupt input must terminate promptly with an exception or
      // a result — anything but a hang / unbounded allocation
      def attempt(f: => Any): Unit =
        try { f; () } catch { case _: RuntimeException | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException => () }
      attempt(Multimodal.decodeWav(blob))
      attempt(Multimodal.decode(blob))
      attempt(Multimodal.sampleFrames(blob, 3))
    }
  }

  test("codec fuzz: huge claimed lengths are rejected before allocating") {
    import graft.functions.Multimodal
    def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    // small WAV whose header claims ~Int.MaxValue data bytes: must be a
    // fast require failure, not a ~2GB Array[Short] allocation
    val wav = Multimodal.synthesizeWav(3L, "x").clone()
    putIntLE(wav, 40, Int.MaxValue - 7)
    intercept[IllegalArgumentException](Multimodal.decodeWav(wav))
    // GVID header claiming two billion frames
    val vid = Multimodal.synthesizeVideo(3L, "x").clone()
    putIntLE(vid, 4, Int.MaxValue / 2)
    intercept[IllegalArgumentException](Multimodal.sampleFrames(vid, 3))
    // GVID with a single frame whose length prefix claims ~2GB
    val vid2 = Multimodal.synthesizeVideo(3L, "x").clone()
    putIntLE(vid2, 8, Int.MaxValue - 15)
    intercept[IllegalArgumentException](Multimodal.sampleFrames(vid2, 1))
    // negative lengths are rejected the same way
    val wavNeg = Multimodal.synthesizeWav(3L, "x").clone()
    putIntLE(wavNeg, 40, -8)
    intercept[IllegalArgumentException](Multimodal.decodeWav(wavNeg))
  }

  test("q35 audio/video pipeline checksums match independent row-local recomputation") {
    import graft.functions.Multimodal
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Multimodal.pipelineAV(spark, dir).collect()
    assert(rows.length == 500)
    rows.take(25).foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      val audio = Multimodal.decodeWav(Multimodal.synthesizeWav(docId, texts(docId)))
      assert(r.getAs[Int]("sample_rate") == audio.sampleRate)
      assert(r.getAs[Int]("n_samples") == audio.samples.length)
      assert(r.getAs[Long]("audio_checksum") == Multimodal.audioChecksum(audio))
      val video = Multimodal.synthesizeVideo(docId, texts(docId))
      assert(r.getAs[Int]("n_frames") == Multimodal.videoFrameCount(video))
      assert(r.getAs[Long]("video_checksum") ==
        Multimodal.videoChecksum(Multimodal.sampleFrames(video, 3)))
      val thumb = Multimodal.resizeNearest(
        Multimodal.decode(Multimodal.synthesizeBlob(docId, texts(docId))), 16, 12)
      assert(r.getAs[Long]("thumb_checksum") ==
        Multimodal.featureChecksum(Multimodal.features(thumb)))
    }
  }
}
