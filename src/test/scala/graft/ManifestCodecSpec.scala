package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, TableDoctor, Transcripts}
import graft.spark.ExtractionJob.{FileEntry, LineageRow, Manifest}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Table metadata is JSON read by one real parse: files in the committed
  * layout read back field for field, and a torn or duplicated-key manifest
  * is refused by every reader instead of being served. */
class ManifestCodecSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def write(path: java.nio.file.Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }

  test("hand-written manifest, lineage and publish-intent files in the committed layout parse to their values") {
    val out = Files.createTempDirectory("graft-codec-fixture").toString
    val manifest =
      """{"snapshot_id":3,"committed_buckets":[0,1],"operation":"delta",""" +
        """"schema":"conv_id STRING,turn_idx INT","props":{"k\\slash":"v\\end",""" +
        """"stream.a \"q\" name":"7","x\"fp_mode":"conv"},"bucket_count":2,""" +
        """"delete_dirs":["snap-3-0123abcd"],"fp_mode":"bucket","conv_fps":"fp-3-0123abcd",""" +
        """"input_fps":[{"bucket":0,"fp":-12},{"bucket":1,"fp":34}],""" +
        """"files":[{"bucket":0,"path":"bucket=0/part-0.parquet","row_count":5,"seq":0,""" +
        // a regular literal, so the file holds the escape, not a newline
        "\"min_conv\":\"c\\u000a1\",\"max_conv\":\"c\\\"9\"}," +
        """{"bucket":1,"path":"bucket=1/part-1.parquet","row_count":2,"seq":3}],""" +
        """"committed_at":"2026-01-02T03:04:05.123Z"}"""
    write(Paths.get(out, "snapshots", "snap-3.json"), manifest)
    write(Paths.get(out, "snapshots", "_latest"), "3")
    val want = Manifest(3, Set(0, 1),
      Vector(FileEntry(0, "bucket=0/part-0.parquet", 5, seq = 0,
          minConv = Some("c\n1"), maxConv = Some("c\"9")),
        FileEntry(1, "bucket=1/part-1.parquet", 2, seq = 3)),
      inputFps = Map(0 -> -12L, 1 -> 34L),
      convFpsDir = Some("fp-3-0123abcd"),
      deleteDirs = Vector("snap-3-0123abcd"),
      fpMode = Some("bucket"),
      bucketCount = Some(2),
      operation = "delta",
      props = Map("k\\slash" -> "v\\end", "stream.a \"q\" name" -> "7", "x\"fp_mode" -> "conv"),
      committedAt = "2026-01-02T03:04:05.123Z",
      schemaDdl = "conv_id STRING,turn_idx INT")
    assert(SnapshotManifestFormat.readManifest(out).contains(want))

    write(Paths.get(out, "lineage", "lineage-3.json"),
      "[\n" +
        """{"snapshot_id":3,"bucket":0,"row_count":5,"field_count_sum":40,"extract_ms":17,""" +
        """"committed_at":"2026-01-02T03:04:05.100Z"},""" + "\n" +
        """{"snapshot_id":3,"bucket":1,"row_count":2,"field_count_sum":9,"extract_ms":0,""" +
        """"committed_at":"2026-01-02T03:04:05.101Z"}""" + "\n]")
    assert(SnapshotManifestFormat.readLineage(out, 3) == Vector(
      LineageRow(3, 0, 5, 40, 17, "2026-01-02T03:04:05.100Z"),
      LineageRow(3, 1, 2, 9, 0, "2026-01-02T03:04:05.101Z")))
    // a commit without lineage rows writes an empty list in the same layout
    write(Paths.get(out, "lineage", "lineage-4.json"), "[\n\n]")
    assert(SnapshotManifestFormat.readLineage(out, 4).isEmpty)

    write(SnapshotManifestFormat.publishIntentPath(out, "b"),
      """{"snapshot_id":4,"cherry_pick":true,"delete_dirs":["snap-4-89abcdef"],""" +
        """"conv_fps_dir":"fp-4-89abcdef","files":["bucket=1/part-2.parquet"]}""")
    assert(SnapshotManifestFormat.readPublishIntent(out, "b").contains(
      SnapshotManifestFormat.PublishIntent(4, cherryPick = true, Vector("snap-4-89abcdef"),
        Some("fp-4-89abcdef"), Vector("bucket=1/part-2.parquet"))))
  }

  test("a torn, empty or duplicated-key head manifest is refused by every reader and reported by the doctor") {
    val out = Files.createTempDirectory("graft-codec-torn").toString
    ExtractionJob.run(spark, Transcripts.generate(spark, 6),
      ExtractionJob.Config(out, buckets = 2, waves = 1))
    val head = SnapshotManifestFormat.latestSnapshot(out).get
    val manPath = Paths.get(out, "snapshots", s"snap-$head.json")
    val good = new String(Files.readAllBytes(manPath), StandardCharsets.UTF_8)
    assert(good.endsWith("}") && good.contains("\"operation\":\"append\","))
    val file = s"snap-$head.json"
    // a per-key regex read accepts both: the torn one as intact, the
    // duplicated one first-match-wins
    val broken = Seq(
      "torn" -> good.dropRight(1),
      "empty" -> "",
      "duplicated" -> good.replace("\"operation\":\"append\",",
        "\"operation\":\"append\",\"operation\":\"delta\","))
    for ((shape, text) <- broken) {
      write(manPath, text)
      def refused(reader: String)(read: => Any): Unit = {
        val e = intercept[IllegalStateException](read)
        assert(e.getMessage.contains(file), s"$shape manifest, $reader: ${e.getMessage}")
      }
      refused("readManifest")(ExtractionJob.readManifest(out))
      refused("readCommitted")(ExtractionJob.readCommitted(spark, out))
      refused("committedBuckets")(SnapshotManifestFormat.committedBuckets(out))
      val rep = TableDoctor.diagnose(out)
      assert(rep.errors.exists(f => f.check == "manifest-format" && f.detail.contains(file)),
        s"$shape manifest: ${rep.render}")
    }
    // the intact bytes read again
    write(manPath, good)
    assert(ExtractionJob.readManifest(out).exists(_.operation == "append"))
  }
}
