package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, TableDoctor, Transcripts}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** `--doctor` table integrity report: detects every corruption shape a
  * reader would trip on (missing files, row-count drift, dangling head
  * pointer), classifies crash remnants the way the recovery paths do,
  * and stays driver-side/manifest-sized (footers only, never data). */
class DoctorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Hadoop's local FS verifies `.crc` sidecars: after tampering with a
    * file's bytes the sidecar must go, or every read reports checksum
    * failure instead of the corruption shape under test. */
  private def dropCrc(p: Path): Unit = {
    Files.deleteIfExists(p.getParent.resolve("." + p.getFileName.toString + ".crc")); ()
  }

  private def dataFiles(out: String): Vector[Path] = {
    val s = Files.walk(Paths.get(out, "data"))
    try s.filter(_.getFileName.toString.endsWith(".parquet"))
      .toArray.toVector.map(_.asInstanceOf[Path])
    finally s.close()
  }

  test("healthy table is ok; corruptions and remnants are found and classified") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-doctor").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 10)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val head = SnapshotManifestFormat.latestSnapshot(out).get

    // healthy: no errors, footer counts verified for every head file
    val healthy = TableDoctor.diagnose(out)
    assert(healthy.ok, healthy.render)
    assert(healthy.head.contains(head))
    assert(healthy.info("footer_checked") == healthy.info("head_files"))
    assert(healthy.info("orphan_data_files") == 0L)
    assert(healthy.render.startsWith("""{"ok":true"""))

    // footer cap is honored AND reported, never silent
    val capped = TableDoctor.diagnose(out, maxFooterChecks = 1)
    assert(capped.ok && capped.info("footer_checked") == 1L)
    assert(capped.warnings.exists(_.check == "footer-cap"))

    // an orphan data file and a crashed-stage remnant: warnings, still ok
    val bucketDir = dataFiles(out).head.getParent
    Files.copy(dataFiles(out).head,
      bucketDir.resolve("part-orphan-deadbeef.c000.snappy.parquet"))
    Files.write(Paths.get(out, "snapshots", "branch-ghost"),
      s"${head + 1} deadbeef".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(Paths.get(out, "snapshots", "publish-intent-gone.json"),
      """{"snapshot_id":1,"cherry_pick":true,"delete_dirs":[],"files":[]}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val warned = TableDoctor.diagnose(out)
    assert(warned.ok, warned.render)
    assert(warned.info("orphan_data_files") == 1L)
    assert(warned.info("branch_remnants") == 1L)
    assert(warned.warnings.exists(_.check == "branch-remnant"))
    assert(warned.warnings.exists(_.check == "intent-marker"))

    // a pending branch with an intact stage counts as pending, not remnant
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val v = convs.head
    val edit = turns.map(t => if (t.conv_id == v) t.copy(text = t.text + "\nWard: 3") else t)
    assert(ExtractionJob.run(spark, edit, cfg.copy(toBranch = Some("pend"))).nonEmpty)
    assert(TableDoctor.diagnose(out).info("pending_branches") == 1L)
    SnapshotManifestFormat.abandonBranch(out, "pend")
    SnapshotManifestFormat.abandonBranch(out, "ghost")

    // row-count drift: a head-listed file replaced by a valid parquet
    // with a different row count (silent data corruption a plain
    // existence check cannot see)
    val man = ExtractionJob.readManifest(out).get
    val byCount = man.files.sortBy(_.rowCount)
    if (byCount.head.rowCount != byCount.last.rowCount) {
      val victim = Paths.get(out, "data", byCount.head.path)
      val donor = Paths.get(out, "data", byCount.last.path)
      val saved = Files.readAllBytes(victim)
      Files.copy(donor, victim, StandardCopyOption.REPLACE_EXISTING)
      dropCrc(victim)
      val drift = TableDoctor.diagnose(out)
      assert(!drift.ok && drift.errors.exists(_.check == "row-count"), drift.render)
      Files.write(victim, saved)
      dropCrc(victim)
    }

    // a missing head-referenced data file is an error a reader trips on
    val victim2 = Paths.get(out, "data", man.files.head.path)
    val saved2 = Files.readAllBytes(victim2)
    Files.delete(victim2)
    val broken = TableDoctor.diagnose(out)
    assert(!broken.ok && broken.errors.exists(_.check == "head-data-file"), broken.render)
    Files.write(victim2, saved2)
    dropCrc(victim2)

    // a dangling head pointer is an error
    Files.write(Paths.get(out, "snapshots", "_latest"),
      "999".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dangling = TableDoctor.diagnose(out)
    assert(!dangling.ok && dangling.errors.exists(_.check == "head-pointer"), dangling.render)

    // GARBAGE metadata must become error findings, never crash the
    // doctor — it exists to report exactly these tables
    Files.write(Paths.get(out, "snapshots", "_latest"),
      "not-a-number".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val garbage = TableDoctor.diagnose(out)
    assert(!garbage.ok && garbage.errors.exists(f =>
      f.check == "head-pointer" && f.detail.contains("parse")), garbage.render)
    Files.write(Paths.get(out, "snapshots", "_latest"),
      head.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(Paths.get(out, "snapshots", "branch-bad"),
      "garbage ref".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val badRef = TableDoctor.diagnose(out)
    assert(!badRef.ok && badRef.errors.exists(_.check == "branch-ref"), badRef.render)
    Files.delete(Paths.get(out, "snapshots", "branch-bad"))

    assert(TableDoctor.diagnose(out).ok)
  }

  test("a manifest in an older layout is an error finding, never a throw") {
    val out = Files.createTempDirectory("graft-doctor-old").toString
    ExtractionJob.run(spark, Transcripts.generate(spark, 6),
      ExtractionJob.Config(out, buckets = 2, waves = 1))
    val head = SnapshotManifestFormat.latestSnapshot(out).get
    // the pre-file-list layout: no files, delete_dirs, operation or schema
    Files.write(Paths.get(out, "snapshots", s"snap-$head.json"),
      s"""{"snapshot_id":$head,"committed_buckets":[0,1],"committed_at":"x"}""".getBytes)
    val rep = TableDoctor.diagnose(out)
    assert(!rep.ok && rep.errors.exists(f => f.check == "manifest-format" &&
      f.detail.contains(s"snap-$head.json") && f.detail.contains("not migrated")), rep.render)
    // the head pointer still names an existing file: not reported as missing
    assert(!rep.errors.exists(_.check == "head-pointer"), rep.render)
  }

  test("doctor runs from the CLI as a metadata mode") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-doctor-cli").toString
    val in = Files.createTempDirectory("graft-doctor-in").toString + "/turns"
    Transcripts.generate(spark, 6).write.parquet(in)
    JobMain.main(Array(in, out, "2", "1", "--conv-grained"))
    JobMain.main(Array(in, out, "--doctor"))
    // composing with another mode flag is refused, not silently dropped
    intercept[IllegalArgumentException] {
      JobMain.main(Array(in, out, "--doctor", "--history"))
    }
  }
}
