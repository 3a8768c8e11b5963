package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.Files

/** Partition evolution: `rebucket` rewrites the table under a new hash
  * modulus as one replacing snapshot, re-keys the conv-fp sidecar so
  * conversation-grained diffing keeps working, and the batch run treats
  * the recorded modulus as authoritative thereafter. */
class RebucketSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fmt = SnapshotManifestFormat

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

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String)] =
    df.select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  test("rebucket preserves content, re-keys incremental state, and later runs follow the new modulus") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-rebucket").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 20)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val before = rows(ExtractionJob.readCommitted(spark, out))

    // leave a pending equality delete so the rewrite must apply it
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nrb") else t)
    assert(ExtractionJob.run(spark, v1, cfg) .nonEmpty)
    assert(fmt.readManifest(out).get.deleteDirs.nonEmpty, "precondition: pending deletes")
    val want = rows(ExtractionJob.readCommitted(spark, out))

    val snap = ExtractionJob.rebucket(spark, out, 8)
    val man = fmt.readManifest(out).get
    assert(man.snapshotId == snap)
    assert(man.bucketCount.contains(8))
    assert(man.operation == "rewrite")
    assert(man.deleteDirs.isEmpty, "the rewrite applies pending deletes")
    assert(rows(ExtractionJob.readCommitted(spark, out)) == want,
      "rebucket must not change served content")
    // every file actually lives under its conversation's NEW hash bucket
    man.files.foreach { f =>
      assert(f.bucket >= 0 && f.bucket < 8, s"file outside new modulus: $f")
    }
    // keyed read prunes with the new modulus
    val keyed = SnapshotManifestFormat.readCommittedForConvs(spark, out, Seq(victim))
    assert(keyed.count() > 0)
    assert(keyed.collect().forall(_.getAs[String]("conv_id") == victim))

    // rebucket to the current modulus is a no-op
    assert(ExtractionJob.rebucket(spark, out, 8) == snap)
    assert(fmt.readManifest(out).get.snapshotId == snap)

    // an incremental run AFTER rebucket: one changed conversation delta-
    // updates under the new modulus even when the caller passes the OLD
    // bucket count (the recorded modulus is authoritative)
    val victim2 = turns.select("conv_id").as[String].collect().last
    val v2 = v1.map(t => if (t.conv_id == victim2) t.copy(text = t.text + "\nrb2") else t)
    val updated = ExtractionJob.run(spark, v2, cfg) // cfg still says buckets = 4
    assert(updated == Set(ExtractionJob.bucketOfConvId(victim2, 8)),
      s"delta must target the new-modulus bucket, got $updated")
    assert(fmt.readManifest(out).get.bucketCount.contains(8))
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, v2).toDF()))

    // CDC refuses across the replacing rebucket commit
    val e = intercept[IllegalStateException] {
      SnapshotManifestFormat.readAppendsBetween(spark, out, snap - 1, snap + 1).count()
    }
    assert(e.getMessage.contains("replacing commit"), e.getMessage)
  }

  test("rebucket on a table without incremental state drops stale bucket-mode fingerprints") {
    val out = Files.createTempDirectory("graft-rebucket-fp").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 1, fingerprintInputs = true)
    val turns = Transcripts.generate(spark, 10)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    assert(fmt.readManifest(out).get.inputFps.nonEmpty)
    ExtractionJob.rebucket(spark, out, 2)
    val man = fmt.readManifest(out).get
    // old-modulus bucket fingerprints are incomparable — must be dropped
    assert(man.inputFps.isEmpty && man.fpMode.isEmpty)
    // the next fingerprinted run re-baselines without recomputing content
    // wrongly: content still matches a fresh extraction
    assert(ExtractionJob.readCommitted(spark, out).count() ==
      ExtractionJob.extract(spark, turns).count())
  }

  test("after rebucket drops fps, the next fingerprinted run re-baselines so future input changes are detected") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-rebucket-rebase").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, fingerprintInputs = true)
    val turns = Transcripts.generate(spark, 25)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val snap = ExtractionJob.rebucket(spark, out, 8)
    assert(fmt.readManifest(out).get.inputFps.isEmpty)

    // unchanged rerun: recomputes nothing, but commits a metadata-only
    // BASELINE snapshot recording the current input's fps under the NEW
    // modulus — without it, every future input change would be invisible
    assert(ExtractionJob.run(spark, turns, cfg) == Set.empty)
    val man = fmt.readManifest(out).get
    assert(man.snapshotId == snap + 1 && man.operation == "props",
      s"expected a props-only baseline commit, got ${man.operation} @ ${man.snapshotId}")
    assert(man.inputFps.nonEmpty && man.fpMode.contains("bucket"))
    assert(man.files.toSet == fmt.readManifestAt(out, snap).get.files.toSet,
      "the baseline must not touch data")

    // a second unchanged rerun is a full no-op (no baseline churn)
    assert(ExtractionJob.run(spark, turns, cfg) == Set.empty)
    assert(fmt.readManifest(out).get.snapshotId == snap + 1)

    // an input change AFTER the baseline now recomputes exactly the
    // changed conversation's new-modulus bucket
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\npost-rebucket fix") else t)
    val expected = changed.where(org.apache.spark.sql.functions.col("conv_id") === victim)
      .select(ExtractionJob.bucketOf(8).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val recomputed = ExtractionJob.run(spark, changed, cfg)
    assert(recomputed == expected, s"recomputed $recomputed, expected $expected")
    assert(ExtractionJob.run(spark, changed, cfg) == Set.empty)
  }
}
