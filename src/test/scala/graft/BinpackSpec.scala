package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.Files

/** Small-file binpack maintenance (rewrite_data_files binpack analog):
  * coalesces each bucket's sub-threshold files into one sorted run,
  * leaves healthy files byte-untouched, applies pending MOR deletes to
  * the rewritten rows without resurrecting anything, and keeps retained
  * history time-travelable. */
class BinpackSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String)] =
    df.select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  test("binpack coalesces small-file debt, preserves content, never resurrects deleted rows") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-binpack").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 14)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)

    // accrete small-file debt: several conv-grained corrections, each a
    // tiny delta file + equality delete
    val victims = turns.select("conv_id").as[String].distinct().collect().take(3)
    var cur = turns.collect().toSeq
    victims.zipWithIndex.foreach { case (v, i) =>
      cur = cur.map(t => if (t.conv_id == v) t.copy(text = t.text + s"\nFix $i") else t)
      assert(ExtractionJob.run(spark, cur.toDS(), cfg).nonEmpty)
    }
    val manBefore = ExtractionJob.readManifest(out).get
    assert(manBefore.deleteDirs.nonEmpty, "setup needs pending MOR deletes")
    val before = rows(ExtractionJob.readCommitted(spark, out))
    val sBefore = manBefore.snapshotId
    // the base wave's big files vs the deltas' small ones
    val minRows = 1000L
    val smallBefore = manBefore.files.filter(_.rowCount < minRows)
    val bigBefore = manBefore.files.filterNot(_.rowCount < minRows).map(_.path).toSet
    assert(smallBefore.size >= 2, s"setup needs small-file debt, got ${manBefore.files}")

    val affected = SnapshotManifestFormat.binpackDataFiles(spark, out, minRows)
    assert(affected.nonEmpty, "binpack must report the coalesced buckets")
    val manAfter = ExtractionJob.readManifest(out).get

    // content identical, keys unique (deletes were applied, not resurrected)
    val after = rows(ExtractionJob.readCommitted(spark, out))
    assert(after == before, "binpack must not change the served table")
    val served = ExtractionJob.readCommitted(spark, out)
    assert(served.count() == served.dropDuplicates("conv_id", "turn_idx").count(),
      "no resurrected pre-correction rows")

    // healthy files untouched, small files coalesced to one run per bucket
    assert(bigBefore.subsetOf(manAfter.files.map(_.path).toSet),
      "healthy files must keep their exact paths")
    val smallByBucketAfter = manAfter.files.filter(_.seq == manAfter.snapshotId)
      .groupBy(_.bucket)
    assert(affected.forall(b => smallByBucketAfter.get(b).exists(_.size <= 1)),
      s"each affected bucket must hold one coalesced run, got $smallByBucketAfter")
    assert(manAfter.files.size < manBefore.files.size, "file count must shrink")
    // deletes carried forward for the unrewritten files
    assert(manAfter.deleteDirs == manBefore.deleteDirs)
    assert(manAfter.operation == "rewrite",
      "binpack is a rewrite: CDC readers must refuse across it")

    // retained history still time travels (old small files stay on disk
    // until expiry), and the pre-binpack snapshot serves the same rows
    assert(rows(SnapshotManifestFormat.readCommittedAsOf(spark, out, sBefore)) == before)

    // keyed read still prunes + serves correctly after the rewrite
    val v = victims.head
    val keyed = SnapshotManifestFormat.readCommittedForConvs(spark, out, Seq(v))
    assert(rows(keyed) == before.filter(_._1 == v))

    // idempotent: nothing left to pack
    assert(SnapshotManifestFormat.binpackDataFiles(spark, out, minRows).isEmpty)

    // a later correction + compact still works on the packed table
    val v2 = victims.last
    cur = cur.map(t => if (t.conv_id == v2) t.copy(text = t.text + "\nPost-pack fix") else t)
    assert(ExtractionJob.run(spark, cur.toDS(), cfg).nonEmpty)
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty)
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, cur.toDS()).toDF()))
  }

  test("binpack is a no-op on a healthy table") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-binpack-noop").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true)
    assert(ExtractionJob.run(spark, Transcripts.generate(spark, 8), cfg).nonEmpty)
    // threshold below every file's row count -> no debt
    assert(SnapshotManifestFormat.binpackDataFiles(spark, out, minRows = 1L).isEmpty)
  }
}
