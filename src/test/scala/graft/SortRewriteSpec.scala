package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.Files

/** Sort-ordered file-split rewrite: after rewriteSorted, each bucket is a
  * run of (conv_id, turn_idx)-sorted files with DISJOINT per-file conv_id
  * bounds, so a keyed read prunes inside the bucket — the
  * rewrite_data_files(sort, target-size) analog that turns a
  * whole-bucket point lookup into a ~targetRowsPerFile one. */
class SortRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  // main_text included: an appended-prose mutation changes the extracted
  // main content even when the field list is unaffected
  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String, String)] =
    df.select("conv_id", "turn_idx", "fields_json", "main_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet

  test("rewriteSorted splits buckets into files with disjoint conv bounds; keyed reads prune inside a bucket") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-sortrw").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 40)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val before = rows(ExtractionJob.readCommitted(spark, out))

    // mutate one conversation first so the rewrite also proves it applies
    // pending equality deletes (like compact)
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nZip: 60601") else t)
    assert(ExtractionJob.run(spark, changed, cfg).nonEmpty)
    assert(ExtractionJob.readManifest(out).get.deleteDirs.nonEmpty,
      "the delta must have tracked an equality-delete dir")
    val want = rows(ExtractionJob.extract(spark, changed).toDF())

    val snap = ExtractionJob.rewriteSorted(spark, out, targetRowsPerFile = 60)
    val man = ExtractionJob.readManifest(out).get
    assert(man.snapshotId == snap && man.operation == "rewrite")
    assert(man.deleteDirs.isEmpty, "the rewrite must have applied the deletes")
    assert(rows(ExtractionJob.readCommitted(spark, out)) == want)

    // every bucket split into several files, each with recorded bounds,
    // and within a bucket the per-file conv ranges are pairwise disjoint
    val byBucket = man.files.groupBy(_.bucket)
    assert(byBucket.nonEmpty)
    byBucket.foreach { case (b, fs) =>
      assert(fs.size > 1, s"bucket $b must be split (got ${fs.size} file(s))")
      assert(fs.forall(f => f.minConv.nonEmpty && f.maxConv.nonEmpty))
      assert(fs.forall(_.rowCount <= 60))
      val sorted = fs.sortBy(_.minConv.get)
      sorted.sliding(2).foreach {
        case Seq(a, c) =>
          assert(a.maxConv.get <= c.minConv.get,
            s"bucket $b files overlap: ${a.maxConv.get} > ${c.minConv.get}")
        case _ =>
      }
    }

    // a single-conversation keyed read now plans a strict subset of its
    // bucket's files — pruning INSIDE the bucket, not just across buckets
    val bucketOfVictim = ExtractionJob.bucketOfConvId(victim, 2)
    val bucketFiles = byBucket(bucketOfVictim).size
    val planned = SnapshotManifestFormat.pruneFilesForConvs(man, Seq(victim))
    assert(planned.nonEmpty && planned.size < bucketFiles,
      s"expected intra-bucket pruning: planned ${planned.size} of $bucketFiles bucket files")
    assert(rows(SnapshotManifestFormat.readCommittedForConvs(spark, out, Seq(victim))) ==
      want.filter(_._1 == victim))

    // incremental runs continue cleanly after the replacing rewrite
    val changed2 = changed.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nEmail: z@q.io") else t)
    assert(ExtractionJob.run(spark, changed2, cfg).nonEmpty)
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, changed2).toDF()))
    assert(before != want, "sanity: the mutation changed output")
  }
}
