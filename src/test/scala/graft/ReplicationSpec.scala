package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, StreamingExtraction, TableReplication, Transcripts}
import java.nio.file.Files

/** Incremental table replication over the change feed: the replica is an
  * exact, independently-usable snapshot table (keyed reads, compaction,
  * its own history) maintained with per-batch merge-on-read deltas and
  * exactly-once markers — per-cycle work scales with changed data. */
class ReplicationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fmt = SnapshotManifestFormat

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def content(dir: String): Set[(String, Int, String, String)] =
    fmt.readCommitted(spark, dir)
      .select("conv_id", "turn_idx", "main_text", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet

  test("replica tracks initial snapshot, correction, pure deletion; stays a first-class table") {
    val ss = spark
    import ss.implicits._
    val base = Files.createTempDirectory("graft-replica").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckpt = s"$base/ckpt"
    val cfg = ExtractionJob.Config(src, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 12)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)

    // initial replication: full snapshot arrives as one append commit
    val n1 = TableReplication.replicateAvailableNow(spark, src, dst, ckpt)
    assert(n1 > 0L)
    assert(content(dst) == content(src), "replica must equal the source after seeding")
    assert(fmt.readManifest(dst).get.operation == "append")
    assert(fmt.readManifest(dst).get.bucketCount ==
      fmt.readManifest(src).get.bucketCount, "replica adopts the source modulus")

    // idle pass: no new snapshot on the replica
    val snapBefore = fmt.readManifest(dst).get.snapshotId
    assert(TableReplication.replicateAvailableNow(spark, src, dst, ckpt) == 0L)
    assert(fmt.readManifest(dst).get.snapshotId == snapBefore, "idle cycle must not commit")

    // correction upstream -> one MOR delta commit on the replica
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nreplica fix") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    assert(TableReplication.replicateAvailableNow(spark, src, dst, ckpt) > 0L)
    assert(content(dst) == content(src), "replica must carry the corrected content")
    val man = fmt.readManifest(dst).get
    assert(man.operation == "delta" && man.deleteDirs.nonEmpty,
      "a correction must replicate as an equality-delete delta")

    // keyed read on the replica prunes through the adopted layout
    assert(fmt.readCommittedForConvs(spark, dst, Seq(victim)).count() ==
      fmt.readCommittedForConvs(spark, src, Seq(victim)).count())

    // pure deletion upstream -> the replica drops the conversation
    val gone = v1.where($"conv_id" =!= victim).as[graft.spark.Turn]
    assert(ExtractionJob.run(spark, gone, cfg).nonEmpty)
    assert(TableReplication.replicateAvailableNow(spark, src, dst, ckpt) > 0L)
    assert(content(dst) == content(src), "replica must drop the deleted conversation")
    assert(!content(dst).exists(_._1 == victim))

    // the replica compacts INDEPENDENTLY and still serves the same bytes
    assert(fmt.compact(spark, dst).nonEmpty)
    assert(content(dst) == content(src), "compaction must be content-neutral on the replica")
    assert(fmt.readManifest(dst).get.deleteDirs.isEmpty)
  }

  test("a crash-replayed batch is fenced by the marker; the next batch lands") {
    val ss = spark
    import ss.implicits._
    val base = Files.createTempDirectory("graft-replica-replay").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val cfg = ExtractionJob.Config(src, buckets = 4, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 6)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)

    val feed = fmt.readCommitted(spark, src)
      .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
    val n1 = TableReplication.replicateBatch(spark, feed, batchId = 0L, dst, "q",
      fmt.readManifest(src).flatMap(_.bucketCount))
    assert(n1 > 0L)
    val snap = fmt.readManifest(dst).get.snapshotId

    // crash replay of the same batch id: fenced, nothing double-applied
    assert(TableReplication.replicateBatch(spark, feed, batchId = 0L, dst, "q",
      fmt.readManifest(src).flatMap(_.bucketCount)) == 0L)
    assert(fmt.readManifest(dst).get.snapshotId == snap)
    assert(content(dst) == content(src))

    // a later delete-only batch applies (retraction with no post-image)
    val victim = turns.select("conv_id").as[String].head()
    val vb = ExtractionJob.bucketOfConvId(victim,
      fmt.readManifest(dst).get.bucketCount.get)
    val delOnly = Seq((victim, 0, null: String, null: String, vb, "delete"))
      .toDF("conv_id", "turn_idx", "main_text", "fields_json", "bucket", "_change_type")
    // widen to the replica schema: missing columns null
    val full = fmt.readCommitted(spark, dst).limit(0).columns
    val widened = full.foldLeft(delOnly) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, org.apache.spark.sql.functions.lit(null))
    }.select((full :+ "_change_type")
      .map(org.apache.spark.sql.functions.col).toSeq: _*)
    assert(TableReplication.replicateBatch(spark, widened, batchId = 1L, dst, "q",
      fmt.readManifest(src).flatMap(_.bucketCount)) == 1L)
    assert(!content(dst).exists(_._1 == victim), "delete-only batch must retract the conv")
  }

  test("a batch whose commit loses a race is re-staged at the new head and applied once") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val base = Files.createTempDirectory("graft-replica-race").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val cfg = ExtractionJob.Config(src, buckets = 4, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 6)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val srcBuckets = fmt.readManifest(src).flatMap(_.bucketCount)
    assert(TableReplication.replicateBatch(spark,
      fmt.readCommitted(spark, src).withColumn("_change_type", lit("insert")),
      batchId = 0L, dst, "q", srcBuckets) > 0L)

    // a correction: the victim's retraction key plus its post-image rows
    val victim = turns.select("conv_id").as[String].head()
    assert(ExtractionJob.run(spark, turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nreplica race") else t), cfg).nonEmpty)
    val post = fmt.readCommitted(spark, src).where(col("conv_id") === victim)
    val feed = post.withColumn("_change_type", lit("insert"))
      .unionByName(post.limit(1).withColumn("_change_type", lit("delete")))
    // an unrelated writer commits inside the replica's first commit, after
    // its delete dir and staged files are written
    fmt.commitRaceHook = () => {
      fmt.commitRaceHook = () => ()
      fmt.setTableProps(dst, Map("note" -> "race")); ()
    }
    val n = try TableReplication.replicateBatch(spark, feed, batchId = 1L, dst, "q", srcBuckets)
    finally fmt.commitRaceHook = () => ()
    assert(n == post.count() + 1L)
    val man = fmt.readManifest(dst).get
    assert(man.snapshotId == 2 && man.props.get("note").contains("race") &&
      man.props.get("stream.q").contains("1") && man.operation == "delta")
    assert(man.deleteDirs.size == 1 && man.deleteDirs.head.startsWith("snap-2-"),
      "the delete dir is written at the seq the batch committed at")
    assert(content(dst) == content(src))
    assert(fmt.readCommitted(spark, dst).count() == fmt.readCommitted(spark, src).count(),
      "the batch's rows appear once")
    val names = new java.io.File(dst).list().toSet
    assert(!names.exists(_.startsWith("staging-")))
    assert(new java.io.File(dst, "deletes").list().toSet == man.deleteDirs.toSet,
      "the lost attempt's delete dir must be dropped")
  }

  test("guards: re-baseline into a non-empty replica refuses; a diverged modulus refuses") {
    val ss = spark
    import ss.implicits._
    val base = Files.createTempDirectory("graft-replica-guards").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val cfg = ExtractionJob.Config(src, buckets = 4, waves = 1, convGrained = true)
    val turns = Transcripts.generate(spark, 6)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    assert(TableReplication.replicateAvailableNow(spark, src, dst, s"$base/ckpt1") > 0L)

    // a FRESH checkpoint against the populated replica would replay the
    // full snapshot on top of it — refused before the stream starts
    val ex = intercept[IllegalArgumentException] {
      TableReplication.replicateAvailableNow(spark, src, dst, s"$base/ckpt2")
    }
    assert(ex.getMessage.contains("no marker for sink"), ex.getMessage)

    // an out-of-band rebucket on the replica diverges its modulus from the
    // source's: the next batch must refuse, not mis-bucket
    ExtractionJob.rebucket(spark, dst, 8)
    val feed = fmt.readCommitted(spark, src)
      .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
    val ex2 = intercept[IllegalArgumentException] {
      TableReplication.replicateBatch(spark, feed, batchId = 99L, dst,
        "q-" + StreamingExtraction.checkpointSinkId(s"$base/ckpt1"),
        fmt.readManifest(src).flatMap(_.bucketCount))
    }
    assert(ex2.getMessage.contains("bucket modulus"), ex2.getMessage)
  }
}
