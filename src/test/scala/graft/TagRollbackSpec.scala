package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.Files

/** Snapshot refs (Iceberg tag analog) and rollback: a tag pins a table
  * version against retention so `readCommittedAtTag` reproduces the exact
  * bytes a model trained on; rollback commits an old snapshot's content
  * forward as a new replacing snapshot without rewriting history. */
class TagRollbackSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  // main_text included: a mutation that only appends prose changes the
  // extracted main content even when the field list is unaffected
  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String, String)] =
    df.select("conv_id", "turn_idx", "fields_json", "main_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet

  test("tags pin snapshots through commits and expiry; readCommittedAtTag reproduces the bytes") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-tags").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 18)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val v0Rows = rows(ExtractionJob.readCommitted(spark, out))

    // guard rails first: bad names and missing snapshots refuse
    intercept[IllegalArgumentException] { SnapshotManifestFormat.tagSnapshot(out, "", s0) }
    intercept[IllegalArgumentException] { SnapshotManifestFormat.tagSnapshot(out, "a{b}", s0) }
    intercept[IllegalArgumentException] { SnapshotManifestFormat.tagSnapshot(out, "ghost", s0 + 900) }

    // the ref.* prop namespace is tag-reserved: free-form values that would
    // wedge tags()/expiry are refused at WRITE time
    intercept[IllegalArgumentException] {
      graft.spark.SnapshotManifestFormat.setTableProps(out, Map("ref.notes" -> "see-wiki"))
    }
    intercept[IllegalArgumentException] {
      graft.spark.SnapshotManifestFormat.setTableProps(out, Map("ref.a\"b" -> "3"))
    }

    SnapshotManifestFormat.tagSnapshot(out, "train-v1", s0)
    assert(SnapshotManifestFormat.tags(out) == Map("train-v1" -> s0))

    // two later corrections move the live table away from the tagged version
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\ntag fix 1") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    val v2 = v1.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\ntag fix 2") else t)
    assert(ExtractionJob.run(spark, v2, cfg).nonEmpty)
    val s2 = SnapshotManifestFormat.latestSnapshot(out).get

    // the tag is a sticky prop: unrelated commits carry it forward
    assert(SnapshotManifestFormat.tags(out) == Map("train-v1" -> s0))
    assert(rows(SnapshotManifestFormat.readCommittedAtTag(spark, out, "train-v1")) == v0Rows)
    assert(rows(ExtractionJob.readCommitted(spark, out)) != v0Rows)

    // expiry: the tagged snapshot survives retention; untagged history dies
    val (expired, _) = SnapshotManifestFormat.expireSnapshots(out, retainLast = 1)
    assert(expired > 0)
    assert(rows(SnapshotManifestFormat.readCommittedAtTag(spark, out, "train-v1")) == v0Rows,
      "tag must keep serving the pinned bytes after expiry")
    intercept[IllegalStateException] { // untagged intermediate snapshot is gone
      SnapshotManifestFormat.readCommittedAsOf(spark, out, s0 + 1)
    }
    assert(rows(SnapshotManifestFormat.readCommittedAsOf(spark, out, s0)) == v0Rows)

    // drop the tag: the pin is released, the next expiry collects it
    SnapshotManifestFormat.dropTag(out, "train-v1")
    assert(SnapshotManifestFormat.tags(out).isEmpty)
    intercept[IllegalArgumentException] {
      SnapshotManifestFormat.readCommittedAtTag(spark, out, "train-v1")
    }
    val (expired2, _) = SnapshotManifestFormat.expireSnapshots(out, retainLast = 1)
    assert(expired2 > 0, "formerly tagged snapshot must be expirable after dropTag")
    intercept[IllegalStateException] { SnapshotManifestFormat.readCommittedAsOf(spark, out, s0) }
    // the live table is untouched throughout
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(SnapshotManifestFormat.readCommittedAsOf(spark, out, SnapshotManifestFormat.latestSnapshot(out).get)))
    assert(s2 <= SnapshotManifestFormat.latestSnapshot(out).get)
  }

  test("a prop key that spells a manifest key round-trips as a prop; the manifest's own fields and JobMain's run are untouched") {
    val base = Files.createTempDirectory("graft-reserved-props").toString
    val in = s"$base/turns"
    val out = s"$base/out"
    val turns = Transcripts.generate(spark, 4)
    turns.write.parquet(in)
    ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 2, waves = 1))
    val before = ExtractionJob.readManifest(out).get
    assert(before.fpMode.isEmpty && before.convFpsDir.isEmpty && before.props.isEmpty)
    // every manifest field but the ones each commit writes anew
    def fields(m: ExtractionJob.Manifest) =
      m.copy(snapshotId = 0, operation = "", props = Map.empty, committedAt = "")
    def commitsAndReadsBack(props: Map[String, String]): Unit = {
      val snap = SnapshotManifestFormat.setTableProps(out, props)
      val man = ExtractionJob.readManifest(out).get
      assert(man.snapshotId == snap && man.props == props, man.props)
      assert(man.operation == "props" && man.fpMode.isEmpty && man.convFpsDir.isEmpty)
      assert(man.files == before.files && fields(man) == fields(before))
      assert(java.time.Instant.parse(man.committedAt).toEpochMilli > 0)
      // retire them again (empty value = tombstone)
      SnapshotManifestFormat.setTableProps(out, props.map { case (k, _) => k -> "" })
      assert(ExtractionJob.readManifest(out).get.props.isEmpty)
    }
    val keys = Seq("snapshot_id", "committed_buckets", "operation", "schema", "props",
      "bucket_count", "delete_dirs", "fp_mode", "conv_fps", "input_fps", "files", "committed_at")
    keys.foreach(k => commitsAndReadsBack(Map(k -> "x")))
    commitsAndReadsBack(keys.map(k => k -> s"$k-value").toMap)
    // the pair that once read back as the manifest's own fp_mode and
    // conv-fp sidecar pointer, and a key ending in one after a quote
    commitsAndReadsBack(Map("fp_mode" -> "conv", "conv_fps" -> "fp-9-bogus"))
    commitsAndReadsBack(Map("x\"fp_mode" -> "conv"))

    // JobMain's --set-prop commits the same key as a plain prop
    JobMain.main(Array(in, out, "2", "1", "--set-prop=fp_mode=conv"))
    val man = ExtractionJob.readManifest(out).get
    assert(man.props == Map("fp_mode" -> "conv"))
    assert(man.fpMode.isEmpty && man.convFpsDir.isEmpty)
    assert(man.files == before.files && fields(man) == fields(before))
  }

  test("rollback commits old content forward as a replace; history and resume semantics hold") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-rollback").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 18)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val v0Rows = rows(ExtractionJob.readCommitted(spark, out))

    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nbad fix") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    val s1 = SnapshotManifestFormat.latestSnapshot(out).get
    val v1Rows = rows(ExtractionJob.readCommitted(spark, out))
    assert(v1Rows != v0Rows)

    // rollback: live table serves the pre-correction bytes again
    val s2 = SnapshotManifestFormat.rollbackTo(out, s0)
    assert(s2 == s1 + 1, "rollback must commit a NEW snapshot, not rewrite history")
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s2))
    assert(rows(ExtractionJob.readCommitted(spark, out)) == v0Rows)
    assert(ExtractionJob.readManifest(out).get.operation == "replace")

    // history is preserved: the rolled-back-over snapshot still time-travels
    assert(rows(SnapshotManifestFormat.readCommittedAsOf(spark, out, s1)) == v1Rows)
    // but CDC across the replace refuses (added-rows semantics undefined)
    val replaced = intercept[IllegalStateException] {
      SnapshotManifestFormat.readAppendsBetween(spark, out, s0, s2)
    }
    assert(replaced.getMessage.contains("replacing commit"), replaced.getMessage)

    // rollback to the current snapshot is a no-op
    assert(SnapshotManifestFormat.rollbackTo(out, s2) == s2)
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s2))
    // rollback to a never-existing snapshot reports history loss
    val gone = intercept[IllegalStateException] { SnapshotManifestFormat.rollbackTo(out, s2 + 900) }
    assert(gone.getMessage.contains("rewritten or expired"), gone.getMessage)

    // the rollback also reset the conv fingerprints: re-running with the
    // corrected input re-applies the delta instead of no-opping
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty,
      "post-rollback rerun with the changed input must re-extract the changed conv")
    assert(rows(ExtractionJob.readCommitted(spark, out)) == v1Rows)

    // roll back again, then expire everything but the rollback snapshot:
    // its (old) data files must survive GC because the latest manifest
    // references them — content still served byte-for-byte
    val s4 = SnapshotManifestFormat.rollbackTo(out, s0)
    SnapshotManifestFormat.expireSnapshots(out, retainLast = 1)
    assert(rows(ExtractionJob.readCommitted(spark, out)) == v0Rows,
      "GC must keep files referenced by the rollback manifest")
    // and the table still accepts normal incremental work afterwards
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    assert(rows(ExtractionJob.readCommitted(spark, out)) == v1Rows)
    assert(s4 > s2)
  }

  test("rollback refuses when the target's files were rewritten by compaction") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-rbcompact").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 15)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nrb fix") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty) // rewrites s0's dirty-bucket files
    val e = intercept[IllegalStateException] { SnapshotManifestFormat.rollbackTo(out, s0) }
    assert(e.getMessage.contains("rewritten or expired"), e.getMessage)
    // the refusal left the table untouched and serving the corrected content
    assert(ExtractionJob.readCommitted(spark, out).count() == turns.count())
  }

  test("metadata tables: $snapshots/$files/$lineage reflect manifests without touching data") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-meta").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 15)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    SnapshotManifestFormat.tagSnapshot(out, "base", s0)
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nmeta fix") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty)

    // $snapshots: one row per retained manifest, ops in lifecycle order,
    // exactly one current row, the tag attached to its snapshot
    val snaps = SnapshotManifestFormat.readSnapshotsTable(spark, out)
      .collect().sortBy(_.getInt(0))
    val mans = graft.spark.SnapshotManifestFormat.retainedManifests(out)
    assert(snaps.length == mans.size)
    assert(snaps.map(_.getString(1)).toSeq ==
      mans.map(_.operation))
    val ops = snaps.map(_.getString(1)).toSeq
    assert(ops.head == "append" && ops.contains("props") && ops.contains("delta"), ops.toString)
    assert(snaps.last.getString(1) == "rewrite") // the compaction
    assert(snaps.count(_.getBoolean(7)) == 1 && snaps.last.getBoolean(7))
    assert(snaps.find(_.getInt(0) == s0).get.getSeq[String](8) == Seq("base"))
    assert(snaps.forall(r => r.getString(2).nonEmpty), "committed_at must be populated")
    assert(snaps.forall(r => r.getSeq[String](9).contains("fields_json")),
      "every snapshot must expose its recorded schema columns")
    // row_count column equals the served table for the current snapshot
    assert(snaps.last.getLong(4) == ExtractionJob.readCommitted(spark, out).count())

    // $files: exactly the current manifest's files, bounds included
    val files = SnapshotManifestFormat.readFilesTable(spark, out).collect()
    val man = ExtractionJob.readManifest(out).get
    assert(files.map(r => (r.getInt(1), r.getString(2), r.getLong(3))).toSet ==
      man.files.map(f => (f.bucket, f.path, f.rowCount)).toSet)
    assert(files.forall(r => !r.isNullAt(5) && !r.isNullAt(6)), "conv bounds must surface")
    // as-of a historical snapshot it serves THAT manifest's files
    val filesAt0 = SnapshotManifestFormat.readFilesTable(spark, out, Some(s0)).collect()
    assert(filesAt0.map(_.getString(2)).toSet ==
      graft.spark.SnapshotManifestFormat.readManifestAt(out, s0).get.files.map(_.path).toSet)

    // $lineage: extraction audit rows — each wave commit records its own
    // buckets, so the initial run's waves sum to the whole input
    val lin = SnapshotManifestFormat.readLineageTable(spark, out)
    assert(lin.where(org.apache.spark.sql.functions.col("snapshot_id") <= s0)
      .agg(org.apache.spark.sql.functions.sum("row_count")).as[Long].head() == turns.count())

    // expiry shrinks $snapshots to the retained set (tagged s0 survives)
    SnapshotManifestFormat.expireSnapshots(out, retainLast = 1)
    val after = SnapshotManifestFormat.readSnapshotsTable(spark, out).collect().map(_.getInt(0)).toSet
    assert(after.contains(s0) && after.contains(man.snapshotId))
    assert(after.size < snaps.length)
  }
}
