package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import org.apache.spark.SparkException
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{lit, rand}
import graft.spark.{CommitConflictException, ExtractionJob, SnapshotManifestFormat,
  TableReplication, Transcripts}
import graft.spark.ExtractionJob.{FileEntry, LineageRow}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Spark end-to-end: synthetic transcript table -> salted extraction ->
  * snapshot sink; per-turn byte equality vs the row-local core pipeline and
  * resume-without-recompute (BASELINE.md engine targets).
  */
class ExtractionJobSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** A format whose commit number `raceAt` (0-based) loses a race: a
    * competing writer lands a manifest-only commit, computed from the
    * current state, just before the job's own commit, which therefore
    * fails the optimistic check. */
  private class RacingFormat(raceAt: Int = 0) extends ForwardingFormat {
    private val inner = SnapshotManifestFormat
    private var commits = 0
    var conflicts = 0
    override def commitWave(outDir: String, staging: String, snapshotId: Int,
                            buckets: Set[Int], files: Seq[FileEntry], lineage: Seq[LineageRow],
                            inputFps: Map[Int, Long], additive: Boolean,
                            convFpsDir: Option[String], deleteDirs: Seq[String],
                            fpMode: Option[String], bucketCount: Option[Int],
                            operation: String, props: Map[String, String],
                            schemaDdl: Option[String], toBranch: Option[String]): Unit = {
      if (commits == raceAt) {
        val man = inner.readManifest(outDir).get
        inner.commitWave(outDir, s"$outDir/none", man.snapshotId + 1, man.buckets,
          man.files, Vector.empty, man.inputFps, additive = true,
          convFpsDir = man.convFpsDir, deleteDirs = man.deleteDirs, fpMode = man.fpMode,
          bucketCount = man.bucketCount)
      }
      commits += 1
      try super.commitWave(outDir, staging, snapshotId, buckets, files, lineage,
        inputFps, additive, convFpsDir, deleteDirs, fpMode, bucketCount, operation, props,
        schemaDdl, toBranch)
      catch { case e: CommitConflictException => conflicts += 1; throw e }
    }
  }

  /** Every row of the committed table, in key order. */
  private def tableRows(out: String): Seq[Row] =
    ExtractionJob.readCommitted(spark, out).collect().toSeq
      .sortBy(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")))

  private def stagingDirs(out: String): Seq[String] =
    Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("staging-")).toSeq

  /** After a failed run: no Spark job still runs (job-end events reach the
    * status store through the listener bus, hence `eventually`) and no
    * staging dir of the run is left at the table root. */
  private def assertQuiet(out: String): Unit = {
    eventually(timeout(Span(5, Seconds))) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, "a wave still runs")
    }
    assert(stagingDirs(out).isEmpty, s"staging dirs left: ${stagingDirs(out)}")
  }

  /** Rows of one committed data file, in file order (one small file is one
    * scan split). */
  private def fileKeys(out: String, path: String): Seq[(String, Int)] =
    spark.read.parquet(s"$out/data/$path").select("conv_id", "turn_idx")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq

  private def assertFilesSorted(out: String, after: String): Unit = {
    val files = ExtractionJob.readManifest(out).get.files
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = fileKeys(out, f.path)
      val disorder = keys.zip(keys.drop(1)).indexWhere { case (a, b) => Ordering[(String, Int)].gt(a, b) }
      assert(disorder < 0,
        s"after $after: ${f.path} leaves (conv_id, turn_idx) order at row ${disorder + 1}")
    }
  }

  test("generator is deterministic and heavy-tailed") {
    val a = Transcripts.generate(spark, 50).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = Transcripts.generate(spark, 50).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.map(t => (t.conv_id, t.turn_idx, t.text.hashCode, t.ts.getTime)).toSeq ==
      b.map(t => (t.conv_id, t.turn_idx, t.text.hashCode, t.ts.getTime)).toSeq)
    val lens = a.groupBy(_.conv_id).view.mapValues(_.length).values.toSeq
    assert(lens.max >= 100, "expected long-tail conversations")
    assert(lens.min <= 8, "expected short conversations")
  }

  test("per-turn extraction equals the row-local core pipeline (stable order)") {
    val turns = Transcripts.generate(spark, 30)
    val got = ExtractionJob.extract(spark, turns)
      .collect().sortBy(t => (t.conv_id, t.turn_idx))
    val want = turns.collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.conv_id == w.conv_id && g.turn_idx == w.turn_idx)
      val e = graft.extract.Extractor.extractTurn(w.text, w.tool)
      assert(g.fields_json == e.fieldsJson, s"turn ${w.conv_id}/${w.turn_idx}")
      assert(g.main_text == e.mainText)
    }
    // fixture turns must match the golden bytes end-to-end through Spark
    val goldenTooth = new String(Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getClassLoader.getResource("golden/tooth_removal_consent.json").toURI)),
      java.nio.charset.StandardCharsets.UTF_8).stripLineEnd
    val toothTurns = got.filter(g => want.find(w =>
      w.conv_id == g.conv_id && w.turn_idx == g.turn_idx).get.text.contains("TOOTH REMOVAL"))
    assert(toothTurns.nonEmpty)
    toothTurns.foreach(t => assert(t.fields_json == goldenTooth))
  }

  test("snapshot sink commits in waves; killed run resumes without recompute") {
    val full = Files.createTempDirectory("graft-full").toString
    val partial = Files.createTempDirectory("graft-partial").toString
    val turns = Transcripts.generate(spark, 40)

    // reference: uninterrupted run
    val doneFull = ExtractionJob.run(spark, turns, ExtractionJob.Config(full, buckets = 8, waves = 4))
    assert(doneFull == (0 until 8).toSet)

    // killed run: fails after wave 1's commit
    val killed = intercept[RuntimeException] {
      ExtractionJob.run(spark, turns,
        ExtractionJob.Config(partial, buckets = 8, waves = 4, failAfterWave = 1))
    }
    assert(killed.getMessage.contains("simulated kill"))
    val committedAfterKill = SnapshotManifestFormat.committedBuckets(partial)
    assert(committedAfterKill.size == 4, s"2 waves of 2 buckets committed, got $committedAfterKill")

    // record committed files before resume — they must not be rewritten
    val dataDir = java.nio.file.Paths.get(partial, "data")
    val before = Files.walk(dataDir).iterator()
    val beforeMap = new java.util.HashMap[String, java.nio.file.attribute.FileTime]()
    before.forEachRemaining(p => if (p.toString.endsWith(".parquet"))
      beforeMap.put(p.toString, Files.getLastModifiedTime(p)))

    // resume: completes only the remaining buckets
    val resumed = ExtractionJob.run(spark, turns, ExtractionJob.Config(partial, buckets = 8, waves = 4))
    assert(resumed == (0 until 8).toSet -- committedAfterKill, "resume must only process uncommitted buckets")
    beforeMap.forEach { (p, t) =>
      assert(Files.getLastModifiedTime(java.nio.file.Paths.get(p)) == t,
        s"committed file rewritten on resume: $p")
    }

    // resumed output == uninterrupted output (same rows, same bytes per turn)
    val a = ExtractionJob.readCommitted(spark, full)
      .select("conv_id", "turn_idx", "fields_json", "main_text", "form_type")
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = ExtractionJob.readCommitted(spark, partial)
      .select("conv_id", "turn_idx", "fields_json", "main_text", "form_type")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y },
      "resumed run must be byte-identical to the uninterrupted run")

    // rerun on a complete table is a no-op
    val noop = ExtractionJob.run(spark, turns, ExtractionJob.Config(partial, buckets = 8, waves = 4))
    assert(noop.isEmpty, "fully-committed table must not recompute anything")
  }

  test("crash between bucket promotion and snapshot commit is repaired on resume") {
    val out = Files.createTempDirectory("graft-dirty").toString
    val turns = Transcripts.generate(spark, 30)
    // commit only wave 0 (buckets 0-1 of 8, 4 waves)
    intercept[RuntimeException] {
      ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 8, waves = 4, failAfterWave = 0))
    }
    val committed = SnapshotManifestFormat.committedBuckets(out)
    assert(committed.size == 2)
    // simulate a kill mid-wave-1: a bucket dir promoted into data/ but the
    // snapshot never committed, plus a stale staging dir
    val uncommitted = (0 until 8).filterNot(committed.contains).head
    val dirty = java.nio.file.Paths.get(out, "data", s"bucket=$uncommitted")
    Files.createDirectories(dirty)
    Files.write(dirty.resolve("part-bogus.parquet"), Array[Byte](1, 2, 3))
    val staleStaging = java.nio.file.Paths.get(out, "staging-wave-1", s"bucket=$uncommitted")
    Files.createDirectories(staleStaging)
    Files.write(staleStaging.resolve("junk.parquet"), Array[Byte](9))

    // resume: must reprocess every uncommitted bucket and repair the dirty dir
    val resumed = ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 8, waves = 4))
    assert(resumed == (0 until 8).toSet -- committed)
    assert(!Files.exists(dirty.resolve("part-bogus.parquet")), "dirty partial promotion must be replaced")

    // final table equals a clean end-to-end run
    val clean = Files.createTempDirectory("graft-clean").toString
    ExtractionJob.run(spark, turns, ExtractionJob.Config(clean, buckets = 8, waves = 4))
    val a = ExtractionJob.readCommitted(spark, out).select("conv_id", "turn_idx", "fields_json")
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = ExtractionJob.readCommitted(spark, clean).select("conv_id", "turn_idx", "fields_json")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
  }

  test("lineage rows cover every bucket with correct row counts") {
    val out = Files.createTempDirectory("graft-lineage").toString
    val turns = Transcripts.generate(spark, 25)
    ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 4, waves = 2))
    val lineageFiles = Files.list(java.nio.file.Paths.get(out, "lineage")).iterator()
    var totalRows = 0L
    lineageFiles.forEachRemaining { p =>
      val txt = new String(Files.readAllBytes(p))
      "\"row_count\":(\\d+)".r.findAllMatchIn(txt).foreach(m => totalRows += m.group(1).toLong)
    }
    assert(totalRows == turns.count(), "lineage row_count must sum to input size")
  }

  test("manifest lists exact files with row counts; missing file => bucket recomputed on resume") {
    import java.nio.file.Paths
    val out = Files.createTempDirectory("graft-manifest").toString
    val turns = Transcripts.generate(spark, 25)
    ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 4, waves = 2))

    val man = ExtractionJob.readManifest(out).get
    assert(man.files.nonEmpty, "manifest must list data files")
    man.files.foreach(f => assert(Files.exists(Paths.get(out, "data", f.path)), f.path))
    val expected = ExtractionJob.readCommitted(spark, out).count()
    assert(man.files.map(_.rowCount).sum == expected, "per-file row counts must sum to table size")

    // delete one committed data file -> its bucket must no longer count as
    // committed, and a resume run must recompute exactly that bucket
    val victim = man.files.head
    Files.delete(Paths.get(out, "data", victim.path))
    assert(!SnapshotManifestFormat.committedBuckets(out).contains(victim.bucket))
    val recomputed = ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 4, waves = 2))
    assert(recomputed == Set(victim.bucket), s"resume must recompute only bucket ${victim.bucket}")

    // after repair: all files present again and the committed read is whole
    val man2 = ExtractionJob.readManifest(out).get
    man2.files.foreach(f => assert(Files.exists(Paths.get(out, "data", f.path)), f.path))
    assert(ExtractionJob.readCommitted(spark, out).count() == turns.count())
    assert(SnapshotManifestFormat.committedBuckets(out) == Set(0, 1, 2, 3))
  }

  test("change-detection resume recomputes exactly the buckets whose input changed") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-fp").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, fingerprintInputs = true)
    val first = ExtractionJob.run(spark, turns, cfg)
    assert(first == Set(0, 1, 2, 3))

    // unchanged input -> nothing recomputes
    assert(ExtractionJob.run(spark, turns, cfg) == Set.empty)

    // modify ONE conversation's text (an upstream correction); only the
    // buckets of that conversation may recompute
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\ncorrected line") else t)
    val expectedBuckets = changed.where(col("conv_id") === victim)
      .select(ExtractionJob.bucketOf(4).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val recomputed = ExtractionJob.run(spark, changed, cfg)
    assert(recomputed == expectedBuckets,
      s"recomputed $recomputed, expected $expectedBuckets")

    // the corrected content is what the committed table now serves
    val served = ExtractionJob.readCommitted(spark, out)
      .where(col("conv_id") === victim).count()
    assert(served == changed.where(col("conv_id") === victim).count())
    // and a rerun with the same (changed) input is again a no-op
    assert(ExtractionJob.run(spark, changed, cfg) == Set.empty)
  }

  test("conv-grained resume: only the changed conversation is recomputed (merge-on-read)") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-conv").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    assert(ExtractionJob.run(spark, turns, cfg) == Set(0, 1, 2, 3))
    val snapAfterFull = SnapshotManifestFormat.latestSnapshot(out).get
    // unchanged input -> nothing recomputes, no new snapshot
    assert(ExtractionJob.run(spark, turns, cfg) == Set.empty)
    assert(SnapshotManifestFormat.latestSnapshot(out).get == snapAfterFull)

    val filesBefore = ExtractionJob.readManifest(out).get.files

    // mutate ONE conversation (upstream correction)
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\ncorrected line") else t)
    val victimBucket = changed.where(col("conv_id") === victim)
      .select(ExtractionJob.bucketOf(4).as("b")).distinct().collect().map(_.getInt(0)).toSet
    assert(victimBucket.size == 1)
    val bucketRows = changed
      .where(ExtractionJob.bucketOf(4) === victimBucket.head).count()
    val victimRows = changed.where(col("conv_id") === victim).count()
    assert(victimRows < bucketRows, "victim must not own the whole bucket")

    val recomputed = ExtractionJob.run(spark, changed, cfg)
    assert(recomputed == victimBucket, s"recomputed $recomputed, expected $victimBucket")

    // merge-on-read: every pre-existing data file survives untouched, and
    // exactly the delta file(s) for the dirty bucket were added
    val manAfter = ExtractionJob.readManifest(out).get
    val (added, carried) = manAfter.files.partition(_.seq > snapAfterFull)
    assert(carried.toSet == filesBefore.toSet, "surviving files must be untouched")
    assert(added.nonEmpty && added.forall(_.bucket == victimBucket.head))
    added.foreach(f => assert(Files.exists(java.nio.file.Paths.get(out, "data", f.path))))
    filesBefore.foreach(f => assert(Files.exists(java.nio.file.Paths.get(out, "data", f.path))))

    // the recompute covered ONLY the victim conversation's rows
    val deltaRows = added.map(_.rowCount).sum
    assert(deltaRows == victimRows, s"delta rows $deltaRows != victim rows $victimRows")
    assert(deltaRows < bucketRows, "recompute must be smaller than the bucket")
    // lineage for the delta snapshot records the same bounded recompute
    val lineage = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "lineage", s"lineage-${manAfter.snapshotId}.json")))
    assert(lineage.contains(s""""row_count":$victimRows"""), lineage)

    // served table: corrected victim content, no duplicates, stable totals
    val served = ExtractionJob.readCommitted(spark, out)
    assert(served.count() == changed.count())
    assert(served.where(col("conv_id") === victim).count() == victimRows)
    val servedVictim = served.where(col("conv_id") === victim)
      .select("conv_id", "turn_idx", "main_text", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    val wantVictim = ExtractionJob.extract(spark,
        changed.where(col("conv_id") === victim).as[graft.spark.Turn])
      .select("conv_id", "turn_idx", "main_text", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    assert(servedVictim == wantVictim, "served victim rows must equal re-extraction")

    // rerun with the same (changed) input is again a no-op
    assert(ExtractionJob.run(spark, changed, cfg) == Set.empty)

    // time travel: as-of the pre-correction snapshot the ORIGINAL victim
    // content is served (additive delta commits preserve older files)
    val asOf = SnapshotManifestFormat.readCommittedAsOf(spark, out, snapAfterFull)
    assert(asOf.count() == turns.count())
    val asOfVictim = asOf.where(col("conv_id") === victim)
      .select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val origVictim = ExtractionJob.extract(spark,
        turns.where(col("conv_id") === victim).as[graft.spark.Turn])
      .select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(asOfVictim == origVictim, "time-travel read must serve the pre-correction content")

    // ---- compaction folds the delta + deletes back into clean files ----
    val servedBefore = served
      .select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val compacted = SnapshotManifestFormat.compact(spark, out)
    assert(compacted == victimBucket, s"compacted $compacted")
    val manCompacted = ExtractionJob.readManifest(out).get
    // the new manifest references no deletes; the applied delete dir stays
    // on disk while the delta manifest still references it (retired by
    // expireSnapshots, not compact — the Iceberg split)
    assert(manCompacted.deleteDirs.isEmpty, "compacted manifest must track no deletes")
    assert(manAfter.deleteDirs.nonEmpty && manAfter.deleteDirs.forall(d =>
      Files.isDirectory(java.nio.file.Paths.get(out, "deletes", d))),
      "delete dir referenced by a retained manifest must survive compact")
    // compaction rewrote the bucket's files, so time travel to the delta
    // snapshot is genuinely gone — reported as history loss, NOT as a
    // corruption/integrity error
    val historyGone = intercept[IllegalStateException] {
      SnapshotManifestFormat.readCommittedAsOf(spark, out, manAfter.snapshotId)
    }
    assert(historyGone.getMessage.contains("rewritten or expired"), historyGone.getMessage)
    val rewritten = manCompacted.files.filter(_.bucket == victimBucket.head)
    assert(rewritten.nonEmpty && rewritten.map(_.seq).distinct.size == 1)
    // content identical before and after compaction
    val servedAfter = ExtractionJob.readCommitted(spark, out)
      .select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(servedAfter == servedBefore, "compaction must not change the table")
    // compaction is idempotent and preserves the resume no-op
    assert(SnapshotManifestFormat.compact(spark, out) == Set.empty)
    assert(ExtractionJob.run(spark, changed, cfg) == Set.empty)
  }

  test("conv-grained resume: upstream-deleted conversation vanishes via equality delete") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-convdel").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    assert(ExtractionJob.run(spark, turns, cfg) == Set(0, 1, 2, 3))
    val victim = turns.select("conv_id").as[String].head()
    val without = turns.where(col("conv_id") =!= victim)
    val victimBucket = turns.where(col("conv_id") === victim)
      .select(ExtractionJob.bucketOf(4).as("b")).distinct().collect().map(_.getInt(0)).toSet

    val recomputed = ExtractionJob.run(spark, without, cfg)
    assert(recomputed == victimBucket)
    val served = ExtractionJob.readCommitted(spark, out)
    assert(served.where(col("conv_id") === victim).count() == 0, "deleted conv must vanish")
    assert(served.count() == without.count())
    // rerun no-op; compaction rewrites the bucket and drops the delete file
    assert(ExtractionJob.run(spark, without, cfg) == Set.empty)
    assert(SnapshotManifestFormat.compact(spark, out) == victimBucket)
    val after = ExtractionJob.readCommitted(spark, out)
    assert(after.count() == without.count())
    assert(after.where(col("conv_id") === victim).count() == 0)
    assert(ExtractionJob.run(spark, without, cfg) == Set.empty)
  }

  test("conv-grained: conversations new to committed buckets get no equality deletes") {
    val out = Files.createTempDirectory("graft-newconv").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    // every bucket committed with no files, then a run that only adds
    assert(ExtractionJob.run(spark, Transcripts.generate(spark, 0), cfg) == Set(0, 1, 2, 3))
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val turns = Transcripts.generate(spark, 6)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s1 = SnapshotManifestFormat.latestSnapshot(out).get
    assert(SnapshotManifestFormat.readDeleteKeysBetween(spark, out, s0, s1).count() == 0L)
    assert(ExtractionJob.readManifest(out).get.deleteDirs.isEmpty)
    assert(!Files.exists(Paths.get(out, "deletes")), "no delete dir may be written")
    assert(ExtractionJob.readCommitted(spark, out).count() == turns.count())
  }

  test("conv-grained: a conversation committed outside the conv-fp sidecar is still replaced") {
    val ss = spark
    import ss.implicits._
    val fmt = SnapshotManifestFormat
    val added = Transcripts.turnsFor(25)
    val x = added.head.conv_id
    val b = ExtractionJob.bucketOfConvId(x, 4)
    val base = Transcripts.generate(spark, 25)
    val grown = Transcripts.generate(spark, 26)
    def conv(out: String) = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    def convRun(out: String, turns: org.apache.spark.sql.Dataset[graft.spark.Turn]) =
      assert(ExtractionJob.run(spark, turns, conv(out)).nonEmpty)
    def append(out: String): Unit = graft.spark.StreamingExtraction.appendBatchToTable(spark,
      spark.createDataset(added), 0L, out, 4, "q", fmt)
    // build a table in which x has rows the sidecar does not list, then
    // rerun `grown`: only x's bucket is recomputed and x is served once
    def check(what: String)(build: String => Unit): Unit = {
      val out = Files.createTempDirectory("graft-sidecar").toString
      build(out)
      val n = fmt.readManifest(out).get.bucketCount.get
      assert(ExtractionJob.run(spark, grown, conv(out)) == Set(ExtractionJob.bucketOfConvId(x, n)),
        what)
      assert(ExtractionJob.readCommitted(spark, out).count() == grown.count(), what)
    }
    check("stream-sink append") { out => convRun(out, base); append(out) }
    check("stream-sink append, marker retired") { out =>
      convRun(out, base); append(out)
      fmt.setTableProps(out, Map("stream.q" -> ""))
    }
    check("stream-sink append, then a delta of its bucket without x") { out =>
      convRun(out, base); append(out)
      val y = base.map(_.conv_id).collect().find(ExtractionJob.bucketOfConvId(_, 4) == b).get
      convRun(out, base.map(t => if (t.conv_id == y) t.copy(text = t.text + "\nfix") else t))
    }
    check("stream-sink append, then rebucket") { out =>
      convRun(out, base); append(out)
      ExtractionJob.rebucket(spark, out, 3)
    }
    check("bucket-grained recompute of a lost bucket") { out =>
      convRun(out, base)
      fmt.readManifest(out).get.files.filter(_.bucket == b)
        .foreach(f => Files.delete(Paths.get(out, "data", f.path)))
      assert(ExtractionJob.run(spark, grown, ExtractionJob.Config(out, buckets = 4)) == Set(b))
    }
    check("bucket-grained build, then a conv-grained run without x") { out =>
      assert(ExtractionJob.run(spark, grown, ExtractionJob.Config(out, buckets = 4)).nonEmpty)
      convRun(out, base)
    }
  }

  test("conv-grained: a bucket a bucket-grained run rewrote is diffed whole, not against the sidecar") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-stale-diff").toString
    val base = Transcripts.generate(spark, 25)
    val conv = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    assert(ExtractionJob.run(spark, base, conv).nonEmpty)
    SnapshotManifestFormat.readManifest(out).get.files.filter(_.bucket == 1)
      .foreach(f => Files.delete(Paths.get(out, "data", f.path)))
    // the lost bucket is recomputed bucket-grained from an edited input
    val victim = base.map(_.conv_id).collect().find(ExtractionJob.bucketOfConvId(_, 4) == 1).get
    val edited = base.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nPatient Name: Stale Edit") else t)
    assert(ExtractionJob.run(spark, edited, ExtractionJob.Config(out, buckets = 4)) == Set(1))
    // the input returns to the content the sidecar recorded
    assert(ExtractionJob.run(spark, base, conv).nonEmpty)
    val cols = Seq("conv_id", "turn_idx", "main_text", "fields_json")
    val served = ExtractionJob.readCommitted(spark, out).select(cols.head, cols.tail: _*)
    val want = ExtractionJob.extract(spark, base).select(cols.head, cols.tail: _*)
    assert(served.count() == want.count())
    assert(served.except(want).count() == 0L, "no served row may keep the edited content")
  }

  test("conv-grained resume: two successive corrections resolve to the latest (max-seq deletes)") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-conv2").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    assert(ExtractionJob.run(spark, turns, cfg) == Set(0, 1, 2, 3))
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nfix one") else t)
    val v2 = v1.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nfix two") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    assert(ExtractionJob.run(spark, v2, cfg).nonEmpty) // second delta on the same conversation
    val served = ExtractionJob.readCommitted(spark, out)
    assert(served.count() == v2.count(), "no duplicates across two delta rounds")
    val got = served.where(col("conv_id") === victim)
      .select("turn_idx", "fields_json")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val want = ExtractionJob.extract(spark, v2.where(col("conv_id") === victim).as[graft.spark.Turn])
      .select("turn_idx", "fields_json")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == want, "latest correction must win")
    // compaction folds BOTH delta rounds + both delete files away
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty)
    assert(ExtractionJob.readCommitted(spark, out).count() == v2.count())
    assert(ExtractionJob.run(spark, v2, cfg) == Set.empty)
  }

  test("auto-compaction triggers once accumulated deletes reach the threshold") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-autocompact").toString
    val turns = Transcripts.generate(spark, 25)
    val victim = turns.select("conv_id").as[String].head()
    val victimTurns = turns.where(col("conv_id") === victim).count()
    // threshold just above one correction's delete count -> first delta
    // leaves deletes in place, second crosses and compacts
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 2)
    assert(ExtractionJob.run(spark, turns, cfg) == Set(0, 1, 2, 3))
    def deleteDirs() = {
      val d = new java.io.File(s"$out/deletes")
      if (d.isDirectory) d.listFiles().length else 0
    }
    assert(deleteDirs() == 0)
    val v1 = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nfix1") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    // one conversation changed -> 1 delete entry < threshold 2: no compaction
    assert(deleteDirs() == 1)
    val v2 = v1.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nfix2") else t)
    assert(ExtractionJob.run(spark, v2, cfg).nonEmpty)
    // second correction reaches 2 accumulated deletes -> auto-compacted:
    // the live manifest tracks no deletes any more (physical dirs linger
    // for older snapshots' time travel until expiry)
    assert(ExtractionJob.readManifest(out).get.deleteDirs.isEmpty,
      "auto-compaction must have retired the deletes from the live manifest")
    val served = ExtractionJob.readCommitted(spark, out)
    assert(served.count() == v2.count())
    assert(served.where(col("conv_id") === victim).count() == victimTurns)
    assert(ExtractionJob.run(spark, v2, cfg) == Set.empty)
  }

  test("snapshot expiry GCs unreferenced files and old manifests; latest read intact") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    import java.nio.file.Paths
    val out = Files.createTempDirectory("graft-expire").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    assert(ExtractionJob.run(spark, turns, cfg) == Set(0, 1, 2, 3))
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nfix") else t)
    assert(ExtractionJob.run(spark, changed, cfg).nonEmpty) // delta snapshot
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty)      // rewrite snapshot
    val latest = SnapshotManifestFormat.latestSnapshot(out).get
    val preCount = ExtractionJob.readCommitted(spark, out).count()

    val (expired, deleted) = SnapshotManifestFormat.expireSnapshots(out, retainLast = 1)
    assert(expired > 0, "older manifests must expire")
    assert(deleted > 0, "pre-compaction files must be garbage-collected")
    // latest snapshot fully intact
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(latest))
    assert(ExtractionJob.readCommitted(spark, out).count() == preCount)
    val man = ExtractionJob.readManifest(out).get
    man.files.foreach(f => assert(Files.exists(Paths.get(out, "data", f.path))))
    // expired snapshots are gone for time travel
    intercept[IllegalStateException] {
      SnapshotManifestFormat.readCommittedAsOf(spark, out, latest - 1)
    }
    // expiry is idempotent; resume is still a no-op
    assert(SnapshotManifestFormat.expireSnapshots(out, retainLast = 1) == ((0, 0)))
    assert(ExtractionJob.run(spark, changed, cfg) == Set.empty)
  }

  test("orphan delete dir from a killed run is never activated by a later commit") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-orphan").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    // commit only part of the table, simulating a kill mid-run
    intercept[RuntimeException] {
      ExtractionJob.run(spark, turns, cfg.copy(failAfterWave = 0))
    }
    val latest = SnapshotManifestFormat.latestSnapshot(out).get
    val victim = turns.select("conv_id").as[String].head()
    // a killed conv-grained delta left an ORPHAN delete dir at the id the
    // next commit will reuse, listing a live conversation
    turns.where(col("conv_id") === victim)
      .select(ExtractionJob.bucketOf(4).as("bucket"), col("conv_id"),
        org.apache.spark.sql.functions.lit(latest + 1).as("seq"))
      .distinct()
      .write.mode("overwrite").parquet(s"$out/deletes/snap-${latest + 1}")
    // resume commits snapshot latest+1 (an unrelated full wave)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    assert(SnapshotManifestFormat.latestSnapshot(out).get >= latest + 1)
    // the orphan is NOT referenced by any manifest, so the victim stays served
    val served = ExtractionJob.readCommitted(spark, out)
    assert(served.where(col("conv_id") === victim).count() ==
      turns.where(col("conv_id") === victim).count(),
      "orphan delete dir must not hide live rows")
    assert(ExtractionJob.readManifest(out).get.deleteDirs.isEmpty)
  }

  test("bucket-grained commit on a conv-grained table preserves the incremental state") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-mix").toString
    val turns = Transcripts.generate(spark, 25)
    val convCfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    assert(ExtractionJob.run(spark, turns, convCfg) == Set(0, 1, 2, 3))
    val manBefore = ExtractionJob.readManifest(out).get

    // delete one bucket's files -> a plain bucket-grained run recomputes it
    val lost = manBefore.files.head.bucket
    manBefore.files.filter(_.bucket == lost).foreach(f =>
      Files.delete(java.nio.file.Paths.get(out, "data", f.path)))
    val plainCfg = ExtractionJob.Config(out, buckets = 4, waves = 2)
    assert(ExtractionJob.run(spark, turns, plainCfg) == Set(lost))

    // the bucket-grained commit carried the conv fingerprints + sidecar;
    // the RECOMPUTED bucket's fp is dropped (its provenance is fresh data,
    // not the recorded formula) — everyone else's survives
    val manAfter = ExtractionJob.readManifest(out).get
    assert(manAfter.convFpsDir == manBefore.convFpsDir, "sidecar pointer must survive")
    assert(manAfter.inputFps == manBefore.inputFps - lost,
      "conv fingerprints must survive for untouched buckets")
    // the conv-grained rerun re-baselines ONLY the recomputed bucket —
    // and since no conversation actually changed, it commits refreshed
    // fingerprints without writing deletes or re-extracting anything
    val snapBefore = SnapshotManifestFormat.latestSnapshot(out).get
    assert(ExtractionJob.run(spark, turns, convCfg) == Set(lost))
    val manRebased = ExtractionJob.readManifest(out).get
    assert(manRebased.deleteDirs.isEmpty, "re-baseline must not write deletes")
    assert(manRebased.files.toSet == manAfter.files.toSet, "re-baseline must not write data")
    assert(SnapshotManifestFormat.latestSnapshot(out).get == snapBefore + 1)
    // and from here on, unchanged input is a true no-op
    assert(ExtractionJob.run(spark, turns, convCfg) == Set.empty,
      "mode mixing must not force a mass re-extraction")
    // the served table never regressed
    assert(ExtractionJob.readCommitted(spark, out).count() == turns.count())
  }

  test("a manifest in an older layout gets one clear refusal from every reader") {
    import java.nio.file.Paths
    val out = Files.createTempDirectory("graft-old-layout").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2)
    ExtractionJob.run(spark, turns, cfg)

    // rewrite the head manifest in the pre-file-list layout, and stage a
    // branch in the same layout
    val k = SnapshotManifestFormat.latestSnapshot(out).get
    def old(id: Int) = s"""{"snapshot_id":$id,"committed_buckets":[0,1,2,3],"committed_at":"x"}"""
    Files.write(Paths.get(out, "snapshots", s"snap-$k.json"), old(k).getBytes)
    Files.write(Paths.get(out, "snapshots", "branch-old"), s"${k + 1} 0123abcd".getBytes)
    Files.write(Paths.get(out, "snapshots", "snap-branch-old.json"), old(k + 1).getBytes)

    def refused(file: String)(read: => Any): Unit = {
      val e = intercept[IllegalStateException](read)
      assert(e.getMessage.contains(file) &&
        e.getMessage.contains("lacks required key(s) operation, schema, delete_dirs, files") &&
        e.getMessage.contains("older layouts are not migrated"), e.getMessage)
    }
    refused(s"snap-$k.json")(ExtractionJob.run(spark, turns, cfg))
    refused(s"snap-$k.json")(ExtractionJob.readCommitted(spark, out))
    refused(s"snap-$k.json")(SnapshotManifestFormat.committedBuckets(out))
    refused("snap-branch-old.json")(SnapshotManifestFormat.publishBranch(spark, out, "old"))
  }

  test("optimistic commit: of two writers computed from one table state, the loser throws and the table is unchanged") {
    import java.nio.file.Paths
    import graft.spark.{CommitConflictException, SnapshotManifestFormat}
    val out = Files.createTempDirectory("graft-conflict").toString
    val turns = Transcripts.generate(spark, 15)
    ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 2, waves = 1))
    val fmt = SnapshotManifestFormat
    val base = ExtractionJob.readManifest(out).get
    val wantRows = ExtractionJob.readCommitted(spark, out).count()

    // both drivers read snapshot `base` and plan snapshot base+1
    val next = base.snapshotId + 1
    // writer A wins: a manifest-only additive commit
    fmt.commitWave(out, s"$out/staging-a", next, base.buckets, base.files,
      Vector.empty, base.inputFps, additive = true, deleteDirs = base.deleteDirs)
    val winner = new String(Files.readAllBytes(Paths.get(out, "snapshots", s"snap-$next.json")))

    // writer B, computed against the SAME base, loses — and must refuse
    // BEFORE promoting its staged files
    val stagingB = Paths.get(out, "staging-b", "bucket=0")
    Files.createDirectories(stagingB)
    Files.write(stagingB.resolve("part-loser.parquet"), Array[Byte](1, 2, 3))
    intercept[CommitConflictException] {
      fmt.commitWave(out, s"$out/staging-b", next, base.buckets, base.files,
        Vector.empty, base.inputFps, additive = true, deleteDirs = base.deleteDirs)
    }
    // the loser changed nothing: winner's manifest byte-identical, _latest
    // unmoved, loser's staged file still in staging, NOT promoted into data/
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(next))
    assert(new String(Files.readAllBytes(
      Paths.get(out, "snapshots", s"snap-$next.json"))) == winner)
    assert(Files.exists(stagingB.resolve("part-loser.parquet")))
    assert(!Files.exists(Paths.get(out, "data", "bucket=0", "part-loser.parquet")))
    // a commit that skips ahead of the table (lost update the other way)
    // refuses too
    intercept[CommitConflictException] {
      fmt.commitWave(out, s"$out/staging-b", next + 2, base.buckets, base.files,
        Vector.empty, base.inputFps, additive = true, deleteDirs = base.deleteDirs)
    }
    // the table still serves the winner's data and a fresh run still resumes
    assert(ExtractionJob.readCommitted(spark, out).count() == wantRows)
    assert(ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 2, waves = 1)) == Set.empty)
  }

  test("incremental reads: appends + changed keys between snapshots replay to the exact table (CDC)") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-cdc").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get

    val ids = turns.select("conv_id").as[String].distinct().collect().sorted
    val convA = ids.head
    val convB = ids.last
    val v1 = turns.map(t => if (t.conv_id == convA) t.copy(text = t.text + "\ncdc fix 1") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    val s1 = SnapshotManifestFormat.latestSnapshot(out).get
    // second change of A AND removal of B in one upstream revision
    val v2 = v1.map(t => if (t.conv_id == convA) t.copy(text = t.text + "\ncdc fix 2") else t)
      .where(col("conv_id") =!= convB).as[graft.spark.Turn]
    assert(ExtractionJob.run(spark, v2, cfg).nonEmpty)
    val s2 = SnapshotManifestFormat.latestSnapshot(out).get

    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String)] =
      df.select("conv_id", "turn_idx", "fields_json")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    def extracted(src: org.apache.spark.sql.Dataset[graft.spark.Turn], conv: String) =
      rows(ExtractionJob.extract(spark,
        src.where(col("conv_id") === conv).as[graft.spark.Turn]).toDF())

    // (s0, s1]: exactly A's first-correction post-image
    assert(rows(SnapshotManifestFormat.readAppendsBetween(spark, out, s0, s1)) == extracted(v1, convA))
    // (s0, s2] spans BOTH corrections: only the latest post-image surfaces
    // (the range's own max-seq deletes supersede its earlier delta)
    assert(rows(SnapshotManifestFormat.readAppendsBetween(spark, out, s0, s2)) == extracted(v2, convA))
    // (s1, s2]: the second correction only
    assert(rows(SnapshotManifestFormat.readAppendsBetween(spark, out, s1, s2)) == extracted(v2, convA))

    // changed keys over (s0, s2]: A (re-extracted) and B (removed)
    val keys = SnapshotManifestFormat.readDeleteKeysBetween(spark, out, s0, s2)
      .select("conv_id").as[String].collect().toSet
    assert(keys == Set(convA, convB), s"changed keys $keys")

    // THE CDC invariant: base snapshot minus changed keys plus appends ==
    // the live table, byte-for-byte
    val base = rows(SnapshotManifestFormat.readCommittedAsOf(spark, out, s0))
    val replayed = base.filterNot { case (c, _, _) => keys.contains(c) } ++
      rows(SnapshotManifestFormat.readAppendsBetween(spark, out, s0, s2))
    assert(replayed == rows(ExtractionJob.readCommitted(spark, out)),
      "CDC replay must reconstruct the live table exactly")

    // a compaction is a replacing commit: incremental reads across it refuse
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty)
    val s3 = SnapshotManifestFormat.latestSnapshot(out).get
    val replaced = intercept[IllegalStateException] {
      SnapshotManifestFormat.readAppendsBetween(spark, out, s0, s3)
    }
    assert(replaced.getMessage.contains("replacing commit"), replaced.getMessage)
    // expired history is reported distinctly
    SnapshotManifestFormat.expireSnapshots(out, retainLast = 1)
    val expired = intercept[IllegalStateException] {
      SnapshotManifestFormat.readAppendsBetween(spark, out, s0, s1)
    }
    assert(expired.getMessage.contains("expired"), expired.getMessage)
    // inverted/empty ranges are caller errors
    intercept[IllegalArgumentException] {
      SnapshotManifestFormat.readAppendsBetween(spark, out, s2, s2)
    }
  }

  test("keyed read skips files via recorded bucket modulus and conv_id footer bounds") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    import graft.spark.SnapshotManifestFormat
    val turns = Transcripts.generate(spark, 25)

    // the driver-side bucket twin must agree with the Catalyst column expr
    // for every conversation (pruning correctness hinges on this)
    val pairs = turns.select(col("conv_id"), ExtractionJob.bucketOf(8).as("b")).distinct()
      .collect().map(r => (r.getString(0), r.getInt(1)))
    pairs.foreach { case (c, b) =>
      assert(ExtractionJob.bucketOfConvId(c, 8) == b, s"driver/catalyst bucket mismatch for $c")
    }

    val out = Files.createTempDirectory("graft-keyed").toString
    val cfg = ExtractionJob.Config(out, buckets = 8, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    // add a MOR delta so pruning is exercised against base + delta + deletes
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nkeyed fix") else t)
    assert(ExtractionJob.run(spark, changed, cfg).nonEmpty)

    val man = ExtractionJob.readManifest(out).get
    assert(man.bucketCount.contains(8), "manifest must record the bucket modulus")
    assert(man.files.forall(f => f.minConv.isDefined && f.maxConv.isDefined),
      "every Spark-written file must carry conv_id bounds")

    val convs = Seq(victim, pairs.map(_._1).sorted.last).distinct
    val pruned = SnapshotManifestFormat.pruneFilesForConvs(man, convs)
    val wantBuckets = convs.map(ExtractionJob.bucketOfConvId(_, 8)).toSet
    assert(pruned.nonEmpty && pruned.forall(f => wantBuckets.contains(f.bucket)),
      "pruning must keep only the requested conversations' buckets")
    assert(pruned.size < man.files.size, "pruning must actually skip files")

    // the pruned keyed read serves exactly the full-read-filtered content
    val got = SnapshotManifestFormat.readCommittedForConvs(spark, out, convs)
      .select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val want = ExtractionJob.readCommitted(spark, out)
      .where(col("conv_id").isin(convs: _*))
      .select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == want && got.nonEmpty, "keyed read must equal the filtered full read")
    // the corrected content is what's served for the victim (deltas applied)
    assert(got.exists { case (c, _, j) => c == victim && j.nonEmpty })

    // an unknown conversation reads empty without error
    assert(SnapshotManifestFormat.readCommittedForConvs(spark, out, Seq("no-such-conv")).count() == 0)
  }

  test("commit retry: a run that loses a race re-plans against the winner's state and completes") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-retryrun").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    assert(ExtractionJob.run(spark, turns, cfg) == Set(0, 1, 2, 3))

    // the run's FIRST commit races (the conv-grained delta)
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nraced fix") else t)
    val fmt = new RacingFormat
    val done = ExtractionJob.run(spark, changed, cfg, fmt) // commitRetries default
    assert(fmt.conflicts == 1, "the first attempt must have lost the race")
    assert(done.nonEmpty, "the retry must have completed the delta")
    // the served table reflects the correction exactly once, no duplicates
    val served = ExtractionJob.readCommitted(spark, out)
    assert(served.count() == changed.count())
    val got = served.where(col("conv_id") === victim)
      .select("turn_idx", "fields_json")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val want = ExtractionJob.extract(spark, changed.where(col("conv_id") === victim).as[graft.spark.Turn])
      .select("turn_idx", "fields_json")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == want, "retried run must serve the corrected content")
    assert(ExtractionJob.run(spark, changed, cfg) == Set.empty, "retried table resumes as a no-op")

    // commitRetries = 0 propagates the conflict to the caller instead
    val changed2 = changed.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nsecond fix") else t)
    intercept[CommitConflictException] {
      ExtractionJob.run(spark, changed2, cfg.copy(commitRetries = 0), new RacingFormat)
    }
    // nothing half-applied: a plain rerun completes the lost work
    assert(ExtractionJob.run(spark, changed2, cfg).nonEmpty)
    assert(ExtractionJob.readCommitted(spark, out).count() == changed2.count())
  }

  test("optimistic commit: a compaction racing a writer loses cleanly too") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    import graft.spark.{CommitConflictException, SnapshotManifestFormat}
    val out = Files.createTempDirectory("graft-compactrace").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    assert(ExtractionJob.run(spark, turns, cfg) == Set(0, 1, 2, 3))
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nfix") else t)
    assert(ExtractionJob.run(spark, changed, cfg).nonEmpty) // delta + deletes exist
    // a "racing writer" advances the table between compact's state read and
    // its commit: simulate by bumping the snapshot with a manifest-only
    // commit computed from the CURRENT state, then calling compact with the
    // artificially restored old _latest. Simpler equivalent: capture the
    // manifest, advance the table, then compact — compact re-reads the
    // LATEST manifest itself, so to race it we advance _latest mid-flight
    // via the low-level API against the same base.
    val man = ExtractionJob.readManifest(out).get
    val next = man.snapshotId + 1
    val fmt = SnapshotManifestFormat
    // writer wins the next snapshot id
    fmt.commitWave(out, s"$out/none", next, man.buckets, man.files,
      Vector.empty, man.inputFps, additive = true, convFpsDir = man.convFpsDir,
      deleteDirs = man.deleteDirs, fpMode = man.fpMode)
    // compact computed against the new state succeeds normally afterwards
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty)
    val served = ExtractionJob.readCommitted(spark, out)
      .where(col("conv_id") === victim).count()
    assert(served > 0)
    // and a commit computed against the now-stale pre-compact base refuses
    intercept[CommitConflictException] {
      fmt.commitWave(out, s"$out/none", next, man.buckets, man.files,
        Vector.empty, man.inputFps, additive = true, convFpsDir = man.convFpsDir,
        deleteDirs = man.deleteDirs, fpMode = man.fpMode)
    }
    assert(ExtractionJob.run(spark, changed, cfg) == Set.empty)
  }

  test("orphan sweep removes crashed-run leftovers but nothing any manifest references") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-sweep").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true)
    assert(ExtractionJob.run(spark, turns, cfg) == Set(0, 1, 2, 3))
    // a conv-grained delta so a LIVE tracked delete dir exists
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nsweep edit") else t)
    assert(ExtractionJob.run(spark, changed, cfg).nonEmpty)
    val man = ExtractionJob.readManifest(out).get
    assert(man.deleteDirs.nonEmpty, "setup needs a live tracked delete dir")
    val baseline = ExtractionJob.readCommitted(spark, out)
      .select("conv_id", "turn_idx", "fields_json").collect().map(_.toSeq).sortBy(_.toString)

    // plant every orphan class: a crashed staging dir, an unreferenced data
    // file, an untracked delete dir (lost-race shape), an unreferenced
    // conv-fp sidecar dir
    val staging = java.nio.file.Paths.get(out, "staging-crashed-run", "bucket=0")
    Files.createDirectories(staging)
    Files.write(staging.resolve("junk.parquet"), Array[Byte](1))
    val orphanData = java.nio.file.Paths.get(out, "data", "bucket=0", "part-orphan.parquet")
    Files.write(orphanData, Array[Byte](2))
    val orphanDel = java.nio.file.Paths.get(out, "deletes", s"snap-${man.snapshotId + 7}")
    Files.createDirectories(orphanDel)
    Files.write(orphanDel.resolve("junk.parquet"), Array[Byte](3))
    val orphanFp = java.nio.file.Paths.get(out, "conv_fps", "fp-orphan")
    Files.createDirectories(orphanFp)
    Files.write(orphanFp.resolve("junk.parquet"), Array[Byte](4))

    // a conservative age threshold protects in-flight writers: nothing is
    // young enough to sweep
    val none = SnapshotManifestFormat.removeOrphanFiles(out, olderThanMs = 3600L * 1000)
    assert(none.total == 0, s"young files must survive: $none")
    assert(Files.exists(orphanData) && Files.isDirectory(orphanDel))

    // at threshold 0 exactly the four planted orphans go
    val swept = SnapshotManifestFormat.removeOrphanFiles(out, olderThanMs = 0)
    assert(swept == graft.spark.OrphanSweep(1, 1, 1, 1), s"unexpected sweep: $swept")
    assert(!Files.exists(staging.getParent) && !Files.exists(orphanData) &&
      !Files.exists(orphanDel) && !Files.exists(orphanFp))

    // referenced state is untouched: same bytes served, time travel intact,
    // the tracked delete dir and live sidecar survive
    assert(Files.isDirectory(java.nio.file.Paths.get(out, "deletes", man.deleteDirs.head)))
    assert(man.convFpsDir.forall(d =>
      Files.isDirectory(java.nio.file.Paths.get(out, "conv_fps", d))))
    val after = ExtractionJob.readCommitted(spark, out)
      .select("conv_id", "turn_idx", "fields_json").collect().map(_.toSeq).sortBy(_.toString)
    assert(after.length == baseline.length &&
      after.zip(baseline).forall { case (x, y) => x == y })
    SnapshotManifestFormat.readCommittedAsOf(spark, out, man.snapshotId - 1).count() // no integrity trip
    // idempotent: a second sweep finds nothing
    assert(SnapshotManifestFormat.removeOrphanFiles(out, olderThanMs = 0).total == 0)
  }

  test("committed data files are in (conv_id, turn_idx) order after run, binpack, compact and rebucket") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-sorted").toString
    val turns = Transcripts.generate(spark, 14)
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    assertFilesSorted(out, "run")
    // conv-grained corrections: small delta files plus pending deletes
    val victims = turns.select("conv_id").as[String].distinct().collect().sorted.take(3)
    var cur = turns.collect().toSeq
    victims.zipWithIndex.foreach { case (v, i) =>
      cur = cur.map(t => if (t.conv_id == v) t.copy(text = t.text + s"\nFix $i") else t)
      assert(ExtractionJob.run(spark, cur.toDS(), cfg).nonEmpty)
    }
    assertFilesSorted(out, "delta runs")
    assert(SnapshotManifestFormat.binpackDataFiles(spark, out, minRows = Long.MaxValue).nonEmpty)
    assertFilesSorted(out, "binpack")
    assert(ExtractionJob.readManifest(out).get.deleteDirs.nonEmpty, "compact needs deletes")
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty)
    assertFilesSorted(out, "compact")
    ExtractionJob.rebucket(spark, out, 3)
    assertFilesSorted(out, "rebucket")
    // rewriteSorted splits each bucket into several files, each in key order
    ExtractionJob.rewriteSorted(spark, out, targetRowsPerFile = 40)
    assert(ExtractionJob.readManifest(out).get.files.size > 3, "rewriteSorted must split buckets")
    assertFilesSorted(out, "rewriteSorted")
    // a replication batch arriving in random row order is written sorted too
    val replica = Files.createTempDirectory("graft-sorted-replica").toString
    val feed = ExtractionJob.readCommitted(spark, out)
      .withColumn("_change_type", lit("insert")).orderBy(rand(7))
    assert(TableReplication.replicateBatch(spark, feed, batchId = 0L, replica, "q",
      ExtractionJob.readManifest(out).get.bucketCount) > 0L)
    assertFilesSorted(replica, "replication")
  }

  test("a kill mid-run cancels the in-flight wave, leaves no staging, and resumes to the uninterrupted table") {
    val full = Files.createTempDirectory("graft-kill-full").toString
    val out = Files.createTempDirectory("graft-kill").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(out, buckets = 8, waves = 4)
    ExtractionJob.run(spark, turns, cfg.copy(outDir = full))
    val killed = intercept[RuntimeException] {
      ExtractionJob.run(spark, turns, cfg.copy(failAfterWave = 1))
    }
    assert(killed.getMessage.contains("simulated kill after wave 1"))
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(1), "waves 0 and 1 committed, in order")
    assertQuiet(out)
    assert(ExtractionJob.run(spark, turns, cfg).size == 4)
    assert(tableRows(out) == tableRows(full), "resumed table must equal the uninterrupted one")
  }

  test("a commit race at wave 1 cancels the in-flight wave; the retried or resumed table is whole") {
    val full = Files.createTempDirectory("graft-race-full").toString
    val turns = Transcripts.generate(spark, 25)
    val cfg = ExtractionJob.Config(full, buckets = 8, waves = 4)
    ExtractionJob.run(spark, turns, cfg)
    val want = tableRows(full)

    // no retries: the conflict reaches the caller with wave 0 committed
    val lost = Files.createTempDirectory("graft-race-lost").toString
    intercept[CommitConflictException] {
      ExtractionJob.run(spark, turns, cfg.copy(outDir = lost, commitRetries = 0),
        new RacingFormat(raceAt = 1))
    }
    // wave 0 at snapshot 0, the competing writer's commit at 1
    assert(SnapshotManifestFormat.latestSnapshot(lost).contains(1))
    assert(SnapshotManifestFormat.committedBuckets(lost).size == 2)
    assertQuiet(lost)
    assert(ExtractionJob.run(spark, turns, cfg.copy(outDir = lost)).size == 6)
    assert(tableRows(lost) == want, "resumed table must equal the uninterrupted one")

    // default retries: the run re-plans and completes by itself
    val retried = Files.createTempDirectory("graft-race-retried").toString
    val fmt = new RacingFormat(raceAt = 1)
    assert(ExtractionJob.run(spark, turns, cfg.copy(outDir = retried), fmt) == (0 until 8).toSet)
    assert(fmt.conflicts == 1)
    assertQuiet(retried)
    assert(tableRows(retried) == want, "retried table must equal the uninterrupted one")
  }

  test("the caller's job group and job tag cancel an in-flight run; its thread state is untouched") {
    val sc = spark.sparkContext
    val turns = Transcripts.generate(spark, 25)
    /** Runs a job under `scope` while another thread calls `cancel` until
      * the run ends; the run must fail with a cancelled Spark job. */
    def cancelledRun(name: String)(scope: => Unit)(cancel: => Unit): Unit = {
      val out = Files.createTempDirectory(s"graft-cancel-$name").toString
      @volatile var running = true
      val canceller = new Thread(() => while (running) { cancel; Thread.sleep(10) })
      scope
      try {
        canceller.start()
        val e = intercept[SparkException] {
          ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 8, waves = 4))
        }
        assert(e.getMessage.contains("cancelled"), e.getMessage)
      } finally {
        running = false
        canceller.join()
        sc.clearJobGroup()
        sc.clearJobTags()
      }
      assertQuiet(out)
    }
    cancelledRun("group")(sc.setJobGroup("graft-caller-group", "caller"))(
      sc.cancelJobGroup("graft-caller-group"))
    cancelledRun("tag")(sc.addJobTag("graft-caller-tag"))(sc.cancelJobsWithTag("graft-caller-tag"))

    // the caller's local properties and active session survive a run
    sc.setJobGroup("graft-kept-group", "kept")
    sc.addJobTag("graft-kept-tag")
    sc.setLocalProperty("graft.test.prop", "kept")
    def threadState = (Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.sql.execution.id", "graft.test.prop")
      .map(k => k -> sc.getLocalProperty(k)), sc.getJobTags())
    try {
      val before = threadState
      val session = org.apache.spark.sql.SparkSession.getActiveSession
      val out = Files.createTempDirectory("graft-props").toString
      ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 4, waves = 4))
      assert(threadState == before)
      assert(org.apache.spark.sql.SparkSession.getActiveSession == session)
    } finally {
      sc.clearJobGroup()
      sc.clearJobTags()
      sc.setLocalProperty("graft.test.prop", null)
    }
  }

  test("back-to-back runs leave no staging threads behind") {
    // Spark's own cached pools (exchange, query-stage, block-manager, task
    // threads) add a thread per submission up to their caps and idle out
    // after 60 s; they are not threads a run owns
    val sparkPool = ("^(shuffle-exchange|broadcast-exchange|ResultQueryStageExecution|" +
      "QueryStageCreator|block-manager-|map-output-dispatcher|task-result-getter|" +
      "Executor task launch worker|ForkJoinPool.commonPool)").r
    def owned = Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(sparkPool.findFirstIn(_).isEmpty)
    val turns = Transcripts.generate(spark, 6)
    def runOnce(): Unit = {
      val out = Files.createTempDirectory("graft-threads").toString
      ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 4, waves = 4))
    }
    runOnce()
    val before = owned
    (1 to 20).foreach(_ => runOnce())
    val extra = owned -- before
    assert(!owned.exists(_.startsWith("graft-wave-")), "staging threads outlived their run")
    assert(extra.size <= 2, s"threads left by 20 runs: $extra")
  }
}
