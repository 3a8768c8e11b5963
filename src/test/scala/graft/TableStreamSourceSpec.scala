package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.Files

/** Table-as-a-stream: the graft-table v1 streaming source tails the
  * snapshot table — full snapshot first, then net post-image appends per
  * commit range — with engine-checkpointed snapshot-id offsets
  * (exactly-once across restarts), and fails loudly on replacing commits
  * and mid-stream schema changes. */
class TableStreamSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** One AvailableNow pass of the table stream into a parquet sink;
    * each call is a fresh query resuming from `ckpt`. */
  private def drain(tableDir: String, sinkDir: String, ckpt: String,
                    options: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft-table").options(options)
    val q = reader.load(tableDir)
      .writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  // main_text included: a correction that only appends prose changes the
  // extracted main content even when the field list is unaffected — without
  // it the post-image rows would dedupe away in the Set compare
  private def sinkRows(sinkDir: String): Set[(String, Int, String, String)] = {
    val ls = Files.list(java.nio.file.Paths.get(sinkDir))
    val hasParquet =
      try ls.anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
      finally ls.close()
    if (!hasParquet)
      Set.empty
    else spark.read.parquet(sinkDir)
      .select("conv_id", "turn_idx", "fields_json", "main_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
  }

  private def tableRows(out: String): Set[(String, Int, String, String)] =
    ExtractionJob.readCommitted(spark, out)
      .select("conv_id", "turn_idx", "fields_json", "main_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet

  test("initial snapshot + incremental tail with exactly-once resume; delete-only commits are empty batches") {
    val ss = spark
    import ss.implicits._
    val base = Files.createTempDirectory("graft-tablestream").toString
    val out = s"$base/table"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 15)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)

    // first drain: the full committed snapshot arrives as the initial batch
    drain(out, sink, ckpt)
    assert(sinkRows(sink) == tableRows(out), "initial batch must equal the committed table")
    val n0 = sinkRows(sink).size

    // an idle drain appends nothing (offset unchanged)
    drain(out, sink, ckpt)
    assert(sinkRows(sink).size == n0)

    // a correction lands as a delta commit; the next drain serves ONLY the
    // corrected conversation's post-image rows
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nstream fix") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    drain(out, sink, ckpt)
    val afterDelta = sinkRows(sink)
    val victimTurns = turns.where($"conv_id" === victim).count().toInt
    assert(afterDelta.size == n0 + victimTurns,
      s"expected exactly the $victimTurns post-image rows, got ${afterDelta.size - n0} new")
    // the post-images carry the CORRECTED content (they match the live table)
    val postImages = afterDelta.filter(_._1 == victim)
    val live = tableRows(out).filter(_._1 == victim)
    assert(postImages.intersect(live) == live,
      "sink must contain the corrected post-image for every victim turn")

    // upstream deletion: delete-only commit -> the drain succeeds and
    // appends nothing (retractions are served by readDeleteKeysBetween)
    val gone = v1.where($"conv_id" =!= victim).as[graft.spark.Turn]
    val preDelete = SnapshotManifestFormat.latestSnapshot(out).get
    assert(ExtractionJob.run(spark, gone, cfg).nonEmpty)
    val postDelete = SnapshotManifestFormat.latestSnapshot(out).get
    drain(out, sink, ckpt)
    assert(sinkRows(sink).size == afterDelta.size, "delete-only commit must stream no rows")
    val delKeys = fmt.readDeleteKeysBetween(spark, out, preDelete, postDelete)
      .select("conv_id").collect().map(_.getString(0)).toSet
    assert(delKeys == Set(victim), "the retraction is visible through the CDC delete read")
  }

  test("startSnapshot=latest skips history; an explicit id starts mid-stream") {
    val ss = spark
    import ss.implicits._
    val base = Files.createTempDirectory("graft-tablestream-start").toString
    val out = s"$base/table"
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 12)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)

    // latest: the existing table is NOT replayed
    drain(out, s"$base/sink1", s"$base/ckpt1", Map("startSnapshot" -> "latest"))
    assert(sinkRows(s"$base/sink1").isEmpty, "startSnapshot=latest must skip existing data")

    // a delta commit IS served to the latest-tailer
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nlatest fix") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    drain(out, s"$base/sink1", s"$base/ckpt1", Map("startSnapshot" -> "latest"))
    val tailed = sinkRows(s"$base/sink1")
    assert(tailed.nonEmpty && tailed.forall(_._1 == victim),
      s"latest-tailer must see exactly the delta, got ${tailed.map(_._1)}")

    // explicit start id: serve increments from that snapshot on, no initial
    // snapshot batch
    val deltaSnap = SnapshotManifestFormat.latestSnapshot(out).get
    drain(out, s"$base/sink2", s"$base/ckpt2", Map("startSnapshot" -> deltaSnap.toString))
    val fromId = sinkRows(s"$base/sink2")
    assert(fromId == tailed, "explicit startSnapshot must serve the same delta rows")
  }

  test("maxSnapshotsPerBatch bounds catch-up: a backlog drains as multiple batches, exactly once") {
    val ss = spark
    import ss.implicits._
    val base = Files.createTempDirectory("graft-tablestream-cap").toString
    val out = s"$base/table"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 12)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty) // 2 waves -> snapshots 0, 1

    // two corrections -> two more snapshots of backlog
    val victim = turns.select("conv_id").as[String].head()
    val v1 = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\ncap fix 1") else t)
    assert(ExtractionJob.run(spark, v1, cfg).nonEmpty)
    val v2 = v1.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\ncap fix 2") else t)
    assert(ExtractionJob.run(spark, v2, cfg).nonEmpty)
    val head = SnapshotManifestFormat.latestSnapshot(out).get

    // one AvailableNow drain, one snapshot per batch: the whole backlog
    // arrives, split into bounded batches (capped initial snapshot first)
    drain(out, sink, ckpt, Map("maxSnapshotsPerBatch" -> "1"))
    val ols = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
    val batches =
      try ols.filter(p => p.getFileName.toString.forall(_.isDigit)).count()
      finally ols.close()
    assert(batches == head + 1,
      s"expected ${head + 1} capped batches (one per snapshot), got $batches")
    val got = sinkRows(sink)
    // every turn present; the victim carries BOTH post-image versions plus
    // the original (three distinct main_text states across the batches)
    assert(got.map(t => (t._1, t._2)) == tableRows(out).map(t => (t._1, t._2)))
    val victimVersions = got.filter(_._1 == victim)
      .groupBy(t => (t._1, t._2)).values.map(_.size).toSet
    assert(victimVersions == Set(3),
      s"each victim turn must appear in 3 content versions, got $victimVersions")
    // an idle capped drain adds nothing
    drain(out, sink, ckpt, Map("maxSnapshotsPerBatch" -> "1"))
    assert(sinkRows(sink) == got)
  }

  test("replacing commits fail the stream distinctly: rollback -> replace refusal, compaction -> rewritten history") {
    val ss = spark
    import ss.implicits._

    // ROLLBACK (files intact): the restart replays its initial batch fine
    // and the new range hits the replace refusal
    val base1 = Files.createTempDirectory("graft-tablestream-rollback").toString
    val out1 = s"$base1/table"
    val cfg1 = ExtractionJob.Config(out1, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns1 = Transcripts.generate(spark, 12)
    assert(ExtractionJob.run(spark, turns1, cfg1).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out1).get
    drain(out1, s"$base1/sink", s"$base1/ckpt")
    val victim1 = turns1.select("conv_id").as[String].head()
    val w1 = turns1.map(t =>
      if (t.conv_id == victim1) t.copy(text = t.text + "\nrollback fix") else t)
    assert(ExtractionJob.run(spark, w1, cfg1).nonEmpty)
    SnapshotManifestFormat.rollbackTo(out1, s0) // replace commit, no file rewrite
    val e1 = intercept[StreamingQueryException] {
      drain(out1, s"$base1/sink", s"$base1/ckpt")
    }
    val msg1 = Iterator.iterate(e1: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg1.contains("replacing commit"),
      s"expected the replace-refusal error through the stream, got: $msg1")

    // COMPACTION (rewrites affected buckets' files): the restart's replayed
    // initial batch refuses on rewritten history instead of silently
    // serving a partial snapshot (the streaming relation skips missing
    // files rather than erroring)
    val base2 = Files.createTempDirectory("graft-tablestream-compact").toString
    val out2 = s"$base2/table"
    val cfg2 = ExtractionJob.Config(out2, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns2 = Transcripts.generate(spark, 12)
    assert(ExtractionJob.run(spark, turns2, cfg2).nonEmpty)
    drain(out2, s"$base2/sink", s"$base2/ckpt")
    val victim2 = turns2.select("conv_id").as[String].head()
    val w2 = turns2.map(t =>
      if (t.conv_id == victim2) t.copy(text = t.text + "\ncompact fix") else t)
    assert(ExtractionJob.run(spark, w2, cfg2).nonEmpty)
    assert(SnapshotManifestFormat.compact(spark, out2).nonEmpty)
    val e2 = intercept[StreamingQueryException] {
      drain(out2, s"$base2/sink", s"$base2/ckpt")
    }
    val msg2 = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg2.contains("rewritten or expired") || msg2.contains("replacing commit"),
      s"expected a distinct replace/history error through the stream, got: $msg2")
  }

  test("a mid-stream schema change fails the stream loudly") {
    val ss = spark
    import ss.implicits._
    val base = Files.createTempDirectory("graft-tablestream-schema").toString
    val out = s"$base/table"
    def stage(name: String, df: DataFrame): String = {
      val dir = s"$base/$name"
      df.write.mode("overwrite").partitionBy("bucket").parquet(dir)
      dir
    }
    val s0 = stage("staging-0", Seq((0, "c0", 10L), (1, "c1", 20L))
      .toDF("bucket", "conv_id", "score"))
    fmt.commitWave(out, s0, 0, Set(0, 1), fmt.listStagedFiles(spark, s0).toVector,
      Vector.empty, Map.empty, bucketCount = Some(2))
    drain(out, s"$base/sink", s"$base/ckpt")
    assert(spark.read.parquet(s"$base/sink").columns.toSeq == Seq("conv_id", "score", "bucket"))

    // engine v2 adds a column; the old stream must refuse, not misbind
    val s1 = stage("staging-1", Seq((0, "c2", 30L, 0.9))
      .toDF("bucket", "conv_id", "score", "quality"))
    val files0 = fmt.readManifestAt(out, 0).get.files
    fmt.commitWave(out, s1, 1, Set(0, 1),
      files0 ++ fmt.listStagedFiles(spark, s1).toVector.map(_.copy(seq = 1)),
      Vector.empty, Map.empty, additive = true, bucketCount = Some(2), operation = "delta")
    val e = intercept[StreamingQueryException] {
      drain(out, s"$base/sink", s"$base/ckpt")
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    // caught at restart (checkpoint-pinned schema) or mid-run (guardSchema)
    assert(msg.contains("schema changed"), s"got: $msg")
    // a FRESH stream picks the new schema up from its first batch
    drain(out, s"$base/sink2", s"$base/ckpt2")
    assert(spark.read.parquet(s"$base/sink2").columns.toSeq ==
      Seq("conv_id", "score", "quality", "bucket"))
  }
}
