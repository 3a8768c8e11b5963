package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, StreamingCurate, Transcripts, Turn}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** Incremental curation over the change feed (the composition of the
  * graft-table CDC reads with the curation pipeline): after ANY sequence
  * of upstream corrections and curation cycles, the materialized curated
  * corpus must equal the from-scratch gate+dedup curation of the table's
  * current committed snapshot — including the hard case where editing a
  * duplicate group's KEEPER promotes a surviving loser into the corpus. */
class StreamingCurateSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def key(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int, String, String)] =
    df.select("h", "conv_id", "turn_idx", "fields_json", "main_text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3), r.getString(4)))
      .toSet

  private def assertMatchesFromScratch(tableDir: String, work: String, ctx: String): Unit = {
    val got = key(StreamingCurate.readCurated(spark, work))
    val want = key(StreamingCurate.curateFromScratch(
      ExtractionJob.readCommitted(spark, tableDir)))
    assert(got == want,
      s"[$ctx] incremental != from-scratch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("mutate -> feed -> curate cycles: incremental corpus equals from-scratch curation, keeper promotion included") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-scurate-table").toString
    val work = Files.createTempDirectory("graft-scurate-work").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 1, convGrained = true,
      autoCompactDeletes = 0)

    // base corpus plus a crafted DUPLICATE GROUP: two conversations with
    // byte-identical turn text, so their extracted main_text collides and
    // exact dedup keeps the smaller key
    val ts = new Timestamp(1700000000000L)
    val dupText = "Patient Name: ________  Date of Birth: ________\nI consent to the procedure."
    val dupA = Seq(Turn("aaa-dup", 0, "user", dupText, "", ts))
    val dupB = Seq(Turn("zzz-dup", 0, "user", dupText, "", ts))
    val base = Transcripts.generate(spark, 12)
    val v0 = base.collect().toSeq ++ dupA ++ dupB
    assert(ExtractionJob.run(spark, v0.toDS(), cfg).nonEmpty)

    // bootstrap cycle covers the whole table
    val s0 = StreamingCurate.cycle(spark, out, work).get
    assert(s0.from == -1 && s0.curatedRows > 0)
    assertMatchesFromScratch(out, work, "bootstrap")
    // the duplicate group kept exactly the minimum key
    val byConv0 = key(StreamingCurate.readCurated(spark, work))
    assert(byConv0.exists(_._2 == "aaa-dup") && !byConv0.exists(_._2 == "zzz-dup"),
      "keep-first must retain the minimum key of the duplicate group")

    // no new snapshot -> no-op cycle
    assert(StreamingCurate.cycle(spark, out, work).isEmpty)

    // 1) ordinary correction of a non-duplicate conversation
    val victim = base.select("conv_id").as[String].head()
    val v1 = v0.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nCity: Austin") else t)
    assert(ExtractionJob.run(spark, v1.toDS(), cfg).nonEmpty)
    val s1 = StreamingCurate.cycle(spark, out, work).get
    assert(s1.deletedConvs >= 1)
    assertMatchesFromScratch(out, work, "ordinary correction")

    // 2) KEEPER PROMOTION: edit the duplicate group's keeper so its text
    // leaves the group — the loser (zzz-dup) must be promoted into the
    // curated corpus from state alone (its row never re-enters the feed)
    val v2 = v1.map(t => if (t.conv_id == "aaa-dup") t.copy(text = t.text + "\nAmended.") else t)
    assert(ExtractionJob.run(spark, v2.toDS(), cfg).nonEmpty)
    val s2 = StreamingCurate.cycle(spark, out, work).get
    assert(s2.deletedConvs >= 1)
    assertMatchesFromScratch(out, work, "keeper promotion")
    val afterPromo = key(StreamingCurate.readCurated(spark, work))
    assert(afterPromo.exists(_._2 == "zzz-dup"),
      "the surviving duplicate must be promoted when the keeper leaves the group")
    assert(afterPromo.exists(t => t._2 == "aaa-dup"),
      "the edited ex-keeper is now unique content and stays curated")

    // 3) multiple table snapshots consumed by ONE cycle (range > 1)
    val v3 = v2.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nState: TX") else t)
    assert(ExtractionJob.run(spark, v3.toDS(), cfg).nonEmpty)
    val v4 = v3.map(t => if (t.conv_id == "zzz-dup") t.copy(text = t.text + "\nZip: 10001") else t)
    assert(ExtractionJob.run(spark, v4.toDS(), cfg).nonEmpty)
    val s4 = StreamingCurate.cycle(spark, out, work).get
    assert(s4.to - s4.from >= 2, s"one cycle must consume both snapshots, got $s4")
    assertMatchesFromScratch(out, work, "multi-snapshot batch")

    // 4) a fresh bootstrap over the final table agrees with the
    // incrementally maintained corpus (same state, rebuilt from zero)
    val work2 = Files.createTempDirectory("graft-scurate-work2").toString
    assert(StreamingCurate.cycle(spark, out, work2).nonEmpty)
    assert(key(StreamingCurate.readCurated(spark, work2)) ==
      key(StreamingCurate.readCurated(spark, work)))

    // 5) maintenance interleaved in the backlog: delta, COMPACT (a
    // replace commit that physically rewrites pre-replace files), another
    // delta — the cycle detects the buried deltas, REBUILDS from the head
    // snapshot, and still matches from-scratch
    val v5 = v4.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nStep: 5") else t)
    assert(ExtractionJob.run(spark, v5.toDS(), cfg).nonEmpty)
    assert(SnapshotManifestFormat.compact(spark, out).nonEmpty)
    val v6 = v5.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nStep: 6") else t)
    assert(ExtractionJob.run(spark, v6.toDS(), cfg).nonEmpty)
    val s6 = StreamingCurate.cycle(spark, out, work).get
    assert(s6.to - s6.from >= 3, s"cycle must span delta+replace+delta, got $s6")
    assertMatchesFromScratch(out, work, "maintenance-interleaved backlog")

    // 6) a backlog ENDING at a replace commit: checkpoint advances with
    // zero data work, corpus unchanged
    SnapshotManifestFormat.compact(spark, out) // may or may not find debt
    val headNow = SnapshotManifestFormat.latestSnapshot(out).get
    if (headNow > StreamingCurate.lastCuratedSnapshot(work)) {
      val s7 = StreamingCurate.cycle(spark, out, work).get
      assert(s7.upserts == 0L && s7.deletedConvs == 0L,
        s"a replace-only backlog must do zero data work, got $s7")
      assertMatchesFromScratch(out, work, "replace-terminated backlog")
    }

    // 7) a workdir in the older layout (a checkpoint but no _curated_rows
    // count file) taking the rewrite-only skip-to-head path is refused
    // with one clear error, never reported as 0 curated rows
    ExtractionJob.rewriteSorted(spark, out, targetRowsPerFile = 1000)
    if (SnapshotManifestFormat.latestSnapshot(out).get > StreamingCurate.lastCuratedSnapshot(work)) {
      Files.deleteIfExists(Paths.get(work, "_curated_rows"))
      val e = intercept[IllegalStateException](StreamingCurate.cycle(spark, out, work))
      assert(e.getMessage.contains("not migrated"), e.getMessage)
    }
  }

  test("a content-changing replace commit (bucket recompute) forces a rebuild, never a checkpoint skip") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-scurate-replace-t").toString
    val work = Files.createTempDirectory("graft-scurate-replace-w").toString
    // bucket-grained fingerprint resume: an upstream correction recomputes
    // the whole bucket and commits operation="replace" with CHANGED rows —
    // the one replace kind the checkpoint must never skip over
    val cfgB = ExtractionJob.Config(out, buckets = 2, waves = 1,
      fingerprintInputs = true)
    val turns = Transcripts.generate(spark, 8)
    assert(ExtractionJob.run(spark, turns, cfgB).nonEmpty)
    assert(StreamingCurate.cycle(spark, out, work).nonEmpty)
    assertMatchesFromScratch(out, work, "bucket-grained bootstrap")

    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nCounty: Travis") else t)
    assert(ExtractionJob.run(spark, changed, cfgB).nonEmpty)
    assert(ExtractionJob.readManifest(out).get.operation == "replace",
      "setup must produce a content-changing replace commit")
    assert(StreamingCurate.cycle(spark, out, work).nonEmpty)
    // without the rebuild the checkpoint would skip the replace and the
    // curated corpus would keep the pre-correction text forever
    assertMatchesFromScratch(out, work, "content-changing replace rebuild")
    assert(StreamingCurate.readCurated(spark, work)
      .where(org.apache.spark.sql.functions.col("conv_id") === victim)
      .count() > 0, "the corrected conversation must be re-curated")
  }

  test("seeded randomized mutate/cycle sequences keep incremental == from-scratch") {
    val ss = spark
    import ss.implicits._
    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      val out = Files.createTempDirectory(s"graft-scurate-rnd$seed-t").toString
      val work = Files.createTempDirectory(s"graft-scurate-rnd$seed-w").toString
      val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
        autoCompactDeletes = 0)
      var cur: Seq[Turn] = Transcripts.generate(spark, 8).collect().toSeq
      assert(ExtractionJob.run(spark, cur.toDS(), cfg).nonEmpty)
      val convs = cur.map(_.conv_id).distinct
      var mutation = 0
      (1 to 8).foreach { step =>
        rnd.nextInt(3) match {
          case 0 => // mutate a random conversation
            val v = convs(rnd.nextInt(convs.size))
            mutation += 1
            cur = cur.map(t =>
              if (t.conv_id == v) t.copy(text = t.text + s"\nRnd $mutation") else t)
            assert(ExtractionJob.run(spark, cur.toDS(), cfg).nonEmpty)
          case 1 => // maintenance (replace commit) — content preserved
            SnapshotManifestFormat.compact(spark, out)
          case 2 => // curate whatever backlog accumulated
            StreamingCurate.cycle(spark, out, work)
            val got = StreamingCurate.readCurated(spark, work)
              .select("h", "conv_id", "turn_idx").collect()
              .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
            val want = StreamingCurate.curateFromScratch(
              ExtractionJob.readCommitted(spark, out))
              .select("h", "conv_id", "turn_idx").collect()
              .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
            assert(got == want, s"[seed=$seed step=$step] incremental != from-scratch")
        }
      }
      // final settle: one last cycle must reconcile everything
      StreamingCurate.cycle(spark, out, work)
      val got = StreamingCurate.readCurated(spark, work)
        .select("h", "conv_id", "turn_idx").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val want = StreamingCurate.curateFromScratch(
        ExtractionJob.readCommitted(spark, out))
        .select("h", "conv_id", "turn_idx").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(got == want, s"[seed=$seed final] incremental != from-scratch")
    }
  }
}
