package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts, Turn}
import java.nio.file.Files

/** Multi-round merge-on-read lifecycle property test: seeded random
  * sequences of upstream mutations (conv edits, deletions, additions)
  * interleaved with table maintenance (compaction, snapshot expiry) and a
  * kill/resume, validated against a driver-side model after every step.
  *
  * Invariants checked after each operation:
  *   1. the served table equals the model — per-turn byte equality of
  *      fields_json against the row-local extractor run on the model turns;
  *   2. re-running on unchanged input is a no-op (sampled);
  *   3. time travel to any previously committed snapshot either serves
  *      exactly the content the table held at that snapshot, or fails with
  *      the *distinct* history-loss/expired error — NEVER the corruption
  *      integrity errors ("missing" data files / delete dirs).
  *
  * The round-4 MOR bugs (orphan delete-dir activation, dangling manifest
  * refs) were lifecycle-interaction bugs that single-scenario specs missed;
  * this generator exists to find the next one first.
  */
class MorLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var savedShufflePartitions: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // tiny tables: keep every shuffle narrow and skip AQE's per-stage
    // re-optimization rounds for this suite's hundreds of micro-jobs
    // (restored after — other suites assert on adaptive plans)
    savedShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  private var savedAqe: String = _

  override def afterAll(): Unit = if (spark != null) {
    spark.conf.set("spark.sql.shuffle.partitions", savedShufflePartitions)
    spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
  }

  /** Short-conversation ordinals only (the heavy tail is every 10th) — each
    * sequence stays at a few dozen turns so 50 sequences fit a test budget. */
  private lazy val shortOrdinalPool: Vector[Long] =
    (0L until 40L).filterNot(_ % 10 == 9).toVector

  /** Driver-side expected extraction, memoized across sequences (the pool
    * texts repeat; mutation suffixes create a bounded number of variants). */
  private val extractMemo = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def expectedJson(text: String, tool: String): String = {
    val k = (tool, text)
    val hit = extractMemo.get(k)
    if (hit != null) hit
    else {
      val v = graft.extract.Extractor.extractTurn(text, tool).fieldsJson
      extractMemo.put(k, v)
      v
    }
  }

  private type Snapshot = Set[(String, Int, String)]

  private def expectedOf(model: Vector[Turn]): Snapshot =
    model.map(t => (t.conv_id, t.turn_idx, expectedJson(t.text, t.tool))).toSet

  private def serve(out: String): Snapshot =
    ExtractionJob.readCommitted(spark, out)
      .select("conv_id", "turn_idx", "fields_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  private def toDs(model: Vector[Turn]) = {
    val ss = spark
    import ss.implicits._
    spark.createDataset(model)
  }

  /** One seeded lifecycle sequence. */
  private def runSequence(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val out = Files.createTempDirectory(s"graft-mor-$seed").toString
    val buckets = 2 + rnd.nextInt(3) // 2..4
    val autoCompact = if (rnd.nextInt(4) == 0) 5 else 0
    val cfg = ExtractionJob.Config(out, buckets = buckets, waves = 1,
      convGrained = true, autoCompactDeletes = autoCompact)

    // initial table: 4-6 short conversations; the seed suffix varies bucket
    // placement across sequences (conv_id feeds the bucket hash)
    val pool = rnd.shuffle(shortOrdinalPool).toVector
    var poolIdx = 0
    def nextConv(): Vector[Turn] = {
      val ord = pool(poolIdx % pool.size); poolIdx += 1
      Transcripts.turnsFor(ord).map(t => t.copy(conv_id = s"${t.conv_id}x$seed-$poolIdx")).toVector
    }
    var model: Vector[Turn] = Vector.fill(4 + rnd.nextInt(3))(nextConv()).flatten
    var mutationCounter = 0

    // history of committed snapshots we know the exact content of
    var history = Map.empty[Int, Snapshot]

    def record(): Unit =
      SnapshotManifestFormat.latestSnapshot(out).foreach(k => history += k -> expectedOf(model))

    def checkServed(ctx: String): Unit = {
      val got = serve(out)
      val want = expectedOf(model)
      assert(got == want,
        s"[seed=$seed $ctx] served table diverged from model: " +
          s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    }

    def checkTimeTravel(ctx: String): Unit = {
      if (history.isEmpty) return
      val keys = history.keys.toVector.sorted
      val k = keys(rnd.nextInt(keys.size))
      try {
        val got = SnapshotManifestFormat.readCommittedAsOf(spark, out, k)
          .select("conv_id", "turn_idx", "fields_json")
          .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
        assert(got == history(k),
          s"[seed=$seed $ctx] time travel to $k served wrong content")
      } catch {
        case e: IllegalStateException =>
          // ONLY the two benign history outcomes are allowed: the snapshot's
          // files were rewritten/expired, or the manifest itself was expired
          val m = e.getMessage
          assert(m.contains("rewritten or expired") || m.contains("no snapshot"),
            s"[seed=$seed $ctx] time travel to $k failed with a non-history error: $m")
      }
    }

    // initial full load
    assert(ExtractionJob.run(spark, toDs(model), cfg).nonEmpty, s"[seed=$seed] initial load")
    record(); checkServed("init")

    val nOps = 4
    for (op <- 0 until nOps) {
      val convIds = model.map(_.conv_id).distinct
      val roll = rnd.nextInt(100)
      val ctx = s"op$op/roll$roll"
      if (roll < 35) { // mutate 1-2 conversations
        val victims = rnd.shuffle(convIds).take(1 + rnd.nextInt(2)).toSet
        mutationCounter += 1
        model = model.map(t =>
          if (victims.contains(t.conv_id)) t.copy(text = t.text + s"\nlifecycle fix $mutationCounter")
          else t)
        ExtractionJob.run(spark, toDs(model), cfg)
        record(); checkServed(s"$ctx mutate")
      } else if (roll < 50) { // delete a conversation (keep >= 2)
        if (convIds.size > 2) {
          val victim = convIds(rnd.nextInt(convIds.size))
          model = model.filterNot(_.conv_id == victim)
          ExtractionJob.run(spark, toDs(model), cfg)
          record(); checkServed(s"$ctx delete")
        }
      } else if (roll < 65) { // add a brand-new conversation
        model = model ++ nextConv()
        val dirsBefore = SnapshotManifestFormat.readManifest(out).get.deleteDirs
        ExtractionJob.run(spark, toDs(model), cfg)
        // it has no older row to hide (auto-compaction may still retire dirs)
        val dirsAfter = SnapshotManifestFormat.readManifest(out).get.deleteDirs
        assert(dirsAfter.forall(dirsBefore.contains),
          s"[seed=$seed $ctx] adding a conversation wrote delete dirs ${dirsAfter.diff(dirsBefore)}")
        record(); checkServed(s"$ctx add")
      } else if (roll < 75) { // compaction (content-neutral)
        SnapshotManifestFormat.compact(spark, out)
        record(); checkServed(s"$ctx compact")
      } else if (roll < 84) { // snapshot expiry
        SnapshotManifestFormat.expireSnapshots(out, retainLast = 1 + rnd.nextInt(2))
        checkServed(s"$ctx expire")
      } else if (roll < 91) { // WAP: stage on a branch, audit, publish/abandon
        val victim = convIds(rnd.nextInt(convIds.size))
        mutationCounter += 1
        val branch = s"wap$op"
        val staged = model.map(t =>
          if (t.conv_id == victim) t.copy(text = t.text + s"\nlifecycle fix $mutationCounter")
          else t)
        assert(ExtractionJob.run(spark, toDs(staged),
          cfg.copy(toBranch = Some(branch))).nonEmpty, s"[seed=$seed $ctx] stage")
        // invisible until publish (model unchanged); the table stays
        // fully writable while the branch pends — a tag (props) commit
        // lands and advances the head, making the eventual publish a
        // cherry-pick (a props commit touches no buckets, so it can
        // never conflict)
        checkServed(s"$ctx wap-staged")
        SnapshotManifestFormat.tagSnapshot(out, s"pin$op",
          SnapshotManifestFormat.latestSnapshot(out).get)
        checkServed(s"$ctx wap-staged-tagged")
        val audit = ExtractionJob.auditBranch(spark, out, branch)
        assert(audit.ok, s"[seed=$seed $ctx] audit must be green, got $audit")
        // same engine version: no schema drift; the staged delta ADDS the
        // victim's re-extracted rows, so raw per-bucket deltas are positive
        assert(audit.schemaChanges.isEmpty,
          s"[seed=$seed $ctx] unexpected schema drift: ${audit.schemaChanges}")
        assert(audit.bucketRowDeltas.nonEmpty && audit.bucketRowDeltas.values.forall(_ > 0),
          s"[seed=$seed $ctx] delta rows must show as positive bucket deltas, got $audit")
        if (rnd.nextBoolean()) {
          // Spark overload: the tag moved the head, so this cherry-picks.
          // A third of publishes die in the worst crash window (committed,
          // unretired) — the resumed publish must land idempotently via
          // the intent marker, reporting the same snapshot
          if (rnd.nextInt(3) == 0) {
            SnapshotManifestFormat.testCrashAfterPublishCommit = true
            val crash = intercept[IllegalStateException] {
              SnapshotManifestFormat.publishBranch(spark, out, branch)
            }
            assert(crash.getMessage.contains("injected test crash"),
              s"[seed=$seed $ctx] ${crash.getMessage}")
            val headAfter = SnapshotManifestFormat.latestSnapshot(out).get
            val resumed = SnapshotManifestFormat.publishBranch(spark, out, branch)
            assert(resumed == headAfter,
              s"[seed=$seed $ctx] crash-resume must report the landed snapshot " +
                s"$headAfter, got $resumed")
            assert(SnapshotManifestFormat.latestSnapshot(out).contains(headAfter),
              s"[seed=$seed $ctx] resume must not commit a second snapshot")
          } else
            SnapshotManifestFormat.publishBranch(spark, out, branch)
          model = staged
          record(); checkServed(s"$ctx wap-published")
        } else {
          SnapshotManifestFormat.abandonBranch(out, branch)
          checkServed(s"$ctx wap-abandoned")
          // the abandoned correction must still land through a normal
          // commit — no fingerprint residue claiming the work was done
          model = staged
          assert(ExtractionJob.run(spark, toDs(model), cfg).nonEmpty,
            s"[seed=$seed $ctx] post-abandon rerun must recompute")
          record(); checkServed(s"$ctx wap-abandon-reland")
        }
      } else if (roll < 95) { // kill mid-run, then resume
        val victim = convIds(rnd.nextInt(convIds.size))
        mutationCounter += 1
        model = model.map(t =>
          if (t.conv_id == victim) t.copy(text = t.text + s"\nlifecycle fix $mutationCounter")
          else t)
        val killed = intercept[RuntimeException] {
          ExtractionJob.run(spark, toDs(model), cfg.copy(failAfterWave = 0))
        }
        assert(killed.getMessage.contains("simulated kill"), s"[seed=$seed $ctx]")
        // resume completes; the delta already committed, so this is a no-op
        assert(ExtractionJob.run(spark, toDs(model), cfg).isEmpty,
          s"[seed=$seed $ctx] resume after kill must not recompute the committed delta")
        record(); checkServed(s"$ctx kill-resume")
      } else { // explicit no-op check: unchanged input never recomputes
        assert(ExtractionJob.run(spark, toDs(model), cfg).isEmpty,
          s"[seed=$seed $ctx] unchanged input must be a no-op")
        checkServed(s"$ctx noop")
      }
      if (rnd.nextBoolean()) checkTimeTravel(ctx)
    }
  }

  private val nSequences: Int =
    sys.props.get("graft.lifecycle.seqs").map(_.toInt).getOrElse(50)

  test(s"randomized MOR lifecycle holds its invariants over $nSequences seeded sequences") {
    // sequences are independent (own table dir, own RNG); three driver
    // threads overlap their micro-jobs on the shared session, which the
    // Spark scheduler handles natively — ~2.5x wall-clock for the suite
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = (0 until nSequences).map(i => Future(runSequence(2026 + i)))
      futures.foreach(f => Await.result(f, Duration.Inf))
    } finally pool.shutdown()
  }
}
