package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{CommitConflictException, ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.{Files, Paths}

/** Write-audit-publish branches (Iceberg WAP analog): an incremental
  * re-extraction is staged on an unpublished branch ref, audited against
  * structural invariants, and only then atomically published — or
  * abandoned without a trace. Staged manifests live at branch-scoped
  * paths, so any number of branches pend concurrently and the table stays
  * fully writable while they do; publish fast-forwards onto an unmoved
  * head or CHERRY-PICKS onto a moved one, refusing (abandon + re-stage)
  * when intervening commits touched the same buckets or rewrote files. */
class WapBranchSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String, String)] =
    df.select("conv_id", "turn_idx", "fields_json", "main_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet

  private def dataFiles(out: String): Set[String] = {
    val root = Paths.get(out, "data")
    if (!Files.isDirectory(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map[String](_.toString).toArray.map(_.asInstanceOf[String]).toSet
      finally s.close()
    }
  }

  test("WAP end-to-end: staged branch is invisible, audits green, publishes atomically") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 18)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val baseline = rows(ExtractionJob.readCommitted(spark, out))

    // stage a correction on a branch
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nAddress: 1 Main St") else t)
    val done = ExtractionJob.run(spark, changed, cfg.copy(toBranch = Some("audit")))
    assert(done.nonEmpty, "the delta must have been staged")

    // invisible to readers; head unmoved; ref pending
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s0))
    assert(rows(ExtractionJob.readCommitted(spark, out)) == baseline)
    assert(SnapshotManifestFormat.branches(out) == Map("audit" -> (s0 + 1)))

    // the branch read serves exactly the post-correction extraction
    val want = rows(ExtractionJob.extract(spark, changed).toDF())
    assert(rows(SnapshotManifestFormat.readCommittedAtBranch(spark, out, "audit")) == want)
    assert(want != baseline, "the mutation must change extraction output")

    // a branch holds exactly one staged snapshot: re-staging the SAME
    // name refuses (publish or abandon first); other commits are NOT
    // frozen — concurrency is exercised in the dedicated tests below
    intercept[CommitConflictException] {
      ExtractionJob.run(spark, turns.map(t => t.copy(text = t.text + "\nx")),
        cfg.copy(toBranch = Some("audit"), commitRetries = 0))
    }

    // audit gate green
    val audit = ExtractionJob.auditBranch(spark, out, "audit")
    assert(audit.ok && audit.rows > 0 && audit.duplicateKeys == 0 && audit.nullSpecs == 0,
      s"expected a green audit, got $audit")

    // publish: atomic head swap, ref retired, readers now see the correction
    assert(SnapshotManifestFormat.publishBranch(out, "audit") == s0 + 1)
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s0 + 1))
    assert(SnapshotManifestFormat.branches(out).isEmpty)
    assert(rows(ExtractionJob.readCommitted(spark, out)) == want)
    // CDC across the published branch snapshot works like any delta
    assert(SnapshotManifestFormat.readAppendsBetween(spark, out, s0, s0 + 1)
      .where(org.apache.spark.sql.functions.col("conv_id") === victim).count() > 0)
    // time travel to the pre-publish head still serves the baseline
    assert(rows(SnapshotManifestFormat.readCommittedAsOf(spark, out, s0)) == baseline)
  }

  test("abandon: the staged snapshot and everything only it references are GC'd; table is untouched") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-abandon").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 15)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val baseline = rows(ExtractionJob.readCommitted(spark, out))
    val filesBefore = dataFiles(out)

    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nPhone: 555-0100") else t)
    assert(ExtractionJob.run(spark, changed, cfg.copy(toBranch = Some("oops"))).nonEmpty)
    assert(dataFiles(out) != filesBefore, "the branch must have added delta files")

    SnapshotManifestFormat.abandonBranch(out, "oops")
    assert(SnapshotManifestFormat.branches(out).isEmpty)
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s0))
    assert(ExtractionJob.readManifest(out).get.snapshotId == s0)
    assert(SnapshotManifestFormat.readManifestAt(out, s0 + 1).isEmpty,
      "the staged manifest must be gone")
    assert(dataFiles(out) == filesBefore, "every branch-only data file must be GC'd")
    val delRoot = Paths.get(out, "deletes")
    assert(!Files.isDirectory(delRoot) || {
      val s = Files.list(delRoot)
      try !s.toArray.exists { p =>
        val n = p.asInstanceOf[java.nio.file.Path].getFileName.toString
        n == s"snap-${s0 + 1}" || n.startsWith(s"snap-${s0 + 1}-")
      } finally s.close()
    }, "the branch's equality-delete dir must be GC'd")
    assert(rows(ExtractionJob.readCommitted(spark, out)) == baseline)

    // the same correction still lands normally afterwards: the abandoned
    // branch left no fingerprint residue claiming the work was done
    assert(ExtractionJob.run(spark, changed, cfg).nonEmpty)
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, changed).toDF()))
  }

  test("audit catches a delta that landed without its equality delete (duplicate keys)") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-dup").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    assert(ExtractionJob.run(spark, Transcripts.generate(spark, 8), cfg).nonEmpty)
    val man = ExtractionJob.readManifest(out).get

    // hand-stage a branch whose delta duplicates an existing key — the
    // exact corruption a buggy writer (delta file without its delete
    // file) would produce, which the audit exists to stop
    val dup = ExtractionJob.readCommitted(spark, out).limit(1).cache()
    val b = dup.select("bucket").head().getInt(0)
    val staging = s"$out/staging-dup"
    dup.drop("bucket").write.parquet(s"$staging/bucket=$b")
    val staged = SnapshotManifestFormat.listStagedFiles(spark, staging)
      .map(_.copy(seq = man.snapshotId + 1))
    SnapshotManifestFormat.commitWave(out, staging, man.snapshotId + 1, man.buckets,
      man.files ++ staged, Seq.empty, man.inputFps, additive = true,
      convFpsDir = man.convFpsDir, deleteDirs = man.deleteDirs, fpMode = man.fpMode,
      bucketCount = man.bucketCount, operation = "delta", toBranch = Some("bad"))

    val audit = ExtractionJob.auditBranch(spark, out, "bad")
    assert(audit.duplicateKeys >= 1 && !audit.ok, s"audit must flag the duplicate, got $audit")
    // the gate holds: abandon instead of publish, table stays clean
    SnapshotManifestFormat.abandonBranch(out, "bad")
    val after = ExtractionJob.readCommitted(spark, out)
    assert(after.count() ==
      after.dropDuplicates("conv_id", "turn_idx").count())
  }

  test("retention maintenance never GCs a pending branch; publish still works after expiry") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-expire").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 15)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)

    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nEmail: a@b.co") else t)
    assert(ExtractionJob.run(spark, changed, cfg.copy(toBranch = Some("hold"))).nonEmpty)
    val want = rows(SnapshotManifestFormat.readCommittedAtBranch(spark, out, "hold"))

    SnapshotManifestFormat.expireSnapshots(out, retainLast = 1)
    SnapshotManifestFormat.removeOrphanFiles(out, olderThanMs = 0)

    // staged snapshot survived both sweeps intact
    assert(rows(SnapshotManifestFormat.readCommittedAtBranch(spark, out, "hold")) == want)
    val audit = ExtractionJob.auditBranch(spark, out, "hold")
    assert(audit.ok, s"post-maintenance audit must stay green, got $audit")
    val snap = SnapshotManifestFormat.publishBranch(out, "hold")
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(snap))
    assert(rows(ExtractionJob.readCommitted(spark, out)) == want)
  }

  test("a crashed ref write's .tmp leftover is not a branch: no phantom freeze, no corrupt-ref error") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-tmp").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 8)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get

    // exactly what a kill between atomicWrite's write(tmp) and move leaves
    // behind — once with complete digits (would register a phantom branch
    // named 'ghost.tmp' freezing the table) and once with partial content
    // (would throw 'corrupt branch ref' from every later commit)
    Files.write(Paths.get(out, "snapshots", "branch-ghost.tmp"), (s0 + 1).toString.getBytes)
    assert(SnapshotManifestFormat.branches(out).isEmpty, ".tmp staging leftovers are not refs")
    Files.write(Paths.get(out, "snapshots", "branch-ghost.tmp"), "1".getBytes) // partial
    assert(SnapshotManifestFormat.branches(out).isEmpty)

    // the table is NOT frozen: a head commit and a real branch both land
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nZip: 10001") else t)
    assert(ExtractionJob.run(spark, changed, cfg).nonEmpty)
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s0 + 1))
    val changed2 = changed.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nState: NY") else t)
    assert(ExtractionJob.run(spark, changed2, cfg.copy(toBranch = Some("real"))).nonEmpty)
    assert(SnapshotManifestFormat.branches(out) == Map("real" -> (s0 + 2)))
    SnapshotManifestFormat.abandonBranch(out, "real")

    // and a branch NAMED like the staging suffix is refused outright —
    // its ref file would be indistinguishable from a crash leftover
    intercept[IllegalArgumentException] {
      ExtractionJob.run(spark, changed2, cfg.copy(toBranch = Some("x.tmp"), commitRetries = 0))
    }
  }

  test("branch refs carry a writer-unique token; bare-id refs are refused") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-token").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 8)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val victim = turns.select("conv_id").as[String].head()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nCity: Austin") else t)
    assert(ExtractionJob.run(spark, changed, cfg.copy(toBranch = Some("tok"))).nonEmpty)
    val s1 = SnapshotManifestFormat.latestSnapshot(out).get + 1
    val content = new String(Files.readAllBytes(
      Paths.get(out, "snapshots", "branch-tok")), "UTF-8")
    // "<id> <token>": the token is what lets a stage that lost the
    // manifest race prove the ref is its OWN to delete
    assert(content.matches(s"$s1 [0-9a-f]{8}"), s"unexpected ref format: '$content'")
    assert(SnapshotManifestFormat.branches(out) == Map("tok" -> s1))
    SnapshotManifestFormat.abandonBranch(out, "tok")
    // a bare-id ref is an older layout: refused as corrupt, never guessed at
    Files.write(Paths.get(out, "snapshots", "branch-old"), (s1 - 1).toString.getBytes)
    val e = intercept[IllegalArgumentException] { SnapshotManifestFormat.branches(out) }
    assert(e.getMessage.contains("corrupt branch ref 'branch-old'"), e.getMessage)
  }

  /** Deterministic interleaving harness for the commit races: the hook
    * fires inside commitWave at the widest check-then-act window (after the
    * CAS + freeze checks, before any pointer/manifest write) and must
    * disarm itself first, because the commits it injects re-enter
    * commitWave. */
  private def withRace[A](inject: () => Unit)(body: => A): A = {
    val fmt = SnapshotManifestFormat
    fmt.commitRaceHook = () => { fmt.commitRaceHook = () => (); inject() }
    try body finally fmt.commitRaceHook = () => ()
  }

  test("a publish landing inside a head commit's window is a loud conflict, never a silent clobber of the published manifest") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-race-pub").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 10)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val victim = turns.select("conv_id").as[String].head()
    val branchEdit = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nCity: Austin") else t)
    val headEdit = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nCity: Boston") else t)

    // the head writer passes its CAS + freeze reads, then a full WAP cycle
    // (stage + publish) lands inside its window: without the _latest
    // recheck the head writer would overwrite the just-published branch
    // manifest with its own bytes and BOTH callers would ack (the head
    // pointer writes are byte-identical, so the clobber check can't see it)
    withRace(() => {
      assert(ExtractionJob.run(spark, branchEdit,
        cfg.copy(toBranch = Some("hotfix"))).nonEmpty)
      assert(SnapshotManifestFormat.publishBranch(out, "hotfix") == s0 + 1)
    }) {
      intercept[CommitConflictException] {
        ExtractionJob.run(spark, headEdit, cfg.copy(commitRetries = 0))
      }
    }
    // the published audit data is served intact; the loser changed nothing
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s0 + 1))
    assert(SnapshotManifestFormat.branches(out).isEmpty)
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, branchEdit).toDF()),
      "the published branch content must survive the losing head commit")
    // with retries allowed the loser re-plans against the published state
    assert(ExtractionJob.run(spark, headEdit, cfg).nonEmpty)
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, headEdit).toDF()))
  }

  test("a branch staged inside a head commit's window: BOTH land (branch-scoped staging), publish cherry-picks over the head commit") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-race-stage").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 10)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    // distinct-bucket victims so the cherry-pick is conflict-free
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val vA = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 0).get
    val vB = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 1).get
    val branchEdit = turns.map(t =>
      if (t.conv_id == vA) t.copy(text = t.text + "\nState: NY") else t)
    val headEdit = turns.map(t =>
      if (t.conv_id == vB) t.copy(text = t.text + "\nState: CA") else t)

    // a stager completes (ref + branch-scoped manifest, acked) inside the
    // head writer's window: under branch-scoped staging they touch
    // disjoint files, so the head commit proceeds — no freeze, no clobber
    withRace(() =>
      assert(ExtractionJob.run(spark, branchEdit,
        cfg.copy(toBranch = Some("hold"))).nonEmpty)
    ) {
      assert(ExtractionJob.run(spark, headEdit, cfg.copy(commitRetries = 0)).nonEmpty)
    }
    // head advanced to the head commit; the branch pends with an intact
    // staged manifest computed against the OLD base
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s0 + 1))
    assert(SnapshotManifestFormat.branches(out) == Map("hold" -> (s0 + 1)))
    val audit = ExtractionJob.auditBranch(spark, out, "hold")
    assert(audit.ok, s"staged branch must audit green after the race, got $audit")
    // metadata-only publish refuses (head moved); the Spark overload
    // cherry-picks the staged delta onto the moved head
    val moved = intercept[IllegalStateException] {
      SnapshotManifestFormat.publishBranch(out, "hold")
    }
    assert(moved.getMessage.contains("cherry-pick"), moved.getMessage)
    assert(SnapshotManifestFormat.publishBranch(spark, out, "hold") == s0 + 2)
    assert(SnapshotManifestFormat.branches(out).isEmpty)
    // the final table carries BOTH edits
    val both = turns.map { t =>
      if (t.conv_id == vA) t.copy(text = t.text + "\nState: NY")
      else if (t.conv_id == vB) t.copy(text = t.text + "\nState: CA") else t
    }
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, both).toDF()))
    // CDC attributes the cherry-picked delta to ITS published snapshot
    assert(SnapshotManifestFormat.readAppendsBetween(spark, out, s0 + 1, s0 + 2)
      .select("conv_id").distinct().as[String].collect().toSet == Set(vA))
    assert(SnapshotManifestFormat.readDeleteKeysBetween(spark, out, s0 + 1, s0 + 2)
      .select("conv_id").distinct().as[String].collect().toSet == Set(vA))
  }

  test("two branches staged concurrently: both pend, publish in either order (fast-forward then cherry-pick)") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-race-2stage").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 10)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val vA = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 0).get
    val vB = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 1).get
    val editA = turns.map(t =>
      if (t.conv_id == vA) t.copy(text = t.text + "\nZip: 10001") else t)
    val editB = turns.map(t =>
      if (t.conv_id == vB) t.copy(text = t.text + "\nZip: 94103") else t)

    // the second stage lands inside the first stage's widest window:
    // branch-scoped staging means neither can clobber the other
    withRace(() =>
      assert(ExtractionJob.run(spark, editA,
        cfg.copy(toBranch = Some("first"))).nonEmpty)
    ) {
      assert(ExtractionJob.run(spark, editB,
        cfg.copy(toBranch = Some("second"), commitRetries = 0)).nonEmpty)
    }
    // BOTH branches pend, each audited independently against the head
    assert(SnapshotManifestFormat.branches(out) ==
      Map("first" -> (s0 + 1), "second" -> (s0 + 1)))
    assert(ExtractionJob.auditBranch(spark, out, "first").ok)
    assert(ExtractionJob.auditBranch(spark, out, "second").ok)
    // publish "second" first (fast-forward: head unmoved), then "first"
    // (cherry-pick: "second"'s publish moved the head, disjoint buckets)
    assert(SnapshotManifestFormat.publishBranch(out, "second") == s0 + 1)
    assert(SnapshotManifestFormat.publishBranch(spark, out, "first") == s0 + 2)
    assert(SnapshotManifestFormat.branches(out).isEmpty)
    val both = turns.map { t =>
      if (t.conv_id == vA) t.copy(text = t.text + "\nZip: 10001")
      else if (t.conv_id == vB) t.copy(text = t.text + "\nZip: 94103") else t
    }
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, both).toDF()))
  }

  test("cherry-pick conflict detection: same-bucket interference and maintenance rewrites refuse; abandon recovers") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-cpconflict").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 10)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val victim = turns.select("conv_id").as[String].head()
    val branchEdit = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nCity: Austin") else t)
    val headEdit = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nCity: Boston") else t)

    // SAME conversation re-extracted on the head while the branch pends:
    // the branch's audit no longer describes that bucket — refuse
    assert(ExtractionJob.run(spark, branchEdit,
      cfg.copy(toBranch = Some("stale"))).nonEmpty)
    assert(ExtractionJob.run(spark, headEdit, cfg).nonEmpty)
    val clash = intercept[CommitConflictException] {
      SnapshotManifestFormat.publishBranch(spark, out, "stale")
    }
    assert(clash.getMessage.contains("same") && clash.getMessage.contains("bucket"),
      clash.getMessage)
    // deterministic validation conflicts are non-retryable: the publish
    // retry loop must propagate them without re-paying the validation
    assert(!clash.retryable, "bucket-overlap conflicts must not be retried")
    // the head's content is untouched by the refused publish
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, headEdit).toDF()))
    SnapshotManifestFormat.abandonBranch(out, "stale")
    assert(SnapshotManifestFormat.branches(out).isEmpty)

    // a maintenance rewrite (compaction) landing while a branch pends
    // physically rewrites files the staged manifest references — refuse
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val vA = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 0).get
    val editA = turns.map(t =>
      if (t.conv_id == vA) t.copy(text = t.text + "\nFloor: 2") else t)
    assert(ExtractionJob.run(spark, editA,
      cfg.copy(toBranch = Some("preRewrite"))).nonEmpty)
    ExtractionJob.rewriteSorted(spark, out, targetRowsPerFile = 1000)
    val rw = intercept[CommitConflictException] {
      SnapshotManifestFormat.publishBranch(spark, out, "preRewrite")
    }
    assert(rw.getMessage.contains("rewrite"), rw.getMessage)
    assert(!rw.retryable, "rewritten-base conflicts must not be retried")
    SnapshotManifestFormat.abandonBranch(out, "preRewrite")
    assert(SnapshotManifestFormat.branches(out).isEmpty)
  }

  test("delete-only cherry-pick publish: a crash after the commit resumes idempotently via the intent marker") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-delonly").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 12)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val vDel = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 0).get
    val vEdit = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 1).get

    // DELETE-ONLY branch stage: same corpus minus one conversation — no
    // changed text, so the stage carries an equality-delete dir and NO
    // delta files. The commit this publish produces holds only re-stamped
    // COPIES of the branch's artifacts: only the intent marker ties it
    // back to the branch.
    assert(ExtractionJob.run(spark, turns.filter(_.conv_id != vDel),
      cfg.copy(toBranch = Some("dels"))).nonEmpty)
    val stagedTxt = new String(Files.readAllBytes(
      Paths.get(out, "snapshots", "snap-branch-dels.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(stagedTxt.contains("\"delete_dirs\""), "stage must carry a delete dir")

    // the head moves in the OTHER bucket while the branch pends
    val headEdit = turns.map(t =>
      if (t.conv_id == vEdit) t.copy(text = t.text + "\nSuite: 7Q") else t)
    assert(ExtractionJob.run(spark, headEdit, cfg).nonEmpty)

    // the publish attempt dies in the worst window: committed, unretired
    SnapshotManifestFormat.testCrashAfterPublishCommit = true
    val crash = intercept[IllegalStateException] {
      SnapshotManifestFormat.publishBranch(spark, out, "dels")
    }
    assert(crash.getMessage.contains("injected test crash"), crash.getMessage)
    val headAfterCrash = SnapshotManifestFormat.latestSnapshot(out).get
    assert(headAfterCrash == s0 + 2, "the merged snapshot must be live despite the crash")
    assert(Files.exists(SnapshotManifestFormat.publishIntentPath(out, "dels")),
      "the intent marker must survive the crash window")

    // resume: reports the SAME snapshot id, finishes retirement, commits
    // nothing new (not a spurious bucket-overlap conflict against the
    // publish's own re-stamped delete dirs)
    val resumed = SnapshotManifestFormat.publishBranch(spark, out, "dels")
    assert(resumed == headAfterCrash, s"expected idempotent resume at $headAfterCrash, got $resumed")
    assert(SnapshotManifestFormat.branches(out).isEmpty)
    assert(!Files.exists(Paths.get(out, "snapshots", "snap-branch-dels.json")))
    assert(!Files.exists(SnapshotManifestFormat.publishIntentPath(out, "dels")))
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(headAfterCrash),
      "resume must not commit a second snapshot")

    // semantics: the deletion AND the head edit are both visible
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, headEdit.filter(_.conv_id != vDel)).toDF()))
  }

  test("a crashed new-layout stage/abandon remnant (tokened ref, no manifest) freezes nothing and publishes loudly") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-ghost").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 8)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get

    // a stager that died between its ref write and its manifest write:
    // ref with a run token, no branch manifest, no snap-<id>.json
    Files.write(Paths.get(out, "snapshots", "branch-ghost"),
      s"${s0 + 1} deadbeef".getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // the table stays fully writable: the remnant freezes nothing
    val edit = turns.map(t => t.copy(text = t.text + "\nSuite: 1Z"))
    assert(ExtractionJob.run(spark, edit, cfg).nonEmpty)
    assert(SnapshotManifestFormat.latestSnapshot(out).contains(s0 + 1))

    // publishing the remnant reports the truth instead of guessing that
    // some other writer's snapshot was this branch's publish
    val e = intercept[IllegalStateException] {
      SnapshotManifestFormat.publishBranch(spark, out, "ghost")
    }
    assert(e.getMessage.contains("abandonBranch"), e.getMessage)
    SnapshotManifestFormat.abandonBranch(out, "ghost")
    assert(SnapshotManifestFormat.branches(out).isEmpty)
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, edit).toDF()))
  }

  test("publish crash-resume: a publish that committed but died before retiring the branch artifacts finishes idempotently") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-pubcrash").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 10)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val s0 = SnapshotManifestFormat.latestSnapshot(out).get
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val vA = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 0).get
    val vB = convs.find(c => ExtractionJob.bucketOfConvId(c, 2) == 1).get
    val branchEdit = turns.map(t =>
      if (t.conv_id == vA) t.copy(text = t.text + "\nSuite: 4B") else t)
    val headEdit = turns.map(t =>
      if (t.conv_id == vB) t.copy(text = t.text + "\nSuite: 9C") else t)
    assert(ExtractionJob.run(spark, branchEdit,
      cfg.copy(toBranch = Some("crashy"))).nonEmpty)
    assert(ExtractionJob.run(spark, headEdit, cfg).nonEmpty) // head moves

    // the publish attempt dies in the worst window (committed, unretired);
    // the resume finishes the retirement from the intent marker alone,
    // reports the SAME snapshot id and commits nothing new
    val fmt = SnapshotManifestFormat
    def crashThenResume(name: String): Int = {
      fmt.testCrashAfterPublishCommit = true
      val crash = intercept[IllegalStateException](fmt.publishBranch(spark, out, name))
      assert(crash.getMessage.contains("injected test crash"), crash.getMessage)
      val published = fmt.latestSnapshot(out).get
      val resumed = fmt.publishBranch(spark, out, name)
      assert(resumed == published, s"expected idempotent resume at $published, got $resumed")
      assert(fmt.branches(out).isEmpty)
      assert(!Files.exists(Paths.get(out, "snapshots", s"snap-branch-$name.json")) &&
        !Files.exists(Paths.get(out, "lineage", s"lineage-branch-$name.json")) &&
        !Files.exists(fmt.publishIntentPath(out, name)))
      assert(fmt.latestSnapshot(out).contains(published), "resume must not commit a second snapshot")
      resumed
    }
    // a cherry-pick carrying delta files (the head moved while it pended)
    assert(crashThenResume("crashy") == s0 + 2)
    val both = turns.map { t =>
      if (t.conv_id == vA) t.copy(text = t.text + "\nSuite: 4B")
      else if (t.conv_id == vB) t.copy(text = t.text + "\nSuite: 9C") else t
    }
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, both).toDF()))
    // a data-less fast-forward: a delete-only stage on the unmoved head
    val gone = convs.find(c => c != vA && c != vB).get
    assert(ExtractionJob.run(spark, both.filter(_.conv_id != gone),
      cfg.copy(toBranch = Some("dels"))).nonEmpty)
    assert(crashThenResume("dels") == s0 + 3)
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, both.filter(_.conv_id != gone)).toDF()))
  }

  test("branch retention: expireBranches abandons only stale stages and frees their files for GC") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-branchttl").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 8)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    def stage(name: String, conv: String): Unit = {
      val edit = turns.map(t =>
        if (t.conv_id == conv) t.copy(text = t.text + s"\nStage: $name") else t)
      assert(ExtractionJob.run(spark, edit, cfg.copy(toBranch = Some(name))).nonEmpty)
    }
    stage("stale1", convs.head)
    stage("stale2", convs.last)
    assert(SnapshotManifestFormat.branches(out).keySet == Set("stale1", "stale2"))
    // a generous TTL abandons nothing — both stages are seconds old
    assert(SnapshotManifestFormat.expireBranches(out, olderThanMs = 24L * 3600 * 1000).isEmpty)
    assert(SnapshotManifestFormat.branches(out).keySet == Set("stale1", "stale2"))
    // TTL 0: every stage is older than "now" — both abandoned, files GC'd
    val before = dataFiles(out)
    assert(SnapshotManifestFormat.expireBranches(out, olderThanMs = 0L) == Seq("stale1", "stale2"))
    assert(SnapshotManifestFormat.branches(out).isEmpty)
    assert(dataFiles(out).size < before.size,
      "abandoning the stale stages must GC their branch-only data files")
    // the published table is untouched
    assert(rows(ExtractionJob.readCommitted(spark, out)) ==
      rows(ExtractionJob.extract(spark, turns).toDF()))
  }

  test("audit reports per-bucket row deltas from manifest stats and schema drift vs head") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-wap-auditx").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 15)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val victim = turns.select("conv_id").as[String].head()
    val victimTurns = turns.filter(_.conv_id == victim).count()
    val changed = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nFax: 555-0101") else t)
    assert(ExtractionJob.run(spark, changed, cfg.copy(toBranch = Some("delta"))).nonEmpty)
    val a = ExtractionJob.auditBranch(spark, out, "delta")
    assert(a.ok, s"expected green audit, got $a")
    // same engine version: no drift; the delta adds exactly the victim's
    // re-extracted turns, all in the victim's single hash bucket
    assert(a.schemaChanges.isEmpty, s"unexpected drift: ${a.schemaChanges}")
    assert(a.bucketRowDeltas.size == 1 && a.bucketRowDeltas.values.head == victimTurns,
      s"expected one bucket +$victimTurns raw rows, got ${a.bucketRowDeltas}")
    SnapshotManifestFormat.abandonBranch(out, "delta")

    // low-level table whose branch ADDS a column: drift is reported as
    // "+name type" without tripping `ok` (evolution is a legitimate
    // audited change — the gate policy decides)
    val fmt = SnapshotManifestFormat
    val out2 = Files.createTempDirectory("graft-wap-auditevo").toString
    val base = Seq((0, "c0", 0, "{\"a\":1}", "m0"), (1, "c1", 0, "{\"b\":2}", "m1"))
      .toDF("bucket", "conv_id", "turn_idx", "fields_json", "main_text")
    base.write.partitionBy("bucket").parquet(s"$out2/staging-0")
    val files0 = fmt.listStagedFiles(spark, s"$out2/staging-0").toVector
    fmt.commitWave(out2, s"$out2/staging-0", 0, Set(0, 1), files0, Vector.empty,
      Map.empty, bucketCount = Some(2))
    val evo = Seq((1, "c9", 0, "{\"c\":3}", "m9", 0.7))
      .toDF("bucket", "conv_id", "turn_idx", "fields_json", "main_text", "quality")
    evo.write.partitionBy("bucket").parquet(s"$out2/staging-1")
    val files1 = fmt.listStagedFiles(spark, s"$out2/staging-1").toVector.map(_.copy(seq = 1))
    fmt.commitWave(out2, s"$out2/staging-1", 1, Set(0, 1), files0 ++ files1,
      Vector.empty, Map.empty, additive = true, bucketCount = Some(2),
      operation = "delta", toBranch = Some("evo"))
    val e = ExtractionJob.auditBranch(spark, out2, "evo")
    assert(e.schemaChanges == Seq("+quality double"), s"got ${e.schemaChanges}")
    assert(e.bucketRowDeltas == Map(1 -> 1L), s"got ${e.bucketRowDeltas}")
    assert(e.ok && e.rows == 3, s"drift alone must not trip ok, got $e")
  }
}
