package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** The spark-submit entry end-to-end: parquet turns in -> committed
  * snapshot table out, resumable (second invocation commits nothing). */
class JobMainSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("JobMain extracts a parquet transcript table into a committed resumable snapshot") {
    val in = Files.createTempDirectory("graft-jobmain-in").toString + "/turns"
    val out = Files.createTempDirectory("graft-jobmain-out").toString
    val turns = graft.spark.Transcripts.generate(spark, 20)
    turns.write.parquet(in)

    JobMain.main(Array(in, out, "4", "2"))
    val committed = graft.spark.ExtractionJob.readCommitted(spark, out)
    assert(committed.count() == turns.count())
    assert(committed.columns.contains("form_subtype"))
    assert(graft.spark.SnapshotManifestFormat.committedBuckets(out) == Set(0, 1, 2, 3))

    // resume: everything committed -> nothing recomputed
    val s = spark
    import s.implicits._
    val again = graft.spark.ExtractionJob.run(s,
      s.read.parquet(in).as[graft.spark.Turn],
      graft.spark.ExtractionJob.Config(out, buckets = 4, waves = 2))
    assert(again.isEmpty)
  }

  test("JobMain refuses a malformed or out-of-range numeric flag before any run") {
    def refusal(flag: String): String =
      intercept[IllegalArgumentException](JobMain.main(Array("in", "out", flag))).getMessage
    assert(refusal("--expire=x") == "--expire=N requires an integer, got: --expire=x")
    assert(refusal("--rebucket=3000000000") ==
      "--rebucket=N requires an integer, got: --rebucket=3000000000")
    assert(refusal("--rebucket=0") == "requirement failed: --rebucket=N must be >= 1, got 0")
    assert(refusal("--remove-orphans=-1") ==
      "requirement failed: --remove-orphans=AGE_MS must be >= 0, got -1")
  }

  test("JobMain --conv-grained --compact --expire runs the full maintenance cycle") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-jobmain-maint").toString
    val in1 = s"$base/turns1"
    val in2 = s"$base/turns2"
    val out = s"$base/out"
    val turns = graft.spark.Transcripts.generate(spark, 20)
    turns.write.parquet(in1)
    val victim = turns.select("conv_id").as[String].head()
    turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nfix") else t)
      .write.parquet(in2)

    JobMain.main(Array(in1, out, "4", "2", "--conv-grained"))
    JobMain.main(Array(in2, out, "4", "2", "--conv-grained")) // delta + deletes
    JobMain.main(Array(in2, out, "4", "2", "--conv-grained", "--compact", "--expire=1"))
    // only the latest snapshot remains; the table still serves the
    // corrected content and resume stays a no-op
    val latest = graft.spark.SnapshotManifestFormat.latestSnapshot(out).get
    intercept[IllegalStateException] {
      graft.spark.SnapshotManifestFormat.readCommittedAsOf(spark, out, latest - 1)
    }
    val served = graft.spark.ExtractionJob.readCommitted(spark, out)
    assert(served.count() == turns.count())
    val again = graft.spark.ExtractionJob.run(s,
      s.read.parquet(in2).as[graft.spark.Turn],
      graft.spark.ExtractionJob.Config(out, buckets = 4, waves = 2, convGrained = true))
    assert(again.isEmpty)

    // --get-conv keyed lookup: right rows, and it planned a file subset
    val victimRows = turns.where(org.apache.spark.sql.functions.col("conv_id") === victim).count()
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      JobMain.main(Array(in2, out, "--get-conv=" + victim))
    }
    val line = outBuf.toString.linesIterator.find(_.startsWith("{\"keyed_convs\"")).get
    assert(line.contains(s""""rows":$victimRows"""), line)
    val planned = "\"planned_files\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
    val total = "\"total_files\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
    assert(planned >= 1 && planned < total, s"expected a strict file subset: $line")

    // --appends-since: a caught-up poller reports zero changes without error
    val latestSnap = graft.spark.SnapshotManifestFormat.latestSnapshot(out).get
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2)) {
      JobMain.main(Array(in2, out, s"--appends-since=$latestSnap"))
    }
    val line2 = buf2.toString.linesIterator.find(_.startsWith("{\"appends_from\"")).get
    assert(line2.contains("\"rows\":0") && line2.contains("\"changed_keys\":0"), line2)

    // --remove-orphans: a planted crashed staging dir is swept, and the
    // maintenance summary reports it
    val stale = java.nio.file.Paths.get(out, "staging-crashed", "bucket=0")
    Files.createDirectories(stale)
    Files.write(stale.resolve("junk.parquet"), Array[Byte](1))
    val buf3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf3)) {
      JobMain.main(Array(in2, out, "4", "2", "--conv-grained", "--remove-orphans=0"))
    }
    val line3 = buf3.toString.linesIterator.find(_.startsWith("{\"committed_buckets")).get
    assert(line3.contains("\"orphans_removed\":1"), line3)
    assert(!Files.exists(stale.getParent))

    // --binpack from the CLI: accrete two tiny deltas on the same conv
    // (two small files in its bucket), then pack them into one run
    val in3 = s"$base/turns3"; val in4 = s"$base/turns4"
    turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nfix2") else t)
      .write.parquet(in3)
    turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nfix3") else t)
      .write.parquet(in4)
    JobMain.main(Array(in3, out, "4", "2", "--conv-grained"))
    JobMain.main(Array(in4, out, "4", "2", "--conv-grained"))
    val buf4 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf4)) {
      JobMain.main(Array(in4, out, "4", "2", "--conv-grained", "--binpack=1000"))
    }
    val line4 = buf4.toString.linesIterator.find(_.startsWith("{\"committed_buckets")).get
    val packed = "\"binpacked_buckets\":(\\d+)".r.findFirstMatchIn(line4).get.group(1).toInt
    assert(packed >= 1, line4) // at least the victim's bucket held 2+ small files
    assert(graft.spark.ExtractionJob.readCommitted(spark, out).count() == turns.count())
  }

  test("JobMain --tag/--tags/--drop-tag/--rollback drive refs and rollback from the CLI") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-jobmain-tags").toString
    val in1 = s"$base/turns1"
    val in2 = s"$base/turns2"
    val out = s"$base/out"
    val turns = graft.spark.Transcripts.generate(spark, 15)
    turns.write.parquet(in1)
    val victim = turns.select("conv_id").as[String].head()
    turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\ncli fix") else t)
      .write.parquet(in2)

    JobMain.main(Array(in1, out, "4", "2", "--conv-grained"))
    val s0 = graft.spark.SnapshotManifestFormat.latestSnapshot(out).get

    def cli(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { JobMain.main(args.toArray) }
      buf.toString.linesIterator.find(_.startsWith("{")).get
    }
    // --tag with no snapshot id pins the CURRENT snapshot
    assert(cli(in1, out, "--tag=train-v1").contains(s""""snapshot":$s0"""))
    JobMain.main(Array(in2, out, "4", "2", "--conv-grained")) // move the table on
    assert(cli(in1, out, "--tags") == s"""{"tags":{"train-v1":$s0},"out":"$out"}""")

    val s1 = graft.spark.SnapshotManifestFormat.latestSnapshot(out).get
    val line = cli(in1, out, s"--rollback=$s0")
    assert(line.contains(s""""rollback_to":$s0""") && line.contains(s""""snapshot":${s1 + 1}"""), line)
    // rolled back: victim serves the ORIGINAL extraction again
    val got = graft.spark.ExtractionJob.readCommitted(spark, out)
      .where(org.apache.spark.sql.functions.col("conv_id") === victim)
      .select("conv_id", "turn_idx", "main_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val want = graft.spark.ExtractionJob.extract(spark,
        s.read.parquet(in1).as[graft.spark.Turn]
          .where(org.apache.spark.sql.functions.col("conv_id") === victim))
      .select("conv_id", "turn_idx", "main_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == want, "CLI rollback must serve the pre-correction content")

    assert(cli(in1, out, "--drop-tag=train-v1").contains("\"dropped_tag\""))
    assert(cli(in1, out, "--tags").contains("\"tags\":{}"))

    // --history: the snapshots metadata table as one JSON line — the
    // rollback shows as a current "replace" entry
    val hist = cli(in1, out, "--history")
    assert(hist.contains(s""""snapshot":${s1 + 1},"op":"replace""""), hist)
    assert(hist.contains("\"current\":true"), hist)

    // mode flags are single-purpose: combinations whose extra flags would
    // be silently dropped refuse loudly instead
    intercept[IllegalArgumentException] {
      JobMain.main(Array(in1, out, "--tags", "--history"))
    }
    intercept[IllegalArgumentException] {
      JobMain.main(Array(in1, out, s"--rollback=$s0", "--compact"))
    }
    // streaming ingest is a maintenance-class flag too: a mode flag beside
    // it would silently skip the batch-vs-ingest work, so it refuses
    intercept[IllegalArgumentException] {
      JobMain.main(Array(in1, out, "--tags", "--stream-ingest=/tmp/nonexistent-ckpt"))
    }
  }

  test("JobMain --stream-ingest tails the input and commits exactly-once snapshots") {
    val base = Files.createTempDirectory("graft-jobmain-stream").toString
    val in = s"$base/turns"
    val out = s"$base/table"
    val ckpt = s"$base/ckpt"
    val turns = graft.spark.Transcripts.generate(spark, 12)
    turns.write.mode("append").parquet(in)

    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      JobMain.main(Array(in, out, "4", "2", s"--stream-ingest=$ckpt"))
    }
    val line = buf.toString.linesIterator.find(_.startsWith("{\"stream_ingest\"")).get
    assert(line.contains(s""""rows_appended":${turns.count()}"""), line)
    assert(graft.spark.ExtractionJob.readCommitted(spark, out).count() == turns.count())
    assert(graft.spark.ExtractionJob.readManifest(out).get
      .props.keys.exists(_.startsWith("stream.stream-")), "sink marker must be committed")

    // a second invocation with no new input commits nothing new; maintenance
    // flags still run after streaming ingest (not silently dropped)
    val stale = java.nio.file.Paths.get(out, "staging-crashed", "bucket=0")
    Files.createDirectories(stale)
    Files.write(stale.resolve("junk.parquet"), Array[Byte](1))
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2)) {
      JobMain.main(Array(in, out, "4", "2", s"--stream-ingest=$ckpt", "--remove-orphans=0",
        "--set-prop=owner=pipeline-team"))
    }
    val line2 = buf2.toString.linesIterator.find(_.startsWith("{\"stream_ingest\"")).get
    assert(line2.contains("\"rows_appended\":0") && line2.contains("\"orphans_removed\":1"), line2)
    assert(line2.contains("\"props_set\":1"), line2)
    assert(graft.spark.ExtractionJob.readManifest(out).get.props.get("owner")
      .contains("pipeline-team"), "--set-prop must land on the manifest")
    assert(!Files.exists(stale.getParent))
    assert(graft.spark.ExtractionJob.readCommitted(spark, out).count() == turns.count())
  }

  test("JobMain --replicate drains a source table's change feed into a replica") {
    val base = Files.createTempDirectory("graft-jobmain-replica").toString
    val in = s"$base/turns"
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckpt = s"$base/ckpt"
    val turns = graft.spark.Transcripts.generate(spark, 8)
    turns.write.mode("overwrite").parquet(in)
    graft.spark.ExtractionJob.run(spark,
      spark.read.parquet(in)
        .as[graft.spark.Turn](org.apache.spark.sql.Encoders.product[graft.spark.Turn]),
      graft.spark.ExtractionJob.Config(src, buckets = 4, waves = 1, convGrained = true))

    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      JobMain.main(Array(src, dst, s"--replicate=$ckpt"))
    }
    val line = buf.toString.linesIterator.find(_.startsWith("{\"replicate\"")).get
    assert(line.contains(s""""rows_applied":${turns.count()}"""), line)
    assert(graft.spark.ExtractionJob.readCommitted(spark, dst).count() == turns.count())

    // --replicate does not compose with --stream-ingest or mode flags
    intercept[IllegalArgumentException] {
      JobMain.main(Array(src, dst, s"--replicate=$ckpt", "--stream-ingest=$ckpt"))
    }
    intercept[IllegalArgumentException] {
      JobMain.main(Array(src, dst, "--tags", s"--replicate=$ckpt"))
    }
  }

  test("JobMain --files and --lineage print the metadata tables") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-jobmain-meta").toString
    val in = base + "/turns"; val out = base + "/table"
    graft.spark.Transcripts.generate(s, 8).write.parquet(in)
    JobMain.main(Array(in, out, "2", "1", "--conv-grained"))
    def cli(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { JobMain.main(args.toArray) }
      buf.toString.linesIterator.find(_.startsWith("{")).get
    }
    val files = cli(in, out, "--files")
    assert(files.contains("\"files\":[{") && files.contains("\"min_conv\":"), files)
    val snap = graft.spark.SnapshotManifestFormat.latestSnapshot(out).get
    assert(cli(in, out, s"--files=$snap") == files, "explicit snapshot == current")
    val lineage = cli(in, out, "--lineage")
    assert(lineage.contains("\"lineage\":[{") && lineage.contains("\"extract_ms\":"), lineage)
    // --limit bounds the driver-side collect: only N ordered rows print
    val limited = cli(in, out, "--files", "--limit=1")
    assert(limited.contains("\"limit\":1"), limited)
    assert("\\{\"bucket\":".r.findAllIn(limited).length == 1,
      s"--limit=1 must print exactly one file row: $limited")
    val limLineage = cli(in, out, "--lineage", "--limit=1")
    assert("\\{\"snapshot\":".r.findAllIn(limLineage).length == 1, limLineage)
    // metadata modes refuse maintenance companions like every other mode
    intercept[IllegalArgumentException] { JobMain.main(Array(in, out, "--files", "--compact")) }

    // --partitions: per-bucket health summary for maintenance planning
    val parts = cli(in, out, "--partitions")
    assert(parts.contains("\"partitions\":[{") && parts.contains("\"small_files\":"), parts)
    val partsHi = cli(in, out, "--partitions=999999")
    assert(partsHi.contains("\"small_threshold\":999999"), partsHi)
    // with an absurd threshold every file counts as small
    assert(!"\"files\":(\\d+)".r.findAllMatchIn(partsHi)
      .zip("\"small_files\":(\\d+)".r.findAllMatchIn(partsHi))
      .exists { case (f, s) => f.group(1) != s.group(1) }, partsHi)

    // --curate-increment: first cycle bootstraps, second is a no-op
    val work = Files.createTempDirectory("graft-jobmain-curate").toString
    val c1 = cli(in, out, s"--curate-increment=$work")
    assert(c1.contains("\"curate_increment\":{") && c1.contains("\"curated_rows\":"), c1)
    val c2 = cli(in, out, s"--curate-increment=$work")
    assert(c2.contains("\"curate_increment\":null"), c2)
  }

  test("JobMain prints valid JSON for a table dir whose name holds a quote and a backslash") {
    val out = Files.createTempDirectory("graft-jobmain-quote").resolve("t\"a\\b").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      JobMain.main(Array("unused-input", out, "--branches"))
    }
    val line = buf.toString.linesIterator.find(_.startsWith("{")).get
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(parsed.get("out").textValue == out, line)
    assert(parsed.get("branches").isObject && parsed.get("branches").isEmpty, line)
  }

  test("JobMain WAP cycle from the CLI: --to-branch stages, --audit-branch gates, --publish-branch serves; --rewrite-sorted splits files") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-jobmain-wap").toString
    val in1 = base + "/turns1"; val in2 = base + "/turns2"; val out = base + "/table"
    val turns = graft.spark.Transcripts.generate(s, 16)
    turns.write.parquet(in1)
    JobMain.main(Array(in1, out, "4", "2", "--conv-grained"))
    val s0 = graft.spark.SnapshotManifestFormat.latestSnapshot(out).get
    val victim = turns.select("conv_id").as[String].head()
    turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nState: IL") else t)
      .write.parquet(in2)
    def cli(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { JobMain.main(args.toArray) }
      buf.toString.linesIterator.find(_.startsWith("{")).get
    }
    val staged = cli(in2, out, "4", "2", "--conv-grained", "--to-branch=audit")
    assert(staged.contains(""""staged_branch":"audit""""), staged)
    assert(graft.spark.SnapshotManifestFormat.latestSnapshot(out).contains(s0),
      "the head must not move on a branch stage")
    assert(cli(in1, out, "--branches") ==
      s"""{"branches":{"audit":${s0 + 1}},"out":"$out"}""")
    val audit = cli(in1, out, "--audit-branch=audit")
    assert(audit.contains(""""ok":true""") && audit.contains(""""duplicate_keys":0"""), audit)
    val pub = cli(in1, out, "--publish-branch=audit")
    assert(pub.contains(s""""snapshot":${s0 + 1}"""), pub)
    assert(graft.spark.SnapshotManifestFormat.latestSnapshot(out).contains(s0 + 1))
    assert(graft.spark.ExtractionJob.readCommitted(s, out).count() == turns.count())
    // a no-op stage (input unchanged after publish) creates no ref and
    // says so — an unattended pipeline reads null and skips the audit
    val noop = cli(in2, out, "4", "2", "--conv-grained", "--to-branch=noop")
    assert(noop.contains(""""staged_branch":null"""), noop)
    assert(graft.spark.SnapshotManifestFormat.branches(out).isEmpty)
    // --to-branch refuses head-committing companions at parse time
    intercept[IllegalArgumentException] {
      JobMain.main(Array(in2, out, "4", "2", "--conv-grained",
        "--to-branch=x", "--compact"))
    }
    // ...and mode flags, which early-return before any run is staged
    intercept[IllegalArgumentException] {
      JobMain.main(Array(in2, out, "4", "2", "--conv-grained",
        "--to-branch=x", "--branches"))
    }
    // sorted split rewrite from the CLI: per-file rows bounded, buckets split
    val rw = cli(in2, out, "4", "2", "--conv-grained", "--rewrite-sorted=40")
    assert(rw.contains(""""sort_rewritten_target":40"""), rw)
    val man = graft.spark.ExtractionJob.readManifest(out).get
    assert(man.files.forall(_.rowCount <= 40), "target rows per file must bound every file")
    assert(man.files.groupBy(_.bucket).values.exists(_.size > 1), "buckets must be split")
    assert(graft.spark.ExtractionJob.readCommitted(s, out).count() == turns.count())
  }
}
