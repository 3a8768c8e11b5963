package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{SnapshotManifestFormat, StreamingExtraction, Transcripts}
import java.nio.file.Files

/** Exactly-once streaming ingestion into the snapshot-manifest table:
  * micro-batches commit additive snapshots carrying a sticky
  * `stream.<sink>` -> batch-id marker; a replayed batch (crash between
  * table commit and checkpoint write) is detected by marker comparison and
  * skipped, so the table never double-appends. Sink identity is
  * checkpoint-scoped, and sticky props make the marker survive maintenance
  * commits and snapshot expiry.
  */
class StreamingTableSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fmt = SnapshotManifestFormat
  // a table's first commit without data files must name its schema
  private val extractedDdl =
    org.apache.spark.sql.Encoders.product[graft.spark.ExtractedTurn].schema.toDDL

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def expectedRows(ordinals: Range): Long =
    ordinals.map(o => Transcripts.convLength(o.toLong).toLong).sum

  private def streamMarker(tableDir: String): (String, Long) =
    fmt.readManifest(tableDir).get.props
      .collectFirst { case (k, v) if k.startsWith("stream.") => (k, v.toLong) }.get

  test("AvailableNow stream commits snapshots with exactly-once markers; restart appends only new data") {
    val sp = spark
    import sp.implicits._
    val in = Files.createTempDirectory("tsink-in").toString
    val table = Files.createTempDirectory("tsink-table").toString
    val ckpt = Files.createTempDirectory("tsink-ckpt").toString

    Transcripts.generate(spark, 8).write.mode("append").parquet(in)
    val r1 = StreamingExtraction.runAvailableNowToTable(spark, in, table, ckpt, buckets = 4)
    assert(r1 == expectedRows(0 until 8), s"first run appended $r1")
    assert(fmt.readCommitted(spark, table).count() == expectedRows(0 until 8))
    val (key1, batch1) = streamMarker(table)
    assert(key1 == s"stream.stream-${StreamingExtraction.checkpointSinkId(ckpt)}")

    // restart with more input: only the new files are extracted and appended
    sp.range(8, 14).flatMap(o => Transcripts.turnsFor(o))
      .write.mode("append").parquet(in)
    val r2 = StreamingExtraction.runAvailableNowToTable(spark, in, table, ckpt, buckets = 4)
    assert(r2 == expectedRows(8 until 14), s"second run appended $r2")
    val all = fmt.readCommitted(spark, table)
    assert(all.count() == expectedRows(0 until 14))
    assert(all.select("conv_id", "turn_idx").distinct().count() == expectedRows(0 until 14))
    // streamed extraction bytes == batch extraction bytes
    val streamed = all.where($"conv_id" === "c00000003" && $"turn_idx" === 0)
      .select("fields_json").as[String].head()
    val t = Transcripts.turnsFor(3).head
    assert(streamed == graft.extract.Extractor.extractTurn(t.text, t.tool).fieldsJson)
    val (key2, batch2) = streamMarker(table)
    assert(key2 == key1 && batch2 > batch1, s"same sink, advancing marker: $key2 $batch2")
    val man2 = fmt.readManifest(table).get
    assert(man2.operation == "append")

    // a third run with no new input commits nothing (no empty snapshots)
    assert(StreamingExtraction.runAvailableNowToTable(spark, in, table, ckpt, buckets = 4) == 0L)
    assert(fmt.readManifest(table).get.snapshotId == man2.snapshotId)

    // a RECREATED checkpoint is a NEW sink: batch numbering restarts at 0,
    // but new data must still land (reprocessing duplicates the old sink's
    // rows — the standard semantics — instead of silently dropping data)
    val ckpt2 = Files.createTempDirectory("tsink-ckpt2").toString
    sp.range(14, 16).flatMap(o => Transcripts.turnsFor(o))
      .write.mode("append").parquet(in)
    val r4 = StreamingExtraction.runAvailableNowToTable(spark, in, table, ckpt2, buckets = 4)
    assert(r4 == expectedRows(0 until 16), s"fresh checkpoint reingests the source: $r4")
    val served = fmt.readCommitted(spark, table)
    import org.apache.spark.sql.functions.col
    assert(served.where(col("conv_id") === "c00000015").count() > 0,
      "data arriving after a checkpoint reset must not be lost")
  }

  test("replayed micro-batch is skipped: same batch id appended twice lands once") {
    val sp = spark
    import sp.implicits._
    val table = Files.createTempDirectory("tsink-replay").toString
    val batch = sp.range(0, 5).flatMap(o => Transcripts.turnsFor(o))

    val n1 = StreamingExtraction.appendBatchToTable(spark, batch, batchId = 0L,
      table, buckets = 4, queryKey = "q", fmt)
    assert(n1 == expectedRows(0 until 5))
    val snapAfterFirst = fmt.readManifest(table).get.snapshotId

    // crash-replay of the same batch id: detected, skipped, table unchanged
    val n2 = StreamingExtraction.appendBatchToTable(spark, batch, batchId = 0L,
      table, buckets = 4, queryKey = "q", fmt)
    assert(n2 == 0L)
    assert(fmt.readManifest(table).get.snapshotId == snapAfterFirst)
    assert(fmt.readCommitted(spark, table).count() == expectedRows(0 until 5))

    // the next batch id is accepted; the caller's WRONG bucket count is
    // overridden by the table's recorded modulus, so keyed reads stay exact
    val later = sp.range(5, 7).flatMap(o => Transcripts.turnsFor(o))
    val n3 = StreamingExtraction.appendBatchToTable(spark, later, batchId = 1L,
      table, buckets = 16, queryKey = "q", fmt)
    assert(n3 == expectedRows(5 until 7))
    assert(fmt.readManifest(table).get.bucketCount.contains(4),
      "table modulus must win over the caller's buckets")
    assert(fmt.readManifest(table).get.files.forall(_.bucket < 4))
    val c5 = Transcripts.turnsFor(5).head.conv_id
    assert(fmt.readCommittedForConvs(spark, table, Seq(c5)).count() ==
      Transcripts.convLength(5).toLong, "keyed read must see stream-appended rows")
  }

  test("marker survives interleaved maintenance commits and snapshot expiry (sticky props)") {
    val sp = spark
    import sp.implicits._
    val table = Files.createTempDirectory("tsink-mixed").toString
    val batch = sp.range(0, 4).flatMap(o => Transcripts.turnsFor(o))
    StreamingExtraction.appendBatchToTable(spark, batch, batchId = 7L,
      table, buckets = 4, queryKey = "q", fmt)

    // a maintenance-style commit WITHOUT stream props on top
    val man = fmt.readManifest(table).get
    fmt.commitWave(table, staging = table + "/no-staging", snapshotId = man.snapshotId + 1,
      buckets = man.buckets, files = man.files, lineage = Vector.empty,
      inputFps = man.inputFps, additive = true, convFpsDir = man.convFpsDir,
      deleteDirs = man.deleteDirs, fpMode = man.fpMode, bucketCount = man.bucketCount,
      operation = "replace")
    assert(StreamingExtraction.lastCommittedBatch(table, "q", fmt).contains(7L),
      "sticky props must carry the marker through a prop-less commit")

    // expire history down to ONLY the maintenance snapshot: the marker must
    // still be readable and the replay still skipped
    fmt.expireSnapshots(table, retainLast = 1)
    assert(StreamingExtraction.lastCommittedBatch(table, "q", fmt).contains(7L),
      "marker must survive snapshot expiry")
    val n = StreamingExtraction.appendBatchToTable(spark, batch, batchId = 7L,
      table, buckets = 4, queryKey = "q", fmt)
    assert(n == 0L, "replay after expiry must still be detected")

    // a different sink (query key) is independent: batch 0 of "other" lands
    val other = sp.range(4, 6).flatMap(o => Transcripts.turnsFor(o))
    assert(StreamingExtraction.lastCommittedBatch(table, "other", fmt).isEmpty)
    val nOther = StreamingExtraction.appendBatchToTable(spark, other, batchId = 0L,
      table, buckets = 4, queryKey = "other", fmt)
    assert(nOther == expectedRows(4 until 6))
    // both sinks' markers coexist in the latest manifest
    assert(StreamingExtraction.lastCommittedBatch(table, "q", fmt).contains(7L))
    assert(StreamingExtraction.lastCommittedBatch(table, "other", fmt).contains(0L))
  }

  test("manifest props round-trip through escaping and merge stickily; braces round-trip too") {
    val table = Files.createTempDirectory("tsink-props").toString
    val props = Map("stream.a \"quoted\" name\twith\nescapes" -> "7",
      "stream.plain" -> "42", "k\\slash" -> "v\\end")
    fmt.commitWave(table, staging = table + "/no-staging", snapshotId = 0,
      buckets = Set.empty, files = Vector.empty, lineage = Vector.empty,
      inputFps = Map.empty, additive = true, props = props, schemaDdl = Some(extractedDdl))
    assert(fmt.readManifest(table).get.props == props)

    // sticky merge: a later commit's props lay OVER the carried-forward ones
    fmt.commitWave(table, staging = table + "/no-staging", snapshotId = 1,
      buckets = Set.empty, files = Vector.empty, lineage = Vector.empty,
      inputFps = Map.empty, additive = true,
      props = Map("stream.plain" -> "43", "new.key" -> "x"))
    assert(fmt.readManifest(table).get.props ==
      props + ("stream.plain" -> "43") + ("new.key" -> "x"))

    // props are a nested JSON object, so braces (and a key that spells a
    // manifest key) are plain text: they commit and read back exactly
    val before = fmt.readManifest(table).get
    val braced = Map("k" -> "{bad}", "{k}" -> "}{", "files" -> "{\"bucket\":0}")
    fmt.commitWave(table, staging = table + "/no-staging", snapshotId = 2,
      buckets = Set.empty, files = Vector.empty, lineage = Vector.empty,
      inputFps = Map.empty, additive = true, props = braced)
    val man = fmt.readManifest(table).get
    assert(man.props == before.props ++ braced)
    assert(man.operation == "append" && man.files.isEmpty && man.fpMode.isEmpty &&
      man.convFpsDir.isEmpty)
  }

  /** Delegating format that runs `inject` once just before the first commit
    * attempt — the standard way these specs simulate a racing writer. */
  private class InjectingFormat(inject: String => Unit) extends graft.spark.TableFormat {
    import graft.spark.ExtractionJob.{FileEntry, LineageRow}
    private var injected = false
    def latestSnapshot(outDir: String) = fmt.latestSnapshot(outDir)
    def readManifest(outDir: String) = fmt.readManifest(outDir)
    def committedBuckets(outDir: String) = fmt.committedBuckets(outDir)
    def listStagedFiles(s: org.apache.spark.sql.SparkSession, staging: String) =
      fmt.listStagedFiles(s, staging)
    def readCommitted(s: org.apache.spark.sql.SparkSession, outDir: String) =
      fmt.readCommitted(s, outDir)
    def readManifestAt(outDir: String, k: Int) = fmt.readManifestAt(outDir, k)
    def readCommittedAsOf(s: org.apache.spark.sql.SparkSession, outDir: String, k: Int) =
      fmt.readCommittedAsOf(s, outDir, k)
    def compact(s: org.apache.spark.sql.SparkSession, outDir: String) = fmt.compact(s, outDir)
    def expireSnapshots(outDir: String, retainLast: Int) = fmt.expireSnapshots(outDir, retainLast)
    def removeOrphanFiles(outDir: String, olderThanMs: Long) =
      fmt.removeOrphanFiles(outDir, olderThanMs)
    def readAppendsBetween(s: org.apache.spark.sql.SparkSession, outDir: String,
                           from: Int, to: Int) = fmt.readAppendsBetween(s, outDir, from, to)
    def readDeleteKeysBetween(s: org.apache.spark.sql.SparkSession, outDir: String,
                              from: Int, to: Int) = fmt.readDeleteKeysBetween(s, outDir, from, to)
    def branches(outDir: String) = fmt.branches(outDir)
    def expireBranches(outDir: String, olderThanMs: Long) = fmt.expireBranches(outDir, olderThanMs)
    def snapshotAsOfTimestamp(outDir: String, tsMillis: Long) = fmt.snapshotAsOfTimestamp(outDir, tsMillis)
    def publishBranch(outDir: String, name: String) = fmt.publishBranch(outDir, name)
    def abandonBranch(outDir: String, name: String) = fmt.abandonBranch(outDir, name)
    def readCommittedAtBranch(s: org.apache.spark.sql.SparkSession, outDir: String,
                              name: String) = fmt.readCommittedAtBranch(s, outDir, name)
    def commitWave(outDir: String, staging: String, snapshotId: Int,
                   buckets: Set[Int], files: Seq[FileEntry], lineage: Seq[LineageRow],
                   inputFps: Map[Int, Long], additive: Boolean,
                   convFpsDir: Option[String], deleteDirs: Seq[String],
                   fpMode: Option[String], bucketCount: Option[Int],
                   operation: String, props: Map[String, String],
                   schemaDdl: Option[String], toBranch: Option[String]): Unit = {
      if (!injected) { injected = true; inject(outDir) }
      fmt.commitWave(outDir, staging, snapshotId, buckets, files, lineage,
        inputFps, additive, convFpsDir, deleteDirs, fpMode, bucketCount, operation, props,
        schemaDdl, toBranch)
    }
  }

  test("a racing first commit that fixed a different modulus forces a re-stage, not mixed buckets") {
    val sp = spark
    import sp.implicits._
    val table = Files.createTempDirectory("tsink-modrace").toString
    // the competing writer lands the FIRST commit, fixing modulus 2 — the
    // sink staged under modulus 4 and must re-bucket, not mix moduli
    val racing = new InjectingFormat(out =>
      fmt.commitWave(out, staging = out + "/none", snapshotId = 0,
        buckets = Set.empty, files = Vector.empty, lineage = Vector.empty,
        inputFps = Map.empty, additive = true, bucketCount = Some(2),
        schemaDdl = Some(extractedDdl)))
    val batch = sp.range(0, 6).flatMap(o => Transcripts.turnsFor(o))
    val n = StreamingExtraction.appendBatchToTable(spark, batch, batchId = 0L,
      table, buckets = 4, queryKey = "q", racing)
    assert(n == expectedRows(0 until 6))
    val man = fmt.readManifest(table).get
    assert(man.bucketCount.contains(2), "winner's modulus must be adopted")
    assert(man.files.nonEmpty && man.files.forall(_.bucket < 2),
      "staged files must be re-bucketed under the winner's modulus")
    // keyed-read pruning stays exact under the adopted modulus
    val c3 = Transcripts.turnsFor(3).head.conv_id
    assert(fmt.readCommittedForConvs(spark, table, Seq(c3)).count() ==
      Transcripts.convLength(3).toLong)
    assert(fmt.readCommitted(spark, table).count() == expectedRows(0 until 6))
  }

  test("a zombie driver's racing commit of the same batch id turns the append into a no-op") {
    val sp = spark
    import sp.implicits._
    val table = Files.createTempDirectory("tsink-zombie").toString
    val b0 = sp.range(0, 3).flatMap(o => Transcripts.turnsFor(o))
    StreamingExtraction.appendBatchToTable(spark, b0, batchId = 0L,
      table, buckets = 4, queryKey = "q", fmt)
    val rowsAfter0 = fmt.readCommitted(spark, table).count()
    // the zombie (same checkpoint, older driver) commits batch 1's marker
    // between this driver's staging and its commit
    val racing = new InjectingFormat(out => { fmt.setTableProps(out, Map("stream.q" -> "1")); () })
    val b1 = sp.range(3, 5).flatMap(o => Transcripts.turnsFor(o))
    val n = StreamingExtraction.appendBatchToTable(spark, b1, batchId = 1L,
      table, buckets = 4, queryKey = "q", racing)
    assert(n == 0L, "fenced: the racing driver already committed this batch")
    assert(fmt.readCommitted(spark, table).count() == rowsAfter0, "no double-append")
    val names = new java.io.File(table).list().toSet
    assert(!names.exists(_.startsWith("staging-")), "fenced append must clean its staging")
  }

  test("setTableProps commits sticky props and retires keys with empty values") {
    val table = Files.createTempDirectory("tsink-setprops").toString
    intercept[IllegalStateException] { fmt.setTableProps(table, Map("a" -> "b")) }
    fmt.commitWave(table, staging = table + "/no-staging", snapshotId = 0,
      buckets = Set.empty, files = Vector.empty, lineage = Vector.empty,
      inputFps = Map.empty, additive = true, schemaDdl = Some(extractedDdl))
    assert(fmt.setTableProps(table, Map("owner" -> "teamA", "stream.dead-sink" -> "99")) == 1)
    assert(fmt.readManifest(table).get.props ==
      Map("owner" -> "teamA", "stream.dead-sink" -> "99"))
    // empty value = tombstone: the operator's removal path for a dead marker
    assert(fmt.setTableProps(table, Map("stream.dead-sink" -> "")) == 2)
    val man = fmt.readManifest(table).get
    assert(man.props == Map("owner" -> "teamA"))
    assert(man.operation == "props")
  }
}
