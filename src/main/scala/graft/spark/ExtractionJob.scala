package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The north-star batch job (SURVEY.md §3.5, §4.3):
  *
  *   scan → bucket by hash(conv_id) → skip committed buckets (resume) →
  *   salted repartition (skew-aware) → per-turn extraction (fused UDF) →
  *   per-bucket sorted write → snapshot manifest + per-partition lineage.
  *
  * "Iceberg table" semantics are provided by a thin snapshot-manifest
  * protocol over Parquet (no Iceberg jar ships in /opt/spark/jars):
  *
  *   out/data/bucket=B/part-....parquet  committed data, sorted by (conv_id, turn_idx)
  *   out/lineage/lineage-K.json       per-bucket lineage rows for snapshot K
  *   out/snapshots/snap-K.json        manifest: cumulative committed buckets
  *                                    + exact data files with row counts
  *   out/snapshots/_latest            current snapshot id (atomic rename)
  *
  * Resume verifies every manifest-listed file exists before skipping a
  * bucket; committed reads load exactly the manifest's file list.
  *
  * Buckets are processed in waves; each wave commits one snapshot. The
  * waves are pipelined one deep (see `runWaves`): wave k+1 stages on a
  * staging thread while the calling thread waits for wave k and commits
  * it, so the driver-only part of one wave (planning, AQE re-planning,
  * footer listing, commit) overlaps the other wave's tasks. Commits still
  * land strictly in wave order. A killed run resumes from the last
  * committed snapshot: committed waves survive and are never recomputed;
  * at most the 2 waves that were in flight are recomputed on resume.
  */
object ExtractionJob {

  final case class Config(
      outDir: String,
      buckets: Int = 32,
      waves: Int = 4,
      saltTurnsPerSplit: Int = 64,
      failAfterWave: Int = -1, // test hook: simulate a kill after wave N commit
      // change-detection resume: fingerprint each bucket's INPUT content and
      // recompute committed buckets whose input changed since their snapshot
      // (upstream backfill/correction). Costs one narrow aggregation scan of
      // the input per run, so it is opt-in; file-based inputs should prefer
      // file-level manifest diff (the input table's own snapshot lineage).
      fingerprintInputs: Boolean = false,
      // conversation-grained incremental re-extraction (supersedes
      // fingerprintInputs): per-conv_id fingerprints are recorded in a
      // parquet sidecar; a dirty bucket recomputes ONLY its changed
      // conversations, committed as an additive delta file plus an equality
      // delete file — the Iceberg merge-on-read shape. Surviving data files
      // are never rewritten or re-extracted.
      convGrained: Boolean = false,
      // auto-compaction policy: after a conv-grained run, compact when the
      // accumulated equality-delete entries reach this count (0 = manual
      // compaction only). Default is non-zero so an unattended pipeline
      // bounds its MOR delete debt (and the broadcast-pinned delete-read
      // join stays under the readAt size guard) without operator action;
      // the threshold is far above anything the specs' small tables reach.
      // NOTE: like Iceberg maintenance, compaction rewrites the affected
      // buckets' files, so time travel to PRE-compact snapshots of those
      // buckets becomes unavailable (reported as history loss, not
      // corruption). Pipelines that must keep deep time travel should set
      // 0 and compact/expire on their own schedule.
      autoCompactDeletes: Int = 100000,
      // optimistic-concurrency retries (Iceberg commit.retry.num-retries
      // analog): when a commit loses a race to a concurrent writer
      // (CommitConflictException), re-plan the whole run against the
      // advanced table state and try again, up to this many times. A
      // re-planned attempt sees the winner's commits as already done, so
      // only genuinely remaining work is recomputed. 0 = propagate the
      // conflict to the caller (single-writer deployments).
      commitRetries: Int = 2,
      // Write-audit-publish (Iceberg WAP analog): stage this run's
      // conv-grained delta on an unpublished branch ref instead of
      // advancing the table head. Readers see nothing until
      // publishBranch; auditBranch runs the structural gate. Any number
      // of branches may pend concurrently and the table stays fully
      // writable while they do — publish cherry-picks onto the
      // then-current head, refusing when intervening commits touched the
      // same buckets (abandon and re-stage). Requires convGrained and a
      // fully committed table — full waves are replacing promotes, which
      // cannot be staged un-published.
      toBranch: Option[String] = None
  )

  /** `extract_ms` is the wall time of the wave's stageWave call (extraction,
    * sorted write, footer listing). Waves are pipelined, so it overlaps the
    * neighbouring wave's staging and the two share the executors. */
  final case class LineageRow(
      snapshot_id: Long,
      bucket: Long,
      row_count: Long,
      field_count_sum: Long,
      extract_ms: Long,
      committed_at: String)

  /** One committed data file: path relative to out/data plus its row count
    * (Iceberg-manifest granularity — enables file-level conflict detection
    * and exact-file snapshot reads). `minConv`/`maxConv` are the file's
    * conv_id column bounds lifted from its parquet footer at commit time
    * (Iceberg DataFile lower_bounds/upper_bounds analog) — they cost
    * nothing extra (the footer is already read for row counts) and let
    * keyed reads skip files that cannot contain a requested conversation. */
  final case class FileEntry(bucket: Int, path: String, rowCount: Long, seq: Int = 0,
                             minConv: Option[String] = None, maxConv: Option[String] = None)

  /** A parsed snapshot manifest (see SnapshotManifestFormat.parseManifest
    * for the on-disk key list). */
  final case class Manifest(snapshotId: Int, buckets: Set[Int], files: Vector[FileEntry],
                            inputFps: Map[Int, Long],
                            convFpsDir: Option[String] = None,
                            deleteDirs: Vector[String] = Vector.empty,
                            // which fingerprint formula inputFps was computed
                            // with: "conv" (bucketFpsFromConv) or "bucket"
                            // (inputFingerprints); formulas are not comparable
                            fpMode: Option[String] = None,
                            // the hash modulus the table was bucketed with —
                            // recorded so keyed reads can compute a requested
                            // conversation's bucket without trusting a
                            // caller-supplied (possibly wrong) count
                            bucketCount: Option[Int] = None,
                            // what the commit did (Iceberg snapshot-summary
                            // operation analog): "append" (new buckets),
                            // "delta" (conv-grained MOR delta), "rewrite"
                            // (content-PRESERVING maintenance: compaction,
                            // binpack, sorted rewrite, rebucket — served rows
                            // unchanged, files rewritten), "replace"
                            // (content-CHANGING rewrite: full-bucket
                            // recompute, rollback), "props" (table properties
                            // or fingerprints only). Incremental reads refuse
                            // across both rewrite and replace; consumers that
                            // only care about CONTENT (e.g. incremental
                            // curation) may skip a leading "rewrite" but must
                            // rebuild on "replace".
                            operation: String,
                            // STICKY table properties (Iceberg
                            // table-properties / Delta txn-map analog):
                            // commitWave carries the previous manifest's
                            // props forward with the commit's entries laid
                            // over them, and an empty value retires a key —
                            // e.g. the streaming sink's exactly-once marker
                            // stream.<sink> -> last batch id. Values must
                            // not contain '{' or '}' (flat-JSON manifest
                            // encoding); commitWave enforces this.
                            props: Map[String, String] = Map.empty,
                            // commit wall-clock instant (ISO-8601)
                            committedAt: String,
                            // the table schema AT this snapshot, as Spark DDL
                            // (Iceberg snapshot-scoped schema analog). Derived
                            // from the committed wave's parquet footers and
                            // carried sticky across file-less commits; reads
                            // pin the scan to it, so added columns null-fill
                            // over older files and dropped columns project
                            // away.
                            schemaDdl: String)

  /** Pure transform: turns -> extracted turns (no sink). The extraction is a
    * typed map — one codegen boundary, everything else stays Catalyst.
    */
  def extract(spark: SparkSession, turns: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import spark.implicits._
    turns.map { t =>
      val e = graft.extract.Extractor.extractTurn(t.text, t.tool)
      ExtractedTurn(t.conv_id, t.turn_idx, e.formType, e.formSubtype, e.mainText, e.spans,
        e.fieldsJson, e.fieldCount, e.sectionCount)
    }
  }

  /** Salted shuffle key: long conversations are split into chunks of
    * `saltTurnsPerSplit` turns so a single hot conv_id cannot pin a whole
    * partition (safe: extraction is per-turn, nothing regroups on conv_id).
    */
  private def saltKey(saltTurnsPerSplit: Int) =
    xxhash64(col("conv_id"), floor(col("turn_idx") / saltTurnsPerSplit))

  def bucketOf(buckets: Int) = pmod(xxhash64(col("conv_id")), lit(buckets)).cast("int")

  /** Driver-side twin of `bucketOf`: the bucket a conversation hashes to,
    * evaluated through the same Catalyst XxHash64 (seed 42) as the
    * distributed column expression — the anchor for manifest-level file
    * pruning on keyed reads. */
  def bucketOfConvId(convId: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(convId)), 42L).eval(null).asInstanceOf[Long]
    val m = h % buckets
    (if (m < 0) m + buckets else m).toInt
  }

  /** Per-bucket content fingerprint of the INPUT: order-independent XOR of
    * per-row xxhash64 over every input column, mixed with the row count
    * (XOR alone would let duplicate rows cancel; ANSI mode forbids a
    * wrapping sum). One narrow map-side-combined aggregation scan; used by
    * change-detection resume. */
  def inputFingerprints(spark: SparkSession, turns: Dataset[Turn], buckets: Int): Map[Int, Long] =
    turns.toDF()
      .groupBy(bucketOf(buckets).as("bucket"))
      .agg(
        expr("bit_xor(xxhash64(conv_id, turn_idx, role, text, tool, ts))").as("x"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getAs[Int]("bucket") ->
        (r.getAs[Long]("x") ^ (r.getAs[Long]("n") * 0x9E3779B97F4A7C15L)))
      .toMap

  private val fpMix = 0x9E3779B97F4A7C15L

  /** Per-conversation content fingerprints (bucket, conv_id, fp): same
    * order-independent XOR + count mix as inputFingerprints, one narrow
    * map-side-combined aggregation, conversation grain. */
  def convFingerprints(spark: SparkSession, turns: Dataset[Turn], buckets: Int): DataFrame =
    turns.toDF()
      .groupBy(bucketOf(buckets).as("bucket"), col("conv_id"))
      .agg(
        expr("bit_xor(xxhash64(conv_id, turn_idx, role, text, tool, ts))").as("x"),
        count(lit(1)).as("n"))
      .select(col("bucket"), col("conv_id"),
        // count mixed in via xxhash64 (a multiply would overflow under ANSI)
        (col("x").bitwiseXOR(xxhash64(col("n")))).as("fp"))

  /** Bucket fingerprints derived from the conv grain (pure function of the
    * conv fps, so recorded and current values are comparable). */
  def bucketFpsFromConv(convFps: DataFrame): Map[Int, Long] =
    convFps.groupBy("bucket")
      .agg(expr("bit_xor(fp)").as("x"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getAs[Int]("bucket") ->
        (r.getAs[Long]("x") ^ (r.getAs[Long]("n") * fpMix)))
      .toMap

  // ---- table-format seam (SURVEY.md §7.4.7) ----
  // The snapshot/commit/read protocol lives behind TableFormat; callers use
  // SnapshotManifestFormat (or TableDoctor) directly. These three entry
  // points stay for code outside src/main that builds against this one.

  val defaultFormat: TableFormat = SnapshotManifestFormat

  def readManifest(outDir: String): Option[Manifest] = defaultFormat.readManifest(outDir)

  def readCommitted(spark: SparkSession, outDir: String): DataFrame =
    defaultFormat.readCommitted(spark, outDir)

  /** Schema of the files a wave stages (`bucket` is their partition
    * directory). A wave that stages no files records it explicitly in its
    * commit: there is no footer to read it from. */
  private lazy val stagedSchemaDdl: String =
    org.apache.spark.sql.Encoders.product[ExtractedTurn].schema.toDDL

  /** Run the job with wave-grained snapshot commits. Returns the set of
    * buckets committed (or, conv-grained, delta-updated) by this invocation
    * (empty if everything was already committed — the resume-no-recompute
    * property).
    *
    * Concurrent writers: a commit that loses an optimistic-concurrency race
    * is retried up to `config.commitRetries` times by re-planning the run
    * against the advanced table state (waves the lost attempt already
    * committed are visible there and are not redone). The returned set
    * accumulates every wave THIS invocation committed across attempts.
    */
  def run(spark: SparkSession, turns: Dataset[Turn], config: Config,
          format: TableFormat = SnapshotManifestFormat): Set[Int] = {
    require(config.toBranch.isEmpty || config.convGrained,
      "toBranch (write-audit-publish) requires convGrained: only merge-on-read " +
        "delta commits are additive and can be staged unpublished")
    val acc = scala.collection.mutable.Set.empty[Int]
    // a lost race re-plans from the winner's state and tries again
    SnapshotManifestFormat.retrying(config.commitRetries) {
      // on an existing table the RECORDED bucket modulus is authoritative
      // (same contract as the streaming sink): an operator passing a
      // different [buckets] must not silently mix moduli — dirty-bucket
      // diffing, keyed reads and equality deletes all key on the recorded
      // one. rebucket() is the sanctioned way to change it. Re-resolved
      // per attempt: a concurrent rebucket advances it between retries.
      val eff = format.readManifest(config.outDir).flatMap(_.bucketCount)
        .map(n => config.copy(buckets = n)).getOrElse(config)
      if (eff.convGrained) runConvGrained(spark, turns, eff, format, acc)
      else runBucketGrained(spark, turns, eff, format, acc)
    }
    acc.toSet
  }

  private def runBucketGrained(spark: SparkSession, turns: Dataset[Turn], config: Config,
          format: TableFormat, acc: scala.collection.mutable.Set[Int]): Unit = {
    // change-detection resume: a committed bucket whose INPUT fingerprint
    // differs from the one recorded at commit time is treated as
    // uncommitted and recomputed (upstream backfill semantics)
    val currentFps: Map[Int, Long] =
      if (config.fingerprintInputs) inputFingerprints(spark, turns, config.buckets)
      else Map.empty
    val verified = format.committedBuckets(config.outDir)
    val priorMan = format.readManifest(config.outDir)
    val manFps = priorMan.map(_.inputFps).getOrElse(Map.empty)
    // recorded fps are only comparable when the same formula produced them:
    // a conv-grained table's fps never equal inputFingerprints values, and
    // comparing them would mass-recompute the whole table
    val fpModeOk = priorMan.flatMap(_.fpMode).forall(_ == "bucket")
    val already =
      if (config.fingerprintInputs && manFps.nonEmpty && fpModeOk)
        verified.filter(b => manFps.get(b) == currentFps.get(b))
      else verified
    val remaining = (0 until config.buckets).filterNot(already.contains)
    if (remaining.isEmpty) {
      // fingerprint BASELINE: a table whose bucket fps were dropped
      // (rebucket invalidates old-modulus fps) or never recorded
      // (fingerprinting enabled after the table was built) cannot detect
      // FUTURE input changes until a baseline exists — record the current
      // input's fps in a metadata-only commit so the next run compares
      // against something. Honest limitation: an input change that landed
      // BEFORE this baseline is undetectable by any fingerprint scheme
      // (there is no recorded value for it to differ from); conv-grained
      // tables keep their re-keyed sidecar through rebucket and never hit
      // this gap.
      val needBaseline = config.fingerprintInputs && fpModeOk &&
        verified.exists(b => !manFps.contains(b) && currentFps.contains(b))
      if (needBaseline) priorMan.foreach { man =>
        format.commitWave(config.outDir, s"${config.outDir}/no-staging",
          man.snapshotId + 1, man.buckets, man.files, lineage = Seq.empty,
          inputFps = manFps ++ currentFps.filter { case (b, _) => verified.contains(b) },
          additive = true, convFpsDir = man.convFpsDir, deleteDirs = man.deleteDirs,
          fpMode = Some("bucket"), bucketCount = man.bucketCount, operation = "props")
      }
      return
    }

    val waveSize = math.max(1, math.ceil(remaining.size.toDouble / config.waves).toInt)
    val waves = remaining.grouped(waveSize).toVector
    var committed = already
    var doneThisRun = Set.empty[Int]
    // carry forward only files of buckets still verified-committed; stale
    // entries of recomputed buckets are dropped and replaced by this run's
    var committedFiles: Vector[FileEntry] = priorMan
      .map(_.files.filter(f => already.contains(f.bucket))).getOrElse(Vector.empty)
    // a bucket-grained commit on a conv-grained table must not destroy the
    // incremental state: carry the conv-fp sidecar pointer, the recorded
    // fingerprints (merged under the current mode's values) and the tracked
    // delete dirs through every commit
    val carriedConvFps = priorMan.flatMap(_.convFpsDir)
    val carriedDeleteDirs = priorMan.map(_.deleteDirs).getOrElse(Vector.empty)
    val carriedFps = manFps
    // a recomputed bucket holds rows the sidecar does not describe unless
    // its input is the one the sidecar records for it
    val sidecarCurrent: Set[Int] = carriedConvFps.map(d => s"${config.outDir}/conv_fps/$d")
      .filter(new java.io.File(_).isDirectory).map { dir =>
        val recorded = bucketFpsFromConv(spark.read.parquet(dir))
        val current = bucketFpsFromConv(convFingerprints(spark, turns, config.buckets))
        remaining.filter(b => recorded.get(b) == current.get(b)).toSet
      }.getOrElse(Set.empty)

    val withBucket = turns
      .withColumn("bucket", bucketOf(config.buckets))

    // writer-unique staging names (see runConvGrained's runToken note)
    val runToken = SnapshotManifestFormat.newRunToken()
    val base = format.latestSnapshot(config.outDir).getOrElse(-1)
    runWaves(spark, withBucket, config, format, waves, base + 1, runToken, firstWaveNo = 0) {
      case (waveBuckets, seq, (staging, waveFiles, lineage)) =>
        committed = committed ++ waveBuckets
        doneThisRun = doneThisRun ++ waveBuckets
        committedFiles = committedFiles ++ waveFiles
        // promote the staged wave and atomically commit the snapshot
        // recomputed buckets' carried fps are stale (data now reflects the
        // CURRENT input) — drop them unless this run records fresh ones
        format.commitWave(config.outDir, staging, seq, committed, committedFiles,
          lineage,
          if (config.fingerprintInputs) (carriedFps -- doneThisRun) ++ currentFps
          else carriedFps -- doneThisRun,
          additive = false, convFpsDir = carriedConvFps,
          deleteDirs = carriedDeleteDirs,
          fpMode =
            if (config.fingerprintInputs) Some("bucket")
            else priorMan.flatMap(_.fpMode),
          bucketCount = Some(config.buckets),
          // recomputing a previously committed bucket rewrites its content
          // (non-additive promote) — incremental readers must refuse across it
          operation = if (waveBuckets.exists(verified.contains)) "replace" else "append",
          props = SnapshotManifestFormat.unlistedAfter(priorMan, doneThisRun -- sidecarCurrent),
          schemaDdl = if (waveFiles.isEmpty) Some(stagedSchemaDdl) else None)
        acc ++= waveBuckets
    }
  }

  /** The wave loop of both run modes, pipelined one wave deep. Each wave
    * stages (`stageWave`) on a staging thread; the calling thread waits for
    * the waves in order and hands each to `commit` with its snapshot id
    * (`firstSeq + i`). Waves 0 and 1 are launched together and wave k+2
    * once wave k is committed, so at most 2 waves are in flight and commits
    * land strictly in wave order. The staging threads carry the caller's
    * active session and local properties (job group, job tags, scheduler
    * pool), so cancelling the caller's group or tag reaches their jobs.
    *
    * On any throw (a lost commit race, a failed task, the failAfterWave
    * hook, counted from `firstWaveNo`) every in-flight wave is cancelled
    * through its job tag and awaited, the staging dirs of all uncommitted
    * waves are deleted, and the throw propagates: the committed prefix
    * stands, exactly as a sequential loop would leave it. */
  private def runWaves(spark: SparkSession, withBucket: DataFrame, config: Config,
                       format: TableFormat, waves: Seq[Seq[Int]], firstSeq: Int,
                       runToken: String, firstWaveNo: Int)(
      commit: (Seq[Int], Int, Staged) => Unit): Unit = {
    import java.util.concurrent.{CompletableFuture, ExecutionException, Executors, TimeUnit}
    import spark.implicits._
    val sc = spark.sparkContext
    val pool = Executors.newFixedThreadPool(2, { r: Runnable =>
      val t = new Thread(r, s"graft-wave-staging-$runToken")
      t.setDaemon(true)
      t
    })
    def waveTag(i: Int) = s"wave-$i-$runToken"
    def launch(i: Int) = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool) {
      sc.addJobTag(s"graft-${waveTag(i)}") // on the staging thread's copy of the properties
      val input = withBucket.where(col("bucket").isin(waves(i): _*)).as[TurnWithBucket]
      stageWave(spark, input, config, format, waves(i), waveTag(i), firstSeq + i)
    }
    val staged = scala.collection.mutable.ArrayBuffer.empty[CompletableFuture[Staged]]
    def launchUpTo(n: Int): Unit =
      while (staged.size < math.min(n, waves.size)) staged += launch(staged.size)
    var done = 0
    try {
      while (done < waves.size) {
        launchUpTo(done + 2)
        val wave = try staged(done).get() catch { case e: ExecutionException => throw e.getCause }
        commit(waves(done), firstSeq + done, wave)
        done += 1
        if (config.failAfterWave == firstWaveNo + done - 1)
          throw new RuntimeException(
            s"simulated kill after wave ${done - 1} (snapshot ${firstSeq + done - 1} committed)")
      }
    } catch {
      case t: Throwable =>
        var interrupted = false
        (done until staged.size).foreach { i =>
          // a job submitted after one cancel call is caught by the next
          while (!staged(i).isDone) {
            sc.cancelJobsWithTag(s"graft-${waveTag(i)}", "another wave of the run failed")
            try staged(i).get(50, TimeUnit.MILLISECONDS) catch {
              case _: InterruptedException => interrupted = true
              case _: Exception =>
            }
          }
          SnapshotManifestFormat.deleteRecursively(
            java.nio.file.Paths.get(s"${config.outDir}/staging-${waveTag(i)}"))
        }
        if (interrupted) Thread.currentThread().interrupt()
        throw t
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** A staged wave: staging dir, file entries, lineage rows. */
  private type Staged = (String, Vector[FileEntry], Vector[LineageRow])

  /** Extract one wave's input, stage the sorted per-bucket parquet output
    * under `staging-<waveTag>`, and return (stagingDir, file entries stamped
    * with `commitSeq`, lineage rows). Shared by the full-bucket waves and
    * the conv-grained delta stage (whose input is the changed-conversation
    * subset).
    */
  private[spark] def stageWave(spark: SparkSession, input: Dataset[TurnWithBucket], config: Config,
                        format: TableFormat, waveBuckets: Seq[Int], waveTag: String,
                        commitSeq: Int): Staged = {
    import spark.implicits._
    val t0 = System.nanoTime()
    // skew-aware compute shuffle: salted key, NOT conv_id
    val wave = input.repartition(spark.sessionState.conf.numShufflePartitions,
      saltKey(config.saltTurnsPerSplit))
    val extracted = wave.map { t =>
      val e = graft.extract.Extractor.extractTurn(t.text, t.tool)
      ExtractedTurnB(t.conv_id, t.turn_idx, e.formType, e.formSubtype, e.mainText, e.spans,
        e.fieldsJson, e.fieldCount, e.sectionCount, t.bucket)
    }
    // lineage metrics ride the write itself: observe() collects per-bucket
    // field sums exactly once during the write action (CollectMetrics is
    // retry-safe, unlike accumulators) — no post-write re-read of the data
    val obs = org.apache.spark.sql.Observation(waveTag)
    val fieldSumMetrics = waveBuckets.map(b =>
      sum(when(col("bucket") === b, col("field_count")).otherwise(lit(0L)))
        .as(s"fsum_$b"))
    // write-locality exchange: co-locate each bucket; the writer restores
    // key order and reads per-file row counts from the parquet footers
    val staging = s"${config.outDir}/staging-$waveTag"
    val observed = extracted
      .observe(obs, fieldSumMetrics.head, fieldSumMetrics.tail: _*)
      .repartition(waveBuckets.size, col("bucket"))
    val perFile = SnapshotManifestFormat.writeSortedBuckets(format, observed, staging)

    val extractMs = (System.nanoTime() - t0) / 1000000
    val fieldSums: Map[Int, Long] = waveBuckets.map { b =>
      // getOrElse: a zero-row wave (delete-only conv-grained delta) may
      // observe no metrics at all
      b -> (obs.get.getOrElse(s"fsum_$b", null) match {
        case null => 0L
        case n: Number => n.longValue()
      })
    }.toMap
    (staging, perFile.map(_.copy(seq = commitSeq)),
      SnapshotManifestFormat.bucketLineage(commitSeq, perFile, fieldSums, extractMs))
  }

  /** Conversation-grained incremental run (config.convGrained): per-conv
    * fingerprints are diffed against the sidecar recorded at the last
    * commit; a dirty bucket recomputes ONLY its changed conversations,
    * committed as an additive delta data file plus an equality delete file
    * (Iceberg merge-on-read). Surviving data files are untouched — neither
    * re-extracted nor rewritten. Never-committed buckets take the normal
    * full-wave path. The delta stage commits FIRST so a kill mid-run leaves
    * dirty buckets marked with their old fingerprints (still dirty on
    * resume) rather than silently clean.
    */
  private def runConvGrained(spark: SparkSession, turns: Dataset[Turn], config: Config,
                             format: TableFormat, acc: scala.collection.mutable.Set[Int]): Unit = {
    import spark.implicits._
    val convFps = convFingerprints(spark, turns, config.buckets).cache()
    try {
      val currentFps = bucketFpsFromConv(convFps)
      val man = format.readManifest(config.outDir)
      val verified = format.committedBuckets(config.outDir)
      val manFps = man.map(_.inputFps).getOrElse(Map.empty)
      // recorded fps from another formula are not comparable: treat every
      // verified bucket as dirty — the conversation-level diff then bounds
      // the actual re-extraction to genuinely changed conversations
      val fpModeOk = man.flatMap(_.fpMode).forall(_ == "conv")
      val dirty =
        if (fpModeOk) verified.toSeq.filter(b => manFps.get(b) != currentFps.get(b)).sorted
        else verified.toSeq.sorted
      val uncommitted = (0 until config.buckets).filterNot(verified.contains)
      if (dirty.isEmpty && uncommitted.isEmpty) return
      // WAP: a branch can only stage the (additive) delta commit — full
      // waves for never-committed buckets are replacing promotes and
      // would mutate the published table before the audit
      require(config.toBranch.isEmpty || uncommitted.isEmpty,
        s"cannot stage branch '${config.toBranch.get}': buckets " +
          s"${uncommitted.take(8).mkString(",")}${if (uncommitted.size > 8) ",…" else ""} " +
          "have no committed snapshot — branch staging requires a fully committed table")

      var snapshotId = format.latestSnapshot(config.outDir).getOrElse(-1)
      // Writer-unique artifact names: every PRE-COMMIT on-disk artifact
      // (conv-fp sidecar, equality-delete dir, staging dirs) carries this
      // run's token, so a concurrent writer computing the SAME next
      // snapshot id (a pending WAP branch, a racing scheduler retry)
      // can never overwrite it before the optimistic commit check settles
      // who wins. Losers' token-named orphans are swept by
      // removeOrphanFiles; the commit seq stays a parseable name prefix.
      val runToken = SnapshotManifestFormat.newRunToken()
      // this run's conv-fp sidecar; prior sidecars stay for older snapshots
      val newConvFpsDir = s"fp-${snapshotId + 1}-$runToken"
      StateDirs.write(convFps).mode(SaveMode.Overwrite)
        .parquet(s"${config.outDir}/conv_fps/$newConvFpsDir")

      var committed = verified
      // keep ALL verified buckets' files — dirty buckets' survivors stay
      var committedFiles: Vector[FileEntry] =
        man.map(_.files.filter(f => verified.contains(f.bucket))).getOrElse(Vector.empty)
      var fpsBase = if (fpModeOk) manFps else Map.empty[Int, Long]
      // tracked delete dirs carry through every commit (manifest-referenced,
      // like data files); the delta stage appends its new dir
      var deleteDirs: Vector[String] = man.map(_.deleteDirs).getOrElse(Vector.empty)
      val withBucket = turns.withColumn("bucket", bucketOf(config.buckets))
      val priorDir = man.flatMap(_.convFpsDir).map(d => s"${config.outDir}/conv_fps/$d")
        .filter(new java.io.File(_).isDirectory)
      // buckets whose rows the prior sidecar may not all list (see
      // UnlistedProp): without a sidecar, every bucket with data files
      var unlisted: Set[Int] =
        if (priorDir.isEmpty) committedFiles.map(_.bucket).toSet
        else SnapshotManifestFormat.unlistedBuckets(man)

      // ---- delta stage: changed conversations of dirty buckets ----
      if (dirty.nonEmpty) {
        val priorConvFps: DataFrame = priorDir match {
          case Some(d) => spark.read.parquet(d)
          case None => // no recorded sidecar: every conversation counts as changed
            spark.emptyDataset[(Int, String, Long)].toDF("bucket", "conv_id", "fp")
        }
        val cur = convFps.where(col("bucket").isin(dirty: _*))
          .select(col("bucket"), col("conv_id"), col("fp").as("cfp"))
        val pri = priorConvFps.where(col("bucket").isin(dirty: _*))
          .select(col("bucket"), col("conv_id"), col("fp").as("pfp"))
        // the prior sidecar does not describe every row of an unlisted
        // bucket, so each of its conversations counts as differing
        val differing = cur.join(pri, Seq("bucket", "conv_id"), "full_outer")
          .where(!(col("cfp") <=> col("pfp")) || col("bucket").isin(unlisted.toSeq: _*)).cache()
        val seq = snapshotId + 1
        // a conversation the prior sidecar does not list has an older row
        // to hide only in an unlisted bucket
        val hides = col("pfp").isNotNull || col("bucket").isin(unlisted.toSeq: _*)
        val Row(nDiff: Long, nDel: Long) =
          differing.agg(count(lit(1)), count(when(hides, lit(1)))).head()
        fpsBase = dirty.foldLeft(fpsBase) { (m, b) =>
          currentFps.get(b) match {
            case Some(fp) => m.updated(b, fp)
            case None => m - b
          }
        }
        val (staging, files, lineage) =
          if (nDiff > 0) {
            if (nDel > 0) {
              // equality delete file (the Iceberg MOR shape): rows for these
              // conversations in files with a LOWER seq are invisible to readers
              val delDir = s"snap-$seq-$runToken"
              StateDirs.write(differing.where(hides)
                .select(col("bucket"), col("conv_id"), lit(seq).as("seq")))
                .mode(SaveMode.Overwrite).parquet(s"${config.outDir}/deletes/$delDir")
              deleteDirs = deleteDirs :+ delDir
            }
            // recompute ONLY conversations that still exist with changed content
            val changedKeys = differing.where(col("cfp").isNotNull).select("bucket", "conv_id")
            val toRecompute = withBucket
              .join(changedKeys, Seq("bucket", "conv_id"), "left_semi").as[TurnWithBucket]
            stageWave(spark, toRecompute, config, format, dirty, s"delta-$seq-$runToken", seq)
          } else {
            // bucket fps were marked dirty but no conversation actually
            // differs (fp-formula re-baseline after mode mixing): commit the
            // refreshed fingerprints without writing deletes or data
            (s"${config.outDir}/staging-delta-$seq-$runToken", Vector.empty[FileEntry],
              Vector.empty[LineageRow])
          }
        differing.unpersist()

        snapshotId = seq
        committedFiles = committedFiles ++ files
        format.commitWave(config.outDir, staging, snapshotId, committed, committedFiles,
          lineage, fpsBase, additive = true, convFpsDir = Some(newConvFpsDir),
          deleteDirs = deleteDirs, fpMode = Some("conv"), bucketCount = Some(config.buckets),
          operation = "delta", props = SnapshotManifestFormat.unlistedProp(unlisted),
          toBranch = config.toBranch)
        acc ++= dirty
        // the failAfterWave hook counts the delta stage as wave 0
        if (config.failAfterWave == 0)
          throw new RuntimeException(s"simulated kill after delta (snapshot $snapshotId committed)")
      }

      // ---- full waves for never-committed buckets ----
      if (uncommitted.nonEmpty) {
        val waveSize = math.max(1, math.ceil(uncommitted.size.toDouble / config.waves).toInt)
        runWaves(spark, withBucket, config, format, uncommitted.grouped(waveSize).toVector,
            snapshotId + 1, runToken, firstWaveNo = if (dirty.nonEmpty) 1 else 0) {
          case (waveBuckets, seq, (staging, files, lineage)) =>
            committed = committed ++ waveBuckets
            committedFiles = committedFiles ++ files
            fpsBase = fpsBase ++ waveBuckets.flatMap(b => currentFps.get(b).map(b -> _))
            // the new sidecar lists every row a full wave writes
            unlisted = unlisted -- waveBuckets
            format.commitWave(config.outDir, staging, seq, committed, committedFiles,
              lineage, fpsBase, additive = false, convFpsDir = Some(newConvFpsDir),
              deleteDirs = deleteDirs, fpMode = Some("conv"), bucketCount = Some(config.buckets),
              operation = "append", // never-committed buckets: pure append
              props = SnapshotManifestFormat.unlistedProp(unlisted),
              schemaDdl = if (files.isEmpty) Some(stagedSchemaDdl) else None)
            acc ++= waveBuckets
        }
      }
      // auto-compaction policy: bound the accumulated MOR delete debt
      // (counted over the MANIFEST-tracked delete dirs — orphans don't
      // count). Skipped in branch mode: a rewrite landing while our own
      // branch pends would make that branch unpublishable (cherry-pick
      // refuses across rewrites) — it runs on the first post-publish
      // maintenance pass instead.
      if (config.autoCompactDeletes > 0 && deleteDirs.nonEmpty && config.toBranch.isEmpty) {
        // same loud policy as the read path: a MANIFEST-tracked delete dir
        // missing on disk is an integrity error, not something to skip over
        val paths = SnapshotManifestFormat.manifestDeleteDirs(config.outDir, deleteDirs)
        val nDeletes = spark.read.parquet(paths.map(_.toString): _*).count()
        if (nDeletes >= config.autoCompactDeletes) format.compact(spark, config.outDir)
      }
    } finally { convFps.unpersist(); () }
  }

  /** Sort-ordered file-split rewrite (Iceberg `rewrite_data_files` with a
    * sort strategy + target file size): rewrite every bucket as
    * (conv_id, turn_idx)-sorted runs split at `targetRowsPerFile`, so each
    * file's recorded conv_id footer bounds cover a DISJOINT slice of its
    * bucket and keyed reads prune INSIDE huge buckets, not just across
    * them. At 100 TB a bucket is tens of GB — without the split, a
    * point lookup that correctly plans one bucket still reads all of it;
    * after the split it reads ~targetRowsPerFile rows. Pending equality
    * deletes are applied by the rewrite (the source is the committed
    * view) and one replacing snapshot is committed. Returns the new
    * snapshot id. */
  def rewriteSorted(spark: SparkSession, outDir: String, targetRowsPerFile: Long): Int = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be positive, got $targetRowsPerFile")
    val fmt = SnapshotManifestFormat
    val man = fmt.readManifest(outDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $outDir"))
    val buckets = man.files.map(_.bucket).distinct
    if (buckets.isEmpty) return man.snapshotId
    fmt.rewriteBuckets(outDir, man, "sortrewrite", fmt.readCommitted(spark, outDir), buckets.size,
      kept = Seq.empty, additive = false,
      deleteDirs = Seq.empty, // applied by the rewrite
      maxRecordsPerFile = targetRowsPerFile)
  }

  /** Partition evolution (Iceberg's spec change, realized the only way a
    * hash-modulus layout can be: a full rewrite): re-hash every committed
    * row under a NEW bucket modulus and commit the result as one replacing
    * snapshot. A table bucketed at creation for 10^9 conversations stops
    * fitting after 100x growth — too few buckets means oversized delta
    * scans and skewed maintenance; this is the sanctioned modulus change.
    * Applies pending equality deletes in passing (the rewrite reads the
    * committed view). The conv-fp sidecar is rewritten under the new
    * modulus so conversation-grained diffing keeps working; recorded
    * bucket-mode input fingerprints are keyed by OLD bucket ids and are
    * dropped (the next fingerprinted run re-baselines). Incremental (CDC)
    * reads refuse across the rebucket like any replacing commit, and time
    * travel to pre-rebucket snapshots reports history loss once their
    * files are gone — both the established `compact` contracts. Returns
    * the new snapshot id; no-op when the modulus already matches. */
  def rebucket(spark: SparkSession, outDir: String, newBuckets: Int): Int = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    val fmt = SnapshotManifestFormat
    val man = fmt.readManifest(outDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $outDir"))
    if (man.bucketCount.contains(newBuckets)) return man.snapshotId
    val rehashed = fmt.readCommitted(spark, outDir)
      .drop("bucket")
      .withColumn("bucket", bucketOf(newBuckets))
    val runToken = fmt.newRunToken()
    val (newConvFpsDir, fps) = man.convFpsDir match {
      case Some(d) if new java.io.File(s"$outDir/conv_fps/$d").isDirectory =>
        val nd = s"fp-${man.snapshotId + 1}-$runToken"
        StateDirs.write(spark.read.parquet(s"$outDir/conv_fps/$d")
          .drop("bucket").withColumn("bucket", bucketOf(newBuckets))
          .select("bucket", "conv_id", "fp"))
          .mode(SaveMode.Overwrite).parquet(s"$outDir/conv_fps/$nd")
        (Some(nd), bucketFpsFromConv(spark.read.parquet(s"$outDir/conv_fps/$nd")))
      case _ => (None, Map.empty[Int, Long])
    }
    // rows the sidecar does not list may land in any new bucket
    val unlisted =
      if (fmt.unlistedBuckets(Some(man)).isEmpty) Set.empty[Int] else (0 until newBuckets).toSet
    // pending deletes are applied by the rewrite. Bucket dirs outside the
    // new modulus range are no longer promoted over; their files stay for
    // older manifests and are GC'd by expireSnapshots
    fmt.rewriteBuckets(outDir, man.copy(buckets = (0 until newBuckets).toSet, inputFps = fps,
        convFpsDir = newConvFpsDir, fpMode = if (newConvFpsDir.isDefined) Some("conv") else None,
        bucketCount = Some(newBuckets), props = man.props ++ fmt.unlistedProp(unlisted)),
      "rebucket", rehashed, newBuckets, kept = Seq.empty, additive = false,
      deleteDirs = Seq.empty, runToken = runToken)
  }

  /** Structural audit verdict for a staged branch (the "A" of
    * write-audit-publish). `ok` gates publish in an unattended pipeline.
    *
    * `schemaChanges` reports column adds/drops the publish would make vs
    * the current head ("+name type" / "-name type"); type changes are
    * refused at commit so add/drop is the whole space. `bucketRowDeltas`
    * reports per-bucket RAW file-row deltas vs head, computed from
    * manifest stats alone (Iceberg snapshot-summary style: zero data
    * scans, so it stays O(manifest) at 10^6 files) — MOR equality-deletes
    * are not netted out here; `rows` is the served post-MOR total.
    * Neither trips `ok` by itself: schema evolution and growth are
    * legitimate audited changes — the gate policy inspects them. */
  final case class AuditReport(branch: String, snapshotId: Int, rows: Long,
                               duplicateKeys: Long, nullSpecs: Long, intact: Boolean,
                               schemaChanges: Seq[String] = Nil,
                               bucketRowDeltas: Map[Int, Long] = Map.empty) {
    def ok: Boolean = intact && duplicateKeys == 0 && nullSpecs == 0
  }

  /** Audit a staged branch before publishing: the invariants every
    * servable extraction snapshot must hold —
    *  - (conv_id, turn_idx) key uniqueness AFTER MOR delete application
    *    (a duplicate means a delta landed without its equality delete:
    *    downstream consumers would double-count the turn),
    *  - no null/empty extraction payloads (`fields_json`),
    *  - file-level intactness (every manifest-tracked file present).
    * One distributed aggregation over the branch read; the intactness
    * sweep is driver-side and manifest-sized. */
  def auditBranch(spark: SparkSession, outDir: String, name: String): AuditReport = {
    val fmt = SnapshotManifestFormat
    val id = fmt.branches(outDir).getOrElse(name,
      throw new IllegalArgumentException(s"no branch '$name' on table $outDir"))
    val man = fmt.readBranchManifest(outDir, name).getOrElse(
      throw new IllegalStateException(
        s"branch '$name' points at snapshot $id but its staged manifest is missing under " +
          s"$outDir — a crashed publish/abandon; re-run abandonBranch to retire the ref"))
    // schema drift + row-count deltas vs the head come from MANIFESTS
    // only (driver-side, no data scan): what a production WAP gate
    // checks before paying for any read
    val headMan = fmt.readManifest(outDir)
    val schemaChanges: Seq[String] = headMan.toSeq.flatMap { h =>
      val bs = org.apache.spark.sql.types.StructType.fromDDL(man.schemaDdl)
      val hs = org.apache.spark.sql.types.StructType.fromDDL(h.schemaDdl)
      bs.fields.filterNot(f => hs.fieldNames.contains(f.name))
        .map(f => s"+${f.name} ${f.dataType.catalogString}") ++
        hs.fields.filterNot(f => bs.fieldNames.contains(f.name))
          .map(f => s"-${f.name} ${f.dataType.catalogString}")
    }
    def perBucketRows(m: Manifest): Map[Int, Long] =
      m.files.groupBy(_.bucket).view.mapValues(_.map(_.rowCount).sum).toMap
    val bRows = perBucketRows(man)
    val hRows = headMan.map(perBucketRows).getOrElse(Map.empty)
    val bucketRowDeltas = (bRows.keySet ++ hRows.keySet).iterator
      .map(b => b -> (bRows.getOrElse(b, 0L) - hRows.getOrElse(b, 0L)))
      .filter(_._2 != 0L).toMap
    // intactness FIRST: if the staged files are gone (a crashed abandon),
    // the audit must REPORT intact=false — running the distributed read
    // over missing files would crash with a raw read error instead of
    // the {ok:false} verdict the WAP pipeline gates on
    if (!fmt.snapshotIntact(outDir, man))
      return AuditReport(name, id, 0L, 0L, 0L, intact = false,
        schemaChanges = schemaChanges, bucketRowDeltas = bucketRowDeltas)
    val r = fmt.readCommittedAtBranch(spark, outDir, name).agg(
      count(lit(1)).as("rows"),
      (count(lit(1)) - countDistinct(col("conv_id"), col("turn_idx"))).as("dups"),
      count(when(col("fields_json").isNull || length(col("fields_json")) === 0, lit(1)))
        .as("nulls")).collect()(0)
    AuditReport(name, id, r.getLong(0), r.getLong(1), r.getLong(2),
      fmt.snapshotIntact(outDir, man),
      schemaChanges = schemaChanges, bucketRowDeltas = bucketRowDeltas)
  }
}

final case class TurnWithBucket(
    conv_id: String, turn_idx: Int, role: String, text: String, tool: String,
    ts: java.sql.Timestamp, bucket: Int)

final case class ExtractedTurnB(
    conv_id: String, turn_idx: Int, form_type: String, form_subtype: String, main_text: String,
    spans: Seq[graft.extract.Span], fields_json: String, field_count: Int,
    section_count: Int, bucket: Int)
