package graft.spark

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import ExtractionJob.{FileEntry, LineageRow, Manifest}

/** Structured Streaming surface (SURVEY.md §7.5): `readStream` over the
  * transcripts table, the same fused per-turn extraction, and a
  * `foreachBatch` sink into the snapshot-manifest table with
  * checkpointLocation and Trigger.AvailableNow. The checkpoint records
  * which input files were processed, so a killed run resumes from the last
  * committed micro-batch and never re-extracts a processed file.
  *
  * Both table sinks, this one and [[TableReplication]]'s, follow one sink
  * protocol: they drain through [[drainAvailableNow]] and commit through
  * [[commitSinkBatch]], which fences a replayed batch by its marker, stages
  * at the next seq and re-stages at the new head when it loses a commit
  * race. A sink supplies only its stage function.
  */
object StreamingExtraction {

  /** Exactly-once streaming ingestion into the snapshot-manifest TABLE
    * (Iceberg streaming-sink analog): each micro-batch is appended by
    * [[appendBatchToTable]] as one additive snapshot whose STICKY props
    * record the sink's marker (`stream.<sink>` -> batch id, the Delta
    * txn-map pattern), so a replayed micro-batch is skipped and the table
    * never double-appends.
    *
    * Sink identity is CHECKPOINT-SCOPED (a uuid persisted in the
    * checkpoint dir), because batch ids only mean anything relative to one
    * checkpoint's numbering: a recreated checkpoint renumbers from 0, and
    * keying on a static name would then silently skip every new batch.
    * With the scoped key a fresh checkpoint is a fresh sink — it reingests
    * the source from scratch (duplicating what the old sink wrote, the
    * standard Delta/Iceberg behavior) rather than losing data.
    *
    * Appends assume an append-only source (new turns, new files); a
    * correction feed should go through the batch job's conv-grained
    * merge-on-read path instead, which writes equality deletes.
    *
    * Returns total rows appended by this invocation (replayed/empty
    * batches contribute 0).
    */
  def runAvailableNowToTable(spark: SparkSession, inputDir: String, tableDir: String,
                             checkpointDir: String, buckets: Int = 8,
                             queryKey: String = "stream"): Long = {
    val sinkKey = s"$queryKey-${checkpointSinkId(checkpointDir)}"
    val turns = spark.readStream.schema(Encoders.product[Turn].schema).parquet(inputDir)
      .as[Turn](Encoders.product[Turn])
    drainAvailableNow(turns, checkpointDir)((batch, batchId) =>
      appendBatchToTable(spark, batch, batchId, tableDir, buckets, sinkKey, SnapshotManifestFormat))
  }

  /** Drain `rows` once (Trigger.AvailableNow) through `batch`, with the
    * engine's offset and commit logs under `checkpointDir`. Returns the sum
    * of what `batch` returned over the micro-batches. */
  private[spark] def drainAvailableNow[T](rows: Dataset[T], checkpointDir: String)(
      batch: (Dataset[T], Long) => Long): Long = {
    val total = new java.util.concurrent.atomic.LongAdder
    rows.writeStream
      .foreachBatch { (b: Dataset[T], batchId: Long) => total.add(batch(b, batchId)); () }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    total.sum()
  }

  /** The sink uuid bound to a checkpoint dir, created on first use. Batch
    * ids are only comparable within one checkpoint's numbering, so the
    * table marker must change identity exactly when the checkpoint does. */
  private[graft] def checkpointSinkId(checkpointDir: String): String = {
    val p = Paths.get(checkpointDir, "graft-sink-id")
    def readId() = new String(Files.readAllBytes(p), UTF_8).trim
    if (Files.exists(p)) readId()
    else {
      val id = java.util.UUID.randomUUID().toString
      Files.createDirectories(p.getParent)
      // the temp name must be PER-ATTEMPT unique: with a shared name, a
      // racing starter can overwrite this one's half-published id and the
      // file would then disagree with the id this call returns
      val tmp = p.resolveSibling(s"${p.getFileName}.$id.tmp")
      Files.write(tmp, id.getBytes(UTF_8))
      try {
        try Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { // plain move still fails if the target exists — good enough
          case _: java.nio.file.AtomicMoveNotSupportedException => Files.move(tmp, p)
        }
        id
      } catch { // another starter won the race: adopt its id
        case e: java.nio.file.FileSystemException =>
          Files.deleteIfExists(tmp)
          if (Files.exists(p)) readId() else throw e
      }
    }
  }

  /** Idempotent micro-batch append (the foreachBatch body): the batch
    * job's per-turn extraction, staged as sorted per-bucket parquet under
    * the table's recorded modulus (`buckets` only for a new table) and
    * committed through [[commitSinkBatch]]. Returns rows appended: 0 when
    * the batch id was already committed (a crash replay, or a zombie driver
    * on the same checkpoint) or the batch is empty. A commit lost to a
    * concurrent writer re-extracts and re-stages the batch at the new head,
    * once per lost race, as `ExtractionJob.run` re-plans a lost run.
    */
  def appendBatchToTable(spark: SparkSession, batch: Dataset[Turn], batchId: Long,
                         tableDir: String, buckets: Int, queryKey: String,
                         format: TableFormat): Long =
    commitSinkBatch(tableDir, batchId, queryKey, "stream", format) { attempt =>
      val eb = attempt.man.flatMap(_.bucketCount).getOrElse(buckets)
      val withBucket = batch
        .withColumn("bucket", ExtractionJob.bucketOf(eb))
        .as[TurnWithBucket](Encoders.product[TurnWithBucket])
      val (_, files, lineage) = ExtractionJob.stageWave(spark, withBucket,
        ExtractionJob.Config(outDir = tableDir, buckets = eb), format, 0 until eb,
        attempt.tag, attempt.seq)
      SinkStaged(files, lineage, Some(eb))
    }

  /** One attempt of a sink commit: the head manifest it stages against, the
    * seq it commits at, and its writer-unique names. The sink stages under
    * `<table>/staging-<tag>` (`tag` = `<kind>-<seq>-<runToken>`) and writes
    * delete keys, if any, to `<table>/deletes/<deleteDir>`. */
  private[spark] final case class SinkAttempt(man: Option[Manifest], seq: Int, tag: String,
                                              deleteDir: String)

  /** What a sink staged in one attempt: files and lineage stamped with its
    * seq, the modulus to record, and the delete keys it wrote (0: none). */
  private[spark] final case class SinkStaged(files: Vector[FileEntry], lineage: Seq[LineageRow],
                                             bucketCount: Option[Int], deletes: Long = 0L)

  /** The exactly-once micro-batch commit of both table sinks. Structured
    * Streaming may replay a micro-batch after a crash (commit landed,
    * checkpoint write did not), so each commit records the sink's marker,
    * `stream.<queryKey>` -> batch id, in the sticky props.
    *
    * Each attempt reads the head manifest and returns 0 when the marker
    * covers `batchId` (a crash replay, or a zombie driver on the same
    * checkpoint that raced the batch in). Otherwise it calls `stage` at the
    * next seq and commits one additive snapshot: the manifest's buckets,
    * files, fingerprints, sidecar, delete dirs and fp mode plus what was
    * staged, the marker, and the written buckets added to
    * `conv_fps.unlisted`. An empty stage commits nothing. A commit lost to
    * a concurrent writer drops the attempt's staging dir and its delete dir
    * (unless a retained manifest references it) and stages again at the
    * new head, at most twice, as the batch job's default `commitRetries`.
    * Returns rows staged plus delete keys. */
  private[spark] def commitSinkBatch(tableDir: String, batchId: Long, queryKey: String,
                                     kind: String, format: TableFormat)(
      stage: SinkAttempt => SinkStaged): Long =
    SnapshotManifestFormat.retrying(2) {
      val man = format.readManifest(tableDir)
      if (man.flatMap(_.props.get(s"stream.$queryKey")).exists(batchId <= _.toLong)) 0L
      else {
        val seq = man.map(_.snapshotId).getOrElse(-1) + 1
        val token = SnapshotManifestFormat.newRunToken()
        val attempt = SinkAttempt(man, seq, s"$kind-$seq-$token", s"snap-$seq-$token")
        val staging = s"$tableDir/staging-${attempt.tag}"
        val staged = stage(attempt)
        val deleteDir = Option.when(staged.deletes > 0)(attempt.deleteDir)
        def dropAttempt(): Unit = {
          StateDirs.deleteRecursively(Paths.get(staging))
          deleteDir.filterNot(d => SnapshotManifestFormat.retainedManifests(tableDir)
            .exists(_.deleteDirs.contains(d)))
            .foreach(d => StateDirs.deleteRecursively(Paths.get(tableDir, "deletes", d)))
        }
        if (staged.files.isEmpty && deleteDir.isEmpty) { dropAttempt(); 0L }
        else try {
          format.commitWave(tableDir, staging, seq,
            man.map(_.buckets).getOrElse(Set.empty) ++ staged.files.map(_.bucket),
            man.map(_.files).getOrElse(Vector.empty) ++ staged.files, staged.lineage,
            inputFps = man.map(_.inputFps).getOrElse(Map.empty), additive = true,
            convFpsDir = man.flatMap(_.convFpsDir),
            deleteDirs = man.map(_.deleteDirs).getOrElse(Vector.empty) ++ deleteDir,
            fpMode = man.flatMap(_.fpMode), bucketCount = staged.bucketCount,
            operation = if (deleteDir.isEmpty) "append" else "delta",
            props = Map(s"stream.$queryKey" -> batchId.toString) ++
              SnapshotManifestFormat.unlistedAfter(man, staged.files.map(_.bucket)))
          staged.files.map(_.rowCount).sum + staged.deletes
        } catch {
          case e: CommitConflictException => dropAttempt(); throw e
        }
      }
    }
}
