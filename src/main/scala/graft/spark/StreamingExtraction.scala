package graft.spark

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface (SURVEY.md §7.5): `readStream` over the
  * transcripts table, the same fused per-turn extraction, and a
  * `foreachBatch` sink into the snapshot-manifest table with
  * checkpointLocation and Trigger.AvailableNow. The checkpoint records
  * which input files were processed, so a killed run resumes from the last
  * committed micro-batch and never re-extracts a processed file.
  */
object StreamingExtraction {

  /** Exactly-once streaming ingestion into the snapshot-manifest TABLE
    * (Iceberg streaming-sink analog). Each micro-batch runs the same fused
    * per-turn extraction, stages sorted per-bucket parquet, and commits one
    * additive snapshot whose manifest records the sink's exactly-once
    * marker (`stream.<sink>` -> batch id) in the STICKY commit props —
    * the Delta txn-map / Iceberg snapshot-summary pattern. Structured
    * Streaming's contract is that a micro-batch may be REPLAYED after a
    * crash (commit succeeded, checkpoint write didn't); the replay is
    * detected by comparing the incoming batch id against the committed
    * marker and skipped, so the table never double-appends — end-to-end
    * exactly-once on top of an at-least-once replay. Because props are
    * sticky and the latest manifest is always retained, the marker
    * survives maintenance commits AND snapshot expiry.
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
    val appended = new java.util.concurrent.atomic.LongAdder
    val turns = spark.readStream
      .schema(Encoders.product[Turn].schema)
      .parquet(inputDir)
      .as[Turn](Encoders.product[Turn])
    val q = turns.writeStream
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        appended.add(appendBatchToTable(spark, batch, batchId, tableDir, buckets, sinkKey,
          SnapshotManifestFormat))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    appended.sum()
  }

  /** The sink uuid bound to a checkpoint dir, created on first use. Batch
    * ids are only comparable within one checkpoint's numbering, so the
    * table marker must change identity exactly when the checkpoint does. */
  private[graft] def checkpointSinkId(checkpointDir: String): String = {
    val p = java.nio.file.Paths.get(checkpointDir, "graft-sink-id")
    def readId() = new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim
    if (java.nio.file.Files.exists(p)) readId()
    else {
      val id = java.util.UUID.randomUUID().toString
      java.nio.file.Files.createDirectories(p.getParent)
      // the temp name must be PER-ATTEMPT unique: with a shared name, a
      // racing starter can overwrite this one's half-published id and the
      // file would then disagree with the id this call returns
      val tmp = p.resolveSibling(s"${p.getFileName}.$id.tmp")
      java.nio.file.Files.write(tmp, id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try {
        try java.nio.file.Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { // plain move still fails if the target exists — good enough
          case _: java.nio.file.AtomicMoveNotSupportedException =>
            java.nio.file.Files.move(tmp, p)
        }
        id
      } catch { // another starter won the race: adopt its id
        case e: java.nio.file.FileSystemException =>
          java.nio.file.Files.deleteIfExists(tmp)
          if (java.nio.file.Files.exists(p)) readId() else throw e
      }
    }
  }

  /** Highest micro-batch id sink `queryKey` has committed to the table:
    * the `stream.<queryKey>` marker in the latest manifest's sticky props.
    * One driver-side manifest read; no history walk, so expiry cannot
    * erase the marker (the latest manifest always survives retention). */
  def lastCommittedBatch(tableDir: String, queryKey: String, format: TableFormat): Option[Long] =
    markerOf(format.readManifest(tableDir), queryKey)

  private def markerOf(man: Option[ExtractionJob.Manifest], queryKey: String): Option[Long] =
    man.flatMap(_.props.get(s"stream.$queryKey")).map(_.toLong)

  /** Idempotent micro-batch append (the foreachBatch body). Returns rows
    * appended — 0 when the batch id was already committed (crash replay) or
    * the batch is empty. Extraction + staging happen once; only the commit
    * metadata is re-planned when an optimistic race is lost to a concurrent
    * maintenance writer (compaction, expiry bookkeeping). Two exceptions
    * re-do work: a racing FIRST commit that fixed a different bucket
    * modulus forces a re-stage under the winner's modulus (mixed moduli in
    * one table would break keyed-read pruning and MOR delete application),
    * and a racing commit that advanced this sink's own marker past
    * `batchId` (a zombie driver on the same checkpoint) turns the append
    * into a no-op instead of a double-append.
    */
  def appendBatchToTable(spark: SparkSession, batch: Dataset[Turn], batchId: Long,
                         tableDir: String, buckets: Int, queryKey: String,
                         format: TableFormat): Long = {
    val man0 = format.readManifest(tableDir)
    markerOf(man0, queryKey) match {
      case Some(maxId) if batchId <= maxId => return 0L // replayed batch: already in the table
      case _ =>
    }
    def stageFor(eb: Int, provisionalSeq: Int) = {
      val withBucket = batch
        .withColumn("bucket", ExtractionJob.bucketOf(eb))
        .as[TurnWithBucket](Encoders.product[TurnWithBucket])
      val cfg = ExtractionJob.Config(outDir = tableDir, buckets = eb)
      ExtractionJob.stageWave(spark, withBucket, cfg, format, 0 until eb,
        s"stream-$queryKey-$batchId", provisionalSeq)
    }
    def dropStaging(dir: String): Unit = {
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) SnapshotManifestFormat.deleteRecursively(root)
    }
    var effBuckets = man0.flatMap(_.bucketCount).getOrElse(buckets)
    var (staging, files0, lineage0) = stageFor(effBuckets, man0.map(_.snapshotId).getOrElse(-1) + 1)
    if (files0.isEmpty) { // empty batch: nothing to commit, nothing to replay
      dropStaging(staging)
      return 0L
    }
    var attempt = 0
    while (true) {
      val man = if (attempt == 0) man0 else format.readManifest(tableDir)
      // a zombie driver on the same checkpoint may have raced this batch in
      if (attempt > 0 && markerOf(man, queryKey).exists(batchId <= _)) {
        dropStaging(staging)
        return 0L
      }
      // a racing first commit may have fixed a DIFFERENT modulus: the staged
      // files are bucketed wrong for this table now — re-stage, don't mix
      val recorded = man.flatMap(_.bucketCount)
      if (recorded.exists(_ != effBuckets)) {
        dropStaging(staging)
        effBuckets = recorded.get
        val re = stageFor(effBuckets, man.map(_.snapshotId).getOrElse(-1) + 1)
        staging = re._1; files0 = re._2; lineage0 = re._3
      }
      // seq stamps gate merge-on-read delete application (a delete hides
      // only files with lower seq), so appended files must carry the REAL
      // snapshot id — re-stamped here in case a racing commit moved it
      val snapshotId = man.map(_.snapshotId).getOrElse(-1) + 1
      val files = files0.map(_.copy(seq = snapshotId))
      val lineage = lineage0.map(_.copy(snapshot_id = snapshotId))
      try {
        format.commitWave(tableDir, staging, snapshotId,
          man.map(_.buckets).getOrElse(Set.empty) ++ files.map(_.bucket),
          man.map(_.files).getOrElse(Vector.empty) ++ files, lineage,
          inputFps = man.map(_.inputFps).getOrElse(Map.empty),
          additive = true,
          convFpsDir = man.flatMap(_.convFpsDir),
          deleteDirs = man.map(_.deleteDirs).getOrElse(Vector.empty),
          fpMode = man.flatMap(_.fpMode),
          bucketCount = Some(effBuckets),
          operation = "append",
          props = Map(s"stream.$queryKey" -> batchId.toString) ++
            SnapshotManifestFormat.unlistedAfter(man, files.map(_.bucket)))
        return files.map(_.rowCount).sum
      } catch {
        // two retries, as the batch job's default `commitRetries`
        case _: CommitConflictException if attempt < 2 => attempt += 1
      }
    }
    0L // unreachable
  }
}
