package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental table replication (the Delta deep-clone-with-CDF /
  * Iceberg replication analog): maintain an exact replica of a source
  * snapshot table in a second table directory by tailing the source's
  * change feed and committing each micro-batch as a merge-on-read delta —
  * equality deletes for the batch's retraction keys, additive data files
  * for its post-images, one snapshot per batch with the streaming sink's
  * exactly-once marker.
  *
  * The replica is a first-class table: snapshot-isolated reads, keyed
  * reads (it adopts the source's bucket layout verbatim, so pruning works
  * identically), time travel over its own history, compaction and expiry
  * all behave as on any table. Per-cycle work scales with the CHANGED
  * data, never with table size — the 100 TB replication shape.
  *
  * Crash safety is the sink contract: a replayed micro-batch (commit
  * landed, checkpoint write didn't) is fenced by the marker; a restart
  * resumes from the engine-checkpointed source offset. Replacing commits
  * upstream (compaction, rebucket, rollback) fail the stream with the
  * table format's distinct errors — re-baseline the replica from a fresh
  * checkpoint, the standard lakehouse CDC contract (the replica itself
  * may compact freely; its MOR state need not mirror the source's).
  */
object TableReplication {

  /** One AvailableNow replication pass: drain the source change feed into
    * the replica, committing one snapshot per micro-batch. Returns rows
    * applied (inserts + retraction keys); 0 when the replica is current.
    */
  def replicateAvailableNow(spark: SparkSession, srcDir: String, dstDir: String,
                            checkpointDir: String, queryKey: String = "replica"): Long = {
    // the source's recorded modulus is adopted verbatim (change-feed rows
    // carry their source bucket): keyed-read pruning on the replica is
    // then exactly as effective as on the source. A mid-stream rebucket
    // upstream is a replacing commit and fails the stream before any
    // mixed-modulus batch could commit.
    val srcBuckets = SnapshotManifestFormat.readManifest(srcDir).flatMap(_.bucketCount)
    val sinkKey = s"$queryKey-${StreamingExtraction.checkpointSinkId(checkpointDir)}"
    // re-baseline guard: a fresh checkpoint is a fresh sink whose first
    // batch is the FULL source snapshot — appended onto a replica that
    // already has content it would silently double every row. Refuse;
    // re-baselining after an upstream replacing commit means starting
    // with an empty replica dir (or resuming the original checkpoint).
    SnapshotManifestFormat.readManifest(dstDir).foreach { man =>
      require(man.files.isEmpty || man.props.contains(s"stream.$sinkKey"),
        s"replica $dstDir already has content but no marker for sink '$sinkKey' — " +
          "a fresh checkpoint would replay the full source snapshot on top of it; " +
          "re-baseline into an empty replica dir or resume the original checkpoint")
    }
    val applied = new java.util.concurrent.atomic.LongAdder
    val q = spark.readStream.format("graft-table")
      .option("changeFeed", "true").load(srcDir)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applied.add(replicateBatch(spark, batch, batchId, dstDir, sinkKey, srcBuckets))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    applied.sum()
  }

  /** Idempotent micro-batch apply (the foreachBatch body): split the
    * change-feed batch into retraction keys and post-image rows, write an
    * equality-delete file + staged delta files, commit one additive
    * snapshot. Same fencing as the extraction sink: marker comparison
    * skips crash replays; an optimistic-commit race re-plans commit
    * metadata (and re-stamps the delete file under the new seq) without
    * re-staging data. Returns rows applied. */
  def replicateBatch(spark: SparkSession, batch: Dataset[Row], batchId: Long,
                     dstDir: String, queryKey: String, srcBuckets: Option[Int]): Long = {
    val format = SnapshotManifestFormat
    val man0 = format.readManifest(dstDir)
    def marker(man: Option[ExtractionJob.Manifest]): Option[Long] =
      man.flatMap(_.props.get(s"stream.$queryKey")).map(_.toLong)
    if (marker(man0).exists(batchId <= _)) return 0L // crash replay: fenced
    // feed rows carry SOURCE buckets, and unlike the extraction sink this
    // one cannot re-stage under a different modulus (the source bucket
    // column is all it has) — a replica whose recorded modulus diverged
    // (e.g. an out-of-band --rebucket on the replica) must refuse, or
    // keyed-read pruning and MOR delete application would silently miss
    // rows bucketed under the old modulus
    man0.flatMap(_.bucketCount).foreach { rec =>
      require(srcBuckets.forall(_ == rec),
        s"replica $dstDir records bucket modulus $rec but the source uses " +
          s"${srcBuckets.getOrElse("(none)")} — a rebucketted replica cannot accept " +
          "source-bucketed change-feed rows; re-baseline it instead")
    }

    // one pass over the incoming batch: retraction keys (conv-grained,
    // bounded by the batch's changed conversations) and post-images into
    // sorted per-bucket staging — both written DISTRIBUTED; the driver
    // sees only counts and footer metadata. _change_type is dropped from
    // the stored rows — the replica stores table rows, not CDC rows.
    val cached = batch.cache()
    try {
      val delDf = cached.where(col("_change_type") === "delete")
        .select(col("bucket"), col("conv_id"))
      val nDel = delDf.count()
      val staging = s"$dstDir/staging-replica-$queryKey-$batchId"
      val inserts = cached.where(col("_change_type") === "insert").drop("_change_type")
        .repartition(col("bucket"))
      val files0 = SnapshotManifestFormat.writeSortedBuckets(format, inserts, staging)
      if (files0.isEmpty && nDel == 0L) {
        dropDir(staging)
        return 0L // empty batch: nothing to commit, nothing to fence
      }

      var attempt = 0
      var lastDeleteDir: Option[String] = None
      // writer-unique delete-dir names (snap-<seq>-<token>, the
      // ExtractionJob runToken convention): a concurrent writer computing
      // the same seq can never overwrite ours pre-commit. The
      // unreferenced-only drop stays as defense in depth — a name a
      // retained manifest tracks is never ours to delete.
      val runToken = SnapshotManifestFormat.newRunToken()
      def dropDeleteDirIfUnreferenced(name: String): Unit = {
        val referenced = format.retainedManifests(dstDir).exists(_.deleteDirs.contains(name))
        if (!referenced) dropDir(s"$dstDir/deletes/$name")
      }
      while (true) {
        val man = if (attempt == 0) man0 else format.readManifest(dstDir)
        if (attempt > 0 && marker(man).exists(batchId <= _)) { // zombie fence
          dropDir(staging); lastDeleteDir.foreach(dropDeleteDirIfUnreferenced)
          return 0L
        }
        val seq = man.map(_.snapshotId).getOrElse(-1) + 1
        // the delete file's name and seq column are commit-seq-stamped, so
        // a lost race rewrites it under the winner's successor seq
        val deleteDir = if (nDel == 0L) None else {
          val name = s"snap-$seq-$runToken"
          lastDeleteDir.filter(_ != name).foreach(dropDeleteDirIfUnreferenced)
          StateDirs.write(delDf.withColumn("seq", lit(seq)))
            .mode(SaveMode.Overwrite).parquet(s"$dstDir/deletes/$name")
          lastDeleteDir = Some(name)
          lastDeleteDir
        }
        val files = files0.map(_.copy(seq = seq))
        try {
          format.commitWave(dstDir, staging, seq,
            man.map(_.buckets).getOrElse(Set.empty) ++ files.map(_.bucket),
            man.map(_.files).getOrElse(Vector.empty) ++ files,
            lineage = Seq.empty,
            inputFps = man.map(_.inputFps).getOrElse(Map.empty),
            additive = true,
            convFpsDir = man.flatMap(_.convFpsDir),
            deleteDirs = man.map(_.deleteDirs).getOrElse(Vector.empty) ++ deleteDir,
            fpMode = man.flatMap(_.fpMode),
            bucketCount = man.flatMap(_.bucketCount).orElse(srcBuckets),
            operation = if (nDel == 0L) "append" else "delta",
            props = Map(s"stream.$queryKey" -> batchId.toString) ++
              SnapshotManifestFormat.unlistedAfter(man, files.map(_.bucket)))
          return files.map(_.rowCount).sum + nDel
        } catch {
          case e: CommitConflictException =>
            if (attempt >= 2) { // two retries, as the batch job's default `commitRetries`
              // leave nothing half-applied: the staged files and the
              // un-committed delete dir are orphans for removeOrphanFiles
              throw e
            }
            attempt += 1
        }
      }
      0L // unreachable
    } finally cached.unpersist()
  }

  private def dropDir(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) SnapshotManifestFormat.deleteRecursively(p)
  }
}
