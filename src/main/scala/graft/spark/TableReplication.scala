package graft.spark

import org.apache.spark.sql.{Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
  * Crash safety is the extraction sink's protocol
  * (`StreamingExtraction.commitSinkBatch`): the marker fences a replayed
  * micro-batch, a commit lost to a concurrent writer re-stages the batch at
  * the new head, and a restart resumes from the checkpointed source offset.
  * Replacing commits upstream (compaction, rebucket, rollback) fail the
  * stream with the table format's distinct errors — re-baseline the replica
  * from a fresh checkpoint, the standard lakehouse CDC contract (the replica
  * itself may compact freely; its MOR state need not mirror the source's).
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
    val feed = spark.readStream.format("graft-table").option("changeFeed", "true").load(srcDir)
    StreamingExtraction.drainAvailableNow(feed, checkpointDir)((batch, batchId) =>
      replicateBatch(spark, batch, batchId, dstDir, sinkKey, srcBuckets))
  }

  /** Idempotent micro-batch apply (the foreachBatch body): split the
    * change-feed batch into retraction keys and post-image rows, write an
    * equality-delete file + staged delta files, and commit them through
    * `StreamingExtraction.commitSinkBatch`: the marker skips crash replays,
    * and a commit lost to a concurrent writer re-stages the batch at the new
    * head from the feed, cached once. Returns inserts + retraction keys. */
  def replicateBatch(spark: SparkSession, batch: Dataset[Row], batchId: Long,
                     dstDir: String, queryKey: String, srcBuckets: Option[Int]): Long = {
    // retraction keys (bounded by the batch's changed conversations) and
    // post-images are written DISTRIBUTED; the driver sees only counts and
    // footer metadata. The replica stores table rows, not CDC rows.
    val cached = batch.cache()
    try {
      val delDf = cached.where(col("_change_type") === "delete")
        .select(col("bucket"), col("conv_id"))
      lazy val nDel = delDf.count()
      val inserts = cached.where(col("_change_type") === "insert").drop("_change_type")
        .repartition(col("bucket"))
      StreamingExtraction.commitSinkBatch(dstDir, batchId, queryKey, "replica",
          SnapshotManifestFormat) { attempt =>
        // feed rows carry SOURCE buckets: a replica whose recorded modulus
        // diverged (an out-of-band --rebucket) must refuse, or keyed reads
        // and MOR deletes would miss rows bucketed under the other modulus
        attempt.man.flatMap(_.bucketCount).foreach { rec =>
          require(srcBuckets.forall(_ == rec),
            s"replica $dstDir records bucket modulus $rec but the source uses " +
              s"${srcBuckets.getOrElse("(none)")} — a rebucketted replica cannot accept " +
              "source-bucketed change-feed rows; re-baseline it instead")
        }
        // the delete file's seq column gates merge-on-read: it hides rows of
        // files with a lower seq, so it carries this attempt's commit seq
        if (nDel > 0L)
          StateDirs.write(delDf.withColumn("seq", lit(attempt.seq)))
            .mode(SaveMode.Overwrite).parquet(s"$dstDir/deletes/${attempt.deleteDir}")
        val files = SnapshotManifestFormat.writeSortedBuckets(SnapshotManifestFormat, inserts,
          s"$dstDir/staging-${attempt.tag}").map(_.copy(seq = attempt.seq))
        StreamingExtraction.SinkStaged(files, Seq.empty,
          attempt.man.flatMap(_.bucketCount).orElse(srcBuckets), nDel)
      }
    } finally cached.unpersist()
  }
}
