package graft

import org.apache.spark.sql.SparkSession
import graft.spark.{SnapshotManifestFormat, TableFormat}
import graft.spark.ExtractionJob.{FileEntry, LineageRow, Manifest}

/** A table format that forwards every member to `inner`. The race-injection
  * specs extend it and override only `commitWave`. */
class ForwardingFormat(inner: TableFormat = SnapshotManifestFormat) extends TableFormat {
  def latestSnapshot(outDir: String) = inner.latestSnapshot(outDir)
  def readManifest(outDir: String) = inner.readManifest(outDir)
  def committedBuckets(outDir: String) = inner.committedBuckets(outDir)
  def readManifestAt(outDir: String, k: Int) = inner.readManifestAt(outDir, k)
  def listStagedFiles(s: SparkSession, staging: String) = inner.listStagedFiles(s, staging)
  def commitWave(outDir: String, staging: String, snapshotId: Int,
                 buckets: Set[Int], files: Seq[FileEntry], lineage: Seq[LineageRow],
                 inputFps: Map[Int, Long], additive: Boolean,
                 convFpsDir: Option[String], deleteDirs: Seq[String],
                 fpMode: Option[String], bucketCount: Option[Int],
                 operation: String, props: Map[String, String],
                 schemaDdl: Option[String], toBranch: Option[String]): Unit =
    inner.commitWave(outDir, staging, snapshotId, buckets, files, lineage, inputFps,
      additive, convFpsDir, deleteDirs, fpMode, bucketCount, operation, props,
      schemaDdl, toBranch)
  def readCommitted(s: SparkSession, outDir: String) = inner.readCommitted(s, outDir)
  def readCommittedForConvs(s: SparkSession, outDir: String, ids: Seq[String]) =
    inner.readCommittedForConvs(s, outDir, ids)
  def readCommittedAsOf(s: SparkSession, outDir: String, k: Int) =
    inner.readCommittedAsOf(s, outDir, k)
  def readAppendsBetween(s: SparkSession, outDir: String, from: Int, to: Int) =
    inner.readAppendsBetween(s, outDir, from, to)
  def readDeleteKeysBetween(s: SparkSession, outDir: String, from: Int, to: Int) =
    inner.readDeleteKeysBetween(s, outDir, from, to)
  def snapshotAsOfTimestamp(outDir: String, ts: Long) = inner.snapshotAsOfTimestamp(outDir, ts)
  def compact(s: SparkSession, outDir: String) = inner.compact(s, outDir)
  def expireSnapshots(outDir: String, retainLast: Int) = inner.expireSnapshots(outDir, retainLast)
  def removeOrphanFiles(outDir: String, olderThanMs: Long) =
    inner.removeOrphanFiles(outDir, olderThanMs)
  def branches(outDir: String) = inner.branches(outDir)
  def publishBranch(outDir: String, name: String) = inner.publishBranch(outDir, name)
  def publishBranch(s: SparkSession, outDir: String, name: String) =
    inner.publishBranch(s, outDir, name)
  def abandonBranch(outDir: String, name: String) = inner.abandonBranch(outDir, name)
  def expireBranches(outDir: String, olderThanMs: Long) = inner.expireBranches(outDir, olderThanMs)
  def readCommittedAtBranch(s: SparkSession, outDir: String, name: String) =
    inner.readCommittedAtBranch(s, outDir, name)
  def snapshotIntact(outDir: String, man: Manifest) = inner.snapshotIntact(outDir, man)
}
