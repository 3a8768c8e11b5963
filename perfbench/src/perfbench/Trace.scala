package perfbench

import graft.spark.{SnapshotManifestFormat, TableFormat}
import graft.spark.ExtractionJob.{FileEntry, LineageRow, Manifest}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One span: a timed call from the benchmark into a layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      runId: String) {
  def durNs: Long = endNs - startNs
}

/** Outside-in tracer: spans are opened by the benchmark around its calls
  * into each layer's public functions, kept in memory and written out when
  * the run ends. Disabled, `span` is a plain call. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized { spans += Span(id, parents.headOption.getOrElse(0), name, t0, t1, runId) }
      }
    }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Total duration of spans with this exact name, in ns. */
  def totalNs(name: String): Long = all.iterator.filter(_.name == name).map(_.durNs).sum

  /** Self time per span name: duration minus the part covered by its
    * children (children of one span run sequentially on its thread). */
  def selfNs: Map[String, Long] = {
    val ss = all
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0) childNs(s.parent) += s.durNs)
    ss.groupBy(_.name).view.mapValues(_.map(s => math.max(0L, s.durNs - childNs(s.id))).sum).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** A disabled tracer: `span` is a plain call. */
  val off = new Tracer("", enabled = false)
}

/** Stage and task numbers read through a benchmark-registered listener. */
final case class StageRec(stageId: Int, jobId: Int, name: String, details: String,
                          runMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
                          taskMs: Vector[Long])
final case class JobRec(jobId: Int, start: Long, end: Long, stageIds: Seq[Int])

final class StageListener extends SparkListener {

  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val jobs = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), i.name, i.details,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      taskMs.getOrElse(i.stageId, mutable.ArrayBuffer.empty[Long]).toVector)
  }

  def stagesSnapshot: Vector[StageRec] = synchronized(stages.toVector)
  def jobsSnapshot: Vector[JobRec] = synchronized(jobs.values.toVector.sortBy(_.jobId))
}

/** Delegating table format passed to `ExtractionJob.run` — the same seam the
  * job's own race-injection specs use. Times the commit, staging listing and
  * manifest reads, counts commits and lost commit races, and keeps the
  * `System.nanoTime` at which each commit returned. */
final class TracingFormat(tracer: Tracer, prefix: String = "") extends TableFormat {
  private val inner: TableFormat = SnapshotManifestFormat
  var commits = 0
  var conflicts = 0
  val commitEndNs = mutable.ArrayBuffer.empty[Long]

  private def t[A](name: String)(f: => A): A = tracer.span(prefix + name)(f)

  def latestSnapshot(outDir: String) = t("table.manifest_read")(inner.latestSnapshot(outDir))
  def readManifest(outDir: String) = t("table.manifest_read")(inner.readManifest(outDir))
  def committedBuckets(outDir: String) = t("table.manifest_read")(inner.committedBuckets(outDir))
  def readManifestAt(outDir: String, k: Int) = t("table.manifest_read")(inner.readManifestAt(outDir, k))
  def listStagedFiles(s: SparkSession, staging: String) =
    t("table.list_staged")(inner.listStagedFiles(s, staging))
  def commitWave(outDir: String, staging: String, snapshotId: Int,
                 buckets: Set[Int], files: Seq[FileEntry], lineage: Seq[LineageRow],
                 inputFps: Map[Int, Long], additive: Boolean,
                 convFpsDir: Option[String], deleteDirs: Seq[String],
                 fpMode: Option[String], bucketCount: Option[Int],
                 operation: String, props: Map[String, String],
                 schemaDdl: Option[String], toBranch: Option[String]): Unit =
    t("table.commit") {
      try {
        inner.commitWave(outDir, staging, snapshotId, buckets, files, lineage, inputFps,
          additive, convFpsDir, deleteDirs, fpMode, bucketCount, operation, props,
          schemaDdl, toBranch)
        commits += 1
        commitEndNs += System.nanoTime()
      } catch {
        case e: graft.spark.CommitConflictException => conflicts += 1; throw e
      }
    }
  def readCommitted(s: SparkSession, outDir: String) = inner.readCommitted(s, outDir)
  override def readCommittedForConvs(s: SparkSession, outDir: String, ids: Seq[String]): DataFrame =
    inner.readCommittedForConvs(s, outDir, ids)
  def readCommittedAsOf(s: SparkSession, outDir: String, k: Int) = inner.readCommittedAsOf(s, outDir, k)
  def readAppendsBetween(s: SparkSession, outDir: String, from: Int, to: Int) =
    inner.readAppendsBetween(s, outDir, from, to)
  def readDeleteKeysBetween(s: SparkSession, outDir: String, from: Int, to: Int) =
    inner.readDeleteKeysBetween(s, outDir, from, to)
  def snapshotAsOfTimestamp(outDir: String, ts: Long) = inner.snapshotAsOfTimestamp(outDir, ts)
  def compact(s: SparkSession, outDir: String) = inner.compact(s, outDir)
  def expireSnapshots(outDir: String, retainLast: Int) = inner.expireSnapshots(outDir, retainLast)
  def removeOrphanFiles(outDir: String, olderThanMs: Long) = inner.removeOrphanFiles(outDir, olderThanMs)
  def branches(outDir: String) = inner.branches(outDir)
  def publishBranch(outDir: String, name: String) = inner.publishBranch(outDir, name)
  override def publishBranch(s: SparkSession, outDir: String, name: String) =
    inner.publishBranch(s, outDir, name)
  def abandonBranch(outDir: String, name: String) = inner.abandonBranch(outDir, name)
  def expireBranches(outDir: String, olderThanMs: Long) = inner.expireBranches(outDir, olderThanMs)
  def readCommittedAtBranch(s: SparkSession, outDir: String, name: String) =
    inner.readCommittedAtBranch(s, outDir, name)
  override def snapshotIntact(outDir: String, man: Manifest) = inner.snapshotIntact(outDir, man)
}
