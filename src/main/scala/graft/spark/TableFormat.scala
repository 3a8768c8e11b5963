package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.model.{JArr, JBool, JInt, JObj, JStr, Json}
import ExtractionJob.{FileEntry, LineageRow, Manifest}

/** Optimistic-concurrency conflict: the table advanced past the snapshot
  * this commit was computed against (another writer committed first). The
  * losing commit leaves the table unchanged — nothing was promoted. The
  * caller may recompute against the new state and retry, exactly like
  * Iceberg's CommitFailedException.
  */
final class CommitConflictException(msg: String,
                                     /** False for conflicts that re-validating cannot clear
                                       * (cherry-pick bucket overlap, rewritten base files,
                                       * divergent schema/modulus): re-running the same
                                       * validation re-pays its Spark scans to throw the same
                                       * error, so retry loops must propagate these at once. */
                                     val retryable: Boolean = true)
  extends RuntimeException(msg)

/** The table seam: what `ExtractionJob.run` and
  * `StreamingExtraction.appendBatchToTable` take as their `format`. The
  * race-injection specs substitute a delegating format here to land a
  * concurrent commit inside a run, and perfbench's `TracingFormat` does to
  * time commits, staging listings and manifest reads. Its member set is
  * exactly what `TracingFormat` forwards, and no member has a body, so a
  * delegator cannot answer differently from the real format. The one
  * implementation is the file-based snapshot-manifest protocol,
  * [[SnapshotManifestFormat]], which also holds the operations no
  * substitute needs: tags, rollback, metadata tables, table properties.
  */
trait TableFormat {

  /** Current snapshot id, if any commit exists. */
  def latestSnapshot(outDir: String): Option[Int]

  /** Parsed manifest of the latest snapshot. */
  def readManifest(outDir: String): Option[Manifest]

  /** Buckets whose committed state is VERIFIED (manifest entry + every
    * listed data file present). */
  def committedBuckets(outDir: String): Set[Int]

  /** Per-file (bucket, relative path, row count) for a staged wave, row
    * counts from file metadata (no data re-read). */
  def listStagedFiles(spark: SparkSession, staging: String): Seq[FileEntry]

  /** Promote the staged wave into the table and atomically commit snapshot
    * `snapshotId` carrying the cumulative committed buckets/files, the
    * wave's lineage rows and (optionally) input fingerprints. `additive`
    * promotes delta files INTO existing bucket dirs (merge-on-read commit)
    * instead of replacing them; `convFpsDir` records the conv-fingerprint
    * sidecar that matches `inputFps`. `props` are STICKY table properties
    * (Iceberg table-properties / Delta txn-map analog): the new manifest
    * carries the previous manifest's props with this commit's entries laid
    * over them, so a marker (e.g. a streaming sink's last batch id)
    * survives unrelated commits AND snapshot expiry — the latest manifest
    * is always authoritative. Committing a key with an EMPTY value retires
    * it (tombstone), which is how a decommissioned sink's marker is removed
    * so props cannot grow without bound. */
  def commitWave(outDir: String, staging: String, snapshotId: Int,
                 buckets: Set[Int], files: Seq[FileEntry], lineage: Seq[LineageRow],
                 inputFps: Map[Int, Long], additive: Boolean = false,
                 convFpsDir: Option[String] = None,
                 deleteDirs: Seq[String] = Seq.empty,
                 fpMode: Option[String] = None,
                 bucketCount: Option[Int] = None,
                 operation: String = "append",
                 props: Map[String, String] = Map.empty,
                 // explicit snapshot-schema override (DDL): rollback passes
                 // the TARGET snapshot's schema so a rollback across a
                 // schema change restores the schema too; None = derive
                 // from staged footers or carry the previous one sticky
                 schemaDdl: Option[String] = None,
                 // write-audit-publish (Iceberg WAP analog): stage the
                 // snapshot under a named branch ref instead of advancing
                 // the table head — readers see nothing until
                 // publishBranch. Branch commits must be ADDITIVE (a
                 // replacing promote would rewrite published bucket dirs
                 // before the audit). The staged manifest lives at a
                 // branch-scoped path, so pending branches freeze NOTHING:
                 // head commits, maintenance, and other branches proceed
                 // concurrently, and publish cherry-picks onto the
                 // then-current head with conflict validation.
                 toBranch: Option[String] = None): Unit

  /** Snapshot-isolated read: exactly the files of the latest committed
    * manifest (promoted-but-uncommitted data is invisible). */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame

  /** Keyed read — rows of exactly the requested conversations (Iceberg
    * data-skipping analog), with manifest files pruned via the recorded
    * bucket modulus and per-file conv_id bounds. */
  def readCommittedForConvs(spark: SparkSession, outDir: String,
                            convIds: Seq[String]): DataFrame

  /** Manifest of a specific snapshot (time travel). */
  def readManifestAt(outDir: String, snapshotId: Int): Option[Manifest]

  /** Incremental append scan (Iceberg incremental-read analog): the rows
    * ADDED in the snapshot range (fromSnapshot, toSnapshot], with the
    * range's own equality deletes applied seq-aware, so a conversation
    * changed twice in the range surfaces only its latest post-image. At
    * 10^12-turn scale this is how downstream consumers keep up with the
    * table — each cycle processes the delta, never a full re-scan.
    * Refuses across both "rewrite" (compaction/binpack/rebucket — files
    * physically rewritten) and "replace" (full-bucket recompute /
    * rollback — content changed) commits, since added-rows semantics are
    * undefined across either, and reports expired history distinctly
    * from corruption. */
  def readAppendsBetween(spark: SparkSession, outDir: String,
                         fromSnapshot: Int, toSnapshot: Int): DataFrame

  /** The upsert keys (bucket, conv_id) whose content changed in the range
    * (fromSnapshot, toSnapshot]: re-extracted or removed conversations
    * that had committed rows, from the range's equality delete files (a
    * conversation new to the table only appends). CDC
    * consumption = delete these keys downstream, then apply
    * readAppendsBetween's rows. Same range validation as appends. */
  def readDeleteKeysBetween(spark: SparkSession, outDir: String,
                            fromSnapshot: Int, toSnapshot: Int): DataFrame

  /** Snapshot-isolated read AS OF `snapshotId` (time travel). Valid while
    * that snapshot's data files still exist: additive (merge-on-read)
    * commits preserve older files, so conv-grained history is readable
    * until a replacing commit (full-bucket recompute or compaction)
    * rewrites a bucket — the same contract as Iceberg after
    * expire_snapshots/GC. */
  def readCommittedAsOf(spark: SparkSession, outDir: String, snapshotId: Int): DataFrame

  /** Time travel by TIMESTAMP (Iceberg `FOR SYSTEM_TIME AS OF` analog):
    * the snapshot the table served at `tsMillis` — the highest snapshot
    * id whose recorded commit instant is at or before it. Snapshot ids
    * are committed serially (the CAS), so id order IS commit order; the
    * recorded instants assume commit-side clocks sane to within the
    * gap between commits, the same contract Iceberg's timestamp travel
    * carries. Throws when no snapshot is old enough. */
  def snapshotAsOfTimestamp(outDir: String, tsMillis: Long): Int

  /** Merge-on-read maintenance (Iceberg rewrite_data_files): rewrite the
    * buckets carrying equality deletes into clean sorted files and commit a
    * snapshot whose manifest references only the rewritten files (no delete
    * dirs). Applied delete files stay on disk while older manifests still
    * reference them — time travel to intermediate snapshots keeps working —
    * and are GC'd by expireSnapshots, mirroring Iceberg's
    * rewrite_data_files / expire_snapshots split. Returns the rewritten
    * buckets. */
  def compact(spark: SparkSession, outDir: String): Set[Int]

  /** Snapshot expiry (Iceberg expire_snapshots): drop manifests + lineage
    * older than the `retainLast` most recent snapshots and garbage-collect
    * data files and conv-fp sidecars no retained manifest references.
    * Time travel remains valid for retained snapshots only. Returns
    * (expired snapshot count, deleted data file count). */
  def expireSnapshots(outDir: String, retainLast: Int): (Int, Int)

  /** Orphan-file cleanup (Iceberg remove_orphan_files): delete files under
    * the table directory that NO on-disk manifest references and that are
    * older than `olderThanMs` — crashed-run staging dirs, data files
    * promoted by a commit that never landed its manifest, delete dirs
    * written by a run that lost its optimistic commit race, unreferenced
    * conv-fp sidecars. The age threshold is the concurrency guard: an
    * in-flight writer's files are newer than any sane threshold, so the
    * sweep never races a live commit (the same contract as Iceberg's
    * `older_than`, default 3 days). Unlike expireSnapshots this retires
    * nothing a manifest references — table reads and time travel are
    * unaffected. */
  def removeOrphanFiles(outDir: String, olderThanMs: Long): OrphanSweep

  /** Branch refs on the table: name -> staged snapshot id (the id the
    * stage was computed against + 1; the id it PUBLISHES at may be higher
    * when the head has moved since). A ref whose staged manifest is gone
    * and whose id is at or below the head is a publish-crash remnant that
    * the next publishBranch/abandonBranch call retires. Any number of
    * branches may pend concurrently, and the table stays fully writable
    * while they do (the Iceberg branch model). */
  def branches(outDir: String): Map[String, Int]

  /** Make branch `name`'s staged snapshot the table head (the WAP
    * "publish" step) and retire the ref. With an unmoved head this is a
    * metadata-only fast-forward; when commits landed since the stage it
    * REFUSES (the cherry-pick merge needs a SparkSession — use the
    * `publishBranch(spark, ...)` overload). Refuses if the staged
    * snapshot's files have gone missing (a crashed abandon). Idempotent
    * across a publish crash. Returns the published snapshot id. */
  def publishBranch(outDir: String, name: String): Int

  /** Publish with cherry-pick support: when the head moved since the
    * stage, the staged delta is re-bound onto the current head (head + 1)
    * after validating that every intervening commit is content-additive
    * (no rewrite/replace) and touches buckets DISJOINT from the branch's —
    * the partition-granular conflict detection of Iceberg's
    * cherrypick_snapshot. On conflict, throws CommitConflictException:
    * abandon and re-stage against the new head. The sidecar/delete-dir
    * merge is a batch-bounded Spark job, never a table rewrite. */
  def publishBranch(spark: SparkSession, outDir: String, name: String): Int

  /** Drop branch `name` without publishing: delete the staged snapshot's
    * manifest, lineage, and every data file / delete dir / conv-fp sidecar
    * that ONLY the branch references, then retire the ref. The published
    * table is untouched. Safe to re-run after a crash (the ref is removed
    * last). */
  def abandonBranch(outDir: String, name: String): Unit

  /** Branch retention (Iceberg branch max-ref-age analog): abandon every
    * pending branch whose STAGE instant is older than `olderThanMs` — a
    * stage that was never audited/published within its TTL is an
    * abandoned experiment holding GC hostage (its staged files pin
    * expireSnapshots/removeOrphanFiles). Branches without a recorded
    * stage instant are left alone (their age is unknowable). Returns the
    * abandoned branch names, sorted. */
  def expireBranches(outDir: String, olderThanMs: Long): Seq[String]

  /** Snapshot-isolated read of branch `name`'s staged snapshot — the
    * "audit" read of write-audit-publish, served with full MOR delete
    * application exactly as the table would read AFTER publish. */
  def readCommittedAtBranch(spark: SparkSession, outDir: String, name: String): DataFrame

  /** True when every data file and tracked delete dir of `man` still
    * exists — the same sweep time travel performs, exposed so rollback can
    * refuse before committing a manifest that references rewritten or
    * GC'd files. */
  def snapshotIntact(outDir: String, man: Manifest): Boolean
}

/** One row of the `$snapshots` metadata table. */
final case class SnapshotMetaRow(snapshot_id: Int, operation: String,
                                 committed_at: String, file_count: Int,
                                 row_count: Long, bucket_count: Int,
                                 delete_dir_count: Int, is_current: Boolean,
                                 tags: Seq[String],
                                 // top-level column names of the snapshot's
                                 // recorded schema
                                 schema_cols: Seq[String])

/** One row of the `$files` metadata table. */
final case class FileMetaRow(snapshot_id: Int, bucket: Int, path: String,
                             row_count: Long, seq: Int,
                             min_conv: Option[String], max_conv: Option[String])

/** One row of the `$partitions` metadata table: the per-bucket health
  * summary a maintenance planner reads to decide compact/binpack targets. */
final case class PartitionMetaRow(bucket: Int, file_count: Int, row_count: Long,
                                  small_files: Int, min_file_rows: Long,
                                  max_file_rows: Long, delete_rows: Long)

/** What removeOrphanFiles deleted, by orphan class. */
final case class OrphanSweep(stagingDirs: Int, dataFiles: Int,
                             deleteDirs: Int, convFpDirs: Int) {
  def total: Int = stagingDirs + dataFiles + deleteDirs + convFpDirs
}

/** The thin file-based snapshot-manifest protocol (no Iceberg jar ships in
  * /opt/spark/jars):
  *
  *   out/data/bucket=B/part-....parquet  committed data, sorted by (conv_id, turn_idx)
  *   out/lineage/lineage-K.json       per-bucket lineage rows for snapshot K
  *   out/snapshots/snap-K.json        manifest: cumulative committed buckets
  *                                    + exact data files with row counts
  *   out/snapshots/_latest            current snapshot id (atomic rename)
  */
object SnapshotManifestFormat extends TableFormat {

  override def latestSnapshot(outDir: String): Option[Int] = {
    val p = Paths.get(outDir, "snapshots", "_latest")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt)
    else None
  }

  /** The one reader of table metadata (manifests, lineage files, publish
    * intents): the file parsed into a Jackson tree, refusing duplicate keys
    * and trailing text. Any parse failure is one IllegalStateException
    * naming the file. The writers render through `Json.renderCompact`. */
  private def readMeta(path: Path): Meta = {
    val root =
      try metaMapper.readTree(path.toFile)
      catch { case e: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalStateException(
          s"metadata file $path does not parse as JSON: ${e.getOriginalMessage}", e)
      }
    if (root == null || root.isMissingNode)
      throw new IllegalStateException(s"metadata file $path is empty")
    Meta(path, root)
  }

  private lazy val metaMapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** A node of a parsed metadata file. Typed reads refuse a missing key or a
    * value of the wrong JSON type with an IllegalStateException naming the
    * file, like a parse failure. */
  private final case class Meta(path: Path, node: com.fasterxml.jackson.databind.JsonNode) {
    private def fail(what: String): Nothing =
      throw new IllegalStateException(s"metadata file $path is malformed: $what")
    def opt(key: String): Option[Meta] =
      if (node.isObject) Option(node.get(key)).map(Meta(path, _)) else None
    def apply(key: String): Meta = opt(key).getOrElse(fail(s"no '$key' in $node"))
    def str: String = if (node.isTextual) node.textValue else fail(s"$node is not a string")
    def long: Long =
      if (node.isIntegralNumber && node.canConvertToLong) node.longValue
      else fail(s"$node is not an integer")
    def int: Int =
      if (node.isIntegralNumber && node.canConvertToInt) node.intValue
      else fail(s"$node is not an int")
    def bool: Boolean = if (node.isBoolean) node.booleanValue else fail(s"$node is not a boolean")
    def items: Vector[Meta] =
      if (node.isArray) node.elements.asScala.map(Meta(path, _)).toVector
      else fail(s"$node is not an array")
    def fields: Vector[(String, Meta)] =
      if (node.isObject) node.properties.asScala.map(e => e.getKey -> Meta(path, e.getValue)).toVector
      else fail(s"$node is not an object")
  }

  /** Parse the latest committed manifest. */
  override def readManifest(outDir: String): Option[Manifest] =
    latestSnapshot(outDir).flatMap(readManifestAt(outDir, _))

  override def readManifestAt(outDir: String, k: Int): Option[Manifest] = {
    val p = Paths.get(outDir, "snapshots", s"snap-$k.json")
    if (!Files.exists(p)) return None
    Some(parseManifest(readMeta(p), k))
  }

  /** A pending branch's staged manifest, written at the branch-scoped path
    * `snapshots/snap-branch-<name>.json` — NEVER `snap-<id>.json`, so a
    * staged branch cannot collide with any other commit's manifest file
    * and the table needs no freeze while branches are pending. Its
    * embedded snapshot_id is the id the stage was computed against + 1
    * (the base is snapshotId - 1); publish re-binds it to the then-current
    * head + 1 (cherry-pick) when the head has moved. */
  private[spark] def readBranchManifest(outDir: String, name: String): Option[Manifest] = {
    val p = branchManifestPath(outDir, name)
    if (!Files.exists(p)) return None
    val m = readMeta(p)
    Some(parseManifest(m, m("snapshot_id").int))
  }

  private[spark] def branchManifestPath(outDir: String, name: String): Path =
    Paths.get(outDir, "snapshots", s"snap-branch-$name.json")

  private[spark] def branchLineagePath(outDir: String, name: String): Path =
    Paths.get(outDir, "lineage", s"lineage-branch-$name.json")

  /** Publish-intent marker: written atomically just before a publish
    * attempt's commitWave, naming the snapshot id it will commit and the
    * ATTEMPT-UNIQUE artifact names that commit carries (run-token-stamped
    * delete dirs / sidecar dir / writer-unique data-file part names).
    * Resume logic verifies those names are live in the committed manifest
    * — a FAILED attempt's marker can never validate against someone
    * else's snapshot — making every publish crash window detectable,
    * including the delete-only cherry-pick (whose committed artifacts are
    * re-stamped COPIES that no other check can tie back to the branch).
    * Deleted LAST in retirement (after the ref), so the ref-gone window
    * still resolves; staging a branch name clears any stale marker. */
  private[graft] def publishIntentPath(outDir: String, name: String): Path =
    Paths.get(outDir, "snapshots", s"publish-intent-$name.json")

  private[graft] case class PublishIntent(n: Int, cherryPick: Boolean,
                                   deleteDirs: Vector[String], fpDir: Option[String],
                                   filePaths: Vector[String]) {
    /** A marker with no attempt-unique artifact names could validate
      * against ANY manifest; such stages don't need the marker anyway. */
    def verifiable: Boolean = deleteDirs.nonEmpty || fpDir.isDefined || filePaths.nonEmpty
  }

  private def writePublishIntent(outDir: String, name: String, in: PublishIntent): Unit =
    atomicWrite(publishIntentPath(outDir, name), Json.renderCompact(JObj(
      Vector("snapshot_id" -> JInt(in.n), "cherry_pick" -> JBool(in.cherryPick),
        "delete_dirs" -> strArr(in.deleteDirs)) ++
        in.fpDir.map(f => "conv_fps_dir" -> JStr(f)) :+
        ("files" -> strArr(in.filePaths)))))

  private[graft] def readPublishIntent(outDir: String, name: String): Option[PublishIntent] = {
    val p = publishIntentPath(outDir, name)
    if (!Files.exists(p)) return None
    val m = readMeta(p)
    Some(PublishIntent(m("snapshot_id").int, m("cherry_pick").bool,
      m("delete_dirs").items.map(_.str), m.opt("conv_fps_dir").map(_.str),
      m("files").items.map(_.str)))
  }

  private def strArr(xs: Seq[String]): JArr = JArr(xs.map(JStr).toVector)

  /** Fault injection for specs ONLY: when set, the next publish attempt
    * throws immediately after its commitWave returns and before any
    * retirement — the worst crash window (committed but unretired), which
    * the intent-marker resume path must recover from. One-shot: the
    * injection resets itself. */
  @volatile private[graft] var testCrashAfterPublishCommit: Boolean = false
  private def maybeTestCrash(): Unit =
    if (testCrashAfterPublishCommit) {
      testCrashAfterPublishCommit = false
      throw new IllegalStateException(
        "injected test crash: publish committed, retirement skipped")
    }

  /** True when the marker's attempt-unique artifacts are live at its
    * snapshot — i.e. that publish attempt COMMITTED. */
  private def intentLanded(outDir: String, in: PublishIntent): Boolean =
    in.verifiable && latestSnapshot(outDir).exists(_ >= in.n) &&
      readManifestAt(outDir, in.n).exists { mm =>
        val dirs = mm.deleteDirs.toSet
        val paths = mm.files.map(_.path).toSet
        in.deleteDirs.forall(dirs) && in.filePaths.forall(paths) &&
          in.fpDir.forall(f => mm.convFpsDir.contains(f))
      }

  /** Pending branches: name -> staged manifest. A ref without a staged
    * manifest is a crashed stage/publish/abandon remnant, resolved by
    * abandonBranch. */
  private[spark] def pendingBranchManifests(outDir: String): Map[String, Manifest] =
    branches(outDir).keys.flatMap(n => readBranchManifest(outDir, n).map(n -> _)).toMap

  /** The one manifest format, exactly what [[commitWave]] writes: one
    * compact JSON object with these keys, in this order:
    *
    *   snapshot_id        int                    required
    *   committed_buckets  [int]                  required
    *   operation          string                 required: append | delta | rewrite | replace | props
    *   schema             string (Spark DDL)     required: the table schema at this snapshot
    *   props              object of strings      only when sticky table properties are set
    *   bucket_count       int                    only when the committer knows the hash modulus
    *   delete_dirs        [string snap-S-<tok>]  required, possibly empty
    *   fp_mode            "conv" | "bucket"      only when input fingerprints carry a mode
    *   conv_fps           string fp-S-<tok>      only when a conv-fingerprint sidecar exists
    *   input_fps          [object bucket, fp]    only when bucket fingerprints are recorded
    *   files              [object bucket, path, row_count, seq, min_conv, max_conv]
    *                                             required, possibly empty; the conv_id
    *                                             bounds only when the footer has stats
    *   committed_at       string (ISO-8601)      required, always the last key
    *
    * A manifest lacking a required key was written in an older layout and
    * is refused with one IllegalStateException naming the file: older
    * layouts are not migrated. The snapshot id comes from the file name
    * (branch manifests: from `snapshot_id`). */
  private def parseManifest(m: Meta, k: Int): Manifest = {
    val missing = Seq("committed_buckets", "operation", "schema", "delete_dirs", "files",
      "committed_at").filter(m.opt(_).isEmpty)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"manifest ${m.path} lacks required key(s) ${missing.mkString(", ")}: it was written " +
          "in an older table layout, which is refused — older layouts are not migrated")
    Manifest(k, m("committed_buckets").items.map(_.int).toSet,
      m("files").items.map(f => FileEntry(f("bucket").int, f("path").str, f("row_count").long,
        seq = f("seq").int, minConv = f.opt("min_conv").map(_.str),
        maxConv = f.opt("max_conv").map(_.str))),
      inputFps = m.opt("input_fps").toVector.flatMap(_.items)
        .map(e => e("bucket").int -> e("fp").long).toMap,
      convFpsDir = m.opt("conv_fps").map(_.str),
      deleteDirs = m("delete_dirs").items.map(_.str),
      fpMode = m.opt("fp_mode").map(_.str),
      bucketCount = m.opt("bucket_count").map(_.int),
      operation = m("operation").str,
      props = m.opt("props").toVector.flatMap(_.fields).map { case (key, v) => key -> v.str }.toMap,
      committedAt = m("committed_at").str,
      schemaDdl = m("schema").str)
  }

  /** Committed = listed in the manifest AND every listed data file for the
    * bucket is still present on disk. A bucket whose files were lost is
    * treated as uncommitted and recomputed on resume. Buckets with zero
    * rows legitimately list no files. */
  override def committedBuckets(outDir: String): Set[Int] = readManifest(outDir) match {
    case None => Set.empty
    case Some(man) =>
      val dataDir = Paths.get(outDir, "data")
      val byBucket = man.files.groupBy(_.bucket)
      man.buckets.filter { b =>
        byBucket.getOrElse(b, Vector.empty).forall(f => Files.exists(dataDir.resolve(f.path)))
      }
  }

  /** Materialized directory listing — closes the underlying Files.list
    * stream (each open stream holds a directory fd; long-running drivers
    * commit many waves).
    */
  private[spark] def listDir(dir: Path): Vector[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** Recursive delete, deepest-first, quiet when the root is already gone:
    * every caller is a GC/retirement path documented as re-runnable after
    * a crash, so a prior (completed) attempt having removed the tree is
    * success, not an error. One shared implementation (StateDirs) so the
    * quirks can never diverge between the table format and the
    * incremental-state operators. */
  private[spark] def deleteRecursively(root: Path): Unit =
    StateDirs.deleteRecursively(root)

  /** A staged/committed parquet DATA file (not a marker or hidden file) —
    * the one filter both the commit's file listing and its schema read use. */
  private[spark] def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** Row counts come from each parquet file's FOOTER metadata — a
    * driver-side read of a few KB per file instead of a second scan of the
    * wave's data. File count per wave is bounded by the write's partition
    * count, so the driver-side loop is manifest-sized (the same loop a real
    * Iceberg commit performs when it collects DataFile stats).
    */
  override def listStagedFiles(spark: SparkSession, staging: String): Seq[FileEntry] = {
    val stagingPath = Paths.get(staging)
    if (!Files.isDirectory(stagingPath)) return Seq.empty
    listDir(stagingPath)
      .filter(p => p.getFileName.toString.startsWith("bucket="))
      .flatMap { bucketDir =>
        val bucket = bucketDir.getFileName.toString.stripPrefix("bucket=").toInt
        listDir(bucketDir)
          .filter(f => isDataFile(f.getFileName.toString))
          .map { f =>
            val reader = StateDirs.openFooter(f)
            val (rows, minConv, maxConv) = try {
              // conv_id bounds from the same footer read as the row count —
              // every row group must carry stats or the bounds are unusable
              // (a statless group could hold any conversation)
              var mn: String = null
              var mx: String = null
              var ok = true
              reader.getFooter.getBlocks.asScala.foreach { b =>
                b.getColumns.asScala.find(_.getPath.toDotString == "conv_id") match {
                  case Some(c) =>
                    val st = c.getStatistics
                    if (st == null || st.isEmpty || !st.hasNonNullValue) ok = false
                    else {
                      val lo = st.genericGetMin match {
                        case bin: org.apache.parquet.io.api.Binary => bin.toStringUsingUTF8
                        case o => String.valueOf(o)
                      }
                      val hi = st.genericGetMax match {
                        case bin: org.apache.parquet.io.api.Binary => bin.toStringUsingUTF8
                        case o => String.valueOf(o)
                      }
                      if (mn == null || lo < mn) mn = lo
                      if (mx == null || hi > mx) mx = hi
                    }
                  case None => ok = false
                }
              }
              (reader.getRecordCount,
                if (ok && mn != null) Some(mn) else None,
                if (ok && mx != null) Some(mx) else None)
            } finally reader.close()
            FileEntry(bucket, s"bucket=$bucket/${f.getFileName}", rows,
              minConv = minConv, maxConv = maxConv)
          }
      }
      .toVector.sortBy(f => (f.bucket, f.path))
  }

  /** Parquet footer -> Spark StructType, for recording the committed wave's
    * schema in the manifest. Default flags (binary=UTF8 string off is fine:
    * our writers always annotate strings) match what a fresh session infers. */
  private lazy val parquetSchemaConverter =
    new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter()

  private def atomicWrite(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Refuse sticky props the table cannot hold, before anything is
    * written: [[commitWave]] checks every commit, and JobMain checks its
    * --set-prop arguments before it runs. Outside the ref.* namespace keys
    * and values are free strings: the manifest stores them as a nested JSON
    * object that cannot shadow a manifest field. */
  private[graft] def requireValidProps(props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      // the ref.* namespace is reserved for snapshot tags: a free-form
      // value written via setTableProps would wedge every later tags()/
      // expireSnapshots call, so validate at WRITE time (empty = tombstone;
      // <=9 digits keeps toInt safe)
      if (k.startsWith("ref.")) {
        require(v.isEmpty || v.matches("\\d{1,9}"),
          s"'$k' is in the reserved tag namespace; its value must be a snapshot id, got: '$v'")
        require(k.stripPrefix("ref.").matches("[A-Za-z0-9._-]+"),
          s"invalid tag name in prop key '$k'")
      }
    }

  override def commitWave(outDir: String, staging: String, snapshotId: Int,
                          buckets: Set[Int], files: Seq[FileEntry], lineage: Seq[LineageRow],
                          inputFps: Map[Int, Long], additive: Boolean = false,
                          convFpsDir: Option[String] = None,
                          deleteDirs: Seq[String] = Seq.empty,
                          fpMode: Option[String] = None,
                          bucketCount: Option[Int] = None,
                          operation: String = "append",
                          props: Map[String, String] = Map.empty,
                          schemaDdl: Option[String] = None,
                          toBranch: Option[String] = None): Unit = {
    requireValidProps(props)
    // Optimistic-concurrency precondition (Iceberg's commit re-check): the
    // commit was computed against snapshot `snapshotId - 1`; if `_latest`
    // has moved past that, another writer won the race — refuse BEFORE
    // promoting anything, so the loser's table state is untouched and no
    // manifest ever references its staged files. The atomic `_latest`
    // rename below is the swap; a real catalog's compare-and-swap would
    // close the residual window between this check and that rename.
    val current = latestSnapshot(outDir)
    val expectedBase = if (snapshotId > 0) Some(snapshotId - 1) else None
    if (current != expectedBase)
      throw new CommitConflictException(
        s"commit of snapshot $snapshotId computed against ${expectedBase.getOrElse("<none>")} " +
          s"but table is at ${current.getOrElse("<none>")} under $outDir — another writer committed first")
    // Branch staging is branch-scoped: a staged manifest lives at
    // snap-branch-<name>.json (+ lineage-branch-<name>.json), which no
    // other commit ever writes — so a pending branch freezes NOTHING.
    // Head commits, maintenance, and any number of OTHER branches proceed
    // while branches pend; publishBranch cherry-picks the staged delta
    // onto the then-current head with conflict validation (the Iceberg
    // WAP/branch shape). The one refusal is re-staging a name that is
    // already pending (publish or abandon it first — a branch holds
    // exactly one staged snapshot).
    toBranch.foreach { name =>
      require(name.matches("[A-Za-z0-9._-]+") && !name.endsWith(".tmp"),
        s"invalid branch name: '$name'") // .tmp is atomicWrite's staging suffix
      require(additive,
        s"branch commit '$name' must be additive (merge-on-read): a replacing " +
          "promote would rewrite published bucket dirs before the audit")
      if (readBranchManifest(outDir, name).isDefined)
        throw new CommitConflictException(
          s"cannot stage branch '$name' at snapshot $snapshotId under $outDir: " +
            "the branch already holds a staged snapshot — publish or abandon it first")
    }
    val prevMan = readManifest(outDir)
    // sticky table properties: every commit carries the previous manifest's
    // props forward with this commit's entries laid over them, so markers
    // like a streaming sink's last batch id survive maintenance commits and
    // snapshot expiry (only the LATEST manifest need exist to read them).
    // An EMPTY value is a tombstone — it retires the key, the only way a
    // sticky key ever leaves the table (Delta's txn-retention analog).
    val effProps = (prevMan.map(_.props).getOrElse(Map.empty) ++ props)
      .filter(_._2.nonEmpty)
    // Snapshot-scoped table schema (Iceberg schema-evolution analog, the
    // add/drop subset expressible without field ids): the schema of THIS
    // commit is the staged wave's file schema — read from ONE footer,
    // driver-side — falling back sticky to the previous snapshot's when the
    // commit stages no files (maintenance, delete-only, fp-rebaseline). A
    // first commit without files must pass `schemaDdl`: every manifest
    // records a schema.
    // Reads pin the scan to the manifest's schema, so older files null-fill
    // added columns and project away dropped ones; time travel serves each
    // snapshot under ITS schema. A same-named column changing TYPE is not
    // expressible this way (the pinned scan would fail on old files) and is
    // refused here, before anything is promoted. Re-ADDING a dropped name
    // with a different type slips past this guard (the name is absent from
    // the immediately previous schema) but cannot corrupt data: the pinned
    // scan fails LOUDLY on the first old file still carrying the old type.
    // Closing that inch for real needs Iceberg field ids.
    val stagedSchema: Option[org.apache.spark.sql.types.StructType] = {
      val stagingPath = Paths.get(staging)
      if (!Files.isDirectory(stagingPath)) None
      else listDir(stagingPath).sortBy(_.toString)
        .filter(p => p.getFileName.toString.startsWith("bucket="))
        .iterator
        .flatMap(b => listDir(b).sortBy(_.toString)
          .filter(f => isDataFile(f.getFileName.toString)))
        .nextOption()
        .map { f =>
          val reader = StateDirs.openFooter(f)
          try parquetSchemaConverter.convert(reader.getFooter.getFileMetaData.getSchema)
          finally reader.close()
        }
    }
    val prevSchema = prevMan.map(m => org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
    for (nw <- stagedSchema; pv <- prevSchema; f <- nw.fields) {
      pv.fields.find(_.name == f.name).foreach { p =>
        // catalogString compare = structural type equality ignoring
        // nullability (writers legitimately differ on nullable flags)
        require(p.dataType.catalogString == f.dataType.catalogString,
          s"schema evolution supports column add/drop only: '${f.name}' would change " +
            s"type ${p.dataType.catalogString} -> ${f.dataType.catalogString}")
      }
    }
    val effSchemaDdl = schemaDdl.orElse(stagedSchema.map(_.toDDL))
      .orElse(prevMan.map(_.schemaDdl)).getOrElse(throw new IllegalArgumentException(
        s"commit of snapshot $snapshotId under $outDir has no schema: it stages no data " +
          "files, passes no schemaDdl and has no previous snapshot to carry one from"))
    // promote staged bucket dirs into data/ then commit the snapshot
    val dataDir = Paths.get(outDir, "data")
    Files.createDirectories(dataDir)
    if (Files.isDirectory(Paths.get(staging))) {
      listDir(Paths.get(staging))
        .filter(p => p.getFileName.toString.startsWith("bucket="))
        .foreach { p =>
          val target = dataDir.resolve(p.getFileName.toString)
          if (additive) {
            // merge-on-read delta promote: move the staged FILES into the
            // existing bucket dir (part names carry a job UUID, no clashes)
            Files.createDirectories(target)
            listDir(p).foreach(f => Files.move(f, target.resolve(f.getFileName)))
            Files.delete(p)
          } else {
            if (Files.exists(target)) { // only possible on dirty staging replay
              deleteRecursively(target)
            }
            Files.move(p, target)
          }
        }
      deleteRecursively(Paths.get(staging))
    }

    // one row per line, so a lineage file reads and diffs by line
    val lineageJson = lineage.sortBy(_.bucket).map { r =>
      Json.renderCompact(JObj.of("snapshot_id" -> JInt(r.snapshot_id), "bucket" -> JInt(r.bucket),
        "row_count" -> JInt(r.row_count), "field_count_sum" -> JInt(r.field_count_sum),
        "extract_ms" -> JInt(r.extract_ms), "committed_at" -> JStr(r.committed_at)))
    }.mkString("[\n", ",\n", "\n]")
    // branch stages write lineage at the branch-scoped path too — a head
    // commit may legitimately land at this same id while the branch pends,
    // and publish re-stamps the rows to the published id anyway
    atomicWrite(toBranch.map(branchLineagePath(outDir, _))
      .getOrElse(Paths.get(outDir, "lineage", s"lineage-$snapshotId.json")), lineageJson)
    // ordered by what the commit sequence fixes; the path, which carries a
    // random part-file UUID, only breaks ties
    val fileEntries = files.toVector.sortBy(f => (f.bucket, f.seq, f.minConv, f.path)).map { f =>
      val bounds = (f.minConv, f.maxConv) match {
        case (Some(lo), Some(hi)) => Vector("min_conv" -> JStr(lo), "max_conv" -> JStr(hi))
        case _ => Vector.empty
      }
      JObj(Vector("bucket" -> JInt(f.bucket), "path" -> JStr(f.path),
        "row_count" -> JInt(f.rowCount), "seq" -> JInt(f.seq)) ++ bounds)
    }
    val manifest = Json.renderCompact(JObj(
      Vector("snapshot_id" -> JInt(snapshotId),
        "committed_buckets" -> JArr(buckets.toVector.sorted.map(b => JInt(b))),
        "operation" -> JStr(operation), "schema" -> JStr(effSchemaDdl)) ++
        Option.when(effProps.nonEmpty)("props" ->
          JObj(effProps.toVector.sorted.map { case (k, v) => k -> JStr(v) })) ++
        bucketCount.map(n => "bucket_count" -> JInt(n)) ++
        Vector("delete_dirs" -> strArr(deleteDirs.sorted)) ++
        fpMode.map(m => "fp_mode" -> JStr(m)) ++
        convFpsDir.map(d => "conv_fps" -> JStr(d)) ++
        Option.when(inputFps.nonEmpty)("input_fps" -> JArr(inputFps.toVector.sorted.map {
          case (b, fp) => JObj.of("bucket" -> JInt(b), "fp" -> JInt(fp)) })) ++
        Vector("files" -> JArr(fileEntries),
          "committed_at" -> JStr(java.time.Instant.now().toString))))
    val manPath = toBranch.map(branchManifestPath(outDir, _))
      .getOrElse(Paths.get(outDir, "snapshots", s"snap-$snapshotId.json"))
    // Post-write overwrite check: the freeze/CAS reads above are
    // check-then-act, so two writers that both passed them can both have
    // written snap-<id>.json — last write wins the file. Re-reading it
    // after our pointer write detects the clobber (manifests embed a
    // commit timestamp, so two writers' bytes always differ) and turns a
    // would-be silent data loss into a CommitConflictException. A real
    // catalog's compare-and-swap would close the remaining tiny window
    // between this read and the loser's cleanup.
    def manifestClobbered(): Boolean =
      new String(Files.readAllBytes(manPath), StandardCharsets.UTF_8) != manifest
    // _latest recheck: a concurrent publishBranch (or a racing commit that
    // completed) moves `_latest` WITHOUT touching snap files, so the
    // manifest-clobber check alone cannot see it — the last manifest
    // writer reads back its own bytes and both callers would ack. Re-read
    // the head both immediately before the manifest write (so the common
    // publish-vs-commit interleaving fails BEFORE clobbering the
    // just-published branch manifest) and after it (so the residual
    // window is a loud conflict, never a silent double-ack). Only a real
    // catalog compare-and-swap removes the window entirely.
    def requireBaseUnmoved(context: String): Unit = {
      val now = latestSnapshot(outDir)
      if (now != expectedBase)
        throw new CommitConflictException(
          s"commit of snapshot $snapshotId under $outDir lost a concurrent race ($context): " +
            s"table head moved from ${expectedBase.getOrElse("<none>")} to ${now.getOrElse("<none>")}")
    }
    SnapshotManifestFormat.commitRaceHook()
    // Recovery may only undo state it can PROVE is its own: two racing
    // head writers write byte-identical pointer content for the same id,
    // so a blind restore/delete would revert the WINNER's already-
    // acknowledged commit. The branch ref therefore carries a
    // writer-unique token; the head pointer is never rolled back.
    toBranch match {
      // branch commit: manifest + lineage live at branch-scoped paths,
      // the table head does NOT move, and nothing is frozen — only the
      // branch ref points at the staged snapshot until publishBranch.
      // The sole race left is TWO STAGERS OF THE SAME NAME (or a
      // concurrent publish/abandon of this name): ref-first ordering +
      // post-write re-reads turn every such interleaving into a loud
      // CommitConflictException.
      case Some(name) =>
        val ref = Paths.get(outDir, "snapshots", s"branch-$name")
        val refContent = s"$snapshotId ${newRunToken()}"
        // delete the ref only if it is still OURS — a same-name stager
        // that won the race owns the current ref bytes
        def dropOwnRef(): Unit =
          if (Files.exists(ref) &&
              new String(Files.readAllBytes(ref), StandardCharsets.UTF_8) == refContent)
            Files.deleteIfExists(ref) // our staged data is orphaned, not served
        def refIsOurs(): Boolean =
          Files.exists(ref) &&
            new String(Files.readAllBytes(ref), StandardCharsets.UTF_8) == refContent
        // Ref BEFORE manifest: a ref with a missing branch manifest is the
        // crashed-abandon/crashed-publish remnant shape (abandonBranch
        // retires it; publishBranch reports it), so crashing between the
        // two writes is safe, and a same-name racer becomes visible to
        // the pending check no later than its manifest bytes land.
        // a stale publish-intent marker from a RETIRED same-name branch
        // must not outlive into this stage: its old attempt-unique names
        // can still be live in retained history and would short-circuit
        // this stage's future publish to the old snapshot id
        Files.deleteIfExists(publishIntentPath(outDir, name))
        atomicWrite(ref, refContent)
        atomicWrite(manPath, manifest)
        if (manifestClobbered() || !refIsOurs()) {
          dropOwnRef()
          throw new CommitConflictException(
            s"branch '$name' lost a concurrent same-name race for snapshot $snapshotId " +
              s"under $outDir: another writer overwrote the staged manifest or ref")
        }
      case None =>
        requireBaseUnmoved("concurrent publish/commit before manifest write")
        atomicWrite(manPath, manifest)
        // a concurrent publishBranch targets this same snapshot id (a
        // publish IS a head commit): if one landed between the CAS and
        // this point, our manifest write just clobbered the published
        // manifest and writing the head would byte-match the publisher's
        // write, acking BOTH callers. Refuse before touching the head.
        requireBaseUnmoved("concurrent publish/commit after manifest write")
        val head = Paths.get(outDir, "snapshots", "_latest")
        atomicWrite(head, snapshotId.toString)
        // the manifest winner can only be another HEAD writer (branch
        // stagers write branch-scoped files), whose head bytes are
        // identical to ours: the head is already correct for the winner
        if (manifestClobbered())
          throw new CommitConflictException(
            s"commit of snapshot $snapshotId under $outDir lost a concurrent-commit race: " +
              "another writer overwrote the manifest after the optimistic check")
    }
  }

  override def branches(outDir: String): Map[String, Int] = {
    val dir = Paths.get(outDir, "snapshots")
    if (!Files.isDirectory(dir)) Map.empty
    else listDir(dir).flatMap { p =>
      val n = p.getFileName.toString
      // '.tmp' siblings are atomicWrite staging leftovers from a crashed
      // ref write, never refs — parsing one would register a phantom
      // branch (or throw on partial content) and freeze the table
      if (n.startsWith("branch-") && !n.endsWith(".tmp")) {
        val content = new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8).trim
        // "<id> <runToken>" — the token lets a stage that lost the
        // manifest race prove the ref is its own to delete
        require(content.matches("\\d{1,9} [0-9a-f]{8}"),
          s"corrupt branch ref '$n' under $outDir: expected a snapshot id, got '$content'")
        Some(n.stripPrefix("branch-") -> content.takeWhile(_.isDigit).toInt)
      } else None
    }.toMap
  }

  override def publishBranch(outDir: String, name: String): Int =
    publishBranchImpl(None, outDir, name)

  override def publishBranch(spark: SparkSession, outDir: String, name: String): Int =
    publishBranchImpl(Some(spark), outDir, name)

  private def publishBranchImpl(sparkOpt: Option[SparkSession], outDir: String,
                                name: String, retries: Int = 2): Int = {
    if (!branches(outDir).contains(name))
      throw new IllegalArgumentException(s"no branch '$name' on table $outDir")
    readBranchManifest(outDir, name) match {
      case Some(man) =>
        // a publish losing its optimistic race (another head commit or
        // another branch's publish landed first) re-reads the moved head
        // and re-validates — the same re-plan loop every head writer runs
        retrying(retries)(publishStaged(sparkOpt, outDir, name, man))
      case None =>
        // A COMPLETED publish that crashed between deleting the branch
        // manifest and the ref: only the intent marker can prove it (and
        // a failed attempt's marker cannot validate) — finish retiring.
        readPublishIntent(outDir, name).foreach { in =>
          if (intentLanded(outDir, in)) {
            Files.deleteIfExists(Paths.get(outDir, "snapshots", s"branch-$name"))
            Files.deleteIfExists(publishIntentPath(outDir, name))
            return in.n
          } else Files.deleteIfExists(publishIntentPath(outDir, name))
        }
        // A ref with no staged manifest and no landed intent is a crashed
        // stage or abandon — nothing is staged, so publishing it must fail
        // loudly, not guess.
        throw new IllegalStateException(
          s"branch '$name' has a ref but no staged manifest under $outDir — a crashed " +
            "stage or abandon left this remnant; nothing is staged to publish. " +
            "Run abandonBranch to retire it")
    }
  }

  /** One publish attempt of a branch-scoped stage. Base unmoved =
    * fast-forward; base moved = cherry-pick merge. Both commit through
    * [[commitWave]], so every optimistic-concurrency recheck (CAS,
    * manifest-clobber detection) guards a publish exactly like any other
    * head commit. */
  private def publishStaged(sparkOpt: Option[SparkSession], outDir: String,
                            name: String, man: Manifest): Int = {
    val base = man.snapshotId - 1
    val cur = latestSnapshot(outDir).getOrElse(-1)
    require(cur >= base,
      s"table head $cur is behind branch '$name' base $base under $outDir")
    val baseMan = readManifestAt(outDir, base).getOrElse(throw new IllegalStateException(
      s"base snapshot $base of branch '$name' has been expired while the branch pended — " +
        "abandon and re-stage"))
    val deltaFiles = man.files.filter(_.seq == man.snapshotId)
    val branchNewDels = man.deleteDirs.filterNot(baseMan.deleteDirs.toSet)
    // Crash-resume idempotence: the publish-intent marker names exactly
    // what a prior attempt committed (attempt-unique names, so a failed
    // attempt can never validate) — including a delete-only CHERRY-PICK,
    // whose committed artifacts are re-stamped copies. A marker that does
    // not validate is a failed attempt's leftover: discard it.
    readPublishIntent(outDir, name).foreach { in =>
      if (intentLanded(outDir, in)) {
        retireBranchArtifacts(outDir, name, if (in.cherryPick) branchNewDels else Nil)
        return in.n
      } else Files.deleteIfExists(publishIntentPath(outDir, name))
    }
    // props the branch changed vs its base; keys it retired become
    // tombstones so the overlay in commitWave retires them at the head too
    val propsDelta = man.props.filter { case (k, v) => !baseMan.props.get(k).contains(v) } ++
      (baseMan.props.keySet -- man.props.keySet).map(_ -> "").toMap
    if (cur == base) {
      require(snapshotIntact(outDir, man),
        s"cannot publish branch '$name': staged snapshot references files missing under " +
          s"$outDir — a crashed abandon; re-run abandonBranch to finish retiring it")
      // fast-forward: the staged ids already are the next snapshot's.
      // The marker records only artifact names this STAGE created — a
      // sidecar dir inherited from the base is carried by other commits
      // too (props-only, rollback), so it is not attempt-unique evidence
      // and recording it could validate a failed attempt against another
      // writer's snapshot.
      writePublishIntent(outDir, name, PublishIntent(man.snapshotId, cherryPick = false,
        branchNewDels.toVector,
        man.convFpsDir.filterNot(baseMan.convFpsDir.contains),
        deltaFiles.map(_.path).toVector))
      commitWave(outDir, s"$outDir/staging-publish-none", man.snapshotId, man.buckets,
        man.files, readBranchLineage(outDir, name), man.inputFps, additive = true,
        convFpsDir = man.convFpsDir, deleteDirs = man.deleteDirs, fpMode = man.fpMode,
        bucketCount = man.bucketCount, operation = man.operation,
        props = propsDelta, schemaDdl = Some(man.schemaDdl))
      maybeTestCrash()
      retireBranchArtifacts(outDir, name, Nil)
      man.snapshotId
    } else {
      // ---- cherry-pick: re-bind the staged delta onto the moved head ----
      val spark = sparkOpt.getOrElse(throw new IllegalStateException(
        s"head moved from $base to $cur while branch '$name' pended: publishing needs a " +
          "cherry-pick merge (a batch-bounded Spark job) — call publishBranch(spark, outDir, name)"))
      import org.apache.spark.sql.functions.col
      // every intervening commit must be content-additive: a rewrite/
      // replace physically rewrote (or semantically changed) files the
      // staged manifest still references
      val interv = ((base + 1) to cur).map { k =>
        k -> readManifestAt(outDir, k).getOrElse(throw new IllegalStateException(
          s"snapshot $k expired while branch '$name' pended — abandon and re-stage"))
      }
      interv.foreach { case (k, m) =>
        if (m.operation == "rewrite" || m.operation == "replace")
          throw new CommitConflictException(
            s"cannot cherry-pick branch '$name': snapshot $k is a ${m.operation} commit (files the " +
              "branch references were rewritten) — abandon and re-stage", retryable = false)
      }
      // intactness AFTER the op validation: a rewrite/replace is exactly
      // what makes staged references go missing, and the conflict message
      // explains the recovery better than a raw missing-file error
      require(snapshotIntact(outDir, man),
        s"cannot publish branch '$name': staged snapshot references files missing under " +
          s"$outDir — a crashed abandon; re-run abandonBranch to finish retiring it")
      val hMan = interv.last._2
      if (man.bucketCount != hMan.bucketCount || man.fpMode != hMan.fpMode)
        throw new CommitConflictException(
          s"cannot cherry-pick branch '$name': bucket modulus or fingerprint mode diverged " +
            "from the head — abandon and re-stage", retryable = false)
      // schema: at most ONE side may have evolved it since the base
      val mergedSchema: String = (man.schemaDdl, hMan.schemaDdl, baseMan.schemaDdl) match {
        case (s, h, _) if s == h => s
        case (s, h, b) if h == b => s // only the branch evolved the schema
        case (s, h, b) if s == b => h // only the head evolved it
        case _ =>
          throw new CommitConflictException(
            s"cannot cherry-pick branch '$name': schema evolved on both the branch and " +
              "the head since the base — abandon and re-stage", retryable = false)
      }
      if (deltaFiles.isEmpty && branchNewDels.isEmpty)
        throw new CommitConflictException(
          s"cannot cherry-pick branch '$name': the stage carries no data or delete files " +
            "(fingerprint-only re-baseline), so its sidecar is stale against the moved " +
            "head — abandon and re-stage", retryable = false)
      // partition-granular conflict detection (Iceberg cherrypick
      // semantics): the branch's touched buckets must be disjoint from
      // every bucket the intervening commits touched — inside a touched
      // bucket the audit's verdict no longer describes the head
      def delDirBuckets(dirs: Seq[String]): Set[Int] =
        if (dirs.isEmpty) Set.empty
        else spark.read.parquet(dirs.map(d => s"$outDir/deletes/$d"): _*)
          .select("bucket").distinct().collect().map(_.getInt(0)).toSet
      val branchBuckets = deltaFiles.map(_.bucket).toSet ++ delDirBuckets(branchNewDels)
      val intervBuckets =
        hMan.files.filter(f => f.seq > base && f.seq <= cur).map(_.bucket).toSet ++
          delDirBuckets(hMan.deleteDirs.filter(d =>
            deleteDirSeq(d).exists(s => s > base && s <= cur)))
      val overlap = branchBuckets.intersect(intervBuckets)
      if (overlap.nonEmpty)
        throw new CommitConflictException(
          s"cannot cherry-pick branch '$name': commits since its base touched the same " +
            s"buckets (${overlap.toSeq.sorted.take(8).mkString(",")}" +
            s"${if (overlap.size > 8) ",…" else ""}) — abandon and re-stage", retryable = false)
      val n = cur + 1
      val tok = newRunToken()
      // Re-stamp the branch's delete dirs to the published seq by COPY:
      // the dir NAME carries the CDC attribution seq (rangeDeleteDirs);
      // the ROWS keep their staged seq, which stays correct under bucket
      // disjointness — they must kill base files (seq <= base < staged)
      // and spare the branch's own re-stamped files (seq n > staged).
      // The originals stay referenced by the branch manifest until
      // retirement, so a crash anywhere below leaves a retryable pending
      // branch plus sweepable orphans, never a broken table.
      val restampedDels = branchNewDels.zipWithIndex.map { case (d, i) =>
        val nd = s"snap-$n-$tok-$i"
        val dst = Paths.get(outDir, "deletes", nd)
        if (Files.exists(dst)) deleteRecursively(dst) // replay of this attempt
        copyTree(Paths.get(outDir, "deletes", d), dst)
        nd
      }
      // sidecar merge: branch buckets take the branch's fingerprints,
      // every other bucket the head's — exact because conv->bucket is
      // functional, so disjoint buckets mean disjoint conversations
      val mergedFpDir: Option[String] = (man.convFpsDir, hMan.convFpsDir) match {
        case (Some(bd), Some(hd)) =>
          val nd = s"fp-$n-$tok"
          val bvals = branchBuckets.toSeq.map(Integer.valueOf)
          StateDirs.write(spark.read.parquet(s"$outDir/conv_fps/$bd")
            .where(col("bucket").isin(bvals: _*))
            .unionByName(spark.read.parquet(s"$outDir/conv_fps/$hd")
              .where(!col("bucket").isin(bvals: _*))))
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$outDir/conv_fps/$nd")
          Some(nd)
        case (None, None) => None
        case _ =>
          throw new CommitConflictException(
            s"cannot cherry-pick branch '$name': conv-fingerprint sidecar presence diverged " +
              "between the branch and the head — abandon and re-stage", retryable = false)
      }
      // bucket fingerprints: branch buckets take the branch's values
      // (including buckets whose fingerprint the branch RETIRED)
      val droppedFps = (baseMan.inputFps.keySet -- man.inputFps.keySet).filter(branchBuckets)
      val mergedFps = (hMan.inputFps -- droppedFps) ++
        man.inputFps.view.filterKeys(branchBuckets).toMap
      val mergedFiles = hMan.files ++ deltaFiles.map(_.copy(seq = n))
      val mergedLineage = readBranchLineage(outDir, name).map(_.copy(snapshot_id = n))
      writePublishIntent(outDir, name, PublishIntent(n, cherryPick = true,
        restampedDels.toVector, mergedFpDir, deltaFiles.map(_.path).toVector))
      commitWave(outDir, s"$outDir/staging-publish-none", n, hMan.buckets ++ man.buckets,
        mergedFiles, mergedLineage, mergedFps, additive = true,
        convFpsDir = mergedFpDir, deleteDirs = hMan.deleteDirs ++ restampedDels,
        fpMode = man.fpMode, bucketCount = man.bucketCount,
        operation = man.operation,
        props = propsDelta, schemaDdl = Some(mergedSchema))
      maybeTestCrash()
      retireBranchArtifacts(outDir, name, branchNewDels)
      n
    }
  }

  /** Retire a published branch's artifacts: the listed ORIGINAL delete
    * dirs (referenced only by the branch manifest after a cherry-pick
    * re-stamped them), then lineage, manifest, and the ref LAST — so a
    * crash at any point re-runs to completion via publish's idempotence
    * detection. */
  private def retireBranchArtifacts(outDir: String, name: String,
                                    staleDeleteDirs: Seq[String]): Unit = {
    staleDeleteDirs.foreach(d => deleteRecursively(Paths.get(outDir, "deletes", d)))
    Files.deleteIfExists(branchLineagePath(outDir, name))
    Files.deleteIfExists(branchManifestPath(outDir, name))
    Files.deleteIfExists(Paths.get(outDir, "snapshots", s"branch-$name"))
    // the intent marker goes AFTER the ref: a crash between manifest and
    // ref deletes leaves a ref-only remnant only the marker can prove was
    // a COMPLETED publish (vs a crashed stage/abandon)
    Files.deleteIfExists(publishIntentPath(outDir, name))
    ()
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally s.close()
  }

  override def abandonBranch(outDir: String, name: String): Unit = {
    if (!branches(outDir).contains(name))
      throw new IllegalArgumentException(s"no branch '$name' on table $outDir")
    // GC exactly what ONLY the branch references. Branch commits are
    // additive (head's files + new ones), so diffing against the head
    // would usually suffice — but older RETAINED manifests can also
    // reference files the head no longer lists (post-compact history),
    // and OTHER pending branches may share nothing but must be checked,
    // so the reference set is every retained manifest plus every other
    // branch's staged manifest, the same rule expireSnapshots GC uses.
    // Everything is deleteIfExists / recursive-quiet and the ref goes
    // LAST, so a crash mid-abandon re-runs to completion. A ref without a
    // staged manifest is a crash remnant: only the ref is dropped.
    readBranchManifest(outDir, name).foreach { man =>
      val others = retainedManifests(outDir) ++ (pendingBranchManifests(outDir) - name).values
      val refFiles = others.flatMap(_.files.map(_.path)).toSet
      man.files.filterNot(f => refFiles.contains(f.path))
        .foreach(f => Files.deleteIfExists(Paths.get(outDir, "data", f.path)))
      val refDels = others.flatMap(_.deleteDirs).toSet
      man.deleteDirs.filterNot(refDels.contains)
        .foreach(d => deleteRecursively(Paths.get(outDir, "deletes", d)))
      val refFps = others.flatMap(_.convFpsDir).toSet
      for (fp <- man.convFpsDir if !refFps.contains(fp))
        deleteRecursively(Paths.get(outDir, "conv_fps", fp))
      Files.deleteIfExists(branchLineagePath(outDir, name))
      Files.deleteIfExists(branchManifestPath(outDir, name))
    }
    Files.deleteIfExists(Paths.get(outDir, "snapshots", s"branch-$name"))
    Files.deleteIfExists(publishIntentPath(outDir, name))
    ()
  }

  override def snapshotAsOfTimestamp(outDir: String, tsMillis: Long): Int = {
    val dated = retainedManifests(outDir)
      .map(m => m.snapshotId -> java.time.Instant.parse(m.committedAt).toEpochMilli)
    require(dated.nonEmpty, s"no committed snapshot under $outDir")
    val qualifying = dated.filter(_._2 <= tsMillis)
    if (qualifying.isEmpty) {
      val earliest = dated.minBy(_._2)
      throw new IllegalStateException(
        s"no snapshot under $outDir is as old as ${java.time.Instant.ofEpochMilli(tsMillis)} — " +
          s"earliest retained commit is snapshot ${earliest._1} at " +
          s"${java.time.Instant.ofEpochMilli(earliest._2)} (older history expired)")
    }
    // ids are committed serially (CAS), so the highest qualifying id is
    // the table's state at the instant even if writer clocks wobble
    // within the inter-commit gap
    qualifying.maxBy(_._1)._1
  }

  override def expireBranches(outDir: String, olderThanMs: Long): Seq[String] = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val stale = pendingBranchManifests(outDir).toSeq.collect {
      case (name, man) if java.time.Instant.parse(man.committedAt).toEpochMilli <= cutoff => name
    }.sorted
    stale.foreach(abandonBranch(outDir, _))
    stale
  }

  override def readCommittedAtBranch(spark: SparkSession, outDir: String,
                                     name: String): DataFrame = {
    val man = readBranchManifest(outDir, name).getOrElse {
      if (!branches(outDir).contains(name))
        throw new IllegalArgumentException(s"no branch '$name' on table $outDir")
      throw new IllegalStateException(
        s"branch '$name' has a ref but no staged manifest under $outDir — a crashed " +
          "stage/publish/abandon left this remnant; run abandonBranch to retire it")
    }
    if (!snapshotIntact(outDir, man))
      throw new IllegalStateException(
        s"branch '$name' staged snapshot references files missing under $outDir")
    readAt(spark, outDir, man)
  }

  /** Staged lineage rows of a pending branch (branch-scoped file). */
  private def readBranchLineage(outDir: String, name: String): Vector[LineageRow] = {
    val p = branchLineagePath(outDir, name)
    if (Files.exists(p)) readLineageFile(p) else Vector.empty
  }

  /** Paths of delete-file directories `names` from a manifest's delete_dirs
    * list (manifest-tracked like data files — an orphan
    * deletes/snap-K dir left by a killed run is NEVER activated, even if a
    * later unrelated commit reuses snapshot id K). A tracked dir that is
    * missing on disk is an integrity error and fails LOUDLY, like a missing
    * data file — silently skipping it would serve deleted rows. */
  private[spark] def manifestDeleteDirs(outDir: String, names: Seq[String]): Seq[Path] =
    names.map { d =>
      val p = Paths.get(outDir, "deletes", d)
      require(Files.isDirectory(p), s"manifest-tracked delete dir missing: $p")
      p
    }

  /** Driver-side, manifest-sized existence sweep over data files and
    * tracked delete dirs. */
  override def snapshotIntact(outDir: String, man: Manifest): Boolean =
    man.files.forall(f => Files.exists(Paths.get(outDir, "data", f.path))) &&
      man.deleteDirs.forall(d => Files.isDirectory(Paths.get(outDir, "deletes", d)))

  /** Read the committed table: exactly the data files listed in the latest
    * committed manifest. A crash between bucket promotion and the snapshot
    * commit can leave promoted-but-uncommitted dirs (or extra files) under
    * data/ — readers must not see them (snapshot-isolation read semantics).
    * A snapshot without files reads as an empty frame with its schema.
    *
    * Merge-on-read: when equality delete files exist, each data file is read
    * with its manifest `seq`, and a row is dropped when some delete entry
    * for its (bucket, conv_id) carries a HIGHER seq — i.e. the conversation
    * was re-extracted (or removed) after the file was written. The delete
    * set is small relative to the data (changed conversations only), so the
    * anti-filter join broadcasts.
    */
  override def readCommitted(spark: SparkSession, outDir: String): DataFrame =
    readAt(spark, outDir, readManifest(outDir)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot under $outDir")))

  override def readCommittedAsOf(spark: SparkSession, outDir: String, snapshotId: Int): DataFrame =
    readAsOf(spark, outDir, snapshotId, streaming = false)

  private def readAsOf(spark: SparkSession, outDir: String, snapshotId: Int,
                       streaming: Boolean): DataFrame = {
    val man = readManifestAt(outDir, snapshotId)
      .getOrElse(throw new IllegalStateException(s"no snapshot $snapshotId under $outDir"))
    // Time travel to a NON-latest snapshot whose files were rewritten
    // (compaction) or GC'd (expiry) is history loss, not corruption — report
    // it distinctly instead of tripping the integrity checks meant for the
    // live snapshot. The existence sweep is driver-side, manifest-sized.
    // DOUBLY important for the streaming read: its relation resolves with
    // checkFilesExist=false (the FileStreamSource convention: no per-file
    // existence RPCs per batch), which would otherwise silently skip
    // rewritten/GC'd files when the engine replays an uncommitted
    // initial-snapshot batch over a since-compacted table
    if (!latestSnapshot(outDir).contains(snapshotId) && !snapshotIntact(outDir, man))
      throw new IllegalStateException(
        s"snapshot $snapshotId history has been rewritten or expired " +
          "(compaction / expireSnapshots GC'd its files); " +
          (if (streaming) "the stream cannot replay its initial batch — restart from a fresh checkpoint"
           else "time travel to it is no longer available"))
    readAt(spark, outDir, man, streaming)
  }

  /** Above this many accumulated equality-delete rows the aggregated delete
    * set stops being broadcast-pinned and falls back to the planner's choice
    * (AQE may still broadcast; else sort-merge). ~24 bytes/row keyed struct:
    * 5M rows ≈ 120 MB on each executor — the safe ceiling for a pinned hint. */
  private val BroadcastDeleteRowLimit = 5000000L

  private def readAt(spark: SparkSession, outDir: String, man: Manifest,
                     streaming: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, max}
    val deletes = manifestDeleteDirs(outDir, man.deleteDirs)
    // pin the scan to the manifest's snapshot-scoped schema: older files
    // null-fill columns added since they were written, files carrying
    // since-dropped columns project them away, and NO footer is read for
    // schema inference (at 10^6 files the inference read alone matters).
    // The bucket partition column is appended by partition discovery; a
    // read of no files has nothing to discover it from, so its schema
    // carries the column itself.
    // `streaming` swaps the DATA-side relations for streaming-flagged ones
    // (same parquet scan, see StreamRelationBridge) so the v1 streaming
    // source can serve this exact read as a microbatch; the delete side
    // stays a batch read (a stream-static anti-filter join).
    val schema = org.apache.spark.sql.types.StructType.fromDDL(man.schemaDdl)
    def read(fs: Seq[FileEntry]): DataFrame = {
      val paths = fs.map(f => s"$outDir/data/${f.path}")
      val s = if (paths.isEmpty) schema.add("bucket", "int") else schema
      if (streaming)
        org.apache.spark.sql.graftbridge.StreamRelationBridge
          .streamingParquet(spark, paths, Some(s), s"$outDir/data")
      else spark.read.schema(s).option("basePath", s"$outDir/data").parquet(paths: _*)
    }
    if (deletes.isEmpty || man.files.isEmpty) read(man.files)
    else {
      // only delete-affected BUCKETS pay the anti-filter join; every other
      // bucket's files are read plain (at 4096 buckets with one dirty
      // bucket, 99.98% of the table skips the join entirely)
      val delDf0 = spark.read.parquet(deletes.map(_.toString): _*)
      // one driver job yields both the affected-bucket set and the total
      // delete count (for the broadcast size guard)
      val perBucket = delDf0.groupBy("bucket").count().collect()
      val delBuckets = perBucket.map(_.getInt(0)).toSet
      val delRows = perBucket.map(_.getLong(1)).sum
      val (affectedFiles, cleanFiles) = man.files.partition(f => delBuckets.contains(f.bucket))
      val filteredPart =
        if (affectedFiles.isEmpty) None
        else {
          val bySeq = affectedFiles.groupBy(_.seq).toSeq.sortBy(_._1)
          val data = bySeq.map { case (seq, fs) => read(fs).withColumn("__seq", lit(seq)) }
            .reduce(_ unionByName _)
          val delAgg = delDf0
            .groupBy(col("bucket").as("__db"), col("conv_id").as("__dc"))
            .agg(max("seq").as("__delseq"))
          // pin the broadcast while the delete set is provably small — AQE
          // alone can silently degrade this to sort-merge over every
          // delete-affected file when delete debt accumulates
          val delDf = if (delRows <= BroadcastDeleteRowLimit) broadcast(delAgg) else delAgg
          Some(data
            .join(delDf,
              data("bucket") === delDf("__db") && data("conv_id") === delDf("__dc"), "left")
            .where(col("__delseq").isNull || col("__seq") >= col("__delseq"))
            .drop("__db", "__dc", "__seq", "__delseq"))
        }
      (filteredPart, if (cleanFiles.nonEmpty) Some(read(cleanFiles)) else None) match {
        case (Some(a), Some(b)) => a.unionByName(b)
        case (Some(a), None) => a
        case (None, b) => b.get // no affected files: man.files are all clean
      }
    }
  }

  /** Manifest-level data skipping for a keyed read: keep only files in the
    * requested conversations' hash buckets (exact — the modulus is recorded
    * in the manifest) whose conv_id footer bounds can contain a requested
    * id. At 4096 buckets a single-conversation lookup plans ~0.02% of the
    * table's files before any IO happens; within a multi-file bucket the
    * (conv_id,turn_idx)-sorted layout keeps per-file bounds disjoint, so
    * base files of other ranges and other conversations' MOR deltas are
    * skipped too. Files without recorded bounds are conservatively kept. */
  private[graft] def pruneFilesForConvs(man: Manifest, convIds: Seq[String]): Vector[FileEntry] = {
    val byBucket: Vector[FileEntry] = man.bucketCount match {
      case Some(n) =>
        val target = convIds.map(ExtractionJob.bucketOfConvId(_, n)).toSet
        man.files.filter(f => target.contains(f.bucket))
      case None => man.files // modulus not recorded: keep all
    }
    byBucket.filter { f =>
      (f.minConv, f.maxConv) match {
        case (Some(lo), Some(hi)) => convIds.exists(c => lo <= c && c <= hi)
        case _ => true
      }
    }
  }

  override def readCommittedForConvs(spark: SparkSession, outDir: String,
                                     convIds: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (convIds.isEmpty)
      throw new IllegalArgumentException("readCommittedForConvs: no conversations requested")
    val man = readManifest(outDir)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot under $outDir"))
    // an empty pruning result (no file can hold the requested
    // conversations) reads as an empty frame with the table's schema
    readAt(spark, outDir, man.copy(files = pruneFilesForConvs(man, convIds)))
      .where(col("conv_id").isin(convIds: _*))
  }

  /** Manifests from+1..to, each present (expiry reported distinctly) and
    * none a replacing commit. Snapshot ids are consecutive by construction
    * (every commit is latest+1), so the walk is exactly the range. */
  private def rangeManifests(outDir: String, from: Int, to: Int): Vector[Manifest] = {
    require(from < to, s"empty or inverted snapshot range ($from, $to]")
    (from + 1 to to).toVector.map { k =>
      val man = readManifestAt(outDir, k).getOrElse(throw new IllegalStateException(
        s"snapshot $k has been expired (snapshot history GC'd); incremental read over " +
          s"($from, $to] is unavailable"))
      if (man.operation == "replace" || man.operation == "rewrite")
        throw new IllegalStateException(
          s"snapshot $k is a replacing commit (maintenance rewrite / bucket recompute / " +
            "rollback): incremental reads across it are unavailable — fall back to a " +
            "full snapshot read")
      man
    }
  }

  /** Parquet bloom-filter options for the conv_id column, applied by
    * every data-file writer (base waves, deltas, compaction, binpack,
    * sorted rewrite, rebucket, replication): keyed reads push
    * `conv_id = 'x'` / small-IN predicates down to parquet, where the
    * bloom filter skips row GROUPS inside files whose min/max conv
    * bounds overlap the probe — the intra-file complement of the
    * manifest-level pruning in pruneFilesForConvs. Sized for ~20k
    * distinct conversations per row group (≈25 KB of bloom bits at the
    * default 1% fpp; parquet caps oversized blooms at
    * parquet.bloom.filter.max.bytes). Point lookups on a 10^12-turn
    * table are the whole reason the table is conv-bucketed — this makes
    * the last mile (inside a multi-GB bucket file) skip too. */
  private[graft] val convBloomOptions: Map[String, String] = Map(
    "parquet.bloom.filter.enabled#conv_id" -> "true",
    "parquet.bloom.filter.expected.ndv#conv_id" -> "20000")

  /** The one writer of table data files: stage `data` under `staging` as
    * per-bucket parquet dirs in (conv_id, turn_idx) order, with the conv_id
    * bloom filter, and return the staged files as `format` lists them
    * (unstamped: `seq` 0). The caller repartitions by `bucket` first, with
    * its own partition count. A positive `maxRecordsPerFile` splits each
    * bucket's run into files of at most that many rows; 0 leaves the
    * session's `spark.sql.files.maxRecordsPerFile` in force (default 0,
    * no limit).
    *
    * The leading `bucket` sort key makes the plan's output ordering satisfy
    * the partitioned write's required ordering. Without it the planned
    * write adds its own sort on `bucket` alone and the optimizer drops the
    * (conv_id, turn_idx) sort beneath it as redundant, so the files come
    * out in no key order. */
  private[graft] def writeSortedBuckets(format: TableFormat, data: Dataset[_], staging: String,
                                        maxRecordsPerFile: Long = 0L): Vector[FileEntry] = {
    val writer = StateDirs.write(data.sortWithinPartitions("bucket", "conv_id", "turn_idx"))
      .mode(SaveMode.Overwrite)
      .options(convBloomOptions)
    (if (maxRecordsPerFile > 0) writer.option("maxRecordsPerFile", maxRecordsPerFile) else writer)
      .partitionBy("bucket").parquet(staging)
    format.listStagedFiles(data.sparkSession, staging).toVector
  }

  /** Per-bucket lineage rows of commit `seq` over its staged `files`.
    * Rewrites extract nothing, so their field sums and extract time are 0. */
  private[graft] def bucketLineage(seq: Int, files: Seq[FileEntry],
                                   fieldSums: Map[Int, Long] = Map.empty,
                                   extractMs: Long = 0L): Vector[LineageRow] = {
    val now = java.time.Instant.now().toString
    files.groupBy(_.bucket).map { case (b, fs) =>
      LineageRow(seq, b.toLong, fs.map(_.rowCount).sum, fieldSums.getOrElse(b, 0L), extractMs, now)
    }.toVector
  }

  /** Token for writer-unique PRE-COMMIT artifact names (staging dirs,
    * delete dirs `snap-<seq>-<token>`, conv-fp sidecars `fp-<seq>-<token>`):
    * concurrent writers computing the same next snapshot id must never
    * share an on-disk name before the optimistic commit check settles who
    * wins. One definition pins the convention `deleteDirSeq` parses. */
  private[spark] def newRunToken(): String =
    java.util.UUID.randomUUID().toString.substring(0, 8)

  /** Sticky prop listing the buckets that may hold rows the conv-fp
    * sidecar does not describe: rows a stream-sink or replica commit added
    * while the table had a sidecar, rows a bucket-grained commit wrote from
    * input other than the sidecar records for the bucket, or rows the first
    * conversation-grained run found without a sidecar. Elsewhere the
    * sidecar lists every conversation with rows, with the content they came
    * from. A conversation-grained delta therefore diffs every conversation
    * of a dirty unlisted bucket. Only a conversation-grained full wave,
    * which rewrites a bucket from the sidecar's own input, takes a bucket
    * off; `rollbackTo` restores the target's list. */
  private[spark] val UnlistedProp = "conv_fps.unlisted"

  private[spark] def unlistedBuckets(man: Option[Manifest]): Set[Int] =
    man.flatMap(_.props.get(UnlistedProp)).toSet[String].flatMap(_.split(',')).map(_.toInt)

  /** The props entry recording `buckets` as unlisted (a tombstone when empty). */
  private[spark] def unlistedProp(buckets: Set[Int]): Map[String, String] =
    Map(UnlistedProp -> buckets.toSeq.sorted.mkString(","))

  /** The props entry of a commit that adds rows to `buckets` without
    * listing them in the sidecar of `man`; none when `man` has no sidecar. */
  private[spark] def unlistedAfter(man: Option[Manifest], buckets: Iterable[Int]): Map[String, String] =
    if (man.flatMap(_.convFpsDir).isEmpty) Map.empty
    else unlistedProp(unlistedBuckets(man) ++ buckets)

  /** Test-only race-injection point: invoked inside commitWave AFTER the
    * optimistic-CAS + branch checks and the staged-dir
    * promote, but BEFORE any pointer/manifest write — i.e. at the widest
    * check-then-act window. Specs install a closure here to land a
    * concurrent publish/stage/commit deterministically inside the window
    * and assert the rechecks turn the interleaving into a loud
    * CommitConflictException instead of a silent clobber. Always a no-op
    * in production; restore in a finally. */
  private[graft] var commitRaceHook: () => Unit = () => ()

  /** Commit seq encoded in a delete dir's name `snap-<seq>-<runToken>` —
    * the token makes pre-commit artifacts writer-unique so concurrent
    * writers computing the same next snapshot id can never overwrite each
    * other's files before the optimistic commit check settles who wins. */
  private[spark] def deleteDirSeq(name: String): Option[Int] =
    deleteDirNameRe.unapplySeq(name).map(_.head.toInt)

  private val deleteDirNameRe = "snap-(\\d{1,9})-.+".r

  /** Delete dirs of `man` whose snapshot falls in (from, to]. */
  private def rangeDeleteDirs(man: Manifest, from: Int, to: Int): Vector[String] =
    man.deleteDirs.filter(d => deleteDirSeq(d).exists(n => n > from && n <= to))

  override def readAppendsBetween(spark: SparkSession, outDir: String,
                                  fromSnapshot: Int, toSnapshot: Int): DataFrame =
    appendsBetween(spark, outDir, fromSnapshot, toSnapshot, streaming = false)

  private def appendsBetween(spark: SparkSession, outDir: String,
                             fromSnapshot: Int, toSnapshot: Int,
                             streaming: Boolean): DataFrame = {
    val manTo = rangeManifests(outDir, fromSnapshot, toSnapshot).last
    // the range's own deletes supersede its earlier deltas (seq-aware);
    // deletes BEFORE the range never apply to in-range files (lower seq),
    // deletes AFTER it are outside the requested snapshot horizon. A range
    // that appended nothing (delete-only or fp-rebaseline commits) reads
    // as an empty frame with the snapshot's schema.
    readAt(spark, outDir, manTo.copy(
      files = manTo.files.filter(f => f.seq > fromSnapshot && f.seq <= toSnapshot),
      deleteDirs = rangeDeleteDirs(manTo, fromSnapshot, toSnapshot)),
      streaming)
  }

  /** Streaming-relation variants of the committed-snapshot and incremental
    * reads, for the table's v1 streaming source (graft.sources): identical
    * plans to [[readCommittedAsOf]]/[[readAppendsBetween]] — snapshot-pinned
    * schema, MOR delete application, per-range net post-images — with the
    * data-side parquet relations flagged `isStreaming` so
    * MicroBatchExecution accepts them as a microbatch. */
  def readCommittedAsOfStreaming(spark: SparkSession, outDir: String,
                                 snapshotId: Int): DataFrame =
    readAsOf(spark, outDir, snapshotId, streaming = true)

  def readAppendsBetweenStreaming(spark: SparkSession, outDir: String,
                                  fromSnapshot: Int, toSnapshot: Int): DataFrame =
    appendsBetween(spark, outDir, fromSnapshot, toSnapshot, streaming = true)

  override def readDeleteKeysBetween(spark: SparkSession, outDir: String,
                                     fromSnapshot: Int, toSnapshot: Int): DataFrame = {
    val manTo = rangeManifests(outDir, fromSnapshot, toSnapshot).last
    val dirs = manifestDeleteDirs(outDir, rangeDeleteDirs(manTo, fromSnapshot, toSnapshot))
    if (dirs.isEmpty) {
      import spark.implicits._
      spark.emptyDataset[(Int, String)].toDF("bucket", "conv_id")
    } else
      spark.read.parquet(dirs.map(_.toString): _*).select("bucket", "conv_id").distinct()
  }

  override def compact(spark: SparkSession, outDir: String): Set[Int] = {
    import org.apache.spark.sql.functions.col
    val man = readManifest(outDir).getOrElse(return Set.empty)
    val delDirs = manifestDeleteDirs(outDir, man.deleteDirs)
    if (delDirs.isEmpty) return Set.empty
    val delDf = spark.read.parquet(delDirs.map(_.toString): _*)
    val withDeletes = delDf.select("bucket").distinct().collect().map(_.getInt(0)).toSet
    // only buckets that still have data files need a rewrite; a delete for a
    // fileless bucket hides nothing and can simply be dropped
    val affected = withDeletes.intersect(man.files.map(_.bucket).toSet)
    if (affected.isEmpty) {
      // no data to rewrite, but the tracked deletes must still be RETIRED
      // through a manifest commit BEFORE their dirs are removed — deleting
      // dirs a live manifest references would trip the integrity check
      val seq = man.snapshotId + 1
      commitWave(outDir, s"$outDir/staging-compact-$seq-${newRunToken()}", seq, man.buckets,
        man.files, Vector.empty, man.inputFps, additive = true, convFpsDir = man.convFpsDir,
        deleteDirs = Seq.empty, fpMode = man.fpMode, bucketCount = man.bucketCount,
        operation = "rewrite")
    } else {
      // the committed view already applies the deletes — rewrite it as
      // clean sorted files, one dir per bucket. The non-additive promote
      // replaces the affected bucket dirs (base + delta files); every
      // tracked delete is applied by the rewrite
      rewriteBuckets(outDir, man, "compact",
        readCommitted(spark, outDir).where(col("bucket").isin(affected.toSeq: _*)),
        affected.size, kept = man.files.filterNot(f => affected.contains(f.bucket)),
        additive = false, deleteDirs = Seq.empty)
    }
    // The applied deletes are dead for the NEW manifest, but older retained
    // manifests still reference them — deleting those would turn time travel
    // to an intermediate delta snapshot into an integrity error. Drop only
    // dirs no on-disk manifest references (normally none until the history
    // is expired; expireSnapshots GCs the rest — the Iceberg split between
    // rewrite_data_files and expire_snapshots).
    val stillReferenced = retainedManifests(outDir).flatMap(_.deleteDirs).toSet
    delDirs.filterNot(d => stillReferenced.contains(d.getFileName.toString))
      .foreach(deleteRecursively)
    affected
  }

  /** Small-file coalescing (Iceberg `rewrite_data_files` binpack
    * strategy): every bucket whose manifest lists 2+ data files under
    * `minRows` gets those files rewritten as one sorted run, WITHOUT
    * touching the bucket's healthy files — the routine maintenance op a
    * delta-heavy table needs between full compactions (a 10^12-turn
    * table taking 10^4 conv-grained corrections/day accretes one small
    * file per bucket per commit; full compact() rewrites the whole
    * bucket to fix that, binpack rewrites only the debt).
    *
    * MOR correctness: the rewrite reads the COMMITTED view of exactly
    * the small files (equality deletes applied in that read), and the
    * replacement files carry the NEW commit seq — so a pending delete
    * can never resurrect a row (deletes kill seq < delseq only; the
    * rewritten rows already survived the delete application). Pending
    * delete dirs are carried forward untouched: they still gate the
    * bucket's unrewritten files. The promote is ADDITIVE (new files move
    * into the existing bucket dirs; coalesced files stay on disk for
    * retained-history time travel until expireSnapshots GCs them), and
    * the commit is a `rewrite` operation so incremental (CDC) readers
    * refuse to interpret the rewrite as new data while content-level
    * consumers (incremental curation) can skip it for free.
    *
    * Returns the affected bucket set (empty = nothing to do). */
  def binpackDataFiles(spark: SparkSession, outDir: String,
                       minRows: Long = 1000L): Set[Int] = {
    val man = readManifest(outDir).getOrElse(return Set.empty)
    val byBucket = man.files.filter(_.rowCount < minRows)
      .groupBy(_.bucket).filter(_._2.size >= 2)
    if (byBucket.isEmpty) return Set.empty
    val toRewrite = byBucket.values.flatten.toVector
    val rewritten = toRewrite.map(_.path).toSet
    // committed view of ONLY the small files: deletes applied, nothing else read
    rewriteBuckets(outDir, man, "binpack", readAt(spark, outDir, man.copy(files = toRewrite)),
      byBucket.size, kept = man.files.filterNot(f => rewritten.contains(f.path)),
      additive = true, deleteDirs = man.deleteDirs)
    byBucket.keySet
  }

  /** The one maintenance rewrite of table data (compact, binpack,
    * `ExtractionJob.rewriteSorted`, `ExtractionJob.rebucket`), planned
    * against `table`, the latest manifest with the committed buckets,
    * fingerprints, conv-fp sidecar, fp mode, modulus and props this commit
    * records: stage `rows` (carrying their target `bucket`) under
    * `staging-<kind>-<seq>-<runToken>` as sorted per-bucket files over
    * `partitions` partitions, split at `maxRecordsPerFile` when positive,
    * stamp them with the next seq and commit them after `kept` as one
    * `rewrite` snapshot with `deleteDirs`. Returns the seq. */
  private[spark] def rewriteBuckets(outDir: String, table: Manifest, kind: String, rows: DataFrame,
                                    partitions: Int, kept: Seq[FileEntry], additive: Boolean,
                                    deleteDirs: Seq[String], maxRecordsPerFile: Long = 0L,
                                    runToken: String = newRunToken()): Int = {
    import org.apache.spark.sql.functions.col
    val seq = table.snapshotId + 1
    // writer-unique staging (see ExtractionJob.runConvGrained's runToken
    // note): a concurrent rewriter computing the same seq must not share a
    // staging dir with this one
    val staging = s"$outDir/staging-$kind-$seq-$runToken"
    val newFiles = writeSortedBuckets(this, rows.repartition(partitions, col("bucket")), staging,
      maxRecordsPerFile).map(_.copy(seq = seq))
    commitWave(outDir, staging, seq, table.buckets, kept ++ newFiles, bucketLineage(seq, newFiles),
      table.inputFps, additive = additive, convFpsDir = table.convFpsDir, deleteDirs = deleteDirs,
      fpMode = table.fpMode, bucketCount = table.bucketCount, operation = "rewrite",
      props = table.props)
    seq
  }

  override def expireSnapshots(outDir: String, retainLast: Int): (Int, Int) = {
    require(retainLast >= 1, "must retain at least the latest snapshot")
    val latest = latestSnapshot(outDir).getOrElse(return (0, 0))
    val snapDir = Paths.get(outDir, "snapshots")
    val existing = snapshotIds(outDir)
    // tagged snapshots (ref.<name> props) are pinned: a tag names a table
    // version someone depends on (e.g. the version a model trained on), so
    // retention never expires it — Iceberg's tag/retention semantics
    val taggedIds = tags(outDir).values.toSet
    val retained = existing.filter(k => k > latest - retainLast || taggedIds.contains(k))
    val expired = existing.filterNot(retained.contains)
    if (expired.isEmpty) return (0, 0)
    // pending branches pin their staged artifacts exactly like retained
    // history: an expiry running while a branch awaits its audit must
    // never GC the files the audit (or the eventual publish) will serve
    val retainedMans = retained.flatMap(k => readManifestAt(outDir, k)) ++
      pendingBranchManifests(outDir).values
    val referenced: Set[String] = retainedMans.flatMap(_.files.map(_.path)).toSet
    val referencedFps: Set[String] = retainedMans.flatMap(_.convFpsDir).toSet

    // GC unreferenced data files (empty bucket dirs stay; harmless)
    var deletedFiles = 0
    val dataDir = Paths.get(outDir, "data")
    if (Files.isDirectory(dataDir)) {
      listDir(dataDir).filter(_.getFileName.toString.startsWith("bucket=")).foreach { bd =>
        val bucketName = bd.getFileName.toString
        listDir(bd).foreach { f =>
          val rel = s"$bucketName/${f.getFileName}"
          if (!referenced.contains(rel)) { Files.delete(f); deletedFiles += 1 }
        }
      }
    }
    // GC unreferenced conv-fp sidecars
    val fpRoot = Paths.get(outDir, "conv_fps")
    if (Files.isDirectory(fpRoot)) {
      listDir(fpRoot).foreach { d =>
        if (!referencedFps.contains(d.getFileName.toString)) deleteRecursively(d)
      }
    }
    // drop expired manifests + their lineage
    expired.foreach { k =>
      Files.deleteIfExists(snapDir.resolve(s"snap-$k.json"))
      Files.deleteIfExists(Paths.get(outDir, "lineage", s"lineage-$k.json"))
    }
    // GC delete dirs no retained manifest references (deletes are
    // manifest-tracked like data files)
    val referencedDeletes: Set[String] = retainedMans.flatMap(_.deleteDirs).toSet
    val delRoot = Paths.get(outDir, "deletes")
    if (Files.isDirectory(delRoot)) {
      listDir(delRoot).foreach { d =>
        if (!referencedDeletes.contains(d.getFileName.toString)) deleteRecursively(d)
      }
    }
    (expired.size, deletedFiles)
  }

  /** [[snapshotAsOfTimestamp]] + [[readCommittedAsOf]] in one step; `ts`
    * is an ISO-8601 instant (e.g. "2026-08-18T12:00:00Z"). */
  def readCommittedAsOfTimestamp(spark: SparkSession, outDir: String, ts: String): DataFrame =
    readCommittedAsOf(spark, outDir,
      snapshotAsOfTimestamp(outDir, java.time.Instant.parse(ts).toEpochMilli))

  /** Tag a snapshot with a named ref (Iceberg tag analog): the tag is a
    * sticky prop `ref.<name>` -> snapshot id, so it survives every later
    * commit and — because `expireSnapshots` retains tagged snapshots — the
    * tagged data itself survives retention. This is the reproducibility
    * primitive for training-data pipelines: tag the exact table version a
    * model trained on and `readCommittedAtTag` serves those bytes years of
    * commits later. */
  def tagSnapshot(outDir: String, name: String, snapshotId: Int): Unit = {
    // conservative charset: tag names surface in CLI JSON and file-less
    // prop keys, so quotes/backslashes/braces are all trouble
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid tag name: '$name'")
    require(readManifestAt(outDir, snapshotId).nonEmpty,
      s"cannot tag snapshot $snapshotId under $outDir: no such retained snapshot")
    setTableProps(outDir, Map(s"ref.$name" -> snapshotId.toString))
    ()
  }

  /** Remove a tag (prop tombstone). The formerly tagged snapshot becomes
    * expirable again on the next `expireSnapshots`. */
  def dropTag(outDir: String, name: String): Unit = {
    setTableProps(outDir, Map(s"ref.$name" -> ""))
    ()
  }

  /** All tags on the table: name -> snapshot id. */
  def tags(outDir: String): Map[String, Int] =
    readManifest(outDir).map(_.props.collect {
      case (k, v) if k.startsWith("ref.") =>
        require(v.matches("\\d+"),
          s"corrupt tag prop $k='$v' on $outDir: expected a snapshot id")
        k.stripPrefix("ref.") -> v.toInt
    }).getOrElse(Map.empty)

  /** Snapshot-isolated read of a tagged table version. */
  def readCommittedAtTag(spark: SparkSession, outDir: String, name: String): DataFrame = {
    val id = tags(outDir).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on table $outDir"))
    readCommittedAsOf(spark, outDir, id)
  }

  /** Roll the table back to snapshot `snapshotId` by committing that
    * snapshot's content forward as a NEW snapshot (Iceberg rollback
    * analog) — history is never rewritten in place, so time travel to the
    * rolled-back-over snapshots keeps working until they expire. The
    * commit's operation is "replace" (content CHANGES — stronger than a
    * maintenance "rewrite"): incremental (CDC) reads across it are
    * refused, and incremental curation rebuilds. Streaming-sink markers
    * are NOT rolled back (batches whose data was rolled away stay marked
    * committed — resuming a sink over a rolled-back table needs a fresh
    * checkpoint, the standard lakehouse caveat). Returns the new snapshot
    * id. */
  def rollbackTo(outDir: String, snapshotId: Int, retries: Int = 2): Int = retrying(retries) {
    val target = readManifestAt(outDir, snapshotId).getOrElse(throw new IllegalStateException(
      s"cannot roll back to snapshot $snapshotId under $outDir: " +
        "manifest missing — rewritten or expired"))
    // the target's files may have been rewritten by compaction or GC'd
    // by expiry since its manifest was retained: committing them forward
    // would wedge the table HEAD on missing files
    if (!snapshotIntact(outDir, target))
      throw new IllegalStateException(
        s"cannot roll back to snapshot $snapshotId under $outDir: its data files " +
          "have been rewritten or expired (compaction / expireSnapshots GC)")
    val latest = readManifest(outDir).getOrElse(throw new IllegalStateException(
      s"no committed snapshot under $outDir"))
    if (latest.snapshotId == snapshotId) snapshotId // already there: no-op
    else {
      commitWave(outDir, staging = outDir + "/no-staging", latest.snapshotId + 1,
        target.buckets, target.files, lineage = Seq.empty, inputFps = target.inputFps,
        additive = true, convFpsDir = target.convFpsDir, deleteDirs = target.deleteDirs,
        fpMode = target.fpMode, bucketCount = target.bucketCount,
        operation = "replace", props = unlistedProp(unlistedBuckets(Some(target))),
        schemaDdl = Some(target.schemaDdl))
      latest.snapshotId + 1
    }
  }

  /** Run `attempt` again after each lost optimistic race, at most `retries`
    * more times. The last conflict propagates, and so does at once one
    * that re-validating cannot clear (`retryable` false: bucket overlap,
    * rewritten base, divergent schema/modulus/sidecar), instead of
    * re-paying the validation's Spark scans to throw it again. */
  @annotation.tailrec
  private[spark] def retrying[A](retries: Int)(attempt: => A): A =
    (try Some(attempt) catch {
      case e: CommitConflictException if retries > 0 && e.retryable => None
    }) match {
      case Some(a) => a
      case None => retrying(retries - 1)(attempt)
    }

  /** Metadata table (Iceberg `$snapshots` / `$history` analog): one row
    * per retained snapshot — id, operation, commit instant, file/row/
    * bucket/delete-dir counts, whether it is the current snapshot, and the
    * tags pinning it. Driver-side and manifest-sized: the driver already
    * holds each manifest to read the table at all, so this never touches
    * data files. */
  def readSnapshotsTable(spark: SparkSession, outDir: String): DataFrame = {
    val current = latestSnapshot(outDir)
    val tagged = tags(outDir).toSeq.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val rows = retainedManifests(outDir).map { m =>
      SnapshotMetaRow(m.snapshotId, m.operation, m.committedAt, m.files.size,
        m.files.map(_.rowCount).sum, m.buckets.size, m.deleteDirs.size,
        current.contains(m.snapshotId), tagged.getOrElse(m.snapshotId, Seq.empty),
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl).fieldNames.toSeq)
    }
    import spark.implicits._
    rows.toDF()
  }

  /** Metadata table (Iceberg `$files` analog): one row per committed data
    * file of a snapshot's manifest (default: current) — bucket, path, row
    * count, commit seq, conv_id bounds. Same driver-side cost bound as
    * `readSnapshotsTable`. */
  def readFilesTable(spark: SparkSession, outDir: String,
                     snapshotId: Option[Int] = None): DataFrame = {
    val k = snapshotId.orElse(latestSnapshot(outDir)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $outDir"))
    val man = readManifestAt(outDir, k).getOrElse(throw new IllegalStateException(
      s"no manifest for snapshot $k under $outDir — rewritten or expired"))
    val rows = man.files.map(f => FileMetaRow(man.snapshotId, f.bucket, f.path,
      f.rowCount, f.seq, f.minConv, f.maxConv))
    import spark.implicits._
    rows.toDF()
  }

  /** Metadata table (`$partitions` analog): per-bucket file/row health of
    * the CURRENT snapshot — file counts, rows, small-file debt below
    * `smallRowThreshold`, and pending equality-delete rows. Everything
    * but the delete count comes from the manifest (driver-side,
    * O(manifest)); the delete count is one narrow scan of the tracked
    * delete dirs (delete files are tiny by construction). This is the
    * input a maintenance planner reads to target --compact/--binpack. */
  def readPartitionsTable(spark: SparkSession, outDir: String,
                          smallRowThreshold: Long = 1000L): DataFrame = {
    import spark.implicits._
    val man = readManifest(outDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $outDir"))
    val delByBucket: Map[Int, Long] = {
      val dirs = man.deleteDirs
        .map(d => java.nio.file.Paths.get(outDir, "deletes", d))
        .filter(java.nio.file.Files.isDirectory(_))
      if (dirs.isEmpty) Map.empty
      else spark.read.parquet(dirs.map(_.toString): _*)
        .groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val rows = man.files.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (b, fs) =>
      PartitionMetaRow(b, fs.size, fs.map(_.rowCount).sum,
        fs.count(_.rowCount < smallRowThreshold),
        fs.map(_.rowCount).min, fs.map(_.rowCount).max,
        delByBucket.getOrElse(b, 0L))
    }
    // buckets with only delete debt and no files still surface
    val fileless = delByBucket.keySet -- man.files.map(_.bucket).toSet
    (rows ++ fileless.toSeq.sorted.map(b =>
      PartitionMetaRow(b, 0, 0L, 0, 0L, 0L, delByBucket(b)))).toDF()
  }

  /** Metadata table: the per-bucket lineage rows of every retained
    * snapshot (input row counts, field sums, extraction wall time) — the
    * audit trail for "which run produced this bucket and how long did it
    * take". */
  def readLineageTable(spark: SparkSession, outDir: String): DataFrame = {
    val rows = retainedManifests(outDir).flatMap(m => readLineage(outDir, m.snapshotId))
    import spark.implicits._
    rows.toDF()
  }

  /** Props-only maintenance commit (`ALTER TABLE SET/UNSET TBLPROPERTIES`
    * analog): lays `props` over the sticky table properties without
    * touching data — an empty value retires a key, the operator's removal
    * path for dead markers (e.g. a decommissioned streaming sink). Retries
    * lost optimistic races against the fresh state. Returns the committed
    * snapshot id. */
  def setTableProps(outDir: String, props: Map[String, String], retries: Int = 2): Int =
    retrying(retries) {
      val man = readManifest(outDir).getOrElse(throw new IllegalStateException(
        s"no committed snapshot under $outDir — props live on manifests"))
      commitWave(outDir, staging = outDir + "/no-staging", man.snapshotId + 1,
        man.buckets, man.files, lineage = Seq.empty, inputFps = man.inputFps,
        additive = true, convFpsDir = man.convFpsDir, deleteDirs = man.deleteDirs,
        fpMode = man.fpMode, bucketCount = man.bucketCount,
        operation = "props", props = props)
      man.snapshotId + 1
    }

  /** Per-snapshot lineage rows (empty when the snapshot has no lineage file). */
  def readLineage(outDir: String, snapshotId: Int): Seq[LineageRow] = {
    val p = Paths.get(outDir, "lineage", s"lineage-$snapshotId.json")
    if (Files.exists(p)) readLineageFile(p) else Seq.empty
  }

  private def readLineageFile(p: Path): Vector[LineageRow] =
    readMeta(p).items.map(r => LineageRow(r("snapshot_id").long, r("bucket").long,
      r("row_count").long, r("field_count_sum").long, r("extract_ms").long,
      r("committed_at").str))

  /** Every retained snapshot's manifest, ascending. Listing the snapshot
    * dir beats probing the dense id range: expired tables can have a latest
    * id far above their retained count. Manifest reads only, no data IO. */
  def retainedManifests(outDir: String): Vector[Manifest] =
    snapshotIds(outDir).flatMap(readManifestAt(outDir, _))

  /** Ids of the snapshot manifests on disk, ascending (snap-branch-<name>
    * files are staged branches, not history). */
  private[spark] def snapshotIds(outDir: String): Vector[Int] = {
    val snapDir = Paths.get(outDir, "snapshots")
    if (!Files.isDirectory(snapDir)) Vector.empty
    else listDir(snapDir).map(_.getFileName.toString).collect {
      case n if n.matches("snap-\\d+\\.json") => n.stripPrefix("snap-").stripSuffix(".json").toInt
    }.sorted
  }

  /** Newest modification time anywhere in a file tree — a staging dir or
    * delete dir is only "old" when its most recent write is. Entries that
    * vanish between listing and stat (a concurrent writer renaming temp
    * files) read as "written right now": a tree being actively mutated is
    * never old. */
  private def newestMtime(root: Path): Long = {
    val now = System.currentTimeMillis()
    def mtime(p: Path): Long =
      try Files.getLastModifiedTime(p).toMillis
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => now }
    try {
      val s = Files.walk(root)
      try s.iterator().asScala.map(mtime).foldLeft(Long.MinValue)(_ max _)
      finally s.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => now }
  }

  override def removeOrphanFiles(outDir: String, olderThanMs: Long): OrphanSweep = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    // pending branches' staged files/dirs/sidecars are referenced, not
    // orphaned — include their manifests in every reference set
    val mans = retainedManifests(outDir) ++ pendingBranchManifests(outDir).values
    def oldEnough(p: Path): Boolean =
      try {
        (if (Files.isDirectory(p)) newestMtime(p)
         else Files.getLastModifiedTime(p).toMillis) <= cutoff
      } catch { // vanished mid-check: someone is writing here — not old
        case _: java.io.IOException | _: java.io.UncheckedIOException => false
      }
    // a tree can vanish between the age check and the delete (the writer
    // finished and promoted it) — deletion must tolerate that, not abort
    // the sweep after a successful extraction
    def deleteTreeQuietly(root: Path): Boolean =
      try { deleteRecursively(root); true }
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => false }

    // crashed-run staging dirs at the table root: a commit promotes and
    // removes its staging synchronously, so an old one is always dead
    var stagingDirs = 0
    val root = Paths.get(outDir)
    if (Files.isDirectory(root)) {
      listDir(root).filter { p =>
        Files.isDirectory(p) && p.getFileName.toString.startsWith("staging-") && oldEnough(p)
      }.foreach { p => if (deleteTreeQuietly(p)) stagingDirs += 1 }
    }

    // data files no manifest references (promoted by a commit whose manifest
    // write never landed, or left behind by a non-additive replay)
    var dataFiles = 0
    val dataDir = Paths.get(outDir, "data")
    if (Files.isDirectory(dataDir)) {
      val referenced: Set[String] = mans.flatMap(_.files.map(_.path)).toSet
      listDir(dataDir).filter(_.getFileName.toString.startsWith("bucket=")).foreach { bd =>
        val bucketName = bd.getFileName.toString
        listDir(bd).foreach { f =>
          // only files shaped like manifest-referencable data files: hidden
          // bookkeeping (.crc sidecars, _SUCCESS) belongs to live parquet
          // and is never manifest-listed — not orphaned data
          val rel = s"$bucketName/${f.getFileName}"
          if (isDataFile(f.getFileName.toString) && !referenced.contains(rel) &&
              !Files.isDirectory(f) && oldEnough(f)) {
            if (Files.deleteIfExists(f)) dataFiles += 1
          }
        }
      }
    }

    // delete dirs no manifest tracks — exactly the shape a run that lost its
    // optimistic commit race leaves behind
    var deleteDirs = 0
    val delRoot = Paths.get(outDir, "deletes")
    if (Files.isDirectory(delRoot)) {
      val tracked: Set[String] = mans.flatMap(_.deleteDirs).toSet
      listDir(delRoot).filter { d =>
        !tracked.contains(d.getFileName.toString) && oldEnough(d)
      }.foreach { d => if (deleteTreeQuietly(d)) deleteDirs += 1 }
    }

    // conv-fp sidecar dirs no manifest points at
    var convFpDirs = 0
    val fpRoot = Paths.get(outDir, "conv_fps")
    if (Files.isDirectory(fpRoot)) {
      val referencedFps: Set[String] = mans.flatMap(_.convFpsDir).toSet
      listDir(fpRoot).filter { d =>
        !referencedFps.contains(d.getFileName.toString) && oldEnough(d)
      }.foreach { d => if (deleteTreeQuietly(d)) convFpDirs += 1 }
    }

    OrphanSweep(stagingDirs, dataFiles, deleteDirs, convFpDirs)
  }
}
