package graft.spark

import java.nio.file.{Files, Path, Paths}
import graft.model.{JArr, JBool, JInt, JObj, JStr, Json}
import scala.jdk.CollectionConverters._

/** Table integrity checker (`JobMain --doctor`): verifies every structural
  * invariant the format relies on and REPORTS, never repairs — the ops
  * complement to the crash-recovery paths, which can only heal shapes they
  * can classify. Everything here is driver-side and manifest-sized: it
  * reads manifests, refs, markers, and (bounded) parquet FOOTERS — never
  * data pages — so at 100 TB the doctor's cost is the metadata listing,
  * not a scan. Modeled on `iceberg verify`-style table audits.
  *
  * Severity model: `errors` are invariant violations a reader would trip
  * on (missing files the head references, row-count drift, unparseable
  * schema/refs); `warnings` are legitimate-but-notable states (pending
  * branches, crash remnants awaiting abandonBranch, time-travel history
  * already rewritten, orphan candidates awaiting the sweep).
  */
object TableDoctor {

  final case class Finding(check: String, detail: String)

  final case class Report(head: Option[Int], snapshots: Int,
                          errors: Vector[Finding], warnings: Vector[Finding],
                          info: Map[String, Long]) {
    def ok: Boolean = errors.isEmpty
    def render: String = {
      def arr(fs: Vector[Finding]) =
        JArr(fs.map(f => JObj.of("check" -> JStr(f.check), "detail" -> JStr(f.detail))))
      Json.renderCompact(JObj.of("ok" -> JBool(ok), "head" -> JInt(head.getOrElse(-1).toLong),
        "snapshots" -> JInt(snapshots), "errors" -> arr(errors), "warnings" -> arr(warnings),
        "info" -> JObj(info.toVector.sortBy(_._1).map { case (k, v) => k -> JInt(v) })))
    }
  }

  /** `maxFooterChecks` bounds the per-file footer row-count verification
    * (the only per-file I/O): beyond the cap the remaining files get the
    * existence check only, and the skip is REPORTED (no silent cap). */
  def diagnose(outDir: String, maxFooterChecks: Int = 10000): Report = {
    val fmt = SnapshotManifestFormat
    val errs = Vector.newBuilder[Finding]
    val warns = Vector.newBuilder[Finding]
    var info = Map.empty[String, Long]

    // Every metadata read is defensive: the doctor's whole purpose is to
    // REPORT broken tables, so a read that the format itself would crash
    // on (garbage _latest, corrupt branch ref, truncated branch manifest,
    // a manifest in an older layout) becomes an error FINDING here, never
    // a propagated exception.
    val head: Option[Int] =
      try fmt.latestSnapshot(outDir)
      catch { case e: Exception =>
        errs += Finding("head-pointer", s"_latest does not parse: ${e.getMessage}")
        None
      }
    val mans = fmt.snapshotIds(outDir).flatMap { k =>
      try fmt.readManifestAt(outDir, k)
      catch { case e: Exception =>
        errs += Finding("manifest-format", e.getMessage)
        None
      }
    }
    info += ("retained_snapshots" -> mans.size.toLong)
    val branchRefs: Map[String, Int] =
      try fmt.branches(outDir)
      catch { case e: Exception =>
        errs += Finding("branch-ref", s"branch refs do not parse: ${e.getMessage}")
        Map.empty
      }
    val pendingMans: Map[String, ExtractionJob.Manifest] =
      try fmt.pendingBranchManifests(outDir)
      catch { case e: Exception =>
        errs += Finding("branch", s"a staged branch manifest does not parse: ${e.getMessage}")
        Map.empty
      }

    // 1) the head pointer names a retained manifest
    head match {
      case None =>
        if (mans.nonEmpty)
          errs += Finding("head-pointer",
            s"no _latest pointer but ${mans.size} manifest(s) exist")
      case Some(h) if !Files.exists(Paths.get(outDir, "snapshots", s"snap-$h.json")) =>
        errs += Finding("head-pointer", s"_latest names snapshot $h but snap-$h.json is missing")
      case _ =>
    }
    val headMan = head.flatMap(h => mans.find(_.snapshotId == h))

    // 2) head snapshot intact + footer row counts match the manifest
    headMan.foreach { man =>
      var footerChecked = 0L
      man.files.foreach { f =>
        val p = Paths.get(outDir, "data", f.path)
        if (!Files.exists(p))
          errs += Finding("head-data-file", s"manifest lists missing data file ${f.path}")
        else if (footerChecked < maxFooterChecks) {
          footerChecked += 1
          footerRowCount(p) match {
            case Some(n) if n != f.rowCount =>
              errs += Finding("row-count",
                s"${f.path}: footer has $n rows, manifest records ${f.rowCount}")
            case None =>
              errs += Finding("footer", s"${f.path}: unreadable parquet footer")
            case _ =>
          }
        }
      }
      info += ("head_files" -> man.files.size.toLong)
      info += ("footer_checked" -> footerChecked)
      if (man.files.size > maxFooterChecks)
        warns += Finding("footer-cap",
          s"footer verification capped at $maxFooterChecks of ${man.files.size} files " +
            "(existence still checked for all); raise maxFooterChecks to cover the rest")
      man.deleteDirs.foreach { d =>
        if (!Files.isDirectory(Paths.get(outDir, "deletes", d)))
          errs += Finding("head-delete-dir", s"manifest lists missing delete dir $d")
        else if (fmt.deleteDirSeq(d).isEmpty)
          errs += Finding("delete-dir-name", s"delete dir $d has no parsable commit seq")
        else if (fmt.deleteDirSeq(d).exists(s => s > man.snapshotId))
          errs += Finding("delete-dir-seq",
            s"delete dir $d carries seq ${fmt.deleteDirSeq(d).get} beyond head ${man.snapshotId}")
      }
      man.convFpsDir.foreach { d =>
        if (!Files.isDirectory(Paths.get(outDir, "conv_fps", d)))
          errs += Finding("sidecar", s"manifest references missing conv-fp sidecar $d")
      }
      try { org.apache.spark.sql.types.StructType.fromDDL(man.schemaDdl); () }
      catch { case e: Exception =>
        errs += Finding("schema", s"head schema DDL does not parse: ${e.getMessage}")
      }
    }

    // 3) retained non-head history: non-intact snapshots are legitimate
    // after compaction/expiry (time travel reports them distinctly) —
    // warn, don't error
    val unavailable = mans.filter(m => !head.contains(m.snapshotId))
      .filterNot(m => fmt.snapshotIntact(outDir, m))
    if (unavailable.nonEmpty)
      warns += Finding("time-travel",
        s"${unavailable.size} retained snapshot(s) no longer intact " +
          s"(rewritten/expired files): ${unavailable.map(_.snapshotId).sorted.mkString(",")}")

    // 4) tags must name retained manifests (tags live in the head
    // manifest's props, so a garbage head pointer surfaces here too —
    // already reported above, not worth a second crash)
    val tagMap =
      try fmt.tags(outDir)
      catch { case _: Exception => Map.empty[String, Int] }
    tagMap.foreach { case (name, id) =>
      if (!mans.exists(_.snapshotId == id))
        errs += Finding("tag", s"tag '$name' names expired snapshot $id")
    }

    // 5) branch refs, classified exactly like the recovery paths
    var pending = 0L; var remnants = 0L
    branchRefs.foreach { case (name, id) =>
      val bman =
        try fmt.readBranchManifest(outDir, name)
        catch { case e: Exception =>
          errs += Finding("branch",
            s"staged manifest of branch '$name' does not parse: ${e.getMessage}")
          None
        }
      bman match {
        case Some(m) =>
          pending += 1
          if (!fmt.snapshotIntact(outDir, m))
            errs += Finding("branch", s"pending branch '$name' references missing files")
        case None =>
          remnants += 1
          warns += Finding("branch-remnant",
            s"branch '$name' is a crashed stage/publish/abandon remnant (ref id $id, " +
              "no staged manifest) -- run abandonBranch (or publishBranch, which " +
              "resolves landed publishes via the intent marker)")
      }
    }
    info += ("pending_branches" -> pending)
    info += ("branch_remnants" -> remnants)

    // 6) stale publish-intent markers without a branch are leftovers of a
    // fully retired publish's last crash window — harmless, but report
    val snapDir = Paths.get(outDir, "snapshots")
    if (Files.isDirectory(snapDir)) {
      val markers = listNames(snapDir).filter(n =>
        n.startsWith("publish-intent-") && n.endsWith(".json"))
      val orphanMarkers = markers.map(_.stripPrefix("publish-intent-").stripSuffix(".json"))
        .filterNot(branchRefs.contains)
      if (orphanMarkers.nonEmpty)
        warns += Finding("intent-marker",
          s"publish-intent marker(s) without a branch ref: ${orphanMarkers.sorted.mkString(",")} " +
            "(retired publish's final crash window; safe to delete)")
    }

    // 7) orphan candidates (counts only -- removeOrphanFiles is the fix);
    // "data file" means exactly what the committer's isDataFile means, so
    // the two can never drift apart
    val allRefs = mans ++ pendingMans.values
    val referencedData: Set[String] = allRefs.flatMap(_.files.map(_.path)).toSet
    val dataDir = Paths.get(outDir, "data")
    var orphanData = 0L
    if (Files.isDirectory(dataDir)) {
      listChildren(dataDir).filter(_.getFileName.toString.startsWith("bucket=")).foreach { bd =>
        listChildren(bd).foreach { f =>
          val n = f.getFileName.toString
          if (fmt.isDataFile(n) && !referencedData.contains(s"${bd.getFileName}/$n"))
            orphanData += 1
        }
      }
    }
    val referencedDels: Set[String] = allRefs.flatMap(_.deleteDirs).toSet
    val delDir = Paths.get(outDir, "deletes")
    val orphanDels =
      if (!Files.isDirectory(delDir)) 0L
      else listChildren(delDir).count(d => !referencedDels.contains(d.getFileName.toString)).toLong
    val stagingDirs =
      listChildren(Paths.get(outDir)).count(p =>
        Files.isDirectory(p) && p.getFileName.toString.startsWith("staging-")).toLong
    info += ("orphan_data_files" -> orphanData)
    info += ("orphan_delete_dirs" -> orphanDels)
    info += ("staging_dirs" -> stagingDirs)
    if (orphanData > 0 || orphanDels > 0 || stagingDirs > 0)
      warns += Finding("orphans",
        s"$orphanData unreferenced data file(s), $orphanDels untracked delete dir(s), " +
          s"$stagingDirs staging dir(s) -- removeOrphanFiles sweeps these once old enough")

    Report(head, mans.size, errs.result(), warns.result(), info)
  }

  private def footerRowCount(p: Path): Option[Long] =
    try {
      val reader = StateDirs.openFooter(p)
      try Some(reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      finally reader.close()
    } catch { case _: Exception => None }

  private def listChildren(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else SnapshotManifestFormat.listDir(dir)

  private def listNames(dir: Path): Vector[String] =
    listChildren(dir).map(_.getFileName.toString)
}
