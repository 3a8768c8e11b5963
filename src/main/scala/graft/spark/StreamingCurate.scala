package graft.spark

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Incremental (streaming) curation over a graft table's change feed —
  * the natural 100 TB maintenance loop: instead of re-curating the whole
  * corpus after every upstream correction, each cycle applies the quality
  * gate and exact keep-first dedup to the feed's net post-images against
  * PERSISTED distributed state, and repairs exactly the duplicate groups
  * the batch touched.
  *
  * State layout (both parquet, partitioned by hash bucket `hb`):
  *  - `<work>/state`:   (h, conv_id, turn_idx, hb) — one row per LIVE
  *    gated turn: THE exact-dedup hash set as a table, never driver
  *    memory. Slim (two keys + a 64-bit hash), columnar, pruned by hb.
  *  - `<work>/curated`: (h, conv_id, turn_idx, fields_json, main_text,
  *    hb) — the materialized curated corpus: per content hash, the
  *    minimum (conv_id, turn_idx) among live gated rows.
  *  - `<work>/_last_snapshot`: the cycle checkpoint marker.
  *
  * Per-cycle work is bounded by the batch: post-images and the replaced
  * convs' pre-images (time travel to the last curated snapshot) define
  * the affected hash set; only the touched hb partitions of state and
  * curated are rewritten (materialize-then-replace, so a partition that
  * empties is still rewritten — dynamic partition overwrite would skip
  * it and leak stale rows). Keeper repair re-reads keeper rows from the
  * TABLE (snapshot-pinned), so curated text is always the table's truth.
  *
  * Equivalence invariant (spec'd in StreamingCurateSpec): after any
  * sequence of upstream appends/corrections and curation cycles, the
  * curated table equals the from-scratch gate+dedup curation of the
  * table's current committed snapshot.
  *
  * Caveats, by design: the pre-image read needs the previous cycle's
  * snapshot retained (cycle faster than expiry, or the cycle fails
  * LOUDLY with the history-loss error); per-cycle changed-conv and
  * keeper-conv key lists are collected to the driver (batch-bounded,
  * like the format's per-batch bucket lists). */
object StreamingCurate {

  final case class CycleStats(from: Int, to: Int, upserts: Long, deletedConvs: Long,
                              affectedHashBuckets: Int, curatedRows: Long)

  /** Row-local quality gate for transcript turns: non-blank extraction
    * with a bounded token count (the transcript twin of CurateMain's
    * document gate — same shape, turn-level fields). */
  private[graft] def gate(turns: DataFrame): DataFrame =
    turns.where(length(trim(col("main_text"))) > 0 &&
      size(split(trim(col("main_text")), "\\s+")).between(1, 900))

  private def withHash(df: DataFrame, hashBuckets: Int): DataFrame =
    df.withColumn("h", xxhash64(col("main_text")))
      .withColumn("hb", pmod(col("h"), lit(hashBuckets)).cast("int"))

  /** From-scratch curation of a committed snapshot — the semantics the
    * incremental loop must reproduce (and the spec's oracle): per content
    * hash keep the minimum (conv_id, turn_idx) gated row. */
  def curateFromScratch(turns: DataFrame, hashBuckets: Int = 64): DataFrame =
    withHash(gate(turns), hashBuckets)
      .groupBy("h")
      .agg(min_by(
        struct(col("conv_id"), col("turn_idx"), col("fields_json"), col("main_text"), col("hb")),
        struct(col("conv_id"), col("turn_idx"))).as("r"))
      .select(col("h"), col("r.conv_id"), col("r.turn_idx"),
        col("r.fields_json"), col("r.main_text"), col("r.hb"))

  private def markerPath(work: String): Path = Paths.get(work, "_last_snapshot")

  def lastCuratedSnapshot(work: String): Int =
    if (Files.exists(markerPath(work)))
      new String(Files.readAllBytes(markerPath(work)), StandardCharsets.UTF_8).trim.toInt
    else -1

  private def writeMarker(work: String, snap: Int): Unit = {
    Files.createDirectories(Paths.get(work))
    val tmp = Paths.get(work, "_last_snapshot.tmp")
    Files.write(tmp, snap.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, markerPath(work),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // partitioned-state plumbing shared with IncrementalNearDup (StateDirs)
  private def deleteRecursively(p: Path): Unit = StateDirs.deleteRecursively(p)

  private def hasPartitions(dir: Path): Boolean = StateDirs.hasPartitions(dir, "hb")

  private def readPartitioned(spark: SparkSession, dir: Path, hbs: Seq[Int],
                              emptyLike: => DataFrame): DataFrame =
    StateDirs.readPartitioned(spark, dir, "hb", hbs, emptyLike)

  private def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, Int, Int)].toDF("h", "conv_id", "turn_idx", "hb")
  }

  private def emptyCurated(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, Int, String, String, Int)]
      .toDF("h", "conv_id", "turn_idx", "fields_json", "main_text", "hb")
  }

  private def replacePartitions(dir: Path, hbs: Seq[Int], rows: DataFrame): Unit =
    StateDirs.replacePartitions(dir, "hb", hbs, rows)

  /** One curation cycle: consume the change feed from the last curated
    * snapshot to the table head, update state + curated corpus. Returns
    * None when the table has no new snapshot.
    *
    * "rewrite" commits (compaction, binpack, sorted rewrite, rebucket)
    * preserve served content but PHYSICALLY rewrite the affected files —
    * pre-rewrite snapshots may no longer be readable, so a backlog
    * cannot be consumed across one; "replace" commits (full-bucket
    * recompute, rollback) CHANGE content outright. The cycle therefore:
    *  - advances the checkpoint over LEADING "rewrite" commits with zero
    *    data work (the common curate→maintain→delta cadence),
    *  - REBUILDS (fresh bootstrap from the head snapshot) when any
    *    "replace" appears, or when a rewrite landed on top of unconsumed
    *    deltas — the only sound recovery, and always correct because
    *    from-scratch IS the target semantics.
    * Operationally: cycle at least as often as you compact, or pay a
    * rebuild. */
  def cycle(spark: SparkSession, tableDir: String, workDir: String,
            hashBuckets: Int = 64): Option[CycleStats] = {
    val fmt = SnapshotManifestFormat
    val head = fmt.latestSnapshot(tableDir).getOrElse(return None)
    val last = lastCuratedSnapshot(workDir)
    if (head == last) return None
    require(last < head, s"curation checkpoint $last is ahead of table head $head under $tableDir")
    if (last >= 0) {
      // segment the range at replace commits; each segment is a batch
      val ops = (last + 1 to head).map { k =>
        k -> fmt.readManifestAt(tableDir, k)
          .getOrElse(throw new IllegalStateException(
            s"snapshot $k expired before curation consumed it — cycle faster than retention, " +
              "or rebuild the curation state from scratch"))
          .operation
      }
      if (ops.exists(o => o._2 == "replace" || o._2 == "rewrite")) {
        // leading content-PRESERVING rewrites (compaction/binpack/sorted
        // rewrite/rebucket): served rows unchanged, checkpoint advances
        // free. A "replace" (full-bucket recompute, rollback) CHANGES
        // content and can never be skipped.
        var from = last
        while (ops.exists { case (k, op) => k == from + 1 && op == "rewrite" })
          { writeMarker(workDir, from + 1); from += 1 }
        if (ops.exists { case (k, op) =>
              k > from && (op == "replace" || op == "rewrite") }) {
          // a replace/rewrite buried unconsumed deltas (or content itself
          // changed) — pre-rewrite files are physically gone, so rebuild
          // from the head snapshot (always correct: from-scratch IS the
          // target semantics)
          deleteRecursively(Paths.get(workDir, "state"))
          deleteRecursively(Paths.get(workDir, "curated"))
          val s = cycleBatch(spark, tableDir, workDir, hashBuckets, -1, head)
          return Some(s.copy(from = last))
        }
        if (from == head)
          return Some(CycleStats(last, head, 0L, 0L, 0, readCount(workDir)))
        return Some(cycleBatch(spark, tableDir, workDir, hashBuckets, from, head)
          .copy(from = last))
      }
    }
    Some(cycleBatch(spark, tableDir, workDir, hashBuckets, last, head))
  }

  /** One contiguous incremental batch over (last, head] (last < 0 =
    * bootstrap from the full committed snapshot). */
  private def cycleBatch(spark: SparkSession, tableDir: String, workDir: String,
                         hashBuckets: Int, last: Int, head: Int): CycleStats = {
    val bootstrap = last < 0

    val fmt = SnapshotManifestFormat
    val keyCols = Seq("h", "conv_id", "turn_idx", "hb")
    val posts =
      if (bootstrap) fmt.readCommittedAsOf(spark, tableDir, head) // pinned
      else fmt.readAppendsBetween(spark, tableDir, last, head)
    // changed upsert keys: conv-grained, batch-bounded
    val delConvs: Seq[String] =
      if (bootstrap) Seq.empty
      else fmt.readDeleteKeysBetween(spark, tableDir, last, head)
        .select("conv_id").distinct().collect().map(_.getString(0)).toSeq

    // materialize the batch-derived key sets once (they drive several
    // joins below and must survive the partition replacement)
    val newGated = withHash(gate(posts), hashBuckets)
      .select(keyCols.map(col): _*).localCheckpoint(true)
    val oldGated =
      if (delConvs.isEmpty) emptyState(spark)
      else withHash(gate(
        fmt.readCommittedAsOf(spark, tableDir, last)
          .where(col("conv_id").isin(delConvs: _*))), hashBuckets)
        .select(keyCols.map(col): _*).localCheckpoint(true)

    val affHashes = newGated.select("h").union(oldGated.select("h"))
      .distinct().localCheckpoint(true)
    val affHb = newGated.select("hb").union(oldGated.select("hb"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val stateDir = Paths.get(workDir, "state")
    val curatedDir = Paths.get(workDir, "curated")

    if (affHb.nonEmpty) {
      // ---- state: drop replaced convs' rows, add the batch's gated rows
      val stateAff = readPartitioned(spark, stateDir, affHb, emptyState(spark))
        .select(keyCols.map(col): _*)
      val keptState =
        if (delConvs.isEmpty) stateAff
        else stateAff.where(!col("conv_id").isin(delConvs: _*))
      // distinct = crash idempotence: a cycle that died between this
      // write and the marker re-runs the same batch, and its newGated
      // rows are already in the partitions it reads back — without the
      // dedup the state would hold duplicates forever
      val newState = keptState.unionByName(newGated).distinct().localCheckpoint(true)
      replacePartitions(stateDir, affHb, newState)

      // ---- curated: recompute keepers for exactly the affected hashes
      val keepers = newState.join(affHashes, "h")
        .groupBy("h")
        .agg(min_by(struct(col("conv_id"), col("turn_idx")),
          struct(col("conv_id"), col("turn_idx"))).as("k"))
        .select(col("h"), col("k.conv_id").as("conv_id"), col("k.turn_idx").as("turn_idx"))
        .localCheckpoint(true)
      val keeperConvs = keepers.select("conv_id").distinct()
        .collect().map(_.getString(0)).toSeq
      // keeper rows re-read from the TABLE at the pinned head snapshot —
      // curated text is always the table's truth, never a stale copy
      val fetched =
        if (keeperConvs.isEmpty) emptyCurated(spark)
        else withHash(gate(
          fmt.readCommittedAsOf(spark, tableDir, head)
            .where(col("conv_id").isin(keeperConvs: _*))), hashBuckets)
          .join(keepers, Seq("h", "conv_id", "turn_idx"))
          .select(col("h"), col("conv_id"), col("turn_idx"),
            col("fields_json"), col("main_text"), col("hb"))
      val curatedAff = readPartitioned(spark, curatedDir, affHb, emptyCurated(spark))
        .select(col("h"), col("conv_id"), col("turn_idx"),
          col("fields_json"), col("main_text"), col("hb"))
      val newCurated = curatedAff.join(affHashes, Seq("h"), "left_anti")
        .unionByName(fetched).localCheckpoint(true)
      // running corpus count: prev - (affected partitions' old rows) +
      // (their new rows) — batch-bounded counts, never a full curated
      // scan (O(corpus files) per cycle at the design point). The old
      // count MUST be taken before the partitions are replaced. Crash
      // caveat (reporting stat only — corpus content is governed by the
      // idempotent partition writes): dying between the partition write
      // and the count write makes the re-run see delta 0 for the batch,
      // so the count lags by that one batch's delta; it stays internally
      // consistent afterwards and any rebuild resets it exactly.
      val oldAffRows = curatedAff.count()
      val prev = if (bootstrap) 0L else readCount(workDir)
      replacePartitions(curatedDir, affHb, newCurated)
      writeCount(workDir, prev - oldAffRows + newCurated.count())
    } else if (bootstrap) writeCount(workDir, 0L)

    writeMarker(workDir, head)
    CycleStats(last, head, newGated.count(), delConvs.size.toLong,
      affHb.size, readCount(workDir))
  }

  private def countPath(work: String): Path = Paths.get(work, "_curated_rows")

  /** The running curated-row count, written by every cycle before its
    * checkpoint marker. */
  private def readCount(work: String): Long = {
    if (!Files.exists(countPath(work)))
      throw new IllegalStateException(
        s"curation workdir $work has a checkpoint but no ${countPath(work).getFileName} " +
          "count: it was written in an older layout, which is not migrated — rebuild " +
          "the curation state from scratch")
    new String(Files.readAllBytes(countPath(work)), StandardCharsets.UTF_8).trim.toLong
  }

  private def writeCount(work: String, n: Long): Unit = {
    val tmp = Paths.get(work, "_curated_rows.tmp")
    Files.write(tmp, n.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, countPath(work),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The full curated corpus as currently materialized. */
  def readCurated(spark: SparkSession, workDir: String): DataFrame = {
    val dir = Paths.get(workDir, "curated")
    if (hasPartitions(dir)) spark.read.parquet(dir.toString)
    else emptyCurated(spark)
  }
}
