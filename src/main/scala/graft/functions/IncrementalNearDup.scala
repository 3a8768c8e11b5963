package graft.functions

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Incremental near-duplicate CLUSTER maintenance — the op that makes
  * near-dup dedup sustainable at 10^12 rows: re-running MinHash/LSH +
  * connected components over the whole corpus per ingest batch is a
  * full-corpus job; this maintains the SAME clusters (byte-equivalent to
  * the from-scratch computation, spec-asserted) with per-batch work
  * bounded by the batch and the duplicate groups it touches.
  *
  * Persisted state under `workDir`:
  *  - `bands/`    (doc_id, band, bp) partitioned by bp = pmod(band, 64):
  *    the LSH band INDEX — the only corpus-sized state; batches touch
  *    only the partitions their bands hash to.
  *  - `pairs/`    (a, b): the verified candidate-pair graph. Pair-graph
  *    sized (orders of magnitude below the corpus), read whole per
  *    batch; at extreme scale partition it by component label.
  *  - `clusters/` (doc_id, cluster): current assignment, cluster = min
  *    doc_id of the connected component (DedupCluster semantics).
  *
  * Per batch (added docs + removed pre-images; an update = remove+add):
  *  1. prune removed docs' bands from the affected index partitions and
  *     insert the added docs' bands;
  *  2. candidate pairs = added bands probed against the updated index
  *     (includes new-new collisions), verified by EXACT shingle jaccard
  *     ≥ 0.5 over texts fetched via `lookupTexts` (batch-bounded keyed
  *     read of the post-batch corpus);
  *  3. the components touched by new pairs or removed docs are
  *     recomputed from their surviving pairs + the new ones (large-star/
  *     small-star — a DELETED bridge doc correctly SPLITS its cluster);
  *     untouched components are never read.
  *
  * Candidate generation uses the same band function as the batch query
  * (q14 nearDupPairs), so incremental and from-scratch find the
  * identical pair set. The batch query's hot-band cap is deliberately
  * NOT applied here (a cap makes membership depend on arrival order);
  * a production deployment would cap probe fanout per band instead.
  */
object IncrementalNearDup {

  final case class BatchStats(added: Long, removed: Long, newPairs: Long,
                              affectedBandParts: Int, clusteredDocs: Long)

  private val BandParts = 64

  private def bandsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(NativeFns.lshBandKeys(col("text"), 3, 64, 16)).as("band"))
      // band keys are strings ("bandIdx:signatureHash") — partition by hash
      .withColumn("bp", pmod(xxhash64(col("band")), lit(BandParts.toLong)).cast("int"))

  private def emptyBands(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, Int)].toDF("doc_id", "band", "bp")
  }

  private def emptyPairs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("a", "b")
  }

  private def emptyClusters(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("doc_id", "cluster")
  }

  private def hasData(dir: Path): Boolean =
    Files.isDirectory(dir) && {
      val s = Files.list(dir)
      try s.toArray.exists(_.asInstanceOf[Path].getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  private def deleteRecursively(p: Path): Unit =
    graft.spark.StateDirs.deleteRecursively(p)

  private def readBandParts(spark: SparkSession, dir: Path, bps: Seq[Int]): DataFrame =
    graft.spark.StateDirs.readPartitioned(spark, dir, "bp", bps, emptyBands(spark))
      .select("doc_id", "band", "bp")

  /** PASSIVE read of a whole-state dir: serves the authoritative dir, or
    * (after a crash between the swap's renames) the completed `.next`,
    * or the `.old` leftover — WITHOUT mutating anything. Only the writer
    * (applyBatch / replaceWhole) runs [[recoverWhole]]'s renames: a
    * reader racing the single writer must never delete its in-progress
    * `.next` write or steal a rename out from under it. */
  private def readWhole(spark: SparkSession, dir: Path, emptyLike: => DataFrame): DataFrame = {
    val next = dir.resolveSibling(dir.getFileName.toString + ".next")
    val old = dir.resolveSibling(dir.getFileName.toString + ".old")
    val src =
      if (Files.exists(dir)) dir
      else if (hasData(next)) next
      else if (hasData(old)) old
      else dir
    if (!hasData(src)) emptyLike else spark.read.parquet(src.toString)
  }

  /** Finish (or discard) a replaceWhole interrupted by a crash. The swap
    * protocol below only ever leaves one of three shapes:
    *  - dir present: authoritative — any `.next` is an unfinished WRITE
    *    (possibly partial parquet) and any `.old` a finished swap's
    *    leftover; both are discardable.
    *  - dir missing, `.next` present: the write COMPLETED (the swap's
    *    first rename only runs after the parquet write returns) — finish
    *    the swap by renaming `.next` into place.
    *  - dir missing, only `.old` present: unreachable under the protocol
    *    (between the two renames `.next` exists), but restoring `.old`
    *    is still the safe reading of it. */
  private def recoverWhole(dir: Path): Unit = {
    val next = dir.resolveSibling(dir.getFileName.toString + ".next")
    val old = dir.resolveSibling(dir.getFileName.toString + ".old")
    if (Files.exists(dir)) { deleteRecursively(next); deleteRecursively(old) }
    else if (Files.exists(next)) { Files.move(next, dir); deleteRecursively(old) }
    else if (Files.exists(old)) Files.move(old, dir)
  }

  /** Replace exactly the `bps` partitions of the band index with `rows`
    * (caller has materialized them — they were read from these dirs). */
  private def replaceBandParts(dir: Path, bps: Seq[Int], rows: DataFrame): Unit =
    graft.spark.StateDirs.replacePartitions(dir, "bp", bps, rows)

  /** Crash-safe replace of a small whole-table state dir (single-writer
    * by contract): write the new state to `.next`, rename the current dir
    * aside to `.old`, rename `.next` into place, then drop `.old`. Unlike
    * delete-then-rename, every crash point leaves a recoverable shape —
    * [[recoverWhole]] (run by the writer at batch start and by the next
    * replace; reads stay passive) either
    * finishes the swap or discards the unfinished write; the state can
    * never silently become empty. */
  private def replaceWhole(dir: Path, rows: DataFrame): Unit = {
    recoverWhole(dir)
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".next")
    val old = dir.resolveSibling(dir.getFileName.toString + ".old")
    graft.spark.StateDirs.write(rows).mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (Files.exists(dir)) Files.move(dir, old)
    Files.move(tmp, dir)
    deleteRecursively(old)
  }

  /** Current cluster assignment (doc_id, cluster). */
  def clusters(spark: SparkSession, workDir: String): DataFrame =
    readWhole(spark, Paths.get(workDir, "clusters"), emptyClusters(spark))

  /** The from-scratch truth the incremental state must equal: uncapped
    * q14 pairs + connected components (the spec's oracle). */
  def fromScratch(spark: SparkSession, corpus: DataFrame): DataFrame =
    DedupCluster.connectedComponents(spark,
      graft.queries.Queries.nearDupPairs(spark, corpus, Int.MaxValue),
      "doc_a", "doc_b")
      .select(col("doc_id"), col("cluster_id").as("cluster"))

  /** Apply one batch. `added`/`removed` are (doc_id, text) frames —
    * `removed` carries PRE-IMAGE text so its bands can be pruned without
    * a corpus scan; `lookupTexts` resolves candidate ids against the
    * POST-batch corpus (added docs included). */
  def applyBatch(spark: SparkSession, workDir: String,
                 added: DataFrame, removed: DataFrame,
                 lookupTexts: Seq[Long] => DataFrame): BatchStats = {
    val bandsDir = Paths.get(workDir, "bands")
    val pairsDir = Paths.get(workDir, "pairs")
    val clustersDir = Paths.get(workDir, "clusters")
    Files.createDirectories(Paths.get(workDir))
    // writer-side crash recovery up front: finish (or discard) any swap a
    // previous batch's crash interrupted, so this batch reads and replaces
    // authoritative dirs (reads themselves never mutate)
    recoverWhole(pairsDir); recoverWhole(clustersDir)

    val addB = bandsOf(added.select("doc_id", "text")).localCheckpoint(true)
    val remB = bandsOf(removed.select("doc_id", "text")).localCheckpoint(true)
    val remIds: Seq[Long] = removed.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val affBp = addB.select("bp").union(remB.select("bp"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

    // ---- 1. band index: prune removed, insert added (affected parts only)
    val nNew = added.select("doc_id").distinct().count()
    if (affBp.nonEmpty) {
      val idxAff = readBandParts(spark, bandsDir, affBp)
      val keptIdx =
        if (remIds.isEmpty) idxAff
        else idxAff.where(!col("doc_id").isin(remIds: _*))
      // distinct = re-apply idempotence: replaying a batch whose index
      // write landed but whose pair/cluster writes did not must not
      // duplicate the added docs' band rows
      val newIdx = keptIdx.unionByName(addB).distinct().localCheckpoint(true)
      replaceBandParts(bandsDir, affBp, newIdx)

      // ---- 2. candidates: probe the UPDATED index with the added bands
      val probe = addB.select(col("band"), col("doc_id").as("nd"))
      val cand = newIdx.join(probe, "band")
        .where(col("doc_id") =!= col("nd"))
        .select(least(col("doc_id"), col("nd")).as("a"),
          greatest(col("doc_id"), col("nd")).as("b"))
        .distinct().localCheckpoint(true)
      val candIds = cand.select(col("a").as("doc_id"))
        .union(cand.select(col("b").as("doc_id")))
        .distinct().collect().map(_.getLong(0)).toSeq
      val verified =
        if (candIds.isEmpty) emptyPairs(spark)
        else {
          val texts = lookupTexts(candIds).select("doc_id", "text")
          cand
            .join(texts.as("ta"), col("a") === col("ta.doc_id"))
            .join(texts.as("tb"), col("b") === col("tb.doc_id"))
            .where(NativeFns.jaccardShingles1000(
              col("ta.text"), col("tb.text"), 3) >= 500)
            .select("a", "b").localCheckpoint(true)
        }

      // ---- 3. component-scoped recompute
      val oldPairs = readWhole(spark, pairsDir, emptyPairs(spark))
      val prunedPairs =
        if (remIds.isEmpty) oldPairs
        else oldPairs.where(!col("a").isin(remIds: _*) && !col("b").isin(remIds: _*))
      val oldClusters = readWhole(spark, clustersDir, emptyClusters(spark))
      val touched = verified.select(col("a").as("doc_id"))
        .union(verified.select(col("b").as("doc_id")))
        .union(removed.select("doc_id"))
        .distinct()
      val affLabels = oldClusters.join(touched, Seq("doc_id"), "left_semi")
        .select("cluster").distinct().localCheckpoint(true)
      // a pair's endpoints share a label, so labeling by `a` is exact
      val labeledPairs = prunedPairs
        .join(oldClusters.withColumnRenamed("doc_id", "a"), Seq("a"), "left")
      val subPairs = labeledPairs.join(affLabels, Seq("cluster"), "left_semi")
        .select("a", "b").unionByName(verified).distinct().localCheckpoint(true)
      val keptPairs = labeledPairs.join(affLabels, Seq("cluster"), "left_anti")
        .select("a", "b")
      val relabeled =
        if (subPairs.isEmpty) emptyClusters(spark)
        else DedupCluster.connectedComponents(spark, subPairs, "a", "b")
          .select(col("doc_id"), col("cluster_id").as("cluster"))
      // untouched components stay verbatim; affected ones are replaced
      // (vertices whose pairs all vanished drop out, like from-scratch)
      val keptClusters = oldClusters.join(affLabels, Seq("cluster"), "left_anti")
        .select("doc_id", "cluster")
      val newClusters = keptClusters.unionByName(relabeled).localCheckpoint(true)
      val newPairs = keptPairs.unionByName(subPairs).distinct().localCheckpoint(true)
      replaceWhole(pairsDir, newPairs)
      replaceWhole(clustersDir, newClusters)
      BatchStats(nNew, remIds.size.toLong, verified.count(), affBp.size,
        newClusters.count())
    } else BatchStats(nNew, remIds.size.toLong, 0L, 0,
      readWhole(spark, clustersDir, emptyClusters(spark)).count())
  }
}
