package graft

import org.apache.spark.sql.SparkSession
import graft.model.{JStr, Json}
import graft.spark.SnapshotManifestFormat

/** spark-submit entry point for the north-star extraction job:
  *
  *   spark-submit --class graft.JobMain <jar> <inputParquet> <outDir> \
  *     [buckets] [waves] [--fingerprint-inputs | --conv-grained] [--compact]
  *     [--expire=N] [--remove-orphans=AGE_MS] [--stream-ingest=CKPT_DIR]
  *
  * --fingerprint-inputs enables change-detection resume: committed buckets
  * whose input content changed since their snapshot are recomputed (one
  * extra narrow aggregation scan of the input per run).
  * --conv-grained upgrades change detection to conversation grain
  * (merge-on-read: only changed conversations recompute, committed as
  * delta + equality-delete files). --compact runs merge-on-read
  * compaction after the extraction run (rewrite_data_files analog).
  * --expire=N retains only the N most recent snapshots and GCs files no
  * retained manifest references (expire_snapshots analog; time travel to
  * expired snapshots becomes unavailable).
  * --expire-branches=AGE_MS abandons pending WAP branches staged longer
  * ago than AGE_MS (branch max-ref-age retention): a never-published
  * stage pins its files against GC forever otherwise.
  * --get-conv=ID[,ID...] skips extraction and performs a keyed read of the
  * committed table instead: manifest-level data skipping (recorded bucket
  * modulus + per-file conv_id bounds) plans only the files that can hold
  * the requested conversations — the point-lookup path on a 10^12-turn
  * table. Prints row/file counts as JSON.
  * --appends-since=N skips extraction and runs an incremental append scan
  * of (N, latest]: the CDC path downstream consumers poll instead of
  * re-scanning the table. Prints appended-row and changed-key counts.
  * --remove-orphans=AGE_MS sweeps files no manifest references and older
  * than AGE_MS (remove_orphan_files analog): crashed staging dirs,
  * promoted-but-uncommitted data files, lost-race delete dirs. The age
  * threshold keeps the sweep clear of in-flight writers.
  * --stream-ingest=CKPT_DIR replaces the batch run with the exactly-once
  * streaming sink: <inputParquet> is tailed as a file stream and each
  * micro-batch commits one additive snapshot; a crash-replayed batch is
  * detected via the manifest's sticky stream marker and skipped. The
  * maintenance flags (--compact, --expire, --remove-orphans) still apply
  * after ingestion. On an existing table the recorded bucket modulus wins
  * over the positional [buckets] argument.
  * --replicate=CKPT_DIR replaces the batch run with incremental table
  * replication: <inputParquet> is a SOURCE snapshot table whose change
  * feed is drained into <outDir> as merge-on-read deltas (equality
  * deletes for retractions, additive post-image files), one exactly-once
  * snapshot per micro-batch. The replica adopts the source bucket layout;
  * maintenance flags apply to the replica after the pass.
  * --to-branch=NAME stages the run's conv-grained delta commit on an
  * unpublished branch ref (write-audit-publish): readers of the table see
  * nothing until --publish-branch (which cherry-picks over any commits
  * that landed while the branch pended) or --abandon-branch; the table
  * stays fully writable meanwhile. --audit-branch=NAME prints the
  * structural audit
  * (key uniqueness under MOR deletes, null payloads, file intactness) and
  * exits nonzero when it fails, so
  * `--audit-branch=N && --publish-branch=N` is the WAP pipeline.
  * --branches lists branch refs. --files[=SNAP] prints the $files
  * metadata table (per-file bucket/rows/seq/conv bounds) of the current
  * or a retained snapshot; --lineage prints the per-bucket audit trail;
  * both honor --limit=N (default 10000) so the driver-side print stays
  * bounded on huge manifests. --partitions[=SMALL_ROWS] prints the
  * $partitions per-bucket health table (files, rows, small-file debt,
  * pending delete rows) — the maintenance planner's compact/binpack
  * targeting input.
  * --doctor[=MAX_FOOTER_CHECKS] prints a table integrity report
  * (errors/warnings/info JSON; see graft.spark.TableDoctor): head
  * pointer and manifest consistency, per-file existence + footer
  * row-count verification (bounded, cap reported), delete-dir and
  * sidecar presence, schema parse, tag targets, branch-ref
  * classification (pending vs crash remnants), stale intent markers,
  * and orphan candidate counts. Reports, never repairs.
  * --curate-increment=WORKDIR runs one incremental curation cycle over
  * the table's change feed (quality gate + exact keep-first dedup
  * against persisted distributed state under WORKDIR; see
  * graft.spark.StreamingCurate) and prints the cycle stats.
  * --set-prop=KEY=VALUE (repeatable) commits sticky table properties after
  * the run (ALTER TABLE SET TBLPROPERTIES analog); an empty VALUE retires
  * the key — the removal path for a decommissioned sink's marker.
  * --binpack=MIN_ROWS coalesces every bucket's data files smaller than
  * MIN_ROWS into one sorted run per bucket without touching healthy
  * files (rewrite_data_files binpack-strategy analog — the routine
  * small-file maintenance between full compactions; MOR deletes are
  * applied to the rewritten rows and carried for the rest).
  * --rewrite-sorted=ROWS_PER_FILE rewrites every bucket as sorted files
  * split at the target row count (rewrite_data_files with a sort
  * strategy): per-file conv_id bounds become disjoint slices of each
  * bucket, so keyed reads prune inside huge buckets; pending deletes are
  * applied by the rewrite.
  * --rebucket=N rewrites the whole table under a new bucket modulus as one
  * replacing snapshot (partition evolution for a hash layout); pending
  * deletes are applied by the rewrite and the conv-fp sidecar is re-keyed,
  * so incremental runs continue seamlessly under the new modulus. The
  * batch run, like the streaming sink, treats an existing table's RECORDED
  * modulus as authoritative over the positional [buckets] argument.
  *
  * Input: a parquet table of transcript turns with columns
  * (conv_id string, turn_idx int, role string, text string, tool string,
  * ts timestamp) — the BASELINE.json input hint. Output: the snapshot-
  * manifest table under <outDir> (data/ + snapshots/ + lineage/), resumable:
  * re-submitting after a kill skips every committed bucket.
  *
  * On a cluster the session comes from spark-submit (master/executors from
  * the launcher); builder settings here only fill local-run defaults.
  */
object JobMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: JobMain <inputParquet> <outDir> [buckets] [waves] " +
        "[--fingerprint-inputs | --conv-grained] [--compact]")
    val fingerprint = args.contains("--fingerprint-inputs")
    val convGrained = args.contains("--conv-grained")
    val doCompact = args.contains("--compact")
    val orphanAge = intFlag(args, "--remove-orphans=AGE_MS", min = 0)
    val branchTtl = intFlag(args, "--expire-branches=AGE_MS", min = 0)
    val expireRetain = intFlag(args, "--expire=N", min = 1, max = Int.MaxValue).map(_.toInt)
    val rebucketTo = intFlag(args, "--rebucket=N", min = 1, max = Int.MaxValue).map(_.toInt)
    val rewriteSortedTarget = intFlag(args, "--rewrite-sorted=ROWS_PER_FILE", min = 1)
    val binpackMin = intFlag(args, "--binpack=MIN_ROWS", min = 1)
    val setProps: Map[String, String] =
      args.filter(_.startsWith("--set-prop=")).map { a =>
        val kv = a.stripPrefix("--set-prop=")
        val eq = kv.indexOf('=')
        require(eq > 0, s"--set-prop expects KEY=VALUE (empty VALUE retires the key), got: $a")
        kv.substring(0, eq) -> kv.substring(eq + 1)
      }.toMap
    SnapshotManifestFormat.requireValidProps(setProps)
    val toBranch: Option[String] =
      args.find(_.startsWith("--to-branch=")).map { a =>
        val n = a.stripPrefix("--to-branch=")
        require(n.nonEmpty, "--to-branch=NAME requires a branch name")
        n
      }
    // a pending branch freezes the table head, so head-committing
    // maintenance cannot ride the same invocation — it runs post-publish
    require(toBranch.isEmpty || (!doCompact && rebucketTo.isEmpty && setProps.isEmpty &&
        rewriteSortedTarget.isEmpty && binpackMin.isEmpty && branchTtl.isEmpty &&
        !args.exists(_.startsWith("--stream-ingest=")) &&
        !args.exists(_.startsWith("--replicate="))),
      "--to-branch does not compose with maintenance flags " +
        "(--compact/--rebucket/--rewrite-sorted/--set-prop/--expire-branches/" +
        "--stream-ingest/--replicate): a rewrite landing while the branch pends makes it " +
        "unpublishable, and a TTL sweep could abandon the stage this same invocation created")
    // single-purpose mode flags early-return: refuse combinations whose
    // extra flags would otherwise be silently discarded (an operator
    // scripting "roll back AND pin" must not get a half-applied operation)
    val modeFlags =
      Seq("--get-conv=", "--rollback=", "--tag=", "--drop-tag=", "--appends-since=",
        "--audit-branch=", "--publish-branch=", "--abandon-branch=", "--curate-increment=")
        .flatMap(p => args.find(_.startsWith(p))) ++
        Seq("--tags", "--history", "--branches", "--lineage").filter(args.contains) ++
        args.find(a => a == "--files" || a.startsWith("--files=")) ++
        args.find(a => a == "--partitions" || a.startsWith("--partitions=")) ++
        args.find(a => a == "--doctor" || a.startsWith("--doctor="))
    require(modeFlags.size <= 1,
      s"at most one query/metadata mode flag per invocation, got: ${modeFlags.mkString(", ")}")
    // a mode flag early-returns before the extraction run, so a combined
    // --to-branch would be silently discarded — refuse instead
    require(modeFlags.isEmpty || toBranch.isEmpty,
      s"${modeFlags.head} does not compose with --to-branch: the mode flag " +
        "returns before any run is staged — run them as separate invocations")
    if (modeFlags.nonEmpty)
      require(!doCompact && expireRetain.isEmpty && orphanAge.isEmpty && setProps.isEmpty &&
          rebucketTo.isEmpty && rewriteSortedTarget.isEmpty && binpackMin.isEmpty &&
          branchTtl.isEmpty &&
          !args.exists(_.startsWith("--stream-ingest=")) &&
          !args.exists(_.startsWith("--replicate=")),
        s"${modeFlags.head} does not compose with maintenance or ingest flags " +
          "(--compact/--expire/--remove-orphans/--set-prop/--rebucket/--rewrite-sorted/" +
          "--stream-ingest/--replicate) — run them as separate invocations")
    val pos = args.filterNot(_.startsWith("--"))
    val Array(input, outDir) = pos.take(2)
    // every line printed below is one JSON object: free strings such as
    // the table dir go through the Json escaper
    val outJson = jstr(outDir)
    val buckets = if (pos.length > 2) pos(2).toInt else 256
    val waves = if (pos.length > 3) pos(3).toInt else 8
    // --doctor is purely driver-side (filesystem + parquet footers): it
    // runs BEFORE any SparkSession exists, so the ops tool is instant
    args.find(a => a == "--doctor" || a.startsWith("--doctor=")).foreach { a =>
      val cap =
        if (a.contains('=')) {
          val v = a.stripPrefix("--doctor=")
          val c = try v.toInt catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"--doctor[=MAX_FOOTER_CHECKS] requires an integer, got: $a")
          }
          require(c >= 0, s"--doctor=MAX_FOOTER_CHECKS must be >= 0, got $c")
          c
        } else 10000
      println(graft.spark.TableDoctor.diagnose(outDir, cap).render)
      return
    }
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = SparkSession.builder()
      .appName("graft-extraction")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    import spark.implicits._
    args.find(_.startsWith("--get-conv=")).foreach { a =>
      val ids = a.stripPrefix("--get-conv=").split(",").toSeq.filter(_.nonEmpty)
      require(ids.nonEmpty, "--get-conv=ID[,ID...] requires at least one conversation id")
      val man = graft.spark.ExtractionJob.readManifest(outDir)
        .getOrElse(throw new IllegalStateException(s"no committed snapshot under $outDir"))
      val planned = SnapshotManifestFormat.pruneFilesForConvs(man, ids)
      val rows = SnapshotManifestFormat.readCommittedForConvs(spark, outDir, ids).count()
      println(s"""{"keyed_convs":${ids.size},"rows":$rows,"planned_files":${planned.size},"total_files":${man.files.size},"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--rollback=")).foreach { a =>
      val snap =
        try a.stripPrefix("--rollback=").toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"--rollback=N requires a snapshot id, got: $a")
        }
      val newSnap = SnapshotManifestFormat.rollbackTo(outDir, snap)
      println(s"""{"rollback_to":$snap,"snapshot":$newSnap,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--tag=")).foreach { a =>
      val spec = a.stripPrefix("--tag=")
      val colon = spec.indexOf(':')
      val (name, snap) =
        if (colon < 0) {
          val latest = SnapshotManifestFormat.latestSnapshot(outDir)
            .getOrElse(throw new IllegalStateException(s"no committed snapshot under $outDir"))
          (spec, latest)
        } else {
          val n =
            try spec.substring(colon + 1).toInt
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(s"--tag=NAME[:SNAP] requires a snapshot id, got: $a")
            }
          (spec.substring(0, colon), n)
        }
      SnapshotManifestFormat.tagSnapshot(outDir, name, snap)
      println(s"""{"tag":${jstr(name)},"snapshot":$snap,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--drop-tag=")).foreach { a =>
      val name = a.stripPrefix("--drop-tag=")
      require(name.nonEmpty, "--drop-tag=NAME requires a tag name")
      SnapshotManifestFormat.dropTag(outDir, name)
      println(s"""{"dropped_tag":${jstr(name)},"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    if (args.contains("--history")) {
      val rows = SnapshotManifestFormat.readSnapshotsTable(spark, outDir)
        .collect().sortBy(_.getInt(0))
      val hist = rows.map { r =>
        val ts = r.getSeq[String](8).map(jstr).mkString("[", ",", "]")
        val cols = r.getSeq[String](9).map(jstr).mkString("[", ",", "]")
        s"""{"snapshot":${r.getInt(0)},"op":${jstr(r.getString(1))},"files":${r.getInt(3)},""" +
          s""""rows":${r.getLong(4)},"deletes":${r.getInt(6)},"current":${r.getBoolean(7)},""" +
          s""""tags":$ts,"schema_cols":$cols}"""
      }.mkString("[", ",", "]")
      println(s"""{"history":$hist,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    // --limit=N bounds the metadata CLI's driver-side collect: at 10^6
    // files an unbounded `--files` would pull the whole manifest listing
    // into one print; the sort+limit runs DISTRIBUTED and only N rows
    // reach the driver. Default bounds the accident, explicit --limit
    // raises it deliberately.
    val metaLimit: Int = intFlag(args, "--limit=N", min = 1, max = Int.MaxValue).fold(10000)(_.toInt)
    args.find(a => a == "--files" || a.startsWith("--files=")).foreach { a =>
      // $files metadata table (Iceberg files analog): current snapshot, or
      // --files=SNAP for any retained one — per-file bucket/rows/seq/bounds
      val snap = if (a.contains("=")) {
        val v = a.stripPrefix("--files=")
        try Some(v.toInt) catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"--files=SNAP expects an integer, got: '$v'")
        }
      } else None
      val rows = SnapshotManifestFormat.readFilesTable(spark, outDir, snap)
        .orderBy(org.apache.spark.sql.functions.col("bucket"),
          org.apache.spark.sql.functions.col("path"))
        .limit(metaLimit).collect()
      val fs = rows.map { r =>
        val bounds = (r.isNullAt(5), r.isNullAt(6)) match {
          case (false, false) =>
            s""","min_conv":${jstr(r.getString(5))},"max_conv":${jstr(r.getString(6))}"""
          case _ => ""
        }
        s"""{"bucket":${r.getInt(1)},"path":${jstr(r.getString(2))},""" +
          s""""rows":${r.getLong(3)},"seq":${r.getInt(4)}$bounds}"""
      }.mkString("[", ",", "]")
      val sid = if (rows.isEmpty) -1 else rows.head.getInt(0)
      println(s"""{"snapshot":$sid,"files":$fs,"limit":$metaLimit,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    if (args.contains("--lineage")) {
      // per-bucket audit trail: which run produced each bucket, how long
      val rows = SnapshotManifestFormat.readLineageTable(spark, outDir)
        .orderBy(org.apache.spark.sql.functions.col("snapshot_id"),
          org.apache.spark.sql.functions.col("bucket"))
        .limit(metaLimit).collect()
      val ls = rows.map { r =>
        s"""{"snapshot":${r.getLong(0)},"bucket":${r.getLong(1)},"rows":${r.getLong(2)},""" +
          s""""field_count_sum":${r.getLong(3)},"extract_ms":${r.getLong(4)},""" +
          s""""committed_at":${jstr(r.getString(5))}}"""
      }.mkString("[", ",", "]")
      println(s"""{"lineage":$ls,"limit":$metaLimit,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(a => a == "--partitions" || a.startsWith("--partitions=")).foreach { a =>
      // $partitions metadata table: per-bucket file/row health + delete
      // debt — the maintenance planner's input (--partitions=SMALL_ROWS
      // overrides the small-file threshold, default 1000)
      val thr = if (a.contains("=")) {
        val v = a.stripPrefix("--partitions=")
        try v.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"--partitions=SMALL_ROWS expects an integer, got: '$v'")
        }
      } else 1000L
      val rows = SnapshotManifestFormat.readPartitionsTable(spark, outDir, thr)
        .orderBy(org.apache.spark.sql.functions.col("bucket"))
        .limit(metaLimit).collect()
      val ps = rows.map { r =>
        s"""{"bucket":${r.getInt(0)},"files":${r.getInt(1)},"rows":${r.getLong(2)},""" +
          s""""small_files":${r.getInt(3)},"min_file_rows":${r.getLong(4)},""" +
          s""""max_file_rows":${r.getLong(5)},"delete_rows":${r.getLong(6)}}"""
      }.mkString("[", ",", "]")
      println(s"""{"partitions":$ps,"small_threshold":$thr,"limit":$metaLimit,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    if (args.contains("--branches")) {
      val bs = SnapshotManifestFormat.branches(outDir).toSeq.sorted
        .map { case (n, s) => s"${jstr(n)}:$s" }.mkString("{", ",", "}")
      println(s"""{"branches":$bs,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--curate-increment=")).foreach { a =>
      // one incremental curation cycle over the table's change feed
      // (state + curated corpus maintained under WORKDIR; see
      // graft.spark.StreamingCurate)
      val work = a.stripPrefix("--curate-increment=")
      require(work.nonEmpty, "--curate-increment=WORKDIR requires a directory")
      graft.spark.StreamingCurate.cycle(spark, outDir, work) match {
        case Some(s) =>
          println(s"""{"curate_increment":{"from":${s.from},"to":${s.to},""" +
            s""""upserts":${s.upserts},"deleted_convs":${s.deletedConvs},""" +
            s""""affected_hash_buckets":${s.affectedHashBuckets},""" +
            s""""curated_rows":${s.curatedRows}},"out":$outJson}""")
        case None =>
          println(s"""{"curate_increment":null,"note":"no new snapshot","out":$outJson}""")
      }
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--audit-branch=")).foreach { a =>
      val name = a.stripPrefix("--audit-branch=")
      require(name.nonEmpty, "--audit-branch=NAME requires a branch name")
      val r = graft.spark.ExtractionJob.auditBranch(spark, outDir, name)
      val sc = r.schemaChanges.map(jstr).mkString("[", ",", "]")
      val bd = r.bucketRowDeltas.toSeq.sorted
        .map { case (b, d) => s""""$b":$d""" }.mkString("{", ",", "}")
      println(s"""{"audit_branch":${jstr(name)},"snapshot":${r.snapshotId},"rows":${r.rows},""" +
        s""""duplicate_keys":${r.duplicateKeys},"null_specs":${r.nullSpecs},""" +
        s""""intact":${r.intact},"schema_changes":$sc,"bucket_row_deltas":$bd,""" +
        s""""ok":${r.ok},"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      // gate for shell pipelines: `--audit-branch && --publish-branch`
      // publishes only a snapshot that passed the audit. Exit-code
      // signalling only when running standalone — inside a host-owned
      // session (tests, notebooks) the caller reads `ok` from the JSON.
      if (!r.ok && preexisting.isEmpty) sys.exit(1)
      return
    }
    args.find(_.startsWith("--publish-branch=")).foreach { a =>
      val name = a.stripPrefix("--publish-branch=")
      require(name.nonEmpty, "--publish-branch=NAME requires a branch name")
      // the Spark overload: cherry-picks when the head moved since the stage
      val snap = SnapshotManifestFormat.publishBranch(spark, outDir, name)
      println(s"""{"published_branch":${jstr(name)},"snapshot":$snap,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--abandon-branch=")).foreach { a =>
      val name = a.stripPrefix("--abandon-branch=")
      require(name.nonEmpty, "--abandon-branch=NAME requires a branch name")
      SnapshotManifestFormat.abandonBranch(outDir, name)
      println(s"""{"abandoned_branch":${jstr(name)},"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    if (args.contains("--tags")) {
      val ts = SnapshotManifestFormat.tags(outDir).toSeq.sorted
        .map { case (n, s) => s"${jstr(n)}:$s" }.mkString("{", ",", "}")
      println(s"""{"tags":$ts,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--appends-since=")).foreach { a =>
      val from =
        try a.stripPrefix("--appends-since=").toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"--appends-since=N requires an integer, got: $a")
        }
      val to = SnapshotManifestFormat.latestSnapshot(outDir)
        .getOrElse(throw new IllegalStateException(s"no committed snapshot under $outDir"))
      // a poller that is already caught up sees zero changes, not an error
      val (rows, keys) =
        if (from >= to) (0L, 0L)
        else (SnapshotManifestFormat.readAppendsBetween(spark, outDir, from, to).count(),
          SnapshotManifestFormat.readDeleteKeysBetween(spark, outDir, from, to).count())
      println(s"""{"appends_from":$from,"appends_to":$to,"rows":$rows,"changed_keys":$keys,"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--replicate=")).foreach { a =>
      val ckpt = a.stripPrefix("--replicate=")
      require(ckpt.nonEmpty, "--replicate=CKPT_DIR requires a checkpoint directory")
      require(!args.exists(_.startsWith("--stream-ingest=")),
        "--replicate and --stream-ingest are different sinks — one per invocation")
      // a rebucketted replica can no longer accept source-bucketed
      // change-feed rows (replication adopts the source layout verbatim),
      // so the composition would wedge the NEXT replication pass
      require(rebucketTo.isEmpty,
        "--replicate does not compose with --rebucket: the replica must keep " +
          "the source bucket layout — rebucket the SOURCE and re-baseline instead")
      val rows = graft.spark.TableReplication.replicateAvailableNow(spark, input, outDir, ckpt)
      val maint = runMaintenance(spark, outDir, doCompact, expireRetain, orphanAge, setProps,
        rebucketTo, rewriteSortedTarget, binpackMin, branchTtl)
      val snap = SnapshotManifestFormat.latestSnapshot(outDir).getOrElse(-1)
      println(s"""{"replicate":true,"snapshot":$snap,"rows_applied":$rows,$maint"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    args.find(_.startsWith("--stream-ingest=")).foreach { a =>
      val ckpt = a.stripPrefix("--stream-ingest=")
      require(ckpt.nonEmpty, "--stream-ingest=CKPT_DIR requires a checkpoint directory")
      val rows = graft.spark.StreamingExtraction.runAvailableNowToTable(
        spark, input, outDir, ckpt, buckets = buckets)
      // the maintenance flags compose with streaming ingest the same way
      // they do with a batch run — a scheduled ingest+retention invocation
      // must not silently drop its retention half
      val maint = runMaintenance(spark, outDir, doCompact, expireRetain, orphanAge, setProps,
        rebucketTo, rewriteSortedTarget, binpackMin, branchTtl)
      val snap = SnapshotManifestFormat.latestSnapshot(outDir).getOrElse(-1)
      println(s"""{"stream_ingest":true,"snapshot":$snap,"rows_appended":$rows,$maint"out":$outJson}""")
      if (preexisting.isEmpty) spark.stop()
      return
    }
    val turns = spark.read.parquet(input).as[graft.spark.Turn]
    val done = graft.spark.ExtractionJob.run(spark, turns,
      graft.spark.ExtractionJob.Config(outDir, buckets = buckets, waves = waves,
        fingerprintInputs = fingerprint, convGrained = convGrained, toBranch = toBranch))
    val maint = runMaintenance(spark, outDir, doCompact, expireRetain, orphanAge, setProps,
      rebucketTo, rewriteSortedTarget, binpackMin, branchTtl)
    // truthful only: a no-op run (input unchanged, nothing dirty) stages no
    // ref — report null so an unattended WAP pipeline skips the audit step
    // instead of crashing on a branch that was never created
    val branchJson = toBranch.map { n =>
      if (SnapshotManifestFormat.branches(outDir).contains(n))
        s""""staged_branch":${jstr(n)},"""
      else s""""staged_branch":null,"""
    }.getOrElse("")
    println(s"""{"committed_buckets_this_run":${done.size},$branchJson$maint"out":$outJson}""")
    if (preexisting.isEmpty) spark.stop() // don't stop a host-owned session
  }

  private def jstr(s: String): String = Json.renderCompact(JStr(s))

  /** The value of `flag` (`--name=META`), checked at parse time, not after
    * the whole extraction ran: an integer from `min` to `max`. */
  private def intFlag(args: Array[String], flag: String, min: Long,
                      max: Long = Long.MaxValue): Option[Long] = {
    val prefix = flag.takeWhile(_ != '=') + "="
    args.find(_.startsWith(prefix)).map { a =>
      val n = a.stripPrefix(prefix).toLongOption.filter(_ <= max).getOrElse(
        throw new IllegalArgumentException(s"$flag requires an integer, got: $a"))
      require(n >= min, s"$flag must be >= $min, got $n")
      n
    }
  }

  /** The post-run maintenance half shared by the batch and streaming paths:
    * compaction, snapshot expiry, orphan sweep, props commit. Returns the
    * JSON fragment (trailing comma included) both paths print. */
  private def runMaintenance(spark: SparkSession, outDir: String, doCompact: Boolean,
                             expireRetain: Option[Int], orphanAge: Option[Long],
                             setProps: Map[String, String],
                             rebucketTo: Option[Int] = None,
                             rewriteSorted: Option[Long] = None,
                             binpackMin: Option[Long] = None,
                             branchTtl: Option[Long] = None): String = {
    // rebucket FIRST: the replacing rewrite applies pending deletes itself,
    // so a combined --rebucket --compact invocation compacts a clean table
    val rebucketed = rebucketTo.map { n =>
      graft.spark.ExtractionJob.rebucket(spark, outDir, n); n
    }
    // sorted split rewrite next (applies deletes too): composing it after
    // rebucket re-splits the new layout; --compact after it is a no-op
    val sortRewritten = rewriteSorted.map { n =>
      graft.spark.ExtractionJob.rewriteSorted(spark, outDir, n); n
    }
    val compacted =
      if (doCompact) SnapshotManifestFormat.compact(spark, outDir) else Set.empty[Int]
    // binpack after compact: compaction already coalesces delete-affected
    // buckets, so binpack only pays for the residual small-file debt
    val binpacked = binpackMin.map(n =>
      SnapshotManifestFormat.binpackDataFiles(spark, outDir, n)).getOrElse(Set.empty[Int])
    val (expired, gcFiles) = expireRetain match {
      case Some(n) => SnapshotManifestFormat.expireSnapshots(outDir, n)
      case None => (0, 0)
    }
    val orphans = orphanAge match {
      case Some(ms) => SnapshotManifestFormat.removeOrphanFiles(outDir, ms).total
      case None => 0
    }
    // branch retention after snapshot expiry: an expired-stale branch no
    // longer pins files, so the NEXT --remove-orphans sweep reclaims them
    val expiredBranches = branchTtl
      .map(ms => SnapshotManifestFormat.expireBranches(outDir, ms)).getOrElse(Seq.empty)
    if (setProps.nonEmpty) SnapshotManifestFormat.setTableProps(outDir, setProps)
    s""""rebucketed_to":${rebucketed.getOrElse(0)},"compacted_buckets":${compacted.size},""" +
      s""""binpacked_buckets":${binpacked.size},""" +
      s""""sort_rewritten_target":${sortRewritten.getOrElse(0)},""" +
      s""""expired_snapshots":$expired,"gc_files":$gcFiles,"orphans_removed":$orphans,""" +
      s""""expired_branches":${expiredBranches.size},""" +
      s""""props_set":${setProps.size},"""
  }
}
