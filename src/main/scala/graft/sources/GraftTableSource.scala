package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => ConnectorOffset}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import graft.spark.SnapshotManifestFormat

/** Table-as-a-stream: a Structured Streaming source over the snapshot
  * table (the Delta/Iceberg streaming-read analog), completing the loop
  * with the exactly-once streaming SINK — downstream incremental consumers
  * (tokenization, indexing, stats) tail the extraction table instead of
  * re-scanning it.
  *
  * ```
  * spark.readStream.format("graft-table").load(tableDir)
  * ```
  *
  * Offsets are snapshot ids, checkpointed by the engine, so a restarted
  * query resumes exactly where it stopped. Batch semantics:
  *  - the FIRST batch serves the full committed snapshot (MOR deletes
  *    applied) as of the offset — a fresh consumer needs no side-channel
  *    backfill, and history already expired before the stream existed is
  *    irrelevant;
  *  - each later batch is the NET post-image appends of `(start, end]`
  *    (seq-aware: a conversation corrected twice in the range appears
  *    once, at its latest content) — upsert semantics keyed by
  *    `(conv_id, turn_idx)`, retractions available in batch via
  *    `readDeleteKeysBetween`;
  *  - a replacing commit (compaction, rebucket, rollback) or expired
  *    in-range history fails the stream with the table format's distinct
  *    errors — restart from a fresh checkpoint to re-baseline, the
  *    standard lakehouse CDC contract;
  *  - a schema change mid-stream fails loudly (v1 batches are spliced
  *    positionally; serving a wider schema would misbind columns).
  *
  * v1 `Source` (over DSv2 `MicroBatchStream`) is deliberate: `getBatch`
  * returns a DataFrame, so each microbatch reuses the exact snapshot /
  * incremental read plans of the table format — vectorized parquet scan,
  * snapshot-pinned schema, bucket partition discovery, broadcast-pinned
  * MOR anti-join — instead of a hand-rolled row reader (the same reason
  * Delta Lake's source is v1). Per-batch work scales with the files
  * APPENDED in the range, never with table size.
  *
  * Options: `startSnapshot` = first snapshot id to serve (inclusive), or
  * `latest` to serve only commits after stream start; default serves the
  * whole table. With an explicit `startSnapshot`/`latest` start there is
  * no initial-snapshot batch — consumption begins at the increments.
  * `changeFeed=true` (Delta CDF analog) adds a `_change_type` column and
  * serves each range's conv-grained retraction keys as `delete` rows
  * alongside the `insert` post-images, so a mirror-maintaining consumer
  * also tracks pure deletions and shrinking corrections; a batch's
  * deletes apply before its inserts.
  */
class GraftTableSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-table derives its schema from the table manifest; " +
        "a user-specified schema is not supported")
    val base = GraftTableSource.tableSchema(GraftTableSource.pathOf(parameters))
    (shortName(),
      if (GraftTableSource.changeFeedOf(parameters))
        base.add(GraftTableSource.ChangeTypeCol, StringType, nullable = true)
      else base)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftTableSource(ctx.sparkSession, parameters, metadataPath)
}

object GraftTableSource {
  /** Column carrying the row's change kind in change-feed mode:
    * "insert" (appended post-image) or "delete" (conv-grained retraction
    * key — only `conv_id`/`bucket` populated). */
  val ChangeTypeCol = "_change_type"

  private[sources] def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "option 'path' (the snapshot table directory) is required — " +
        ".load(dir) or .option(\"path\", dir)"))

  private[sources] def changeFeedOf(parameters: Map[String, String]): Boolean =
    parameters.get("changeFeed") match {
      case None => false
      case Some(s) if s.equalsIgnoreCase("true") => true
      case Some(s) if s.equalsIgnoreCase("false") => false
      case Some(s) => throw new IllegalArgumentException(
        s"changeFeed must be true or false, got: '$s'")
    }

  /** Manifest schema + the bucket partition column — the exact columns
    * `readCommitted` serves. */
  private[sources] def tableSchema(dir: String): StructType = {
    val man = SnapshotManifestFormat.readManifest(dir).getOrElse(
      throw new IllegalStateException(
        s"no committed snapshot under $dir: the streaming source needs an existing table"))
    StructType.fromDDL(man.schemaDdl).add("bucket", IntegerType, nullable = true)
  }
}

class GraftTableSource(spark: SparkSession, parameters: Map[String, String],
                       metadataPath: String)
    extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  private val dir = GraftTableSource.pathOf(parameters)
  private val fmt = SnapshotManifestFormat

  // admission control: at most this many snapshots advance per microbatch,
  // so a backlogged consumer catches up in bounded batches instead of one
  // giant one (the Delta maxFilesPerTrigger analog, in commit units —
  // per-batch file count is bounded because each commit's appended files
  // are bounded by the job's wave size)
  private val maxSnapshotsPerBatch: Long =
    parameters.get("maxSnapshotsPerBatch").map { s =>
      val n =
        try s.toLong
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"maxSnapshotsPerBatch must be a positive integer, got: '$s'") }
      require(n > 0, s"maxSnapshotsPerBatch must be positive, got $n")
      n
    }.getOrElse(Long.MaxValue)

  // ---- checkpoint-scoped source metadata -------------------------------
  // metadataPath is a scheme-qualified URI into the query CHECKPOINT (any
  // Hadoop filesystem — file:, hdfs:, s3a:) — java.nio would treat the
  // scheme as a relative path component and write into the driver CWD, so
  // all access goes through the Hadoop FileSystem API.
  private def metaFs: (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(metadataPath)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
  private def readMeta(name: String): Option[String] = {
    val (fs, base) = metaFs
    val f = new org.apache.hadoop.fs.Path(base, name)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val arr = new Array[Byte](4096)
        var n = in.read(arr)
        while (n >= 0) { buf.write(arr, 0, n); n = in.read(arr) }
        Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }
  private def writeMeta(name: String, value: String): Unit = {
    val (fs, base) = metaFs
    fs.mkdirs(base)
    val tmp = new org.apache.hadoop.fs.Path(base, s"$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(base, name)))
      fs.delete(tmp, false) // lost a creation race: the existing value wins
  }

  // one manifest read serves the start pin and the schema pin
  private val headManifest = fmt.readManifest(dir)

  // the snapshot BEFORE the first one served (exclusive lower bound):
  // "latest" pins to the head when the STREAM first starts — persisted in
  // the source's checkpoint metadata dir so a restarted query (whose first
  // run may never have committed a batch) does not silently re-pin to a
  // newer head and drop commits; an explicit id N streams from N
  // inclusive; default -1 = whole table (initial-snapshot batch)
  private val startExclusive: Int = parameters.get("startSnapshot") match {
    case Some("latest") =>
      readMeta("graft-start") match {
        case Some(saved) => saved.trim.toInt
        case None =>
          val pinned = headManifest.map(_.snapshotId).getOrElse(-1)
          writeMeta("graft-start", pinned.toString)
          readMeta("graft-start").map(_.trim.toInt).getOrElse(pinned)
      }
    case Some(s) =>
      val n =
        try s.toInt
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"startSnapshot must be a snapshot id or 'latest', got: '$s'") }
      require(n >= 0, s"startSnapshot must be >= 0, got $n")
      n - 1
    case None => -1
  }
  private val initialSnapshotBatch = !parameters.contains("startSnapshot")

  // schema pinned when the STREAM first starts and persisted in the
  // checkpoint: a restart over a since-evolved table must fail loudly even
  // when every prior batch committed (the sink holds old-schema batches;
  // silently adopting the new head schema would misbind them), not just
  // when an uncommitted batch happens to be replayed
  private val pinnedDdl: Option[String] = {
    val current = headManifest.map(_.schemaDdl)
    readMeta("graft-schema") match {
      case Some(saved) =>
        if (current.exists(c => normalize(StructType.fromDDL(c)) !=
            normalize(StructType.fromDDL(saved))))
          throw new IllegalStateException(
            s"table schema changed while the stream was down under $dir: " +
              s"checkpointed [$saved], now [${current.get}] — restart the streaming " +
              "query from a fresh checkpoint to pick up the new schema")
        Some(saved)
      case None =>
        current.foreach(writeMeta("graft-schema", _))
        current
    }
  }

  // change-feed mode (Delta CDF / Iceberg changelog-scan analog): each
  // incremental batch carries the range's conv-grained RETRACTION keys
  // (`_change_type = "delete"`, only conv_id/bucket populated) alongside
  // the appended post-images (`_change_type = "insert"`). Without it a
  // mirror-maintaining consumer tracks corrections (upsert by key) but
  // silently diverges on pure deletions and on corrections that SHRINK a
  // conversation. Consumers apply a batch's deletes before its inserts;
  // the initial-snapshot batch is all-insert by construction.
  private val changeFeed = GraftTableSource.changeFeedOf(parameters)

  private val tableSchema: StructType = pinnedDdl match {
    case Some(d) => StructType.fromDDL(d).add("bucket", IntegerType, nullable = true)
    case None => GraftTableSource.tableSchema(dir)
  }

  override val schema: StructType =
    if (changeFeed) tableSchema.add(GraftTableSource.ChangeTypeCol, StringType, nullable = true)
    else tableSchema

  override def getOffset: Option[Offset] =
    fmt.latestSnapshot(dir).filter(_ > startExclusive).map(id => LongOffset(id.toLong))

  // AvailableNow: pin the head when the trigger run begins; batches in this
  // run never pass it, and the run terminates once it is reached
  @volatile private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(fmt.latestSnapshot(dir).getOrElse(-1))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: ConnectorOffset, limit: ReadLimit): ConnectorOffset = {
    val head0 = fmt.latestSnapshot(dir).getOrElse(-1)
    val head = availableNowCap.fold(head0)(math.min(head0, _)).toLong
    val effStart: Long = Option(startOffset).map(connectorLongOf)
      .getOrElse(startExclusive.toLong)
    // snapshot ids are Ints, so capping the advance at Int.MaxValue keeps
    // the sum overflow-free without changing semantics
    var target = math.min(head,
      effStart + math.min(maxSnapshotsPerBatch, Int.MaxValue.toLong))
    // a capped FIRST batch must not land on an expired snapshot: clamp the
    // initial-snapshot batch forward to the oldest retained manifest (the
    // full-snapshot read then covers the GC'd history anyway)
    if (startOffset == null && initialSnapshotBatch && target < head && target >= 0 &&
        fmt.readManifestAt(dir, target.toInt).isEmpty)
      target = fmt.retainedManifests(dir).headOption.map(_.snapshotId.toLong)
        .getOrElse(head)
    if (target > effStart) LongOffset(target)
    else startOffset // unchanged (or null when the table is still empty)
  }

  private def connectorLongOf(o: ConnectorOffset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val to = longOf(end).toInt
    guardSchema(to)
    // None = initial-snapshot batch; Some(from) = incremental range (from, to]
    val fromOpt = start.map(o => longOf(o).toInt) match {
      case Some(from) => Some(from)
      case None if initialSnapshotBatch => None
      case None => Some(startExclusive)
    }
    val data = fromOpt match {
      case Some(from) => fmt.readAppendsBetweenStreaming(spark, dir, from, to)
      case None => fmt.readCommittedAsOfStreaming(spark, dir, to)
    }
    val df =
      if (!changeFeed) data
      else fromOpt match {
        case None => data.withColumn(GraftTableSource.ChangeTypeCol, lit("insert"))
        case Some(from) =>
          data.withColumn(GraftTableSource.ChangeTypeCol, lit("insert"))
            .unionByName(deleteRows(from, to))
      }
    // pin column order to the declared source schema (v1 splices batches
    // into the streaming plan positionally)
    df.select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** The range's retraction keys widened to the source schema: conv_id and
    * bucket from the equality-delete files, every other column null. The
    * delete read is a tiny batch-side relation, which is fine inside the
    * microbatch plan (the stream-static pattern) — the streaming flag the
    * engine asserts on comes from the appends side of the union. */
  private def deleteRows(from: Int, to: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val keys = fmt.readDeleteKeysBetween(spark, dir, from, to)
    val cols = tableSchema.fields.toSeq.map { f =>
      f.name match {
        case "conv_id" => col("conv_id")
        case "bucket" => col("bucket").cast(f.dataType).as("bucket")
        case other => lit(null).cast(f.dataType).as(other)
      }
    } :+ lit("delete").as(GraftTableSource.ChangeTypeCol)
    keys.select(cols: _*)
  }

  /** Nullability (and field metadata) drift across commits — footer-derived
    * DDLs record NOT NULL for files written straight from a typed Dataset
    * but nullable for post-join delta rewrites — is not a schema CHANGE;
    * only names/types/shape are. */
  private def normalize(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f => f.copy(
      dataType = normalize(f.dataType), nullable = true,
      metadata = org.apache.spark.sql.types.Metadata.empty)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = normalize(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = normalize(m.keyType), valueType = normalize(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private def guardSchema(to: Int): Unit = {
    val nowDdl = fmt.readManifestAt(dir, to).map(_.schemaDdl)
    // `to` below the head happens on restart re-initialization (the engine
    // replays getBatch over the committed range): the guard then catches a
    // schema that evolved while the stream was DOWN, which is just as
    // unservable through this checkpoint as a mid-run change
    if (pinnedDdl.nonEmpty && nowDdl.nonEmpty &&
        normalize(StructType.fromDDL(nowDdl.get)) !=
          normalize(StructType.fromDDL(pinnedDdl.get)))
      throw new IllegalStateException(
        s"table schema changed mid-stream under $dir (snapshot $to): " +
          s"was [${pinnedDdl.get}], now [${nowDdl.get}] — restart the streaming " +
          "query from a fresh checkpoint to pick up the new schema")
  }

  private def longOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
