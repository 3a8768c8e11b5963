package perfbench

import graft.spark.{ExtractionJob, Turn}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Merge-on-read probe, run by traced batch_commit runs: writes beside reads
  * on a conv-grained table with `ExtractionJob.Config`'s default bucket
  * count. From a freshly committed base it runs cycles (closed loop) of:
  * edit ~1% of conversations and commit a conv-grained `ExtractionJob.run`
  * (delta + equality deletes); keyed reads mixing edited and untouched
  * conversations; one full merged scan. Its table calls go
  * through a delegating format of their own, so its spans carry the `mor.`
  * prefix and do not mix with the batch jobs'. */
object IncrementalMor {
  /** Conversation ordinals of the base table: 922 turns. */
  val Convs = 20
  val EditShare = 0.01
  val Cycles = 2
  val ReadsPerCycle = 6

  def probe(ctx: Ctx): Unit = {
    val a = ctx.args
    val spark = ctx.spark
    val base = ctx.dir("mor").resolve("table").toString
    val turns0 = Gen.transcripts(a.seed, Convs, "m")
    val buckets = ExtractionJob.Config(base).buckets
    val input0 = ctx.dir("mor").resolve("input-0").toString
    writeTurns(ctx, turns0, input0)
    ExtractionJob.run(spark, readTurns(ctx, input0),
      ExtractionJob.Config(base, waves = 1, convGrained = true))
    val convs = turns0.map(_.conv_id).distinct
    val r = new java.util.SplittableRandom(a.seed * 13 + 1)
    val edits = math.max(2, (convs.size * EditShare).round.toInt)
    val fmt = new TracingFormat(ctx.tracer, "mor.")

    val expect = mutable.HashMap.empty[(String, Int, Int), (String, String)]
    def expected(t: Turn) = expect.getOrElseUpdate((t.conv_id, t.turn_idx, t.text.hashCode), {
      val e = graft.extract.Extractor.extractTurn(t.text, t.tool)
      (e.fieldsJson, e.mainText)
    })
    val deltas, reads, scans = mutable.ArrayBuffer.empty[Double]
    var readMismatch = 0
    var scanBad = List.empty[String]
    var cur = turns0
    for (cycle <- 1 to Cycles) {
      val edited = Vector.fill(edits)(convs(r.nextInt(convs.size))).distinct
      val editedSet = edited.toSet
      cur = cur.map { t =>
        if (editedSet.contains(t.conv_id) && t.turn_idx == 0)
          t.copy(text = t.text + s"\nAmendment $cycle: ${r.nextInt(100000)} initialled")
        else t
      }
      val input = ctx.dir("mor").resolve(s"input-$cycle").toString
      writeTurns(ctx, cur, input)
      val in = readTurns(ctx, input)
      val byConv = cur.groupBy(_.conv_id)
      deltas += timed(ctx.tracer.span("mor.graft.spark.run_conv_grained") {
        ExtractionJob.run(spark, in, ExtractionJob.Config(base, waves = 1, convGrained = true), fmt)
      })
      val untouched = convs.filterNot(editedSet.contains)
      for (i <- 0 until ReadsPerCycle) {
        val ids = Seq(edited(i % edited.size), untouched(r.nextInt(untouched.size)))
        var rows: Array[org.apache.spark.sql.Row] = null
        reads += 1000 * timed(ctx.tracer.span("mor.graft.spark.keyed_read") {
          rows = fmt.readCommittedForConvs(spark, base, ids)
            .select("conv_id", "turn_idx", "fields_json", "main_text").collect()
        })
        val got = rows.map(x => (x.getString(0), x.getInt(1)) -> (x.getString(2), x.getString(3))).toMap
        val want = ids.flatMap(id => byConv(id).map(t => (t.conv_id, t.turn_idx) -> expected(t))).toMap
        if (got != want) readMismatch += 1
      }
      var agg: org.apache.spark.sql.Row = null
      scans += timed(ctx.tracer.span("mor.graft.spark.merged_scan") {
        agg = ExtractionJob.readCommitted(spark, base)
          .agg(count(lit(1)), countDistinct(col("conv_id"), col("turn_idx")),
            sum(length(col("fields_json")))).head()
      })
      if (agg.getLong(0) != cur.size || agg.getLong(1) != cur.size)
        scanBad ::= s"cycle $cycle: ${agg.getLong(0)} rows, ${agg.getLong(1)} keys for ${cur.size} turns"
    }
    ctx.named("mor.delta_commit_s", Stats.median(deltas.toSeq), "s")
    ctx.named("mor.keyed_read_p50_ms", Stats.median(reads.toSeq), "ms")
    ctx.named("mor.keyed_read_p90_ms", Stats.quantile(reads.toSeq, 0.9), "ms")
    ctx.named("mor.keyed_reads", reads.size.toDouble, "count")
    ctx.named("mor.scan_rows_per_s", turns0.size / Stats.median(scans.toSeq), "rows/s")
    ctx.named("mor.commit_ms", ctx.tracer.totalNs("mor.table.commit") / 1e6 / Cycles, "ms")
    ctx.named("mor.manifest_read_ms", ctx.tracer.totalNs("mor.table.manifest_read") / 1e6 / Cycles, "ms")
    ctx.check("mor_keyed_reads_return_post_edit_content", readMismatch == 0, s"$readMismatch reads differ")
    ctx.check("mor_merged_scan_rows_equal_input_keys_unique", scanBad.isEmpty, scanBad.mkString("; "))
    ctx.layer("table.delete_files",
      ExtractionJob.readManifest(base).map(_.deleteDirs.size).getOrElse(0).toDouble, "count")
    val in0 = readTurns(ctx, input0)
    ctx.layer("table.conv_fp_s", Stats.median((0 until 2).map(_ => timed(
      ctx.tracer.span("mor.graft.table.conv_fingerprints") {
        ExtractionJob.convFingerprints(spark, in0, buckets).write.mode("overwrite").format("noop").save()
      }))), "s")
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def writeTurns(ctx: Ctx, ts: Seq[Turn], path: String): Unit = {
    val ss = ctx.spark
    import ss.implicits._
    ss.createDataset(ts).repartition(ctx.cores).write.mode("overwrite").parquet(path)
  }

  def readTurns(ctx: Ctx, path: String): org.apache.spark.sql.Dataset[Turn] = {
    val ss = ctx.spark
    import ss.implicits._
    ss.read.parquet(path).as[Turn]
  }
}
