package perfbench

import graft.CurateMain
import graft.sources.WarcIngest
import org.apache.spark.sql.functions._

/** WARC curation probe, run by traced turn_latency runs: a per-record-gzip
  * WARC segment of boilerplate-wrapped documents through `WarcIngest.read` →
  * `toDocumentsMainText` → `CurateMain.curate`, one untimed pass and one
  * traced pass. The only path through `graft.sources` and
  * `graft.functions`/`graft.queries`. */
object CurateWarc {
  val Docs = 1000
  val Shards = 4
  val Target: Seq[(String, Double)] =
    Seq("en" -> 0.50, "es" -> 0.10, "de" -> 0.15, "fr" -> 0.15, "zh" -> 0.10)

  def probe(ctx: Ctx): Unit = {
    val a = ctx.args
    val spark = ctx.spark
    val segDir = ctx.dir("curate/segment")
    val segFile = segDir.resolve("segment-00000.warc.gz")
    def segment(seed: Long) = Gen.warcSegment(Gen.documents(seed, Docs))
    val bytes = segment(a.seed)
    ctx.check("curate_inputs_same_seed_identical",
      Gen.digestBytes(bytes) == Gen.digestBytes(segment(a.seed)))
    ctx.check("curate_inputs_other_seed_differ",
      Gen.digestBytes(bytes) != Gen.digestBytes(segment(a.seed + 1)))
    java.nio.file.Files.write(segFile, bytes)
    val seg = segDir.toString

    def pass(out: String): CurateMain.Funnel = {
      BatchCommit.deleteTree(out)
      val docs = ctx.tracer.span("curate.graft.sources.read") {
        WarcIngest.toDocumentsMainText(WarcIngest.read(spark, seg))
      }
      ctx.tracer.span("curate.graft.curate") {
        CurateMain.curate(spark, docs, out, Target, Shards, epoch = 0, nearDupCap = 1000)
      }
    }
    pass(ctx.dir("curate").resolve("warm").toString)

    val out = ctx.dir("curate").resolve("pass").toString
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val startMs = System.currentTimeMillis()
    val c0 = Stats.processCpuNs
    val t0 = System.nanoTime()
    val f = pass(out)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Stats.processCpuNs - c0) / 1e9
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    ctx.named("curate_docs_per_s", Docs / wall, "docs/s")
    ctx.named("curate_cpu_s", cpu, "s")
    attribute(ctx, Seq(startMs -> listener.jobsSnapshot), listener)

    println(s"funnel $f")
    ctx.check("curate_funnel_input_equals_records", f.input == Docs, s"input ${f.input} for $Docs records")
    val recount = spark.read.parquet(s"$out/corpus").count()
    ctx.check("curate_corpus_recount_equals_funnel", recount == f.mixtureKept, s"recount $recount vs ${f.mixtureKept}")
    ctx.check("curate_funnel_monotone", f.qualityKept <= f.input && f.exactUnique <= f.qualityKept &&
      f.nearDupRemoved > 0 && f.mixtureKept > 0, f.toString)
    val stats = WarcIngest.fileStats(spark, seg).agg(sum("n_records"), sum("skipped_records")).head()
    ctx.check("warc_all_records_read", stats.getLong(0) == Docs, s"${stats.getLong(0)} records")
    ctx.check("warc_zero_skipped_records", stats.getLong(1) == 0, s"${stats.getLong(1)} skipped")

    val survivors = spark.read.parquet(s"$out/staging-dedup")
    ctx.layer("functions.neardup_pairs",
      graft.queries.Queries.nearDupPairs(spark, survivors, 1000).count().toDouble, "count")
    // graft.sources outside in: the segment through the parser itself
    val parsed = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val r = ctx.tracer.span("curate.graft.sources.parse")(WarcIngest.parse(segFile.toString, bytes))
      (r, (System.nanoTime() - t0) / 1e6)
    }
    ctx.layer("sources.warc_parse_ms", Stats.median(parsed.map(_._2)), "ms")
    ctx.layer("sources.records", parsed.head._1.records.size.toDouble, "count")
    ctx.layer("sources.skipped_records", parsed.head._1.skipped.toDouble, "count")
    ctx.layer("sources.decompressed_mb", gunzippedBytes(bytes) / (1024.0 * 1024.0), "MB")
    // graft.parse.Html outside in: every record body through the stripper
    val htmlNs = parsed.head._1.records.map { rec =>
      val t0 = System.nanoTime()
      ctx.tracer.span("curate.graft.parse.html")(graft.parse.Html.extractLines(rec.text))
      System.nanoTime() - t0
    }.sum
    ctx.named("curate.html_us_per_doc", htmlNs / 1000.0 / Docs, "us")
  }

  /** Wall time of each traced pass by the program call site that started
    * each job; a job is charged its own wall time plus the driver time since
    * the previous job ended (its planning). Jobs under `DedupCluster` with
    * the call site of the first one materialize the near-dup pair pipeline;
    * the other `DedupCluster` jobs are connected-components rounds; jobs
    * after the last of those are the mixture, epoch order and write; jobs
    * before the first are ingest, quality gates and exact dedup. */
  private def attribute(ctx: Ctx, passes: Seq[(Long, Vector[JobRec])], l: StageListener): Unit = {
    val stages = l.stagesSnapshot
    def site(j: JobRec) = stages.filter(_.jobId == j.jobId).map(_.details).mkString("\n")
    def name(j: JobRec) = stages.find(_.jobId == j.jobId).map(_.name).getOrElse("")
    var pre, nd, cc, mix = 0.0
    passes.foreach { case (start, jobs0) =>
      val jobs = jobs0.filter(_.end > 0).sortBy(_.start)
      val charged = jobs.zipWithIndex.map { case (j, i) =>
        val from = if (i == 0) start else jobs(i - 1).end
        (j, (j.end - from) / 1000.0)
      }
      val isCc = jobs.map(j => site(j).contains("graft.functions.DedupCluster"))
      val first = isCc.indexOf(true)
      val last = isCc.lastIndexOf(true)
      if (first >= 0) {
        val pairSite = name(jobs(first))
        charged.zipWithIndex.foreach { case ((j, sec), i) =>
          if (i < first) pre += sec
          else if (i > last) mix += sec
          else if (isCc(i) && name(j) == pairSite) nd += sec
          else cc += sec
        }
      }
    }
    val n = math.max(1, passes.size)
    ctx.named("curate.ingest_dedup_s", pre / n, "s")
    ctx.layer("functions.neardup_s", nd / n, "s")
    ctx.layer("functions.cc_s", cc / n, "s")
    ctx.layer("queries.mix_order_write_s", mix / n, "s")
  }

  private def gunzippedBytes(b: Array[Byte]): Long = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b), 1 << 16)
    val buf = new Array[Byte](1 << 16)
    var n = 0L
    var r = in.read(buf)
    while (r >= 0) { n += r; r = in.read(buf) }
    n
  }
}
