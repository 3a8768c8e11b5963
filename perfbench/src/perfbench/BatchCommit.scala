package perfbench

import graft.spark.{ExtractionJob, Turn}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** batch_commit: the JobMain path. A seeded parquet transcript table is
  * read through `ExtractionJob.run` (bucket-grained, in waves, with
  * `ExtractionJob.Config`'s default bucket and wave counts) into a fresh
  * table, job after job (closed loop). */
object BatchCommit {
  /** Conversation ordinals of the input table: 2,090 turns, 89% of them in
    * the 5 long conversations. */
  val Convs = 50

  /** The input turns of `seed`: the transcript table plus one conversation
    * with the 9 golden fixtures verbatim. */
  def inputs(seed: Long): Vector[Turn] = Gen.transcripts(seed, Convs, "b") ++ Gen.goldenConversation

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val input = ctx.dir("batch/input").toString
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    val turns = ctx.repeatedSetup(2, withSpark = true) { i =>
      val ts = inputs(a.seed)
      digests += Gen.digest(ts)
      val ss = ctx.spark
      import ss.implicits._
      ss.createDataset(ts).repartition(ctx.cores).write.mode("overwrite").parquet(input)
      ts
    }
    ctx.notSetup(ctx.checkDeterminism(digests.toSeq, Gen.digest(inputs(a.seed + 1))))
    val spark = ctx.spark
    import spark.implicits._
    val in = spark.read.parquet(input).as[Turn]
    val n = turns.size

    def job(out: String, fmt: graft.spark.TableFormat): Unit = {
      deleteTree(out)
      ExtractionJob.run(spark, in, ExtractionJob.Config(out), fmt)
    }
    var w = 0
    ctx.warmUntilQuiet("job", minPasses = 2, maxPasses = 6, maxSec = 40) {
      job(ctx.dir("batch").resolve(s"warm-$w").toString, ExtractionJob.defaultFormat)
      deleteTree(ctx.dir("batch").resolve(s"warm-$w").toString)
      w += 1
    }

    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val waveMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val listener = new StageListener
    val fmt = new TracingFormat(ctx.tracer)
    val clock = new TracingFormat(Tracer.off)
    var lastOut = ""
    var k = 0
    def loop(budget: TimeBudget, traced: Boolean): Unit = while (budget.left || k == 0) {
      val out = ctx.dir("batch").resolve(s"job-$k").toString
      val c0 = Stats.processCpuNs
      try {
        val commits0 = clock.commitEndNs.size
        val start = System.nanoTime()
        val (_, s) = budget {
          if (traced) ctx.tracer.span("graft.spark.run")(job(out, fmt))
          else job(out, clock)
        }
        (if (traced) tracedWalls else walls) += s
        if (!traced) {
          val ends = clock.commitEndNs.drop(commits0)
          waveMs ++= (start +: ends).zip(ends).map { case (p, e) => (e - p) / 1e6 }
        }
        val cpu = (Stats.processCpuNs - c0) / 1e9
        if (!traced) cpus += cpu
        println(f"job $k%d wall $s%.3f s cpu $cpu%.3f s${if (traced) " traced" else ""}")
        ctx.attempted += n
        if (lastOut.nonEmpty) deleteTree(lastOut)
        lastOut = out
      } catch {
        case NonFatal(e) =>
          ctx.attempted += n; ctx.failed += n
          println(s"job $k failed: $e")
      }
      k += 1
    }
    ctx.heap.start()
    ctx.setupDone()
    loop(ctx.timedOver(if (a.trace) a.seconds / 2 else a.seconds), traced = false)
    ctx.timedLoopDone()
    val (heapMb, heapLiveMb) = ctx.heap.stop()
    if (a.trace) {
      spark.sparkContext.addSparkListener(listener)
      loop(ctx.timedOver(a.seconds / 2), traced = true)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }

    val med = Stats.median(walls.toSeq)
    ctx.named("batch_turns_per_s", n / med, "turns/s")
    ctx.named("batch_cpu_ms_per_turn", Stats.median(cpus.toSeq) * 1000 / n, "ms")
    ctx.named("table_bytes_per_turn", treeBytes(lastOut + "/data", ".parquet") / n, "B")
    ctx.named("failed_ratio", ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio")
    ctx.named("heap_peak_mb", heapMb, "MB")
    ctx.named("jobs", walls.size.toDouble, "count")
    ctx.named("waves", waveMs.size.toDouble, "count")
    ctx.named("job_p50_ms", med * 1000, "ms")
    ctx.generic("throughput_per_s", n / med, "1/s")
    ctx.generic("op_p50_ms", Stats.median(waveMs.toSeq), "ms")
    ctx.generic("cpu_ms_per_unit", Stats.median(cpus.toSeq) * 1000 / n, "ms")
    ctx.generic("heap_live_mb", heapLiveMb, "MB")

    // ---- output checks on the last committed table ----
    val served = ExtractionJob.readCommitted(spark, lastOut)
    val agg = served.agg(count(lit(1)), countDistinct(col("conv_id"), col("turn_idx"))).head()
    ctx.check("committed_rows_equal_input", agg.getLong(0) == n, s"${agg.getLong(0)} rows for $n turns")
    ctx.check("committed_keys_unique", agg.getLong(1) == n, s"${agg.getLong(1)} distinct keys for $n turns")
    val goldenRows = served.where(col("conv_id") === Gen.GoldenConv)
      .select("turn_idx", "fields_json").as[(Int, String)].collect().sortBy(_._1)
    val goldenOk = goldenRows.length == Gen.goldenFixtures.size &&
      goldenRows.forall { case (i, js) => js == ctx.golden(Gen.goldenFixtures(i)._1) }
    ctx.check("goldens_byte_exact_through_spark", goldenOk,
      s"mismatch at ${goldenRows.filterNot { case (i, js) => js == ctx.golden(Gen.goldenFixtures(i)._1) }.map(_._1).mkString(",")}")
    Checks.sparkEqualsDirect(ctx, served, turns, a.seed)

    if (a.trace) {
      ctx.layer("table.commit_ms", ctx.tracer.totalNs("table.commit") / 1e6 / tracedWalls.size, "ms")
      ctx.layer("table.commits", fmt.commits.toDouble / tracedWalls.size, "count")
      ctx.layer("table.commit_retries", fmt.conflicts.toDouble, "count")
      ctx.layer("table.list_staged_ms", ctx.tracer.totalNs("table.list_staged") / 1e6 / tracedWalls.size, "ms")
      ctx.layer("table.manifest_read_ms", ctx.tracer.totalNs("table.manifest_read") / 1e6 / tracedWalls.size, "ms")
      SparkLayer.report(ctx, listener, n.toLong * tracedWalls.size, tracedWalls.sum)
      val extractOnly = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span("graft.spark.extract_only") {
          ExtractionJob.extract(spark, in).write.mode("overwrite").format("noop").save()
        }
        (System.nanoTime() - t0) / 1e9
      }
      ctx.layer("spark.extract_only_s", Stats.median(extractOnly), "s")
      ctx.layer("spark.write_path_share", 1 - Stats.median(extractOnly) / med, "ratio")
      val replay = new LayerReplay
      turns.zipWithIndex.foreach { case (t, i) =>
        if (i % 5 == 0) ctx.tracer.span("graft.extract.replay")(replay.replay(t.text, t.tool))
      }
      replay.metrics.foreach { case (nm, v, u) => ctx.layer(nm, v, u) }
      IncrementalMor.probe(ctx)
      ctx.layer("trace.overhead_share", Stats.median(tracedWalls.toSeq) / med - 1, "ratio")
      ctx.layer("trace.spans", ctx.tracer.all.size.toDouble, "count")
    }
  }

  def deleteTree(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) {
      val walk = java.nio.file.Files.walk(f.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally walk.close()
    }
  }

  def treeBytes(p: String, suffix: String): Double = {
    val f = new java.io.File(p)
    if (!f.exists()) return 0.0
    val walk = java.nio.file.Files.walk(f.toPath)
    try walk.filter(x => x.toString.endsWith(suffix)).mapToLong(x => java.nio.file.Files.size(x)).sum().toDouble
    finally walk.close()
  }
}

/** Output checks shared by the Spark workloads. */
object Checks {
  /** On a seeded sample, committed rows equal a direct `extractTurn`. */
  def sparkEqualsDirect(ctx: Ctx, served: org.apache.spark.sql.DataFrame,
                        turns: Seq[Turn], seed: Long, sample: Int = 48): Unit = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val picked = Vector.fill(sample)(turns(r.nextInt(turns.size))).distinct
    val ss = served.sparkSession
    import ss.implicits._
    val keys = picked.map(t => (t.conv_id, t.turn_idx)).toSet
    val rows = served.where(col("conv_id").isin(picked.map(_.conv_id).distinct: _*))
      .select("conv_id", "turn_idx", "form_type", "form_subtype", "main_text", "fields_json",
        "field_count", "section_count")
      .as[(String, Int, String, String, String, String, Int, Int)].collect()
      .filter(x => keys.contains((x._1, x._2))).map(x => (x._1, x._2) -> x).toMap
    val bad = picked.filterNot { t =>
      val e = graft.extract.Extractor.extractTurn(t.text, t.tool)
      rows.get((t.conv_id, t.turn_idx)).exists(x =>
        x._3 == e.formType && x._4 == e.formSubtype && x._5 == e.mainText &&
          x._6 == e.fieldsJson && x._7 == e.fieldCount && x._8 == e.sectionCount)
    }
    ctx.check("spark_rows_equal_direct_extract", bad.isEmpty,
      s"${bad.size}/${picked.size} differ, e.g. ${bad.headOption.map(t => s"${t.conv_id}/${t.turn_idx}")}")
  }
}

/** Stage numbers of the traced jobs, read through the listener. */
object SparkLayer {
  def report(ctx: Ctx, l: StageListener, turns: Long, wallSec: Double): Unit = {
    val st = l.stagesSnapshot
    if (st.isEmpty) return
    val run = st.map(_.runMs).sum.toDouble
    ctx.layer("spark.shuffle_write_bytes_per_turn", st.map(_.shuffleWriteBytes).sum.toDouble / math.max(1L, turns), "B")
    // per job: the stage with the most executor time is the extraction
    // stage; skew = its slowest task over its median task
    val skews = st.groupBy(_.jobId).values.map(_.maxBy(_.runMs)).filter(_.taskMs.size >= 2)
      .map(s => s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble))))
    if (skews.nonEmpty) ctx.layer("spark.task_skew", Stats.median(skews.toSeq), "ratio")
    ctx.layer("spark.core_utilization", run / (wallSec * 1000 * ctx.cores), "ratio")
    ctx.layer("spark.gc_share", if (run == 0) 0.0 else st.map(_.gcMs).sum / run, "ratio")
    ctx.layer("spark.spill_bytes", st.map(_.spillBytes).sum.toDouble, "B")
  }
}
