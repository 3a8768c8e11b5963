package perfbench

import graft.extract.Extractor

/** turn_latency: one thread, no Spark, `Extractor.extractTurn` back to back
  * over the standard mix plus a page-size ladder (closed loop). The thread
  * is created with the JVM's default stack size — what a Spark task thread
  * gets — so a page that overflows it fails as it would in a job. */
object TurnLatency {
  /** Conversation ordinals of the mix: 2,716 turns. */
  val MixConvs = 70

  final case class Op(text: String, tool: String)

  /** The mix turns and the ladder pages of `seed`, and their digest. */
  def inputs(seed: Long): (Vector[Op], String) = {
    val mix = Gen.transcripts(seed, MixConvs, "t")
    val ladder = Gen.ladder(seed, Gen.LadderRungs)
    val digest = Gen.digest(mix) +
      Gen.digestBytes(ladder.map(_._2).mkString("\u0000").getBytes("UTF-8"))
    (mix.map(t => Op(t.text, t.tool)) ++ ladder.map { case (tool, text) => Op(text, tool) }, digest)
  }

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    val ops = ctx.repeatedSetup(2, withSpark = false) { _ =>
      val (all, digest) = inputs(a.seed)
      digests += digest
      Gen.shuffle(all, new java.util.SplittableRandom(a.seed * 31 + 5))
    }
    ctx.notSetup(ctx.checkDeterminism(digests.toSeq, inputs(a.seed + 1)._2))

    var error: Option[Throwable] = None
    val worker = new Thread(null, () => {
      try body(ctx, ops) catch { case e: Throwable => error = Some(e) }
    }, "turn-latency", 0L)
    worker.start()
    worker.join()
    error.foreach(e => throw e)
    if (a.trace) CurateWarc.probe(ctx)
  }

  private def body(ctx: Ctx, ops: Vector[Op]): Unit = {
    val a = ctx.args
    if (a.trace) ctx.notSetup(overflowProbe(ctx))
    val pairs = ops.map(o => (o.text, o.tool))
    ctx.warmUntilQuiet("extract", minPasses = 2, maxPasses = 30, maxSec = 35)(ctx.extractionPass(pairs))
    val firstJson = ctx.notSetup(ops.map(o => Extractor.extractTurn(o.text, o.tool).fieldsJson.hashCode))

    val lat = new scala.collection.mutable.ArrayBuffer[Double](1 << 16)
    val tracedLat = new scala.collection.mutable.ArrayBuffer[Double](1 << 16)
    var mismatches = 0
    var failedHere = 0L
    val passWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    def loop(budgetSec: Double, traced: Boolean): Long = {
      val wall0 = System.nanoTime()
      var i = 0
      var n = 0L
      var pass0 = wall0
      var cpu0 = Stats.threadCpuNs
      // whole passes only, so every run times the same mix of turns
      while ((System.nanoTime() - wall0) / 1e9 < budgetSec || i != 0) {
        val o = ops(i)
        val t0 = System.nanoTime()
        try {
          val e =
            if (traced) ctx.tracer.span("graft.extract.extractTurn")(Extractor.extractTurn(o.text, o.tool))
            else Extractor.extractTurn(o.text, o.tool)
          val d = (System.nanoTime() - t0) / 1e6
          (if (traced) tracedLat else lat) += d
          if (e.fieldsJson.hashCode != firstJson(i)) mismatches += 1
        } catch {
          case _: StackOverflowError => failedHere += 1
        }
        n += 1
        i = (i + 1) % ops.size
        if (i == 0) {
          val now = System.nanoTime()
          val cpu = Stats.threadCpuNs
          if (!traced) { passWall += (now - pass0) / 1e9; passCpu += (cpu - cpu0) / 1e9 }
          println(f"pass wall ${(now - pass0) / 1e9}%.3f s cpu ${(cpu - cpu0) / 1e9}%.3f s${if (traced) " traced" else ""}")
          pass0 = now; cpu0 = cpu
        }
      }
      n
    }
    ctx.heap.start()
    ctx.setupDone()
    val n = loop(if (a.trace) a.seconds / 2 else a.seconds, traced = false)
    ctx.timedLoopDone()
    val (heapMb, heapLiveMb) = ctx.heap.stop()
    ctx.attempted += n
    ctx.failed += failedHere
    val (tl, p99) = Stats.tail(lat.toSeq)
    ctx.named("turn_p50_ms", Stats.median(lat.toSeq), "ms")
    ctx.named("turn_p99_ms", Stats.quantile(lat.toSeq, 0.99), "ms")
    ctx.named(s"turn_tail_${tl}_ms", p99, "ms")
    ctx.named("turns_timed", lat.size.toDouble, "count")
    ctx.named("core_turns_per_cpu_s", ops.size / Stats.median(passCpu.toSeq), "turns/s")
    ctx.named("failed_ratio", failedHere.toDouble / n, "ratio")
    ctx.named("heap_peak_mb", heapMb, "MB")
    ctx.named("passes", passWall.size.toDouble, "count")
    ctx.generic("throughput_per_s", ops.size / Stats.median(passWall.toSeq), "1/s")
    ctx.generic("op_p50_ms", Stats.median(lat.toSeq), "ms")
    ctx.generic("cpu_ms_per_unit", Stats.median(passCpu.toSeq) * 1000 / ops.size, "ms")
    ctx.generic("heap_live_mb", heapLiveMb, "MB")

    ctx.check("extraction_deterministic_across_passes", mismatches == 0, s"$mismatches outputs changed")
    val goldenBad = Gen.goldenFixtures.filterNot { case (name, tool) =>
      Extractor.extractTurn(Gen.resource(s"fixtures/$name.txt"), tool).fieldsJson == ctx.golden(name)
    }
    ctx.check("goldens_byte_exact_direct", goldenBad.isEmpty, goldenBad.map(_._1).mkString(","))

    if (a.trace) {
      loop(a.seconds / 2, traced = true)
      ctx.layer("trace.overhead_share", Stats.median(tracedLat.toSeq) / Stats.median(lat.toSeq) - 1, "ratio")
      // layer replay over one pass of the loop's ops
      val replay = new LayerReplay
      ops.foreach(o => ctx.tracer.span("graft.extract.replay")(replay.replay(o.text, o.tool)))
      replay.metrics.foreach { case (nm, v, u) => ctx.layer(nm, v, u) }
      ctx.layer("trace.spans", ctx.tracer.all.size.toDouble, "count")
    }
  }

  /** The probe rungs, run before any warm-up: a fresh JVM runs them with
    * interpreted frames, as the first tasks of a fresh executor do. A page
    * that overflows the default-size stack is a failed page. */
  private def overflowProbe(ctx: Ctx): Unit = {
    var overflowed = 0
    for (lines <- Gen.ProbeRungs; (tool, text) <- Gen.ladder(ctx.args.seed, Seq(lines))) {
      val t0 = System.nanoTime()
      val ok =
        try { ctx.tracer.span("graft.parse.probe")(Extractor.extractTurn(text, tool)); true }
        catch { case _: StackOverflowError => overflowed += 1; false }
      println(f"probe $tool%-20s $lines%5d lines ${(System.nanoTime() - t0) / 1e6}%9.1f ms ${if (ok) "ok" else "stack overflow"}")
    }
    ctx.layer("parse.xycut_failed_pages", overflowed.toDouble, "count")
    ctx.named("probe_failed_pages", overflowed.toDouble, "count")
    ctx.named("probe_pages", 2.0 * Gen.ProbeRungs.size, "count")
  }
}
