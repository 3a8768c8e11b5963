package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point (one workload per process):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *
  * Prints each measured metric as `metric <name> <value> <unit>` and writes
  * the result (checks, counts, end-to-end and per-layer metrics) as JSON to
  * FILE. Exits 1 when any output check fails. `perfbench/run.py` builds the
  * program, runs this and prints the one-line summary.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("out")).toAbsolutePath)
    val ctx = new Ctx(a)
    ctx.named("jvm_start_s", (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0, "s")
    println(s"workload ${a.workload} seed ${a.seed}: ${Gen.describe(a.workload)}")
    try {
      a.workload match {
        case "batch_commit" => BatchCommit.run(ctx)
        case "turn_latency" => TurnLatency.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally ctx.stopSession()
    ctx.write()
    sys.exit(if (ctx.correct) 0 else 1)
  }
}

/** Per-run state: metrics, checks, the Spark session, the tracer. */
final class Ctx(val args: Main.Args) {
  val tracer = new Tracer(s"${args.workload}-${args.seed}", args.trace)
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val namedMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  private var session: Option[SparkSession] = None
  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
  val heap = new HeapSampler
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Time spent before the first timed op on work that is not set-up:
    * input checks and the extra set-up repetitions. */
  private var notSetupNs = 0L

  def correct: Boolean = checks.forall(_._2)

  def generic(name: String, v: Double, unit: String): Unit = {
    e2e(name) = (v, unit); println(f"metric $name%-28s $v%.6f $unit")
  }
  def named(name: String, v: Double, unit: String): Unit = {
    namedMetrics(name) = (v, unit); println(f"metric $name%-28s $v%.6f $unit")
  }
  def layer(name: String, v: Double, unit: String): Unit = {
    layers(name) = (v, unit); println(f"layer  $name%-36s $v%.6f $unit")
  }
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    println(s"check  $name ${if (ok) "ok" else "FAILED " + d}")
  }

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  def spark: SparkSession = session.getOrElse(startSession())

  def startSession(): SparkSession = {
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    session = Some(s)
    s
  }

  def stopSession(): Unit = { session.foreach(_.stop()); session = None }

  /** Runs `setup` (input generation and preparation) `n` times and returns
    * the last result. Only the first run counts towards setup_s: the others
    * are there for the same-seed check. With `withSpark` the Spark session is
    * started first. */
  def repeatedSetup[A](n: Int, withSpark: Boolean)(setup: Int => A): A = {
    if (withSpark) {
      val t0 = System.nanoTime()
      startSession()
      named("spark_start_s", (System.nanoTime() - t0) / 1e9, "s")
    }
    var last: Option[A] = None
    val secs = (0 until n).map { i =>
      val t0 = System.nanoTime()
      last = Some(setup(i))
      (System.nanoTime() - t0) / 1e9
    }
    println(s"setup runs ${secs.map(x => f"$x%.3f").mkString(" ")} s")
    notSetupNs += ((secs.sum - secs.head) * 1e9).toLong
    last.get
  }

  /** Runs `f`, a check made before the first timed op, outside setup_s. */
  def notSetup[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally notSetupNs += System.nanoTime() - t0
  }

  /** Called right before the first timed op: setup_s is the time since the
    * JVM started (JVM, Spark session, input generation, JIT warm-up), less
    * the checks and the repeated input generations made on the way. */
  def setupDone(): Unit = {
    generic("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0 - notSetupNs / 1e9, "s")
    jitAtSetupMs = jit.getTotalCompilationTime
  }
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private var jitAtSetupMs = 0L

  /** Reports the JIT compilation time since `setupDone` as `timed_jit_ms`. */
  def timedLoopDone(): Unit = named("timed_jit_ms", (jit.getTotalCompilationTime - jitAtSetupMs).toDouble, "ms")

  /** Same seed, same bytes; another seed, other bytes. Both digests must be
    * built the same way from seed-driven content only. */
  def checkDeterminism(digests: Seq[String], otherSeedDigest: String): Unit = {
    check("inputs_same_seed_identical", digests.distinct.size == 1, s"digests ${digests.distinct}")
    check("inputs_other_seed_differ", !digests.contains(otherSeedDigest), "seed+1 gave identical inputs")
  }

  /** Reads a golden file from the checkout's test resources. */
  def golden(name: String): String =
    new String(Files.readAllBytes(Paths.get("src/test/resources/golden", s"$name.json")), UTF_8)
      .stripLineEnd

  def timedOver(budgetSec: Double): TimeBudget = new TimeBudget(budgetSec)

  /** JIT warm-up: runs `pass` until the compilers are quiet, i.e. until
    * JIT compilation during a pass takes under `QuietShare` of its wall
    * time; at least `minPasses` times, at most `maxPasses` times and, past
    * `minPasses`, for at most `maxSec` seconds. The pass cap keeps a fast
    * host from warming further than a normal one; the time cap bounds a
    * run on a host so busy that passes crawl. Reports warmup_s,
    * warmup_passes and the compilation time of the last pass. */
  def warmUntilQuiet(name: String, minPasses: Int, maxPasses: Int, maxSec: Double)(pass: => Unit): Unit = {
    val t0 = System.nanoTime()
    var passes = 0
    var quiet = false
    var lastJitMs = 0L
    while (passes < minPasses ||
      (!quiet && passes < maxPasses && (System.nanoTime() - t0) / 1e9 < maxSec)) {
      val c0 = jit.getTotalCompilationTime
      val p0 = System.nanoTime()
      pass
      lastJitMs = jit.getTotalCompilationTime - c0
      val wallMs = (System.nanoTime() - p0) / 1e6
      quiet = lastJitMs < Ctx.QuietShare * wallMs
      passes += 1
      println(f"warm $name pass $passes wall $wallMs%.0f ms jit $lastJitMs ms")
    }
    named(s"warmup_${name}_s", (System.nanoTime() - t0) / 1e9, "s")
    named(s"warmup_${name}_passes", passes.toDouble, "count")
    named(s"warmup_${name}_last_jit_ms", lastJitMs.toDouble, "ms")
  }

  /** One parallel pass of `extractTurn` over `ops` (text, payload profile)
    * on `cores` threads. */
  def extractionPass(ops: Seq[(String, String)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val parts = ops.grouped(math.max(1, ops.size / (cores * 4))).toVector
      val fs = parts.map(part => pool.submit(new Runnable {
        def run(): Unit = part.foreach { case (text, tool) => graft.extract.Extractor.extractTurn(text, tool) }
      }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  def write(): Unit = {
    def obj(m: collection.Map[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val checksJson = checks.map { case (n, ok, d) =>
      s"""{"name":"$n","ok":$ok,"detail":"${esc(d)}"}""" }.mkString("[", ",", "]")
    if (args.trace) {
      tracer.write(args.out.resolveSibling(args.out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl"))
      val self = tracer.selfNs.toSeq.sortBy(-_._2)
      self.foreach { case (n, s) => println(f"self   $n%-36s ${s / 1e6}%.3f ms") }
    }
    val selfJson = tracer.selfNs.toSeq.sortBy(_._1)
      .map { case (n, s) => s""""$n":${num(s / 1e6)}""" }.mkString("{", ",", "}")
    val json = s"""{"workload":"${args.workload}","seed":${args.seed},"trace":${args.trace},""" +
      s""""correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${obj(e2e)},"named":${obj(namedMetrics)},"layers":${obj(layers)},""" +
      s""""self_ms":$selfJson,"checks":$checksJson}"""
    Files.createDirectories(args.out.getParent)
    Files.write(args.out, json.getBytes(UTF_8))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => " "; case c => c.toString }.take(400)
}

/** Tracks measured time against the run's budget. */
final class TimeBudget(val budgetSec: Double) {
  private var spentNs = 0L
  def spentSec: Double = spentNs / 1e9
  def left: Boolean = spentSec < budgetSec
  /** Times `f`, charges it to the budget, returns (result, seconds). */
  def apply[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val d = System.nanoTime() - t0
    spentNs += d
    (a, d / 1e9)
  }
}

/** Heap the program holds, free of the collector's own sizing: the peak
  * occupancy left after any collection during a window, and the occupancy
  * retained after a full collection at its end. */
final class HeapSampler {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._
  @volatile private var peak = 0L
  @volatile private var on = false
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if !pool.contains("Metaspace") && !pool.contains("CodeHeap") &&
            !pool.contains("Compressed Class") => u.getUsed
        }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  /** Starts a window from a collected heap. */
  def start(): Unit = {
    System.gc()
    synchronized { peak = 0L; on = true }
  }
  /** Ends the window: (peak heap left after a collection during it, heap
    * retained after a full collection at its end), in MB. */
  def stop(): (Double, Double) = {
    System.gc()
    Thread.sleep(100)
    on = false
    val mb = 1024.0 * 1024.0
    val rt = Runtime.getRuntime
    synchronized((peak / mb, (rt.totalMemory() - rt.freeMemory()) / mb))
  }
}

object Ctx {
  /** JIT time per warm-up pass, as a share of its wall time, under which
    * the compilers count as quiet. */
  val QuietShare = 0.02
}
