package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import graft.spark.{ExtractionJob, NioLocalFileSystem, SnapshotManifestFormat, StateDirs,
  StreamingCurate, TableReplication, Transcripts}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The table and state write path runs no `chmod` process and leaves the
  * same permissions as Hadoop's stock local file system; the program has
  * one parquet writer (`StateDirs.write`) and one footer reader
  * (`StateDirs.openFooter`). Process starts are observed with an in-process
  * JFR recording of `jdk.ProcessStart`. */
class WritePathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** The command lines of every `chmod` process the JVM started while
    * `body` ran. */
  private def chmodForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(_.split(' ').headOption.exists(_.endsWith("chmod")))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  test("table and state writes start no chmod process") {
    val ss = spark
    import ss.implicits._
    val fmt = SnapshotManifestFormat
    val base = Files.createTempDirectory("graft-nofork").toString
    val turns = Transcripts.generate(spark, 8).cache()
    val victim = turns.select("conv_id").as[String].head()
    val edited = turns.map(t => if (t.conv_id == victim) t.copy(text = t.text + "\nedited") else t)
    val conv = s"$base/conv"
    val cfg = ExtractionJob.Config(conv, buckets = 4, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val forks = chmodForks {
      assert(ExtractionJob.run(spark, turns,
        ExtractionJob.Config(s"$base/bucket", buckets = 4, waves = 2)).nonEmpty)
      assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
      assert(ExtractionJob.run(spark, edited, cfg).nonEmpty)
      val delta = fmt.readManifest(conv).get
      assert(delta.operation == "delta" && delta.deleteDirs.nonEmpty && delta.convFpsDir.nonEmpty)
      assert(fmt.compact(spark, conv).nonEmpty)
      ExtractionJob.rewriteSorted(spark, conv, targetRowsPerFile = 40)
      ExtractionJob.rebucket(spark, conv, 3)
      assert(fmt.readManifest(conv).get.bucketCount.contains(3))
      val feed = fmt.readCommitted(spark, s"$base/bucket").withColumn("_change_type", lit("insert"))
      assert(TableReplication.replicateBatch(spark, feed, batchId = 0L, s"$base/replica", "q",
        fmt.readManifest(s"$base/bucket").flatMap(_.bucketCount)) > 0L)
      assert(StreamingCurate.cycle(spark, conv, s"$base/curate").nonEmpty)
    }
    turns.unpersist()
    assert(forks.size == 0, s"chmod processes, first: ${forks.headOption}")
  }

  private val uuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** Relative path (part-file UUIDs masked) -> permissions, root included. */
  private def modes(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.map { p =>
      root.relativize(p).toString.replaceAll(uuidRe, "U") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally s.close()
  }

  test("StateDirs.write leaves the same permissions as the stock local file system") {
    val base = Files.createTempDirectory("graft-perms")
    val frame = spark.range(0, 40, 1, 2).selectExpr("id", "cast(id % 3 as int) as p")
    val stock = base.resolve("stock")
    val nio = base.resolve("nio")
    val stockChmods = chmodForks(frame.write.partitionBy("p").parquet(stock.toString))
    val nioChmods = chmodForks(StateDirs.write(frame).partitionBy("p").parquet(nio.toString))
    // the recording sees the stock path's forks (made only when libhadoop is
    // missing), so its silence on the other path is real
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) assert(stockChmods.nonEmpty)
    assert(nioChmods.size == 0, s"chmod processes, first: ${nioChmods.headOption}")
    val (a, b) = (modes(stock), modes(nio))
    assert(a.keySet.exists(_.endsWith("_SUCCESS")) && a.keySet.exists(_.endsWith(".crc")), a.keySet)
    assert(a.size > 8)
    assert(a == b)
  }

  test("NioLocalFileSystem.setPermission sets the bits RawLocalFileSystem.setPermission sets") {
    import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = new org.apache.hadoop.conf.Configuration()
    val uri = java.net.URI.create("file:///")
    val stock = new RawLocalFileSystem()
    stock.initialize(uri, conf)
    val nio = new NioLocalFileSystem().getRaw
    nio.initialize(uri, conf)
    val rnd = new scala.util.Random(1009)
    val sample = Seq("000", "400", "640", "644", "700", "755", "777").map(Integer.parseInt(_, 8)) ++
      Seq.fill(6)(rnd.nextInt(512))
    val base = Files.createTempDirectory("graft-modes")
    for ((mode, i) <- sample.zipWithIndex; dir <- Seq(false, true)) {
      def make(n: String): Path = {
        val p = base.resolve(s"$n-$i-$dir")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
      }
      val (x, y) = (make("stock"), make("nio"))
      stock.setPermission(new HPath(x.toUri), new FsPermission(mode.toShort))
      nio.setPermission(new HPath(y.toUri), new FsPermission(mode.toShort))
      val (px, py) = (Files.getPosixFilePermissions(x), Files.getPosixFilePermissions(y))
      assert(px == py, f"mode 0$mode%o dir=$dir")
      assert(Integer.parseInt(PosixFilePermissions.toString(py)
        .map(c => if (c == '-') '0' else '1'), 2) == mode, f"mode 0$mode%o dir=$dir")
    }
  }

  // Exempt from the one-writer rule: the frozen instruments, the dev tools
  // (they write test inputs and query plans, not table or state dirs) and
  // `format("noop")` sinks, which write nothing.
  private val writeExemptFiles = Seq("graft/Verify.scala", "graft/Bench.scala")
  private val writeExemptDirs = Seq("graft/tools/")

  test("one parquet writer and one footer reader in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${sys.props("user.dir")})")
    val sources: Seq[(String, Vector[String])] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
        .map(p => root.relativize(p).toString -> Files.readAllLines(p).asScala.toVector)
      finally s.close()
    }
    // code lines only: scaladoc and line comments may name either call
    val hits = for ((file, lines) <- sources; (l, n) <- lines.zipWithIndex
                    if !Seq("//", "*", "/*").exists(l.trim.startsWith)) yield (file, n + 1, l)

    val stateDirs = sources.toMap.apply("graft/spark/StateDirs.scala")
    // the nearest `def` at or above 1-based `line` of StateDirs.scala
    def stateDirsDefAt(line: Int): Option[String] =
      stateDirs.take(line).reverseIterator.find(_.contains("def "))

    val opens = hits.filter(_._3.contains("ParquetFileReader.open"))
    assert(opens.map(_._1) == Seq("graft/spark/StateDirs.scala"), opens)
    assert(stateDirsDefAt(opens.head._2).exists(_.contains("def openFooter(")),
      "ParquetFileReader.open must sit inside openFooter")

    // a Dataset's `.write` is paren-less; OutputStream/Files writes are calls
    val datasetWrite = """\.write\b(?!\s*\()(?!Stream)""".r
    val writes = hits.filter { case (_, _, l) => datasetWrite.findFirstIn(l).nonEmpty }
    val (exempt, governed) = writes.partition { case (f, _, l) =>
      writeExemptFiles.contains(f) || writeExemptDirs.exists(f.startsWith) ||
        l.contains("format(\"noop\")")
    }
    assert(exempt.nonEmpty, "the exemptions should match something; drop any that do not")
    assert(governed.size == 1, governed.mkString("\n"))
    val (file, line, _) = governed.head
    assert(file == "graft/spark/StateDirs.scala" && stateDirsDefAt(line).exists(_.contains("def write[")),
      s"the only Dataset .write in src/main is StateDirs.write's own: $governed")
  }
}
