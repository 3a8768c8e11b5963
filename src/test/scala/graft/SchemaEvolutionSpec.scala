package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Snapshot-scoped schema evolution (Iceberg's add/drop-column subset):
  * every commit records the staged wave's file schema in the manifest
  * (sticky across file-less commits); reads pin the scan to the manifest's
  * schema, so added columns null-fill over older files, dropped columns
  * project away, time travel serves each snapshot under ITS schema, and a
  * same-named column changing type is refused at commit time. */
class SchemaEvolutionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fmt = SnapshotManifestFormat

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def stage(out: String, name: String, df: org.apache.spark.sql.DataFrame): String = {
    val dir = s"$out/$name"
    df.write.mode("overwrite").partitionBy("bucket").parquet(dir)
    dir
  }

  test("added column null-fills old files, dropped column projects away, time travel keeps each snapshot's schema") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-schema-evo").toString

    // engine v1: columns (conv_id, score)
    val s0 = stage(out, "staging-0",
      Seq((0, "c0", 10L), (1, "c1", 20L)).toDF("bucket", "conv_id", "score"))
    val files0 = fmt.listStagedFiles(spark, s0).toVector
    fmt.commitWave(out, s0, 0, Set(0, 1), files0, Vector.empty, Map.empty,
      bucketCount = Some(2))
    val r0 = fmt.readCommitted(spark, out)
    assert(r0.columns.toSeq == Seq("conv_id", "score", "bucket"))
    assert(fmt.readManifest(out).get.schemaDdl.contains("score"))

    // engine v2 ADDS quality: additive commit; old files never rewritten
    val s1 = stage(out, "staging-1",
      Seq((0, "c2", 30L, 0.9)).toDF("bucket", "conv_id", "score", "quality"))
    val files1 = fmt.listStagedFiles(spark, s1).toVector.map(_.copy(seq = 1))
    fmt.commitWave(out, s1, 1, Set(0, 1), files0 ++ files1, Vector.empty, Map.empty,
      additive = true, bucketCount = Some(2), operation = "delta")
    val r1 = fmt.readCommitted(spark, out)
    assert(r1.columns.toSeq == Seq("conv_id", "score", "quality", "bucket"))
    val byConv = r1.collect().map(r => r.getString(0) -> r).toMap
    assert(byConv("c0").isNullAt(2) && byConv("c1").isNullAt(2),
      "v1 rows must null-fill the added column")
    assert(byConv("c2").getDouble(2) == 0.9)

    // engine v3 DROPS score (new files no longer carry it)
    val s2 = stage(out, "staging-2",
      Seq((1, "c3", 0.5)).toDF("bucket", "conv_id", "quality"))
    val files2 = fmt.listStagedFiles(spark, s2).toVector.map(_.copy(seq = 2))
    fmt.commitWave(out, s2, 2, Set(0, 1), files0 ++ files1 ++ files2, Vector.empty,
      Map.empty, additive = true, bucketCount = Some(2), operation = "delta")
    val r2 = fmt.readCommitted(spark, out)
    assert(r2.columns.toSeq == Seq("conv_id", "quality", "bucket"),
      "dropped column must project away even though old files still carry it")
    assert(r2.count() == 4)

    // time travel: each snapshot serves ITS schema over the same files
    assert(fmt.readCommittedAsOf(spark, out, 0).columns.toSeq ==
      Seq("conv_id", "score", "bucket"))
    assert(fmt.readCommittedAsOf(spark, out, 1).columns.toSeq ==
      Seq("conv_id", "score", "quality", "bucket"))

    // a same-named column changing TYPE is refused BEFORE promotion
    val s3 = stage(out, "staging-3",
      Seq((0, "c4", "high")).toDF("bucket", "conv_id", "quality"))
    val e = intercept[IllegalArgumentException] {
      fmt.commitWave(out, s3, 3, Set(0, 1), files0 ++ files1 ++ files2,
        Vector.empty, Map.empty, additive = true, bucketCount = Some(2))
    }
    assert(e.getMessage.contains("add/drop only"), e.getMessage)
    assert(fmt.latestSnapshot(out).contains(2), "refused commit must not advance the table")
    assert(Files.isDirectory(Paths.get(s3)), "refused commit must not consume staging")

    // a file-less commit carries the schema sticky
    fmt.commitWave(out, s"$out/no-staging", 3, Set(0, 1), files0 ++ files1 ++ files2,
      Vector.empty, Map.empty, additive = true, bucketCount = Some(2))
    assert(fmt.readManifest(out).get.schemaDdl == fmt.readManifestAt(out, 2).get.schemaDdl)
  }

  test("rollback across a schema change restores the target snapshot's schema") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-schema-rollback").toString

    // s0: engine v1 schema (conv_id, score)
    val s0 = stage(out, "staging-0",
      Seq((0, "c0", 10L), (1, "c1", 20L)).toDF("bucket", "conv_id", "score"))
    val files0 = fmt.listStagedFiles(spark, s0).toVector
    fmt.commitWave(out, s0, 0, Set(0, 1), files0, Vector.empty, Map.empty,
      bucketCount = Some(2))

    // s1: engine v2 ADDS quality
    val s1 = stage(out, "staging-1",
      Seq((0, "c2", 30L, 0.9)).toDF("bucket", "conv_id", "score", "quality"))
    val files1 = fmt.listStagedFiles(spark, s1).toVector.map(_.copy(seq = 1))
    fmt.commitWave(out, s1, 1, Set(0, 1), files0 ++ files1, Vector.empty, Map.empty,
      additive = true, bucketCount = Some(2), operation = "delta")
    assert(fmt.readCommitted(spark, out).columns.contains("quality"))

    // rollback to s0: a file-less replacing commit — without an explicit
    // schema override it would carry s1's schema sticky and keep serving a
    // null-filled quality column the v1 table never had
    val s2 = fmt.rollbackTo(out, 0)
    assert(s2 == 2)
    assert(fmt.readManifest(out).get.schemaDdl == fmt.readManifestAt(out, 0).get.schemaDdl,
      "rollback must restore the TARGET snapshot's schema, not carry the head's")
    assert(fmt.readCommitted(spark, out).columns.toSeq == Seq("conv_id", "score", "bucket"))
    assert(fmt.readCommitted(spark, out).count() == 2)
    // time travel still serves the evolved snapshot under ITS schema
    assert(fmt.readCommittedAsOf(spark, out, 1).columns.contains("quality"))
  }

  test("the extraction job records its output schema and evolved tables keep serving the flagship read") {
    val out = Files.createTempDirectory("graft-schema-job").toString
    val turns = Transcripts.generate(spark, 8)
    ExtractionJob.run(spark, turns, ExtractionJob.Config(out, buckets = 2, waves = 1))
    val ddl = fmt.readManifest(out).get.schemaDdl
    assert(ddl.contains("fields_json"), s"job manifest must record schema, got $ddl")
    // pinned-schema read returns the same rows as ever
    assert(fmt.readCommitted(spark, out).count() ==
      graft.spark.ExtractionJob.extract(spark, turns).count())
  }
}
