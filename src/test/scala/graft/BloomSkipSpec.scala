package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Parquet bloom filters on conv_id: every data-file writer emits them,
  * so keyed reads skip row groups INSIDE files whose min/max conv bounds
  * overlap the probe — the intra-file complement of manifest pruning. */
class BloomSkipSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

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

  test("every data file's conv_id chunk is point-skippable: bloom filter or complete dictionary") {
    val ss = spark
    import ss.implicits._
    val out = Files.createTempDirectory("graft-bloom").toString
    val cfg = ExtractionJob.Config(out, buckets = 2, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 12)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    val man = ExtractionJob.readManifest(out).get

    // parquet-mr deliberately OMITS the bloom when a chunk is entirely
    // dictionary-encoded (the dictionary already answers point probes
    // exactly); either artifact gives row-group skipping, so assert the
    // disjunction — small sandbox files typically take the dictionary
    // path, production-sized chunks with >dictionary-page-size conv sets
    // fall back to PLAIN and rely on the bloom
    var checkedChunks = 0
    man.files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$out/data/${f.path}"),
        new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          val cc = block.getColumns.asScala
            .find(_.getPath.toDotString == "conv_id")
            .getOrElse(fail(s"no conv_id column chunk in ${f.path}"))
          val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
          val fullyDict = cc.getEncodingStats != null &&
            !cc.getEncodingStats.hasNonDictionaryEncodedPages
          assert(bloom != null || fullyDict,
            s"conv_id chunk in ${f.path} has neither bloom nor complete dictionary " +
              "— point probes would read every row group")
          checkedChunks += 1
        }
      } finally reader.close()
    }
    assert(checkedChunks >= 2, "expected at least one chunk per bucket")

    // behavioral: the keyed read still serves exactly the right rows
    val v = turns.select("conv_id").as[String].head()
    val keyed = SnapshotManifestFormat.readCommittedForConvs(spark, out, Seq(v))
      .select("conv_id").distinct().as[String].collect().toSet
    assert(keyed == Set(v))
  }

  test("the bloom write options materialize a real bloom once dictionary encoding is off") {
    val ss = spark
    import ss.implicits._
    val dir = Files.createTempDirectory("graft-bloom-direct").toString + "/t"
    val df = (0 until 5000).map(i => (f"conv-$i%05d", i)).toDF("conv_id", "v")
    df.repartition(1).write
      .options(graft.spark.SnapshotManifestFormat.convBloomOptions)
      .option("parquet.enable.dictionary", "false") // force the PLAIN fallback path
      .parquet(dir)
    val file = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val block = reader.getFooter.getBlocks.asScala.head
      val cc = block.getColumns.asScala.find(_.getPath.toDotString == "conv_id").get
      val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
      assert(bloom != null, "options did not reach parquet-mr — no bloom written")
      // no false negatives on present values (definitional for a bloom)
      Seq(0, 123, 4999).foreach { i =>
        val b = org.apache.parquet.io.api.Binary.fromString(f"conv-$i%05d")
        assert(bloom.findHash(bloom.hash(b)), s"false negative for conv-$i")
      }
    } finally reader.close()
  }
}
