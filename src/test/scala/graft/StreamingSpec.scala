package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{StreamingExtraction, Transcripts}
import java.nio.file.Files

/** Structured Streaming: AvailableNow extraction with checkpoint resume
  * (no re-extraction of committed files).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("AvailableNow stream extracts incrementally and resumes from checkpoint") {
    val sp = spark
    import sp.implicits._
    val in = Files.createTempDirectory("stream-in").toString
    val out = Files.createTempDirectory("stream-out").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString

    // batch 1: conversations 0-9
    Transcripts.generate(spark, 10).write.mode("append").parquet(in)
    StreamingExtraction.runAvailableNow(spark, in, out, ckpt)
    val n1 = spark.read.parquet(out).count()
    assert(n1 == Transcripts.generate(spark, 10).count())

    // batch 2: ten more conversations appended as new files
    sp.range(10, 20).flatMap(o => Transcripts.turnsFor(o))
      .write.mode("append").parquet(in)
    StreamingExtraction.runAvailableNow(spark, in, out, ckpt)
    val all = spark.read.parquet(out)
    val n2 = all.count()
    val expected = (0L until 20L).map(Transcripts.convLength(_).toLong).sum
    assert(n2 == expected, s"incremental total $n2 != $expected")
    // no duplicates: checkpoint prevented re-extraction of batch-1 files
    assert(all.select("conv_id", "turn_idx").distinct().count() == n2)

    // streamed extraction bytes == batch extraction bytes
    val streamed = all
      .where(org.apache.spark.sql.functions.col("conv_id") === "c00000003" &&
        org.apache.spark.sql.functions.col("turn_idx") === 0)
      .select("fields_json").as[String].head()
    val t = Transcripts.turnsFor(3).head
    assert(streamed == graft.extract.Extractor.extractTurn(t.text, t.tool).fieldsJson)
  }
}
