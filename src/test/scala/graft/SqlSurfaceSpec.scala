package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractionJob, SnapshotManifestFormat, Transcripts}
import java.nio.file.Files

/** The SQL table-valued-function surface (`graft_table` & co., injected
  * via SparkSessionExtensions): SQL reads must be plan-identical to the
  * DataFrame reads they delegate to — same rows, same integrity checks,
  * and the same parquet-scan pushdown (a `WHERE conv_id = 'x'` from SQL
  * lands in PushedFilters exactly like the programmatic route). */
class SqlSurfaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var out: String = _
  private var s0: Int = -1

  override def beforeAll(): Unit = {
    // extensions only apply at session CREATION — make sure no prior
    // suite's session gets silently reused (builder configs are ignored
    // on reuse; see the repo's test-session gotchas)
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-sql-surface")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    out = Files.createTempDirectory("graft-sql-surface").toString
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 1, convGrained = true,
      autoCompactDeletes = 0)
    val turns = Transcripts.generate(spark, 20)
    assert(ExtractionJob.run(spark, turns, cfg).nonEmpty)
    s0 = SnapshotManifestFormat.latestSnapshot(out).get
    // move the head once so time travel has something to travel past
    val victim = turns.select("conv_id").collect().map(_.getString(0)).min
    val ss = spark; import ss.implicits._
    val edited = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nRoom: 12") else t)
    assert(ExtractionJob.run(spark, edited, cfg).nonEmpty)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(q: String) = spark.sql(q)

  test("graft_table matches readCommitted row-for-row; scalar functions coexist") {
    val viaSql = sql(s"SELECT conv_id, turn_idx, main_text FROM graft_table('$out')")
      .collect().map(_.toString).sorted
    val viaApi = ExtractionJob.readCommitted(spark, out)
      .select("conv_id", "turn_idx", "main_text").collect().map(_.toString).sorted
    assert(viaSql.nonEmpty && viaSql.toSeq == viaApi.toSeq)
    // scalar extension functions resolve in the same session
    val h = sql("SELECT graft_hash64('abc') AS h").collect().head.getLong(0)
    assert(h == graft.functions.TextFns.hash64("abc"))
    // the custom top-k AGGREGATE works in GROUP BY SQL (analyzer wraps
    // the returned AggregateFunction) — (v desc, p asc) order, k-bounded
    val top = sql(
      """SELECT g, graft_top_k(v, p, 2) AS t
        |FROM VALUES ('a', 3L, 1L), ('a', 3L, 0L), ('a', 9L, 7L), ('b', 1L, 5L)
        |  AS tbl(g, v, p)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(top.length == 2)
    val aTop = top(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(aTop == Seq((9L, 7L), (3L, 0L)))
    assert(top(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 5L)))
    // declared input types: INT children coerce to BIGINT at analysis
    // instead of a ClassCastException deep inside ObjectHashAggregate
    val intTop = sql(
      """SELECT graft_top_k(v, p, 2) AS t
        |FROM VALUES (3, 1), (9, 7), (1, 5) AS tbl(v, p)""".stripMargin)
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(intTop == Seq((9L, 7L), (3L, 1L)))
    // non-numeric children fail AT ANALYSIS, naming the function
    val bad = intercept[Exception] {
      sql("SELECT graft_top_k(v, p, 2) FROM VALUES ('x', 'y') AS tbl(v, p)")
        .collect()
    }
    assert(bad.getMessage.toLowerCase.contains("graft_top_k") ||
      bad.getMessage.contains("BIGINT"), bad.getMessage)
  }

  test("SQL filter pushdown reaches the parquet scan (PushedFilters on conv_id)") {
    val conv = ExtractionJob.readCommitted(spark, out)
      .select("conv_id").collect().map(_.getString(0)).min
    val df = sql(s"SELECT * FROM graft_table('$out') WHERE conv_id = '$conv'")
    df.collect() // force execution so the final plan exists
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("conv_id"),
      s"expected conv_id in PushedFilters, plan:\n${plan.take(2000)}")
    val viaApi = SnapshotManifestFormat.readCommittedForConvs(spark, out, Seq(conv))
      .select("conv_id", "turn_idx", "main_text").collect().map(_.toString).sorted
    val viaSql = df.select("conv_id", "turn_idx", "main_text")
      .collect().map(_.toString).sorted
    assert(viaSql.toSeq == viaApi.toSeq)
  }

  test("time travel, tags, branches, and CDC all read through SQL") {
    val head = SnapshotManifestFormat.latestSnapshot(out).get
    // time travel: the pre-edit snapshot has no 'Room: 12' anywhere
    val old = sql(s"SELECT main_text FROM graft_table('$out', $s0)")
      .collect().map(_.getString(0))
    assert(!old.exists(_.contains("Room: 12")))
    assert(sql(s"SELECT main_text FROM graft_table('$out')")
      .collect().map(_.getString(0)).exists(_.contains("Room: 12")))

    // tag pins the old snapshot by name
    SnapshotManifestFormat.tagSnapshot(out, "v0", s0)
    val viaTag = sql(s"SELECT main_text FROM graft_table_tag('$out', 'v0')")
      .collect().map(_.getString(0)).sorted
    assert(viaTag.toSeq == old.sorted.toSeq)

    // a staged branch is visible via graft_table_branch, invisible at head
    val ss = spark; import ss.implicits._
    val turns = Transcripts.generate(spark, 20)
    val victim = turns.select("conv_id").collect().map(_.getString(0)).max
    val branchEdit = turns.map(t =>
      if (t.conv_id == victim) t.copy(text = t.text + "\nWard: 7") else t)
    val cfg = ExtractionJob.Config(out, buckets = 4, waves = 1, convGrained = true,
      autoCompactDeletes = 0, toBranch = Some("sqlview"))
    assert(ExtractionJob.run(spark, branchEdit, cfg).nonEmpty)
    assert(sql(s"SELECT main_text FROM graft_table_branch('$out', 'sqlview')")
      .collect().map(_.getString(0)).exists(_.contains("Ward: 7")))
    assert(!sql(s"SELECT main_text FROM graft_table('$out')")
      .collect().map(_.getString(0)).exists(_.contains("Ward: 7")))
    SnapshotManifestFormat.abandonBranch(out, "sqlview")

    // CDC: SQL range read equals the programmatic appends read
    val viaSqlCdc = sql(s"SELECT conv_id, turn_idx FROM graft_table_changes('$out', $s0, $head)")
      .collect().map(_.toString).sorted
    val viaApiCdc = SnapshotManifestFormat.readAppendsBetween(spark, out, s0, head)
      .select("conv_id", "turn_idx").collect().map(_.toString).sorted
    assert(viaSqlCdc.nonEmpty && viaSqlCdc.toSeq == viaApiCdc.toSeq)

    // metadata TVFs are manifest-sized SQL views
    val snaps = sql(s"SELECT snapshot_id, is_current FROM graft_table_snapshots('$out')").collect()
    assert(snaps.map(_.getInt(0)).toSet.contains(head))
    assert(snaps.count(_.getBoolean(1)) == 1)
    val nFiles = sql(s"SELECT count(*) FROM graft_table_files('$out')").collect().head.getLong(0)
    assert(nFiles == ExtractionJob.readManifest(out).get.files.size)
    assert(sql(s"SELECT count(*) FROM graft_table_lineage('$out')")
      .collect().head.getLong(0) > 0)
    // file-footer row counts include rows pending MOR deletes, so the
    // partitions sum bounds the committed read from above
    val parts = sql(s"SELECT bucket, row_count FROM graft_table_partitions('$out')").collect()
    assert(parts.nonEmpty && parts.map(_.getLong(1)).sum >=
      ExtractionJob.readCommitted(spark, out).count())
  }

  test("timestamp time travel: graft_table_at serves the snapshot live at the instant") {
    val head = SnapshotManifestFormat.latestSnapshot(out).get
    // the recorded commit instants come from the $snapshots metadata table
    val instants = sql(s"SELECT snapshot_id, committed_at FROM graft_table_snapshots('$out')")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(instants.values.forall(_.nonEmpty), "every snapshot records its commit instant")
    // at exactly s0's instant the table served s0 (ids are committed
    // serially, so the highest qualifying id wins)
    assert(SnapshotManifestFormat.snapshotAsOfTimestamp(out,
      java.time.Instant.parse(instants(s0)).toEpochMilli) == s0)
    // asking for "now" serves the head; asking before history errors
    assert(SnapshotManifestFormat.snapshotAsOfTimestamp(out, System.currentTimeMillis()) == head)
    intercept[IllegalStateException] {
      SnapshotManifestFormat.snapshotAsOfTimestamp(out, 0L)
    }
    val viaTs = sql(s"SELECT main_text FROM graft_table_at('$out', '${instants(s0)}')")
      .collect().map(_.getString(0)).sorted
    val viaId = sql(s"SELECT main_text FROM graft_table('$out', $s0)")
      .collect().map(_.getString(0)).sorted
    assert(viaTs.toSeq == viaId.toSeq)
  }

  test("TVF argument validation: non-literal and wrong-arity calls fail at analysis") {
    intercept[Exception] { sql("SELECT * FROM graft_table()") }
    intercept[Exception] {
      sql(s"SELECT * FROM graft_table('$out', 1, 2, 3)")
    }
    // a BIGINT snapshot id beyond Int range must error, not silently
    // truncate to some other snapshot's id
    val big = intercept[Exception] {
      sql(s"SELECT * FROM graft_table('$out', 4294967296)").collect()
    }
    assert(big.getMessage.contains("out of range"), big.getMessage)
  }

  test("a run over empty input commits an empty table that reads back with its schema") {
    val ss = spark
    import ss.implicits._
    val empty = Files.createTempDirectory("graft-empty-input").toString
    ExtractionJob.run(spark, spark.emptyDataset[graft.spark.Turn],
      ExtractionJob.Config(empty, buckets = 4, waves = 1))
    val man = ExtractionJob.readManifest(empty).get
    assert(man.files.isEmpty && man.buckets == Set(0, 1, 2, 3))
    val cols = org.apache.spark.sql.Encoders.product[graft.spark.ExtractedTurn].schema
      .fieldNames.toSeq :+ "bucket"
    val df = ExtractionJob.readCommitted(spark, empty)
    assert(df.columns.toSeq == cols && df.count() == 0L)
    assert(SnapshotManifestFormat.readCommittedForConvs(spark, empty, Seq("c0")).count() == 0L)
    val viaSql = spark.sql(s"SELECT * FROM graft_table('$empty')")
    assert(viaSql.columns.toSeq == cols && viaSql.count() == 0L)
    assert(graft.spark.TableDoctor.diagnose(empty).ok)
  }
}
