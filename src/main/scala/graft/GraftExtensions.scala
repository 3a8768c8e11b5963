package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.functions.{BpeTokenCount64, Hash64, JaccardShingles1000, LangId, LshBandKeys, SimHash64}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions as SQL scalar functions AND the graft table as a
  * family of SQL table-valued functions. Activate per session with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or the
  * equivalent spark-submit conf) — the supported extension route, no
  * internal registry access.
  *
  * Scalar SQL surface: graft_simhash64(str), graft_hash64(str),
  * graft_bpe_token_count(str), graft_lang_id(str),
  * graft_lsh_band_keys(str), graft_jaccard_shingles(a, b).
  *
  * Table SQL surface (each resolves at ANALYSIS time to the same logical
  * plan the DataFrame API builds, so Catalyst's predicate pushdown,
  * column pruning, and AQE apply to the underlying parquet scans exactly
  * as they do for programmatic reads — a `WHERE conv_id = 'x'` lands in
  * the scan's PushedFilters and prunes via the files' bloom filters):
  *
  *   - `graft_table('/path')`              — current committed snapshot
  *   - `graft_table('/path', K)`           — time travel to snapshot K
  *   - `graft_table_at('/path', '2026-08-18T12:00:00Z')` — time travel by
  *                                           ISO-8601 instant
  *   - `graft_table_branch('/path', 'b')`  — a pending WAP branch's staged
  *                                           view (the audit surface)
  *   - `graft_table_tag('/path', 't')`     — the snapshot a tag pins
  *   - `graft_table_changes('/path', F, T)` — CDC appends in (F, T]
  *   - `graft_table_snapshots('/path')`    — `$snapshots` metadata table
  *   - `graft_table_files('/path'[, K])`   — `$files` metadata table
  *   - `graft_table_lineage('/path')`      — `$lineage` metadata table
  *   - `graft_table_partitions('/path'[, smallRows])` — `$partitions`
  *                                           per-bucket health table
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftExtensions.register(ext)
}

object GraftExtensions {

  private def one(name: String)(build: Expression => Expression)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"$name expects exactly one argument")
        build(args.head)
      })

  private def two(name: String)(build: (Expression, Expression) => Expression)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name expects exactly two arguments")
        build(args.head, args(1))
      })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    one("graft_simhash64")(SimHash64),
    one("graft_hash64")(Hash64),
    one("graft_bpe_token_count")(BpeTokenCount64),
    one("graft_lang_id")(LangId),
    one("graft_lsh_band_keys")(LshBandKeys(_, 3, 64, 16)),
    two("graft_jaccard_shingles")(JaccardShingles1000(_, _, 3)),
    // aggregate: the analyzer wraps a returned AggregateFunction in its
    // AggregateExpression, so graft_top_k(v, p, k) works in GROUP BY SQL
    (FunctionIdentifier("graft_top_k"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_top_k"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_top_k expects (value, payload, k)")
        graft.functions.TopKPairs(args(0), args(1),
          litInt("graft_top_k", "k", args(2)))
      }))

  /** A table-valued-function argument must be a foldable literal — the
    * table location / snapshot id is resolved at analysis time (the same
    * contract as Spark's own `range(...)` TVF arguments). */
  private def litString(fn: String, arg: String, e: Expression): String = {
    require(e.foldable, s"$fn: $arg must be a literal string")
    val v = e.eval()
    require(v != null, s"$fn: $arg must not be null")
    v.toString
  }

  private def litInt(fn: String, arg: String, e: Expression): Int = {
    require(e.foldable, s"$fn: $arg must be a literal integer")
    e.eval() match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long =>
        // toIntExact, not intValue: a BIGINT literal beyond Int range must
        // fail loudly, not silently truncate to some other snapshot id
        try Math.toIntExact(l.longValue)
        catch { case _: ArithmeticException => throw new IllegalArgumentException(
          s"$fn: $arg is out of range for a snapshot id: $l") }
      case s: java.lang.Short   => s.intValue
      case b: java.lang.Byte    => b.intValue
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got $other")
    }
  }

  private def tvf(name: String, arities: Set[Int])(
      build: (SparkSession, Seq[Expression]) => LogicalPlan)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(arities.contains(args.length),
          s"$name expects ${arities.toSeq.sorted.mkString(" or ")} arguments, got ${args.length}")
        // builders run inside analysis, where the active session is the
        // one resolving the query — the supported way to reach IO here
        build(SparkSession.active, args)
      })

  /** The graft table as SQL table-valued functions. Each builder calls
    * the corresponding DataFrame read and returns its ANALYZED plan, so
    * the SQL route and the programmatic route share one code path —
    * every integrity check (snapshot intactness, history-loss vs
    * corruption distinction) fires identically. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = {
    val fmt = graft.spark.SnapshotManifestFormat
    Seq(
      tvf("graft_table", Set(1, 2)) { (spark, args) =>
        val path = litString("graft_table", "path", args.head)
        val df =
          if (args.length == 1) fmt.readCommitted(spark, path)
          else fmt.readCommittedAsOf(spark, path, litInt("graft_table", "snapshot", args(1)))
        df.queryExecution.analyzed
      },
      tvf("graft_table_at", Set(2)) { (spark, args) =>
        fmt.readCommittedAsOfTimestamp(spark,
          litString("graft_table_at", "path", args.head),
          litString("graft_table_at", "timestamp", args(1))).queryExecution.analyzed
      },
      tvf("graft_table_branch", Set(2)) { (spark, args) =>
        fmt.readCommittedAtBranch(spark,
          litString("graft_table_branch", "path", args.head),
          litString("graft_table_branch", "branch", args(1))).queryExecution.analyzed
      },
      tvf("graft_table_tag", Set(2)) { (spark, args) =>
        fmt.readCommittedAtTag(spark,
          litString("graft_table_tag", "path", args.head),
          litString("graft_table_tag", "tag", args(1))).queryExecution.analyzed
      },
      tvf("graft_table_changes", Set(3)) { (spark, args) =>
        fmt.readAppendsBetween(spark,
          litString("graft_table_changes", "path", args.head),
          litInt("graft_table_changes", "from_snapshot", args(1)),
          litInt("graft_table_changes", "to_snapshot", args(2))).queryExecution.analyzed
      },
      tvf("graft_table_snapshots", Set(1)) { (spark, args) =>
        fmt.readSnapshotsTable(spark,
          litString("graft_table_snapshots", "path", args.head)).queryExecution.analyzed
      },
      tvf("graft_table_files", Set(1, 2)) { (spark, args) =>
        val path = litString("graft_table_files", "path", args.head)
        val snap =
          if (args.length == 2) Some(litInt("graft_table_files", "snapshot", args(1))) else None
        fmt.readFilesTable(spark, path, snap).queryExecution.analyzed
      },
      tvf("graft_table_lineage", Set(1)) { (spark, args) =>
        fmt.readLineageTable(spark,
          litString("graft_table_lineage", "path", args.head)).queryExecution.analyzed
      },
      tvf("graft_table_partitions", Set(1, 2)) { (spark, args) =>
        val path = litString("graft_table_partitions", "path", args.head)
        val small =
          if (args.length == 2) litInt("graft_table_partitions", "small_rows", args(1)).toLong
          else 1000L
        fmt.readPartitionsTable(spark, path, small).queryExecution.analyzed
      })
  }

  def register(ext: SparkSessionExtensions): Unit = {
    functions.foreach(ext.injectFunction)
    tableFunctions.foreach(ext.injectTableFunction)
  }
}
