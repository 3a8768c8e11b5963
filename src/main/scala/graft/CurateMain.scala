package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Training-corpus curation CLI — the corpus-side twin of `JobMain`: one
  * command takes a raw documents table to a training-ready, deduped,
  * mixture-balanced, epoch-ordered corpus, composing the engine's
  * operators in the order a web-scale pipeline runs them:
  *
  *   1. quality gates (token bounds for every language; stopword-ratio
  *      gate for English, where the stoplist is meaningful),
  *   2. exact dedup, keep-first by content hash,
  *   3. near-dup removal: MinHash/LSH candidate pairs (exact-jaccard
  *      verified, hot-band capped) → connected components → keep each
  *      cluster's minimum doc_id,
  *   4. target-mixture reweighting (rates derived from the surviving
  *      counts, deterministic md5-prefix acceptance),
  *   5. deterministic epoch shuffle (shard + reproducible order).
  *
  * Usage: CurateMain <documentsParquet> <outDir>
  *          [--shards=N] [--epoch=K] [--target=en:0.5,es:0.1,...]
  *          [--near-dup-cap=N]
  * Prints one JSON funnel line (stage counts) on completion.
  *
  * Scale notes: the pipeline materializes ONE intermediate (the
  * post-exact-dedup survivor set) to parquet before the iterative
  * near-dup stage — at 100 TB the LSH + connected-components loop must
  * not re-execute the scan/gate/dedup lineage on every label-propagation
  * iteration, and a staged parquet is the standard super-stage boundary.
  * Everything else is single-pass: gates are row-local; exact dedup is
  * ONE hash aggregation (`min_by` keeps the whole surviving row, so the
  * gate scan runs exactly once and its observe() count is exact);
  * mixture rates are a broadcast the size of the language set; the epoch
  * order is one hash exchange + in-partition sort. Funnel counts come
  * from observe() on the single staged pass, parquet metadata counts
  * (no data scan) for the materialized stages, and the tiny
  * checkpointed loser set for near-dups. The final corpus is written
  * partitioned by shard so a trainer reads its shard's files only.
  */
object CurateMain {

  final case class Funnel(input: Long, qualityKept: Long, exactUnique: Long,
                          nearDupRemoved: Long, untargetedDropped: Long,
                          mixtureKept: Long)

  /** Row-local quality gates: token bounds everywhere; stopword-ratio
    * floor (>= 6 percent) for English only. The word/stopword fold is
    * `Queries.wordStopCounts` — the SAME definition q13/q37 score with,
    * so the CLI's gate can never silently diverge from the query surface. */
  private[graft] def qualityGate(docs: DataFrame): DataFrame =
    docs.withColumn("__ws", graft.queries.Queries.wordStopCounts)
      .where(col("__ws.w").between(5, 900) &&
        (col("lang") =!= "en" || col("__ws.s") * 1000 >= col("__ws.w") * 60))
      .drop("__ws")

  /** Exact dedup, keep-first: the minimum doc_id per content hash survives.
    * ONE aggregation — `min_by` carries the surviving row through the
    * map-side partial, so the input is scanned exactly once (an agg+semi-
    * join shape would scan it twice and double any upstream observe()). */
  private[graft] def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("__h"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("lang"), col("source")),
        col("doc_id")).as("__r"))
      .select(col("__r.doc_id"), col("__r.text"), col("__r.lang"), col("__r.source"))

  /** Near-dup losers of the survivor set: LSH candidate pairs → connected
    * components → every non-minimum cluster member. Tiny (pair-graph
    * vertices only) and checkpointed, so counting it and anti-joining it
    * costs no recomputation of the upstream pipeline. */
  private[graft] def nearDupLosers(spark: SparkSession, docs: DataFrame,
                                   maxBandBucket: Int): DataFrame = {
    val pairs = graft.queries.Queries.nearDupPairs(spark, docs, maxBandBucket)
    graft.functions.DedupCluster.connectedComponents(spark, pairs, "doc_a", "doc_b")
      .where(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
      .localCheckpoint(true)
  }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.length == 2, "usage: CurateMain <documentsInput> <outDir> " +
      "[--input-format=parquet|jsonl|warc] [--shards=N] [--epoch=K] " +
      "[--target=en:0.5,...] [--near-dup-cap=N]")
    val Array(input, outDir) = pos
    // a typo'd flag must not silently run with defaults — a corpus built
    // with --epochs=3 (for --epoch) would differ only at training time
    val known = Set("shards", "epoch", "near-dup-cap", "target", "input-format")
    args.filter(_.startsWith("--")).foreach { a =>
      val name = a.stripPrefix("--").takeWhile(_ != '=')
      require(known.contains(name), s"unknown flag --$name " +
        s"(known: ${known.toSeq.sorted.map("--" + _).mkString(", ")})")
      // every known flag takes a value: a bare `--input-format` would
      // pass the name check, miss every `--name=`-prefixed reader, and
      // silently run with the default — the exact failure this
      // validation exists to prevent
      require(a.contains("="), s"flag --$name expects a value: --$name=...")
    }
    def intFlag(name: String, dflt: Int): Int =
      args.find(_.startsWith(s"--$name=")).map { a =>
        val v = a.stripPrefix(s"--$name=")
        try v.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"--$name expects an integer, got: '$v'")
        }
      }.getOrElse(dflt)
    // --shards default is derived from the session's parallelism AFTER the
    // session exists (below): trainer-shard count must scale with the
    // fleet, so a hardcoded default silently underpartitions a big cluster.
    // Pass --shards explicitly for reproducible epoch order across fleets.
    val shardsOpt = args.find(_.startsWith("--shards=")).map(_ => intFlag("shards", 0))
    val epoch = intFlag("epoch", 0)
    val nearDupCap = intFlag("near-dup-cap", 1000)
    require(shardsOpt.forall(_ > 0) && nearDupCap > 0,
      "--shards and --near-dup-cap must be positive")
    val target: Seq[(String, Double)] =
      args.find(_.startsWith("--target=")).map { a =>
        a.stripPrefix("--target=").split(",").toSeq.map { kv =>
          kv.split(":") match {
            case Array(l, p) if l.nonEmpty =>
              try l -> p.toDouble
              catch { case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"--target weight for '$l' is not a number: '$p'")
              }
            case _ => throw new IllegalArgumentException(
              s"--target expects LANG:WEIGHT pairs, got: '$kv'")
          }
        }
      }.getOrElse(Seq("en" -> 0.50, "es" -> 0.10, "de" -> 0.15, "fr" -> 0.15, "zh" -> 0.10))
    require(target.nonEmpty && target.forall(_._2 > 0), "--target weights must be positive")
    require(target.map(_._1).distinct.length == target.length,
      s"--target lists a language twice: ${target.map(_._1).mkString(",")}")

    // same host-owned-session guard as JobMain: active OR default —
    // getOrCreate() can return another thread's default session
    val preexisting =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = SparkSession.builder()
      .appName("graft-curate")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shards = shardsOpt.getOrElse(spark.sparkContext.defaultParallelism)

    // ingestion formats compose straight into curation: the crawl
    // container (WARC) and the release interchange (JSONL) both land on
    // the documents contract before the first gate runs
    val inputFormat = args.find(_.startsWith("--input-format="))
      .map(_.stripPrefix("--input-format=")).getOrElse("parquet")
    val docs = inputFormat match {
      case "parquet" => spark.read.parquet(input)
      case "jsonl"   => graft.sources.CorpusJsonl.read(spark, input)
      // main-text extraction, not the raw bridge: curating navigation
      // chrome and markup is never what a corpus build wants
      case "warc"    => graft.sources.WarcIngest.toDocumentsMainText(
        graft.sources.WarcIngest.read(spark, input))
      case other => throw new IllegalArgumentException(
        s"--input-format must be parquet, jsonl, or warc, got: '$other'")
    }
    val f = curate(spark, docs, outDir,
      target, shards, epoch, nearDupCap)
    println(s"""{"input":${f.input},"quality_kept":${f.qualityKept},""" +
      s""""exact_unique":${f.exactUnique},"near_dup_removed":${f.nearDupRemoved},""" +
      s""""untargeted_dropped":${f.untargetedDropped},""" +
      s""""mixture_kept":${f.mixtureKept},"shards":$shards,"epoch":$epoch,""" +
      s""""out":${graft.model.Json.renderCompact(graft.model.JStr(outDir))}}""")
    if (preexisting.isEmpty) spark.stop()
  }

  /** Full pipeline; writes `outDir/corpus` (partitioned by shard) and
    * `outDir/staging-dedup` (the super-stage intermediate), returns the
    * funnel counts. Deterministic for a given input + parameters. */
  def curate(spark: SparkSession, raw: DataFrame, outDir: String,
             target: Seq[(String, Double)], shards: Int, epoch: Int,
             nearDupCap: Int): Funnel = {
    val docs = raw.select("doc_id", "text", "lang", "source")
    // the input + gate counts ride the single staged pass via observe()
    val obsIn = org.apache.spark.sql.Observation()
    val obsGate = org.apache.spark.sql.Observation()
    val staged = exactDedup(
      qualityGate(docs.observe(obsIn, count(lit(1)).as("n")))
        .observe(obsGate, count(lit(1)).as("n")))
    val staging = s"$outDir/staging-dedup"
    graft.spark.StateDirs.write(staged).mode(SaveMode.Overwrite).parquet(staging)
    val input = obsIn.get.getOrElse("n", 0L).asInstanceOf[Long]
    val gateKept = obsGate.get.getOrElse("n", 0L).asInstanceOf[Long]

    val survivors = spark.read.parquet(staging)
    val exactUnique = survivors.count() // parquet metadata count, no scan
    val losers = nearDupLosers(spark, survivors, nearDupCap)
    val nearDupRemoved = losers.count() // checkpointed, tiny
    val kept = survivors.join(losers, Seq("doc_id"), "left_anti")
    // per-language counts of the dedup survivors, collected ONCE (bounded
    // by language cardinality, like the IVF sample): they feed the funnel
    // (languages outside the target are DROPPED by the mixture join — the
    // count makes that loss visible instead of masquerading as sampling)
    // and go back in as a LOCAL relation so the mixture rates add no
    // second corpus scan to the final write plan
    import spark.implicits._
    val langCounts = kept.groupBy("lang")
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val targetLangs = target.map(_._1).toSet
    val untargetedDropped =
      langCounts.collect { case (l, n) if !targetLangs.contains(l) => n }.sum
    val countsLocal = langCounts.toSeq.sortBy(_._1)
      .map { case (l, n) => (l, n.toDouble) }.toDF("lang", "n")
    val mixed = graft.queries.Queries
      .mixtureReweight(spark, kept, target, langCounts = Some(countsLocal))
    // the corpus count rides the write via observe() (a zero-row write
    // observes no metrics — getOrElse covers the empty corpus, which a
    // partitioned-parquet read-back could not even infer a schema for)
    val obsOut = org.apache.spark.sql.Observation()
    graft.spark.StateDirs.write(graft.queries.Queries.epochOrder(mixed, shards, epoch)
      .select("doc_id", "lang", "source", "text", "shard", "pos")
      .observe(obsOut, count(lit(1)).as("n")))
      .mode(SaveMode.Overwrite)
      .partitionBy("shard").parquet(s"$outDir/corpus")
    val mixtureKept = obsOut.get.getOrElse("n", 0L).asInstanceOf[Long]
    Funnel(input, gateKept, exactUnique, nearDupRemoved, untargetedDropped,
      mixtureKept)
  }
}
