package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-query timing probe under the exact Bench session settings:
  * `runMain graft.tools.QueryProbe <q1,q2,...|all> [reps] [planDir tag]`.
  * Reports every sample + min so steal outliers are visible, not hidden.
  * Given a plan dir and tag, it also writes each query's
  * `.explain("formatted")` output to `<planDir>/<name>_<tag>.txt` — the
  * optimization-round evidence artifact (plans/r07, tags "before"/"after").
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sel = args.headOption.getOrElse("q14_minhash_lsh")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val planOut = for (dir <- args.lift(2); tag <- args.lift(3)) yield (dir, tag)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = graft.SparkEntry.queries
    val names = if (sel == "all") qs.keys.toSeq.sorted else sel.split(",").toSeq
    for ((dir, tag) <- planOut) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      for (n <- names) {
        try {
          val txt = qs(n)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/${n}_$tag.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[queryprobe] wrote $dir/${n}_$tag.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[queryprobe] $n plan FAILED: ${e.getMessage}")
        }
      }
    }
    for (_ <- 1 to 2 if reps > 0; n <- names) // warmup pass over all probed queries
      qs(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
    // interleaved like Bench (rep-major), so cross-query GC/cache context
    // is reproduced when several names are probed together
    val acc = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)
    for (_ <- 1 to reps; n <- names) {
      val t0 = System.nanoTime()
      qs(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
      acc(n) = acc(n) :+ (System.nanoTime() - t0) / 1e9
    }
    for (n <- names; samples = acc(n) if samples.nonEmpty)
      println(f"$n%-24s min=${samples.min}%.3f samples=${samples.map(s => f"$s%.3f").mkString(",")}")
    spark.stop()
  }
}
