package graft.spark

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.file.{Files, Path}

/** Shared helpers for PARTITIONED PARQUET STATE directories maintained by
  * the incremental operators (StreamingCurate's hb= state/curated dirs,
  * IncrementalNearDup's bp= band index), for recursive deletes across
  * the table format, and the one parquet writer and footer reader of the
  * program. One definition so the quirks live in one place:
  * an empty partitionBy write emits only _SUCCESS (unreadable — schema
  * inference fails), and partition REPLACEMENT must be
  * materialize-then-delete-then-append because dynamic partition
  * overwrite skips partitions that emptied, leaking stale rows. */
private[graft] object StateDirs {

  /** Writer options that swap the write's `file:` file system for
    * [[NioLocalFileSystem]]. Spark copies writer options into the write's
    * Hadoop conf, which reaches the driver's committer and every task; the
    * cache switch is needed because the JVM-wide `file:` instance is cached
    * (stock) before any write runs. Other schemes are untouched. */
  private val localFsOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The writer of every program parquet write (table data, deletes,
    * conv-fp sidecars, state dirs, curated outputs): file and directory
    * permissions are set in-process, not by one forked `chmod` each. */
  def write[T](data: Dataset[T]): DataFrameWriter[T] =
    data.write.options(localFsOptions)

  // One Configuration and one set of read options for every footer read:
  // a reader opened without options parses Hadoop's XML defaults again on
  // every call. Sharing is safe because these readers decode no pages, so
  // the options' codec factory stays empty. A bare Configuration is
  // deliberate: the table format is local-FS by construction (every
  // manifest/promote path uses java.nio.Files).
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()
  private lazy val footerOptions = HadoopReadOptions.builder(footerConf).build()

  /** Open the parquet file at `p` to read its footer; the caller closes it. */
  def openFooter(p: Path): ParquetFileReader =
    ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), footerConf), footerOptions)

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** True when the dir holds at least one `<partCol>=` partition dir. */
  def hasPartitions(dir: Path, partCol: String): Boolean =
    Files.isDirectory(dir) && {
      val s = Files.list(dir)
      try s.toArray.exists(
        _.asInstanceOf[Path].getFileName.toString.startsWith(partCol + "="))
      finally s.close()
    }

  /** The `values` partitions of `dir`, or `emptyLike` when the dir has
    * never been written (partition pruning keeps the read batch-sized). */
  def readPartitioned(spark: SparkSession, dir: Path, partCol: String,
                      values: Seq[Int], emptyLike: => DataFrame): DataFrame =
    if (!hasPartitions(dir, partCol)) emptyLike
    else spark.read.parquet(dir.toString)
      .where(col(partCol).isin(values.map(Integer.valueOf): _*))

  /** Rewrite exactly the `values` partitions of `dir` with `rows` — the
    * caller MUST have materialized `rows` (localCheckpoint) because they
    * were typically read from the very dirs deleted here. Replaces
    * emptied partitions too. */
  def replacePartitions(dir: Path, partCol: String, values: Seq[Int],
                        rows: DataFrame): Unit = {
    values.foreach(v => deleteRecursively(dir.resolve(s"$partCol=$v")))
    if (!rows.isEmpty)
      write(rows).mode(SaveMode.Append).partitionBy(partCol).parquet(dir.toString)
  }
}
