package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-files compaction — the file-size hygiene pass every long-lived
  * 100 TB lake needs: streaming ingestion and fine-grained partitioned
  * writes accrete thousands of KB-sized parquet files, and each file costs
  * a task, a footer read, and a name-node/listing entry per downstream
  * query. Compaction rewrites a directory to ⌈bytes / targetBytes⌉ files of
  * roughly even size.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] API
  * resolved from the directory URI, so the SAME code runs against
  * `file://` paths locally and `hdfs://` (or any Hadoop-FS-compatible
  * store) on a cluster — sizing, temp-dir write and the directory swap
  * included. A bare path ("/data/t") resolves through the session's
  * `fs.defaultFS`, exactly like Spark's own readers.
  *
  * Scale notes:
  *  - The file budget comes from the directory's ACTUAL on-disk bytes (not
  *    row counts), so compression/encoding ratios carry over to the new
  *    layout: a 10 GB dir at a 128 MB target yields ~80 files.
  *  - `sortCols` (optional) makes the rewrite a range-repartition + within-
  *    partition sort: output files are then value-clustered on those
  *    columns, so parquet min/max row-group statistics prune reads for
  *    later range predicates — compaction and clustering in one shuffle.
  *    Without `sortCols` a round-robin repartition evens out file sizes
  *    with no skew sensitivity.
  *  - The rewrite goes through a sibling temp dir then a rename-based
  *    directory swap (rename is atomic on HDFS and a metadata move on
  *    POSIX), so a reader never sees a half-written mix of old and new
  *    files. On an object store without atomic rename you'd stage to a new
  *    prefix and flip a manifest/table pointer instead; the Spark plan is
  *    identical.
  */
object Compaction {

  /** Rewrite parquet directory `dir` into ~`targetBytes`-sized files.
    * Returns the number of files written. */
  def compactParquetDir(spark: SparkSession, dir: String, targetBytes: Long,
                        sortCols: Seq[String] = Nil): Int =
    rewrite(spark, dir, targetBytes, (df, nFiles) =>
      if (sortCols.nonEmpty) {
        val cs = sortCols.map(col)
        df.repartitionByRange(nFiles, cs: _*).sortWithinPartitions(cs: _*)
      } else df.repartition(nFiles))

  /** Shared rewrite-and-swap: size the file budget from on-disk bytes, let
    * `layout` shape the dataframe into that many partitions, write to a
    * sibling temp dir, swap. Package-private so layout variants
    * ([[ZOrder.compactParquetDirZOrder]]) reuse the swap machinery. */
  private[sinks] def rewrite(spark: SparkSession, dir: String, targetBytes: Long,
                             layout: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val src = new Path(dir)
    val fs = fileSystem(spark, src)
    val bytes = parquetBytes(spark, dir)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val out = layout(spark.read.parquet(dir), nFiles)
    val tmp = sibling(src, "._compact_tmp")
    out.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // Swap: old dir out of the way, tmp in, old removed. Each step is one
    // FileSystem rename/delete — no per-file traffic.
    val old = sibling(src, "._compact_old")
    fs.delete(old, true)
    if (!fs.rename(src, old))
      sys.error(s"compaction swap failed: cannot move $src aside to $old")
    if (!fs.rename(tmp, src)) {
      fs.rename(old, src) // restore — leave the directory as found
      sys.error(s"compaction swap failed: cannot move $tmp into place at $src")
    }
    fs.delete(old, true)
    nFiles
  }

  /** Total bytes of data files in a parquet dir (ignores _SUCCESS/.crc). */
  def parquetBytes(spark: SparkSession, dir: String): Long =
    listParquet(spark, dir).map(_.getLen).sum

  /** Data-file count in a parquet dir. */
  def parquetFileCount(spark: SparkSession, dir: String): Int =
    listParquet(spark, dir).size

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def sibling(p: Path, suffix: String): Path =
    new Path(p.getParent, p.getName + suffix)

  private def listParquet(spark: SparkSession, dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dir)
    val it = fileSystem(spark, p).listFiles(p, true)
    val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) buf += st
    }
    buf.result()
  }
}
