package graft

import java.nio.file.Files

import graft.sinks.Compaction
import org.apache.spark.sql.functions._

/** Small-files compaction: fragmentation goes away, data does not, and the
  * sorted variant leaves files value-clustered for min/max pruning. All
  * paths go through the Hadoop FileSystem API (resolved per-URI), so the
  * same code serves hdfs:// on a cluster; here it's exercised through both
  * a bare path and an explicit file:// URI. */
class CompactionSpec extends SparkSpec {

  test("compactParquetDir: fewer files, identical data, clustered when sorted") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact").resolve("t").toString
    // Fragmented write: 64 splinter files.
    spark.range(0, 20000, 1, 64)
      .select(col("id"), (col("id") % 97).as("k"))
      .write.parquet(dir)
    val before = Compaction.parquetFileCount(spark, dir)
    assert(before >= 32, s"fixture not fragmented: $before files")
    val beforeSum = spark.read.parquet(dir).agg(sum("id"), count(lit(1)))
      .as[(Long, Long)].head()

    // Target = half the current bytes -> exactly 2 files.
    val bytes = Compaction.parquetBytes(spark, dir)
    val n = Compaction.compactParquetDir(spark, dir, targetBytes = (bytes + 1) / 2,
      sortCols = Seq("id"))
    assert(n == 2)
    assert(Compaction.parquetFileCount(spark, dir) == 2)

    // Content identical.
    val after = spark.read.parquet(dir)
    assert(after.agg(sum("id"), count(lit(1))).as[(Long, Long)].head() == beforeSum)

    // Range-clustered: the two files' id ranges must not overlap.
    val ranges = after
      .select(input_file_name().as("f"), col("id"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .orderBy("lo")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length == 2)
    assert(ranges(0)._2 < ranges(1)._1,
      s"files overlap on the sort key: $ranges")
  }

  test("compactParquetDir over an explicit file:// URI (Hadoop FS path)") {
    import spark.implicits._
    val local = Files.createTempDirectory("compact-uri").resolve("t")
    val uri = "file://" + local.toString
    spark.range(0, 5000, 1, 16).write.parquet(uri)
    assert(Compaction.parquetFileCount(spark, uri) == 16)
    val beforeSum = spark.read.parquet(uri).agg(sum("id")).as[Long].head()

    val bytes = Compaction.parquetBytes(spark, uri)
    assert(bytes > 0)
    val n = Compaction.compactParquetDir(spark, uri, targetBytes = bytes * 2)
    assert(n == 1)
    assert(Compaction.parquetFileCount(spark, uri) == 1)
    assert(spark.read.parquet(uri).agg(sum("id")).as[Long].head() == beforeSum)
    // Swap left no temp/backup siblings behind.
    assert(!Files.exists(local.resolveSibling("t._compact_tmp")))
    assert(!Files.exists(local.resolveSibling("t._compact_old")))
  }
}
