package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{Dedup, Similarity}
import graft.sinks.Compaction

/** The write path beside the reads, run as part of [[QueryMix]]. Set-up
  * builds two stores over a base corpus: the IVF index (partitioned by
  * cell) and the MinHash signature table. Before each pass, [[restore]]
  * puts that state back, untimed; the pass's [[batch]] then folds one
  * batch into both stores, serves a read against the updated stores and
  * compacts both.
  *
  * Inputs: `base_docs.parquet`, `base_emb.parquet`, `probe_docs.parquet`,
  * `probe_emb.parquet` and `batch/{docs,emb}.parquet`. */
final class IndexAppend(inputs: String, work: String) extends Workload {
  import IndexAppend._

  private val batchDir = s"$inputs/batch"
  private var base: Path = _
  private val live = Paths.get(work, "live")

  override def setup(ctx: Ctx, k: Int): Unit = {
    val spark = ctx.spark
    base = Paths.get(work, s"base$k")
    Main.deleteTree(base)
    val emb = spark.read.parquet(s"$inputs/base_emb.parquet")
    val docs = spark.read.parquet(s"$inputs/base_docs.parquet")
    val cents = emb.orderBy(col("id")).limit(Centroids).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    Similarity.ivfCentroidsDf(spark, cents).write.parquet(s"$base/cents")
    Similarity.ivfIndex(emb, cents).write.partitionBy("_cell").parquet(s"$base/ivf")
    Dedup.minHashSignatures(docs, "doc_id", "text", Shingle, Perms).write.parquet(s"$base/sigs")
    ctx.isolate()
  }

  override def check(ctx: Ctx): Map[String, Any] = {
    val r = pass(ctx)
    val spark = ctx.spark
    val cents = storedCentroids(spark)
    val docs = spark.read.parquet(s"$inputs/base_docs.parquet")
      .unionByName(spark.read.parquet(s"$batchDir/docs.parquet"))
    val emb = spark.read.parquet(s"$inputs/base_emb.parquet")
      .unionByName(spark.read.parquet(s"$batchDir/emb.parquet"))
    def rows(df: DataFrame, key: String): Seq[Row] = df.orderBy(col(key)).collect().toSeq
    val ivf = rows(spark.read.parquet(s"$live/ivf")
      .select(col("id"), col("_cell").cast("int"), col("vec")), "id") ==
      rows(Similarity.ivfIndex(emb, cents).select(col("id"), col("_cell").cast("int"), col("vec")), "id")
    val sigs = rows(spark.read.parquet(s"$live/sigs").select("_id", "_sig"), "_id") ==
      rows(Dedup.minHashSignatures(docs, "doc_id", "text", Shingle, Perms).select("_id", "_sig"), "_id")
    ctx.isolate()
    Map("ivf_equal" -> ivf, "signatures_equal" -> sigs,
      "failed" -> r.jobs.filterNot(_.ok).map(j => s"${j.name}: ${j.error}"))
  }

  /** Put the stores back to the state set-up built. Not part of any
    * timed pass. */
  def restore(): Unit = {
    Main.deleteTree(live)
    Main.copyTree(base, live)
  }

  private def storedCentroids(spark: SparkSession): Seq[(Int, Seq[Double])] =
    Similarity.ivfCentroidsFrom(spark.read.parquet(s"$live/cents"))

  override def pass(ctx: Ctx): PassResult = {
    restore()
    val t0 = System.nanoTime()
    val (job, written, input) = batch(ctx)
    PassResult(System.nanoTime() - t0, Seq(job), written, input)
  }

  /** Append the batch to both stores, serve a read, compact. Returns the
    * job, the bytes written under the stores and the batch's input bytes. */
  def batch(ctx: Ctx): (JobRecord, Long, Long) = {
    val tr = ctx.tr
    val spark = ctx.spark
    val id = ctx.nextJob()
    var written = 0L
    var auditNs = 0L
    // Bytes of the files under the stores that a step created or rewrote.
    // The directory walk is not part of the job's latency.
    var before = files(live)
    def audit(): Unit = {
      val a0 = System.nanoTime()
      val after = files(live)
      written += after.collect { case (p, (size, stamp)) if !before.get(p).contains((size, stamp)) => size }.sum
      before = after
      auditNs += System.nanoTime() - a0
    }
    val t0 = System.nanoTime()
    val outcome = try {
      tr.job("job.batch", id) {
        val cents = storedCentroids(spark)
        val docs = spark.read.parquet(s"$batchDir/docs.parquet")
        val emb = spark.read.parquet(s"$batchDir/emb.parquet")
        tr.span("ops.append") {
          Similarity.ivfIndexAppend(spark, emb, cents, s"$live/ivf")
          Dedup.signatureIndexAppend(spark, docs, "doc_id", "text", s"$live/sigs",
            Shingle, Perms)
        }
        audit()
        tr.span("ops.serve") {
          Similarity.ivfTopKAgainstIndex(spark.read.parquet(s"$inputs/probe_emb.parquet"),
              spark.read.parquet(s"$live/ivf"), cents, nprobe = 2, k = 10)
            .write.format("noop").mode("overwrite").save()
          Dedup.minHashLshPairsAgainstSignatures(spark.read.parquet(s"$inputs/probe_docs.parquet"),
              spark.read.parquet(s"$live/sigs"), "doc_id", "text", Shingle, Perms,
              Bands, Rows, Threshold)
            .write.format("noop").mode("overwrite").save()
          ctx.sampleStorage()
        }
        tr.span("sinks.compact") {
          Similarity.ivfCompact(spark, s"$live/ivf", cents)
          Compaction.compactParquetDir(spark, s"$live/sigs", CompactBytes)
        }
        audit()
      }
      Right(System.nanoTime() - t0 - auditNs)
    } catch {
      case e: Exception =>
        Left((System.nanoTime() - t0 - auditNs) -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val leaked = ctx.isolate()
    val job = outcome match {
      case Right(ns) => JobRecord("batch", "batch", ns, ok = true, leakedRdds = leaked)
      case Left((ns, msg)) =>
        JobRecord("batch", "batch", ns, ok = false, error = msg, leakedRdds = leaked)
    }
    val input = Seq("docs", "emb").map(t => Main.treeBytes(Paths.get(s"$batchDir/$t.parquet"))).sum
    (job, written, input)
  }
}

object IndexAppend {
  val Centroids = 16
  val Shingle = 8
  val Perms = 64
  val Bands = 16
  val Rows = 4
  val Threshold = 0.8
  val CompactBytes: Long = 1L << 20

  /** Every regular file under `root` with its size and modification time. */
  def files(root: Path): Map[Path, (Long, Long)] = {
    val all = Files.walk(root)
    try all.iterator().asScala.flatMap { p =>
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      if (a.isRegularFile)
        Some(p -> (a.size, a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)))
      else None
    }.toMap finally all.close()
  }
}
