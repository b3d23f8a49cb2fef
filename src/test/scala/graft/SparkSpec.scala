package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session (Spark's
  * getOrCreate) so the suite doesn't pay startup per spec class. It is the
  * engine's own session ([[GraftSession.build]]), logging at WARN. */
object SparkSpec {
  lazy val spark: SparkSession = {
    // Codegen-STRICT for every suite, not just SparkEntrySpec's golden
    // loop: a whole-stage compile error must fail the test, never silently
    // fall back to interpreted execution (the q29 bug class — invalid Java
    // under Expand shipped for 4 rounds because fallback hid it).
    val s = GraftSession.build(4, "graft-test",
      Map("spark.sql.codegen.fallback" -> "false"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Suites share one session and `Caches.release()` drops every engine
    * pin, so each suite releases its own before the next one starts. */
  override protected def afterAll(): Unit = {
    graft.core.Caches.release()
    super.afterAll()
  }
  import org.apache.spark.sql.{Column, DataFrame, Row}

  /** One-column string DataFrame helper. */
  def strDf(values: Seq[String]): DataFrame = {
    import spark.implicits._
    values.toDF("v")
  }

  /** Evaluate a Column expression over one string input. */
  def evalStr(input: String, f: Column => Column): Any = {
    import org.apache.spark.sql.functions.col
    val r = strDf(Seq(input)).select(f(col("v"))).collect()(0)
    if (r.isNullAt(0)) null else r.get(0)
  }

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => r.get(i)))

  /** `df` written to parquet and read back: a plan over a file scan, as a
    * real input gives. A plan over driver-local rows alone is folded on the
    * driver (`graft.plans.LocalFold`), so specs that pin the distributed
    * plan shape (a broadcast join, an Expand) build it over this. */
  def scanned(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("scanned").resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }
}
