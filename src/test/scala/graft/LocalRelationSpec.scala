package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import graft.core.SchemaOps
import graft.pipelines.AllocationPipeline
import graft.sinks.{MacroRenderer, XlsxWriter}

/** A vendor pipeline over a spreadsheet grid runs once on the driver and
  * its sinks read that one result; a grid derived from a table scan keeps
  * the lazy distributed plan. Jobs are counted with a `SparkListener`. */
class LocalRelationSpec extends SparkSpec {
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  /** `f`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try {
      val a = f
      ListenerBusDrain(sc)
      (a, started.get)
    } finally sc.removeSparkListener(counter)
  }

  private def optimized(df: DataFrame) = df.queryExecution.optimizedPlan

  private val allocationRows = Seq(
    Seq("Allocation Report", "", "", "", "", ""),
    Seq("Item#", "Item Description", "114.0", "123", "142.0", "Total"),
    Seq("1234567", "FROZEN SHRIMP 16/20", "3", "", "2.0", "5"),
    Seq("2345678", "SALMON FILLET", "0", "4", "", "4"),
    Seq("TOTALS", "", "3", "4", "2", "9"))

  test("a gridFromRows grid is a LocalRelation: header promotion starts no job") {
    val grid = SchemaOps.gridFromRows(spark, allocationRows)
    assert(optimized(grid).isInstanceOf[LocalRelation])
    val (promoted, jobs) = jobsDuring(SchemaOps.promoteHeaders(grid, headerIdx = 1))
    assert(jobs == 0)
    assert(promoted.columns.contains("Item Description"))
  }

  test("allocation over a driver grid returns a LocalRelation; the Mega-Script " +
      "workbook and the ADPO X macro read it with zero jobs") {
    val grid = SchemaOps.gridFromRows(spark, allocationRows)
    val out = AllocationPipeline.run(grid, edd = Some("8/14/2026"))
    assert(optimized(out).isInstanceOf[LocalRelation], optimized(out).treeString)
    val dir = Files.createTempDirectory("localrel").toString
    val (text, jobs) = jobsDuring {
      XlsxWriter.writeMegaScript(out, s"$dir/mega.xlsx")
      MacroRenderer.adpoX(out, buyer = "P2E", supplier = "81214", todayIso = "2026-08-14")
    }
    assert(jobs == 0)
    assert(text.split("\n").contains("Type  142-1234567"))
    assert(rows(out.select("Branch", "Item", "Distro Size")) == Seq(
      Seq(114L, 1234567L, 3L), Seq(123L, 2345678L, 4L), Seq(142L, 1234567L, 2L)))
  }

  test("q56_allocation_e2e's header-plus-table grid keeps the lazy plan: its " +
      "optimized plan still scans parquet") {
    val dir = Files.createTempDirectory("q56").toString
    spark.range(1, 41).select(col("id").as("p_partkey"))
      .write.parquet(s"$dir/part.parquet")
    val out = SparkEntry.queries("q56_allocation_e2e")(spark, dir)
    val plan = optimized(out)
    assert(!plan.isInstanceOf[LocalRelation])
    assert(plan.collectLeaves().exists(_.isInstanceOf[LogicalRelation]), plan.treeString)
    assert(out.count() > 0)
  }
}
