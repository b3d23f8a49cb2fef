package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import graft.core.SchemaOps
import graft.pipelines.{AllocationPipeline, DockPipeline, FlipsPipeline, PriceSheetPipeline,
  SouthernCrossPipeline, VendorConfig}
import graft.sinks.{MacroRenderer, XlsxWriter}

/** A vendor pipeline over a spreadsheet grid is folded on the driver by
  * the optimizer's `LocalFold`: building it and writing its sinks start
  * no Spark job, and every eager action reads the folded rows
  * (`LocalFold.collect`), so none starts a SQL execution either. A grid
  * derived from a table scan keeps the lazy distributed plan. Jobs and SQL
  * executions are counted with a `SparkListener`. */
class LocalRelationSpec extends SparkSpec {
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  /** `f`'s result, the number of Spark jobs and the number of SQL
    * executions started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val executions = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try {
      val a = f
      ListenerBusDrain(sc)
      (a, jobs.get, executions.get)
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
    val (promoted, jobs, executions) = jobsDuring(SchemaOps.promoteHeaders(grid, headerIdx = 1))
    assert(jobs == 0 && executions == 0)
    assert(promoted.columns.contains("Item Description"))
  }

  /** The Mega-Script workbook and the ADPO X macro over a canonical frame;
    * returns the macro text. */
  private def canonicalSinks(out: DataFrame): String = {
    val dir = Files.createTempDirectory("localrel").toString
    XlsxWriter.writeMegaScript(out, s"$dir/mega.xlsx")
    MacroRenderer.adpoX(out, buyer = "P2E", supplier = "81214", todayIso = "2026-08-14")
  }

  test("allocation over a driver grid returns a LocalRelation; the Mega-Script " +
      "workbook and the ADPO X macro read it with zero jobs") {
    val grid = SchemaOps.gridFromRows(spark, allocationRows)
    val ((out, text), jobs, executions) = jobsDuring {
      val out = AllocationPipeline.run(grid, edd = Some("8/14/2026"))
      (out, canonicalSinks(out))
    }
    assert(jobs == 0 && executions == 0)
    assert(optimized(out).isInstanceOf[LocalRelation], optimized(out).treeString)
    assert(text.split("\n").contains("Type  142-1234567"))
    assert(rows(out.select("Branch", "Item", "Distro Size")) == Seq(
      Seq(114L, 1234567L, 3L), Seq(123L, 2345678L, 4L), Seq(142L, 1234567L, 2L)))
    val (leavins, leavinsJobs, leavinsExecutions) = jobsDuring {
      val out = AllocationPipeline.run(grid, VendorConfig.Leavins, edd = Some("8/14/2026"))
      canonicalSinks(out)
      out
    }
    assert(leavinsJobs == 0 && leavinsExecutions == 0)
    assert(leavins.head().getLong(4) == 79906L)
  }

  test("ACME and Phillips runs and their sinks start no Spark job") {
    val acme = SchemaOps.gridFromRows(spark, Seq(
      Seq("id", "junk", "dock", "Branch", "Item", "Description", "Distro Size", "extra"),
      Seq("1", "x", "189", "86", "1234567", "SHRIMP", "3", "zzz"),
      Seq("2", "x", "436", "114", "2345678", "SALMON", "5", "zzz")))
    val phillips = SchemaOps.gridFromRows(spark, Seq(
      Seq("junk", "dock", "Branch", "Item", "Description", "Distro Size", "x"),
      Seq("a", "436", "86", "111", "A", "2", "z"),
      Seq("b", "436", "87", "222", "B", "4", "z")))
    val ((a, p), jobs, executions) = jobsDuring {
      val a = DockPipeline.runAcme(acme, "acme il week.xlsx", "9/15/2026")
      val p = DockPipeline.runPhillips(phillips, "phillips 436 export.xlsx", "9/15/2026")
      canonicalSinks(a); canonicalSinks(p)
      (a, p)
    }
    assert(jobs == 0 && executions == 0)
    assert(rows(a.select("Branch", "Item")) == Seq(Seq(114L, 2345678L), Seq(186L, 1234567L)))
    assert(rows(p.select("Branch", "Warehouse")) == Seq(Seq(186L, 436L), Seq(187L, 436L)))
  }

  test("SouthernCross run and its sinks start no Spark job") {
    val grid = SchemaOps.gridFromRows(spark, Seq(
      Seq("Item", "Description", "142.0", "114", "LOT #", "junk"),
      Seq("1234567", "SHRIMP", "3.0", "", "L1", "j"),
      Seq("2345678.0", "SALMON", "n/a", "4", "L3", "j")))
    val (out, jobs, executions) = jobsDuring {
      val out = SouthernCrossPipeline.run(grid, edd = "9/15/2026")
      canonicalSinks(out)
      out
    }
    assert(jobs == 0 && executions == 0)
    assert(rows(out.select("Branch", "Item")) == Seq(Seq(114L, 2345678L), Seq(142L, 1234567L)))
  }

  test("PriceSheetPipeline.run and its DLPM macro start no Spark job") {
    val grid = SchemaOps.gridFromRows(spark, Seq(
      Seq("Price Sheet", "", "", "", ""),
      Seq("Item#", "Item Name", "FOB", "490.0", "142"),
      Seq("1234567", "SHRIMP", "9.10", "12.50", "$13.00")))
    val (text, jobs, executions) = jobsDuring {
      MacroRenderer.dlpm(PriceSheetPipeline.run(grid), initials = "p.y", dateText = "08/12/26")
    }
    assert(jobs == 0 && executions == 0)
    assert(text.split("\n").contains("Type 498-1234567"))
  }

  test("Flips big-flip and baby-flip outputs and their workbooks start no Spark job") {
    import spark.implicits._
    val sheet = Seq(
      Seq("junk", "", "", "", "$12.5 fob", "9.0", ""),
      Seq("skip", "", "", "", "x", "x", ""),
      Seq("junk", "", "", "", "7", "0", ""),
      Seq("skip", "", "", "", "x", "x", ""),
      Seq("Item", "a", "b", "c", "Store 114", "123 East", "Lot #"),
      Seq("1111111", "x", "x", "x", "3 cs", "", "L1"),
      Seq("", "", "", "Total Weight", "", "", ""),
      Seq("Item", "id", "some desc", "pack size", "114.0", "123", "Lot #"),
      Seq("3333333", "i1", "FROZEN X", "2", "3", "", "498-68594 39024"))
    val (big, baby) = FlipsPipeline.split(sheet)
    val po = Seq(("114", "114-57466")).toDF("Store", "PO #")
    val carrier = Seq(("114", 8)).toDF("Store", "carrier code")
    val dir = Files.createTempDirectory("flips").toString
    val ((bigOut, babyOut), jobs, executions) = jobsDuring {
      val bigOut = FlipsPipeline.outputBig(
        FlipsPipeline.pivotBig(FlipsPipeline.cleanBig(spark, big)),
        FlipsPipeline.storeDim(spark, big), edd = "8/14/26")
      canonicalSinks(bigOut)
      val cleaned = FlipsPipeline.cleanBaby(spark, baby)
      val pivot = FlipsPipeline.pivotBaby(cleaned)
      val babyOut = FlipsPipeline.outputBaby(pivot, po, carrier, invoiceDate = "8/12/2026")
      XlsxWriter.writeBabyFlipWorkbook(s"$dir/baby.xlsx", babyOut, baby,
        cleaned, pivot, po, carrier)
      (bigOut, babyOut)
    }
    assert(jobs == 0 && executions == 0)
    assert(rows(bigOut.select("Branch", "XDCK", "FOB")) == Seq(Seq(114L, 7.0, 12.5)))
    assert(rows(babyOut.select("Store", "PO #", "weight")) == Seq(Seq(114L, "114-57466", 6L)))
  }

  test("a grid holding only its header rows runs and writes its sinks with no " +
      "Spark job and no rows") {
    val grid = SchemaOps.gridFromRows(spark, allocationRows.take(2))
    val ((out, text), jobs, executions) = jobsDuring {
      val out = AllocationPipeline.run(grid, edd = Some("8/14/2026"))
      (out, canonicalSinks(out))
    }
    assert(jobs == 0 && executions == 0)
    assert(out.collect().isEmpty)
    assert(text.trim.isEmpty)
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
