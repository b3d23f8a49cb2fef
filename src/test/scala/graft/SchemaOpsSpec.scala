package graft

import graft.core.{Na, SchemaOps}

/** Dynamic-schema layer specs (SURVEY.md §2.2 P1–P8) over fixture grids
  * shaped like FIXTURES.md §1. */
class SchemaOpsSpec extends SparkSpec {

  private def allocGrid = SchemaOps.gridFromRows(spark, Seq(
    Seq("Allocation Report", "", "", "", "", ""),
    Seq("Item#", "Item Description", "114.0", "123", "142.0", "Total"),
    Seq("1234567", "FROZEN SHRIMP 16/20", "3", "", "2.0", "5"),
    Seq("2345678", "SALMON FILLET", "0", "4", "", "4"),
    Seq("TOTALS", "", "3", "4", "2", "9")))

  test("P1/P2 promoteHeaders: row 1 becomes cleaned schema, rows <=1 dropped") {
    val df = SchemaOps.promoteHeaders(allocGrid, headerIdx = 1)
    assert(df.columns.toSeq ==
      Seq(SchemaOps.RowIdx, "Item#", "Item Description", "114", "123", "142", "Total"))
    assert(df.count() == 3)
    assert(df.where(s"${SchemaOps.RowIdx} <= 1").count() == 0)
  }

  test("promoteHeaders renames by position: a header reading like a later " +
      "positional name renames only its own column") {
    val grid = SchemaOps.gridFromRows(spark, Seq(
      Seq("c2", "C1", "qty"),
      Seq("a", "b", "7")))
    val df = SchemaOps.promoteHeaders(grid)
    assert(df.columns.toSeq == Seq(SchemaOps.RowIdx, "c2", "C1", "qty"))
    assert(rows(df.drop(SchemaOps.RowIdx)) == Seq(Seq("a", "b", "7")))
  }

  test("P7 cleanHeader: strip trailing .0/.00 only from numeric-looking names") {
    assert(SchemaOps.cleanHeader("114.0") == "114")
    assert(SchemaOps.cleanHeader("114.00") == "114")
    assert(SchemaOps.cleanHeader("14.50") == "14.50")
    assert(SchemaOps.cleanHeader(" Item# ") == "Item#")
  }

  test("P8 dedupeHeaders: pandas-style x, x.1, x.2") {
    assert(SchemaOps.dedupeHeaders(Seq("a", "b", "a", "a")) ==
      Seq("a", "b", "a.1", "a.2"))
  }

  test("fuzzy resolveColumn: case/space/# insensitive") {
    val cols = Seq("Item #", "Distro Size", "Lot #")
    assert(SchemaOps.resolveColumn(cols, "item") == Some("Item #"))
    assert(SchemaOps.resolveColumn(cols, "LOT#") == Some("Lot #"))
    assert(SchemaOps.resolveColumn(cols, "missing") == None)
  }

  test("P3 marker trims: left-of and through") {
    val cols = Seq("Item#", "Desc", "114", "Total", "junk")
    assert(SchemaOps.columnsLeftOf(cols, "Total") == Seq("Item#", "Desc", "114"))
    assert(SchemaOps.columnsThrough(cols, "Total") == Seq("Item#", "Desc", "114", "Total"))
    assert(SchemaOps.columnsLeftOf(cols, "absent") == cols)
  }

  test("Na vocabulary: driver-side and column-side agree") {
    for (s <- Seq("", " na ", "N/A", "NaN", "None", "NULL", "nah"))
      assert(Na.isNaString(s), s"'$s' should be NA")
    assert(!Na.isNaString("0"))
    assert(!Na.isNaString("x"))
  }
}
