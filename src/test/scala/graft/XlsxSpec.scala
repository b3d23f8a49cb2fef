package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import scala.jdk.CollectionConverters._
import graft.sources.Xlsx
import graft.sinks.XlsxWriter
import graft.sinks.XlsxWriter.Sheet

/** Excel source/sink specs: write-then-read round trip plus the S1/S2
  * folder-selection semantics. */
class XlsxSpec extends SparkSpec {

  private def tmpDir() = Files.createTempDirectory("xlsx-spec").toString

  test("A1 refs: colIndex/colRef round-trip") {
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("AB3") == 27)
    assert(XlsxWriter.colRef(0) == "A")
    assert(XlsxWriter.colRef(27) == "AB")
    for (i <- 0 until 200) assert(Xlsx.colIndex(XlsxWriter.colRef(i) + "1") == i)
  }

  test("write -> read round trip: strings, numbers, nulls, sparse cells") {
    val dir = tmpDir()
    val path = s"$dir/roundtrip.xlsx"
    XlsxWriter.write(path, Seq(
      Sheet("data", Seq(
        Seq("Item#", "Item Description", "114.0", "Total"),
        Seq("1234567", "FROZEN <SHRIMP> & \"CO\"", 3, 5),
        Seq("2345678", null, 4.5, null),
        Seq("line one\n  |line two")))))
    val grid = Xlsx.readSheetGrid(path)
    assert(grid(0) == Seq("Item#", "Item Description", "114.0", "Total"))
    assert(grid(1) == Seq("1234567", "FROZEN <SHRIMP> & \"CO\"", "3", "5"))
    assert(grid(2)(0) == "2345678")
    assert(grid(2)(1) == null)
    assert(grid(2)(2) == "4.5")
    assert(grid(3) == Seq("line one\n  |line two"))
  }

  test("a sheet part that declares a DOCTYPE is refused: no external entity is read") {
    val dir = tmpDir()
    val secret = Files.writeString(Paths.get(s"$dir/secret.txt"), "TOP-SECRET")
    val plain = s"$dir/plain.xlsx"
    XlsxWriter.write(plain, Seq(Sheet("data", Seq(Seq("x")))))
    val sheetPart = "xl/worksheets/sheet1.xml"
    val hostile = s"$dir/hostile.xlsx"
    val in = new ZipFile(plain)
    val out = new ZipOutputStream(Files.newOutputStream(Paths.get(hostile)))
    try in.entries.asScala.foreach { e =>
      out.putNextEntry(new ZipEntry(e.getName))
      out.write(
        if (e.getName != sheetPart) in.getInputStream(e).readAllBytes()
        else ("""<?xml version="1.0" encoding="UTF-8"?>""" +
          s"""<!DOCTYPE worksheet [<!ENTITY xxe SYSTEM "${secret.toUri}">]>""" +
          """<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>&xxe;</t>""" +
          """</is></c></row></sheetData></worksheet>""").getBytes(StandardCharsets.UTF_8))
      out.closeEntry()
    } finally { out.close(); in.close() }
    val err = intercept[IllegalArgumentException](Xlsx.readSheetGrid(hostile))
    assert(err.getMessage.contains(sheetPart) && err.getMessage.contains("DOCTYPE"),
      err.getMessage)
    assert(!err.getMessage.contains("TOP-SECRET"))
  }

  test("sheet selection: by name, and active-visible default") {
    val dir = tmpDir()
    val path = s"$dir/multi.xlsx"
    XlsxWriter.write(path, Seq(
      Sheet("first", Seq(Seq("a"))),
      Sheet("script", Seq(Seq("b")))))
    assert(Xlsx.readSheetGrid(path, Some("script"))(0) == Seq("b"))
    assert(Xlsx.readSheetGrid(path, None)(0) == Seq("a"))
    val wb = Xlsx.workbook(path)
    assert(wb.sheets.map(_.name) == Seq("first", "script"))
    assert(wb.activeVisibleSheet.name == "first")
    intercept[IllegalArgumentException](Xlsx.readSheetGrid(path, Some("nope")))
  }

  test("hidden sheets are skipped by active-visible selection") {
    val dir = tmpDir()
    val path = s"$dir/hidden.xlsx"
    XlsxWriter.write(path, Seq(
      Sheet("scratch", Seq(Seq("h")), visible = false),
      Sheet("real", Seq(Seq("v")))))
    val wb = Xlsx.workbook(path)
    assert(!wb.sheets(0).visible && wb.sheets(1).visible)
    // activeTab 0 points at the hidden sheet -> fall to first VISIBLE one.
    assert(wb.activeVisibleSheet.name == "real")
    assert(Xlsx.readSheetGrid(path, None)(0) == Seq("v"))
    // by-name read still reaches the hidden sheet (reference reads 'script'
    // by name regardless of visibility).
    assert(Xlsx.readSheetGrid(path, Some("scratch"))(0) == Seq("h"))
  }

  test("P8 integration: duplicate headers deduped during promotion") {
    val grid = graft.core.SchemaOps.gridFromRows(spark, Seq(
      Seq("Item#", "490", "457", "490"),
      Seq("1", "a", "b", "c")))
    val df = graft.core.SchemaOps.promoteHeaders(grid, headerIdx = 0)
    assert(df.columns.toSeq == Seq("_row_idx", "Item#", "490", "457", "490.1"))
    assert(df.select("`490.1`").head.getString(0) == "c")
  }

  test("S1 fileByKeyword: keyword match, ~$ lock files skipped") {
    val dir = tmpDir()
    XlsxWriter.write(s"$dir/weekly allocation report.xlsx", Seq(Sheet("s", Seq(Seq("x")))))
    XlsxWriter.write(s"$dir/price list.xlsx", Seq(Sheet("script", Seq(Seq("y")))))
    Files.write(Paths.get(s"$dir/~$$weekly allocation report.xlsx"), Array[Byte](1))
    assert(Xlsx.fileByKeyword(dir, "allocation").getFileName.toString
      == "weekly allocation report.xlsx")
    assert(Xlsx.fileByKeyword(dir, "price").getFileName.toString == "price list.xlsx")
    intercept[IllegalArgumentException](Xlsx.fileByKeyword(dir, "missing"))
  }

  test("S2 singleFileWithCleanStem: cleaned lower/trim/collapsed stem") {
    val dir = tmpDir()
    XlsxWriter.write(s"$dir/  Baby   FLIP  Salmon .xlsx", Seq(Sheet("s", Seq(Seq("x")))))
    val (_, stem) = Xlsx.singleFileWithCleanStem(dir)
    assert(stem == "baby flip salmon")
  }

  test("readGrid: _row_idx + positional columns into the schema layer") {
    val dir = tmpDir()
    val path = s"$dir/grid.xlsx"
    XlsxWriter.write(path, Seq(Sheet("s", Seq(Seq("h1", "h2"), Seq("a", "b")))))
    val df = Xlsx.readGrid(spark, path)
    assert(df.columns.toSeq == Seq("_row_idx", "c0", "c1"))
    assert(rows(df.orderBy("_row_idx")) ==
      Seq(Seq(0L, "h1", "h2"), Seq(1L, "a", "b")))
  }

  test("mega-script workbook shape: Scripting + empty ANOMALY/STORE CLUSTER") {
    import spark.implicits._
    val dir = tmpDir()
    val path = s"$dir/mega.xlsx"
    val df = Seq((114L, "0001234", 3L), (123L, "0002345", 4L))
      .toDF("branch", "item", "distro_size")
    XlsxWriter.writeMegaScript(df, path)
    val wb = Xlsx.workbook(path)
    assert(wb.sheets.map(_.name) == Seq("Scripting", "ANOMALY", "STORE CLUSTER"))
    val grid = Xlsx.readSheetGrid(path, Some("Scripting"))
    assert(grid(0) == Seq("branch", "item", "distro_size"))
    assert(grid(1) == Seq("114", "0001234", "3"))
    assert(Xlsx.readSheetGrid(path, Some("ANOMALY")).isEmpty)
  }
}
