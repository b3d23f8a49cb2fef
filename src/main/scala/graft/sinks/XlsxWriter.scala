package graft.sinks

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.DataFrame
import graft.plans.LocalFold

/** Minimal xlsx writer on the JDK only — the K1/K2 Mega-Script sink
  * (SURVEY.md §2.9). Emits a spec-valid workbook: shared machinery for
  * `[Content_Types].xml`, rels, and per-sheet XML with inline strings; a
  * `m/d/yyyy` date number format is available per column (K1's EDD cells,
  * ref /root/reference/247/tools/allocation_tool.py:189-199).
  *
  * Post-aggregation outputs here are small (the reference's are 10¹–10³
  * rows), so this collects to the driver by design; large results belong in
  * parquet sinks. A frame the optimizer folded on the driver is read from
  * its folded rows ([[LocalFold.collect]]). */
object XlsxWriter {

  /** One output sheet: name + rows of cell values (null -> blank). A cell
    * value that is a java.time.LocalDate is written as an Excel date serial
    * with the m/d/yyyy format. Numbers (Int/Long/Double/BigDecimal) are
    * written as numeric cells; a [[Formula]] as a recalculated formula cell;
    * everything else as inline strings.
    *
    * `freezeTopRow` freezes row 1 (the reference's freeze_panes(1, 0));
    * `autosize` emits per-column widths min(maxContentLen + 2, 60). */
  final case class Sheet(name: String, rows: Seq[Seq[Any]],
                         headers: Option[Seq[String]] = None,
                         visible: Boolean = true,
                         freezeTopRow: Boolean = false,
                         autosize: Boolean = false)

  /** A formula cell, e.g. Formula("TODAY()") — written with the m/d/yyyy
    * date style when `dateStyle` (the K2 Invoice Date shape); Excel
    * recalculates on open (no cached value is written). */
  final case class Formula(expr: String, dateStyle: Boolean = true)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private[graft] def colRef(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private val EpochExcel = java.time.LocalDate.of(1899, 12, 30)

  private def cellXml(ref: String, v: Any): String = v match {
    case null => ""
    case d: java.time.LocalDate =>
      val serial = java.time.temporal.ChronoUnit.DAYS.between(EpochExcel, d)
      s"""<c r="$ref" s="1"><v>$serial</v></c>"""
    case f: Formula =>
      val style = if (f.dateStyle) """ s="1"""" else ""
      s"""<c r="$ref"$style><f>${esc(f.expr)}</f></c>"""
    case n @ (_: Int | _: Long | _: Double | _: Float | _: java.math.BigDecimal | _: BigDecimal) =>
      s"""<c r="$ref"><v>$n</v></c>"""
    case s =>
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(s.toString)}</t></is></c>"""
  }

  /** Rendered length of a value for autosize purposes. */
  private def contentLen(v: Any): Int = v match {
    case null => 0
    case f: Formula => f.expr.length + 1
    case d: java.time.LocalDate => 10
    case other => other.toString.length
  }

  private def sheetXml(sheet: Sheet): String = {
    val allRows = sheet.headers.map(h => h.map(identity[Any])).toSeq ++ sheet.rows
    val rowsXml = allRows.zipWithIndex.map { case (row, i) =>
      val cells = row.zipWithIndex.map { case (v, j) => cellXml(s"${colRef(j)}${i + 1}", v) }
        .mkString
      s"""<row r="${i + 1}">$cells</row>"""
    }.mkString
    val views =
      if (sheet.freezeTopRow)
        """<sheetViews><sheetView workbookViewId="0">""" +
          """<pane ySplit="1" topLeftCell="A2" activePane="bottomLeft" state="frozen"/>""" +
          """</sheetView></sheetViews>"""
      else ""
    val cols =
      if (sheet.autosize && allRows.exists(_.nonEmpty)) {
        val nCols = allRows.map(_.size).max
        val widths = (0 until nCols).map { j =>
          val maxLen = allRows.flatMap(_.lift(j)).map(contentLen)
            .foldLeft(0)(math.max)
          math.min(maxLen + 2, 60)
        }
        widths.zipWithIndex.map { case (w, j) =>
          s"""<col min="${j + 1}" max="${j + 1}" width="$w" customWidth="1"/>"""
        }.mkString("<cols>", "", "</cols>")
      } else ""
    // No stripMargin here: the row payload is cell text, which may hold a
    // newline followed by blanks and '|'.
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n" +
      s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">$views$cols<sheetData>$rowsXml</sheetData></worksheet>"""
  }

  /** Write a workbook. Sheet order is preserved; empty sheets allowed (K1's
    * ANOMALY / STORE CLUSTER companions). */
  def write(path: String, sheets: Seq[Sheet]): Unit = {
    require(sheets.nonEmpty, "workbook needs at least one sheet")
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    try {
      val n = sheets.size
      put("[Content_Types].xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
           |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
           |<Default Extension="xml" ContentType="application/xml"/>
           |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
           |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
           |${(1 to n).map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString("\n")}
           |</Types>""".stripMargin)
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin)
      put("xl/workbook.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           |<sheets>${sheets.zipWithIndex.map { case (s, i) =>
                val state = if (s.visible) "" else """ state="hidden""""
                s"""<sheet name="${esc(s.name)}" sheetId="${i + 1}"$state r:id="rId${i + 1}"/>"""
              }.mkString}</sheets>
           |</workbook>""".stripMargin)
      put("xl/_rels/workbook.xml.rels",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |${(1 to n).map(i => s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString("\n")}
           |<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
           |</Relationships>""".stripMargin)
      // style index 1 = built-in date format 14 (m/d/yyyy) for K1 EDD cells.
      put("xl/styles.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>
          |<borders count="1"><border/></borders>
          |<cellStyleXfs count="1"><xf/></cellStyleXfs>
          |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs>
          |</styleSheet>""".stripMargin)
      sheets.zipWithIndex.foreach { case (s, i) =>
        put(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(s))
      }
    } finally zos.close()
  }

  /** K2 baby-flip workbook: the output sheet plus the full INTERMEDIATE
    * LINEAGE — every pipeline stage persisted as its own sheet, and the
    * PO/carrier dimensions as headerless sheets (the reference's audit
    * trail shape). Ref: /root/reference/Flips/tools/baby_flip_tool.py:384-511. */
  def writeBabyFlipWorkbook(path: String,
                            output: DataFrame,
                            raw: Seq[Seq[String]],
                            cleaned: DataFrame,
                            pivot: DataFrame,
                            po: DataFrame,
                            carrier: DataFrame): Unit = {
    def sheetOf(name: String, df: DataFrame, headers: Boolean = true,
                autosize: Boolean = false): Sheet = {
      val rows = LocalFold.collect(df).toSeq.map(r => (0 until r.length).map(r.get))
      Sheet(name, rows, if (headers) Some(df.columns.toSeq) else None,
        autosize = autosize)
    }
    // Araho Sheet renames Store -> Column, freezes the header row,
    // autosizes columns, and writes Invoice Date cells as live =TODAY()
    // formulas with the date style (reference writer behavior).
    val araho = output.withColumnRenamed("Store", "Column")
    val arahoCols = araho.columns.toSeq
    val dateIdx = arahoCols.indexWhere(_.trim.equalsIgnoreCase("Invoice Date"))
    val arahoRows = LocalFold.collect(araho).toSeq.map { r =>
      (0 until r.length).map { i =>
        if (i == dateIdx) Formula("TODAY()") else r.get(i)
      }
    }
    write(path, Seq(
      Sheet("Araho Sheet", arahoRows, Some(arahoCols),
        freezeTopRow = true, autosize = true),
      Sheet("RD master", raw.map(_.map(identity[Any]))),
      sheetOf("RD clean", cleaned),
      sheetOf("Last Level Master", pivot),
      sheetOf("PO#", po, headers = false, autosize = true),
      sheetOf("carriers", carrier, headers = false, autosize = true)))
  }

  /** K1 Mega-Script workbook: `Scripting` sheet from a (small, post-agg)
    * DataFrame — dates written as real date cells with m/d/yyyy format,
    * nulls as blank — plus empty `ANOMALY` / `STORE CLUSTER` sheets.
    * Ref: /root/reference/247/tools/allocation_tool.py:168-207. */
  def writeMegaScript(df: DataFrame, path: String): Unit = {
    val headers = df.columns.toSeq
    val rows = LocalFold.collect(df).toSeq.map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case d: java.sql.Date => d.toLocalDate
          case other => other
        }
      }
    }
    write(path, Seq(
      Sheet("Scripting", rows, Some(headers)),
      Sheet("ANOMALY", Seq.empty),
      Sheet("STORE CLUSTER", Seq.empty)))
  }
}
