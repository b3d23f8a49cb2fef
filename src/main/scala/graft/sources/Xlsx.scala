package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipFile
import javax.xml.XMLConstants
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Document, Element}
import org.xml.sax.SAXException
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.SchemaOps

/** Minimal xlsx reader built on the JDK only (zip + DOM): the engine's
  * Excel source for S1/S2 (SURVEY.md §2.1).
  *
  * Scope mirrors what the reference actually consumes
  * (/root/reference/247/tools/read_file_tool.py:13-121): cell values as
  * strings, sheet selection by name / visibility / active tab, raw grid with
  * `header=None` semantics. Charts, styles, formulas (cached values are
  * read), merged-cell fills are out of scope.
  *
  * Scale note: spreadsheets are the reference's small *config/grid* inputs
  * (10¹–10³ rows), so this is deliberately a driver-side read feeding
  * [[SchemaOps.gridFromRows]]; the 100 TB data path is parquet/csv/stream
  * sources, never xlsx.
  */
object Xlsx {

  final case class SheetMeta(name: String, visible: Boolean, relId: String)
  final case class Workbook(sheets: Seq[SheetMeta], activeTab: Int) {
    def visibleSheets: Seq[SheetMeta] = sheets.filter(_.visible)
    /** The reference's "active visible sheet": the workbookView activeTab if
      * visible, else the first visible sheet.
      * Ref: /root/reference/247/tools/read_file_tool.py:73-93. */
    def activeVisibleSheet: SheetMeta = {
      val byTab = sheets.lift(activeTab).filter(_.visible)
      byTab.orElse(visibleSheets.headOption)
        .getOrElse(throw new IllegalArgumentException("workbook has no visible sheet"))
    }
  }

  /** One parser configuration for every part. Workbooks come from outside
    * the program, so a part that declares a DOCTYPE is refused: no external
    * entity, XInclude or entity expansion can pull a local file or URL into
    * a cell. The JDK's built-in factory is taken directly, without a
    * service-loader scan of the classpath. The factory is only read after
    * this, so the vendor workers share it. */
  private val xmlFactory: DocumentBuilderFactory = {
    val f = DocumentBuilderFactory.newDefaultInstance()
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setFeature(XMLConstants.FEATURE_SECURE_PROCESSING, true)
    f.setXIncludeAware(false)
    f.setExpandEntityReferences(false)
    f.setNamespaceAware(false)
    f
  }

  private def parseXml(zip: ZipFile, part: String): Document =
    try xmlFactory.newDocumentBuilder().parse(zip.getInputStream(zip.getEntry(part)))
    catch {
      case e: SAXException =>
        throw new IllegalArgumentException(s"${zip.getName}: $part: ${e.getMessage}", e)
    }

  private def elems(doc: Document, tag: String): Seq[Element] = {
    val nl = doc.getElementsByTagName(tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  /** Container sniff by magic bytes: OOXML zip ("PK"), legacy CFB/BIFF8
    * (D0 CF 11 E0 …), or neither (clear error instead of a zip crash —
    * the extension glob accepts `.xls`, so the readers must too). */
  private[sources] def isOoxml(path: String): Boolean = {
    val in = Files.newInputStream(Paths.get(path))
    try {
      val b = new Array[Byte](8)
      val n = in.read(b)
      if (n >= 2 && b(0) == 'P'.toByte && b(1) == 'K'.toByte) true
      else if (n >= 8 && Biff.isCfb(b)) false
      else throw new IllegalArgumentException(
        s"$path: neither an OOXML (.xlsx/.xlsm) zip nor a BIFF8 (.xls) compound file")
    } finally in.close()
  }

  def workbook(path: String): Workbook =
    if (isOoxml(path)) workbookOoxml(path)
    else {
      val wb = Biff.workbook(path)
      Workbook(wb.sheets, wb.activeTab)
    }

  private def workbookOoxml(path: String): Workbook = {
    val zip = new ZipFile(path)
    try {
      val wb = parseXml(zip, "xl/workbook.xml")
      val sheets = elems(wb, "sheet").map { e =>
        SheetMeta(
          name = e.getAttribute("name"),
          visible = {
            val st = e.getAttribute("state")
            st == null || st.isEmpty || st == "visible"
          },
          relId = e.getAttribute("r:id"))
      }
      val active = elems(wb, "workbookView").headOption
        .flatMap(e => Option(e.getAttribute("activeTab")).filter(_.nonEmpty))
        .map(_.toInt).getOrElse(0)
      Workbook(sheets, active)
    } finally zip.close()
  }

  /** Column index from an A1 reference: "A"->0, "AB"->27. */
  private[graft] def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
  }

  /** Raw grid of one sheet as rows of strings (null = empty cell), pandas
    * `header=None` shape. Numbers keep their XML lexical form ("3", "3.5");
    * shared and inline strings resolved; booleans -> "TRUE"/"FALSE". */
  def readSheetGrid(path: String, sheetName: Option[String] = None): Seq[Seq[String]] =
    if (isOoxml(path)) readSheetGridOoxml(path, sheetName)
    else Biff.readSheetGrid(path, sheetName)

  private def readSheetGridOoxml(path: String, sheetName: Option[String]): Seq[Seq[String]] = {
    val zip = new ZipFile(path)
    try {
      val wb = workbook(path)
      val target = sheetName match {
        case Some(n) => wb.sheets.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(
            s"sheet '$n' not found; have: ${wb.sheets.map(_.name).mkString(", ")}"))
        case None => wb.activeVisibleSheet
      }
      // rel id -> worksheet path
      val rels = parseXml(zip, "xl/_rels/workbook.xml.rels")
      val relTarget = elems(rels, "Relationship")
        .find(_.getAttribute("Id") == target.relId)
        .map(_.getAttribute("Target"))
        .getOrElse(throw new IllegalStateException(s"no rel for ${target.relId}"))
      val sheetPath = if (relTarget.startsWith("/")) relTarget.drop(1) else s"xl/$relTarget"
      // shared strings (optional part)
      val shared: IndexedSeq[String] = Option(zip.getEntry("xl/sharedStrings.xml")) match {
        case Some(e) => elems(parseXml(zip, e.getName), "si").map(_.getTextContent).toIndexedSeq
        case None => IndexedSeq.empty
      }
      val sheet = parseXml(zip, sheetPath)
      val rows = elems(sheet, "row").map { rowEl =>
        val cells = {
          val nl = rowEl.getElementsByTagName("c")
          (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
        }
        val byIdx = cells.flatMap { c =>
          val idx = colIndex(c.getAttribute("r"))
          val t = c.getAttribute("t")
          val vNode = c.getElementsByTagName("v")
          val isNode = c.getElementsByTagName("is")
          val value: Option[String] = t match {
            case "s" if vNode.getLength > 0 =>
              Some(shared(vNode.item(0).getTextContent.trim.toInt))
            case "inlineStr" if isNode.getLength > 0 =>
              Some(isNode.item(0).getTextContent)
            case "b" if vNode.getLength > 0 =>
              Some(if (vNode.item(0).getTextContent.trim == "1") "TRUE" else "FALSE")
            case _ if vNode.getLength > 0 => Some(vNode.item(0).getTextContent)
            case _ => None
          }
          value.map(idx -> _)
        }.toMap
        if (byIdx.isEmpty) Seq.empty[String]
        else (0 to byIdx.keys.max).map(i => byIdx.getOrElse(i, null))
      }
      rows
    } finally zip.close()
  }

  /** S7: worksheet-by-weekday pick — tab whose name starts with today's
    * mon/tues/wed/thurs/fri prefix (ci), falling back to the first sheet.
    * Ref: /root/reference/sheet_bot/sheets.py:38-46,
    * /root/reference/sheet_bot/utils.py:29-35. */
  val WeekdayPrefixes: Map[java.time.DayOfWeek, String] = Map(
    java.time.DayOfWeek.MONDAY -> "mon",
    java.time.DayOfWeek.TUESDAY -> "tues",
    java.time.DayOfWeek.WEDNESDAY -> "wed",
    java.time.DayOfWeek.THURSDAY -> "thurs",
    java.time.DayOfWeek.FRIDAY -> "fri")

  def sheetForWeekday(wb: Workbook, day: java.time.DayOfWeek): SheetMeta = {
    val byPrefix = WeekdayPrefixes.get(day).flatMap(p =>
      wb.sheets.find(_.name.toLowerCase.startsWith(p)))
    byPrefix.orElse(wb.sheets.headOption).getOrElse(
      throw new IllegalArgumentException("workbook has no sheets"))
  }

  /** S2: grid DataFrame with `_row_idx` + positional c0..cN columns. */
  def readGrid(spark: SparkSession, path: String,
               sheetName: Option[String] = None): DataFrame =
    SchemaOps.gridFromRows(spark, readSheetGrid(path, sheetName))

  // ── S1/S2 folder-level selection semantics ─────────────────────────────

  /** Excel files in a folder, skipping `~$` lock files.
    * Ref: /root/reference/247/tools/read_file_tool.py:20-28. */
  def excelFilesIn(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.list(d).iterator().asScala.filter { p =>
      val n = p.getFileName.toString.toLowerCase
      (n.endsWith(".xlsx") || n.endsWith(".xlsm") || n.endsWith(".xls")) &&
        !n.startsWith("~$")
    }.toSeq.sortBy(_.getFileName.toString)
  }

  /** S1: find exactly one file whose name contains `keyword` (ci).
    * Ref: /root/reference/247/tools/read_file_tool.py:30-47. */
  def fileByKeyword(dir: String, keyword: String): Path = {
    val hits = excelFilesIn(dir)
      .filter(_.getFileName.toString.toLowerCase.contains(keyword.toLowerCase))
    hits match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"no Excel file matching '$keyword' in $dir")
      case many => throw new IllegalArgumentException(
        s"multiple Excel files matching '$keyword' in $dir: ${many.mkString(", ")}")
    }
  }

  /** S2: exactly one Excel file in the folder, plus its cleaned stem
    * (lower, trim, collapse inner whitespace) used downstream as a
    * parameter. Ref: /root/reference/Flips/tools/read_file_tool.py:13-49. */
  def singleFileWithCleanStem(dir: String): (Path, String) = {
    excelFilesIn(dir) match {
      case Seq(one) =>
        val stem = one.getFileName.toString.replaceAll("(?i)\\.(xlsx|xlsm|xls)$", "")
        (one, stem.toLowerCase.trim.replaceAll("\\s+", " "))
      case other => throw new IllegalArgumentException(
        s"expected exactly one Excel file in $dir, found ${other.size}")
    }
  }
}
