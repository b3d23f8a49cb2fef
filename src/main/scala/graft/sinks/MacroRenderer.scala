package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.LocalFold

/** K3–K5 terminal-macro sinks (SURVEY.md §2.9): keystroke scripts rendered
  * from the canonical output tables.
  *
  * Shape: the sink is ONE ordered text file on the driver, so each renderer
  * selects the typed fields it needs, collects those rows, and groups, sorts
  * and renders them on the driver. The typed rows are several times smaller
  * than the text rendered from them, so collecting them costs less than
  * rendering on executors and collecting the text. Row order is always an
  * explicit sort key — partition order is never trusted. The inputs are the
  * post-aggregation canonical tables (10¹–10³ rows in the reference), the
  * same rows the Mega-Script sink collects. A frame the optimizer folded
  * on the driver is read from its folded rows ([[LocalFold.collect]]).
  *
  * Templates follow /root/reference/247/tools/allocation_tool.py:230-336
  * (ADPO X), /root/reference/Flips/tools/adpo_I_tool.py:73-288 (ADPO I),
  * /root/reference/247/tools/pricesheet_tool.py:106-203 (DLPM). */
object MacroRenderer {

  /** One canonical row for ADPO rendering. */
  final case class AdpoRow(branch: String, item: String, qty: Long,
                           edd: String, xdck: String, fob: String)

  private def itemCode7(s: String): String = {
    val noDot = s.trim.replaceAll("\\.0+$", "")
    val digits = noDot.filter(_.isDigit)
    if (digits.isEmpty) noDot else ("0" * math.max(0, 7 - digits.length)) + digits
  }

  private def branchSortKey(b: String): (Double, String) = {
    val n = try b.trim.toDouble catch { case _: NumberFormatException => Double.MaxValue }
    (n, b)
  }

  /** Canonical DataFrame -> collected typed rows (branch/item/qty/edd/xdck/
    * fob), read by position. EDD: real DATE columns render MM/dd/yy (F14);
    * strings pass through. */
  private def adpoRows(df: DataFrame): Seq[AdpoRow] = {
    val eddIsDate = df.schema("Expected Delivery Date").dataType
      .isInstanceOf[org.apache.spark.sql.types.DateType]
    val eddCol =
      if (eddIsDate) date_format(col("Expected Delivery Date"), "MM/dd/yy")
      else col("Expected Delivery Date").cast("string")
    LocalFold.collect(df.select(
        col("Branch").cast("string"),
        col("Item").cast("string"),
        coalesce(col("Distro Size").cast("long"), lit(0L)),
        coalesce(eddCol, lit("")),
        coalesce(col("XDCK").cast("string"), lit("")),
        coalesce(col("FOB").cast("string"), lit(""))))
      .toSeq.map(r => AdpoRow(r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5)))
  }

  /** Group blocks ordered by numeric branch, rows inside a group by
    * (item, qty), each group rendered and the blocks joined. */
  private def renderGrouped(rows: Seq[AdpoRow])(
      render: (String, Seq[AdpoRow]) => Seq[String]): String =
    rows.groupBy(_.branch).toSeq
      .sortBy { case (b, _) => branchSortKey(b) }
      .map { case (branch, rs) =>
        render(branch, rs.sortBy(r => (r.item, r.qty))).mkString("\n")
      }
      .mkString("\n")

  // ── K3: ADPO X ─────────────────────────────────────────────────────────

  def adpoX(df: DataFrame, buyer: String, supplier: String, todayIso: String)(
      implicit spark: SparkSession): String = {
    val supplierDigits = {
      val s = supplier.trim.stripSuffix(".0")
      val d = s.filter(_.isDigit)
      if (d.isEmpty) s else d
    }
    def clipboardBlock: Seq[String] = Seq(
      "wait 3000",
      "EditSelect 13,39,13,47",
      "key EditCopy",
      "wait 1000",
      s"FileSpec clipboard,C:\\POs\\VendorNo-$supplierDigits-$todayIso.csv,append",
      "key EditSaveClipboard",
      "wait 1000",
      s"FileSpec clipboard,\\\\10.1.12.12\\faxshare\\DailyPOCount\\POs\\${todayIso}_$buyer.csv,append",
      "key EditSaveClipboard",
      "key PA2",
      "type \"adpo,x\"",
      "key enter")
    val text = renderGrouped(adpoRows(df)) { (branch, rs) =>
      val edd = rs.head.edd
      val header = Seq("Key tab", s"Type $buyer", s"Type $branch",
        s"Type $supplierDigits", "Key Enter")
      val items = rs.flatMap { r =>
        Seq(s"Type  $branch-${itemCode7(r.item)}", "Key enter", "Key tab",
          "Key delete", "Key delete", "Key delete", "Key delete",
          s"Type  ${r.qty}", "Key Enter", "Key PF24")
      }
      val footer = Seq(s"Type  $branch-0990033", "Key Enter", "Key tab",
        "Key delete", "Key delete", "Key delete", "Key delete", "Type 0",
        "Key Enter", "Key PF13", "Key Enter", s"Type $edd", "Key Enter",
        "Key Enter")
      header ++ items ++ footer ++ clipboardBlock
    }
    // trailing-space and blank-line scrub, as the reference does
    text.replaceAll("[ \\t]+\\n", "\n").replaceAll("\\n{2,}", "\n")
  }

  def adpoXFileName(supplierDigits: String, todayIso: String): String =
    s"${todayIso}_ADPO_X_Vendor$supplierDigits.txt"

  // ── K4: ADPO I (two footer variants by FOB presence) ───────────────────

  def adpoI(df: DataFrame, buyerCode: String, todayIso: String,
            xdckLetter: String = "I", warehouse: String = "114544",
            freight: String = "W")(implicit spark: SparkSession): String = {
    def numClean(s: String): String = {
      val t = s.trim.replaceAll(",", "")
      if (t.matches("[+-]?(\\d+\\.?\\d*|\\.\\d+)")) {
        val noz = t.replaceAll("(\\.\\d*?)0+$", "$1").replaceAll("\\.$", "")
        noz
      } else s.trim
    }
    def footerCommon(edd: String): Seq[String] = Seq(
      s"Type $warehouse-0990033", "Key enter", "Key tab",
      "Key delete", "Key delete", "Key delete", "Key delete", "Type 0",
      "Key Enter", "Key PF13", "Key Enter", "wait 500", "wait 500",
      s"Type $edd", "Key PF2", "wait 500", s"Type $xdckLetter", "key pf2",
      "wait 1500", "key cursorup", "key cursorup", "wait 500",
      "key cursorup", "key cursorup", "key tab", "wait 500",
      "key cursordown", s"Type $edd", "Key Tab")
    def footerTail(xdck: String): Seq[String] = Seq(
      "key delete", "wait 500", "key delete", "key delete", "key delete",
      s"Type ${numClean(xdck)}", "wait 500", "key tab", s"type $freight",
      "Key tab", "key tab", "wait 500", "key tab", "wait 500",
      "Key cursordown", "wait 500", "Key cursordown", "key tab", "",
      "key Enter", "wait 500", "key Enter", "wait 3000",
      "EditSelect 13,39,13,47", "key EditCopy", "wait 1000",
      s"FileSpec clipboard,C:\\POs\\${todayIso}_${warehouse}_$buyerCode.csv,append",
      "key EditSaveClipboard", "wait 1000",
      s"FileSpec clipboard,\\\\10.1.12.12\\faxshare\\DailyPOCount\\POs\\${todayIso}_$buyerCode.csv,append",
      "key EditSaveClipboard")
    val text = renderGrouped(adpoRows(df)) { (branch, rs) =>
      val first = rs.head
      val start = Seq("", "Key tab", s"Type $buyerCode", s"Type $branch",
        "Type 20000", "Key Enter")
      val items = rs.flatMap { r =>
        Seq("", s"Type $warehouse-${itemCode7(r.item)}", "Key enter",
          "Key tab", "Key delete", "Key delete", "Key delete", "Key delete",
          s"Type ${r.qty}", "Key Enter", "Key PF24")
      }
      val footer =
        if (first.fob.trim.nonEmpty && first.fob.trim != "nan")
          Seq("") ++ footerCommon(first.edd) ++ Seq(
            "key delete", "key delete", "key delete", "key delete",
            s"type ${numClean(first.fob)}", "wait 500", "key tab",
            s"type $freight", "Key cursordown", "Key tab", "key tab", "") ++
            footerTail(first.xdck)
        else
          Seq("") ++ footerCommon(first.edd) ++ Seq(
            "key tab", "key tab", "wait 500", "key tab", "Key cursordown",
            "Key tab", "") ++ footerTail(first.xdck)
      start ++ items ++ footer
    }
    text + "\n"
  }

  // ── K5: DLPM (per-row template) ────────────────────────────────────────

  /** Per-ROW 31-line template over (Store#, Item#, Vendor#, Cost): the
    * typed rows are collected, ordered by (Store#, Item#) and rendered on
    * the driver. */
  def dlpm(df: DataFrame, initials: String, dateText: String): String = {
    val rows = LocalFold.collect(df.select(
        col("Store#").cast("string"),
        col("Item#").cast("string"),
        col("Vendor#").cast("string"),
        format_string("%.2f", col("Cost").cast("double"))))
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy { case (store, item, _, _) => (branchSortKey(store), item) }
    rows.map { case (store, item, vendor, cost) =>
      Seq(
        "Key Tab", s"Type $store-${itemCode7(item)}", "Key Tab",
        "Key Delete", "Type H", "Key Tab", "Type A", "Key Enter",
        s"Type $dateText", "Key Tab", "Key Tab", "Key Tab",
        s"Type $initials", "Key Tab", "Key Tab", "Key Tab", "Key Tab",
        s"Type $vendor", "Key Tab", "Key Tab", "Key Tab", "Key Tab",
        "Key Tab", s"Type $cost", "Key Enter", "Type n", "Key Enter",
        "Key Enter", "Key Enter", "Key Enter", "Key Enter", "Key Enter"
      ).mkString("\n")
    }.mkString("\n")
  }

  def dlpmFileName(dateFile: String): String = s"$dateFile 247DLPM.txt"
}
