package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Na, SchemaOps}
import graft.core.SchemaOps.RowIdx
import graft.functions.Exprs
import graft.ops.Ops

/** EP6/EP7 — the Flips combined workbook: one sheet containing the "big
  * flip" region (with an embedded store grid) above a "baby flip" region.
  * Region boundaries and the 2×N store grid are structural decisions over a
  * spreadsheet-sized grid, so they run on the driver; melts, aggregations,
  * and enrichment joins are DataFrame ops.
  * Ref: /root/reference/Flips/tools/big_flip_tool.py:55-292,
  *      /root/reference/Flips/tools/baby_flip_tool.py:7-338. */
object FlipsPipeline {

  private def norm(s: String): String =
    if (s == null) "" else s.toLowerCase.replaceAll("[^a-z0-9]", "")

  private def cell(rows: Seq[Seq[String]], r: Int, c: Int): String =
    rows.lift(r).flatMap(_.lift(c)).orNull

  /** P12 row-region split: big = rows above the first row whose col 3 is
    * "Total Weight" (normalized); baby = from the SECOND row whose col 0 is
    * "Item" to the end. Ref: big_flip_tool.py:55-81. */
  def split(rows: Seq[Seq[String]]): (Seq[Seq[String]], Seq[Seq[String]]) = {
    val twPos = rows.indexWhere(r => norm(r.lift(3).orNull) == "totalweight")
    require(twPos >= 0, "no row where col 4 == 'Total Weight'")
    val itemPositions = rows.zipWithIndex.collect {
      case (r, i) if norm(r.headOption.orNull) == "item" => i
    }
    require(itemPositions.size >= 2,
      s"need at least two 'Item' markers in first column; found ${itemPositions.size}")
    (rows.take(twPos), rows.drop(itemPositions(1)))
  }

  // ── big flip: store grid -> (branch, fob, xdock) broadcast dim ─────────

  /** J3 lookup grid: columns 4..(Lot #|Total on row 4), header row 4,
    * rows 0-4 minus indices 1 and 3 -> two rows relabelled Fob/Xdock;
    * headers -> first int in text; values -> leading number.
    * Emitted as a tidy (branch, fob, xdock) dimension for a broadcast join —
    * the Spark-native shape of the reference's dict lookups.
    * Ref: big_flip_tool.py:84-129, 224-245. */
  def storeDim(spark: SparkSession, bigRows: Seq[Seq[String]]): DataFrame = {
    val headerRow = 4
    val startCol = 4
    val width = bigRows.map(_.size).maxOption.getOrElse(0)
    val stopCol = (startCol until width).find(c => norm(cell(bigRows, headerRow, c)) == "lot")
      .orElse((startCol until width).find(c => norm(cell(bigRows, headerRow, c)) == "total").map(_ + 1))
      .getOrElse(throw new IllegalArgumentException(
        "neither 'Lot #' nor 'Total' found on row 5 at/after column E"))
    val cols = (startCol until stopCol).filter { c =>
      val h = cell(bigRows, headerRow, c)
      h != null && h.trim.nonEmpty && norm(h) != "total"
    }
    // rows 0..3 minus 1 and 3 -> Fob (orig row 0), Xdock (orig row 2)
    def leadingNum(s: String): Double = {
      val m = "^\\$?(-?\\d+(?:\\.\\d+)?)".r.findFirstMatchIn(if (s == null) "" else s.trim)
      m.map(_.group(1).toDouble).getOrElse(0.0)
    }
    def firstInt(s: String): Option[String] =
      "\\d+".r.findFirstIn(if (s == null) "" else s)
    val dim = cols.map { c =>
      val branch = firstInt(cell(bigRows, headerRow, c))
        .getOrElse(cell(bigRows, headerRow, c).trim)
      val fob = leadingNum(cell(bigRows, 0, c))
      val xdock = leadingNum(cell(bigRows, 2, c))
      (branch, fob, xdock)
    }
    import spark.implicits._
    dim.toDF("branch", "fob", "xdock")
  }

  /** clean_big_flip_df: drop rows 0-3 and cols 1-3, promote the next row to
    * headers, drop empty-header columns, drop rows with an empty first
    * column, right-trim at PO# (exclusive) / Lot # (inclusive) / Total
    * (inclusive). Ref: big_flip_tool.py:132-177. */
  def cleanBig(spark: SparkSession, bigRows: Seq[Seq[String]]): DataFrame = {
    val body = bigRows.drop(4).map { r =>
      val keep = r.headOption.toSeq ++ r.drop(4)
      keep
    }
    require(body.nonEmpty, "big flip region has no data rows")
    val header = body.head.map(h => if (h == null) "" else h.trim)
    val validIdx = header.zipWithIndex.collect { case (h, i) if h.nonEmpty => i }
    val names = validIdx.map(header(_))
    val norms = names.map(norm)
    val cut: Seq[Int] = {
      val po = norms.indexOf("po")
      val lot = norms.indexOf("lot")
      val total = norms.indexOf("total")
      if (po >= 0) validIdx.take(po)
      else if (lot >= 0) validIdx.take(lot + 1)
      else if (total >= 0) validIdx.take(total + 1)
      else validIdx
    }
    val keptNames = cut.map(header(_))
    val rows = body.tail
      .filter(r => Option(r.headOption.orNull).exists(_.trim.nonEmpty))
      .map(r => cut.map(i => r.lift(i).orNull))
    SchemaOps.renameColumns(SchemaOps.gridFromRows(spark, rows),
      keptNames.indices.map(i => s"c$i" -> keptNames(i)))
  }

  /** U4+A3: melt branch columns (all but Item / Lot #), parse any number in
    * the cell, group-sum by (Branch, Item, Lot #), ceil to int, drop zeros,
    * sort by first-int-of-branch (junk last). Ref: big_flip_tool.py:180-216. */
  def pivotBig(cleaned: DataFrame): DataFrame = {
    val itemCol = SchemaOps.resolveColumnOrFail(cleaned, "Item")
    val lotCol = cleaned.columns.find(c => norm(c) == "lot").getOrElse(
      throw new IllegalArgumentException("'Lot #' column not found"))
    val branchCols = cleaned.columns.filter(c =>
      c != RowIdx && c != itemCol && c != lotCol).toSeq
    val long = Ops.meltToLong(
        cleaned.select((itemCol +: lotCol +: branchCols).map(SchemaOps.qcol): _*),
        Seq(itemCol, lotCol), branchCols, "Branch", "raw_value")
      .withColumn("Distro Size", Exprs.numAnywhere(col("raw_value")))
    val agg = long.groupBy(col("Branch"), col(itemCol), col(lotCol))
      .agg(ceil(sum(col("Distro Size"))).cast("long").as("Distro Size"))
      .where(col("Distro Size") =!= 0)
    agg.orderBy(
        Exprs.firstIntInText(col("Branch")).asc_nulls_last, col("Branch").asc,
        col(itemCol).asc, col(lotCol).asc, col("Distro Size").asc)
      .select(col("Branch"), col(itemCol).as("Item"),
        col(lotCol).as("Lot #"), col("Distro Size"))
  }

  /** E1 + J3: canonical output with P20/W constants, EDD = next M/W/F, and
    * XDCK/FOB enriched from the store dim via broadcast left join (zero and
    * blank lookups -> null, rendered "" by the writer).
    * Ref: big_flip_tool.py:261-292. */
  def outputBig(pivot: DataFrame, store: DataFrame, edd: String): DataFrame = {
    val base = pivot.select(
      Exprs.firstIntOrZero(col("Branch")).as("Branch"),
      Exprs.firstIntOrZero(col("Item")).as("Item"),
      col("Distro Size"))
    val dim = store.select(
      col("branch").cast("long").as("Branch"),
      when(col("xdock") =!= 0.0, col("xdock")).as("xdck_val"),
      when(col("fob") =!= 0.0, col("fob")).as("fob_val"))
    val joined = Ops.enrichLeft(base, dim, Seq("Branch"))
    val withCols = joined
      .withColumn("WW Buyer", lit("P20"))
      .withColumn("AmountCode", lit("W"))
      .withColumn("Expected Delivery Date", lit(edd))
      .withColumn("Supplier On Record", lit(null).cast("string"))
      .withColumn("XDCK", col("xdck_val").cast("string"))
      .withColumn("FOB", col("fob_val").cast("string"))
    Canonical.conform(withCols.drop("xdck_val", "fob_val"))
  }

  // ── baby flip ──────────────────────────────────────────────────────────

  /** clean_baby_flip_df: header promotion, NA-header column drop, NA cell
    * normalize, Item/Lot row filters, keep-through-Lot#, drop Wgt, 3rd col
    * renamed DESC, store columns (between DESC and Lot #) parsed
    * accounting-style then ceil'd. Ref: baby_flip_tool.py:7-133. */
  def cleanBaby(spark: SparkSession, babyRows: Seq[Seq[String]]): DataFrame = {
    require(babyRows.nonEmpty, "baby flip region is empty")
    val header0 = babyRows.head.map(h => if (h == null) "" else h.trim)
    // drop NA-like headers
    val validIdx = header0.zipWithIndex.collect {
      case (h, i) if !Na.isNaString(h) => i
    }
    var names = validIdx.map(header0(_)).toIndexedSeq
    // keep through Lot # (fullmatch lot\s*#?)
    val lotIdx = names.indexWhere(n => n.trim.toLowerCase.matches("lot\\s*#?"))
    val (keptIdx0, names0) =
      if (lotIdx >= 0) (validIdx.take(lotIdx + 1), names.take(lotIdx + 1))
      else (validIdx, names)
    // drop Wgt
    val wgt = names0.indexWhere(_.trim.toLowerCase == "wgt")
    val (keptIdx, names1) =
      if (wgt >= 0) (keptIdx0.patch(wgt, Nil, 1), names0.patch(wgt, Nil, 1))
      else (keptIdx0, names0)
    // rename 3rd column DESC
    val finalNames = if (names1.size >= 3) names1.updated(2, "DESC") else names1
    val rows = babyRows.tail.map(r => keptIdx.map(i => r.lift(i).orNull))
    var df = SchemaOps.renameColumns(SchemaOps.gridFromRows(spark, rows),
      finalNames.indices.map(i => s"c$i" -> finalNames(i)))
    // NA cell normalize everywhere
    df = finalNames.foldLeft(df)((d, c) => d.withColumn(c, Na.naNormalize(SchemaOps.qcol(c))))
    // drop NA Item rows, drop NA Lot rows
    val itemCol = SchemaOps.resolveColumnOrFail(df, "Item")
    df = df.where(col(itemCol).isNotNull)
    finalNames.find(n => n.trim.toLowerCase.matches("lot\\s*#?")).foreach { lc =>
      df = df.where(col(lc).isNotNull)
    }
    // store columns between DESC and Lot #: accounting parse -> ceil -> long;
    // store headers get trailing .0 stripped
    val iDesc = finalNames.indexOf("DESC")
    val iLot = finalNames.indexWhere(n => n.trim.toLowerCase.matches("lot\\s*#?"))
    if (iDesc >= 0 && iLot > iDesc) {
      val between = finalNames.slice(iDesc + 1, iLot)
        .filterNot(_.trim.toLowerCase == "pack size")
      df = between.foldLeft(df)((d, c) =>
        d.withColumn(c, ceil(Exprs.parseAccounting(SchemaOps.qcol(c))).cast("long")))
      df = between.foldLeft(df)((d, c) =>
        if (SchemaOps.cleanHeader(c) != c) d.withColumnRenamed(c, SchemaOps.cleanHeader(c)) else d)
    }
    df
  }

  /** U3+A2: melt store columns, Store coerced to int codes (non-numeric
    * dropped), null values dropped, group-sum with NULL KEYS KEPT
    * (pandas dropna=False), zero drop, sort Item then Store.
    * Ref: baby_flip_tool.py:135-211. */
  def pivotBaby(cleaned: DataFrame): DataFrame = {
    val names = cleaned.columns.filter(_ != RowIdx).toIndexedSeq
    val itemCol = SchemaOps.resolveColumnOrFail(cleaned, "Item")
    val descCol = "DESC"
    val packCol = names.find(_.trim.toLowerCase == "pack size").getOrElse(
      throw new IllegalArgumentException("'pack size' column not found"))
    val lotCol = names.find(_.trim.toLowerCase.matches("lot\\s*#?")).getOrElse(
      throw new IllegalArgumentException("'Lot #' column not found"))
    val iDesc = names.indexOf(descCol)
    val iLot = names.indexOf(lotCol)
    val storeCols = names.slice(iDesc + 1, iLot).filter(_ != packCol)
    val projected = cleaned.select(
      (Seq(itemCol, descCol, packCol, lotCol).map(SchemaOps.qcol) ++
        storeCols.map(c => SchemaOps.qcol(c).cast("string").as(c))): _*)
    val long = Ops.meltToLong(projected,
        Seq(itemCol, descCol, packCol, lotCol), storeCols, "Store", "Value")
      .withColumn("_storeNum", Exprs.tryDouble(col("Store")))
      .where(col("_storeNum").isNotNull)
      .withColumn("Store", round(col("_storeNum")).cast("long"))
      .withColumn("Value", Exprs.tryDouble(col("Value").cast("string")))
      .where(col("Value").isNotNull)
    long.groupBy(col(itemCol), col(descCol), col(packCol), col(lotCol), col("Store"))
      .agg(sum(col("Value")).as("Value"))
      .where(col("Value") =!= 0)
      .select(col(itemCol).as("Item"), col(descCol).as("DESC"),
        col(packCol).as("pack size"), col(lotCol).as("Lot #"),
        col("Store"), col("Value"))
      .orderBy(col("Item").asc, col("Store").asc)
  }

  /** J1+J2+E2+O4: broadcast-left-join PO and carrier dims on Store, invoice
    * date constant, weight = Value × Pack Size, final column order, sort by
    * Store then lot-last4 (missing -> sentinel, last).
    * Ref: baby_flip_tool.py:218-338. */
  def outputBaby(pivot: DataFrame, poDf: DataFrame, carrierDf: DataFrame,
                 invoiceDate: String): DataFrame = {
    val po = poDf.select(trim(col("Store").cast("string")).as("StoreKey"),
      col("PO #"))
    val carrier = carrierDf.select(trim(col("Store").cast("string")).as("StoreKey"),
      col("carrier code"))
    val base = pivot.withColumn("StoreKey", trim(col("Store").cast("string")))
    val joined = Ops.enrichLeft(Ops.enrichLeft(base, po, Seq("StoreKey")),
      carrier, Seq("StoreKey"))
    joined
      .withColumn("Invoice Date", lit(invoiceDate))
      .withColumn("weight",
        (col("Value") * Exprs.tryDouble(col("pack size").cast("string"))).cast("long"))
      .withColumn("LOT#", col("Lot #"))
      .select(col("Store"), col("PO #"), col("Invoice Date"), col("DESC"),
        col("Value"), col("LOT#"), col("weight"), col("pack size"),
        col("carrier code"))
      .orderBy(col("Store").asc,
        coalesce(Exprs.lotLast4(col("LOT#")), lit(1000000000L)).asc)
  }
}
