package graft.pipelines

import java.time.LocalDate
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.core.{Na, SchemaOps}
import graft.core.SchemaOps.RowIdx
import graft.functions.Exprs
import graft.ops.Ops
import graft.plans.LocalFold

/** Per-vendor defaults (SURVEY.md §2.8 E1): buyer code + supplier number.
  * 247 -> P2E/81214, ACME -> P20/44602, SouthernCross -> P2M/80104,
  * Leavins -> P2M/79906, Phillips -> P20/53459. */
final case class VendorConfig(buyer: String, supplier: Int)

object VendorConfig {
  val `247` = VendorConfig("P2E", 81214)
  val Acme = VendorConfig("P20", 44602)
  val SouthernCross = VendorConfig("P2M", 80104)
  val Leavins = VendorConfig("P2M", 79906)
  val Phillips = VendorConfig("P20", 53459)
}

/** The engine's one fixed output schema (SURVEY.md §2.8 E3/E4): the 13-col
  * Mega-Script sheet. Ref: /root/reference/247/tools/allocation_tool.py:163-183. */
object Canonical {
  val Cols: Seq[String] = Seq(
    "Branch", "Item", "Description", "Distro Size", "Supplier On Record",
    "Expected Delivery Date", "WW Buyer", "Warehouse", "AdditionalXDCK",
    "AmountCode", "XDCK", "POSTXDCK", "FOB")

  /** Phillips keeps a real Warehouse (renamed dock, numeric) and appends a
    * blank XdockCode — the one 14-col variant.
    * Ref: /root/reference/Phillips/tools/phillips_tool.py:120-131. */
  val PhillipsCols: Seq[String] = Cols :+ "XdockCode"

  private val IntCols = Set("Branch", "Item", "Distro Size", "Supplier On Record")
  private val NumCols = Set("XDCK", "FOB")
  private val DateCols = Set("Expected Delivery Date")

  /** E3 reindex + E4 type coercion: missing columns null-filled, Branch/Item/
    * Distro -> long (0-fill), XDCK/FOB -> nullable double, EDD -> date, text
    * columns null -> "". Sorted Branch, Item, Distro Size.
    *
    * The sorted plan is optimized here. Over a spreadsheet grid from
    * [[SchemaOps.gridFromRows]] (plus driver-built dimensions) the
    * optimizer's [[graft.plans.LocalFold]] folds it into a `LocalRelation`,
    * and the returned frame reads that one result: the sinks (the
    * Mega-Script workbook, the ADPO macros) start no Spark job and never
    * re-run or re-fold the plan. Any other input, such as a grid derived
    * from a table scan or one over the fold's row budget, keeps the lazy
    * plan. */
  def conform(df: DataFrame, cols: Seq[String] = Cols,
              extraIntCols: Set[String] = Set.empty): DataFrame = {
    val intCols = IntCols ++ extraIntCols
    val present = df.columns.toSet
    val out = df.select(cols.map { c =>
      val base: Column = if (present(c)) col(c).cast("string") else lit(null).cast("string")
      val typed: Column =
        if (intCols(c)) coalesce(Exprs.tryDouble(base).cast("long"), lit(0L))
        else if (NumCols(c)) Exprs.tryDouble(base)
        else if (DateCols(c))
          coalesce(
            when(base.rlike("^\\d{1,2}/\\d{1,2}/\\d{4}$"), to_date(base, "M/d/yyyy")),
            when(base.rlike("^\\d{1,2}/\\d{1,2}/\\d{2}$"), to_date(base, "M/d/yy")),
            when(base.rlike("^\\d{4}-\\d{2}-\\d{2}$"), to_date(base, "yyyy-MM-dd")))
        else coalesce(trim(base), lit(""))
      typed.as(c)
    }: _*)
    val sorted = out.orderBy(col("Branch").asc, col("Item").asc, col("Distro Size").asc)
    LocalFold.folded(sorted).map(GraftSqlBridge.frame(df.sparkSession, _)).getOrElse(sorted)
  }

  /** E1 constant-column append over (Branch, Item, Distro Size) rows, in
    * one projection (columns in this order; an existing one is replaced in
    * place). `warehouse` is blank except where a layout carries a real
    * dock. */
  def withConstants(df: DataFrame, cfg: VendorConfig, edd: String,
                    warehouse: Column = lit("")): DataFrame =
    df.withColumns(ListMap(
      "Supplier On Record" -> lit(cfg.supplier),
      "Expected Delivery Date" -> lit(edd),
      "WW Buyer" -> lit(cfg.buyer),
      "Warehouse" -> warehouse,
      "AdditionalXDCK" -> lit(""),
      "AmountCode" -> lit(""),
      "XDCK" -> lit(""),
      "POSTXDCK" -> lit(""),
      "FOB" -> lit("")))
}

/** Shared pipeline steps. */
object Steps {
  /** P11: drop the grid's last row (pandas `iloc[:-1]`). Over a
    * spreadsheet grid the optimizer folds the max-index aggregate on the
    * driver ([[graft.plans.LocalFold]]) and the lookup reads the folded
    * row ([[LocalFold.collect]]); over a table-derived grid it is one small
    * job. */
  def dropLastRow(grid: DataFrame): DataFrame = {
    val mx = LocalFold.collect(grid.agg(max(col(RowIdx)))).head
    if (mx.isNullAt(0)) grid else grid.where(col(RowIdx) < mx.getLong(0))
  }

  /** F12 default EDD rendered the reference's way: M/d/yyyy, no leading
    * zeros. Ref: /root/reference/247/tools/allocation_tool.py:115-121. */
  def defaultEdd(today: LocalDate): String = {
    var d = today.plusDays(2)
    while (d.getDayOfWeek.getValue >= 6) d = d.plusDays(1)
    s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}"
  }
}

/** EP1 — the 247/Leavins allocation pipeline (SURVEY.md §3, §7.2):
  * raw grid -> P2 header promotion -> P3 Total-trim -> P7 header clean ->
  * P11 last-row drop -> P5 drop Item Description -> U1 unpivot -> A1
  * group-sum -> zero-drop -> O1 numeric Branch sort.
  * Ref: /root/reference/247/tools/allocation_tool.py:7-112. */
object AllocationPipeline {

  def clean(grid: DataFrame): DataFrame = {
    val promoted = SchemaOps.promoteHeaders(grid, headerIdx = 1)
    val kept = SchemaOps.columnsLeftOf(
      promoted.columns.filter(_ != RowIdx).toSeq, "Total")
    val trimmed = promoted.select((RowIdx +: kept).map(SchemaOps.qcol): _*)
    val noLast = Steps.dropLastRow(trimmed)
    SchemaOps.resolveColumn(kept, "Item Description") match {
      case Some(c) => noLast.drop(c)
      case None => noLast
    }
  }

  /** Long-form pivot: (Branch, Item, Distro Size), zeros dropped, Branch
    * sorted numerically then lexically. Shared with
    * [[SouthernCrossPipeline]]: the item header resolves as `Item#` or
    * `Item` alike ([[SchemaOps.normHeader]] drops `#`). */
  def pivot(cleaned: DataFrame): DataFrame = {
    val itemCol = SchemaOps.resolveColumnOrFail(cleaned, "Item#")
    val branchCols = cleaned.columns.filter(c => c != RowIdx && c != itemCol).toSeq
    val long = Ops.meltToLong(
        cleaned.select((itemCol +: branchCols).map(SchemaOps.qcol): _*),
        Seq(itemCol), branchCols, "Branch", "Distro Size")
      .select(SchemaOps.qcol(itemCol),
        Exprs.stripTrailingDotZero(col("Branch")).as("Branch"),
        coalesce(Exprs.tryDouble(col("Distro Size")).cast("long"), lit(0L)).as("Distro Size"))
    val agg = long.groupBy(col("Branch"), col(itemCol))
      .agg(sum(col("Distro Size")).as("Distro Size"))
      .where(col("Distro Size") =!= 0)
      .select(col("Branch"), col(itemCol).as("Item"), col("Distro Size"))
    Ops.numericAwareSort(agg, "Branch")
  }

  def run(grid: DataFrame, cfg: VendorConfig = VendorConfig.`247`,
          edd: Option[String] = None, today: LocalDate = LocalDate.now()): DataFrame =
    Canonical.conform(Canonical.withConstants(
      pivot(clean(grid)),
      cfg, edd.filter(_.trim.nonEmpty).getOrElse(Steps.defaultEdd(today))))
}

/** EP3/EP4 — ACME / Phillips dock-export pipeline:
  * P1 header promotion -> P10 dock filter dispatched on filename -> P4
  * positional drops -> P3 keep-through-Distro-Size -> P9 zero-drop -> P13
  * two-digit Branch prefix -> E1 constants.
  * Ref: /root/reference/ACME/tools/acme_tool.py:6-100,
  *      /root/reference/Phillips/tools/phillips_tool.py:6-66. */
object DockPipeline {

  /** ACME: filename containing 'il' -> docks {189,436}, 'fl' -> {407,499};
    * both/neither is an error. Ref: /root/reference/ACME/tools/acme_tool.py:25-41. */
  def acmeDocks(fileName: String): Set[Int] = {
    val n = fileName.toLowerCase
    (n.contains("il"), n.contains("fl")) match {
      case (true, true) => throw new IllegalArgumentException(
        s"file name '$fileName' matches both 'il' and 'fl'")
      case (true, false) => Set(189, 436)
      case (false, true) => Set(407, 499)
      case _ => throw new IllegalArgumentException(
        s"file name '$fileName' must contain 'il' or 'fl'")
    }
  }

  /** Phillips: filename names the dock directly.
    * Ref: /root/reference/Phillips/tools/phillips_tool.py:25-45. */
  def phillipsDocks(fileName: String): Set[Int] = {
    val hits = Seq(436, 407, 189, 499).filter(d => fileName.contains(d.toString))
    hits match {
      case Seq(one) => Set(one)
      case _ => throw new IllegalArgumentException(
        s"file name '$fileName' must contain exactly one of 436/407/189/499")
    }
  }

  def clean(grid: DataFrame, allowedDocks: Set[Int], dropLeading: Int): DataFrame = {
    val promoted = SchemaOps.promoteHeaders(grid, headerIdx = 0)
    val dockCol = SchemaOps.resolveColumnOrFail(promoted, "dock")
    val filtered = promoted.where(
      Exprs.tryDouble(col(dockCol)).cast("int").isin(allowedDocks.toSeq: _*))
    val dataCols = filtered.columns.filter(_ != RowIdx).toSeq.drop(dropLeading)
    val kept = SchemaOps.columnsThrough(dataCols, "Distro Size")
    val sel = filtered.select((RowIdx +: kept).map(SchemaOps.qcol): _*)
    val ds = SchemaOps.resolveColumnOrFail(sel, "Distro Size")
    sel.where(Exprs.tryDouble(col(ds)) =!= 0.0)
  }

  /** P13: two-digit branch -> prefix '1'. */
  def fixBranch(df: DataFrame): DataFrame = {
    val b = SchemaOps.resolveColumnOrFail(df, "Branch")
    df.withColumn(b, when(trim(col(b)).rlike("^\\d{2}$"),
      concat(lit("1"), trim(col(b)))).otherwise(trim(col(b))))
  }

  def runAcme(grid: DataFrame, fileName: String, edd: String,
              cfg: VendorConfig = VendorConfig.Acme): DataFrame = {
    val cleaned = clean(grid, acmeDocks(fileName), dropLeading = 2)
    Canonical.conform(Canonical.withConstants(fixBranch(cleaned.drop(RowIdx)), cfg, edd))
  }

  /** Phillips keeps the dock as a real numeric Warehouse and emits the
    * 14-col canonical (XdockCode appended).
    * Ref: /root/reference/Phillips/tools/phillips_tool.py:61-62,120-131. */
  def runPhillips(grid: DataFrame, fileName: String, edd: String,
                  cfg: VendorConfig = VendorConfig.Phillips): DataFrame = {
    val cleaned = clean(grid, phillipsDocks(fileName), dropLeading = 1)
    val dockCol = SchemaOps.resolveColumnOrFail(cleaned, "dock")
    // conform keeps only the canonical columns, so the dock column and the
    // row index drop out there, and it fills the missing XdockCode blank.
    val out = Canonical.withConstants(fixBranch(cleaned), cfg, edd,
      warehouse = SchemaOps.qcol(dockCol))
    Canonical.conform(out, Canonical.PhillipsCols, extraIntCols = Set("Warehouse"))
  }
}

/** EP2 — the 247 price-sheet pipeline:
  * P1 header promotion (row 1) -> P8 duplicate-header dedupe -> P7 store
  * header cleanup -> P5 drop Item Name/FOB -> P9 drop zero/NA Item# -> U2
  * melt to (Store#, Cost) -> Vendor# constant -> P10 store remap 490->498 +
  * drop {457,453} -> P9 Cost non-null/nonzero with $/comma strip.
  * Ref: /root/reference/247/tools/pricesheet_tool.py:8-104. */
object PriceSheetPipeline {

  def clean(grid: DataFrame): DataFrame = {
    val promoted = SchemaOps.promoteHeaders(grid, headerIdx = 1)
    val itemCol = SchemaOps.resolveColumnOrFail(promoted, "Item#")
    val dropCols = Seq("Item Name", "FOB")
      .flatMap(c => SchemaOps.resolveColumn(promoted.columns.toSeq, c))
    val slim = promoted.drop(dropCols: _*)
    // P9: Item# zero-or-empty dropped.
    slim.where(!Na.isNa(col(itemCol)) &&
      coalesce(Exprs.tryDouble(col(itemCol)), lit(-1.0)) =!= 0.0)
  }

  def pivot(cleaned: DataFrame, vendor: Int = 81214): DataFrame = {
    val itemCol = SchemaOps.resolveColumnOrFail(cleaned, "Item#")
    val storeCols = cleaned.columns.filter(c => c != RowIdx && c != itemCol).toSeq
    val store = Exprs.stripTrailingDotZero(col("Store#"))
    // P10 remap + membership, then cost parse/filter (the parse yields
    // null on junk, never an error, so it may run before the filters).
    Ops.meltToLong(
        cleaned.select((itemCol +: storeCols).map(SchemaOps.qcol): _*),
        Seq(itemCol), storeCols, "Store#", "Cost")
      .select(when(store === "490", "498").otherwise(store).as("Store#"),
        SchemaOps.qcol(itemCol).as("Item#"), lit(vendor).as("Vendor#"),
        Exprs.parseAccounting(col("Cost")).as("Cost"))
      .where(!col("Store#").isin("457", "453") &&
        col("Cost").isNotNull && col("Cost") =!= 0.0)
  }

  def run(grid: DataFrame): DataFrame =
    Ops.numericAwareSort(pivot(clean(grid)), "Store#", col("Item#").asc)
}

/** EP5 — SouthernCross IBT pipeline:
  * P1 header promotion -> F7 whole-grid coercion (NA->0, 'x.0'->int) -> P3
  * drop LOT# and right -> P9 drop Item==0 rows -> O7 alphabetical column
  * reorder with Item pinned left -> U5 melt -> A4 group-sum -> P13 branch
  * prefix -> E1 constants.
  * Ref: /root/reference/SouthernCross/tools/southern_cross_tool.py:9-221. */
object SouthernCrossPipeline {

  /** F7 `_coerce_value` as a column expression: NA-ish -> "0"; numeric
    * 'x.0'/'x.00' -> integer string; non-integer numerics kept; other
    * strings trimmed. Ref: southern_cross_tool.py:42-73. */
  def coerceCell(c: Column): Column = {
    val t = trim(c)
    val num = Exprs.tryDouble(t)
    when(Na.isNa(c), lit("0"))
      .when(num.isNotNull, Exprs.numLikeToCleanStr(t))
      .otherwise(t)
  }

  def clean(grid: DataFrame): DataFrame = {
    val promoted = SchemaOps.promoteHeaders(grid, headerIdx = 0)
    val dataCols = promoted.columns.filter(_ != RowIdx).toSeq
    val kept = SchemaOps.columnsLeftOf(dataCols, "LOT #")
    val coerced = promoted.select(SchemaOps.qcol(RowIdx) +:
      kept.map(c => coerceCell(SchemaOps.qcol(c)).as(c)): _*)
    val itemCol = SchemaOps.resolveColumnOrFail(coerced, "Item")
    val noZero = coerced.where(col(itemCol) =!= "0")
    // O7: alphabetical (ci) with Item pinned left.
    val ordered = itemCol +: kept.filter(_ != itemCol).sortBy(_.toLowerCase)
    noZero.select((RowIdx +: ordered).map(SchemaOps.qcol): _*)
  }

  def run(grid: DataFrame, edd: String,
          cfg: VendorConfig = VendorConfig.SouthernCross): DataFrame =
    Canonical.conform(Canonical.withConstants(
      DockPipeline.fixBranch(AllocationPipeline.pivot(clean(grid))), cfg, edd))
}
