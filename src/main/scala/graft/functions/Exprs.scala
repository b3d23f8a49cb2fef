package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.Na

/** The engine's scalar expression library — SURVEY.md §2.3 F1–F20 —
  * re-expressed as `Column => Column` builders over Spark built-ins so every
  * call stays inside Catalyst / whole-stage codegen (no UDFs).
  *
  * All casts are guarded with regex checks so the expressions are safe under
  * ANSI mode (Spark 4 default): a cast only ever sees a string that parses.
  */
object Exprs {

  /** Regex for a plain decimal number (no exponent — the reference's
    * float() inputs are spreadsheet cells, not scientific notation). */
  private val NumRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)$"
  private val IntRe = "^[+-]?\\d+$"

  /** ANSI-safe try_cast to double: null unless the trimmed string parses. */
  def tryDouble(c: Column): Column = {
    val t = trim(c)
    when(t.rlike(NumRe), t.cast("double"))
  }

  /** ANSI-safe try_cast to long. */
  def tryLong(c: Column): Column = {
    val t = trim(c)
    when(t.rlike(IntRe), t.cast("long"))
  }

  /** F1: NA vocabulary -> null (see [[graft.core.Na]]). */
  def naNormalize(c: Column): Column = Na.naNormalize(c)

  /** F2 `_to_numeric`: accounting-style parse.
    * "1,234" -> 1234; "(12)" -> -12; "12-" -> -12; "$5.50" -> 5.5; junk -> null.
    * Ref: /root/reference/Flips/tools/baby_flip_tool.py:52-58.
    *
    * Delegates to the native single-pass [[graft.plans.ParseAccountingExpr]]:
    * one codegen'd call per row instead of 5 regexp passes, and — critically —
    * no repeated subtrees. The composed variant below triggered a Spark
    * codegen bug under Expand (melt): whole-stage subexpression elimination
    * emits a split method whose parameter NAME is the Expand slot
    * `expand_mutableStateArray_0[1]` — invalid Java — so the entire stage
    * silently fell back to interpreted execution (seen on q29). */
  def parseAccounting(c: Column): Column = graft.plans.ParseAccountingExpr(c)

  /** The same F2 semantics composed from built-in regexp functions — kept as
    * an independent model for the native expression's parity spec
    * ([[graft.ParseAccountingExprSpec]]); not used in query paths. */
  private[graft] def parseAccountingComposed(c: Column): Column = {
    val t = trim(c)
    val noComma = regexp_replace(t, ",", "")
    val paren = when(noComma.rlike("^\\(.*\\)$"),
      concat(lit("-"), regexp_replace(noComma, "[()]", ""))).otherwise(noComma)
    val trailNeg = when(paren.rlike("^[^-]*-$"),
      concat(lit("-"), regexp_replace(paren, "-$", ""))).otherwise(paren)
    val cleaned = regexp_replace(trailNeg, "[^0-9.\\-]", "")
    tryDouble(cleaned)
  }

  /** F3 `_leading_num`: first number at string start (optional $), else 0.
    * Ref: /root/reference/Flips/tools/big_flip_tool.py:17-23. */
  def leadingNum(c: Column): Column = {
    val m = regexp_extract(trim(c), "^\\$?(-?\\d+(?:\\.\\d+)?)", 1)
    coalesce(tryDouble(m), lit(0.0))
  }

  /** F4 `_num_anywhere`: first number anywhere, else 0.0.
    * Ref: /root/reference/Flips/tools/big_flip_tool.py:32-37. */
  def numAnywhere(c: Column): Column = {
    val m = regexp_extract(c, "(-?\\d+(?:\\.\\d+)?)", 1)
    coalesce(tryDouble(m), lit(0.0))
  }

  /** F5 `_first_int_in_text`: first integer anywhere; null if none.
    * Ref: /root/reference/Flips/tools/big_flip_tool.py:25-27. */
  def firstIntInText(c: Column): Column =
    tryLong(regexp_extract(c, "(\\d+)", 1))

  /** F5 variant `_or_zero`. */
  def firstIntOrZero(c: Column): Column = coalesce(firstIntInText(c), lit(0L))

  /** F6 `strip_trailing_dot_zero`: "14.0"->"14", "14.00"->"14", "14.50" kept.
    * Ref: /root/reference/sheet_bot/utils.py:47-52. */
  def stripTrailingDotZero(c: Column): Column =
    regexp_replace(trim(c), "\\.0+$", "")

  /** F8 `_fmt_item_code`: digits-only after dropping a trailing ".0…", then
    * left-pad to 7. Empty -> null.
    * Ref: /root/reference/247/tools/allocation_tool.py:209-218. */
  def itemCode7(c: Column): Column = {
    val digits = regexp_replace(stripTrailingDotZero(c), "[^0-9]", "")
    when(digits =!= "", lpad(digits, 7, "0"))
  }

  /** F9 `_fmt_cost`: exact 2-dp money rendering.
    * Ref: /root/reference/247/tools/pricesheet_tool.py:147-155. */
  def fmtCost2(c: Column): Column =
    format_number(tryDouble(c.cast("string")).cast("decimal(18,2)"), 2)

  /** F10 `_lot_last4`: last 4 digits of the LAST numeric chunk.
    * "498-68594 39024" -> 9024; none -> null.
    * Ref: /root/reference/Flips/tools/baby_flip_tool.py:305-324. */
  def lotLast4(c: Column): Column = {
    // try_element_at: ANSI-safe on digit-free input (empty extract array).
    val lastChunk = try_element_at(regexp_extract_all(c, lit("(\\d+)"), lit(1)), lit(-1))
    val tail = substring(lastChunk, -4, 4)
    tryLong(tail)
  }

  /** F11 hidden-char scrub: ZWSP/BOM removed, NBSP -> space, trim.
    * Ref: /root/reference/Flips/tools/baby_flip_tool.py:357-363. */
  def scrubHiddenChars(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "[\\u200B\\uFEFF]", ""), "\\u00A0", " "))

  /** F12 EDD default: base date + 2 days, Sat/Sun rolled forward to Monday.
    * Ref: /root/reference/247/tools/allocation_tool.py:115-121. */
  def eddPlus2RollWeekend(baseDate: Column): Column = {
    val d = date_add(baseDate, 2)
    // dayofweek: 1=Sun … 7=Sat
    when(dayofweek(d) === 7, date_add(d, 2))
      .when(dayofweek(d) === 1, date_add(d, 1))
      .otherwise(d)
  }

  /** F13 next M/W/F shipping day strictly after the base date.
    * Ref: /root/reference/Flips/tools/big_flip_tool.py:247-259. */
  def nextMWF(baseDate: Column): Column = {
    val dow = dayofweek(baseDate) // 1=Sun 2=Mon 3=Tue 4=Wed 5=Thu 6=Fri 7=Sat
    val daysAhead =
      when(dow === 1, 1)      // Sun -> Mon
        .when(dow === 2, 2)   // Mon -> Wed
        .when(dow === 3, 1)   // Tue -> Wed
        .when(dow === 4, 2)   // Wed -> Fri
        .when(dow === 5, 1)   // Thu -> Fri
        .when(dow === 6, 3)   // Fri -> Mon
        .otherwise(2)         // Sat -> Mon
    date_add(baseDate, daysAhead)
  }

  /** F14 date parse/reformat with passthrough: "M/d/yyyy" -> "MM/dd/yy",
    * unparseable values kept verbatim.
    * Ref: /root/reference/247/tools/allocation_tool.py:220-228. */
  def reformatDateMdy(c: Column): Column = {
    val t = trim(c)
    val parsed = when(t.rlike("^\\d{1,2}/\\d{1,2}/\\d{4}$"), to_date(t, "M/d/yyyy"))
    coalesce(date_format(parsed, "MM/dd/yy"), c)
  }

  /** F17 `_num_like_to_clean_str`: "39.0"->"39", "1,234.0"->"1234",
    * "39.50"->"39.5"; non-numeric kept (trimmed).
    * Ref: /root/reference/Flips/tools/adpo_I_tool.py:46-71. */
  def numLikeToCleanStr(c: Column): Column = {
    val t = regexp_replace(trim(c), ",", "")
    val isNum = t.rlike(NumRe)
    val noTrailZeros = regexp_replace(
      regexp_replace(t, "(\\.\\d*?)0+$", "$1"), "\\.$", "")
    when(isNum, noTrailZeros).otherwise(trim(c))
  }

  /** F19 email extraction: find-all, lowercase, order-preserving dedupe.
    * Ref: /root/reference/sheet_bot/import_vendor_email.py:10,21-26. */
  def extractEmails(c: Column): Column = {
    val re = lit("([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,})")
    array_distinct(transform(regexp_extract_all(c, re, lit(1)), lower(_)))
  }

  /** F20 split on first dash (ASCII, en, em): PO "142-57466" -> [142, 57466].
    * Ref: /root/reference/247/tools/read_file_tool.py:181-186. */
  def splitFirstDash(c: Column): Column = split(c, "[-\\u2013\\u2014]", 2)

  /** O1 helper: numeric-aware sort key — numeric strings sort by value first,
    * non-numeric last (by sentinel), tie-broken lexically by the caller.
    * Ref: /root/reference/247/tools/allocation_tool.py:98-104. */
  def numericSortKey(c: Column): Column = tryDouble(c.cast("string"))
}
