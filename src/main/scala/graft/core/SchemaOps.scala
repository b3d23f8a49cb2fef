package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.plans.LocalFold

/** Dynamic-schema layer (SURVEY.md §1.2, §2.2 P1–P8).
  *
  * The reference treats headers as data until promoted at runtime, resolves
  * column names case/space/`#`-insensitively, dedupes duplicate headers by
  * suffixing `.1, .2, …`, and slices column ranges around marker columns.
  * All of that is driver-side logic over `df.columns` — cheap, and it keeps
  * the executor-side plan fully declarative.
  *
  * Row order is semantic in the reference (pandas); every grid therefore
  * carries an explicit `_row_idx` column (SURVEY.md §7.4 hard part #1).
  */
object SchemaOps {

  val RowIdx = "_row_idx"

  /** Column by literal name, backtick-quoted so spreadsheet headers like
    * "114.0" aren't parsed as nested-field references. */
  def qcol(name: String): org.apache.spark.sql.Column =
    col(s"`${name.replace("`", "``")}`")

  /** Normalize a header for fuzzy lookup: lower, strip spaces and '#'.
    * Ref: /root/reference/Flips/tools/big_flip_tool.py:43-44,
    * /root/reference/247/tools/pricesheet_tool.py:216-220. */
  def normHeader(s: String): String =
    if (s == null) "" else s.toLowerCase.replace(" ", "").replace("#", "")

  /** Resolve a logical column name against actual columns, fuzzy. */
  def resolveColumn(columns: Seq[String], wanted: String): Option[String] = {
    val w = normHeader(wanted)
    columns.find(c => normHeader(c) == w)
  }

  def resolveColumnOrFail(df: DataFrame, wanted: String): String =
    resolveColumn(df.columns.toSeq, wanted).getOrElse(
      throw new IllegalArgumentException(
        s"Column '$wanted' not found; available: ${df.columns.mkString(", ")}"))

  /** P8: dedupe duplicate headers pandas-style: x, x.1, x.2, …
    * Ref: /root/reference/247/tools/pricesheet_tool.py:244-255. */
  def dedupeHeaders(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.map { n =>
      val k = if (n == null) "" else n
      seen.get(k) match {
        case None => seen(k) = 0; k
        case Some(i) => seen(k) = i + 1; s"$k.${i + 1}"
      }
    }
  }

  /** P7: header cleanup — trim and strip trailing ".0"/".00" from
    * numeric-looking names ("114.0" -> "114").
    * Ref: /root/reference/247/tools/allocation_tool.py:36-37. */
  def cleanHeader(s: String): String = {
    val t = if (s == null) "" else s.trim
    if (t.matches("^\\d+\\.0+$")) t.replaceAll("\\.0+$", "") else t
  }

  /** Build a raw grid DataFrame from driver-side rows of strings, with
    * positional columns c0..cN and an explicit `_row_idx`. This is the shape
    * every Excel-like source must deliver (FIXTURES.md).
    *
    * The rows are already a driver `Seq`, so the grid is a `LocalRelation`.
    * Catalyst's `ConvertToLocalRelation` folds Project, Filter and Limit over
    * it on the driver; [[graft.plans.LocalFold]] folds global Sort, Expand
    * (unpivot), Union, Limit, declarative Aggregates and inner or left
    * equi-joins with other driver-local frames, up to its row budget. An
    * action on such a plan (e.g. [[promoteHeaders]]' header row, a vendor
    * pipeline's sinks) then starts no Spark job. */
  def gridFromRows(spark: org.apache.spark.sql.SparkSession,
                   rows: Seq[Seq[String]]): DataFrame = {
    val width = if (rows.isEmpty) 0 else rows.map(_.size).max
    val schema = StructType(
      StructField(RowIdx, LongType, nullable = false) +:
        (0 until width).map(i => StructField(s"c$i", StringType, nullable = true)))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(i.toLong +: (0 until width).map(j => if (j < r.size) r(j) else null))
    }
    spark.createDataFrame(data.asJava, schema)
  }

  /** Rename columns by position in one projection: `renames` pairs an
    * existing column with its new name, every other column keeps its name.
    * Unlike a `withColumnRenamed` fold, a new name that equals a column
    * still to be renamed (header text "c2" landing on `c0`) renames only
    * the column it was meant for. */
  def renameColumns(df: DataFrame, renames: Seq[(String, String)]): DataFrame = {
    val to = renames.toMap
    df.select(df.columns.toIndexedSeq.map(c => qcol(c).as(to.getOrElse(c, c))): _*)
  }

  /** P1/P2 header promotion: the row at `_row_idx == headerIdx` becomes the
    * schema (cleaned + deduped); rows at `_row_idx < headerIdx` and the
    * header row itself are dropped; `_row_idx` is preserved.
    * A single cheap driver collect of one row — never infer from unordered
    * data (SURVEY.md §7.4 hard part #3); over a spreadsheet grid it reads
    * the folded row ([[LocalFold.collect]]). */
  def promoteHeaders(grid: DataFrame, headerIdx: Long = 0): DataFrame = {
    val hdrRow = LocalFold.collect(grid.where(col(RowIdx) === headerIdx))
      .headOption.getOrElse(throw new IllegalArgumentException(
        s"no row at $RowIdx=$headerIdx"))
    val dataCols = grid.columns.filter(_ != RowIdx).toIndexedSeq
    val names = dedupeHeaders(
      dataCols.map(c => cleanHeader(Option(hdrRow.getAs[String](c)).getOrElse(""))))
    renameColumns(grid, dataCols.zip(names)).where(col(RowIdx) > headerIdx)
  }

  /** P3 marker trims — pure column-list slicing. */
  def columnsLeftOf(columns: Seq[String], marker: String): Seq[String] = {
    val i = columns.indexWhere(c => normHeader(c) == normHeader(marker))
    if (i < 0) columns else columns.take(i)
  }

  def columnsThrough(columns: Seq[String], marker: String): Seq[String] = {
    val i = columns.indexWhere(c => normHeader(c) == normHeader(marker))
    if (i < 0) columns else columns.take(i + 1)
  }
}
