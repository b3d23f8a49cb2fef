package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}

/** Single-pass accounting-number parse, shared by interpreted eval and
  * generated code (top-level object => static forwarder, callable from
  * janino-compiled code). Semantics identical to
  * [[graft.functions.Exprs.parseAccounting]] (F2):
  * commas stripped, "(x)" -> -x, trailing "-" -> leading, junk chars
  * dropped, then a strict decimal parse (null on failure). */
object AccountingParse {
  def parseOrNull(s: String): java.lang.Double = {
    if (s == null) return null
    var t = s.trim.replace(",", "")
    if (t.length >= 2 && t.charAt(0) == '(' && t.charAt(t.length - 1) == ')')
      t = "-" + t.replace("(", "").replace(")", "")
    else if (t.nonEmpty && t.charAt(t.length - 1) == '-' &&
             t.indexOf('-') == t.length - 1)
      t = "-" + t.substring(0, t.length - 1)
    val cleaned = t.filter(ch => (ch >= '0' && ch <= '9') || ch == '.' || ch == '-').trim
    // strict decimal grammar (no exponent), mirroring Exprs.NumRe
    if (!cleaned.matches("[+-]?(\\d+\\.?\\d*|\\.\\d+)")) null
    else java.lang.Double.valueOf(cleaned)
  }
}

/** F2 as a native Catalyst expression with `doGenCode` — stays inside
  * whole-stage codegen (vs. the 5-regexp built-in composition in
  * [[graft.functions.Exprs.parseAccounting]], or a Scala UDF which would
  * break codegen and add ser/de). Registered as SQL `parse_accounting`
  * via [[GraftExtensions]]. */
case class ParseAccountingExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_accounting"

  override protected def nullSafeEval(input: Any): Any =
    AccountingParse.parseOrNull(input.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val parsed = ctx.freshName("parsed")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double $parsed = graft.plans.AccountingParse.parseOrNull($c.toString());
      if ($parsed == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $parsed.doubleValue();
      }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseAccountingExpr =
    copy(child = newChild)
}

object ParseAccountingExpr {
  import org.apache.spark.sql.{Column, GraftSqlBridge}

  /** Column API, input coerced to string (mirrors the SQL registration). */
  def apply(c: Column): Column = GraftSqlBridge.column(
    ParseAccountingExpr(Cast(GraftSqlBridge.expression(c), StringType)))
}

/** Engine extension point: registers graft's native expressions in the
  * session function registry and the [[LocalFold]] optimizer rule. Enable
  * with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("parse_accounting"),
      new ExpressionInfo(classOf[ParseAccountingExpr].getName, "parse_accounting"),
      // Argument coerced to string at registration, so the expression body
      // never needs catalyst's (sql-private) input-type machinery.
      (children: Seq[Expression]) =>
        ParseAccountingExpr(Cast(children.head, StringType))))
    ext.injectOptimizerRule(_ => LocalFold)
  }
}
