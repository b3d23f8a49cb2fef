package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort, V2WriteCommand}
import org.apache.spark.sql.execution.{QueryExecution, SortExec}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** query_mix: one caller runs a fixed list of declared queries back to
  * back, each fully materialized through Spark's no-op sink, so every
  * column and the final sort are computed, as a caller reading the result
  * would need; then the write path: one [[IndexAppend]] batch folds new
  * rows into the stored indexes, serves reads from them and compacts them.
  *
  * Inputs: `<inputs>/copy<k>/<table>.parquet/`, one copy per set-up
  * repetition (the measured passes read the last copy), and the index
  * inputs under `<inputs>/index`. */
final class QueryMix(inputs: String, work: String) extends Workload {
  private var dir: String = _
  private var columns: Map[String, Seq[String]] = Map.empty
  private val index = new IndexAppend(s"$inputs/index", s"$work/index")

  /** Constructs every query once over a fresh input copy: the schema reads,
    * shared-frame builds and eager collects the engine memoizes per input
    * directory all happen here. */
  override def setup(ctx: Ctx, k: Int): Unit = {
    dir = s"$inputs/copy$k"
    QueryMix.Queries.foreach { q =>
      SparkEntry.queries(q)(ctx.spark, dir)
      ctx.isolate()
    }
    index.setup(ctx, k)
  }

  /** Each query's result written once to parquet for the oracle check. */
  override def check(ctx: Ctx): Map[String, Any] = {
    val out = s"$work/results"
    val oracle = SparkEntry.oracleSql
    val rows = QueryMix.Queries.map { q =>
      val df = SparkEntry.queries(q)(ctx.spark, dir)
      val err = try {
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q"); ""
      } catch { case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      ctx.isolate()
      columns += q -> df.columns.toSeq
      Map("name" -> q, "columns" -> df.columns.toSeq, "error" -> err,
        "oracle_sql" -> oracle.get(q))
    }
    Map("results_dir" -> out, "tables_dir" -> dir, "queries" -> rows,
      "index" -> index.check(ctx))
  }

  /** The queries, then the write batch. The index stores are restored
    * before the pass timer starts. */
  override def pass(ctx: Ctx): PassResult = {
    index.restore()
    val t0 = System.nanoTime()
    val jobs = QueryMix.Queries.map(q => runQuery(ctx, q))
    val (batch, written, input) = index.batch(ctx)
    PassResult(System.nanoTime() - t0, jobs :+ batch, written, input)
  }

  private def runQuery(ctx: Ctx, q: String): JobRecord = {
    val tr = ctx.tr
    val id = ctx.nextJob()
    val t0 = System.nanoTime()
    val outcome = try {
      val (df, actionSpan) = tr.job("job.query", id) {
        val df = tr.span("queries.construct") { SparkEntry.queries(q)(ctx.spark, dir) }
        val span = tr.span("exec.action") {
          ctx.trace.foreach(_.wanted.add(tr.currentSpan))
          df.write.format("noop").mode("overwrite").save()
          ctx.sampleStorage()
          tr.currentSpan
        }
        (df, span)
      }
      val ns = System.nanoTime() - t0
      if (df.columns.toSeq != columns(q))
        Left(ns -> s"result columns ${df.columns.mkString(",")} differ from the checked run")
      else ctx.trace.map { st =>
        ctx.drain()
        st.wanted.remove(actionSpan)
        val qes = Option(st.queryExecs.remove(actionSpan)).map(_.asScala.toSeq).getOrElse(Nil)
        QueryMix.guard(df, qes) match {
          case "" => Right(ns)
          case msg => Left(ns -> msg)
        }
      }.getOrElse(Right(ns))
    } catch {
      case e: Exception =>
        Left((System.nanoTime() - t0) -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val leaked = ctx.isolate()
    outcome match {
      case Right(ns) => JobRecord(q, "query", ns, ok = true, leakedRdds = leaked)
      case Left((ns, msg)) => JobRecord(q, "query", ns, ok = false, error = msg, leakedRdds = leaked)
    }
  }
}

object QueryMix {
  /** The queries whose cost a count() hides most, in a fixed order. The
    * list is cut from the end to what fits one run. */
  val Queries: Seq[String] = Seq(
    "q30_canonical_output", "q34_lot_sort")

  /** Full-materialization guard: the no-op write must carry every column
    * of the query, and a query ending in a global sort must still sort in
    * the executed plan. Returns "" when both hold. */
  def guard(df: DataFrame, qes: Seq[QueryExecution]): String = {
    val write = qes.find(_.optimizedPlan.collectFirst { case _: V2WriteCommand => 1 }.nonEmpty)
    write match {
      case None => "no noop write execution was recorded"
      case Some(qe) =>
        val width = qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query.output.size }
        val sortKept = !finalSort(df.queryExecution.optimizedPlan) ||
          SparkTrace.nodes(qe.executedPlan).exists {
            case s: SortExec => s.global
            case _ => false
          }
        if (!width.contains(df.columns.length))
          s"noop write carries ${width.getOrElse(0)} of ${df.columns.length} columns"
        else if (!sortKept) "the final sort was pruned from the executed plan"
        else ""
    }
  }

  /** Whether the plan ends in a global sort, under at most projections
    * and filters. */
  @annotation.tailrec
  def finalSort(p: LogicalPlan): Boolean = p match {
    case s: Sort => s.global
    case x: Project => finalSort(x.child)
    case x: Filter => finalSort(x.child)
    case _ => false
  }
}
