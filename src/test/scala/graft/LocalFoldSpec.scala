package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.plans.LocalFold

/** `LocalFold` against Spark itself: each folded plan gives the same rows
  * in the same order as the same plan run with the rule removed through
  * `spark.sql.optimizer.excludedRules`; plans the rule must not fold stay
  * lazy. */
class LocalFoldSpec extends SparkSpec {
  import spark.implicits._

  private def optimized(df: DataFrame): LogicalPlan = df.queryExecution.optimizedPlan

  private def withoutRule[A](body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", LocalFold.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** `build` folds to a LocalRelation whose rows equal, in order, those of
    * a fresh plan run with the rule excluded (`Row` equality, so NaN
    * equals NaN). */
  private def foldsLikeSpark(build: => DataFrame): Seq[Row] = {
    val df = build
    assert(optimized(df).isInstanceOf[LocalRelation], optimized(df).treeString)
    val got = df.collect().toSeq
    assert(got == withoutRule(build.collect().toSeq))
    got
  }

  private def staysLazy(df: DataFrame): LogicalPlan = {
    val plan = optimized(df)
    assert(!plan.isInstanceOf[LocalRelation], plan.treeString)
    plan
  }

  private def sales: DataFrame = Seq(
    ("b", 2, 1.5), ("a", 1, 2.0), ("b", 1, -0.0), ("a", 3, 0.0),
    ("c", 2, Double.NaN), (null, 1, 4.0), ("c", 3, Double.NaN)).toDF("k", "n", "x")

  test("Sort folds: nulls, descending keys and NaN order as in Spark") {
    assert(withoutRule(optimized(sales.orderBy("n")).isInstanceOf[Sort]))
    val got = foldsLikeSpark(sales.orderBy($"k".asc_nulls_last, $"n".desc))
    assert(got.map(_.toSeq.take(2)) == Seq(Seq("a", 3), Seq("a", 1), Seq("b", 2), Seq("b", 1),
      Seq("c", 3), Seq("c", 2), Seq(null, 1)))
    foldsLikeSpark(sales.orderBy($"x".desc, $"n", $"k"))
  }

  test("Aggregate folds: grouped sums, averages and counts; -0.0 and 0.0 group together") {
    val got = foldsLikeSpark(sales.groupBy("k")
      .agg(sum("n"), max("x"), avg("n"), count(lit(1)), min("k")).orderBy("k"))
    assert(got.head.toSeq == Seq(null, 1L, 4.0, 1.0, 1L, null))
    val byX = foldsLikeSpark(sales.groupBy("x").agg(sum("n").as("s")).orderBy("x"))
    assert(byX.map(_.getLong(1)) == Seq(4L, 2L, 1L, 1L, 5L))
    assert(byX.head.getDouble(0).equals(0.0) && byX.last.getDouble(0).isNaN)
  }

  test("Aggregate over an empty LocalRelation: a global one returns one row, a grouped one none") {
    def empty = Seq.empty[(String, Int)].toDF("k", "n")
    assert(foldsLikeSpark(empty.agg(sum("n"), count(lit(1)), max("k"))) ==
      Seq(Row(null, 0L, null)))
    assert(foldsLikeSpark(empty.groupBy("k").agg(sum("n"))) == Nil)
  }

  test("Union folds: children's rows in order") {
    val got = foldsLikeSpark(sales.union(sales.where($"n" > 2)).select("k", "n"))
    assert(got.size == 9)
    assert(got.drop(7) == Seq(Row("a", 3), Row("c", 3)))
  }

  test("Expand folds: unpivot rows in input order, and an unpivot streamed into a group-sum") {
    def wide = Seq(("i1", "3", "4"), ("i2", null, "1"), ("i1", "2", "0"))
      .toDF("item", "114", "123")
    def long = wide.unpivot(Array($"item"), Array($"114", $"123"), "branch", "qty")
    val got = foldsLikeSpark(long)
    assert(got.take(2) == Seq(Row("i1", "114", "3"), Row("i1", "123", "4")))
    assert(foldsLikeSpark(long.groupBy("branch", "item")
      .agg(sum($"qty".cast("long")).as("qty")).orderBy("branch", "item")) == Seq(
      Row("114", "i1", 5L), Row("114", "i2", null), Row("123", "i1", 4L), Row("123", "i2", 1L)))
  }

  test("Limit folds, over a sort and over a union") {
    assert(foldsLikeSpark(sales.orderBy($"n", $"k").limit(3)).map(_.toSeq.take(2)) ==
      Seq(Seq(null, 1), Seq("a", 1), Seq("b", 1)))
    foldsLikeSpark(sales.union(sales).orderBy($"n".desc, $"k").limit(4))
  }

  test("inner and left equi-joins fold; a null key matches nothing") {
    def dim = Seq(("a", "alpha"), ("b", "beta"), (null, "none")).toDF("k", "name")
    val left = foldsLikeSpark(sales.join(broadcast(dim), Seq("k"), "left").orderBy("n", "k", "x"))
    assert(left.head == Row(null, 1, 4.0, null))
    val inner = foldsLikeSpark(sales.join(dim, Seq("k")).orderBy("n", "k", "x"))
    assert(inner.map(r => (r(0), r(3))).distinct.sortBy(_._1.toString) ==
      Seq(("a", "alpha"), ("b", "beta")))
  }

  test("rand(), a distinct aggregate and an over-budget input stay lazy") {
    // Spark's own ConvertToLocalRelation evaluates a rand() projection
    // directly over a LocalRelation, so the rule is applied by hand here.
    val shuffled = LocalFold(sales.select($"k", rand(7).as("r")).orderBy("r")
      .queryExecution.analyzed)
    assert(shuffled.isInstanceOf[Sort], shuffled.treeString)
    assert(shuffled.exists(_.expressions.exists(!_.deterministic)), shuffled.treeString)
    assert(staysLazy(sales.agg(countDistinct("k"))).exists(_.isInstanceOf[Aggregate]))
    val big = (0 to LocalFold.RowBudget).toDF("n")
    assert(optimized(big).isInstanceOf[LocalRelation])
    assert(staysLazy(big.orderBy($"n".desc)).exists(_.isInstanceOf[Sort]))
    val within = (1 to 1000).toDF("n")
    assert(optimized(within.orderBy($"n".desc)).isInstanceOf[LocalRelation])
  }

  test("a plan mixing a LocalRelation with a parquet scan stays lazy; a plan " +
      "without a LocalRelation is returned as is") {
    val dir = Files.createTempDirectory("localfold").toString
    spark.range(5).select($"id".cast("int").as("n")).write.parquet(s"$dir/t.parquet")
    val scan = spark.read.parquet(s"$dir/t.parquet")
    val plan = staysLazy(sales.select("n").union(scan).groupBy("n").count())
    assert(plan.collectLeaves().exists(_.isInstanceOf[LogicalRelation]), plan.treeString)
    assert(plan.collectLeaves().exists(_.isInstanceOf[LocalRelation]), plan.treeString)
    val scanOnly = optimized(scan.orderBy("n"))
    assert(LocalFold(scanOnly) eq scanOnly)
  }
}
