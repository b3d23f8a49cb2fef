package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
    // An expression key, projected once per row: three rows tie on NULL
    // and two on NaN, one is -0.0; later keys break the ties.
    foldsLikeSpark(sales.orderBy(when($"k" =!= "a", $"x" * 2).desc_nulls_last, $"n".desc, $"k"))
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

  /** A folded frame over every column type the sinks may meet, in
    * descending `l` order: the full row is the second. */
  private def typed: DataFrame = {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType), StructField("d", DoubleType),
      StructField("dec", DecimalType(12, 3)), StructField("s", StringType),
      StructField("day", DateType), StructField("ts", TimestampType),
      StructField("b", BooleanType), StructField("arr", ArrayType(IntegerType)),
      StructField("st", StructType(Seq(StructField("name", StringType),
        StructField("n", LongType)))),
      StructField("m", MapType(StringType, DoubleType))))
    val rows = Seq(
      Row(2L, 1, Double.NaN, new java.math.BigDecimal("12.500"), "caf\u00e9 \ud83d\ude00",
        java.sql.Date.valueOf("2026-08-14"), java.sql.Timestamp.valueOf("2026-08-14 09:30:00.123"),
        true, Seq(1, null, 3), Row("x", 7L), Map("a" -> 1.5, "b" -> -2.0)),
      Row(1L, null, -0.0, null, null, null, null, null, null, null, null),
      Row(3L, -4, 1e300, new java.math.BigDecimal("-0.001"), "",
        java.sql.Date.valueOf("1899-12-30"), java.sql.Timestamp.valueOf("1970-01-01 00:00:00"),
        false, Seq.empty[Int], Row(null, null), Map.empty[String, Double]))
    spark.createDataFrame(rows.asJava, schema).where($"l" > 0).orderBy($"l".desc)
  }

  test("LocalFold.collect reads a folded frame's rows as collect() gives them") {
    val df = typed
    assert(LocalFold.folded(df).isDefined, optimized(df).treeString)
    val got = LocalFold.collect(df).toSeq
    val want = df.collect().toSeq
    assert(got == want)
    assert(got.map(_.schema) == want.map(_.schema))
    def scalarClasses(rs: Seq[Row]) =
      rs.flatMap(_.toSeq.take(8)).map(v => if (v == null) null else v.getClass)
    assert(scalarClasses(got) == scalarClasses(want))
    assert(got.map(r => java.lang.Double.doubleToRawLongBits(r.getAs[Double]("d"))) ==
      want.map(r => java.lang.Double.doubleToRawLongBits(r.getAs[Double]("d"))))
    val full = got(1)
    assert(full.getAs[Row]("st").getAs[String]("name") == "x")
    assert(full.getAs[Row]("st").getAs[Long]("n") == 7L)
    assert(full.getString(4).codePointCount(0, full.getString(4).length) == 6)
  }

  test("LocalFold.collect gives java.time dates and instants under the Java 8 datetime API") {
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try {
      val df = typed.select("l", "day", "ts")
      val got = LocalFold.collect(df).toSeq
      assert(got == df.collect().toSeq)
      assert(got(1).get(1) == java.time.LocalDate.of(2026, 8, 14))
      assert(got(1).get(2).isInstanceOf[java.time.Instant])
    } finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
  }

  test("LocalFold.collect runs a frame over a parquet scan through collect()") {
    val scan = scanned(sales)
    assert(LocalFold.folded(scan.orderBy("n", "k", "x")).isEmpty)
    assert(LocalFold.collect(scan.orderBy("n", "k", "x")).toSeq ==
      sales.orderBy("n", "k", "x").collect().toSeq)
  }
}
