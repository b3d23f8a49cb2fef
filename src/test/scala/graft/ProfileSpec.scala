package graft

import graft.ops.Profile

/** One-pass exact column profiling. */
class ProfileSpec extends SparkSpec {

  test("profile: null/distinct/min/max per column in one aggregation") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), "b"), (Some(1L), "a"), (None, "a"), (Some(3L), "c")
    ).toDF("x", "s")
    val rows = Profile.profile(df, Seq("x", "s")).orderBy("col_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq
    assert(rows == Seq(
      ("s", 4L, 0L, 3L, "a", "c"),
      ("x", 3L, 1L, 2L, "1", "3")))
    // One scan: the plan has exactly one FileScan/LocalTableScan leaf.
    val plan = Profile.profile(df, Seq("x", "s")).queryExecution.executedPlan
    assert(plan.collectLeaves().size == 1, plan.toString.take(300))
  }

  test("vocabularyGrowth: first-occurrence bucketing, running total, " +
      "empty docs contribute nothing") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b"), (1L, "b c"),      // bucket 0: 4 tokens, new {a,b,c}
      (60L, "c d e"),                // bucket 1: 3 tokens, new {d,e}
      (130L, "   "))                 // whitespace only: no tokens at all
      .toDF("doc_id", "text")
    val got = Profile.vocabularyGrowth(docs, "doc_id", "text",
        bucketSize = 50L)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 4L, 3L, 3L), (1L, 3L, 2L, 5L)))
  }

  test("q159: vocabularyGrowth's bucket table is pinned, so the corpus " +
      "is scanned and tokenized once per aggregate, not once per branch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = java.nio.file.Files.createTempDirectory("q159-docs").toString
    (0L until 200L).map(i => (i, s"w$i w${i % 7} common"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val q = SparkEntry.queries("q159_vocab_growth")(spark, dir)
    assert(q.collect().length == 4) // buckets of 50 doc ids
    // Parquet scans in the executed plan; a pinned subtree counts once,
    // however many branches read it (the two token aggregates scan the
    // corpus once each).
    val helper = new AdaptiveSparkPlanHelper {}
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def scans(p: SparkPlan): Int = helper.collect(p) {
      case _: FileSourceScanExec => 1
      case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
        scans(m.relation.cachedPlan)
    }.sum
    val n = scans(q.queryExecution.executedPlan)
    graft.core.Caches.release()
    assert(n == 2, s"q159 scans the corpus $n times")
  }

  test("vocabularyGrowth: two-level running total carries across the " +
      "coarse 2^16-bucket group boundary (r21 bounded-window rework)") {
    import spark.implicits._
    // bucketSize 1 → bucket == doc_id; buckets 65535 and 65536 land in
    // coarse groups 0 and 1, so cum_terms at 65536 must include the
    // _before offset from group 0.
    val docs = Seq(
      (10L, "a b"),        // bucket 10, group 0: new {a,b}
      (65535L, "b c"),     // bucket 65535, group 0: new {c}
      (65536L, "c d"),     // bucket 65536, group 1: new {d}
      (131072L, "e"))      // bucket 131072, group 2: new {e}
      .toDF("doc_id", "text")
    val got = Profile.vocabularyGrowth(docs, "doc_id", "text",
        bucketSize = 1L)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (10L, 2L, 2L, 2L), (65535L, 2L, 1L, 3L),
      (65536L, 2L, 1L, 4L), (131072L, 1L, 1L, 5L)))
  }

  test("zipfSlope: exact power law fits slope -1, head cut, tie order, " +
      "layout-invariant") {
    import spark.implicits._
    // freq = 12/rank exactly: t1×12, t2×6, t3×4, t4×3 → ln y = ln 12 − ln x
    def rep(t: String, n: Int) = Seq.fill(n)(t).mkString(" ")
    val docs = Seq(
      (1L, rep("t1", 12) + " " + rep("t2", 6)),
      (2L, rep("t3", 4) + " " + rep("t4", 3))).toDF("doc_id", "text")
    val got = Profile.zipfSlope(docs, "text", topV = 4).head()
    assert(got.getLong(0) == 4L)
    // published as integer ppm: slope ≈ −1 → ~−1e6, intercept ≈ ln 12
    assert(math.abs(got.getLong(1) + 1000000L) < 100L, got.toString)
    assert(math.abs(got.getLong(2) - math.round(math.log(12.0) * 1e6))
      < 100L, got.toString)
    assert(got.getLong(3) > 999900L, got.toString)
    // head cut: topV = 2 fits only t1/t2 — still slope −1 on the power law
    val head2 = Profile.zipfSlope(docs, "text", topV = 2).head()
    assert(head2.getLong(0) == 2L &&
      math.abs(head2.getLong(1) + 1000000L) < 100L, head2.toString)
    // frequency ties rank by token asc (deterministic): equal freqs →
    // zero y-variance → slope 0, r² NULL
    val ties = Seq((1L, "b a c a b c")).toDF("doc_id", "text")
    val t = Profile.zipfSlope(ties, "text", topV = 3).head()
    assert(t.getLong(0) == 3L && t.getLong(1) == 0L && t.isNullAt(3),
      t.toString)
    // layout invariance (decimal-sum contract)
    val shuffled = Profile.zipfSlope(docs.repartition(5), "text", topV = 4)
      .head()
    assert(shuffled.toSeq == got.toSeq)
  }

  test("corpusReport: counts, empty docs, exact-dup rate in ppm") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), // one uniq + 2 dups
      (4L, "d e"), (5L, "   "), (6L, "")).toDF("doc_id", "text")
    val r = Profile.corpusReport(docs, "doc_id", "text").head()
    // n_docs 6, tokens 3+3+3+2 = 11, vocab {a,b,c,d,e} = 5, empties 2
    // uniq hashes: "a b c", "d e", "   ", "" → 4 → dup_docs 2
    assert(r.toSeq == Seq(6L, 11L, 5L, 2L, 2L, 2L * 1000000L / 6L),
      r.toString)
  }

  test("benfordAudit: ladder digits incl. boundaries, exclusions, " +
      "all 9 digits emit, expectation literals") {
    import spark.implicits._
    // one value per digit bucket across magnitudes + exclusions
    val vals = Seq(1.0, 10.0, 19.99, 2.0, 250.0, 3.5e6, 9.0, 999999.0,
      0.5, -42.0, 1.0e8, Double.NaN)
    val got = Profile.benfordAudit(vals.toDF("v"), "v", maxExp = 7)
      .orderBy("digit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // included: 1.0(d1) 10.0(d1) 19.99(d1) 2.0(d2) 250.0(d2) 3.5e6(d3)
    // 9.0(d9) 999999.0(d9); excluded: 0.5, -42.0 (|.|=42 included! d4),
    // 1.0e8 (>= hi), NaN
    val cnt = got.map(t => t._1 -> t._2).toMap
    assert(cnt == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 0L,
      6L -> 0L, 7L -> 0L, 8L -> 0L, 9L -> 2L), got.mkString(","))
    assert(got.map(_._3).toSeq ==
      Profile.BenfordPpm.toSeq, "expectation literals")
    assert(Profile.BenfordPpm.head == 301030L &&
      Profile.BenfordPpm.sum >= 999998L) // shares ≈ 1
    val excl = Profile.benfordAudit(vals.toDF("v"), "v", maxExp = 7)
      .head()
    assert(excl.getLong(4) == 9L && excl.getLong(5) == 3L, excl.toString)
  }

  test("abTestProportions: hand-computed z, lift ppm, degenerate NULLs") {
    import spark.implicits._
    // arm 0: 100 units, 30 conv; arm 1: 80 units, 16 conv
    val units = ((1 to 100).map(i => (0L, i <= 30)) ++
      (1 to 80).map(i => (1L, i <= 16))).toDF("arm", "conv")
    val r = Profile.abTestProportions(units, "arm", "conv").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      (0L, 100L, 30L, 1L, 80L, 16L, 2L))
    assert(r.getLong(7) == 300000L - 200000L)
    val pp = 46.0 / 180.0
    val z = (0.3 - 0.2) / math.sqrt(pp * (1.0 - pp) *
      (1.0 / 100.0 + 1.0 / 80.0))
    assert(r.getLong(8) == math.floor(z * 1000.0 + 0.5).toLong, r.toString)
    // all-converted → pooled rate 1 → z NULL
    val dz = Profile.abTestProportions(
      Seq((0L, true), (1L, true)).toDF("arm", "conv"), "arm", "conv").head()
    assert(dz.isNullAt(8))
    // single arm → NULL
    val one = Profile.abTestProportions(
      Seq((0L, true), (0L, false)).toDF("arm", "conv"), "arm", "conv").head()
    assert(one.getLong(6) == 1L && one.isNullAt(8))
  }

  test("chiSquareIndependence: hand-replayed 2x2, zero-observed cell in " +
      "the grid, perfectly proportional table scores 0") {
    import spark.implicits._
    // o = [[10,20],[20,10]]: all e = 15, term = 25/15 each, chi2 = 4·(5/3)
    val rows = Seq.fill(10)(("x", "p")) ++ Seq.fill(20)(("x", "q")) ++
      Seq.fill(20)(("y", "p")) ++ Seq.fill(10)(("y", "q"))
    val r = Profile.chiSquareIndependence(rows.toDF("a", "b"), "a", "b")
      .head()
    // micro-unit replay: floor(term·10⁶ + 0.5) on the same IEEE double
    def tu(o: Double, e: Double): Long =
      math.floor((o - e) * (o - e) / e * 1e6 + 0.5).toLong
    assert(r.getLong(0) == 60L && r.getLong(1) == 1L)
    assert(r.getLong(2) == 4 * tu(10, 15), r.toString)
    // zero-observed cell: ('y','q') never occurs but its e>0 term counts
    val sparse = Seq.fill(8)(("x", "p")) ++ Seq.fill(8)(("x", "q")) ++
      Seq.fill(4)(("y", "p"))
    val s = Profile.chiSquareIndependence(sparse.toDF("a", "b"), "a", "b")
      .head()
    // e: x,p=9.6 x,q=6.4 y,p=2.4 y,q=1.6; terms replayed in micro-units
    val exp = tu(8, 9.6) + tu(8, 6.4) + tu(4, 2.4) + tu(0, 1.6)
    assert(s.getLong(2) == exp, s.toString)
    // proportional table: independence exactly, chi2 = 0
    val ind = Seq.fill(6)(("x", "p")) ++ Seq.fill(3)(("x", "q")) ++
      Seq.fill(4)(("y", "p")) ++ Seq.fill(2)(("y", "q"))
    assert(Profile.chiSquareIndependence(ind.toDF("a", "b"), "a", "b")
      .head().getLong(2) == 0L)
    // NULL categories are dropped up front, not silently zeroed into the
    // grid: adding NULL-keyed rows must not change the statistic
    val withNulls = rows ++ Seq((null.asInstanceOf[String], "p"),
      ("x", null.asInstanceOf[String]))
    val nn = Profile.chiSquareIndependence(
      withNulls.toDF("a", "b"), "a", "b").head()
    assert(nn.getLong(0) == 60L && nn.getLong(2) == r.getLong(2),
      nn.toString)
  }

  test("giniConcentration: equal masses 0, max concentration (n-1)/n, " +
      "hand case 1-2-3-4, zero total NULL") {
    import spark.implicits._
    def gini(rows: Seq[(String, Long)]): org.apache.spark.sql.Row =
      Profile.giniConcentration(rows.toDF("k", "m"), "k", "m").head()
    val eq = gini(Seq(("a", 5L), ("b", 5L), ("c", 5L)))
    assert(eq.getLong(2) == 0L, eq.toString)
    // one key owns everything among 4: G = 3/4
    val max4 = gini(Seq(("a", 0L), ("b", 0L), ("c", 0L), ("d", 100L)))
    assert(max4.getLong(2) == 750000L, max4.toString)
    // masses 1,2,3,4: S1 = 30, G = (60 - 50)/40 = 0.25
    val h = gini(Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)))
    assert((h.getLong(0), h.getLong(1), h.getLong(2)) == (4L, 10L, 250000L))
    // all-zero masses: NULL (no distribution to rank)
    assert(gini(Seq(("a", 0L), ("b", 0L))).isNullAt(2))
  }
}
