package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

/** Fixed-point PageRank: matches an independent plain-Scala reimplementation
  * of the integer recurrence on hand graphs, conserves mass up to floor
  * loss, handles dangling sinks, and is layout-invariant (the determinism
  * contract the integer arithmetic exists to provide). */
class GraphSpec extends SparkSpec {

  private val Scale = 1000000000000L

  /** Independent driver-side reimplementation of the documented
    * recurrence (defaults d = 85/100). */
  private def refRanks(edges: Seq[(String, String, Long)],
                       iters: Int): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val wout = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._3).sum }
    var r = nodes.map(_ -> Scale / n).toMap
    val base = (15L * Scale) / (100L * n)
    for (_ <- 1 to iters) {
      val d = nodes.filterNot(wout.contains).map(r).sum
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _, w) => (r(s) * w) / wout(s) }.sum
      }
      r = nodes.map(v =>
        v -> (base + (85L * (in.getOrElse(v, 0L) + d / n)) / 100L)).toMap
    }
    r
  }

  private def runOp(edges: Seq[(String, String, Long)], iters: Int,
                    parts: Int = 1): Map[String, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst", "w").repartition(parts)
    Graph.pageRankFixedPoint(df, "src", "dst", "w", iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("pageRankFixedPoint: matches the reference recurrence on a hand graph") {
    // A feeds B and C (weighted 2:1), B feeds C, C dangles.
    val edges = Seq(("A", "B", 2L), ("A", "C", 1L), ("B", "C", 1L))
    for (iters <- 0 to 4) {
      assert(runOp(edges, iters) == refRanks(edges, iters),
        s"mismatch at iters=$iters")
    }
    // C (fed by everyone) must outrank A (fed only by dangling spread).
    val r3 = runOp(edges, 3)
    assert(r3("C") > r3("B") && r3("B") > r3("A"))
  }

  test("pageRankFixedPoint: mass conserved up to floor loss; dangling sink handled") {
    val edges = Seq(("a", "b", 1L)) // b is a pure sink
    val r = runOp(edges, 3)
    assert(r.keySet == Set("a", "b"))
    assert(r == refRanks(Seq(("a", "b", 1L)), 3))
    // Each round floors at most a handful of units per node; total mass
    // stays within 10 units of scale on this 2-node graph.
    assert(math.abs(r.values.sum - Scale) <= 10L)
    assert(r("b") > r("a")) // the sink holds what it was fed
  }

  test("pageRankFixedPoint: layout-invariant and weight-sensitive") {
    val edges = (1L to 40L).flatMap(i =>
      Seq((s"u$i", s"h${i % 5}", i), (s"h${i % 5}", s"u${(i % 7) + 1}", 1L)))
    val one = runOp(edges, 3, parts = 1)
    val many = runOp(edges, 3, parts = 13)
    assert(one == many)
    assert(one == refRanks(edges, 3))
  }

  /** PPR reference: same recurrence with seed-restricted base/dangling. */
  private def refPpr(edges: Seq[(String, String, Long)], iters: Int,
                     seeds: Set[String]): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val nS = nodes.count(seeds).toLong
    val wout = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._3).sum }
    var r = nodes.map(v => v -> (if (seeds(v)) Scale / nS else 0L)).toMap
    val base = (15L * Scale) / (100L * nS)
    for (_ <- 1 to iters) {
      val d = nodes.filterNot(wout.contains).map(r).sum
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _, w) => (r(s) * w) / wout(s) }.sum
      }
      r = nodes.map(v => v ->
        ((if (seeds(v)) base else 0L) +
          (85L * (in.getOrElse(v, 0L) +
            (if (seeds(v)) d / nS else 0L))) / 100L)).toMap
    }
    r
  }

  test("personalizedPageRank: seed-restricted teleport matches reference; all-seeds reduces to uniform") {
    import spark.implicits._
    val edges = Seq(
      ("A", "X", 2L), ("A", "Y", 1L), ("B", "Y", 3L), ("B", "Z", 1L),
      ("X", "A", 1L)) // Y, Z dangle; A is both source and target
    val df = edges.toDF("src", "dst", "w")
    def run(pred: org.apache.spark.sql.Column): Map[String, Long] =
      graft.ops.Graph.personalizedPageRank(df, "src", "dst", "w", pred, 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Seeds = {A}: teleport mass flows only through A's out-edges.
    val seeded = run(col("node") === "A")
    assert(seeded == refPpr(edges, 3, Set("A")))
    // Z is reachable only from B, which holds no mass -> rank exactly 0.
    assert(seeded("Z") == 0L)
    assert(seeded("X") > 0L && seeded("A") > 0L)
    // seedPred true everywhere == the uniform variant, bit for bit.
    val uniform = graft.ops.Graph
      .pageRankFixedPoint(df, "src", "dst", "w", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run(lit(true)) == uniform)
    // Empty seed set fails loudly instead of dividing by zero.
    val ex = intercept[IllegalArgumentException] { run(lit(false)) }
    assert(ex.getMessage.contains("seed predicate"))
  }

  test("pageRankFixedPoint: empty edges -> empty ranks; overflow guard trips") {
    import spark.implicits._
    val empty = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    assert(Graph.pageRankFixedPoint(empty, "src", "dst", "w", 3).count() == 0L)
    val huge = Seq(("a", "b", Long.MaxValue / 1000L)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Graph.pageRankFixedPoint(huge, "src", "dst", "w", 1).collect()
    }
    assert(ex.getMessage.contains("pageRankFixedPoint") ||
      ex.getCause != null)
  }

  // ── triangle counting ──────────────────────────────────────────────────

  /** Brute-force per-node triangle counts over the canonicalized graph. */
  private def refTriangles(edges: Seq[(String, String)]): Map[String, Long] = {
    val und = edges.collect { case (a, b) if a != b =>
      (Seq(a, b).min, Seq(a, b).max)
    }.distinct
    val nodes = (und.map(_._1) ++ und.map(_._2)).distinct.sorted
    val es = und.toSet
    def conn(x: String, y: String) =
      es.contains((Seq(x, y).min, Seq(x, y).max))
    val tris = for {
      i <- nodes.indices
      j <- i + 1 until nodes.size
      k <- j + 1 until nodes.size
      if conn(nodes(i), nodes(j)) && conn(nodes(i), nodes(k)) &&
        conn(nodes(j), nodes(k))
    } yield Seq(nodes(i), nodes(j), nodes(k))
    val cnt = tris.flatten.groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    nodes.map(n => n -> cnt.getOrElse(n, 0L)).toMap
  }

  private def runTriangles(edges: Seq[(String, String)],
                           parts: Int = 3): Map[String, Long] = {
    import spark.implicits._
    val df = edges.toDF("a", "b").repartition(parts)
    Graph.triangleCounts(df, "a", "b")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("triangleCounts: K4, path, and messy input canonicalization") {
    // K4: every node sits on 3 of the 4 triangles.
    val k4 = for {
      a <- Seq("p", "q", "r", "s"); b <- Seq("p", "q", "r", "s")
      if a < b
    } yield (a, b)
    assert(runTriangles(k4) == Map("p" -> 3L, "q" -> 3L, "r" -> 3L, "s" -> 3L))
    // Path graph: no triangles, but every node present with count 0.
    assert(runTriangles(Seq(("a", "b"), ("b", "c"), ("c", "d"))) ==
      Map("a" -> 0L, "b" -> 0L, "c" -> 0L, "d" -> 0L))
    // Self-loops dropped, duplicates and reversed duplicates collapse:
    // still exactly the one (x,y,z) triangle.
    val messy = Seq(("x", "y"), ("y", "x"), ("x", "x"), ("y", "z"),
      ("z", "y"), ("x", "z"), ("x", "y"))
    assert(runTriangles(messy) == Map("x" -> 1L, "y" -> 1L, "z" -> 1L))
  }

  test("triangleCounts: matches brute force on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val nodes = (0 until 28).map(i => s"n$i")
    val edges = for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if rnd.nextDouble() < 0.25
    } yield (nodes(i), nodes(j))
    // feed the op a messy multiset: both directions + duplicates
    val messy = edges ++ edges.map(_.swap) ++ edges.take(30)
    val expected = refTriangles(edges)
    assert(runTriangles(messy, parts = 5) == expected)
    assert(runTriangles(messy, parts = 1) == expected,
      "layout must not change counts")
  }

  // ── label propagation ──────────────────────────────────────────────────

  private def runLp(edges: Seq[(String, String)], seeds: Seq[(String, String)],
                    iters: Int, parts: Int = 3): Map[String, String] = {
    import spark.implicits._
    val e = edges.toDF("a", "b").repartition(parts)
    val s = seeds.toDF("node", "lab")
    Graph.labelPropagation(e, "a", "b", s, "node", "lab", iters)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("labelPropagation: frontier advances one hop per synchronous round") {
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    val seeds = Seq(("a", "L"))
    assert(runLp(path, seeds, 0) ==
      Map("a" -> "L", "b" -> null, "c" -> null, "d" -> null))
    assert(runLp(path, seeds, 1) ==
      Map("a" -> "L", "b" -> "L", "c" -> null, "d" -> null))
    assert(runLp(path, seeds, 2) ==
      Map("a" -> "L", "b" -> "L", "c" -> "L", "d" -> null))
    assert(runLp(path, seeds, 3)("d") == "L")
  }

  test("labelPropagation: majority wins, ties to smallest label, seeds clamp") {
    // m's neighbors: x seeded B, y seeded A -> 1:1 tie -> "A".
    assert(runLp(Seq(("m", "x"), ("m", "y")),
      Seq(("x", "B"), ("y", "A")), 1)("m") == "A")
    // Majority: two "T" neighbors beat one "S" neighbor.
    val star = Seq(("c", "s1"), ("c", "t1"), ("c", "t2"))
    assert(runLp(star, Seq(("s1", "S"), ("t1", "T"), ("t2", "T")), 1)("c")
      == "T")
    // Clamping: a seed surrounded by the other label keeps its own.
    val r = runLp(star ++ Seq(("c", "t3")),
      Seq(("c", "S"), ("t1", "T"), ("t2", "T"), ("t3", "T")), 3)
    assert(r("c") == "S")
    // ...and its influence still votes: s1 sees only c -> "S".
    assert(r("s1") == "S")
  }

  test("labelPropagation: parallel/reversed edges vote once; layout-invariant") {
    // c--a triplicated both ways (label L), c--b and c--d single (label M):
    // dedup makes the vote L:1 vs M:2 -> M despite 6 raw L edge rows.
    val messy = Seq(("c", "a"), ("a", "c"), ("c", "a"), ("a", "c"),
      ("c", "a"), ("a", "c"), ("c", "b"), ("c", "d"))
    val seeds = Seq(("a", "L"), ("b", "M"), ("d", "M"))
    val exp = runLp(messy, seeds, 2, parts = 1)
    assert(exp("c") == "M")
    assert(runLp(messy, seeds, 2, parts = 7) == exp,
      "layout must not change labels")
  }

  // ── random walks ───────────────────────────────────────────────────────

  /** First 15 hex chars of md5 as a long — the engine's md5-60. */
  private def md560(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Independent driver-side replay of the documented hop rule. */
  private def refWalks(edges: Seq[(String, String)], walks: Int,
                       len: Int): Map[(String, Int), String] = {
    val und = edges.collect { case (a, b) if a != b =>
      (Seq(a, b).min, Seq(a, b).max)
    }.distinct
    val adjm = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2).distinct.sorted }
    (for {
      start <- adjm.keys.toSeq; r <- 0 until walks
    } yield {
      var cur = start
      var path = start
      for (t <- 0 until len) {
        val nbrs = adjm(cur)
        val idx = (md560(s"$start:$r:$t:$cur") % nbrs.size).toInt
        cur = nbrs(idx)
        path = path + " " + cur
      }
      (start, r) -> path
    }).toMap
  }

  test("randomWalks: every hop matches the documented md5 rule; layout-invariant") {
    val rnd = new scala.util.Random(11)
    val nodes = (0 until 20).map(i => s"v$i")
    val edges = (for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if rnd.nextDouble() < 0.3
    } yield (nodes(i), nodes(j))) :+ ("v0", "v1") // ensure connectivity base
    import spark.implicits._
    def run(parts: Int) = Graph.randomWalks(
        edges.toDF("a", "b").repartition(parts), "a", "b",
        walksPerNode = 2, walkLen = 4)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2))
      .toMap
    val got = run(3)
    assert(got == refWalks(edges, 2, 4))
    assert(run(1) == got, "layout must not change walks")
    // structural sanity: every consecutive pair is an edge of the graph
    val es = edges.map { case (a, b) => Set(a, b) }.toSet
    got.values.foreach { p =>
      p.split(" ").sliding(2).foreach(w =>
        assert(es.contains(Set(w(0), w(1))), s"non-edge hop in $p"))
    }
  }

  test("randomWalks: walkLen 0 returns the start; counts per node are exact") {
    import spark.implicits._
    val df = Seq(("a", "b"), ("b", "c")).toDF("a", "b")
    val r0 = Graph.randomWalks(df, "a", "b", walksPerNode = 3, walkLen = 0)
      .collect()
    assert(r0.length == 9) // 3 nodes x 3 walks
    assert(r0.forall(r => r.getString(2) == r.getString(0)))
  }

  // ── k-core ─────────────────────────────────────────────────────────────

  /** Reference peel-to-fixpoint. */
  private def refKCore(edges: Seq[(String, String)], k: Int): Map[String, Int] = {
    val und = edges.collect { case (a, b) if a != b =>
      (Seq(a, b).min, Seq(a, b).max)
    }.distinct
    var adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2).toSet }
    var done = false
    while (!done) {
      val drop = adj.collect { case (n, s) if s.size < k => n }.toSet
      if (drop.isEmpty) done = true
      else adj = adj.collect { case (n, s) if !drop(n) => n -> (s -- drop) }
    }
    adj.map { case (n, s) => n -> s.size }
  }

  private def runKCore(edges: Seq[(String, String)], k: Int,
                       parts: Int = 3): Map[String, Long] = {
    import spark.implicits._
    Graph.kCore(edges.toDF("a", "b").repartition(parts), "a", "b", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("kCore: cascading fringe peels to the true core; empty when none") {
    // Triangle (x,y,z) with a 3-node tail hanging off x: the tail peels
    // over THREE cascade rounds (t3 -> t2 -> t1), the triangle survives.
    val g = Seq(("x", "y"), ("y", "z"), ("x", "z"),
      ("x", "t1"), ("t1", "t2"), ("t2", "t3"))
    assert(runKCore(g, 2) == Map("x" -> 2L, "y" -> 2L, "z" -> 2L))
    // k=3: the triangle itself dies -> empty result.
    assert(runKCore(g, 3) == Map.empty[String, Long])
    // k=1 keeps everything (degrees recomputed within the core).
    assert(runKCore(g, 1).keySet ==
      Set("x", "y", "z", "t1", "t2", "t3"))
  }

  test("kCore: matches reference peeling on a seeded random graph") {
    val rnd = new scala.util.Random(23)
    val nodes = (0 until 40).map(i => s"k$i")
    val edges = for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if rnd.nextDouble() < 0.08
    } yield (nodes(i), nodes(j))
    for (k <- Seq(2, 3)) {
      val exp = refKCore(edges, k).map { case (n, d) => n -> d.toLong }
      assert(runKCore(edges, k) == exp, s"k=$k")
      assert(runKCore(edges, k, parts = 1) == exp, s"k=$k layout")
    }
  }

  // ── common neighbors ───────────────────────────────────────────────────

  test("commonNeighborPairs: exact counts under a high cap; hub cap excludes") {
    import spark.implicits._
    // square a-b-c-d-a plus diagonal-ish wing: a and c share {b, d}.
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    def run(maxDeg: Int, minCommon: Int) =
      Graph.commonNeighborPairs(g.toDF("x", "y"), "x", "y", maxDeg, minCommon)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    assert(run(10, 2) == Map(("a", "c") -> 2L, ("b", "d") -> 2L))
    // adjacent pairs (a,b) etc. share NO neighbors on a square — only the
    // two diagonals appear even at minCommon=1
    assert(run(10, 1) == Map(("a", "c") -> 2L, ("b", "d") -> 2L))
    // hub cap: center degree 2 everywhere; cap below it removes all wedges
    assert(run(1, 1).isEmpty)
  }

  // ── reliable checkpointDir ≡ localCheckpoint (the CC pattern) ──────────

  test("iterative loops: checkpointDir round storage is result-equal to localCheckpoint") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gckpt").toString
    val rnd = new scala.util.Random(31)
    val nodes = (0 until 25).map(i => s"c$i")
    val edges = (for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if rnd.nextDouble() < 0.2
    } yield (nodes(i), nodes(j))) :+ ("c0", "c1")
    val e = edges.toDF("a", "b")
    val w = e.select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))
    // checkpointEvery = 2 forces several reliable-round writes in 5 iters.
    def pr(ck: Option[String]) = Graph.pageRankFixedPoint(w, "src", "dst",
        "w", iters = 5, checkpointEvery = 2, checkpointDir = ck)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pr(Some(s"$dir/pr")) == pr(None))
    val seeds = Seq(("c0", "L"), ("c3", "M")).toDF("node", "lab")
    def lp(ck: Option[String]) = Graph.labelPropagation(e, "a", "b", seeds,
        "node", "lab", iters = 5, checkpointEvery = 2, checkpointDir = ck)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(lp(Some(s"$dir/lp")) == lp(None))
    def rw(ck: Option[String]) = Graph.randomWalks(e, "a", "b",
        walksPerNode = 2, walkLen = 5, checkpointEvery = 2,
        checkpointDir = ck)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(rw(Some(s"$dir/rw")) == rw(None))
    def kc(ck: Option[String]) = Graph.kCore(e, "a", "b", k = 2,
        checkpointDir = ck)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kc(Some(s"$dir/kc")) == kc(None))
    // The final rounds' files remain (the returned frames read them);
    // the directory is the caller's to delete — the CC contract.
    val left = new java.io.File(dir)
    assert(left.exists)
    org.apache.commons.io.FileUtils.deleteDirectory(left)
  }

  test("RoundStore instance salt: two loops sharing one checkpointDir do " +
      "not overwrite each other's round files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gshare").toString
    val rnd = new scala.util.Random(37)
    val nodes = (0 until 20).map(i => s"r$i")
    val w = ((for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if rnd.nextDouble() < 0.25
    } yield (nodes(i), nodes(j))) :+ ("r0", "r1"))
      .toDF("a", "b")
      .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))
    // SAME directory for both: the first result is consumed only AFTER
    // the second loop ran — before the per-instance path salt, the second
    // loop reused (overwrote, then deleted) the first loop's round files
    // and this collect read corrupt/absent parquet.
    val ck = Some(dir)
    val lazy1 = Graph.pageRankFixedPoint(w, "src", "dst", "w", iters = 5,
      checkpointEvery = 2, checkpointDir = ck)
    val r2 = Graph.pageRankFixedPoint(w, "src", "dst", "w", iters = 5,
        checkpointEvery = 2, checkpointDir = ck)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val r1 = lazy1.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val local = Graph.pageRankFixedPoint(w, "src", "dst", "w", iters = 5,
        checkpointEvery = 2, checkpointDir = None)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(r1 == local && r2 == local)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  // ── persisted graph spine (fit-once / serve-many) ──────────────────────

  test("graphIndex + *AgainstIndex: result-equal to the direct ops") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val nodes = (0 until 30).map(i => s"s$i")
    val base = for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if rnd.nextDouble() < 0.15
    } yield (nodes(i), nodes(j))
    // messy input: reversed duplicates + self loops the spine must collapse
    val messy = (base ++ base.map(_.swap) ++ Seq(("s0", "s0"))).toDF("a", "b")
    graft.ops.Graph.graphIndex(messy, "a", "b", "spine_spec", buckets = 4)
    try {
      // canonical undirected reference, doubled with unit weights
      val und = base.map { case (x, y) => (Seq(x, y).min, Seq(x, y).max) }
        .distinct
      val doubled = (und ++ und.map(_.swap)).map { case (s, d) => (s, d, 1L) }
        .toDF("src", "dst", "w")
      val prDirect = Graph.pageRankFixedPoint(doubled, "src", "dst", "w", 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val prIdx = Graph.pageRankAgainstIndex(spark, "spine_spec", iters = 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(prIdx == prDirect)
      val kcDirect = Graph.kCore(messy, "a", "b", k = 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val kcIdx = Graph.kCoreAgainstIndex(spark, "spine_spec", k = 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(kcIdx == kcDirect)
      val rwDirect = Graph.randomWalks(messy, "a", "b",
          walksPerNode = 2, walkLen = 3)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .toSet
      val rwIdx = Graph.randomWalksAgainstIndex(spark, "spine_spec",
          walksPerNode = 2, walkLen = 3)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .toSet
      assert(rwIdx == rwDirect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS spine_spec_edges")
      spark.sql("DROP TABLE IF EXISTS spine_spec_adj")
    }
  }

  test("graphIndexAppend: appended spine equals a full rebuild; dedup " +
      "against stored pairs; bucketing preserved") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val nodes = (0 until 40).map(i => s"n$i")
    val all = for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if rnd.nextDouble() < 0.12
    } yield (nodes(i), nodes(j))
    val (e1, e2) = all.splitAt(all.size / 2)
    // the crawl delta re-sees old pairs (some reversed) and a self loop —
    // the append must add ONLY the genuinely new canonical pairs
    val delta = (e2 ++ e1.take(5).map(_.swap) ++ Seq(("n1", "n1")))
      .toDF("a", "b")
    graft.ops.Graph.graphIndex(e1.toDF("a", "b"), "a", "b", "spine_app",
      buckets = 4)
    graft.ops.Graph.graphIndex(all.toDF("a", "b"), "a", "b", "spine_full",
      buckets = 4)
    try {
      graft.ops.Graph.graphIndexAppend(spark, delta, "a", "b", "spine_app")
      def pairs(t: String) = spark.table(t).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val app = pairs("spine_app_edges")
      assert(app.length == app.distinct.length, "duplicate stored pairs")
      assert(app.toSet == pairs("spine_full_edges").toSet)
      assert(pairs("spine_app_adj").toSet == pairs("spine_full_adj").toSet)
      // served results are a pure function of the stored edge set
      def pr(t: String) = Graph.pageRankAgainstIndex(spark, t, iters = 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(pr("spine_app") == pr("spine_full"))
      def kc(t: String) = Graph.kCoreAgainstIndex(spark, t, k = 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(kc("spine_app") == kc("spine_full"))
      def rw(t: String) = Graph.randomWalksAgainstIndex(spark, t,
          walksPerNode = 2, walkLen = 3)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .toSet
      assert(rw("spine_app") == rw("spine_full"))
      // a second append of an ALREADY-SEEN delta is a no-op on the set
      graft.ops.Graph.graphIndexAppend(spark, delta, "a", "b", "spine_app")
      val again = pairs("spine_app_edges")
      assert(again.length == again.distinct.length &&
        again.toSet == app.toSet, "re-appending a seen delta changed the spine")
      // the appended (multi-fileset) adjacency still carries its bucket
      // spec: a groupBy on the bucket key plans with NO exchange
      val plan = spark.table("spine_app_adj").groupBy("node").count()
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(600))
    } finally {
      for (t <- Seq("spine_app_edges", "spine_app_adj",
          "spine_full_edges", "spine_full_adj"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  // ── q115 oracle peel-margin guard ──────────────────────────────────────

  test("q115 fixture: observed peel depth stays ≤ 14 (oracle unrolls 16)") {
    // The q115 DuckDB oracle unrolls a HARD-CODED 16 peels; peeling a
    // fixpoint is the identity, so over-unrolling is harmless — but only
    // while the fixture's cascade depth stays under the unroll. This guard
    // measures the depth with an independent driver-side synchronous peel
    // (drop ALL sub-k nodes each round, exactly the round the unrolled SQL
    // replays) and fails LOUDLY at depth > 14, keeping a 2-round margin.
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists)
    val edges = graft.queries.AnalyticsQueries.coPurchaseW2(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    var adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2).toSet }
    var depth = 0
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, s) if s.size < 3 => n }.toSet
      changed = drop.nonEmpty
      if (changed) {
        adj = adj.collect { case (n, s) if !drop(n) => n -> (s -- drop) }
        depth += 1
      }
    }
    assert(depth <= 14,
      s"q115 fixture peel depth $depth eats the oracle's 16-peel unroll " +
        "margin — raise KCoreOracleSql's unroll before this silently breaks")
  }

  test("triangleCounts: hub node — orientation keeps the hub wedge-free") {
    // Star hub h--l0..l59 plus one triangle (h, l0, l1): the hub's high
    // degree orients all its edges inward, so wedges centered at h are
    // impossible; the triangle is still found from its lowest-order corner.
    val star = (0 until 60).map(i => ("h", s"l$i"))
    val r = runTriangles(star :+ ("l0", "l1"))
    assert(r("h") == 1L && r("l0") == 1L && r("l1") == 1L)
    assert(r("l59") == 0L && r.size == 61)
  }
}
