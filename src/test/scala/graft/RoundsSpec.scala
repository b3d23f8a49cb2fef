package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Caches
import graft.ops.Graph

/** Plan shape of the iterative ops: a round that the next round reads
  * twice is computed once. Work is counted as stages completed while the
  * result is built and fully written to the `noop` sink, so a subtree run
  * twice counts twice; with every round computed once, the count grows
  * linearly in the rounds (before the first truncation, at the default
  * cadence of 8), not as 2ᵏ. */
class RoundsSpec extends SparkSpec {

  /** Stages completed while `df` is built and written to the noop sink,
    * starting from an empty cache so no earlier run's pin is reused. */
  private def stages(df: => DataFrame): Int = {
    val sc = spark.sparkContext
    Caches.release()
    spark.sharedState.cacheManager.clearCache()
    val done = new AtomicInteger
    val counter = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        done.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try {
      df.write.format("noop").mode("overwrite").save()
      ListenerBusDrain(sc)
      done.get
    } finally {
      sc.removeSparkListener(counter)
      Caches.release()
    }
  }

  private lazy val edges = {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val nodes = (0 until 30).map(i => s"n$i")
    (for {
      i <- nodes.indices; j <- nodes.indices
      if i != j && rnd.nextDouble() < 0.08
    } yield (nodes(i), nodes(j))).toDF("a", "b")
  }
  private def weighted =
    edges.select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))

  private val ops: Seq[(String, Int => DataFrame)] = Seq(
    "pageRankFixedPoint" -> (k =>
      Graph.pageRankFixedPoint(weighted, "src", "dst", "w", iters = k)),
    "personalizedPageRank" -> (k =>
      Graph.personalizedPageRank(weighted, "src", "dst", "w",
        col("node") < "n2", iters = k)),
    "labelPropagation" -> { k =>
      import spark.implicits._
      Graph.labelPropagation(edges, "a", "b",
        Seq(("n0", "L"), ("n7", "M")).toDF("node", "lab"), "node", "lab",
        iters = k)
    })

  for ((name, run) <- ops)
    test(s"$name: work is linear in the rounds before the first truncation") {
      val s = (1 to 5).map(k => stages(run(k)))
      info(s"stages by rounds 1..5: ${s.mkString(", ")}")
      val perRound = s(1) - s(0)
      assert(perRound > 0, s"stages by rounds 1..5: ${s.mkString(", ")}")
      assert(s(4) <= s(0) + 4 * perRound,
        s"stages by rounds 1..5: ${s.mkString(", ")} — more than " +
          s"$perRound per round")
    }

  test("q97_pagerank at its 3 rounds: no round's stages run twice") {
    val d = "/root/testdata/sf0.001"
    // q97 is PageRank over the shared customer→supplier edge frame; the
    // same call at 1 and 2 rounds calibrates the per-round stage count.
    graft.queries.SharedFrames.custSuppEdges(spark, d) // built once, outside the counts
    def pr(k: Int) = Graph.pageRankFixedPoint(
        graft.queries.SharedFrames.custSuppEdges(spark, d), "src", "dst", "w",
        iters = k)
      .orderBy("node")
    val (s1, s2) = (stages(pr(1)), stages(pr(2)))
    val q97 = stages(SparkEntry.queries("q97_pagerank")(spark, d))
    assert(q97 <= s1 + 2 * (s2 - s1),
      s"q97 ran $q97 stages; 1 round runs $s1 and 2 rounds $s2")
  }
}
