package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Same-host A/B micro-bench for a named query subset (round-19 bisect
  * tool). The round-18 verdict left the shingle/Jaccard dedup family
  * `weak`: every r18 run measured it ~1.8-2.6x slower than r17's archived
  * record on UNTOUCHED operator code, while the frozen-plan q01 control
  * moved only ~1.35x — indistinguishable between host drift and a session-
  * level regression from the bench archive alone (r17 rows carry no host
  * canary). This main re-measures ONLY the named queries with Bench's
  * isolation discipline (cache clear + blocking unpersist + GC + settle,
  * one warm run, median of 3), brackets the sweep with the same CPU-bound
  * canary kernel, and appends one JSON line to `ab_bench.jsonl` tagged
  * with a caller-supplied label (e.g. "r17@1ddae47" / "r18-head"). Running
  * it back-to-back from an r17 worktree and from HEAD on the SAME host is
  * the controlled experiment the verdict asked for.
  *
  * Usage: runMain graft.AbBench <label> <q1,q2,...> [sfDir] [outFile]
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AbBench <label> <q1,q2,...> [sfDir] [outFile]")
    val label = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Anchored like Bench's outputs: SPARK_GRAFT_REPO_DIR, not a hardcoded
    // path — an A/B run under a relocated repo must append its evidence
    // line to the SAME archive the bench writes (r19 advisory).
    val outFile = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", "/root/repo") + "/ab_bench.jsonl"
    val reps = 3

    val spark = GraftSession.build(32, "graft-ab-bench", Map(
      "spark.memory.storageFraction" -> "0.1",
      "spark.cleaner.referenceTracking.blocking.shuffle" -> "true"))
    spark.sparkContext.setLogLevel("WARN")

    val queries = SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    // Warm the session once (codegen/JIT/scan machinery).
    SparkEntry.entry(spark).count()

    def isolate(): Unit = {
      graft.core.Caches.release()
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(200)
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

    // The SAME kernel Bench's host canary uses — shared via [[HostCanary]]
    // so the two can never drift (canary comparability across processes
    // and checkouts is the experiment's foundation). NOTE: an A/B against
    // a pre-r19 checkout runs that tree's inlined copy of the identical
    // kernel; the shared object exists so future tunings stay in lockstep.
    def canary(): (Long, Long) = HostCanary.measure(32)

    val (c0s, c0p) = canary()
    val results = names.map { name =>
      val fn = queries(name)
      def run(): Double = {
        isolate()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm (cold) — discarded from the median like Bench's
      val runs = (1 to reps).map(_ => run())
      val med = median(runs)
      System.err.println(f"[ab] $name: med=$med%.2fs runs=${runs.map(r => f"$r%.2f").mkString(",")}")
      name -> (med, runs)
    }
    val (c1s, c1p) = canary()

    // Caller-supplied strings must not corrupt the jsonl archive — a
    // quote/backslash in a label would invalidate the evidence line.
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, (m, _)) => "\"" + k + "\":" + m }.mkString("{", ",", "}")
    val qr = results.map { case (k, (_, rs)) => "\"" + k + "\":" + rs.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val line =
      s"""{"label":${jstr(label)},"total":$total,"queries":$qs,"runs":$qr,""" +
        s""""canary_single_ms":[$c0s,$c1s],"canary_par_ms":[$c0p,$c1p],"sf":${jstr(sfDir)}}"""
    Files.writeString(Paths.get(outFile), line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(line)
    Console.out.flush()
  }
}
