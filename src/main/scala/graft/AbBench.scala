package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Same-host A/B micro-bench for a named query subset. Re-measures ONLY
  * the named queries with Bench's [[Harness]] (isolation, one warm run,
  * median of 3), brackets the sweep with the same CPU-bound canary kernel,
  * and appends one JSON line to `ab_bench.jsonl` tagged with a
  * caller-supplied label (e.g. "base@1ddae47" / "head"). Running it
  * back-to-back from two checkouts on the SAME host separates a code
  * regression from host drift, which archived bench records cannot.
  *
  * Usage: runMain graft.AbBench <label> <q1,q2,...> [sfDir] [outFile]
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AbBench <label> <q1,q2,...> [sfDir] [outFile]")
    val label = args(0)
    val queries = Harness.select(args(1))
    val sfDir = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Anchored like Bench's outputs, so an A/B run under a relocated repo
    // appends its evidence line to the SAME archive the bench writes.
    val outFile = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", "/root/repo") + "/ab_bench.jsonl"
    val reps = 3

    val spark = Harness.benchSession("graft-ab-bench")
    val metrics = Harness.TaskMetrics.on(spark)
    val (c0s, c0p) = HostCanary.measure(Harness.cpus)
    val results = queries.toSeq.map { case (name, fn) =>
      def run(): Double = Harness.timedRun(spark, metrics, name, fn, sfDir)._1
      run() // cold — discarded from the median like Bench's
      val runs = Seq.fill(reps)(run())
      val med = Harness.median(runs)
      System.err.println(f"[ab] $name: med=$med%.2fs runs=${runs.map(r => f"$r%.2f").mkString(",")}")
      (name, med, runs)
    }
    val (c1s, c1p) = HostCanary.measure(Harness.cpus)

    def jobj(f: ((String, Double, Seq[Double])) => String) =
      results.map(r => Harness.jsonString(r._1) + ":" + f(r)).mkString("{", ",", "}")
    val line =
      s"""{"label":${Harness.jsonString(label)},"total":${results.map(_._2).sum},""" +
        s""""queries":${jobj(_._2.toString)},"runs":${jobj(_._3.mkString("[", ",", "]"))},""" +
        s""""canary_single_ms":[$c0s,$c1s],"canary_par_ms":[$c0p,$c1p],"sf":${Harness.jsonString(sfDir)}}"""
    Files.writeString(Paths.get(outFile), line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(line)
    Console.out.flush()
  }
}
